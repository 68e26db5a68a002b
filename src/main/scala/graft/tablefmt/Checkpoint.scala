package graft.tablefmt

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, Encoder, Encoders, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.IntegerType
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.concurrent.Await
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

/** Checkpointed, resumable table writes with per-unit lineage
  * (SURVEY.md §7.5; north_rule: "resumable from checkpoint with
  * per-partition lineage + metrics"; deviation D5: no Iceberg jar in this
  * sandbox, so the Iceberg contract — partitioned data files + a commit
  * manifest consulted on restart — is emulated over Parquet).
  *
  * Layout:
  * {{{
  *   out/data/part_bucket=K/    (parquet files; one directory per commit
  *                               unit, moved in from _output)
  *   out/_manifest/part-K.json  (sealed AFTER unit K's directory move)
  *   out/_staged/part_bucket=K/ (bucketed input staging, rebalanced to
  *                               about one file per advisory-size chunk)
  *   out/_output/part_bucket=K/ (the one transform write, partitioned by
  *                               bucket; _staged and _output are removed
  *                               once every planned unit commits)
  * }}}
  *
  * The input is split into `buckets` commit units by a stable hash of the
  * row key. The transform runs ONCE per call over every uncommitted unit,
  * as one partitioned write; each unit then commits with no Spark job: its
  * output directory is moved into `data/` and its manifest is sealed with
  * a temp-file + atomic-rename protocol. A killed run therefore leaves
  * only fully-committed units' manifests; [[resume]] recomputes exactly
  * the uncommitted units (a unit directory moved in but never sealed is
  * deleted before its replacement moves in).
  *
  * Scale note: the unit count sets neither the job count nor the
  * parallelism (the one write fans out over every executor); it sets what
  * a rerun skips. A run killed before its transform write finishes keeps
  * only the units earlier runs sealed; one killed in the commit loop
  * keeps every unit it sealed.
  */
object Checkpoint {

  final case class UnitManifest(
      bucket: Int,
      inputFingerprint: Long,
      nInput: Long,
      nOutput: Long,
      wallMs: Long,
      attempt: Int,
      status: String,
      keyCol: String = "",
      buckets: Int = 0)

  final case class WriteReport(unitsPlanned: Seq[Int], unitsSkipped: Seq[Int],
                               unitsCommitted: Seq[Int])

  def bucketOf(keyCol: String, buckets: Int) =
    pmod(xxhash64(col(keyCol)), lit(buckets)).cast("int")

  private def manifestDir(out: String): Path = Paths.get(out, "_manifest")

  def committedUnits(out: String): Set[Int] = {
    val dir = manifestDir(out)
    if (!Files.isDirectory(dir)) return Set.empty
    Files.list(dir).iterator().asScala
      .map(_.getFileName.toString)
      .collect { case s if s.startsWith("part-") && s.endsWith(".json") =>
        s.stripPrefix("part-").stripSuffix(".json").toInt
      }
      .toSet
  }

  private val mapper = new ObjectMapper() // thread-safe once configured

  def readManifests(out: String): Seq[UnitManifest] = {
    committedUnits(out).toSeq.sorted.map { k =>
      val n = mapper.readTree(manifestDir(out).resolve(s"part-$k.json").toFile)
      UnitManifest(n.get("bucket").asInt(), n.get("input_fingerprint").asLong(),
        n.get("n_input").asLong(), n.get("n_output").asLong(),
        n.get("wall_ms").asLong(), n.get("attempt").asInt(),
        n.get("status").asText(),
        // older manifests carry no key_col / buckets — "" and 0 = unknown
        // (checks skip)
        Option(n.get("key_col")).map(_.asText).getOrElse(""),
        Option(n.get("buckets")).map(_.asInt).getOrElse(0))
    }
  }

  /** Thrown when an operation's declared key column contradicts the key
    * the table's committed units record — an IllegalArgumentException so
    * library callers keep their existing handling, but typed so the CLI
    * can surface it as the usage error it is (exit 2, no stack trace).
    */
  final class KeyingMismatch(msg: String) extends IllegalArgumentException(msg)

  /** (committed-unit count, recorded key columns). Distinguishes the two
    * empty-keyCols cases a bare column set conflates: count == 0 means no
    * committed units (nothing to audit), count > 0 with empty keyCols
    * means the manifests predate key_col recording — the keying is
    * UNKNOWN, which callers that GUESS a key (CLI debug) must refuse
    * rather than audit under a default.
    */
  def recordedKeying(out: String): (Int, Set[String]) = {
    val ms = readManifests(out)
    (ms.size, ms.map(_.keyCol).filter(_.nonEmpty).toSet)
  }

  /** A fingerprint audit or a resume against a table whose committed
    * units were bucketed by a DIFFERENT key or into a DIFFERENT number of
    * buckets is meaningless (the slices differ) — fail with the real story
    * instead of a spurious drift report / a silently-forked table (ADVICE
    * r6). Re-slicing duplicates rows: under 8 buckets, units 4-7 hold rows
    * that 4-bucket units 0-3 already committed. Manifests that predate
    * key_col or buckets recording skip that check (the caller asserts it,
    * and refusing would block legitimate resumes of older tables —
    * ResumeSpec pins the skip).
    */
  def requireSameKeying(out: String, keyCol: String, buckets: Int): Unit = {
    val ms = readManifests(out)
    val keys = ms.map(_.keyCol).filter(_.nonEmpty).toSet
    if (keys.nonEmpty && keys != Set(keyCol))
      throw new KeyingMismatch(
        s"table at $out is keyed by '${keys.mkString(",")}' but this " +
          s"operation uses key '$keyCol' — not input drift; run it via " +
          "the verb/keying that wrote the table")
    val counts = ms.map(_.buckets).filter(_ > 0).toSet
    if (counts.nonEmpty && counts != Set(buckets))
      throw new KeyingMismatch(
        s"table at $out is split into ${counts.mkString(",")} buckets but " +
          s"this operation uses $buckets — a different count re-slices the " +
          "committed rows; use the table's bucket count")
  }

  private def sealManifest(out: String, m: UnitManifest): Unit = {
    Files.createDirectories(manifestDir(out))
    // the mapper escapes string fields: a key column named with `"` or `\`
    // must still seal a readable manifest
    val json = mapper.writeValueAsString(mapper.createObjectNode()
      .put("bucket", m.bucket).put("input_fingerprint", m.inputFingerprint)
      .put("n_input", m.nInput).put("n_output", m.nOutput)
      .put("wall_ms", m.wallMs).put("attempt", m.attempt)
      .put("status", m.status).put("key_col", m.keyCol)
      .put("buckets", m.buckets))
    val tmp = manifestDir(out).resolve(s".part-${m.bucket}.json.tmp")
    Files.writeString(tmp, json)
    Files.move(tmp, manifestDir(out).resolve(s"part-${m.bucket}.json"),
      StandardCopyOption.ATOMIC_MOVE) // seal = atomic rename
  }

  private def deleteRecursively(dir: Path): Unit =
    if (Files.exists(dir)) {
      val walk = Files.walk(dir) // close the stream: it holds directory fds
      try walk.sorted(java.util.Comparator.reverseOrder())
        .iterator().asScala.foreach(Files.delete)
      finally walk.close()
    }

  /** Write `transform(input)` as a checkpointed table, skipping committed
    * units. `input` must contain `keyCol`. `transform` must be
    * BUCKET-LOCAL: it receives the staged rows with their `part_bucket`
    * column and must return rows that keep it, each output row depending
    * only on input rows of its own bucket (true of any transform that is
    * row-wise or aggregates by `keyCol`).
    *
    * Scan protocol (VERDICT r3 item 1): the uncommitted slices are STAGED
    * once — one full input scan plus one rebalance exchange on
    * `part_bucket`, bucketed into `part_bucket=K` partition directories
    * under `$out/_staged`. The exchange lets AQE coalesce small buckets
    * and split skewed ones to the advisory partition size, so a bucket
    * stages as about one file per advisory-size chunk instead of one file
    * per input partition (the file count follows the data size, not the
    * input's partitioning). The per-unit lineage fingerprints (`n_input`,
    * `input_fingerprint`) come from an observation on the staging write
    * itself: a per-bucket aggregate with an O(buckets) buffer, placed
    * after the rebalance so it runs in the write's result stage. A fresh
    * run therefore scans the input exactly once (ResumeSpec asserts this
    * with an input-side accumulator).
    *
    * The transform then runs ONCE over the staged rows, written with
    * `partitionBy("part_bucket")` to `$out/_output`; each unit's
    * `n_output` comes from the same kind of observation on that write. No
    * pass re-reads the staged keys or the output; only a staging plan
    * folded to an empty relation, which reports no metrics, recounts the
    * staged keys. Committing a
    * unit is then two renames: its `_output` directory into `data/`, and
    * its manifest into `_manifest/`. Both transient directories are
    * cleared at the start of every call and removed once every planned
    * unit commits; the next resume() after a kill re-stages the
    * still-uncommitted buckets from the CURRENT input (committed units
    * are protected by their sealed manifests, and [[validateCommitted]]
    * remains the opt-in drift audit).
    *
    * Rows round-trip through parquet during staging; input column types
    * must be parquet-representable (true for every source this engine
    * reads — parquet/Iceberg tables in, parquet out).
    *
    * @param failAtUnit test-only failpoint: throw before committing this
    *                   unit (simulates a killed spark-submit)
    */
  def resume(spark: SparkSession, input: DataFrame, keyCol: String,
             transform: DataFrame => DataFrame, out: String, buckets: Int,
             failAtUnit: Option[Int] = None): WriteReport = {
    requireSameKeying(out, keyCol, buckets)
    val done = committedUnits(out)
    val planned = (0 until buckets).filterNot(done)
    val stagedDir = Paths.get(out, "_staged")
    val outputDir = Paths.get(out, "_output")
    // Clear transient directories FIRST — a bucket that became empty in
    // the current input must not keep a stale directory from a crashed
    // run and commit rows that no longer exist. With everything committed
    // this also reaps what a crash after the last seal left behind.
    deleteRecursively(stagedDir)
    deleteRecursively(outputDir)
    if (planned.isEmpty) return WriteReport(planned, done.toSeq.sorted, Nil)

    // stage the uncommitted slices: the ONE full input scan of this call
    val stagedFps = Observation()
    input.withColumn("part_bucket", bucketOf(keyCol, buckets))
      .filter(col("part_bucket").isin(planned: _*))
      .hint("rebalance", col("part_bucket"))
      // after the exchange: the metric is computed in the write's result
      // stage, whose task updates Spark applies once
      .observe(stagedFps, unitFingerprints(buckets)(
        col("part_bucket"), xxhash64(col(keyCol))).as("fp"))
      .write.mode(SaveMode.Overwrite)
      .partitionBy("part_bucket")
      .parquet(stagedDir.toString)
    // explicit schema: empty slices leave no files to infer from, and the
    // partition column must come back as int, not inferred
    val staged = spark.read.schema(input.schema.add("part_bucket", IntegerType))
      .parquet(stagedDir.toString)

    // the ONE transform write; observed on the OUTPUT side, since an
    // observation under the transform is pruned when the transform folds
    // to an empty relation
    val t0 = System.nanoTime()
    val outRows = transform(staged)
    require(outRows.columns.contains("part_bucket"),
      "resume's transform must be bucket-local: its output must keep the " +
        s"part_bucket column of its input rows (got ${outRows.columns.mkString(", ")})")
    val outputCounts = Observation()
    outRows
      .observe(outputCounts, unitFingerprints(buckets)(col("part_bucket"), lit(0L)).as("n"))
      .write.mode(SaveMode.Overwrite)
      .partitionBy("part_bucket")
      .parquet(outputDir.toString)

    // per-unit lineage fingerprints: bucket -> (rows, XOR of key hashes —
    // order/partition independent, overflow-free). A staging plan the
    // optimizer folded to an empty relation reports no metrics (an empty
    // row): recount the staged slices instead. The metrics arrive through
    // the listener bus; bounded, so a lost event fails the run (nothing
    // sealed, recomputed on resume) instead of hanging it.
    val fps = Await.result(stagedFps.future, ObservationTimeout)
    val fp: Int => (Long, Long) =
      if (fps.length == 0) { val m = fingerprintPass(staged, keyCol); k => m.getOrElse(k, (0L, 0L)) }
      else { val acc = fps.getSeq[Long](0); k => (acc(2 * k), acc(2 * k + 1)) }
    val nOutput = Await.result(outputCounts.future, ObservationTimeout).getSeq[Long](0)

    // a unit with no output rows has no directory: it commits one empty
    // parquet file with the output schema (what a zero-row write leaves),
    // so a table whose units are all empty still reads back as zero rows
    val emptyFile = planned.find(k => !Files.isDirectory(outputDir.resolve(s"part_bucket=$k"))).map { _ =>
      val dir = outputDir.resolve("_empty")
      outRows.drop("part_bucket").limit(0).write.parquet(dir.toString)
      val ls = Files.list(dir)
      try ls.iterator().asScala.find(_.getFileName.toString.endsWith(".parquet")).get
      finally ls.close()
    }

    // commit in bucket order: no Spark job from here on
    Files.createDirectories(Paths.get(out, "data"))
    for (k <- planned) {
      if (failAtUnit.contains(k))
        throw new RuntimeException(s"failpoint: killed before unit $k")
      val unitDir = Paths.get(out, "data", s"part_bucket=$k")
      // only ever an UNSEALED directory (sealed units are not planned):
      // what a crash between a previous move and its seal left behind
      deleteRecursively(unitDir)
      val written = outputDir.resolve(s"part_bucket=$k")
      if (Files.isDirectory(written)) Files.move(written, unitDir, StandardCopyOption.ATOMIC_MOVE)
      else emptyFile.foreach(f => Files.copy(f, Files.createDirectory(unitDir).resolve(f.getFileName)))
      val (nInput, fpxor) = fp(k)
      // wall_ms runs from the transform write's start to this unit's
      // seal; committed manifests are never re-attempted
      sealManifest(out, UnitManifest(k, fpxor, nInput, nOutput(2 * k),
        (System.nanoTime() - t0) / 1000000, 1, "committed", keyCol, buckets))
    }
    deleteRecursively(stagedDir) // every planned unit committed
    deleteRecursively(outputDir)
    WriteReport(planned, done.toSeq.sorted, planned)
  }

  private val ObservationTimeout = 5.minutes

  /** bucket -> (rows, XOR of key hashes) over `df`'s `part_bucket`
    * column (derived by [[bucketOf]], so never NULL): one keyCol-only
    * columnar pass collected to O(buckets) driver rows.
    */
  private def fingerprintPass(df: DataFrame, keyCol: String): Map[Int, (Long, Long)] =
    df.groupBy(col("part_bucket"))
      .agg(count(lit(1)), coalesce(bit_xor(xxhash64(col(keyCol))), lit(0L)))
      .collect()
      .map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2)))).toMap

  /** (bucket, key hash) -> one array holding (rows, XOR of key hashes) at
    * indices (2k, 2k+1) for every bucket k in [0, buckets): the staging
    * write's [[fingerprintPass]], as an aggregate an Observation can
    * carry (with a zero hash, the output write's per-unit row count). The
    * buffer is O(buckets) whatever the row count.
    */
  private final class UnitFingerprints(buckets: Int)
      extends Aggregator[(Int, Long), Array[Long], Array[Long]] {
    def zero: Array[Long] = new Array[Long](2 * buckets)
    def reduce(acc: Array[Long], row: (Int, Long)): Array[Long] = {
      acc(2 * row._1) += 1L
      acc(2 * row._1 + 1) ^= row._2
      acc
    }
    def merge(a: Array[Long], b: Array[Long]): Array[Long] = {
      var k = 0
      while (k < buckets) {
        a(2 * k) += b(2 * k)
        a(2 * k + 1) ^= b(2 * k + 1)
        k += 1
      }
      a
    }
    def finish(acc: Array[Long]): Array[Long] = acc
    def bufferEncoder: Encoder[Array[Long]] = ExpressionEncoder[Array[Long]]()
    def outputEncoder: Encoder[Array[Long]] = ExpressionEncoder[Array[Long]]()
  }

  private def unitFingerprints(buckets: Int) =
    udaf(new UnitFingerprints(buckets), Encoders.tuple(Encoders.scalaInt, Encoders.scalaLong))

  /** Lineage audit: recompute each committed unit's input fingerprint and
    * compare against its sealed manifest — detects input drift between a
    * kill and a resume (a unit whose input changed would silently keep
    * stale output otherwise). Opt-in: costs one scan of the input.
    * Returns the buckets whose fingerprints no longer match.
    */
  def validateCommitted(spark: SparkSession, input: DataFrame, keyCol: String,
                        out: String, buckets: Int): Seq[Int] = {
    requireSameKeying(out, keyCol, buckets)
    val manifests = readManifests(out).map(m => m.bucket -> m).toMap
    if (manifests.isEmpty) return Seq.empty
    val current = fingerprintPass(input
      .withColumn("part_bucket", bucketOf(keyCol, buckets))
      .filter(col("part_bucket").isin(manifests.keys.toSeq: _*)), keyCol)
    manifests.collect {
      // a bucket absent from the groupBy means its input slice is now
      // empty — compare as (0, 0), not "always drifted" (Option.forall
      // on None was a false positive for legitimately-empty units)
      case (k, m) if {
        val (n, fp) = current.getOrElse(k, (0L, 0L))
        n != m.nInput || fp != m.inputFingerprint
      } => k
    }.toSeq.sorted
  }

  /** The committed table (only data under sealed manifests). */
  def readCommitted(spark: SparkSession, out: String): DataFrame = {
    val done = committedUnits(out)
    spark.read.parquet(s"$out/data")
      .filter(col("part_bucket").isin(done.toSeq: _*))
  }
}
