package graft.tablefmt

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, Encoder, Encoders, Observation, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.concurrent.{Callable, Executors}
import java.util.concurrent.atomic.AtomicReference
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
  *   out/data/part_bucket=K/  (parquet files; one directory per commit unit,
  *                             about one file per advisory-size chunk)
  *   out/_manifest/part-K.json  (sealed AFTER unit K's data commit)
  *   out/_staged/part_bucket=K/ (bucketed input staging, rebalanced to
  *                             about one file per advisory-size chunk;
  *                             removed on success)
  * }}}
  *
  * The input is split into `buckets` commit units by a stable hash of the
  * row key. Each unit is one Spark job (internally parallel over all
  * executors) that also counts its own output rows through an
  * [[org.apache.spark.sql.Observation]]; its manifest is sealed only
  * after the job succeeds, with a
  * temp-file + atomic-rename protocol. A killed run therefore leaves only
  * fully-committed units' manifests; [[resume]] recomputes exactly the
  * uncommitted units (dynamic partition overwrite scrubs any torn files
  * from the killed attempt).
  *
  * Scale note: commit-unit count is a granularity knob, not a parallelism
  * bound — each unit's job fans out over every executor. At 10^12 docs
  * you pick O(100-1000) units so a restart loses ≤ 0.1-1% of work, while
  * each unit is still a full-cluster job.
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
      keyCol: String = "")

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
        // pre-r7 manifests carry no key_col — "" = unknown (checks skip)
        Option(n.get("key_col")).map(_.asText).getOrElse(""))
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

  /** The key column the table's committed units were bucketed by, when
    * recorded (r7+ manifests). Empty set = no committed units or pre-r7
    * manifests.
    */
  def recordedKeyCols(out: String): Set[String] = recordedKeying(out)._2

  /** A fingerprint audit or a resume against a table whose committed
    * units were bucketed by a DIFFERENT key is meaningless (every bucket
    * hash differs) — fail with the real story instead of a spurious
    * drift report / a silently-forked table (ADVICE r6). Pre-key_col
    * manifests record no key: the check SKIPS (the caller asserts the
    * key, and refusing would block legitimate same-keyed resumes of
    * older tables — ResumeSpec pins the skip).
    */
  def requireSameKeying(out: String, keyCol: String): Unit = {
    val recorded = recordedKeyCols(out)
    if (recorded.nonEmpty && recorded != Set(keyCol))
      throw new KeyingMismatch(
        s"table at $out is keyed by '${recorded.mkString(",")}' but this " +
          s"operation uses key '$keyCol' — not input drift; run it via " +
          "the verb/keying that wrote the table")
  }

  private def sealManifest(out: String, m: UnitManifest): Unit = {
    Files.createDirectories(manifestDir(out))
    // the mapper escapes string fields: a key column named with `"` or `\`
    // must still seal a readable manifest
    val json = mapper.writeValueAsString(mapper.createObjectNode()
      .put("bucket", m.bucket).put("input_fingerprint", m.inputFingerprint)
      .put("n_input", m.nInput).put("n_output", m.nOutput)
      .put("wall_ms", m.wallMs).put("attempt", m.attempt)
      .put("status", m.status).put("key_col", m.keyCol))
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

  /** Write `transform(input-slice)` per commit unit, skipping committed
    * units. `input` must contain `keyCol`; `transform` maps a unit's rows
    * to the output rows for that unit.
    *
    * Scan protocol (VERDICT r3 item 1): the uncommitted slices are STAGED
    * once — one full input scan plus one rebalance exchange on
    * `part_bucket`, bucketed into `part_bucket=K` partition directories
    * under `$out/_staged` — so every per-unit read below is a
    * partition-pruned directory read. The exchange lets AQE coalesce small
    * buckets and split skewed ones to the advisory partition size, so a
    * bucket stages as about one file per advisory-size chunk instead of
    * one file per input partition (the file count follows the data size,
    * not the input's partitioning). The per-unit lineage fingerprints
    * (`n_input`, `input_fingerprint`) come from an observation on the
    * staging write itself: a per-bucket aggregate with an O(buckets)
    * buffer, placed after the rebalance so it runs in the write's result
    * stage. No pass re-reads the staged keys; only a plan folded to an
    * empty relation, which reports no metrics, recounts them. Each unit's
    * `n_output` comes from an observation on its own write job, so no
    * unit reads its output back either. A fresh N-bucket
    * run therefore scans the input exactly once (ResumeSpec asserts this
    * with an input-side accumulator); the previous form filtered the
    * un-staged input on the DERIVED bucket column per unit — no pruning
    * possible — costing 2·buckets full scans, which at the documented
    * 100-1000 units for 10^12 docs was 200-2000 corpus reads. The staging
    * dir is removed once every planned unit commits; a killed run leaves
    * it behind, and the next resume() re-stages the still-uncommitted
    * buckets from the CURRENT input (same drift semantics as before —
    * committed units are protected by their sealed manifests, and
    * [[validateCommitted]] remains the opt-in drift audit).
    *
    * Rows round-trip through parquet during staging; input column types
    * must be parquet-representable (true for every source this engine
    * reads — parquet/Iceberg tables in, parquet out).
    *
    * @param failAtUnit      test-only failpoint: throw before committing
    *                        this unit (simulates a killed spark-submit)
    * @param unitParallelism concurrent unit jobs (each still fans out over
    *                        all executors; >1 overlaps scheduling gaps —
    *                        Spark's scheduler interleaves the jobs; safe
    *                        because each unit writes to ITS OWN directory,
    *                        so no two jobs share a FileOutputCommitter
    *                        `_temporary`). The default 1 runs units in
    *                        order; the CLI passes the session's default
    *                        parallelism. Unit jobs run under the caller's
    *                        job group. Kill semantics stay manifest-exact
    *                        either way: after a unit fails no further unit
    *                        starts, and the in-flight ones finish before
    *                        the failure is rethrown, so nothing commits
    *                        after `resume` has thrown.
    */
  def resume(spark: SparkSession, input: DataFrame, keyCol: String,
             transform: DataFrame => DataFrame, out: String, buckets: Int,
             failAtUnit: Option[Int] = None,
             unitParallelism: Int = 1): WriteReport = {
    requireSameKeying(out, keyCol)
    val done = committedUnits(out)
    val planned = (0 until buckets).filterNot(done)
    val stagedDir = s"$out/_staged"
    if (planned.isEmpty) {
      // everything committed — also reap staging a crashed run may have
      // left between its last sealManifest and its cleanup
      deleteRecursively(Paths.get(stagedDir))
      return WriteReport(planned, done.toSeq.sorted, Nil)
    }

    // stage the uncommitted slices: the ONE full input scan of this call.
    // Clear any previous staging FIRST — a bucket that became empty in the
    // current input must not keep a stale directory from a crashed run
    // and commit rows that no longer exist.
    deleteRecursively(Paths.get(stagedDir))
    val observed = Observation()
    input.withColumn("part_bucket", bucketOf(keyCol, buckets))
      .filter(col("part_bucket").isin(planned: _*))
      .hint("rebalance", col("part_bucket"))
      // after the exchange: the metric is computed in the write's result
      // stage, whose task updates Spark applies once
      .observe(observed, unitFingerprints(buckets)(
        col("part_bucket"), xxhash64(col(keyCol))).as("fp"))
      .write.mode(SaveMode.Overwrite)
      .partitionBy("part_bucket")
      .parquet(stagedDir)
    // explicit schema: empty slices leave no files to infer from, and the
    // partition column must come back as int, not inferred
    val stagedSchema = org.apache.spark.sql.types.StructType(
      input.schema.fields :+ org.apache.spark.sql.types.StructField(
        "part_bucket", org.apache.spark.sql.types.IntegerType))
    val staged = spark.read.schema(stagedSchema).parquet(stagedDir)
    val metrics = Await.result(observed.future, ObservationTimeout)
    // per-unit lineage fingerprints: bucket -> (rows, XOR of key hashes —
    // order/partition independent, overflow-free). A plan the optimizer
    // folded to an empty relation reports no metrics (an empty row):
    // recount the staged slices instead.
    val fps: Map[Int, (Long, Long)] =
      if (metrics.length == 0) fingerprintPass(staged, keyCol)
      else {
        val acc = metrics.getSeq[Long](0)
        planned.map(k => k -> ((acc(2 * k), acc(2 * k + 1)))).toMap
      }

    def runUnit(k: Int): Int = {
      if (failAtUnit.contains(k))
        throw new RuntimeException(s"failpoint: killed before unit $k")
      val t0 = System.nanoTime()
      val (nInput, fpxor) = fps.getOrElse(k, (0L, 0L))
      val slice = staged.filter(col("part_bucket") === k) // pruned dir read
      // observed on the OUTPUT side: an observation under the transform
      // is pruned when the transform folds to an empty relation
      val observed = Observation()
      val outRows = transform(slice.drop("part_bucket"))
        .observe(observed, count(lit(1)).as("n"))
      // each unit writes DIRECTLY to its own partition directory — the
      // Hive-style dir name keeps the partition-discovery layout, while
      // giving every unit job a private FileOutputCommitter `_temporary`
      // (concurrent units can't clobber each other) and leaving no
      // session-global partitionOverwriteMode side effect (VERDICT r4
      // items 7 + ADVICE). mode=Overwrite scrubs any torn files a crash
      // between a previous attempt's data write and its sealManifest left
      // behind (only ever an UNSEALED partition: sealed units are
      // filtered out of `planned`), and a zero-row transform overwrites
      // to an EMPTY directory rather than sealing stale rows.
      val unitDir = s"$out/data/part_bucket=$k"
      outRows.write.mode(SaveMode.Overwrite).parquet(unitDir)
      // the metrics arrive through the listener bus; bounded, so a lost
      // event fails the unit (unsealed, recomputed on resume) instead of
      // hanging the run
      val nOutput = Await.result(observed.future, ObservationTimeout).getLong(0)
      val attempt = 1 // committed manifests are never re-attempted
      sealManifest(out, UnitManifest(k, fpxor, nInput, nOutput,
        (System.nanoTime() - t0) / 1000000, attempt, "committed", keyCol))
      k
    }

    val committed =
      if (unitParallelism <= 1) planned.map(runUnit)
      else runConcurrently(planned, unitParallelism)(runUnit)
    deleteRecursively(Paths.get(stagedDir)) // every planned unit committed
    WriteReport(planned, done.toSeq.sorted, committed.sorted)
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
    * carry. The buffer is O(buckets) whatever the row count.
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

  /** Runs `unit` over `ks` on `parallelism` pool threads. The threads are
    * created by the calling thread, so they inherit its Spark local
    * properties (job group, scheduler pool) and unit jobs count towards
    * the caller's job group. After the first failure no further unit
    * starts; the in-flight ones are awaited before the failure is
    * rethrown, so no unit commits after this returns or throws.
    */
  private def runConcurrently(ks: Seq[Int], parallelism: Int)(unit: Int => Int): Seq[Int] = {
    val failure = new AtomicReference[Throwable]()
    val tasks = ks.map { k =>
      (() => {
        if (failure.get == null)
          try unit(k) catch { case t: Throwable => failure.compareAndSet(null, t) }
        ()
      }): Callable[Unit]
    }
    val pool = Executors.newFixedThreadPool(parallelism)
    try pool.invokeAll(tasks.asJava) // returns once every task has finished
    finally pool.shutdown()
    Option(failure.get).foreach(t => throw t)
    ks
  }

  /** Lineage audit: recompute each committed unit's input fingerprint and
    * compare against its sealed manifest — detects input drift between a
    * kill and a resume (a unit whose input changed would silently keep
    * stale output otherwise). Opt-in: costs one scan of the input.
    * Returns the buckets whose fingerprints no longer match.
    */
  def validateCommitted(spark: SparkSession, input: DataFrame, keyCol: String,
                        out: String, buckets: Int): Seq[Int] = {
    requireSameKeying(out, keyCol)
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
