package graft

import graft.streaming.EventStream
import graft.tablefmt.Checkpoint
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files
import scala.jdk.CollectionConverters._

class ResumeSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def input: DataFrame = {
    import spark.implicits._
    (0 until 1000).map(i => (f"doc-$i%05d", s"text number $i")).toDF("doc_id", "text")
  }

  // bucket-local: row-wise, and keeps the staged part_bucket column
  private val transform: DataFrame => DataFrame =
    df => df.select(col("doc_id"), length(col("text")).as("n"), col("part_bucket"))

  test("kill-after-K resume recomputes only uncommitted units (SURVEY.md §5.2.5)") {
    val out = Files.createTempDirectory("ckpt").toString
    // attempt 1: killed before unit 5
    val e = intercept[RuntimeException] {
      Checkpoint.resume(spark, input, "doc_id", transform, out, buckets = 8,
        failAtUnit = Some(5))
    }
    assert(e.getMessage.contains("failpoint"))
    assert(Checkpoint.committedUnits(out) == Set(0, 1, 2, 3, 4))

    // attempt 2: resume completes only 5..7
    val r = Checkpoint.resume(spark, input, "doc_id", transform, out, buckets = 8)
    assert(r.unitsSkipped == Seq(0, 1, 2, 3, 4))
    assert(r.unitsCommitted == Seq(5, 6, 7))

    // final table equals the uninterrupted run
    val fresh = Files.createTempDirectory("ckpt2").toString
    Checkpoint.resume(spark, input, "doc_id", transform, fresh, buckets = 8)
    val a = Checkpoint.readCommitted(spark, out)
      .select("doc_id", "n").collect().map(_.toString).sorted.toSeq
    val b = Checkpoint.readCommitted(spark, fresh)
      .select("doc_id", "n").collect().map(_.toString).sorted.toSeq
    assert(a == b)
    assert(a.size == 1000)

    // attempt 3: everything already committed → no work
    val r3 = Checkpoint.resume(spark, input, "doc_id", transform, out, buckets = 8)
    assert(r3.unitsCommitted.isEmpty && r3.unitsSkipped.size == 8)
  }

  test("fresh N-bucket run reads the input EXACTLY once (staged bucketing, VERDICT r3 item 1)") {
    // the old form filtered the un-staged input on the derived bucket
    // column per unit — 2·buckets full scans; at the documented 100-1000
    // commit units for 10^12 docs that was 200-2000 corpus reads. The
    // staged form must cost ONE input pass regardless of bucket count.
    val sp = spark
    import sp.implicits._
    val acc = spark.sparkContext.longAccumulator("input_rows_read")
    val counted = spark
      .createDataset((0 until 1000).map(i => (f"doc-$i%05d", s"text number $i")))
      .mapPartitions(_.map { r => acc.add(1); r })
      .toDF("doc_id", "text")
    val out = Files.createTempDirectory("ckpt_scan").toString
    val r = Checkpoint.resume(spark, counted, "doc_id", transform, out, buckets = 8)
    assert(r.unitsCommitted == (0 until 8))
    assert(acc.value == 1000L,
      s"input rows read ${acc.value}: expected exactly one full pass (1000)")
    assert(Checkpoint.readCommitted(spark, out).count() == 1000)
    // staging is transient: removed once every planned unit commits
    assert(!Files.exists(java.nio.file.Paths.get(out, "_staged")))
  }

  test("all-empty transform output commits cleanly with zero-row manifests") {
    // a filter-everything transform writes no parquet files at all; the
    // run must still seal every unit with nOutput = 0 rather than crash
    // on the unreadable output path
    import org.apache.spark.sql.functions.lit
    val out = Files.createTempDirectory("ckpt_empty").toString
    val r = Checkpoint.resume(spark, input, "doc_id",
      df => df.filter(lit(false)), out, buckets = 4)
    assert(r.unitsCommitted == (0 until 4))
    val ms = Checkpoint.readManifests(out)
    assert(ms.map(_.bucket) == Seq(0, 1, 2, 3))
    assert(ms.forall(_.nOutput == 0L))
    assert(ms.map(_.nInput).sum == 1000L) // inputs still fingerprinted
    // every unit holds a zero-row file with the output schema
    assert(Checkpoint.readCommitted(spark, out).columns.toSeq == Seq("doc_id", "text", "part_bucket"))
    assert(Checkpoint.readCommitted(spark, out).count() == 0L)
  }

  test("stale staging from a crashed run never leaks old rows into new commits") {
    // r4 review: dynamic partition overwrite only replaces partitions
    // present in the CURRENT staging write, so a bucket that became
    // EMPTY in the current input would keep its stale directory from the
    // crashed attempt unless staging is cleared first
    import org.apache.spark.sql.functions.col
    val out = Files.createTempDirectory("ckpt_stale").toString
    intercept[RuntimeException] {
      Checkpoint.resume(spark, input, "doc_id", transform, out, buckets = 8,
        failAtUnit = Some(5)) // commits 0-4, leaves _staged/part_bucket=0..7
    }
    assert(Files.exists(java.nio.file.Paths.get(out, "_staged")))
    // input drifts: EVERY row of (uncommitted) bucket 5 disappears
    val bucketed = input.withColumn("b", Checkpoint.bucketOf("doc_id", 8))
    val removed = bucketed.filter(col("b") === 5).select("doc_id")
      .collect().map(_.getString(0)).toSet
    assert(removed.nonEmpty)
    val drifted = input.filter(!col("doc_id").isin(removed.toSeq: _*))
    Checkpoint.resume(spark, drifted, "doc_id", transform, out, buckets = 8)
    val committed = Checkpoint.readCommitted(spark, out)
      .select("doc_id").collect().map(_.getString(0)).toSet
    assert(committed.intersect(removed).isEmpty,
      "rows deleted from the current input resurfaced from stale staging")
    // fully-committed follow-up call also reaps any leftover staging
    Files.createDirectories(java.nio.file.Paths.get(out, "_staged", "junk"))
    val r = Checkpoint.resume(spark, drifted, "doc_id", transform, out, buckets = 8)
    assert(r.unitsCommitted.isEmpty)
    assert(!Files.exists(java.nio.file.Paths.get(out, "_staged")))
  }

  test("unsealed output from a crashed unit is not resurrected when its input empties") {
    // r4 review: a crash BETWEEN a unit's data write and its
    // sealManifest leaves a complete data/part_bucket=k; if that
    // bucket's input then drifts to empty, a 0-row dynamic-overwrite
    // write replaces nothing — the stale rows must not be sealed as
    // committed (and the (0,0) fingerprint would make the lineage audit
    // blind to them)
    import org.apache.spark.sql.functions.{col, lit}
    val sp = spark
    import sp.implicits._
    val out = Files.createTempDirectory("ckpt_unsealed").toString
    // simulate the crashed attempt: unit 5's output fully written, no manifest
    Seq(("ghost-1", 7), ("ghost-2", 7))
      .toDF("doc_id", "n").withColumn("part_bucket", lit(5))
      .write.partitionBy("part_bucket").parquet(s"$out/data")
    // current input has NO rows hashing to bucket 5
    val bucketed = input.withColumn("b", Checkpoint.bucketOf("doc_id", 8))
    val bucket5 = bucketed.filter(col("b") === 5).select("doc_id")
      .collect().map(_.getString(0)).toSet
    val drifted = input.filter(!col("doc_id").isin(bucket5.toSeq: _*))
    Checkpoint.resume(spark, drifted, "doc_id", transform, out, buckets = 8)
    val committed = Checkpoint.readCommitted(spark, out)
      .select("doc_id").collect().map(_.getString(0)).toSet
    assert(!committed.contains("ghost-1") && !committed.contains("ghost-2"),
      "unsealed rows from the crashed attempt were sealed as committed")
    assert(committed == drifted.select("doc_id").collect().map(_.getString(0)).toSet)
  }

  test("lineage audit: input drift after commit is detected") {
    import spark.implicits._
    val out = Files.createTempDirectory("ckpt4").toString
    Checkpoint.resume(spark, input, "doc_id", transform, out, buckets = 4)
    // unchanged input → no drift
    assert(Checkpoint.validateCommitted(spark, input, "doc_id", out, 4).isEmpty)
    // drop some rows → the affected buckets flag
    val drifted = input.filter(col("doc_id") =!= "doc-00007")
    val bad = Checkpoint.validateCommitted(spark, drifted, "doc_id", out, 4)
    assert(bad.nonEmpty)
  }

  test("checkpointed EXTRACTION resumes at unit granularity") {
    val sp = spark
    import sp.implicits._
    val out = Files.createTempDirectory("ckpt_ext").toString
    val docs = graft.synth.Synth.corpus(spark, 42L, 400L).toDF()
    val extractT: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame =
      df => graft.extract.Extract.run(df.as[graft.model.Doc]).toDF()
        .select(col("doc_id"), col("lang"), col("title_norm"))
        .withColumn("part_bucket", Checkpoint.bucketOf("doc_id", 4)) // row-wise: re-derived
    intercept[RuntimeException] {
      Checkpoint.resume(spark, docs, "doc_id", extractT, out, buckets = 4, failAtUnit = Some(2))
    }
    val r = Checkpoint.resume(spark, docs, "doc_id", extractT, out, buckets = 4)
    assert(r.unitsSkipped == Seq(0, 1) && r.unitsCommitted == Seq(2, 3))
    val got = Checkpoint.readCommitted(spark, out).count()
    val want = graft.extract.Extract.run(graft.synth.Synth.corpus(spark, 42L, 400L)).count()
    assert(got == want)
  }

  test("resume leaves no session-global conf side effect (VERDICT r4 item 7)") {
    // the r4 form set spark.sql.sources.partitionOverwriteMode=dynamic
    // session-wide; the per-unit-directory write needs no overwrite-mode
    // tweak at all — the session conf must be byte-identical after resume
    val key = "spark.sql.sources.partitionOverwriteMode"
    val before = spark.conf.getOption(key)
    val out = Files.createTempDirectory("ckpt_conf").toString
    Checkpoint.resume(spark, input, "doc_id", transform, out, buckets = 4)
    assert(spark.conf.getOption(key) == before,
      s"resume() changed $key: $before -> ${spark.conf.getOption(key)}")
  }

  test("manifest JSON round-trips a key column named with quote and backslash") {
    val key = "we\"ird\\key"
    val keyed = input.withColumnRenamed("doc_id", key)
    val t: DataFrame => DataFrame =
      df => df.select(col(key), length(col("text")).as("n"), col("part_bucket"))
    val out = Files.createTempDirectory("ckpt_json").toString
    Checkpoint.resume(spark, keyed, key, t, out, buckets = 4)
    val ms = Checkpoint.readManifests(out)
    assert(ms.map(_.bucket) == Seq(0, 1, 2, 3))
    assert(ms.forall(m => m.keyCol == key && m.status == "committed"))
    assert(ms.map(_.nOutput).sum == 1000L)
    // later calls read the manifests back: resume is a no-op, audit clean
    val r = Checkpoint.resume(spark, keyed, key, t, out, buckets = 4)
    assert(r.unitsCommitted.isEmpty && r.unitsSkipped == Seq(0, 1, 2, 3))
    assert(Checkpoint.validateCommitted(spark, keyed, key, out, 4).isEmpty)
  }

  test("staging and committed units hold one data file per bucket (32 input partitions)") {
    // staged per (input partition x bucket), 32 partitions would stage up
    // to 32 small files per bucket; the rebalanced staging writes one
    val out = Files.createTempDirectory("ckpt_files").toString
    intercept[RuntimeException] {
      Checkpoint.resume(spark, input.repartition(32), "doc_id", transform, out,
        buckets = 4, failAtUnit = Some(2)) // commits 0-1, leaves _staged
    }
    def dataFiles(dir: String, k: Int): Int = {
      val ls = Files.list(java.nio.file.Paths.get(out, dir, s"part_bucket=$k"))
      try ls.iterator().asScala.map(_.getFileName.toString)
        .count(n => n.startsWith("part-") && n.endsWith(".parquet"))
      finally ls.close()
    }
    for (k <- 0 until 4)
      assert(dataFiles("_staged", k) == 1, s"_staged/part_bucket=$k")
    for (k <- Checkpoint.committedUnits(out))
      assert(dataFiles("data", k) == 1, s"data/part_bucket=$k")
    assert(Checkpoint.committedUnits(out) == Set(0, 1))
  }

  test("a statically empty input stages and commits without waiting on the observation") {
    import spark.implicits._
    val empty = Seq.empty[(String, String)].toDF("doc_id", "text")
    val out = Files.createTempDirectory("ckpt_static_empty").toString
    val t0 = System.nanoTime()
    val r = Checkpoint.resume(spark, empty, "doc_id", transform, out, buckets = 4)
    val s = (System.nanoTime() - t0) / 1e9
    assert(s < 60, s"resume over an empty LocalRelation took $s s")
    assert(r.unitsCommitted == (0 until 4))
    val ms = Checkpoint.readManifests(out)
    assert(ms.forall(m => m.nInput == 0L && m.nOutput == 0L && m.inputFingerprint == 0L))
    assert(Checkpoint.validateCommitted(spark, empty, "doc_id", out, 4).isEmpty)
  }

  test("observed n_output equals a read-back count; lineage equals the audit's") {
    val half: DataFrame => DataFrame = df =>
      transform(df).filter(substring(col("doc_id"), -1, 1).cast("int") % 2 === 0)
    val cases = Seq[(String, DataFrame => DataFrame, Long)](
      ("identity", transform, 1000L), ("filter-half", half, 500L),
      ("all-empty", df => df.filter(lit(false)), 0L))
    for ((name, t, total) <- cases) {
      val out = Files.createTempDirectory(s"ckpt_obs_$name").toString
      Checkpoint.resume(spark, input, "doc_id", t, out, buckets = 4)
      val ms = Checkpoint.readManifests(out)
      val schema = t(input.withColumn("part_bucket", lit(0))).drop("part_bucket").schema
      for (m <- ms) {
        val readBack = spark.read.schema(schema)
          .parquet(s"$out/data/part_bucket=${m.bucket}").count()
        assert(m.nOutput == readBack, s"$name unit ${m.bucket}: ${m.nOutput} != $readBack")
      }
      assert(ms.map(_.nOutput).sum == total, name)
      // lineage: what the audit recomputes from the input, unit by unit
      assert(Checkpoint.validateCommitted(spark, input, "doc_id", out, 4).isEmpty, name)
      val recomputed = input
        .groupBy(Checkpoint.bucketOf("doc_id", 4))
        .agg(count(lit(1)), coalesce(bit_xor(xxhash64(col("doc_id"))), lit(0L)))
        .collect().map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2)))).toMap
      assert(ms.map(m => m.bucket -> ((m.nInput, m.inputFingerprint))).toMap == recomputed, name)
    }
  }

  test("the transform job runs under the caller's job group") {
    val group = "resume-caller-group"
    val groupOf = udf(() =>
      org.apache.spark.TaskContext.get.getLocalProperty("spark.jobGroup.id")).asNondeterministic()
    val out = Files.createTempDirectory("ckpt_group").toString
    spark.sparkContext.setJobGroup(group, "transform job")
    try Checkpoint.resume(spark, input, "doc_id",
      df => df.select(col("doc_id"), groupOf().as("grp"), col("part_bucket")), out,
      buckets = 8)
    finally spark.sparkContext.clearJobGroup()
    val groups = Checkpoint.readCommitted(spark, out)
      .groupBy("grp").count().collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(groups == Map(group -> 1000L), s"unit rows by job group: $groups")
  }

  test("manifest lineage: fingerprints and counts recorded per unit") {
    val out = Files.createTempDirectory("ckpt3").toString
    Checkpoint.resume(spark, input, "doc_id", transform, out, buckets = 4)
    val ms = Checkpoint.readManifests(out)
    assert(ms.map(_.bucket) == Seq(0, 1, 2, 3))
    assert(ms.map(_.nInput).sum == 1000L)
    assert(ms.map(_.nOutput).sum == 1000L)
    assert(ms.forall(_.status == "committed"))
    assert(ms.map(_.inputFingerprint).distinct.size == 4) // per-unit lineage
    assert(ms.forall(_.keyCol == "doc_id")) // keying recorded (ADVICE r6)
  }

  test("keying mismatch: resume/audit against a differently-keyed table refuses with the real story (ADVICE r6)") {
    // a doc_id-keyed audit over a text-keyed table would report every
    // bucket drifted (spurious) or, on resume, silently fork the table —
    // the recorded key_col turns both into a loud keyed-differently error
    val out = Files.createTempDirectory("ckptkey").toString
    Checkpoint.resume(spark, input, "text", transform, out, buckets = 4)
    assert(Checkpoint.recordedKeying(out)._2 == Set("text"))
    val eResume = intercept[IllegalArgumentException] {
      Checkpoint.resume(spark, input, "doc_id", transform, out, buckets = 4)
    }
    assert(eResume.getMessage.contains("keyed by 'text'"))
    val eAudit = intercept[IllegalArgumentException] {
      Checkpoint.validateCommitted(spark, input, "doc_id", out, buckets = 4)
    }
    assert(eAudit.getMessage.contains("keyed by 'text'"))
    // same keying: audit runs and reports NO drift on the unchanged input
    assert(Checkpoint.validateCommitted(spark, input, "text", out, 4).isEmpty)
    // pre-r7 manifests carry no key_col — the check must SKIP (unknown),
    // not refuse: strip key_col from the sealed manifests and re-audit
    val mdir = java.nio.file.Paths.get(out, "_manifest")
    Files.list(mdir).iterator().forEachRemaining { p =>
      val s = Files.readString(p).replaceAll(""","key_col":"[^"]*"""", "")
      Files.writeString(p, s)
    }
    assert(Checkpoint.recordedKeying(out)._2.isEmpty)
    assert(Checkpoint.validateCommitted(spark, input, "text", out, 4).isEmpty)
    // bucket counts follow the same rule: another count refuses, and
    // manifests that predate bucket-count recording skip the check
    val eCount = intercept[Checkpoint.KeyingMismatch] {
      Checkpoint.validateCommitted(spark, input, "text", out, buckets = 8)
    }
    assert(eCount.getMessage.contains("4 buckets"))
    Files.list(mdir).iterator().forEachRemaining { p =>
      Files.writeString(p, Files.readString(p).replaceAll(""","buckets":[0-9]+""", ""))
    }
    assert(Checkpoint.readManifests(out).forall(_.buckets == 0))
    Checkpoint.validateCommitted(spark, input, "text", out, buckets = 8)
  }

  test("a transform that drops part_bucket is refused as not bucket-local") {
    val out = Files.createTempDirectory("ckpt_local").toString
    val e = intercept[IllegalArgumentException] {
      Checkpoint.resume(spark, input, "doc_id", df => df.select(col("doc_id")), out, buckets = 4)
    }
    assert(e.getMessage.contains("bucket-local"), e.getMessage)
    assert(Checkpoint.committedUnits(out).isEmpty)
  }

  test("a SIGKILLed CLI run resumes to a fresh run's table (forked JVM)") {
    // one child JVM runs the verb and is killed (SIGKILL, no shutdown
    // hooks) as soon as the first manifest seals; wherever the kill lands
    // (in the commit loop, or after the run), the rerun must keep every
    // sealed unit untouched and recompute exactly the rest
    val root = Files.createTempDirectory("ckpt_kill")
    val out = root.resolve("t")
    val opts = Map("synth" -> "3000", "out" -> out.toString, "buckets" -> "32")
    val cmd = Seq(java.nio.file.Paths.get(System.getProperty("java.home"), "bin", "java").toString) ++
      java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
        .filter(_.startsWith("--add-opens")) ++
      Seq("-Xmx1g", "-cp", System.getProperty("java.class.path"), "graft.cli.Main", "categories") ++
      opts.toSeq.flatMap { case (k, v) => Seq(s"--$k", v) }
    val log = root.resolve("child.log").toFile
    val pb = new ProcessBuilder(cmd: _*)
      .redirectOutput(ProcessBuilder.Redirect.DISCARD)
      .redirectError(log)
    pb.environment().put("SPARK_GRAFT_CPUS", "2")
    val child = pb.start()
    val aliveAtKill =
      try {
        val deadline = System.nanoTime() + 300L * 1000000000L
        while (child.isAlive && Checkpoint.committedUnits(out.toString).isEmpty &&
          System.nanoTime() < deadline) Thread.sleep(1)
        child.isAlive
      } finally {
        child.destroyForcibly()
        child.waitFor()
      }
    val sealedAtKill = Checkpoint.committedUnits(out.toString).size
    def childLog = new String(Files.readAllBytes(log.toPath), "UTF-8").takeRight(2000)
    assert(aliveAtKill || child.exitValue == 0, s"child failed before the kill:\n$childLog")
    assert(sealedAtKill > 0 || !aliveAtKill, s"no unit sealed within the deadline:\n$childLog")
    info(s"kill landed with $sealedAtKill of 32 units sealed" +
      (if (aliveAtKill) "" else " (the child had already exited)"))
    // every manifest sealed before the kill: its bytes and its file
    def manifests(): Map[String, (Seq[Byte], AnyRef)] = {
      val dir = out.resolve("_manifest")
      if (!Files.isDirectory(dir)) Map.empty
      else {
        val ls = Files.list(dir)
        try ls.iterator().asScala.filter(_.getFileName.toString.startsWith("part-")).map { p =>
          p.getFileName.toString -> ((Files.readAllBytes(p).toSeq,
            Files.readAttributes(p, classOf[java.nio.file.attribute.BasicFileAttributes]).fileKey))
        }.toMap
        finally ls.close()
      }
    }
    val before = manifests()
    assert(before.size == sealedAtKill)

    def runVerb(o: Map[String, String]): String = {
      val buf = new java.io.ByteArrayOutputStream()
      Console.withOut(new java.io.PrintStream(buf, true, "UTF-8")) {
        graft.cli.Main.run(spark, "categories", o)
      }
      buf.toString("UTF-8")
    }
    val resumedStdout = runVerb(opts)
    val after = manifests()
    assert(after.size == 32)
    for ((name, (bytes, _)) <- before)
      assert(after(name)._1 == bytes, s"$name changed across the resume")
    // a skipped unit's manifest is the same file; a recomputed unit's seal
    // renamed a new file into place
    val unitsSkipped = after.collect { case (n, (_, key)) if before.get(n).exists(_._2 == key) => n }
    assert(unitsSkipped.toSet == before.keySet)

    val sp = spark
    val (classified, release) = graft.cli.Main.classifySteadyState(sp,
      graft.synth.Synth.corpus(sp, 42L, 3000L), persistClassified = false)
    try assert(Checkpoint.validateCommitted(spark, classified.toDF().select("doc_id"),
      "doc_id", out.toString, 32) == Nil)
    finally release()

    val fresh = root.resolve("fresh").toString
    val freshStdout = runVerb(opts + ("out" -> fresh))
    assert(resumedStdout == freshStdout)
    def rows(dir: String) = Checkpoint.readCommitted(spark, dir).collect().map(_.toString).sorted.toSeq
    assert(rows(out.toString) == rows(fresh))
    assert(!Files.exists(out.resolve("_staged")) && !Files.exists(out.resolve("_output")))
  }
}

class StreamSpec extends AnyFunSuite {

  // streaming extraction: the ingest-time path — same mapPartitions kernel
  // over a readStream source must equal the batch result
  test("streaming extraction equals batch over a staged corpus") {
    val sp = spark
    import sp.implicits._
    val dir = Files.createTempDirectory("docs_stream")
    graft.synth.Synth.corpus(spark, 42L, 200L, partitions = 4)
      .write.mode("overwrite").parquet(dir.toString)
    val schema = spark.read.parquet(dir.toString).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "2").parquet(dir.toString)
      .as[graft.model.Doc]
    val q = graft.extract.Extract.run(stream)
      .map(e => (e.doc_id, e.lang, e.title_norm, e.spans.length))
      .toDF("doc_id", "lang", "title_norm", "n_spans")
      .writeStream.outputMode("append").format("memory")
      .queryName("extract_stream").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("extract_stream").collect().map(_.toString).sorted.toSeq
    val batch = graft.extract.Extract.run(
      spark.read.parquet(dir.toString).as[graft.model.Doc])
      .map(e => (e.doc_id, e.lang, e.title_norm, e.spans.length))
      .toDF("doc_id", "lang", "title_norm", "n_spans")
      .collect().map(_.toString).sorted.toSeq
    assert(streamed == batch)
    assert(batch.nonEmpty)
  }

  // the Tungsten byte path is a plain expression → works unchanged under
  // Structured Streaming (no encoder, no stateful op)
  test("streaming extraction via ExtractSpansExpr equals batch") {
    val dir = Files.createTempDirectory("docs_stream_expr")
    graft.synth.Synth.corpus(spark, 43L, 200L, partitions = 4)
      .write.mode("overwrite").parquet(dir.toString)
    val schema = spark.read.parquet(dir.toString).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "2").parquet(dir.toString)
    val q = graft.extract.ExtractSpansExpr.run(stream)
      .selectExpr("doc_id", "lang", "title_norm", "size(spans) AS n_spans")
      .writeStream.outputMode("append").format("memory")
      .queryName("extract_stream_expr").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("extract_stream_expr").collect().map(_.toString).sorted.toSeq
    val batch = graft.extract.ExtractSpansExpr.run(spark.read.parquet(dir.toString))
      .selectExpr("doc_id", "lang", "title_norm", "size(spans) AS n_spans")
      .collect().map(_.toString).sorted.toSeq
    assert(streamed == batch)
    assert(batch.nonEmpty)
  }

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("streaming classification (slim path, frozen IDF) equals batch") {
    // the ingest-time classify shape at scale: a persisted corpus IDF
    // snapshot broadcasts once, then ExtractTitleExpr + runWithIdfSlim
    // classify a document stream statelessly — micro-batch results must
    // equal the batch run over the same files
    val sp = spark
    import sp.implicits._
    val dir = Files.createTempDirectory("docs_cls_stream")
    graft.synth.Synth.corpus(spark, 44L, 300L, partitions = 5)
      .write.mode("overwrite").parquet(dir.toString)
    val bc = graft.gloss.Classify.dictsBroadcast(spark)
    val batchSlim = graft.extract.ExtractTitleExpr.run(spark.read.parquet(dir.toString))
    val bcIdf = spark.sparkContext.broadcast(
      graft.gloss.Classify.computeIdf(batchSlim, bc.value))
    def key(rows: Array[graft.model.ClassifiedDoc]) =
      rows.map(c => (c.doc_id, c.lang, c.category, c.is_news)).sortBy(_._1).toSeq
    val batch = key(graft.gloss.Classify
      .runWithIdfSlim(batchSlim, bc, bcIdf).collect())
    val schema = spark.read.parquet(dir.toString).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "2").parquet(dir.toString)
    val q = graft.gloss.Classify
      .runWithIdfSlim(graft.extract.ExtractTitleExpr.run(stream), bc, bcIdf)
      .map(c => (c.doc_id, c.lang, c.category, c.is_news))
      .toDF("doc_id", "lang", "category", "is_news")
      .writeStream.outputMode("append").format("memory")
      .queryName("cls_stream").start()
    try q.processAllAvailable() finally q.stop()
    val streamed = spark.table("cls_stream")
      .as[(String, String, String, Boolean)].collect().sortBy(_._1).toSeq
    assert(streamed == batch)
    assert(batch.nonEmpty)
  }

  test("stateful mapGroupsWithState running totals equal batch aggregates") {
    val sp = spark
    import sp.implicits._
    val dir = Files.createTempDirectory("events_state")
    Files.copy(java.nio.file.Paths.get("/root/testdata/sf0.001/events.parquet"),
      dir.resolve("events.parquet"))
    val schema = spark.read.parquet(dir.toString).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(dir.toString)
    val q = EventStream.runningTotals(stream)
      .toDF("event_type", "n", "v")
      .writeStream.outputMode("update").format("memory")
      .queryName("running_totals").start()
    try q.processAllAvailable() finally q.stop()
    // last update per key == the batch totals
    val got = spark.table("running_totals")
      .groupBy($"event_type").agg(max($"n").as("n"))
      .as[(String, Long)].collect().toMap
    val want = spark.read.parquet(dir.toString)
      .groupBy($"event_type").agg(count(lit(1)).as("n"))
      .as[(String, Long)].collect().toMap
    assert(got == want)
  }

  test("streaming dedup: duplicated input stream yields each event once") {
    val sp = spark
    import sp.implicits._
    val dir = Files.createTempDirectory("events_dedup")
    // two files with the SAME events → a streaming replay of duplicates
    val src = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    src.coalesce(1).write.parquet(dir.resolve("a").toString)
    java.nio.file.Files.copy(
      java.nio.file.Files.list(dir.resolve("a")).filter(_.toString.endsWith(".parquet")).findFirst.get,
      dir.resolve("dup.parquet"))
    java.nio.file.Files.move(
      java.nio.file.Files.list(dir.resolve("a")).filter(_.toString.endsWith(".parquet")).findFirst.get,
      dir.resolve("orig.parquet"))
    val schema = src.schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(dir.toString)
    val q = EventStream.dedupStream(stream, "event_id")
      .select(col("event_id"))
      .writeStream.outputMode("append").format("memory")
      .queryName("dedup_stream").start()
    try q.processAllAvailable() finally q.stop()
    val got = spark.table("dedup_stream").count()
    assert(got == src.count()) // each event exactly once despite the replayed file
  }

  test("streaming hourly agg equals batch on the events table") {
    // FileStreamSource needs a directory: stage the events file into one
    val streamDir = Files.createTempDirectory("events_stream")
    Files.copy(java.nio.file.Paths.get("/root/testdata/sf0.001/events.parquet"),
      streamDir.resolve("events.parquet"))
    val batchDf = spark.read.parquet(streamDir.toString)
    val batch = batchDf
      .groupBy(date_trunc("hour", col("ts").cast("timestamp")).as("hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 2).as("sum_value"))
      .collect().map(_.toString).sorted.toSeq
    val streamed = EventStream.runBounded(spark, streamDir.toString, batchDf.schema)
      .collect().map(_.toString).sorted.toSeq
    assert(streamed == batch)
    assert(batch.nonEmpty)
  }

  test("streaming thread clustering equals batch threads (incl. sample and category memo)") {
    import spark.implicits._
    // classified corpus from the real pipeline, staged as MANY parquet
    // files → many microbatches; a hot title spans batches so the
    // streaming accumulation must merge across them
    val classified = Graft(spark).classify(graft.synth.Synth.corpus(spark, 42L, 800L))
    val dir = Files.createTempDirectory("clsstream").toString
    classified.toDF().repartition(7).write.mode("overwrite").parquet(dir)
    def key(df: DataFrame) = df
      .select(col("title_norm"), col("size").cast("long"),
        concat_ws(",", col("articles")), col("category"))
      .as[(String, Long, String, String)].collect().sortBy(_._1).toSeq
    val streamed = key(EventStream.runBoundedThreads(spark, dir))
    val batch = key(graft.threads.Threads.threads(
      spark.read.parquet(dir).as[graft.model.ClassifiedDoc]))
    assert(streamed == batch)
    assert(batch.nonEmpty)
  }

  test("reliable-checkpoint switch: fuzzy threads identical with spark.graft.checkpointDir set") {
    import spark.implicits._
    // VERDICT r2 item 5: iterative lineage cuts (CC rounds, fuzzy titles,
    // simhash bases) route through LineageCut — localCheckpoint locally,
    // RELIABLE checkpoint() into the configured dir on a cluster (a lost
    // executor must not kill the job). Results must be identical.
    def cd(id: String, title: String) =
      graft.model.ClassifiedDoc(id, "en", title, "other", false, Map())
    val ds = spark.createDataset(Seq(
      cd("a1", "france signs major treaty with germany today"),
      cd("a2", "france signs major treaty with germany today"),
      cd("a3", "france signs major treaty with germany now"),
      cd("b1", "quantum telescope discovers new asteroid belt"),
      cd("b2", "quantum telescope discovers new asteroid belt"),
      cd("c1", "totally unrelated lonely singleton story")))
    def runFuzzy(): Set[(Long, Set[String])] =
      graft.threads.Threads.threadsFuzzy(ds, minJaccard = 0.5)
        .select($"size", $"articles").as[(Long, Seq[String])].collect()
        .map { case (s, a) => (s, a.toSet) }.toSet
    val local = runFuzzy()
    val dir = Files.createTempDirectory("graftckpt").toString
    spark.conf.set(graft.tablefmt.LineageCut.ConfKey, dir)
    try {
      val reliable = runFuzzy()
      assert(reliable == local)
      assert(local == Set((3L, Set("a1", "a2", "a3")), (2L, Set("b1", "b2"))))
      // exercise an ITERATIVE consumer of LineageCut under the conf (the
      // fuzzy path above uses the driver union-find + cached titles, which
      // never needs a lineage cut): star CC rounds must route through the
      // reliable checkpoint and still produce min-id components
      import graft.ops.Dedup
      val chain = spark.createDataset((1L to 6L).sliding(2).map(s => (s(0), s(1))).toSeq)
        .toDF("a", "b")
      val comps = Dedup.connectedComponentsStar(chain)
        .as[(Long, Long)].collect().toSet
      assert(comps == (1L to 6L).map(m => (m, 1L)).toSet)
      // the reliable path actually registered the checkpoint dir
      assert(spark.sparkContext.getCheckpointDir.nonEmpty,
        "checkpoint dir was not set on the context")
    } finally spark.conf.unset(graft.tablefmt.LineageCut.ConfKey)
  }
}
