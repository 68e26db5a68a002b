package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Optimization-round A/B evidence mains (guide §1.4): noop-sink timed,
  * interleaved repeats (so host drift hits both forms), with per-job
  * shuffle-byte totals from a SparkListener. Separate from the FROZEN
  * graft.Bench — these numbers are cited in OPTIMIZATION_r09.md, never
  * in the driver artifact.
  *
  * {{{
  *   SPARK_GRAFT_SF_DIR=/root/testdata/sf0.1 sbt "runMain graft.BenchExtra curated 3"
  *   sbt "runMain graft.BenchExtra ccstar 3"
  *   SPARK_GRAFT_SF_DIR=... sbt "runMain graft.BenchExtra fuzzytail 3"
  * }}}
  */
object BenchExtra {

  /** (wall seconds, shuffle bytes written) of one noop-sink run. */
  private def timeNoop(spark: SparkSession, df: => DataFrame, label: String): (Double, Long) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
    val bytes = new java.util.concurrent.atomic.AtomicLong()
    val listener = new SparkListener {
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit =
        if (te.taskMetrics != null)
          bytes.addAndGet(te.taskMetrics.shuffleWriteMetrics.bytesWritten)
    }
    spark.sparkContext.setJobDescription(label)
    spark.sparkContext.addSparkListener(listener)
    val t0 = System.nanoTime()
    var elapsed = 0.0
    try {
      df.write.format("noop").mode("overwrite").save()
      // capture BEFORE the listener drain: the drain is harness
      // bookkeeping, not query time
      elapsed = (System.nanoTime() - t0) / 1e9
    } finally {
      spark.sparkContext.setJobDescription(null)
      org.apache.spark.GraftListenerBus.drain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(listener)
    }
    (elapsed, bytes.get())
  }

  /** The r8 window form of TextOps.curated — the ONE shared reference
    * (A/B side here, equality oracle in TextOpsSpec): see
    * [[graft.ops.TextOps.curatedWindowReference]].
    */
  private def curatedWindowForm(docs: DataFrame): DataFrame =
    graft.ops.TextOps.curatedWindowReference(docs)

  /** The r8 window form of the large/small-star rounds, kept verbatim as
    * the A side of the ccstar A/B (ONE round, not to convergence — the
    * per-round cost is what the window-vs-agg choice changes).
    */
  private def starRoundWindow(canon: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sym = canon.union(canon.select(col("v").as("u"), col("u").as("v")))
    val withMin = sym
      .withColumn("m", min(least(col("v"), col("u")))
        .over(Window.partitionBy(col("u"))))
    val large = withMin
      .filter(col("v") > col("u"))
      .select(col("v").as("u"), col("m").as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
    val sWithMin = large
      .withColumn("m", min(col("v")).over(Window.partitionBy(col("u"))))
    sWithMin.select(col("v").as("u"), col("m").as("v"))
      .union(sWithMin.select(col("u"), col("m").as("v")))
      .filter(col("u") =!= col("v"))
      .distinct()
  }

  /** One agg-form star round — mirrors Dedup.connectedComponentsStar's
    * loop body (kept in sync manually; the A/B only needs the shape).
    */
  private def starRoundAgg(canon: DataFrame): DataFrame = {
    val sym = canon.union(canon.select(col("v").as("u"), col("u").as("v")))
    val mins = sym.groupBy(col("u"))
      .agg(min(least(col("v"), col("u"))).as("m"))
    val large = sym.join(mins, "u")
      .filter(col("v") > col("u"))
      .select(col("v").as("u"), col("m").as("v"))
      .filter(col("u") =!= col("v"))
      .distinct()
    val sMins = large.groupBy(col("u")).agg(min(col("v")).as("m"))
    val sWithMin = large.join(sMins, "u")
    sWithMin.select(col("v").as("u"), col("m").as("v"))
      .union(sWithMin.select(col("u"), col("m").as("v")))
      .filter(col("u") =!= col("v"))
      .distinct()
  }

  def main(args: Array[String]): Unit = {
    val mode = if (args.nonEmpty) args(0) else "curated"
    val repeats = scala.util.Try(args.lift(1).getOrElse("3").toInt).toOption match {
      case Some(r) if r >= 1 => r
      case _ => System.err.println(s"invalid repeat count '${args(1)}'"); sys.exit(2)
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Bench.session(cpus)
    spark.sparkContext.setLogLevel("WARN")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    mode match {
      case "curated" =>
        val docs = spark.read.parquet(s"$sfDir/documents.parquet")
        // warmup both codegen paths once
        timeNoop(spark, curatedWindowForm(docs), "warmup A")
        timeNoop(spark, graft.ops.TextOps.curated(docs), "warmup B")
        (1 to repeats).foreach { r =>
          val (ta, ba) = timeNoop(spark, curatedWindowForm(docs), "curated window form")
          val (tb, bb) = timeNoop(spark, graft.ops.TextOps.curated(docs), "curated agg form")
          println(f"""{"ab":"curated","repeat":$r,"window_sec":$ta%.3f,"window_shuffle_bytes":$ba,"agg_sec":$tb%.3f,"agg_shuffle_bytes":$bb}""")
        }
      case "ccstar" =>
        import spark.implicits._
        // synthetic dup graph: 200k cliques of 5 (1M nodes), a 100k-long
        // chain, and ONE 300k-degree hub (the skew case the agg form is
        // for) ≈ 2.4M edges
        val cliques = spark.range(0, 200000L).flatMap { c =>
          val base = c * 5
          for (i <- 0 until 5; j <- (i + 1) until 5) yield (base + i, base + j)
        }.toDF("a", "b")
        val chain = spark.range(0, 100000L)
          .select((col("id") + 2000000L).as("a"), (col("id") + 2000001L).as("b"))
        val hub = spark.range(0, 300000L)
          .select(lit(5000000L).as("a"), (col("id") + 5000001L).as("b"))
        val pairs = cliques.union(chain).union(hub)
          .transform(graft.tablefmt.LineageCut.cut)
        pairs.count() // materialize the localCheckpoint before timing
        val canon = pairs
          .select(greatest(col("a"), col("b")).as("u"), least(col("a"), col("b")).as("v"))
          .filter(col("u") =!= col("v")).distinct()
          .transform(graft.tablefmt.LineageCut.cut)
        canon.count()
        timeNoop(spark, starRoundWindow(canon), "warmup A")
        timeNoop(spark, starRoundAgg(canon), "warmup B")
        (1 to repeats).foreach { r =>
          val (ta, ba) = timeNoop(spark, starRoundWindow(canon), "star round window form")
          val (tb, bb) = timeNoop(spark, starRoundAgg(canon), "star round agg form")
          println(f"""{"ab":"ccstar","repeat":$r,"window_sec":$ta%.3f,"window_shuffle_bytes":$ba,"agg_sec":$tb%.3f,"agg_shuffle_bytes":$bb}""")
        }
      case "curatedcost" =>
        // per-stage attribution for the curated A/B: fingerprint alone vs
        // fingerprint + gates over ALL rows (the agg form's map stage) —
        // quantifies the gates-on-dup-rows overhead on dup-heavy corpora
        val docs = spark.read.parquet(s"$sfDir/documents.parquet")
        import graft.ops.TextOps
        def fpOnly = docs.select(TextOps.fingerprint(col("doc_id").cast("string")).as("h"))
        def fpText = docs.select(TextOps.fingerprint(col("text")).as("fp"), col("doc_id"))
        def fpGates = {
          val ok = TextOps.langIdHeuristic(col("text")) === "en" &&
            TextOps.tokenCount(col("text")).between(20, 100000) &&
            (length(col("text")) - length(regexp_replace(col("text"), "\\bthe\\b", ""))) / 3 >= 1
          docs.select(TextOps.fingerprint(col("text")).as("fp"), col("doc_id"), ok.as("ok"))
        }
        timeNoop(spark, fpOnly, "warmup") // every leg warms (review r9):
        timeNoop(spark, fpText, "warmup") // the floor must not carry
        timeNoop(spark, fpGates, "warmup") // codegen/footer first-touch
        (1 to repeats).foreach { r =>
          // NOTE: the floor leg projects doc_id only — column pruning
          // means it never reads text, so it is an ID-HASH floor, not a
          // text-scan floor (review r9): attribute gate cost as
          // fp_gates_sec - fp_sec, never fp_sec - id_hash_floor_sec
          val (t0, _) = timeNoop(spark, fpOnly, "id-hash floor")
          val (t1, _) = timeNoop(spark, fpText, "fingerprint(text)")
          val (t2, _) = timeNoop(spark, fpGates, "fingerprint+gates")
          println(f"""{"ab":"curatedcost","repeat":$r,"id_hash_floor_sec":$t0%.3f,"fp_sec":$t1%.3f,"fp_gates_sec":$t2%.3f}""")
        }
      case "fuzzytail" =>
        // stage attribution for the fuzzy/near thread TAILS: how much of
        // each query is the salted size/sample aggregation (the part the
        // SortAggregate-vs-HashAggregate question touches)?
        val sess = spark.newSession()
        val cls = SparkEntry.classifiedFor(sess, sfDir)
        (1 to repeats).foreach { r =>
          val t0 = System.nanoTime()
          graft.threads.Threads.fuzzyKeyed(cls.toDF()).write.format("noop").mode("overwrite").save()
          val tKeyed = (System.nanoTime() - t0) / 1e9
          val t1 = System.nanoTime()
          graft.threads.Threads.threadsFuzzy(cls).write.format("noop").mode("overwrite").save()
          val tFull = (System.nanoTime() - t1) / 1e9
          val t2 = System.nanoTime()
          graft.threads.Threads.threadsNear(cls).write.format("noop").mode("overwrite").save()
          val tNear = (System.nanoTime() - t2) / 1e9
          val t3 = System.nanoTime()
          graft.threads.Threads.nearKeyed(cls.toDF()).write.format("noop").mode("overwrite").save()
          val tNearKeyed = (System.nanoTime() - t3) / 1e9
          println(f"""{"ab":"fuzzytail","repeat":$r,"fuzzy_keyed_sec":$tKeyed%.3f,"fuzzy_full_sec":$tFull%.3f,"near_keyed_sec":$tNearKeyed%.3f,"near_full_sec":$tNear%.3f}""")
        }
      case other =>
        System.err.println(s"unknown mode '$other' (curated|ccstar|curatedcost|fuzzytail)")
        sys.exit(2)
    }
    spark.stop()
  }
}
