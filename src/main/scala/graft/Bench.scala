package graft

import graft.extract.Extract
import graft.model.Doc
import graft.synth.Synth
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Bench main (driver contract): one JSON line with per-query seconds over
  * SPARK_GRAFT_SF_DIR plus the headline extraction-throughput metric
  * (BASELINE.json: documents/sec end-to-end on the interleaved corpus).
  *
  * The headline measures extraction from a MATERIALIZED parquet corpus
  * (written untimed as setup) — the realistic shape: at 10^12 docs the
  * input is an Iceberg-layout table, not in-flight generation. The fused
  * generate+extract number is reported alongside as the
  * encoder-boundary-free upper bound.
  */
/** Persisted per-(cpus, corpus-size) historical quiet tell (VERDICT r6
  * item 2): the in-session gate judges sweeps against the session's own
  * best tell, so a session that is loaded END-TO-END gates against a
  * depressed reference and flags nothing — BENCH_r06 ran all three sweeps
  * at ~half the documented quiet throughput, undetected. The historical
  * reference is a monotone max across sessions (contamination only
  * DEPRESSES throughput, so a loaded session can never raise it), updated
  * in place when a session's frozen gate reference exceeds it. Sweeps are
  * reported as a percentage of it and flagged (not retried) below 60%.
  */
object QuietRef {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  def path: java.nio.file.Path = java.nio.file.Paths.get(
    sys.env.getOrElse("SPARK_GRAFT_QUIET_REF", "BENCH/quiet_ref.json"))

  def key(cpus: String, nDocs: Long): String = s"cpus=$cpus,docs=$nDocs"

  /** Recorded historical quiet docs/sec for this key, if any. */
  def read(cpus: String, nDocs: Long, at: java.nio.file.Path = path): Option[Double] =
    try {
      if (!java.nio.file.Files.exists(at)) None
      else Option(mapper.readTree(at.toFile).get(key(cpus, nDocs)))
        .map(_.get("docs_per_sec").asDouble)
    } catch { case _: Exception => None } // unreadable file = no reference

  /** Monotone-max update: records `sessionRef` only when it beats the
    * stored value (a depressed/loaded session never lowers the bar).
    * Returns the reference in force after the update.
    */
  def update(cpus: String, nDocs: Long, sessionRef: Double,
             at: java.nio.file.Path = path): Double = {
    val prior = read(cpus, nDocs, at)
    if (prior.forall(sessionRef > _)) {
      try {
        // a corrupt existing file is replaced, not preserved: its entries
        // are unreadable anyway, and keeping it would silently disable
        // persistence forever
        val root: com.fasterxml.jackson.databind.node.ObjectNode =
          (try {
            if (java.nio.file.Files.exists(at))
              mapper.readTree(at.toFile) match {
                case o: com.fasterxml.jackson.databind.node.ObjectNode => Some(o)
                case _ => None
              }
            else None
          } catch { case _: Exception => None })
            .getOrElse(mapper.createObjectNode())
        val e = mapper.createObjectNode()
        e.put("docs_per_sec", sessionRef)
        e.put("updated_utc", java.time.Instant.now().toString)
        root.set(key(cpus, nDocs), e)
        Option(at.getParent).foreach(java.nio.file.Files.createDirectories(_))
        val tmp = at.resolveSibling(at.getFileName.toString + ".tmp")
        java.nio.file.Files.writeString(tmp, root.toPrettyString + "\n")
        java.nio.file.Files.move(tmp, at,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      } catch { case _: Exception => () } // read-only checkout: keep benching
      sessionRef
    } else prior.get
  }
}

object Bench {

  def session(cpus: String): SparkSession = SparkSession.builder()
    .master(s"local[$cpus]")
    .config("spark.sql.shuffle.partitions", cpus)
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** nDocs for the synthetic interleaved corpus per sf tier (sf1 = the
    * builder-promoted ×10 tier, tools/make_sf1.py — extraction corpus
    * matches SparkEntry's sf1 sizing).
    */
  def corpusDocs(sfDir: String): Long =
    if (sfDir.contains("sf0.1")) 100000L
    else if (sfDir.contains("sf0.01")) 10000L
    else if (sfDir.contains("sf1")) 200000L
    else 1000L

  /** Materialize the corpus once per (docs, partitions); reused across runs. */
  def corpusParquet(spark: SparkSession, nDocs: Long, partitions: Int): String = {
    val dir = s"${sys.props("java.io.tmpdir")}/graft_corpus_${nDocs}_$partitions"
    if (!new java.io.File(dir, "_SUCCESS").exists) {
      Synth.corpus(spark, 42L, nDocs, partitions)
        .write.mode("overwrite").parquet(dir)
    }
    dir
  }

  def timeExtractParquet(spark: SparkSession, dir: String): (Long, Double) = {
    import spark.implicits._
    val t0 = System.nanoTime()
    val n = Extract.run(spark.read.parquet(dir).as[Doc]).count()
    (n, (System.nanoTime() - t0) / 1e9)
  }

  /** Tungsten byte path: ExtractSpansExpr over the scan — no encoder
    * boundary, no Doc/Span objects, UTF-8 never decoded for dropped bytes.
    */
  def timeExtractParquetExpr(spark: SparkSession, dir: String): (Long, Double) = {
    val t0 = System.nanoTime()
    val n = graft.extract.ExtractSpansExpr.run(spark.read.parquet(dir)).count()
    (n, (System.nanoTime() - t0) / 1e9)
  }

  /** Task-duration skew of one extraction run: (max task ms / mean task
    * ms, task count). The balanced-partition evidence the north_rule
    * asks for — a skew ratio near 1 means no straggler partitions.
    */
  def extractTaskSkew(spark: SparkSession, dir: String): (Double, Int) = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
    import spark.implicits._
    val durations = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val listener = new SparkListener {
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit =
        if (te.taskInfo != null) durations.add(te.taskInfo.duration)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      Extract.run(spark.read.parquet(dir).as[Doc]).count()
      org.apache.spark.GraftListenerBus.drain(spark.sparkContext) // every task-end seen
    } finally spark.sparkContext.removeSparkListener(listener)
    val ds = durations.toArray(Array.empty[java.lang.Long]).map(_.toLong)
    if (ds.isEmpty) (0.0, 0)
    else (ds.max.toDouble / math.max(1.0, ds.sum.toDouble / ds.length), ds.length)
  }

  def timeExtractFused(spark: SparkSession, nDocs: Long, partitions: Int): (Long, Double) = {
    val t0 = System.nanoTime()
    val n = Synth.extracted(spark, 42L, nDocs, partitions).count()
    (n, (System.nanoTime() - t0) / 1e9)
  }

  /** PDF-leg throughput: materialize a (doc_id, pdf binary) corpus once
    * (untimed), then time PdfExtract from parquet — the table-input shape,
    * same protocol as the HTML extraction headline.
    */
  def pdfCorpusParquet(spark: SparkSession, nDocs: Long, partitions: Int): String = {
    val dir = s"${sys.props("java.io.tmpdir")}/graft_pdf_corpus_${nDocs}_$partitions"
    if (!new java.io.File(dir, "_SUCCESS").exists) {
      import spark.implicits._
      graft.pdf.PdfSynth.corpus(spark, 43L, nDocs, partitions)
        .toDF("doc_id", "pdf").write.mode("overwrite").parquet(dir)
    }
    dir
  }

  def timePdfExtract(spark: SparkSession, dir: String): (Long, Double) = {
    import spark.implicits._
    val t0 = System.nanoTime()
    val n = graft.pdf.PdfExtract.run(
      spark.read.parquet(dir).as[(String, Array[Byte])]).count()
    (n, (System.nanoTime() - t0) / 1e9)
  }

  /** Times each query's `count()` in order. A query that throws is still
    * timed (to the failure) and its name is returned in the second list,
    * so a failure is never mistaken for a fast success.
    */
  private[graft] def timeQueries(sess: SparkSession, sfDir: String,
      queries: Seq[(String, (SparkSession, String) => DataFrame)])
      : (Seq[(String, Double)], Seq[String]) = {
    val failed = Seq.newBuilder[String]
    val times = queries.map { case (name, fn) =>
      val t0 = System.nanoTime()
      try fn(sess, sfDir).count() catch { case _: Throwable => failed += name }
      name -> (System.nanoTime() - t0) / 1e9
    }
    (times, failed.result())
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = cli.Main.cpus
    val spark = session(cpus)
    spark.sparkContext.setLogLevel("WARN")

    val nDocs = corpusDocs(sfDir)
    val parts = 128
    val pq = corpusParquet(spark, nDocs, parts)
    val (kept, _) = timeExtractParquet(spark, pq) // warmup (codegen + page cache)
    // best-of-3: the sandbox host is noisy; min filters external contention
    val extractSec = (1 to 3).map(_ => timeExtractParquet(spark, pq)._2).min
    timeExtractParquetExpr(spark, pq) // warmup
    val exprSec = (1 to 3).map(_ => timeExtractParquetExpr(spark, pq)._2).min
    val fusedSec = (1 to 3).map(_ => timeExtractFused(spark, nDocs, parts)._2).min
    // PDF leg at a tenth of the HTML tier (PDFs are heavier per doc)
    val pdfDocs = math.max(nDocs / 10, 100L)
    val pdfPq = pdfCorpusParquet(spark, pdfDocs, 32)
    timePdfExtract(spark, pdfPq) // warmup
    val pdfSec = (1 to 3).map(_ => timePdfExtract(spark, pdfPq)._2).min

    // per-JVM glossary parse is BOOT cost, not query cost — the reference
    // measures it as "total boot time" separately (src/main.rs:107-108);
    // without this warmup it lands on whichever ext_* query runs first
    graft.gloss.Classify.defaultDicts

    // median of 3 full sweeps (VERDICT r4 item 4): a single sweep on this
    // noisy host was a ±16% artifact. Each sweep runs in a FRESH
    // spark.newSession() so the session-scoped caches (extracted /
    // classified / ivf memos, dictionary broadcast) rebuild — every sweep
    // carries the same one-time costs a prior round's single sweep did,
    // keeping round-over-round totals comparable. All sweep totals are
    // recorded alongside the median; the same-JVM extraction throughput
    // above is the recorded noise tell (a depressed sweep total with
    // extract_docs_per_sec also depressed is host load, not a plan
    // change — VERDICT r4 "what's wrong" 1).
    def sweep(): (Seq[(String, Double)], Seq[String]) = {
      val sess = spark.newSession()
      val out = timeQueries(sess, sfDir, SparkEntry.queries.toSeq.sortBy(_._1))
      // drop this sweep's persisted memo caches before the next sweep
      // builds its own copies — the shared block manager would otherwise
      // hold N stale cache sets, and the eviction/GC pressure would
      // systematically depress the later sweeps the median de-noises
      sess.catalog.clearCache()
      out
    }
    // tell-gated sweeps (VERDICT r5 item 5): all three sweeps share one
    // time window, so co-tenant load contaminates the median TOGETHER —
    // the per-sweep extraction tell (same-JVM, same cached parquet, ~2%
    // of a sweep) is measured immediately before each sweep, and a sweep
    // whose tell falls >40% below the session's own quiet reference (the
    // best tell seen this session) gets ONE replacement attempt. All
    // tells + retry count are disclosed in the artifact; a sweep still
    // contaminated after its retry is flagged, not hidden.
    var quietRef = nDocs / exprSec // from the best-of-3 warmups above
    var sweepsRetried = 0
    def tellNow(updateRef: Boolean): Double = {
      val t = nDocs / timeExtractParquetExpr(spark, pq)._2
      if (updateRef && t > quietRef) quietRef = t
      t
    }
    val chosen = scala.collection.mutable.ArrayBuffer.empty[((Seq[(String, Double)], Seq[String]), Double)]
    (1 to 3).foreach { _ =>
      val tell0 = tellNow(updateRef = true)
      val run0 = sweep()
      chosen += ((run0, tell0))
    }
    // retry pass AFTER all three sweeps, judged against a FROZEN quiet
    // reference: an online gate misjudges early sweeps when the session
    // starts loaded (the running reference is itself depressed), and
    // the disclosed flags must agree with the retry decisions — so both
    // use gateRef, frozen here, and retry-pass tells never move it
    // (r6 review ×2: the first fix still let retry tells raise the
    // reference between decisions and flags)
    val gateRef = quietRef
    var idx = 0
    while (idx < chosen.length && sweepsRetried < 2) {
      if (chosen(idx)._2 < 0.6 * gateRef) {
        sweepsRetried += 1
        val tell1 = tellNow(updateRef = false)
        val run1 = sweep()
        // adoption rule (ADVICE r6): keep whichever run had the higher
        // tell. This IS the explicit two-case rule — a slot is only
        // retried when its tell is already below 0.6·gateRef, so a
        // clean (at-or-above-gate) replacement necessarily has the
        // higher tell and is adopted; below the gate both runs are
        // contaminated and the less-contaminated one wins. Flags
        // recompute from FINAL tells below, so a still-contaminated
        // adoptee stays disclosed — the retry can reduce contamination,
        // never hide it.
        if (tell1 > chosen(idx)._2) chosen(idx) = ((run1, tell1))
      }
      idx += 1
    }
    val sweeps = chosen.toSeq.map(_._1._1)
    val failedQueries = chosen.toSeq.flatMap(_._1._2).distinct.sorted
    val tells = chosen.toSeq.map(_._2)
    val flags = tells.map(_ < 0.6 * gateRef)
    // cross-session reference (VERDICT r6 item 2): the in-session gate is
    // blind to UNIFORM contamination — judge sweeps against the persisted
    // per-(cpus, corpus) historical quiet max too. Flag only, no retry:
    // if the whole session is loaded, retrying inside it cannot help.
    val histRef = QuietRef.update(cpus, nDocs, gateRef)
    val pctOfHistoric = tells.map(t => (t / histRef * 100).round)
    val belowHistoric = tells.map(_ < 0.6 * histRef)
    val totals = sweeps.map(_.map(_._2).sum)
    val total = totals.sorted.apply(totals.size / 2) // median sweep total
    // per-query medians: robust against one co-tenant spike landing on a
    // single query of a single sweep
    val qs = sweeps.head.map(_._1).map { name =>
      val med = sweeps.map(_.collectFirst { case (`name`, t) => t }.get)
        .sorted.apply(sweeps.size / 2)
      s"\"" + name + "\":" + med
    }.mkString("{", ",", "}")
    val (skew, nTasks) = extractTaskSkew(spark, pq)
    val line =
      s"""{"metric":"total","value":$total,"unit":"sec","queries":$qs,"sf":"$sfDir",""" +
      s""""runs":[${totals.mkString(",")}],"median":$total,""" +
      s""""sweep_tells_docs_per_sec":[${tells.map(_.round).mkString(",")}],""" +
      s""""sweep_contaminated":[${flags.mkString(",")}],""" +
      s""""sweeps_retried":$sweepsRetried,"quiet_ref_docs_per_sec":${gateRef.round},""" +
      s""""historic_quiet_ref_docs_per_sec":${histRef.round},""" +
      s""""pct_of_historic_quiet":[${pctOfHistoric.mkString(",")}],""" +
      s""""sweep_below_historic_quiet":[${belowHistoric.mkString(",")}],""" +
      s""""extract_docs":$nDocs,"extract_kept":$kept,"extract_sec":$extractSec,""" +
      s""""extract_docs_per_sec":${nDocs / extractSec},""" +
      s""""extract_expr_docs_per_sec":${nDocs / exprSec},""" +
      s""""fused_docs_per_sec":${nDocs / fusedSec},""" +
      s""""pdf_docs":$pdfDocs,"pdf_extract_docs_per_sec":${pdfDocs / pdfSec},""" +
      s""""extract_task_skew":$skew,"extract_tasks":$nTasks,"cpus":$cpus,""" +
      s""""failed_queries":[${failedQueries.map("\"" + _ + "\"").mkString(",")}]}"""
    println(line)
    // sbt prefixes stdout with "[info] ", which broke the driver's JSON
    // parse in round 1 — the file copy is the machine-readable channel
    java.nio.file.Files.writeString(java.nio.file.Paths.get("bench_out.json"), line + "\n")
    spark.stop()
  }
}

/** Scaling-efficiency evidence (north_rule: N→4N executors ≥ 0.8).
  * In-sandbox stand-in: the identical extraction job at local[N] vs
  * local[4N] over byte-identical input (same materialized parquet, same
  * 128-task split — only executor-thread count varies). On a 4-core
  * host the one honest pair is N=1 → 4N=4; a larger N oversubscribes
  * the cores and measures the host, not the job.
  *
  * {{{
  *   SPARK_GRAFT_CPUS=1 sbt "runMain graft.ScalingBench 400000"
  *   SPARK_GRAFT_CPUS=4 sbt "runMain graft.ScalingBench 400000"
  * }}}
  */
object ScalingBench {

  /** Full-pipeline stage: the `top` verb itself (extract → corpus-IDF →
    * classify → exact-title threads → per-category top) over the
    * parquet corpus, stdout discarded — the steady-state job a user
    * runs. Returns wall seconds (glossaries pre-warmed by the caller so
    * the per-JVM parse isn't charged to one level).
    */
  def timePipeline(spark: SparkSession, dir: String): Double = {
    val t0 = System.nanoTime()
    Console.withOut(java.io.OutputStream.nullOutputStream()) {
      cli.Main.run(spark, "top", Map("input" -> dir))
    }
    (System.nanoTime() - t0) / 1e9
  }

  def main(args: Array[String]): Unit = {
    val nDocs = if (args.nonEmpty) args(0).toLong else 400000L
    val cpus = cli.Main.cpus
    val spark = Bench.session(cpus)
    spark.sparkContext.setLogLevel("WARN")
    val pq = Bench.corpusParquet(spark, nDocs, 128)
    Bench.timeExtractParquet(spark, pq) // warmup
    // best-of-3: the sandbox host is noisy; min filters external contention
    val pqSec = (1 to 3).map(_ => Bench.timeExtractParquet(spark, pq)._2).min
    Bench.timeExtractParquetExpr(spark, pq) // warmup
    val exprSec = (1 to 3).map(_ => Bench.timeExtractParquetExpr(spark, pq)._2).min
    val kept = Extract.run(spark.read.parquet(pq).as[Doc](
      org.apache.spark.sql.Encoders.product[Doc])).count()
    val fusedSec = (1 to 3).map(_ => Bench.timeExtractFused(spark, nDocs, 128)._2).min
    // full pipeline (extract→classify→threads→top): north_rule scaling
    // evidence must cover the whole job, not just the extraction stage
    graft.gloss.Classify.defaultDicts // per-JVM glossary parse, untimed
    timePipeline(spark, pq) // warmup
    val pipeSec = (1 to 3).map(_ => timePipeline(spark, pq)).min
    println(s"""{"bench":"scaling","cpus":$cpus,"docs":$nDocs,"kept":$kept,""" +
      s""""parquet_sec":$pqSec,"parquet_docs_per_sec":${nDocs / pqSec},""" +
      s""""expr_sec":$exprSec,"expr_docs_per_sec":${nDocs / exprSec},""" +
      s""""fused_sec":$fusedSec,"fused_docs_per_sec":${nDocs / fusedSec},""" +
      s""""pipeline_sec":$pipeSec,"pipeline_docs_per_sec":${nDocs / pipeSec}}""")
    spark.stop()
  }
}
