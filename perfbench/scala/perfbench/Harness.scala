package perfbench

import org.apache.spark.sql.SparkSession

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The metrics BENCHMARK.json declares (read from the repository root,
  * where the benchmark runs), in its order.
  */
object Declared {
  final case class M(name: String, unit: String)

  private lazy val root = new com.fasterxml.jackson.databind.ObjectMapper().readTree(new java.io.File("BENCHMARK.json"))
  private def list(key: String): Seq[M] =
    root.get(key).elements().asScala.map(n => M(n.get("name").asText, n.get("unit").asText)).toSeq

  lazy val endToEnd: Seq[M] = list("end_to_end")
  lazy val perLayer: Seq[M] = list("per_layer")
}

object Session {
  /** The CLI's session (local[nproc], nproc shuffle partitions, AQE), with
    * Spark's scratch space kept inside the benchmark's work directory.
    */
  def build(work: Path): SparkSession = {
    val cores = Runtime.getRuntime.availableProcessors
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toAbsolutePath.toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toAbsolutePath.toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}

/** Benchmark entry point (run through perfbench/run.py).
  *
  * {{{
  *   --mode generate --workload <name> --seed <n> --work <dir>   (writes the inputs, in its own JVM)
  *   --mode run    --workload <name> --seed <n> --seconds <s> --trace 0|1 --work <dir> [--mutate 1]
  *   --mode record-expected --work <dir>   (writes perfbench/expected/sweep_sf0.01.json)
  *   --mode confirm-expected --work <dir> --verify-out <dir>   (recorded digests ≡ graft.Verify's dump)
  *   --mode selftest
  * }}}
  */
object Harness {
  /** The layer spans of a traced job; each has s, cpu_s, tasks and shuffle_mb metrics. */
  val Spans: Seq[String] = Seq("sources", "extract", "gloss.idf", "gloss.classify", "threads", "tablefmt", "cli")
  val MinJobs = 3
  /** Sampling stops once a run has used this much wall time (and has
    * MinJobs samples), so a run ends well inside its time limit.
    */
  val WallBudgetS = 120.0

  def main(args: Array[String]): Unit = {
    val o = args.sliding(2, 2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def work = Paths.get(o("work"))
    o.getOrElse("mode", "run") match {
      case "run" =>
        run(o("workload"), o("seed").toLong, o("seconds").toDouble, o("trace") == "1", work,
          o.get("mutate").contains("1"))
      case "generate" => Workload(o("workload"), o("seed").toLong, work).generate()
      case "record-expected" => recordExpected(work)
      case "confirm-expected" => confirmExpected(work, Paths.get(o("verify-out")))
      case "selftest" => SelfTest.main(Array.empty)
      case other => throw new IllegalArgumentException(s"unknown mode $other")
    }
  }

  private def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** One cold set-up as a one-shot user pays it, in a JVM that has done
    * nothing else: session build, glossary parse + broadcast (for verbs
    * that classify), and the first job. Returns its seconds, the session and the job's output.
    */
  def coldSetup(workload: String, seed: Long, work: Path, tag: String): (Double, SparkSession, JobOut) = {
    val t0 = System.nanoTime()
    val spark = Session.build(work)
    val w = Workload(workload, seed, work)
    if (w.usesGlossary) graft.gloss.Classify.dictsBroadcast(spark)
    val t1 = System.nanoTime()
    val out = w.job(spark, tag)
    val s = secondsSince(t0)
    log(f"cold set-up $tag: session+glossary ${(t1 - t0) / 1e9}%.2f s, first job ${secondsSince(t1)}%.2f s")
    (s, spark, out)
  }

  def log(msg: String): Unit = System.err.println(s"perfbench: $msg")

  final case class Sample(seconds: Double, stats: GroupStats, cacheBytes: Long, out: JobOut)

  /** One untraced job under its own job group, with its counters. */
  private def timedJob(spark: SparkSession, w: Workload, probe: Probe, tag: String): Sample = {
    probe.forgetBlocks()
    spark.sparkContext.setJobGroup(tag, tag)
    val t0 = System.nanoTime()
    val out = try w.job(spark, tag) finally spark.sparkContext.clearJobGroup()
    val s = secondsSince(t0)
    val peak = probe.cachePeak()
    Sample(s, probe.take(tag), peak, out)
  }

  def run(workload: String, seed: Long, seconds: Double, trace: Boolean, work: Path, mutate: Boolean): Unit = {
    val wall0 = System.nanoTime()
    // this JVM's own start is the first cold set-up; the inputs were
    // written by a separate JVM so that nothing has warmed this one
    val (setupS, spark, coldOut) = coldSetup(workload, seed, work, "setup")
    val w = Workload(workload, seed, work)
    val tExpect = System.nanoTime()
    var checked = w.expect(spark)
    log(f"expectations ${secondsSince(tExpect)}%.2f s")
    def checkJob(out: JobOut): Unit = checked += w.check(spark, if (mutate) w.mutate(out) else out)
    checkJob(coldOut)
    val probe = new Probe(spark.sparkContext)
    // the hot kernels first, single-threaded on a document sample: far
    // cheaper than the whole jobs it would otherwise take to compile them
    val tWarm = System.nanoTime()
    (1 to 3).foreach(_ => Workload.kernels(w.kernelSample, graft.gloss.Classify.defaultDicts))
    log(f"kernel warm-up ${secondsSince(tWarm)}%.2f s")
    (1 to w.warmupJobs).foreach { i =>
      val x = timedJob(spark, w, probe, s"warmup-$i")
      log(f"warm-up job $i: ${x.seconds}%.3f s")
      checkJob(x.out)
    }

    def sample(maxSeconds: Double): Seq[Sample] = {
      val xs = mutable.ArrayBuffer.empty[Sample]
      while (xs.length < MinJobs || (xs.map(_.seconds).sum < maxSeconds && secondsSince(wall0) < WallBudgetS)) {
        val x = timedJob(spark, w, probe, s"job-${xs.length}")
        log(f"job ${xs.length}: ${x.seconds}%.3f s, task cpu ${x.stats.cpuNs / 1e9}%.2f s, task run ${x.stats.runMs / 1e3}%.2f s")
        xs += x
        checkJob(x.out)
      }
      xs.toSeq
    }
    def med(xs: Seq[Double]): Double = Stats.median(xs)

    val (metrics, counts): (Seq[(String, Double, String)], Map[String, Int]) =
      if (!trace) {
        val xs = sample(seconds)
        w match { case l: LanguagesHtmlDir => checked += l.rerun(spark)._3; case _ => () }
        val jobS = med(xs.map(_.seconds))
        val values = Map("job_s" -> jobS, "docs_per_s" -> w.docs / jobS,
          "cpu_s" -> med(xs.map(_.stats.cpuNs / 1e9)), "setup_s" -> setupS,
          "cache_mb" -> med(xs.map(x => Workload.mb(x.cacheBytes))))
        (Declared.endToEnd.map(m => (m.name, values(m.name), m.unit)),
          Map("job_s" -> xs.length, "cpu_s" -> xs.length, "cache_mb" -> xs.length, "setup_s" -> 1))
      } else {
        // untraced and traced jobs alternate, so both see the same warm-up
        val refs = mutable.ArrayBuffer.empty[Sample]
        val reps = mutable.ArrayBuffer.empty[Map[String, Double]]
        while (refs.length < MinJobs ||
          (refs.map(_.seconds).sum + reps.map(_("trace.total_s")).sum < seconds && secondsSince(wall0) < WallBudgetS)) {
          val x = timedJob(spark, w, probe, s"job-${refs.length}")
          refs += x
          checkJob(x.out)
          val (rep, fidelity) = tracedOnce(spark, w, probe, x.out)
          reps += rep
          checked += fidelity
        }
        val (layer, extraChecks) = perLayer(spark, w, probe, refs.toSeq, reps.toSeq)
        checked += extraChecks
        (Declared.perLayer.map(m => (m.name, layer.getOrElse(m.name, 0.0), m.unit)),
          Map("untraced_jobs" -> refs.length, "traced_jobs" -> reps.length))
      }
    probe.close()
    log(f"measured in ${secondsSince(wall0)}%.1f s")
    spark.stop()
    Workload.deleteTree(work.resolve("spark-local"))

    System.err.println(checked.notes.take(20).mkString("\n"))
    println(s"""{"workload": "$workload", "seed": $seed, "trace": $trace, "samples": ${
      counts.map { case (k, v) => s""""$k": $v""" }.mkString("{", ", ", "}")}}""")
    val ms = metrics.map { case (n, v, u) => s""""$n": {"value": ${fmt(v)}, "unit": "$u"}""" }.mkString(", ")
    println(s"""{"correct": ${checked.failed == 0}, "attempted": ${checked.attempted}, "failed": ${checked.failed}, "metrics": {$ms}}""")
  }

  private def fmt(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.lang.Double.toString(v)

  /** One traced composition: its per-layer values, and whether its output
    * equals the untraced job's `ref`.
    */
  private def tracedOnce(spark: SparkSession, w: Workload, probe: Probe, ref: JobOut): (Map[String, Double], Checked) = {
    val tr = new Tracer(spark.sparkContext)
    val (out, counters) = w.traced(spark, tr)
    val groups = Spans.map(n => n -> probe.take(n)).toMap
    probe.take(("job" +: "counters" +: tr.spans.map(_.name)).distinct: _*) // the rest of this job's groups
    val fidelity = Checked.one(w.sameOutput(spark, ref, out), s"traced ${w.name} output differs from the untraced job")
    w match { case l: LanguagesHtmlDir => l.cleanup(out); case _ => () }
    val self = Trace.selfSecondsByName(tr.spans)
    val spans = Spans.flatMap { n =>
      val g = groups(n)
      Seq(s"$n.s" -> self.getOrElse(n, 0.0), s"$n.cpu_s" -> g.cpuNs / 1e9,
        s"$n.tasks" -> g.tasks.toDouble, s"$n.shuffle_mb" -> Workload.mb(g.shuffleBytes))
    }
    val (extract, tablefmt) = (groups("extract"), groups("tablefmt"))
    val tableBytes = counters.getOrElse("tablefmt.table_bytes", 0.0)
    (counters ++ spans ++ Map(
      "trace.total_s" -> tr.spans.filter(_.name == "job").map(_.durNs / 1e9).sum,
      "extract.core_us_per_doc" -> extract.runMs * 1000.0 / w.docs,
      "extract.task_skew" -> extract.taskSkew,
      "tablefmt.write_mb" -> Workload.mb(tablefmt.writtenBytes),
      "tablefmt.write_amp" -> (if (tableBytes > 0) tablefmt.writtenBytes / tableBytes else 0.0)), fidelity)
  }

  /** Per-layer values: medians over the traced compositions, the kernel
    * timings, program-level Spark counters from the untraced jobs, and the
    * workload's extras.
    */
  private def perLayer(spark: SparkSession, w: Workload, probe: Probe, refs: Seq[Sample],
                       reps: Seq[Map[String, Double]]): (Map[String, Double], Checked) = {
    val layer = reps.flatMap(_.keySet).distinct.map(k => k -> Stats.median(reps.map(_.getOrElse(k, 0.0)))).toMap
    val kern = Workload.kernels(w.kernelSample, graft.gloss.Classify.defaultDicts)
    val cores = Runtime.getRuntime.availableProcessors
    def refMed(f: Sample => Double): Double = Stats.median(refs.map(f))
    val (extras, checked) = w.traceExtras(spark, probe)
    (layer ++ kern ++ extras ++ Map(
      "extract.outside_kernel_us_per_doc" ->
        (layer("extract.core_us_per_doc") - kern("extract.fuse_us_per_doc") - kern("html.us_per_doc") - kern("lang.us_per_doc")),
      "spark.core_busy" -> refMed(x => x.stats.runMs / 1000.0 / (x.seconds * cores)),
      "spark.jobs" -> refMed(_.stats.jobs.toDouble),
      "spark.tasks" -> refMed(_.stats.tasks.toDouble),
      "spark.gc_s" -> refMed(_.stats.gcMs / 1000.0),
      "spark.spill_mb" -> refMed(x => Workload.mb(x.stats.spillBytes)),
      "gloss.vocab" -> Workload.vocab(graft.gloss.Classify.defaultDicts),
      "cli.stdout_kb" -> refs.last.out.text.getBytes("UTF-8").length / 1000.0,
      "trace.overhead_s" -> (layer("trace.total_s") - refMed(_.seconds))), checked)
  }

  /** Record the sweep's expected digests from two sweeps that must agree. */
  def recordExpected(work: Path): Unit = {
    val spark = Session.build(work)
    val a = Sweep.digests(spark)
    val b = Sweep.digests(spark)
    val unstable = a.keys.filterNot(k => a(k).matches(b(k)))
    require(unstable.isEmpty, s"queries with unstable digests: ${unstable.mkString(", ")}")
    val path = Paths.get(Sweep.ExpectedFile)
    Files.writeString(path, Digest.toJson(a.toSeq))
    spark.stop()
    println(s"wrote ${a.size} digests to $path")
  }

  /** Compare the recorded digests with the query outputs graft.Verify
    * dumped for the same tables (the dump tools/check_oracle.py compares
    * with DuckDB); exits non-zero on any difference.
    */
  def confirmExpected(work: Path, verifyOut: Path): Unit = {
    val spark = Session.build(work)
    val expected = Digest.readJson(Paths.get(Sweep.ExpectedFile))
    val bad = Sweep.queries.map(_._1).filterNot { n =>
      expected.get(n).exists(_.matches(Digest.of(spark.read.parquet(verifyOut.resolve(n).toString))))
    }
    spark.stop()
    println(s"${expected.size - bad.size}/${expected.size} recorded digests equal graft.Verify's output" +
      (if (bad.isEmpty) "" else s"; differing: ${bad.mkString(", ")}"))
    if (bad.nonEmpty) sys.exit(1)
  }
}
