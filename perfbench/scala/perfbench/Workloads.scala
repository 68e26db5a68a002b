package perfbench

import graft.cli.Main
import graft.extract.{Extract, ExtractSpansExpr, ExtractTitleExpr}
import graft.gloss.Classify
import graft.model.{Doc, Span}
import graft.synth.Synth
import graft.threads.Threads
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** What one job left behind for its output check: the verb's stdout and,
  * for a verb run with `--out`, the table directory.
  */
final case class JobOut(text: String, outDir: Option[Path])

/** Result of an output check: operations checked and how many failed. */
final case class Checked(attempted: Int, failed: Int, notes: Seq[String]) {
  def +(o: Checked): Checked = Checked(attempted + o.attempted, failed + o.failed, notes ++ o.notes)
}

object Checked {
  val empty: Checked = Checked(0, 0, Nil)
  def one(ok: Boolean, what: => String): Checked =
    if (ok) Checked(1, 0, Nil) else Checked(1, 1, Seq(what))
}

/** One benchmark workload. Inputs are generated under `work` from the seed,
  * before anything is timed; `job` is the timed unit; every check runs
  * outside the timed region.
  */
abstract class Workload(val work: Path) {
  def name: String
  /** Input documents of one job (the docs_per_s numerator). */
  def docs: Long
  /** Whether the verb loads the glossary (then set-up includes its parse). */
  def usesGlossary: Boolean
  /** Untimed, checked jobs before the measured ones: job time keeps
    * falling while the JIT compiles the hot paths, and the compiler
    * threads compete with the task threads for the cores.
    */
  def warmupJobs: Int
  /** Write the inputs (untimed). */
  def generate(): Unit
  /** Compute what the checks compare against, and run the once-per-run
    * checks that do not depend on a timed job.
    */
  def expect(spark: SparkSession): Checked
  /** One unit of work, as a user runs it. */
  def job(spark: SparkSession, tag: String): JobOut
  /** Check one job's output, then drop what it wrote. */
  def check(spark: SparkSession, out: JobOut): Checked
  /** Traced re-composition of one job from the layer functions the job
    * calls; returns its output (for the fidelity check against `job`) and
    * the per-layer counters it measured.
    */
  def traced(spark: SparkSession, tr: Tracer): (JobOut, Map[String, Double])
  /** Once-per-traced-run measurements beyond the composition, with their checks. */
  def traceExtras(spark: SparkSession, probe: Probe): (Map[String, Double], Checked) = (Map.empty, Checked.empty)
  /** Documents for the single-thread kernel timings. */
  def kernelSample: Seq[Doc]
  /** Negative control: the same output, corrupted. */
  def mutate(out: JobOut): JobOut = out.copy(text = "corrupted:" + out.text.drop(1))
  /** Whether two outputs of this workload are the same result. */
  def sameOutput(spark: SparkSession, a: JobOut, b: JobOut): Boolean = a.text == b.text
}

object Workload {
  /** Input sizes. A run pays a cold set-up, warm-up jobs and a measured
    * window; these sizes let that fit the benchmark's run budget on a
    * 4-core host with several measured jobs (top ~2.1 s, languages ~4.5 s).
    */
  val TopDocs = 10000L
  val HtmlFiles = 1000
  val Buckets = 4 // commit units of the --out table
  val KernelSampleDocs = 2000

  val names: Seq[String] = Seq("top-parquet", "languages-htmldir-out")

  def apply(name: String, seed: Long, work: Path): Workload = name match {
    case "top-parquet"           => new TopParquet(seed, work)
    case "languages-htmldir-out" => new LanguagesHtmlDir(seed, work)
    case other => throw new IllegalArgumentException(s"unknown workload '$other' (one of ${names.mkString(", ")})")
  }

  /** Run `Main.run` with its stdout captured. */
  def runVerb(spark: SparkSession, verb: String, opts: Map[String, String]): String = {
    val buf = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(buf, true, "UTF-8"))(Main.run(spark, verb, opts))
    buf.toString("UTF-8")
  }

  // the CLI's JSON string quoting, for the expected frames
  def jsonStr(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"; case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""

  def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.iterator().asScala.toSeq.reverse.foreach(Files.delete)
      finally s.close()
    }

  def files(p: Path): Seq[Path] =
    if (!Files.exists(p)) Nil
    else {
      val s = Files.walk(p)
      try s.iterator().asScala.filter(Files.isRegularFile(_)).toSeq.sortBy(_.toString)
      finally s.close()
    }

  def mb(bytes: Long): Double = bytes / 1e6

  /** Median seconds per item of `reps` timed passes over `xs` (after one
    * warm-up pass), single-threaded on the driver.
    */
  def perItemSeconds[A](xs: Seq[A], reps: Int = 5)(f: A => Any): Double = {
    var sink = 0
    def pass(): Double = {
      val t0 = System.nanoTime()
      xs.foreach(x => if (f(x) != null) sink += 1)
      (System.nanoTime() - t0) / 1e9
    }
    pass()
    val s = Stats.median((1 to reps).map(_ => pass()))
    if (sink < 0) println(sink) // keeps the results observable
    s / math.max(1, xs.length)
  }

  /** Single-thread kernel timings over a document sample:
    * fuse (Extract.fuse), html (StreamEmitter.emitStreamingBytes),
    * lang (LangId.detect), per input document; and the classify kernel
    * (Classify.classifyCore), per extracted document, with an IDF table
    * counted over the sample's own titles.
    */
  def kernels(sample: Seq[Doc], dicts: Classify.Dicts): Map[String, Double] = {
    import graft.html.StreamEmitter
    val nonEmpty = sample.filter(d => d.spans != null && d.spans.nonEmpty)
    val fused = nonEmpty.map(d => Extract.fuse(d.spans))
    val bytes = fused.map(f => (f.stream.getBytes(UTF_8), f.media))
    val results = bytes.map { case (b, m) => StreamEmitter.emitStreamingBytes(b, b.length, m) }
    val langIn = results.filter(_.title.nonEmpty).map { r =>
      r.title + " " + r.spans.iterator.filter(_.kind == "text").map(_.text).take(3).mkString(" ")
    }
    val titles = results.flatMap(r => Extract.gate(r).map(_._2))
    val vocabSet = (dicts.themes.vocabulary ++ dicts.entities.vocabulary).toSet
    val idf = graft.gloss.TokenIdf(
      titles.flatMap(t => graft.extract.TitleKey.tokens(t).distinct.filter(vocabSet))
        .groupBy(identity).map { case (k, v) => k -> v.length.toLong }, titles.length.toLong)
    val n = math.max(1, sample.length).toDouble
    val fuseS = perItemSeconds(nonEmpty)(d => Extract.fuse(d.spans)) * nonEmpty.length / n
    val htmlS = perItemSeconds(bytes) { case (b, m) => StreamEmitter.emitStreamingBytes(b, b.length, m) } * bytes.length / n
    val langS = perItemSeconds(langIn)(graft.lang.LangId.detect) * langIn.length / n
    val glossS = perItemSeconds(titles)(t => Classify.classifyCore(t, dicts, idf))
    Map("extract.fuse_us_per_doc" -> fuseS * 1e6, "html.us_per_doc" -> htmlS * 1e6,
      "lang.us_per_doc" -> langS * 1e6, "gloss.kernel_us_per_doc" -> glossS * 1e6)
  }

  /** The dictionary vocabulary the IDF table is restricted to. */
  def vocab(dicts: Classify.Dicts): Double =
    (dicts.themes.vocabulary ++ dicts.entities.vocabulary).toSet.size.toDouble
}

/** `top` over a materialized synthetic parquet corpus, no `--out`. */
final class TopParquet(seed: Long, work: Path) extends Workload(work) {
  import Workload._
  val name = "top-parquet"
  val docs: Long = TopDocs
  val usesGlossary = true
  val warmupJobs = 4
  private val corpus = work.resolve("corpus").toString
  private var expected: String = _

  /** The corpus as 32 parquet files of (doc_id, spans), the schema Spark
    * writes for a Dataset[Doc]. Written with parquet-mr directly: a Spark
    * session would cost more than the writing.
    */
  def generate(): Unit = {
    import org.apache.parquet.example.data.simple.SimpleGroupFactory
    import org.apache.parquet.hadoop.example.ExampleParquetWriter
    import org.apache.parquet.hadoop.metadata.CompressionCodecName
    val schema = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
      """message spark_schema {
        |  optional binary doc_id (STRING);
        |  optional group spans (LIST) {
        |    repeated group list {
        |      optional group element {
        |        optional binary kind (STRING);
        |        optional binary text (STRING);
        |        optional binary media_ref (STRING);
        |        required int32 offset;
        |      }
        |    }
        |  }
        |}""".stripMargin)
    val rows = new SimpleGroupFactory(schema)
    val nStories = math.max(8, (docs / 50).toInt)
    val files = 32
    Files.createDirectories(java.nio.file.Paths.get(corpus))
    (0 until files).foreach { f =>
      val w = ExampleParquetWriter.builder(new org.apache.hadoop.fs.Path(f"$corpus/part-$f%05d.snappy.parquet"))
        .withType(schema).withCompressionCodec(CompressionCodecName.SNAPPY).build()
      try (f.toLong until docs by files.toLong).foreach { i =>
        val t = Synth.gen(seed, i, nStories)
        val g = rows.newGroup().append("doc_id", t.doc_id)
        val list = g.addGroup("spans")
        t.input.foreach { sp =>
          val e = list.addGroup("list").addGroup("element")
          Seq("kind" -> sp.kind, "text" -> sp.text, "media_ref" -> sp.media_ref)
            .foreach { case (k, v) => if (v != null) e.append(k, v) }
          e.append("offset", sp.offset)
        }
        w.write(g)
      } finally w.close()
    }
  }

  /** The verb's output recomputed through the typed spec path. */
  private def specTop(spark: SparkSession): String = {
    import spark.implicits._
    val extracted = Extract.run(spark.read.parquet(corpus).as[Doc]).toDF()
      .select("doc_id", "lang", "title_norm").persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val bc = Classify.dictsBroadcast(spark)
      val bcIdf = spark.sparkContext.broadcast(
        Classify.idfFromTable(Classify.dfTableSlim(extracted, bc.value)))
      val th = Threads.threads(Classify.runWithIdfSlimTyped(extracted, bc, bcIdf))
      frames(Threads.top(th).select($"category", $"rank", $"title_norm", $"articles")
        .as[(String, Int, String, Seq[String])].collect())
    } finally extracted.unpersist()
  }

  private def frames(rows: Array[(String, Int, String, Seq[String])]): String = {
    val fs = rows.groupBy(_._1).toSeq.sortBy {
      case ("any", _) => ""
      case (c, _)     => c
    }.map { case (cat, ts) =>
      val threads = ts.sortBy(_._2).map { case (_, _, t, a) =>
        s"""{"title": ${jsonStr(t)}, "articles": [${a.map(jsonStr).mkString(", ")}]}"""
      }
      s"""{"category": ${jsonStr(cat)}, "threads": [${threads.mkString(", ")}]}"""
    }
    fs.mkString("[\n", ",\n", "\n]") + "\n"
  }

  def expect(spark: SparkSession): Checked = {
    expected = specTop(spark)
    // extraction fields against the generator's ground truth
    val got = ExtractTitleExpr.run(spark.read.parquet(corpus)).collect()
      .map(r => (r.getString(0), r.getString(1), r.getString(2))).toSet
    val nStories = math.max(8, (docs / 50).toInt)
    val truth = (0L until docs).iterator.map(Synth.gen(seed, _, nStories)).filter(_.kept)
      .map(t => (t.doc_id, t.lang, t.title_norm)).toSet
    val diff = (got diff truth).size + (truth diff got).size
    Checked.one(diff == 0, s"extraction differs from Synth.truths on $diff rows") +
      Checked.one(expected.contains("\"category\": \"any\""), "spec output has no 'any' frame")
  }

  def job(spark: SparkSession, tag: String): JobOut =
    JobOut(runVerb(spark, "top", Map("input" -> corpus)), None)

  def check(spark: SparkSession, out: JobOut): Checked =
    Checked.one(out.text == expected, "top stdout differs from the typed spec path")

  def traced(spark: SparkSession, tr: Tracer): (JobOut, Map[String, Double]) = {
    import spark.implicits._
    val bc = Classify.dictsBroadcast(spark)
    var kept = 0L
    val (text, input, classified, th, cached) = tr.span("job") {
      val input = tr.span("sources")(spark.read.parquet(corpus))
      val extracted = tr.span("extract") {
        val e = ExtractTitleExpr.run(input).persist(StorageLevel.MEMORY_AND_DISK)
        kept = e.count()
        e
      }
      val idf = tr.span("gloss.idf")(Classify.idfFromTable(Classify.dfTableSlim(extracted, bc.value)))
      val classified = tr.span("gloss.classify") {
        val c = Classify.runWithIdfSlim(extracted, bc, spark.sparkContext.broadcast(idf))
          .persist(StorageLevel.MEMORY_AND_DISK)
        c.count()
        c
      }
      val (th, top) = tr.span("threads") {
        val th = Threads.threads(classified).persist(StorageLevel.MEMORY_AND_DISK)
        th.count()
        val top = Threads.top(th).persist(StorageLevel.MEMORY_AND_DISK)
        top.count()
        (th, top)
      }
      val text = tr.span("cli") {
        frames(top.select($"category", $"rank", $"title_norm", $"articles")
          .as[(String, Int, String, Seq[String])].collect())
      }
      (text, input, classified, th, Seq(top, th, classified, extracted))
    }
    // layer counters, read from the caches before release
    spark.sparkContext.setJobGroup("counters", "counters")
    val counters = Map(
      "extract.docs_in" -> docs.toDouble,
      "extract.docs_kept" -> kept.toDouble,
      "gloss.categorized_ratio" -> classified.filter($"category" =!= "").count() / math.max(1.0, kept.toDouble),
      "threads.count" -> th.count().toDouble,
      "threads.max_size" -> th.agg(coalesce(max($"size"), lit(0L))).head().getLong(0).toDouble,
      "sources.files" -> files(java.nio.file.Paths.get(corpus)).count(_.toString.endsWith(".parquet")).toDouble,
      "sources.partitions" -> input.rdd.getNumPartitions.toDouble)
    spark.sparkContext.clearJobGroup()
    cached.foreach(_.unpersist())
    (JobOut(text, None), counters)
  }

  /** The sweep leaves (Sweep.TracedLeaves) ride along in this workload's traced run. */
  override def traceExtras(spark: SparkSession, probe: Probe): (Map[String, Double], Checked) =
    Sweep.traced(spark, probe)

  def kernelSample: Seq[Doc] = {
    val nStories = math.max(8, (docs / 50).toInt)
    (0 until KernelSampleDocs).map { i => val t = Synth.gen(seed, i, nStories); Doc(t.doc_id, t.input) }
  }
}

/** `languages --htmldir <generated .html files> --out <fresh dir>`. */
final class LanguagesHtmlDir(seed: Long, work: Path) extends Workload(work) {
  import Workload._
  val name = "languages-htmldir-out"
  val docs: Long = HtmlFiles.toLong
  val usesGlossary = false
  val warmupJobs = 1
  private val htmlDir = work.resolve("html")
  private var expectedText: String = _
  private var expectedTable: Digest = _
  private var lastOut: Option[Path] = None

  private def escape(s: String): String =
    s.replace("&", "&amp;").replace("\"", "&quot;").replace("<", "&lt;")

  /** One HTML file per synthetic doc: its html chunks in order, each media
    * reference as an <img>. Files go into dated sub-directories, the
    * layout the reference's `tgnews <verb> <dir>` walks.
    */
  def generate(): Unit = {
    val nStories = math.max(8, HtmlFiles / 50)
    (0 until HtmlFiles).foreach { i =>
      val t = Synth.gen(seed, i.toLong, nStories)
      val html = t.input.sortBy(_.offset).map { s =>
        if (s.kind == "media") s"""<img src="${escape(s.media_ref)}" alt="${escape(s.text)}">"""
        else s.text
      }.mkString
      val dir = htmlDir.resolve(f"202001${i / 200 + 1}%02d")
      Files.createDirectories(dir)
      Files.writeString(dir.resolve(s"${t.doc_id}.html"), html, UTF_8)
    }
  }

  private def docId(p: Path): String = "file:" + p.toAbsolutePath.normalize.toString

  private def readDocs(limit: Int = Int.MaxValue): Seq[Doc] =
    files(htmlDir).take(limit).map { p =>
      Doc(docId(p), Array(Span("html", new String(Files.readAllBytes(p), UTF_8), "", 0)))
    }

  def expect(spark: SparkSession): Checked = {
    val ext = readDocs().flatMap(Extract.extractOne)
    val byLang = ext.groupBy(_.lang).map { case (l, ds) => l -> ds.map(_.doc_id).sorted }
    expectedText = Seq("en", "ru").map { l =>
      s"""{"lang_code": ${jsonStr(l)}, "articles": [${byLang.getOrElse(l, Nil).map(jsonStr).mkString(", ")}]}"""
    }.mkString("[\n", ",\n", "\n]") + "\n"
    expectedTable = Digest.ofRows(ext.map { d =>
      Row(d.doc_id, d.lang, d.title_norm, d.spans.toSeq.map(s => Row(s.kind, s.text, s.media_ref, s.offset)))
    })
    Checked.one(ext.nonEmpty && ext.length < HtmlFiles, s"expected ${ext.length} kept of $HtmlFiles")
  }

  private def outDir(tag: String): Path = work.resolve(s"out-$tag")
  private def opts(out: Path) = Map("htmldir" -> htmlDir.toString, "out" -> out.toString, "buckets" -> Buckets.toString)

  def job(spark: SparkSession, tag: String): JobOut = {
    val out = outDir(tag)
    JobOut(runVerb(spark, "languages", opts(out)), Some(out))
  }

  private def tableDigest(spark: SparkSession, out: Path): Digest =
    Digest.of(graft.tablefmt.Checkpoint.readCommitted(spark, out.toString)
      .select("doc_id", "lang", "title_norm", "spans"))

  private def manifests(out: Path): Map[String, String] =
    files(out.resolve("_manifest")).map(p => p.getFileName.toString -> Files.readString(p)).toMap

  def check(spark: SparkSession, out: JobOut): Checked = {
    val dir = out.outDir.get
    val units = graft.tablefmt.Checkpoint.committedUnits(dir.toString).size
    val c = Checked.one(out.text == expectedText, "languages stdout differs from extractOne") +
      Checked.one(units == Buckets && tableDigest(spark, dir).matches(expectedTable),
        s"committed table ($units units) differs from extractOne span sequences")
    // keep the latest completed table for the rerun check
    lastOut.foreach(deleteTree)
    lastOut = Some(dir)
    c
  }

  /** Rerun the verb on the last completed `--out`: it must recompute no
    * unit and print the same frames. Returns (seconds, units recomputed, check).
    */
  def rerun(spark: SparkSession): (Double, Int, Checked) = lastOut match {
    case None => (0.0, 0, Checked.one(ok = false, "no completed table to rerun on"))
    case Some(dir) =>
      val before = manifests(dir)
      val t0 = System.nanoTime()
      val text = runVerb(spark, "languages", opts(dir))
      val s = (System.nanoTime() - t0) / 1e9
      val after = manifests(dir)
      val changed = (before.keySet ++ after.keySet).count(k => before.get(k) != after.get(k))
      (s, changed, Checked.one(changed == 0 && text == expectedText,
        s"rerun on a completed table recomputed $changed units"))
  }

  override def sameOutput(spark: SparkSession, a: JobOut, b: JobOut): Boolean =
    a.text == b.text && tableDigest(spark, a.outDir.get).matches(tableDigest(spark, b.outDir.get))

  def traced(spark: SparkSession, tr: Tracer): (JobOut, Map[String, Double]) = {
    import spark.implicits._
    val out = outDir(s"traced-${System.nanoTime()}")
    var counters = Map.empty[String, Double]
    var tableWritten = 0L
    val text = tr.span("job") {
      val docsIn = tr.span("sources") {
        val d = graft.sources.HtmlDirSource.read(spark, htmlDir.toString)
        counters += "sources.partitions" -> d.rdd.getNumPartitions.toDouble
        d
      }
      val extracted = tr.span("extract") {
        val e = ExtractSpansExpr.run(docsIn.toDF()).persist(StorageLevel.MEMORY_AND_DISK)
        counters += "extract.docs_kept" -> e.count().toDouble
        e
      }
      val report = tr.span("tablefmt") {
        graft.tablefmt.Checkpoint.resume(spark,
          extracted.select(col("doc_id"), col("lang"), col("title_norm"), col("spans")),
          "doc_id", identity, out.toString, Buckets)
      }
      val text = tr.span("cli") {
        val byLang = extracted.select($"lang", $"doc_id").as[(String, String)].groupByKey(_._1)
          .mapGroups((l, it) => (l, it.map(_._2).take(Main.MaxCliRows).toArray.sorted))
          .collect().toMap
        Seq("en", "ru").map { l =>
          s"""{"lang_code": ${jsonStr(l)}, "articles": [${byLang.getOrElse(l, Array.empty[String]).map(jsonStr).mkString(", ")}]}"""
        }.mkString("[\n", ",\n", "\n]") + "\n"
      }
      extracted.unpersist()
      val dataFiles = files(out.resolve("data")).filter(_.getFileName.toString.startsWith("part-"))
      tableWritten = dataFiles.map(Files.size).sum
      counters ++= Map(
        "extract.docs_in" -> docs.toDouble,
        "sources.files" -> files(htmlDir).length.toDouble,
        "tablefmt.units" -> report.unitsCommitted.length.toDouble,
        "tablefmt.files_written" -> dataFiles.length.toDouble,
        "tablefmt.table_bytes" -> tableWritten.toDouble) // internal: the write_amp base
      text
    }
    (JobOut(text, Some(out)), counters)
  }

  override def traceExtras(spark: SparkSession, probe: Probe): (Map[String, Double], Checked) = {
    val (s, units, c) = rerun(spark)
    (Map("tablefmt.rerun_s" -> s, "tablefmt.rerun_units" -> units.toDouble), c)
  }

  def kernelSample: Seq[Doc] = readDocs(KernelSampleDocs)

  def cleanup(out: JobOut): Unit = out.outDir.foreach(deleteTree)
}

/** SparkEntry.queries over the checked-in sf0.01 tables, each result
  * collected and compared with the digest recorded from the seed tree
  * (whose outputs on these tables match the DuckDB oracle).
  */
object Sweep {
  val Dir = "perfbench/data/sf0.01" // relative: the benchmark runs from the repository root
  val ExpectedFile = "perfbench/expected/sweep_sf0.01.json"
  val queries: Seq[(String, (SparkSession, String) => DataFrame)] = graft.SparkEntry.queries.toSeq.sortBy(_._1)
  /** The leaves the traced run times: the ROADMAP's largest leaves and
    * one leaf of every family no workload reaches (ops, relational, ANN,
    * media, PDF). The full 52-leaf sweep takes ~25 s warm and ~55 s cold
    * on a 4-core host, more than a run can spend.
    */
  val TracedLeaves: Seq[String] = Seq("ext_categories", "ext_threads_fuzzy", "doc_curated",
    "doc_neardup_groups", "q12_percentiles", "ann_ivf_topk", "media_meta", "pdf_lang_split")

  private val fns = queries.toMap

  /** `body` in a fresh session whose caches are cleared afterwards. */
  private def inFreshSession[T](spark: SparkSession)(body: SparkSession => T): T = {
    val sess = spark.newSession()
    try body(sess) finally sess.catalog.clearCache()
  }

  private def rows(sess: SparkSession, name: String): Seq[Row] = fns(name)(sess, Dir).collect().toSeq

  /** One sweep. */
  def digests(spark: SparkSession, names: Seq[String] = queries.map(_._1)): Map[String, Digest] =
    inFreshSession(spark)(sess => names.map(n => n -> Digest.ofRows(rows(sess, n))).toMap)

  def traced(spark: SparkSession, probe: Probe): (Map[String, Double], Checked) = {
    val expected = Digest.readJson(java.nio.file.Paths.get(ExpectedFile))
    val tr = new Tracer(spark.sparkContext)
    val got = inFreshSession(spark)(sess =>
      TracedLeaves.map(n => n -> tr.span(s"query.$n")(scala.util.Try(rows(sess, n)))).toMap)
    probe.take(tr.spans.map(_.name): _*)
    // digests after the spans: hashing the rows is check work, not the query's
    val checked = TracedLeaves.map { n =>
      got(n) match {
        case scala.util.Success(rows) =>
          val d = Digest.ofRows(rows)
          Checked.one(expected.get(n).exists(d.matches), s"sweep $n: $d != expected ${expected.get(n)}")
        case scala.util.Failure(e) => Checked.one(ok = false, s"sweep $n: ${e.getMessage}")
      }
    }.reduce(_ + _)
    (tr.spans.map(s => s"${s.name}_s" -> s.durNs / 1e9).toMap, checked)
  }
}
