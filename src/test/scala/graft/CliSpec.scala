package graft

import graft.cli.Main
import graft.synth.Synth
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** CLI verbs produce the reference's JSON shapes with contents matching
  * ground truth (printer.rs:6-62 framing; glossary.rs:218-278 shapes).
  */
class CliSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  private def stdoutOf(verb: String, opts: Map[String, String]): String = {
    val buf = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(buf, true, "UTF-8")) {
      Main.run(spark, verb, opts)
    }
    buf.toString("UTF-8")
  }

  private def runVerb(verb: String, n: Long): String =
    stdoutOf(verb, Map("synth" -> n.toString))

  /** Every relative path under a table, plus the bytes of every manifest. */
  private def snapshot(out: String): Map[String, String] = {
    val root = java.nio.file.Paths.get(out)
    val walk = java.nio.file.Files.walk(root)
    try walk.iterator().asScala.map { p =>
      val rel = root.relativize(p).toString
      rel -> (if (rel.startsWith("_manifest") && java.nio.file.Files.isRegularFile(p))
        java.nio.file.Files.readString(p) else "")
    }.toMap
    finally walk.close()
  }

  test("malformed arguments fail fast instead of being silently dropped (VERDICT r4 item 6)") {
    // a dangling flag (odd arg count) must not silently vanish — a typo'd
    // `--fuzzy` with no value would otherwise run exact clustering
    val e1 = intercept[IllegalArgumentException] {
      Main.parseOpts(Array("--synth", "100", "--fuzzy"))
    }
    assert(e1.getMessage.contains("--fuzzy") && e1.getMessage.contains("usage"))
    // a value where a flag belongs (e.g. missing leading --) also aborts
    val e2 = intercept[IllegalArgumentException] {
      Main.parseOpts(Array("synth", "100"))
    }
    assert(e2.getMessage.contains("synth"))
    // a flag token consumed as a VALUE (even-count list) also aborts:
    // `threads --fuzzy --out` must not pair fuzzy="--out" and silently
    // run exact clustering (ADVICE r5)
    val eFlagValue = intercept[IllegalArgumentException] {
      Main.parseOpts(Array("--fuzzy", "--out"))
    }
    assert(eFlagValue.getMessage.contains("--fuzzy --out"))
    // well-formed pairs still parse
    assert(Main.parseOpts(Array("--synth", "100", "--fuzzy", "true")) ==
      Map("synth" -> "100", "fuzzy" -> "true"))
    assert(Main.parseOpts(Array.empty[String]).isEmpty)
    // non-numeric numeric options fail with a message, not a raw
    // NumberFormatException stack trace
    val e3 = intercept[IllegalArgumentException] {
      Main.run(spark, "threads", Map("synth" -> "100", "buckets" -> "lots", "out" -> "/tmp/x"))
    }
    assert(e3.getMessage.contains("--buckets"))
    val e4 = intercept[IllegalArgumentException] {
      Main.run(spark, "news", Map("synth" -> "many"))
    }
    assert(e4.getMessage.contains("--synth"))
    // out-of-range values fail loudly instead of wrapping through .toInt
    // (--buckets 4294967296 would have silently become buckets=0: an
    // empty "fully committed" table while stdout printed real threads)
    val e5 = intercept[IllegalArgumentException] {
      Main.run(spark, "threads",
        Map("synth" -> "100", "buckets" -> "4294967296", "out" -> "/tmp/x"))
    }
    assert(e5.getMessage.contains("--buckets"))
    val e6 = intercept[IllegalArgumentException] {
      Main.run(spark, "threads", Map("synth" -> "100", "buckets" -> "0", "out" -> "/tmp/x"))
    }
    assert(e6.getMessage.contains("--buckets"))
  }

  test("languages: two frames (en, ru), article sets match ground truth") {
    val out = runVerb("languages", 500L)
    val node = mapper.readTree(out)
    assert(node.isArray && node.size == 2)
    assert(node.get(0).get("lang_code").asText == "en")
    assert(node.get(1).get("lang_code").asText == "ru")
    val gotEn = (0 until node.get(0).get("articles").size)
      .map(node.get(0).get("articles").get(_).asText).toSet
    val truths = Synth.truths(spark, 42L, 500L).collect()
    val wantEn = truths.filter(t => t.kept && t.lang == "en").map(_.doc_id).toSet
    assert(gotEn == wantEn)
    val gotRu = (0 until node.get(1).get("articles").size)
      .map(node.get(1).get("articles").get(_).asText).toSet
    assert(gotRu == truths.filter(t => t.kept && t.lang == "ru").map(_.doc_id).toSet)
  }

  test("news and categories: valid JSON, news ⊆ categorized docs") {
    val news = mapper.readTree(runVerb("news", 500L))
    assert(news.get("articles").isArray)
    assert(news.get("articles").size > 0)
    val cats = mapper.readTree(runVerb("categories", 500L))
    assert(cats.isArray && cats.size > 0)
    val catNames = (0 until cats.size).map(cats.get(_).get("category").asText)
    assert(catNames == catNames.sorted)
    assert(catNames.forall(Set("society", "economy", "technology", "sports",
      "entertainment", "science", "other").contains))
  }

  test("debug: valid JSON counters consistent with ground truth") {
    val out = runVerb("debug", 400L)
    val node = mapper.readTree(out)
    val truths = Synth.truths(spark, 42L, 400L).collect()
    assert(node.get("n_input").asLong == 400L)
    assert(node.get("n_kept").asLong == truths.count(_.kept))
    assert(node.get("n_en").asLong == truths.count(t => t.kept && t.lang == "en"))
    assert(node.get("n_ru").asLong == truths.count(t => t.kept && t.lang == "ru"))
    assert(node.get("extract_classify_ms").asLong >= 0)
    // the one-pass counters equal the typed actions debug used to run
    val sp = spark
    import sp.implicits._
    val (classified, release) =
      Main.classifySteadyState(spark, Synth.corpus(spark, 42L, 400L), persistClassified = true)
    try {
      assert(node.get("n_news").asLong == classified.filter(_.is_news).count())
      assert(node.get("n_distinct_titles").asLong == classified.map(_.title_norm).distinct().count())
      assert(node.get("n_threads").asLong == graft.threads.Threads.threads(classified).count())
    } finally release()
    assert(node.get("n_news").asLong > 0 && node.get("n_threads").asLong > 0)
    // a corpus that keeps no document reads 0, not null
    val dir = java.nio.file.Files.createTempDirectory("debugempty")
    java.nio.file.Files.writeString(dir.resolve("a.html"), "<html><body><p>no title</p></body></html>")
    val empty = mapper.readTree(stdoutOf("debug", Map("htmldir" -> dir.toString)))
    assert(empty.get("n_input").asLong == 1L)
    Seq("n_kept", "n_en", "n_ru", "n_news", "n_distinct_titles", "n_threads").foreach { k =>
      assert(empty.get(k).isNumber && empty.get(k).asLong == 0L, s"$k: $empty")
    }
  }

  test("debug --synth 2000 runs in 6 Spark jobs and caches only the extraction") {
    val run = JobProbe(spark, "debug-job-count") {
      Main.run(spark, "debug", Map("synth" -> "2000"))
    }
    assert(mapper.readTree(run.stdout).get("n_input").asLong == 2000L)
    val names = run.cachedRddNames
    assert(run.jobs == 6, s"Spark jobs per debug: ${run.jobs}; cached: ${names.mkString(" | ")}")
    assert(names.size == 1 && names.head.contains("extract_title"), names.mkString(" | "))
  }

  test("threads: ≥2-member clusters sorted by size desc; top leads with 'any'") {
    val th = mapper.readTree(runVerb("threads", 800L))
    assert(th.isArray && th.size > 0)
    val sizes = (0 until th.size).map(th.get(_).get("articles").size)
    assert(sizes.forall(_ >= 2))
    assert(sizes.zip(sizes.tail).forall { case (a, b) => a >= b })
    val top = mapper.readTree(runVerb("top", 800L))
    assert(top.get(0).get("category").asText == "any")
  }

  test("a corpus change under the same --out scores with the new corpus's IDF") {
    // every run computes its own IDF: a second corpus written into the
    // same table directory must print exactly what a plain run over it
    // prints, and no IDF table is kept beside the committed one
    val out = java.nio.file.Files.createTempDirectory("idfout").toString
    def run(opts: Map[String, String]): String = {
      val buf = new java.io.ByteArrayOutputStream()
      Console.withOut(new java.io.PrintStream(buf, true, "UTF-8")) {
        Main.run(spark, "categories", opts)
      }
      buf.toString("UTF-8")
    }
    run(Map("synth" -> "300", "out" -> out))
    val grown = run(Map("synth" -> "600", "out" -> out))
    assert(grown == run(Map("synth" -> "600")))
    Seq("_idf", "_idf_fp").foreach { f =>
      assert(!java.nio.file.Files.exists(java.nio.file.Paths.get(out, f)), s"$out/$f")
    }
  }

  test("--fuzzy with --out: checkpointed table ≡ stdout threads (VERDICT r3 item 3)") {
    // commit units slice by the GLOBAL fuzzy component id, so the table
    // sink persists the same clustering the printer shows (the old sink
    // hard-coded exact-title threads under --fuzzy)
    val out = java.nio.file.Files.createTempDirectory("fuzzyout").toString
    val buf = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(buf, true, "UTF-8")) {
      Main.run(spark, "threads",
        Map("synth" -> "600", "fuzzy" -> "true", "out" -> out))
    }
    val node = mapper.readTree(buf.toString("UTF-8"))
    val stdout = (0 until node.size).map { i =>
      val t = node.get(i)
      (t.get("title").asText,
        (0 until t.get("articles").size).map(t.get("articles").get(_).asText).toSet)
    }.toSet
    val sp = spark
    import sp.implicits._
    val table = graft.tablefmt.Checkpoint.readCommitted(spark, out)
      .select($"title_norm", $"articles").as[(String, Seq[String])]
      .collect().map { case (t, a) => (t, a.toSet) }.toSet
    assert(stdout.nonEmpty)
    assert(table == stdout, "table sink diverged from the printed fuzzy clustering")
  }

  test("--validate true: input drift under committed units aborts with the bucket listing (VERDICT r5 item 6)") {
    val out = java.nio.file.Files.createTempDirectory("validateout").toString
    def run(opts: Map[String, String]): Unit = {
      val buf = new java.io.ByteArrayOutputStream()
      Console.withOut(new java.io.PrintStream(buf, true, "UTF-8")) {
        Main.run(spark, "threads", opts ++ Map("out" -> out, "buckets" -> "4"))
      }
    }
    run(Map("synth" -> "300")) // commit the table
    // same input + --validate: audit passes, resume is a manifest no-op
    run(Map("synth" -> "300", "validate" -> "true"))
    val before = snapshot(out)
    // mutated input: the audit must detect the drifted committed units
    // and refuse to extend the table
    val e = intercept[Main.DriftError] {
      run(Map("synth" -> "500", "validate" -> "true"))
    }
    assert(e.getMessage.contains("drift") && e.getMessage.contains("buckets"))
    // the refusing run left $out FULLY untouched: no file added, removed
    // or renamed, and every manifest byte-identical
    assert(snapshot(out) == before)
    // debug writes no table, but under --validate it runs the same
    // read-only audit and exits 3 on a drifted corpus (r6 review ×2)
    val eDebug = intercept[Main.DriftError] {
      val buf = new java.io.ByteArrayOutputStream()
      Console.withOut(new java.io.PrintStream(buf, true, "UTF-8")) {
        Main.run(spark, "debug",
          Map("synth" -> "500", "out" -> out, "buckets" -> "4", "validate" -> "true"))
      }
    }
    assert(eDebug.getMessage.contains("drift"))
    assert(snapshot(out) == before)
    // the audit blocked the write: the committed table still holds the
    // 300-doc clustering (no fresh units from the drifted input)
    val table = graft.tablefmt.Checkpoint.readCommitted(spark, out)
    val want = {
      val buf = new java.io.ByteArrayOutputStream()
      Console.withOut(new java.io.PrintStream(buf, true, "UTF-8")) {
        Main.run(spark, "threads", Map("synth" -> "300"))
      }
      mapper.readTree(buf.toString("UTF-8")).size
    }
    assert(table.count() == want)
  }

  test("recorded keying: debug --validate audits threads tables by their real key; mismatched verbs refuse (ADVICE r6)") {
    def quiet(verb: String, opts: Map[String, String]): Unit = {
      val buf = new java.io.ByteArrayOutputStream()
      Console.withOut(new java.io.PrintStream(buf, true, "UTF-8")) {
        Main.run(spark, verb, opts)
      }
    }
    // threads writes a title_norm-keyed table; debug's audit used to key
    // by doc_id unconditionally → every bucket "drifted" and an UNCHANGED
    // corpus exited 3 with a misleading drift report
    val out = java.nio.file.Files.createTempDirectory("keyedout").toString
    quiet("threads", Map("synth" -> "300", "out" -> out, "buckets" -> "4"))
    assert(graft.tablefmt.Checkpoint.recordedKeying(out)._2 == Set("title_norm"))
    // unchanged corpus: the audit now keys by the recorded title_norm and
    // passes (this threw DriftError before the fix)
    quiet("debug",
      Map("synth" -> "300", "out" -> out, "buckets" -> "4", "validate" -> "true"))
    // a DIFFERENT corpus still drifts — the recorded-keying audit is an
    // audit, not a bypass
    intercept[Main.DriftError] {
      quiet("debug",
        Map("synth" -> "500", "out" -> out, "buckets" -> "4", "validate" -> "true"))
    }
    // a component-keyed (fuzzy) table: debug can't reproduce the fuzzy
    // clustering, so it refuses with the keyed-differently story, not a
    // drift report
    val outF = java.nio.file.Files.createTempDirectory("keyedfuzzy").toString
    quiet("threads",
      Map("synth" -> "300", "fuzzy" -> "true", "out" -> outF, "buckets" -> "4"))
    assert(graft.tablefmt.Checkpoint.recordedKeying(outF)._2 == Set("component"))
    val eDbg = intercept[Main.CliArgError] {
      quiet("debug",
        Map("synth" -> "300", "out" -> outF, "buckets" -> "4", "validate" -> "true"))
    }
    assert(eDbg.getMessage.contains("keyed by 'component'"))
    // verb/--out mismatch: pointing a doc_id-writing verb at the
    // title_norm table is a usage error (exit 2), not drift or a fork
    val eVerb = intercept[Main.CliArgError] {
      quiet("news", Map("synth" -> "300", "out" -> out, "buckets" -> "4"))
    }
    assert(eVerb.getMessage.contains("keyed by 'title_norm'"))
    // pre-key_col manifests (keying UNKNOWN): debug must refuse the
    // recorded-keying audit with the real story, NOT fall back to a
    // doc_id audit of the title_norm-keyed table (which reports every
    // bucket drifted on an unchanged corpus — the exact spurious-drift
    // failure the recorded keying exists to prevent)
    val mdir = java.nio.file.Paths.get(out, "_manifest")
    java.nio.file.Files.list(mdir).iterator().forEachRemaining { p =>
      val s = java.nio.file.Files.readString(p)
        .replaceAll(""","key_col":"[^"]*"""", "")
      java.nio.file.Files.writeString(p, s)
    }
    assert(graft.tablefmt.Checkpoint.recordedKeying(out)._1 > 0)
    assert(graft.tablefmt.Checkpoint.recordedKeying(out)._2.isEmpty)
    val ePre = intercept[Main.CliArgError] {
      quiet("debug",
        Map("synth" -> "300", "out" -> out, "buckets" -> "4", "validate" -> "true"))
    }
    assert(ePre.getMessage.contains("predate key recording"), ePre.getMessage)
  }

  test("a rerun with a different --buckets refuses instead of duplicating committed rows") {
    // under 8 buckets, units 4-7 hold rows that the 4-bucket units 0-3
    // already committed (pmod(h, 8) in 4..7 implies pmod(h, 4) in 0..3):
    // committing them would list every such row twice
    val out = java.nio.file.Files.createTempDirectory("bucketsout").toString
    def run(buckets: String): Unit = {
      val buf = new java.io.ByteArrayOutputStream()
      Console.withOut(new java.io.PrintStream(buf, true, "UTF-8")) {
        Main.run(spark, "categories", Map("synth" -> "300", "out" -> out, "buckets" -> buckets))
      }
    }
    run("4")
    assert(graft.tablefmt.Checkpoint.readManifests(out).map(_.buckets).toSet == Set(4))
    val e = intercept[Main.CliArgError](run("8"))
    assert(e.getMessage.contains("4 buckets") && e.getMessage.contains("uses 8"), e.getMessage)
    // the read-only audit refuses the same way instead of reporting drift
    intercept[Main.CliArgError] {
      Main.run(spark, "debug", Map("synth" -> "300", "out" -> out, "buckets" -> "8", "validate" -> "true"))
    }
    val nKept = mapper.readTree(runVerb("debug", 300L)).get("n_kept").asLong
    assert(graft.tablefmt.Checkpoint.committedUnits(out) == (0 until 4).toSet)
    assert(graft.tablefmt.Checkpoint.readCommitted(spark, out).count() == nKept)
  }

  test("without --buckets, a rerun keeps the bucket count the table records") {
    val out = java.nio.file.Files.createTempDirectory("bucketsrecorded").toString
    stdoutOf("categories", Map("synth" -> "300", "out" -> out, "buckets" -> "4"))
    val before = snapshot(out)
    // the verb and the read-only audit, neither given --buckets: both
    // take the recorded 4, commit nothing and rewrite no manifest
    stdoutOf("categories", Map("synth" -> "300", "out" -> out))
    stdoutOf("debug", Map("synth" -> "300", "out" -> out, "validate" -> "true"))
    assert(snapshot(out) == before)
    assert(graft.tablefmt.Checkpoint.committedUnits(out) == (0 until 4).toSet)
    // a new table still defaults to 16
    val fresh = java.nio.file.Files.createTempDirectory("bucketsdefault").toString
    stdoutOf("categories", Map("synth" -> "300", "out" -> fresh))
    assert(graft.tablefmt.Checkpoint.readManifests(fresh).map(_.buckets).toSet == Set(16))
  }

  test("golden parity: all five verbs byte-exact vs checked-in goldens") {
    // VERDICT r2 item 6: the reference printer shapes (src/printer.rs:6-62,
    // glossary.rs:218-278) over the fixed seeded fixture, diffed byte for
    // byte. Regenerate with `runMain graft.cli.GoldenGen` after an
    // INTENTIONAL semantic change — any unintentional drift fails here.
    graft.cli.GoldenGen.Verbs.foreach { verb =>
      val want = {
        val in = getClass.getResourceAsStream(s"/goldens/$verb.json")
        assert(in != null, s"missing golden /goldens/$verb.json — run graft.cli.GoldenGen")
        try new String(in.readAllBytes(), "UTF-8") finally in.close()
      }
      val got = runVerb(verb, graft.cli.GoldenGen.FixtureDocs)
      assert(got == want, s"verb '$verb' drifted from its golden")
    }
  }
}
