package graft

import graft.extract.Extract
import graft.gloss.Classify
import graft.model.Doc
import graft.synth.Synth
import graft.threads.Threads
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Spark-level end-to-end tests: the real distributed pipeline over the
  * seeded corpus, checked against generator ground truth.
  */
class PipelineSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  private val seed = 42L
  private val n = 1000L

  test("end-to-end extraction equals ground truth on Spark") {
    import spark.implicits._
    val extracted = Extract.run(Synth.corpus(spark, seed, n)).collect()
      .map(e => e.doc_id -> e).toMap
    val truths = Synth.truths(spark, seed, n).collect()
    truths.foreach { t =>
      if (t.kept) {
        val e = extracted.getOrElse(t.doc_id, fail(s"${t.doc_id} missing"))
        assert(e.lang == t.lang)
        assert(e.title_norm == t.title_norm)
        assert(e.spans.map(s => (s.kind, s.text, s.media_ref, s.offset)).toSeq ==
          t.expected.map(s => (s.kind, s.text, s.media_ref, s.offset)).toSeq)
      } else assert(!extracted.contains(t.doc_id), s"${t.doc_id} should be dropped")
    }
    assert(extracted.size == truths.count(_.kept))
  }

  test("persisted df-table round trip classifies identically (idf amortization)") {
    import spark.implicits._
    val bc = Classify.dictsBroadcast(spark)
    val extracted = Extract.run(Synth.corpus(spark, seed, n)).toDF()
    val dir = java.nio.file.Files.createTempDirectory("dftable").toString
    Classify.dfTableSlim(extracted, bc.value).write.mode("overwrite").parquet(dir)
    def key(ds: org.apache.spark.sql.Dataset[graft.model.ClassifiedDoc]) = ds
      .map(c => (c.doc_id, c.category, c.is_news, c.entities.keys.toSeq.sorted.mkString(",")))
      .collect().sortBy(_._1).toSeq
    val viaTable = key(Classify.runWithIdfSlim(extracted, bc,
      spark.sparkContext.broadcast(Classify.idfFromTable(spark.read.parquet(dir)))))
    val direct = key(Classify.runWithIdfSlim(extracted, bc,
      spark.sparkContext.broadcast(Classify.computeIdf(extracted, bc.value))))
    assert(viaTable == direct)
    assert(key(Graft(spark).classify(Synth.corpus(spark, seed, n))) == direct)
    assert(direct.nonEmpty)
  }

  test("threads: clusters match ground-truth title groups, size >= 2") {
    import spark.implicits._
    val classified = Graft(spark).classify(Synth.corpus(spark, seed, n))
    val got = Threads.threads(classified)
      .select($"title_norm", $"size")
      .as[(String, Long)].collect().toMap
    val want = Synth.truths(spark, seed, n).filter(_.kept)
      .groupByKey(_.title_norm).count().collect()
      .filter(_._2 >= 2).toMap
    assert(got == want)
  }

  test("threads clustering is partition-count invariant") {
    import spark.implicits._
    def run(parts: Int) = {
      val classified = Graft(spark).classify(Synth.corpus(spark, seed, n, partitions = parts))
      Threads.threads(classified)
        .select($"title_norm", $"size", $"articles")
        .as[(String, Long, Seq[String])].collect().sortBy(_._1).toSeq
    }
    assert(run(3) == run(17))
  }

  test("salted two-phase clustering equals direct groupBy on a hot key") {
    import spark.implicits._
    // 50% of docs share one title (the skew fixture, SURVEY.md §5.2.6)
    val hot = (0 until 500).map(i => graft.model.ClassifiedDoc(f"h$i%04d", "en", "hot title", "other", false, Map()))
    val cold = (0 until 500).map(i => graft.model.ClassifiedDoc(f"c$i%04d", "en", s"cold title $i", "other", false, Map()))
    val ds = spark.createDataset((hot ++ cold).toSeq).repartition(8)
    val got = Threads.threads(ds).select($"title_norm", $"size", $"articles")
      .as[(String, Long, Seq[String])].collect().map { case (k, s, a) => k -> ((s, a)) }.toMap
    // direct (unsalted) reference computation
    val direct = ds.groupBy($"title_norm")
      .agg(count(lit(1)).as("size"),
        slice(sort_array(collect_list($"doc_id")), 1, Threads.ArticleSampleK).as("articles"))
      .filter($"size" >= 2)
      .as[(String, Long, Seq[String])].collect().map { case (k, s, a) => k -> ((s, a)) }.toMap
    assert(got == direct)
    assert(got("hot title")._1 == 500L)
    assert(got("hot title")._2.size == Threads.ArticleSampleK)
  }

  test("top: per-category buckets include 'any', ranked by size desc") {
    import spark.implicits._
    val classified = Graft(spark).classify(Synth.corpus(spark, seed, n))
    val top = Threads.top(Threads.threads(classified)).collect()
    val byCat = top.groupBy(_.getString(0))
    assert(byCat.contains("any"))
    byCat.foreach { case (_, rows) =>
      val sizes = rows.sortBy(_.getInt(1)).map(_.getLong(3))
      assert(sizes.zip(sizes.tail).forall { case (a, b) => a >= b }, "not size-desc")
    }
    // 'any' holds the global top threads
    val anyTop = byCat("any").sortBy(_.getInt(1)).map(_.getString(2))
    val global = Threads.ranked(Threads.threads(classified))
      .select($"title_norm").as[String].take(anyTop.length).toSeq
    assert(anyTop.toSeq == global)
  }

  test("simhash-band clustering: reordered-word titles cluster together") {
    import spark.implicits._
    val a = (0 until 3).map(i => graft.model.ClassifiedDoc(f"a$i%02d", "en", "france signs major treaty today", "other", false, Map()))
    val b = (0 until 3).map(i => graft.model.ClassifiedDoc(f"b$i%02d", "en", "major treaty today signs france", "other", false, Map()))
    val c = Seq(graft.model.ClassifiedDoc("c00", "en", "completely unrelated quantum story", "", false, Map()))
    val ds = spark.createDataset(a ++ b ++ c)
    val got = graft.threads.Threads.threadsNear(ds)
      .select($"size", $"articles").as[(Long, Seq[String])].collect()
    // the two word-orderings share a simhash (token-multiset invariant) → one cluster of 6
    assert(got.length == 1)
    assert(got.head._1 == 6L)
    assert(got.head._2.toSet == Set("a00","a01","a02","b00","b01","b02"))
  }

  test("fuzzy thread clustering merges near-identical titles, permutation-invariant") {
    import spark.implicits._
    def cd(id: String, title: String) =
      graft.model.ClassifiedDoc(id, "en", title, "other", false, Map())
    val ds = spark.createDataset(Seq(
      cd("a1", "france signs major treaty with germany today"),
      cd("a2", "france signs major treaty with germany today"),
      cd("a3", "france signs major treaty with germany now"), // 6/8 shared tokens
      cd("b1", "quantum telescope discovers new asteroid belt"),
      cd("b2", "quantum telescope discovers new asteroid belt"),
      cd("c1", "totally unrelated lonely singleton story")))
    val got = graft.threads.Threads.threadsFuzzy(ds, minJaccard = 0.5)
      .select($"size", $"articles").as[(Long, Seq[String])].collect()
      .map { case (s, a) => (s, a.toSet) }.toSet
    assert(got == Set(
      (3L, Set("a1", "a2", "a3")),
      (2L, Set("b1", "b2"))))
    // partition invariance
    val got2 = graft.threads.Threads.threadsFuzzy(ds.repartition(7), minJaccard = 0.5)
      .select($"size", $"articles").as[(Long, Seq[String])].collect()
      .map { case (s, a) => (s, a.toSet) }.toSet
    assert(got2 == got)
  }

  test("fused synth+extract equals chained corpus→extract") {
    import spark.implicits._
    val a = Synth.extracted(spark, seed, 500L)
      .map(e => (e.doc_id, e.lang, e.title_norm, e.spans.map(x => (x.kind, x.text, x.media_ref, x.offset)).toSeq))
      .collect().sortBy(_._1).toSeq
    val b = Extract.run(Synth.corpus(spark, seed, 500L))
      .map(e => (e.doc_id, e.lang, e.title_norm, e.spans.map(x => (x.kind, x.text, x.media_ref, x.offset)).toSeq))
      .collect().sortBy(_._1).toSeq
    assert(a == b)
  }

  test("SparkEntry.entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("steady-state classify scans the corpus exactly ONCE across many actions") {
    import spark.implicits._
    // VERDICT r2 item 1's done-criterion on the production path: the
    // CLI's steady state (cli.Main.classifySteadyState). The
    // accumulator counts every corpus row that crosses the extraction
    // input — the IDF pass, the classify pass, and THREE downstream
    // actions (count, threads, fuzzy threads) must all feed from the
    // persisted extraction, not re-extract.
    val nDocs = 600L
    val acc = spark.sparkContext.longAccumulator("corpus_rows_scanned")
    val docs = Synth.corpus(spark, seed, nDocs)
      .mapPartitions { it => it.map { d => acc.add(1); d } }
    val (classified, release) =
      graft.cli.Main.classifySteadyState(spark, docs, persistClassified = false)
    try {
      val nKept = classified.count()
      Threads.threads(classified).count()
      Threads.threadsFuzzy(classified).count()
      assert(nKept > 0)
      assert(acc.value == nDocs,
        s"corpus scanned ${acc.value} rows for $nDocs docs — more than one pass")
    } finally release()
  }

  test("fused classify (r5 pipeline shape) scans the corpus exactly ONCE") {
    import spark.implicits._
    // VERDICT r4 item 1: the thread aggregation IS the materializing
    // action over the production steady state — classify map work
    // pipelines into its shuffle map side, and afterwards every consumer
    // (top, count) feeds from the caches. One corpus pass total, same
    // invariant as the count()-first path.
    val nDocs = 600L
    val acc = spark.sparkContext.longAccumulator("corpus_rows_scanned_fused")
    val docs = Synth.corpus(spark, seed, nDocs)
      .mapPartitions { it => it.map { d => acc.add(1); d } }
    val (classified, release) =
      graft.cli.Main.classifySteadyState(spark, docs, persistClassified = false)
    try {
      val th = Threads.threads(classified)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      th.count()
      Threads.top(th).count()
      val nKept = classified.count()
      assert(nKept > 0)
      assert(acc.value == nDocs,
        s"corpus scanned ${acc.value} rows for $nDocs docs — more than one pass")
      th.unpersist()
      // fused production rows ≡ the typed spec over the same extraction
      // and IDF (canonical key: Array cells compare by identity inside
      // toString)
      val bc = Classify.dictsBroadcast(spark)
      val extracted = graft.extract.ExtractTitleExpr.run(Synth.corpus(spark, seed, nDocs).toDF())
      val spec = Classify.runWithIdfSlimTyped(extracted, bc,
        spark.sparkContext.broadcast(Classify.computeIdf(extracted, bc.value)))
      def key(c: graft.model.ClassifiedDoc) =
        (c.doc_id, c.lang, c.title_norm, c.category, c.is_news,
          c.entities.map { case (k, v) => k -> v.toSeq }.toSeq.sortBy(_._1))
      assert(classified.collect().map(key).sortBy(_._1).toSeq ==
        spec.collect().map(key).sortBy(_._1).toSeq)
    } finally release()
  }

  test("languages-verb shape: ONE extraction feeds stdout AND the checkpointed table") {
    import spark.implicits._
    // VERDICT r3 item 7: the CLI languages verb persists the expression-
    // path extraction once; the stdout collect and the Checkpoint write
    // both consume the persisted rows (the table slices EXTRACTED rows by
    // doc_id — extraction is row-wise, so that equals extracting sliced
    // input). This mirrors cli.Main's languages branch statement for
    // statement with an input-side accumulator.
    val nDocs = 400L
    val acc = spark.sparkContext.longAccumulator("corpus_rows_scanned")
    val docs = Synth.corpus(spark, seed, nDocs)
      .mapPartitions { it => it.map { d => acc.add(1); d } }
    val extracted = graft.extract.ExtractSpansExpr.run(docs.toDF())
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // stdout side: the per-language id collect
    val byLang = extracted.select($"lang", $"doc_id").as[(String, String)]
      .collect().groupBy(_._1)
    assert(byLang.keySet == Set("en", "ru"))
    // table side: checkpointed write slicing the SAME persisted rows
    val out = java.nio.file.Files.createTempDirectory("langsink").toString
    graft.tablefmt.Checkpoint.resume(spark,
      extracted.select($"doc_id", $"lang", $"title_norm", $"spans"),
      "doc_id", identity, out, buckets = 4)
    val table = graft.tablefmt.Checkpoint.readCommitted(spark, out)
    assert(table.count() == extracted.count())
    assert(acc.value == nDocs,
      s"corpus scanned ${acc.value} rows for $nDocs docs — more than one extraction pass")
    extracted.unpersist()
  }
}
