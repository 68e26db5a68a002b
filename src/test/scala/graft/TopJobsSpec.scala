package graft

import graft.extract.TitleKey
import graft.gloss.Classify
import graft.synth.Synth
import graft.threads.Threads
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** `top`'s Spark shape: the one-scan ranking and the one-job DF counter
  * against their former forms, and the verb's job count and cache set.
  */
class TopJobsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  /** The former `Threads.top`: the thread table unioned with itself, one
    * copy keyed by category and one by "any".
    */
  private def topByUnion(threadsDf: DataFrame, limit: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val withAny = threadsDf
      .withColumn("category", when(col("category") === "", "other").otherwise(col("category")))
      .unionByName(threadsDf.withColumn("category", lit("any")))
    val w = Window.partitionBy(col("category"))
      .orderBy(col("size").desc, col("title_norm"))
    withAny
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= limit)
      .select("category", "rank", "title_norm", "size", "articles")
  }

  /** Rows as a multiset: row → multiplicity. */
  private def bag(df: DataFrame): Map[(String, Int, String, Long, Seq[String]), Int] =
    df.collect().toSeq.map { r =>
      (r.getString(0), r.getInt(1), r.getString(2), r.getLong(3), r.getSeq[String](4).toList: Seq[String])
    }.groupBy(identity).map { case (k, v) => k -> v.size }

  test("top: one-scan ranking ≡ the self-union form (blank category, ties, limits)") {
    import spark.implicits._
    // (title_norm, size, articles, category), the thread table's columns
    val rows =
      // "" → "other"; three-way size tie broken by title_norm
      Seq(("t-c", 5L, Seq("c1", "c2"), ""), ("t-a", 5L, Seq("a1"), ""),
        ("t-b", 5L, Seq("b1"), ""), ("t-d", 2L, Seq("d1"), "")) ++
      // a bucket larger than the default limit of 10
      (0 until 14).map(i => (f"s-$i%02d", (20 - i / 3).toLong, Seq(s"s$i"), "sports")) ++
      // a one-thread bucket, and a tie that crosses buckets in "any"
      Seq(("e-x", 5L, Seq("e1"), "economy"), ("n-y", 3L, Seq("n1"), null))
    val th = rows.toDF("title_norm", "size", "articles", "category").repartition(3)
    Seq(1, 2, 10, 100).foreach { limit =>
      val got = bag(Threads.top(th, limit))
      assert(got == bag(topByUnion(th, limit)), s"limit $limit")
      assert(got.keys.exists(_._1 == "other") && !got.keys.exists(_._1 == ""))
    }
    // limit larger than every bucket: every thread once per bucket
    assert(bag(Threads.top(th, 100)).values.sum == 2 * rows.size)
    // ties broken by title_norm ascending
    val other = Threads.top(th, 3).filter($"category" === "other")
      .select($"rank", $"title_norm").as[(Int, String)].collect().sortBy(_._1).map(_._2)
    assert(other.toSeq == Seq("t-a", "t-b", "t-c"))
    // the same on threads clustered from the synth corpus
    val synthTh = Threads.threads(Graft(spark).classify(Synth.corpus(spark, 7L, 2000L)))
      .persist()
    try Seq(1, 3, 10).foreach { limit =>
      assert(bag(Threads.top(synthTh, limit)) == bag(topByUnion(synthTh, limit)), s"synth limit $limit")
    } finally synthTh.unpersist()
  }

  /** The former DF counter: a typed `groupByKey(identity).count()` over
    * (sentinel, distinct vocabulary tokens) per title.
    */
  private def dfCountsByShuffle(df: DataFrame, dicts: Classify.Dicts): Map[String, Long] = {
    import spark.implicits._
    val vocab = new java.util.HashSet[String]()
    dicts.themes.vocabulary.foreach(vocab.add)
    dicts.entities.vocabulary.foreach(vocab.add)
    val bcV = spark.sparkContext.broadcast(vocab)
    df.select($"title_norm").as[String]
      .mapPartitions { it =>
        val v = bcV.value
        it.flatMap { title =>
          val toks = TitleKey.tokens(title).distinct.filter(v.contains)
          Iterator.single(Classify.DocSentinel) ++ toks.iterator
        }
      }
      .groupByKey(identity).count()
      .collect().toMap
  }

  test("dfCounts ≡ the groupByKey shuffle form at 1, 4 and 64 partitions, nulls and empty") {
    import spark.implicits._
    val dicts = Classify.dictsBroadcast(spark).value
    val titles = graft.extract.ExtractTitleExpr.run(Synth.corpus(spark, 42L, 3000L).toDF())
      .select($"title_norm")
      .union(Seq(null: String).toDF("title_norm"))
      .persist()
    try Seq(1, 4, 64).foreach { p =>
      val df = titles.repartition(p)
      assert(df.rdd.getNumPartitions == p)
      val got = Classify.dfCounts(df, dicts)
      assert(got.map(_._1).distinct.length == got.length, s"p=$p: duplicate tokens")
      val want = dfCountsByShuffle(df, dicts)
      assert(got.toMap == want, s"p=$p")
      // the null row counts towards N (the 3000-doc synth keeps fewer)
      assert(Classify.idfFromCounts(got).nDocs == titles.count())
      assert(got.length > 100, s"p=$p: vocabulary barely hit")
    } finally titles.unpersist()
    val empty = spark.emptyDataset[String].toDF("title_norm")
    assert(Classify.dfCounts(empty, dicts).isEmpty) // no sentinel row
    assert(dfCountsByShuffle(empty, dicts).isEmpty)
    assert(Classify.idfFromCounts(Classify.dfCounts(empty, dicts)).nDocs == 0L)
    assert(Classify.computeIdf(empty, dicts).nDocs == 0L)
  }

  test("top without --out runs in 5 Spark jobs and caches only the extraction") {
    // warm the session-memoized dictionary broadcast outside the count
    Classify.dictsBroadcast(spark)
    val run = JobProbe(spark, "top-job-count") {
      graft.cli.Main.run(spark, "top", Map("synth" -> "2000"))
    }
    assert(run.stdout.contains("\"category\": \"any\""))
    // one job each: IDF (which also builds the extraction cache), salted
    // phase 1, phase 2, the category exchange's stage, the result
    val names = run.cachedRddNames
    assert(run.jobs == 5, s"Spark jobs per top: ${run.jobs}; cached: ${names.mkString(" | ")}")
    assert(names.size == 1, s"cached RDDs: ${names.mkString(" | ")}")
    assert(names.head.contains("extract_title") && !names.head.contains("classify_title"),
      names.head)
  }

  test("categories and top with --out: Spark jobs on a first run and on a rerun") {
    // the transform runs once per call and units commit by directory
    // moves, so the job counts do not depend on --buckets
    Classify.dictsBroadcast(spark)
    Seq("categories" -> (6, 2), "top" -> (11, 6)).foreach { case (verb, (first, rerun)) =>
      val plain = JobProbe(spark, s"$verb-plain")(graft.cli.Main.run(spark, verb, Map("synth" -> "2000")))
      val jobs = Seq(4, 16).map { buckets =>
        val out = java.nio.file.Files.createTempDirectory(s"$verb-out").toString
        val opts = Map("synth" -> "2000", "out" -> out, "buckets" -> buckets.toString)
        val r1 = JobProbe(spark, s"$verb-out-first")(graft.cli.Main.run(spark, verb, opts))
        val r2 = JobProbe(spark, s"$verb-out-rerun")(graft.cli.Main.run(spark, verb, opts))
        assert(r1.stdout == plain.stdout, verb)
        assert(r2.stdout == plain.stdout, verb)
        if (verb == "top") // one data file per non-empty unit
          for (m <- graft.tablefmt.Checkpoint.readManifests(out)) {
            val ls = java.nio.file.Files.list(java.nio.file.Paths.get(out, "data", s"part_bucket=${m.bucket}"))
            val files = try ls.iterator().asScala.count(_.getFileName.toString.endsWith(".parquet"))
              finally ls.close()
            assert(files == (if (m.nOutput > 0) 1 else 0), s"top --buckets $buckets unit ${m.bucket}")
          }
        buckets -> ((r1.jobs, r2.jobs))
      }.toMap
      assert(jobs == Map(4 -> ((first, rerun)), 16 -> ((first, rerun))),
        s"$verb: Spark jobs (first run, rerun) by --buckets")
    }
  }
}
