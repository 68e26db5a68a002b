package graft

import graft.cli.Main
import graft.extract.{Extract, ExtractSpansExpr}
import graft.sources.HtmlDirSource
import graft.synth.Synth
import graft.tablefmt.Checkpoint
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Path}

/** `languages --htmldir --out`'s Spark shape: the bounded stdout helper
  * against its per-key sort, the verb's job count and cache set, and the
  * unit lineage the staging write's observation seals.
  */
class LanguagesJobsSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.session.timeZone", "UTC")
    .getOrCreate()

  private val Buckets = 4

  /** `n` synth docs as .html files in dated sub-directories: each doc's
    * html chunks in order, its media references as <img> tags.
    */
  private def htmlDir(n: Int, seed: Long): Path = {
    val root = Files.createTempDirectory("langjobs")
    (0 until n).foreach { i =>
      val t = Synth.gen(seed, i.toLong, math.max(8, n / 50))
      val html = t.input.sortBy(_.offset).map { s =>
        if (s.kind == "media") s"""<img src="${s.media_ref}">""" else s.text
      }.mkString
      val dir = root.resolve(f"202001${i / 100 + 1}%02d")
      Files.createDirectories(dir)
      Files.writeString(dir.resolve(s"doc-$i.html"), html)
    }
    root
  }

  private def opts(dir: Path, out: String, buckets: Int = Buckets) =
    Map("htmldir" -> dir.toString, "out" -> out, "buckets" -> buckets.toString)

  /** The rows the verb stages: the extraction of the directory's docs. */
  private def stagedInput(dir: Path): DataFrame =
    ExtractSpansExpr.run(HtmlDirSource.read(spark, dir.toString).toDF())
      .select(col("doc_id"), col("lang"), col("title_norm"), col("spans"))

  /** Sealed (n_input, input_fingerprint) per unit ≡ a recount of the
    * input, and the audit finds no drift.
    */
  private def assertLineage(dir: Path, out: String): Unit = {
    val input = stagedInput(dir)
    val recomputed = input
      .groupBy(Checkpoint.bucketOf("doc_id", Buckets))
      .agg(count(lit(1)), coalesce(bit_xor(xxhash64(col("doc_id"))), lit(0L)))
      .collect().map(r => r.getInt(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val ms = Checkpoint.readManifests(out)
    assert(ms.map(_.bucket) == (0 until Buckets))
    assert(ms.map(m => m.bucket -> ((m.nInput, m.inputFingerprint))).toMap == recomputed)
    assert(ms.forall(m => m.nOutput == m.nInput))
    assert(Checkpoint.validateCommitted(spark, input, "doc_id", out, Buckets) == Nil)
  }

  /** The frames the verb prints, from the typed extraction spec. */
  private def expectedStdout(dir: Path): String = {
    import spark.implicits._
    val byLang = Extract.run(HtmlDirSource.read(spark, dir.toString))
      .map(d => (d.lang, d.doc_id)).collect().groupBy(_._1)
    Seq("en", "ru").map { l =>
      val ids = byLang.getOrElse(l, Array.empty[(String, String)]).map(_._2).sorted
      s"""{"lang_code": "$l", "articles": [${ids.map(id => "\"" + id + "\"").mkString(", ")}]}"""
    }.mkString("[\n", ",\n", "\n]\n")
  }

  test("smallestIdsByKey ≡ per-key sorted.take(cap): caps 1, 3, above the group; duplicates; empty") {
    import spark.implicits._
    val pairs = (0 until 500).map(i => (s"k${i % 7}", f"id-${(i * 37) % 211}%04d")) ++
      Seq(("dup", "b"), ("dup", "a"), ("dup", "b"), ("dup", "a"), ("dup", "c"), ("one", "z"))
    val want = (cap: Int) =>
      pairs.groupBy(_._1).map { case (k, kvs) => k -> kvs.map(_._2).sorted.take(cap).toList }
    val df = pairs.toDF("key", "id")
    for (p <- Seq(1, 4, 20); cap <- Seq(1, 3, 1000)) {
      val got = Main.smallestIdsByKey(df.repartition(p), cap)
      assert(got.map { case (k, ids) => k -> ids.toList } == want(cap), s"p=$p cap=$cap")
    }
    assert(Main.smallestIdsByKey(df, 3)("dup").toList == List("a", "a", "b"))
    assert(Main.smallestIdsByKey(df.filter(lit(false)), 3).isEmpty)
    assert(Main.smallestIdsByKey(spark.emptyDataset[(String, String)].toDF(), 3).isEmpty)
  }

  test("languages --htmldir --out runs in 4 Spark jobs at 4 or 16 buckets") {
    val dir = htmlDir(400, 11L)
    // one job each: the stdout ids (which also build the extraction
    // cache), the staging write's rebalance map, the staging write, and
    // the one transform write; units commit by directory moves
    for (buckets <- Seq(Buckets, 16)) {
      val out = Files.createTempDirectory("langjobs_out").resolve("t").toString
      val run = JobProbe(spark, "languages-job-count") {
        Main.run(spark, "languages", opts(dir, out, buckets))
      }
      val names = run.cachedRddNames
      assert(run.jobs == 4,
        s"Spark jobs per languages --buckets $buckets: ${run.jobs}; cached: ${names.mkString(" | ")}")
      assert(names.size == 1, s"cached RDDs: ${names.mkString(" | ")}")
      assert(run.stdout == expectedStdout(dir))
      assert(Checkpoint.committedUnits(out) == (0 until buckets).toSet)
      if (buckets == Buckets) assertLineage(dir, out)
    }
  }

  test("a failAtUnit resume through the verb seals the same lineage as a fresh run") {
    val dir = htmlDir(300, 12L)
    val out = Files.createTempDirectory("langjobs_resume").resolve("t").toString
    val e = intercept[RuntimeException] {
      Checkpoint.resume(spark, stagedInput(dir), "doc_id", identity, out, Buckets,
        failAtUnit = Some(2))
    }
    assert(e.getMessage.contains("failpoint"))
    assert(Checkpoint.committedUnits(out) == Set(0, 1))
    val buf = new java.io.ByteArrayOutputStream()
    Console.withOut(new java.io.PrintStream(buf, true, "UTF-8")) {
      Main.run(spark, "languages", opts(dir, out))
    }
    assert(buf.toString("UTF-8") == expectedStdout(dir))
    assertLineage(dir, out)
    val table = Checkpoint.readCommitted(spark, out).select("doc_id", "lang", "title_norm")
    assert(table.collect().map(_.toString).sorted.toSeq ==
      stagedInput(dir).select("doc_id", "lang", "title_norm").collect().map(_.toString).sorted.toSeq)
  }

  test("a corpus the language gate drops entirely commits empty units without waiting on the observation") {
    val dir = Files.createTempDirectory("langjobs_dropped")
    (0 until 40).foreach { i =>
      Files.writeString(dir.resolve(s"doc-$i.html"), s"<html><body><p>no title $i</p></body></html>")
    }
    val out = Files.createTempDirectory("langjobs_dropped_out").resolve("t").toString
    val buf = new java.io.ByteArrayOutputStream()
    val t0 = System.nanoTime()
    Console.withOut(new java.io.PrintStream(buf, true, "UTF-8")) {
      Main.run(spark, "languages", opts(dir, out))
    }
    val s = (System.nanoTime() - t0) / 1e9
    assert(s < 60, s"languages over a dropped corpus took $s s")
    assert(buf.toString("UTF-8") ==
      "[\n{\"lang_code\": \"en\", \"articles\": []},\n{\"lang_code\": \"ru\", \"articles\": []}\n]\n")
    val ms = Checkpoint.readManifests(out)
    assert(ms.map(_.bucket) == (0 until Buckets))
    assert(ms.forall(m => m.nInput == 0L && m.nOutput == 0L && m.inputFingerprint == 0L))
    assert(Checkpoint.readCommitted(spark, out).count() == 0L) // schema kept
  }
}
