package graft

import graft.sources.HtmlDirSource
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.Files

class HtmlDirSourceSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("directory of html files → Doc table → extraction (the reference's input shape)") {
    val root = Files.createTempDirectory("htmldir")
    val sub = Files.createDirectory(root.resolve("20250101"))
    Files.writeString(sub.resolve("a.html"),
      "<html><body><h1>the first english title</h1><p>the body text of the article is here with the words</p></body></html>")
    Files.writeString(sub.resolve("b.html"),
      "<html><body><h1>заголовок на русском о правительстве</h1><p>это текст статьи на русском как мы и думали</p></body></html>")
    Files.writeString(sub.resolve("c.html"),
      "<html><body><p>no title here at all</p></body></html>") // dropped (no h1)
    // extensionless file: the reference parses every file regardless of
    // name (visit_dirs, src/parser.rs:90-103) — default read has NO glob
    Files.writeString(root.resolve("996215361418929641"),
      "<html><body><h1>the bare name article title</h1><p>the body of the bare file with the words</p></body></html>")
    Files.writeString(root.resolve("notes.txt"), "not html at all")

    val docs = HtmlDirSource.read(spark, root.toString)
    assert(docs.count() == 5) // everything, recursive, no extension filter
    // the extensionless contest-style file extracts like any .html one
    val bare = graft.extract.Extract.run(docs)
      .collect().filter(_.doc_id.endsWith("996215361418929641"))
    assert(bare.length == 1 && bare.head.lang == "en")
  }

  test("200 tiny files read in at most defaultParallelism partitions, same Docs") {
    val root = Files.createTempDirectory("htmldir_tiny")
    (0 until 200).foreach { i =>
      val sub = Files.createDirectories(root.resolve(f"d${i % 5}"))
      Files.writeString(sub.resolve(s"f$i.html"), s"<html><body><h1>title number $i</h1></body></html>")
    }
    val docs = HtmlDirSource.read(spark, root.toString)
    assert(docs.rdd.getNumPartitions <= spark.sparkContext.defaultParallelism)
    // the scan as Spark splits it, one partition per 32 files here
    val uncoalesced = spark.read.format("binaryFile").option("recursiveFileLookup", "true")
      .load(root.toString).select("path", "content")
    assert(uncoalesced.rdd.getNumPartitions > spark.sparkContext.defaultParallelism)
    def bag(rows: Seq[(String, String)]) = rows.groupBy(identity).map { case (k, v) => k -> v.size }
    val got = docs.collect().toSeq.map(d => d.doc_id -> d.spans.map(s => s"${s.kind}|${s.text}|${s.offset}").mkString)
    val want = uncoalesced.collect().toSeq.map(r =>
      r.getString(0) -> s"html|${new String(r.getAs[Array[Byte]](1), "UTF-8")}|0")
    assert(got.size == 200 && bag(got) == bag(want))
  }

  test("extraction over the html dir keeps en/ru, drops no-h1") {
    val root = Files.createTempDirectory("htmldir2")
    Files.writeString(root.resolve("a.html"),
      "<html><body><h1>the first english title</h1><p>the body text of the article is here with the words</p></body></html>")
    Files.writeString(root.resolve("b.html"),
      "<html><body><h1>заголовок на русском о правительстве</h1><p>это текст статьи на русском как мы и думали</p></body></html>")
    Files.writeString(root.resolve("c.html"),
      "<html><body><p>no title here at all</p></body></html>")
    val extracted = graft.extract.Extract.run(HtmlDirSource.read(spark, root.toString)).collect()
    assert(extracted.length == 2)
    assert(extracted.map(_.lang).sorted.toSeq == Seq("en", "ru"))
    assert(extracted.forall(_.doc_id.endsWith(".html")))
  }
}
