package graft

import graft.extract.{Extract, ExtractSpansExpr}
import graft.html.{SpanEmitter, StreamEmitter}
import graft.synth.Synth
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import java.nio.charset.StandardCharsets.UTF_8

/** The Tungsten expression (ExtractSpansExpr) must be output-identical
  * to the typed object path (Extract.run), and the scanner's output is
  * frozen by digest: the three "≡ char scanner" digests were recorded
  * from the retired char-level tokenizer while it was asserted
  * event-identical to ByteScanner, so any drift from those semantics
  * shows up here.
  */
class ByteExtractSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def viaBytes(html: String, media: Array[(String, String)]): SpanEmitter.Result = {
    val bytes = html.getBytes(UTF_8)
    StreamEmitter.emitStreamingBytes(bytes, bytes.length, media)
  }

  /** SHA-256 (lowercase hex) over every result rendered as
    * `title ␁ kind␂text␂media_ref␂offset ␃ …` in UTF-8, each followed by
    * byte 0x04.
    */
  private def digest(results: Iterator[SpanEmitter.Result]): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    results.foreach { r =>
      val spans = r.spans.map(s => s"${s.kind}\u0002${s.text}\u0002${s.media_ref}\u0002${s.offset}")
      md.update((r.title + "\u0001" + spans.mkString("\u0003")).getBytes(UTF_8))
      md.update(4.toByte)
    }
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  test("byte scanner ≡ char scanner on the synth oracle corpus (2000 docs)") {
    val results = (0 until 2000).iterator.map { i =>
      val fused = Extract.fuse(Synth.gen(42L, i, 300).input)
      viaBytes(fused.stream, fused.media)
    }
    assert(digest(results) == "e7e821852a42672ddbe31df5c99aebfd314dfa1931c873e191cf43b6cd70b1dc")
  }

  test("byte scanner ≡ char scanner on adversarial markup") {
    val cases = Seq(
      "", "<", "plain text only", "<p>unclosed", "</3 weird", "<!doctype html><p>x</p>",
      "<!-- comment <p>inside</p> --><h1>t e s t title</h1><p>body text here now</p>",
      "<?xml version=\"1.0\"?><h1>after the pi header</h1><p>and some body words</p>",
      "<script>var a = \"<p>not text</p>\";</script><h1>raw text skipped ok</h1><p>kept body line</p>",
      "<h1>quote aware attr</h1><p class=\"x>y\" id='a>b'>hello attr world</p>",
      "<h1>entity handling &amp; more</h1><p>a &lt;tag&gt; &#1055;&#1088; &quot;q&quot; &unknown; &#x41;</p>",
      "<h1>кириллица в заголовке</h1><p>текст на русском языке со словами</p>",
      "<h1>mixed кирилица and ascii</h1><p>тело text mixed содержимое</p>",
      "<h1>self closing<br/>tag</h1><p>one two three four five</p>",
      "<H1>UPPER CASE TAGS</H1><P>MIXED case Body Words</P>",
      "<h1>truncated tag at the very end</h1><p>body body body</p><img src=\"u",
      "<textarea><p>not a block</p></textarea><h1>textarea raw title</h1><p>actual body words</p>",
      "<h1>media in body</h1><p>before <img src=\"a.png\" alt=\"pic one\"> after words</p>",
      "<h1>видео тест заголовок</h1><video src=\"v.mp4\"></video><p>после видео текст тут</p>",
      // Unicode case folds must NOT match ASCII tag names (HTML5: tag
      // names are ASCII-case-insensitive only) — U+017F ſ and U+0131 ı
      // uppercase/fold to S/I and once made the scanners diverge
      "<script>var x=1;</ſcript>leak<p>after words here</p></script><h1>fold title one</h1><p>body line</p>",
      "<h1>fold title two</h1><script>x</scrıpt>tail</script><p>kept body words</p>",
      "<ſcript>not a script tag</ſcript><h1>fold title three</h1><p>more body words</p>")
    assert(digest(cases.iterator.map(viaBytes(_, Array.empty))) ==
      "75c727485d0cf83908fe51a10f031bd9f6a7db6639f45ecc95717b599f56b106")
  }

  test("byte scanner ≡ char scanner under random markup fuzz (1000 samples)") {
    // random soup from a pool heavy in structural chars, entities,
    // Cyrillic, and tag fragments — the scanner may not throw and must
    // reproduce the recorded results exactly
    val pool = Array("<", ">", "\"", "'", "=", "/", "&", ";", "!", "-",
      "p", "h1", "div", "img", "src", "amp", "#1055", "x41", " ", "\t", "\n",
      "word", "слово", "é", "…", "<p>", "</p>", "<h1>", "</h1>", "<!--", "-->",
      "<script>", "</script>", "&amp;", "&#x2014;", "&bogus;", "<img src=",
      "data-i", "graft-media", "<a href=\"/x\">", "ы", "ſ", "ı", "</ſcript>", "İ")
    def mix(x: Long): Long = {
      var z = x + 0x9e3779b97f4a7c15L
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^ (z >>> 31)
    }
    val results = (0 until 1000).iterator.map { s =>
      val len = 1 + (mix(s.toLong) & 0x3f).toInt
      val sb = new StringBuilder
      var k = 0
      while (k < len) {
        sb.append(pool((mix(s.toLong * 131 + k) & 0x7fffffff).toInt % pool.length))
        k += 1
      }
      viaBytes(sb.toString, Array.empty)
    }
    assert(digest(results) == "16c3c007b886b792a7c0311c58d551052e87d26e38b532237696a8c35c1f76f1")
  }

  test("ExtractSpansExpr.run ≡ Extract.run on a distributed synth corpus") {
    import spark.implicits._
    val n = 3000L
    val typed = Extract.run(Synth.corpus(spark, 42L, n)).toDF()
    val expr = ExtractSpansExpr.run(Synth.corpus(spark, 42L, n).toDF())
    def key(df: org.apache.spark.sql.DataFrame) = df
      .select($"doc_id", $"lang", $"title_norm", $"n_text_spans", $"n_media_spans",
        $"spans".cast("string").as("spans_str"))
      .as[(String, String, String, Int, Int, String)]
      .collect().sortBy(_._1).toSeq
    assert(key(expr) == key(typed))
  }

  test("ExtractTitleExpr.run ≡ ExtractSpansExpr.run projected (classify-only twin)") {
    import spark.implicits._
    val n = 3000L
    def key(df: org.apache.spark.sql.DataFrame) = df
      .select($"doc_id", $"lang", $"title_norm")
      .as[(String, String, String)].collect().sortBy(_._1).toSeq
    val full = key(graft.extract.ExtractSpansExpr.run(Synth.corpus(spark, 42L, n).toDF()))
    val slim = key(graft.extract.ExtractTitleExpr.run(Synth.corpus(spark, 42L, n).toDF()))
    assert(slim == full)
    assert(slim.nonEmpty)
  }

  test("expression survives null spans columns and null span elements") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val spanT = graft.extract.ExtractSpansExpr.SpanType
    val schema = StructType(Seq(
      StructField("doc_id", StringType),
      StructField("spans", ArrayType(spanT, containsNull = true), nullable = true)))
    val html = "<h1>null element doc title</h1><p>body words for the doc</p>"
    val rows = Seq(
      Row("d-null-col", null),
      Row("d-empty", Seq.empty[Row]),
      Row("d-null-elem", Seq(null, Row("html", html, "", 0))),
      Row("d-null-fields", Seq(Row(null, null, null, 0), Row("html", html, "", 1))))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2), schema)
    val out = graft.extract.ExtractSpansExpr.run(df)
      .select("doc_id", "lang").collect().map(r => (r.getString(0), r.getString(1))).sorted
    // null column/empty → dropped; null elements/fields skipped, doc kept
    assert(out.toSeq == Seq(("d-null-elem", "en"), ("d-null-fields", "en")))
  }

  test("expression plan over a table scan has no encoder boundary at all") {
    val dir = java.nio.file.Files.createTempDirectory("bytextract").toString
    Synth.corpus(spark, 42L, 200L).write.mode("overwrite").parquet(dir)
    val plan = ExtractSpansExpr.run(spark.read.parquet(dir))
      .queryExecution.executedPlan.toString
    // scan → project(extract_spans) → filter: no objects anywhere — the
    // typed path's Deserialize/Serialize pair is what this expression buys out
    assert(!plan.contains("DeserializeToObject"), plan.take(1500))
    assert(!plan.contains("SerializeFromObject"), plan.take(1500))
    assert(!plan.contains("MapPartitions"), plan.take(1500))
    assert(plan.contains("extract_spans"), plan.take(1500))
  }

  test("expression skips span rows with a NULL offset (typed path can't encode them)") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    // offset declared nullable — the typed Dataset path would FAIL to
    // encode such a row (Int field), so "skip like a null element" is the
    // one semantics both paths can share; before this pin, getInt on the
    // null slot silently read 0 and reordered the span to the front
    val spanT = StructType(Seq(
      StructField("kind", StringType, nullable = true),
      StructField("text", StringType, nullable = true),
      StructField("media_ref", StringType, nullable = true),
      StructField("offset", IntegerType, nullable = true)))
    val schema = StructType(Seq(
      StructField("doc_id", StringType),
      StructField("spans", ArrayType(spanT, containsNull = true), nullable = true)))
    val title = "<h1>null offset doc title</h1>"
    val body = "<p>kept body words for the doc</p>"
    val rows = Seq(
      // the null-offset span carries text that MUST NOT surface
      Row("d-null-off", Seq(Row("html", "<p>GHOST words would corrupt</p>", "", null),
        Row("html", title + body, "", 5))),
      // all offsets null → behaves like an all-null-element doc → dropped
      Row("d-all-null-off", Seq(Row("html", title, "", null))))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
    val out = graft.extract.ExtractSpansExpr.run(df)
      .selectExpr("doc_id", "cast(spans as string) as s")
      .collect().map(r => (r.getString(0), r.getString(1)))
    assert(out.map(_._1).toSeq == Seq("d-null-off"))
    assert(!out.head._2.contains("GHOST"))
    assert(out.head._2.contains("kept body words"))
  }

  test("parity DEVIATION pinned: non-ASCII Unicode whitespace INSIDE a tag") {
    // HTML5 separates tag parts on ASCII whitespace only, so U+2028
    // inside a tag (malformed HTML) is part of the neighbouring name:
    // it glues the next attr name (case A: alt lost) or the tag name
    // itself (case B: tag unrecognized, image span lost). Pinned so a
    // refactor cannot silently switch to Unicode whitespace (ADVICE r2).
    val ls = " "
    def spans(html: String): Seq[(String, String, String)] =
      viaBytes(html, Array.empty).spans.toSeq.map(s => (s.kind, s.text, s.media_ref))
    // case A: U+2028 between attributes — alt is lost
    assert(spans(
      s"""<h1>unicode ws title here</h1><p>before <img src="a.png"${ls}alt="alt words"> after words</p>""") ==
      Seq(("text", "unicode ws title here", ""),
        ("text", "before after words", ""), ("image", "", "a.png")))
    // case B: U+2028 after the tag name — <img…> is not recognized
    assert(spans(
      s"""<h1>unicode ws three title</h1><p>pre <img${ls}src="b.png" alt="alt two"> post words</p>""") ==
      Seq(("text", "unicode ws three title", ""), ("text", "pre post words", "")))
    // U+2028 in TEXT content (valid HTML) is whitespace like any other
    assert(spans(s"<h1>text ws title okay</h1><p>alpha${ls}beta gamma words</p>") ==
      Seq(("text", "text ws title okay", ""), ("text", "alpha beta gamma words", "")))
  }
}
