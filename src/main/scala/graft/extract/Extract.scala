package graft.extract

import graft.html.StreamEmitter
import graft.lang.LangId
import graft.model.{Doc, ExtractedDoc, Span}
import org.apache.spark.sql.Dataset

/** The extraction kernel: Dataset[Doc] → Dataset[ExtractedDoc].
  *
  * One typed `mapPartitions` placed directly after the scan (SURVEY.md
  * §4.3.1): per doc, the interleaved input spans are fused into a single
  * byte stream — consecutive `html` spans concatenate; each `media` span
  * becomes a `<graft-media data-i="K">` placeholder resolved through a
  * side table, so ONE scanner pass covers the whole document while
  * media keep their interleaved positions (FIXTURES.md §1).
  *
  * Then: UTF-8 bytes → [[graft.html.ByteScanner]] → boilerplate-strip
  * span emission → language gate (en/ru, reference:
  * src/parser.rs:150-173) → title = last <h1> (reference:
  * src/parser.rs:138-140). Docs with no title and no text spans are
  * dropped (generalizing src/parser.rs:144-146, Q9).
  *
  * This typed path is the reference that ByteExtractSpec compares the
  * Tungsten expression ([[ExtractSpansExpr]]) against: the two share the
  * scanner, the machine and [[gate]], but fuse and handle nulls on their
  * own. No shuffle; the whole stage is scan → mapPartitions →
  * (downstream).
  */
object Extract {

  final case class Fused(stream: String, media: Array[(String, String)])

  /** Fuse input spans (in offset order) into one parseable stream. */
  def fuse(spans: Array[Span]): Fused = {
    val sorted = spans.sortBy(_.offset)
    val sb = new java.lang.StringBuilder(1024)
    val media = new scala.collection.mutable.ArrayBuffer[(String, String)](4)
    var i = 0
    while (i < sorted.length) {
      val s = sorted(i)
      if (s.kind == "media") {
        sb.append("<graft-media data-i=\"").append(media.length).append("\">")
        media += ((if (s.media_ref == null) "" else s.media_ref,
                   if (s.text == null) "" else s.text))
      } else {
        if (s.text != null) sb.append(s.text)
      }
      i += 1
    }
    Fused(sb.toString, media.toArray)
  }

  /** Title/language gate + projection shared by the object path
    * ([[extractOne]]) and the Tungsten byte path (ExtractSpansExpr):
    * drop rule, language vote, and normalization are ONE code path.
    */
  def gate(res: graft.html.SpanEmitter.Result): Option[(String, String)] = {
    // No <h1> → no title → dropped, reference-faithful (src/parser.rs:136-146,
    // Q9: title defaults to "1", fails language detect, row dropped).
    if (res.title.isEmpty) return None
    // language gate on title + leading text (the reference used title only,
    // src/parser.rs:142-148; body evidence makes the vote robust)
    val bodyLead = res.spans.iterator.filter(_.kind == "text").map(_.text)
      .take(3).mkString(" ")
    val lang = LangId.detect(res.title + " " + bodyLead)
    if (lang != "en" && lang != "ru") return None
    val titleNorm = TitleKey.normTitle(res.title)
    if (titleNorm.isEmpty) return None
    Some((lang, titleNorm))
  }

  /** Extract a single doc. Returns None when the doc is dropped
    * (unsupported language, or no title and no content).
    */
  def extractOne(doc: Doc): Option[ExtractedDoc] = {
    if (doc.spans == null || doc.spans.isEmpty) return None
    val fused = fuse(doc.spans)
    val bytes = fused.stream.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val res = StreamEmitter.emitStreamingBytes(bytes, bytes.length, fused.media)
    gate(res).map { case (lang, titleNorm) =>
      ExtractedDoc(
        doc_id = doc.doc_id,
        lang = lang,
        title_norm = titleNorm,
        spans = res.spans,
        n_text_spans = res.spans.count(_.kind == "text"),
        n_media_spans = res.spans.count(s => s.kind == "image" || s.kind == "embed"))
    }
  }

  /** The distributed transform. */
  def run(docs: Dataset[Doc]): Dataset[ExtractedDoc] = {
    import docs.sparkSession.implicits._
    docs.mapPartitions(_.flatMap(extractOne))
  }
}

/** Title normalization + tokens + simhash — the clustering key functions
  * (SURVEY.md §7.3, deviation D1: real Unicode normalization replacing the
  * reference's no-op regex, src/parser.rs:223, Q1).
  */
object TitleKey {

  /** lower + strip non-letter/digit/space + collapse spaces. */
  def normTitle(s: String): String = {
    if (s == null) return ""
    val n = s.length
    val b = new java.lang.StringBuilder(n)
    var pendingSpace = false
    var i = 0
    while (i < n) {
      val c = s.charAt(i)
      if (Character.isLetterOrDigit(c)) {
        if (pendingSpace && b.length > 0) b.append(' ')
        pendingSpace = false
        b.append(Character.toLowerCase(c))
      } else pendingSpace = true
      i += 1
    }
    b.toString
  }

  def tokens(normTitle: String): Array[String] =
    if (normTitle == null || normTitle.isEmpty) Array.empty
    else normTitle.split(' ')

  /** 64-bit FNV-1a — stable across JVMs/runs (NOT String.hashCode). */
  def fnv64(s: String): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < s.length) {
      h ^= s.charAt(i).toLong
      h *= 0x100000001b3L
      i += 1
    }
    h
  }

  /** Classic 64-bit simhash over token hashes. */
  def simhash64(toks: Array[String]): Long = {
    if (toks.isEmpty) return 0L
    val counts = new Array[Int](64)
    var t = 0
    while (t < toks.length) {
      val h = fnv64(toks(t))
      var b = 0
      while (b < 64) {
        if (((h >>> b) & 1L) == 1L) counts(b) += 1 else counts(b) -= 1
        b += 1
      }
      t += 1
    }
    var out = 0L
    var b = 0
    while (b < 64) {
      if (counts(b) > 0) out |= (1L << b)
      b += 1
    }
    out
  }

  def hamming(a: Long, b: Long): Int = java.lang.Long.bitCount(a ^ b)
}
