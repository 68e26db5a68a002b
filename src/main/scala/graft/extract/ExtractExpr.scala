package graft.extract

import graft.html.{SpanEmitter, StreamEmitter}
import org.apache.spark.sql.{Column, DataFrame, GraftColumnBridge}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Tungsten-native extraction: the whole kernel as ONE Catalyst
  * expression over the raw `spans` column.
  *
  * Why this exists alongside the typed [[Extract.run]]: a Dataset
  * encoder boundary converts every UTF8String to a java String and
  * materializes Doc/Span objects BEFORE the kernel sees a byte — round-1
  * measurement put the parquet-input path at ~55% of the fused path's
  * throughput. Here the scan's UTF8String bytes feed
  * [[graft.html.ByteScanner]] directly: tags, dropped boilerplate, and
  * raw-text elements are never decoded; only kept text runs become
  * Strings (for the shared emitter/gate logic), and outputs go back as
  * UTF8String. No Doc/Span objects, no UTF-16 round trip for the ~70% of
  * bytes the extractor drops.
  *
  * Semantics are IDENTICAL to [[Extract.extractOne]] — same scanner,
  * same machine, same [[Extract.gate]]; only the fuse (bytes here,
  * Strings there) and the null handling are its own — asserted
  * row-for-row by ByteExtractSpec.
  * Returns null for dropped docs (filter `isNotNull` downstream).
  */
case class ExtractSpansExpr(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ExtractSpansExpr.OutType
  override def nullable: Boolean = true
  override def prettyName: String = "extract_spans"
  override protected def withNewChildInternal(c: Expression): ExtractSpansExpr = copy(c)

  override def nullSafeEval(input: Any): Any =
    ExtractSpansExpr.evalCore(input) match {
      case null => null
      case (lang, titleNorm, res) =>
        val spanRows = new Array[Any](res.spans.length)
        var nText = 0
        var nMedia = 0
        var s = 0
        while (s < res.spans.length) {
          val sp = res.spans(s)
          if (sp.kind == "text") nText += 1
          else if (sp.kind == "image" || sp.kind == "embed") nMedia += 1
          spanRows(s) = new GenericInternalRow(Array[Any](
            UTF8String.fromString(sp.kind),
            UTF8String.fromString(sp.text),
            UTF8String.fromString(sp.media_ref),
            sp.offset))
          s += 1
        }
        new GenericInternalRow(Array[Any](
          UTF8String.fromString(lang),
          UTF8String.fromString(titleNorm),
          new GenericArrayData(spanRows),
          nText, nMedia))
    }
}

/** Title/lang-only twin of [[ExtractSpansExpr]]: runs the IDENTICAL
  * machine (same fuse, same ByteScanner+StreamEmitter, same gate — the
  * shared [[ExtractSpansExpr.evalCore]]) but materializes only
  * `(lang, title_norm)`, skipping the span-array output serialization.
  * This is the classify-only extraction shape: classification never
  * reads spans, and at 2M docs the span UTF8String/row construction is
  * measurable. Kept/dropped decisions and titles are identical to the
  * full expression BY CONSTRUCTION (one code path; ByteExtractSpec
  * additionally asserts projection equality on the synth corpus).
  */
case class ExtractTitleExpr(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ExtractTitleExpr.OutType
  override def nullable: Boolean = true
  override def prettyName: String = "extract_title"
  override protected def withNewChildInternal(c: Expression): ExtractTitleExpr = copy(c)

  override def nullSafeEval(input: Any): Any =
    ExtractSpansExpr.evalCore(input) match {
      case null => null
      case (lang, titleNorm, _) =>
        new GenericInternalRow(Array[Any](
          UTF8String.fromString(lang), UTF8String.fromString(titleNorm)))
    }
}

object ExtractTitleExpr {
  val OutType: StructType = StructType(Seq(
    StructField("lang", StringType, nullable = false),
    StructField("title_norm", StringType, nullable = false)))

  def extract_title(c: Column): Column =
    GraftColumnBridge.column(ExtractTitleExpr(GraftColumnBridge.expression(c)))

  /** (doc_id, lang, title_norm) — the slim classify-input extraction. */
  def run(df: DataFrame): DataFrame =
    df.select(col("doc_id"), extract_title(col("spans")).as("_r"))
      .filter(col("_r").isNotNull)
      .select(col("doc_id"), col("_r.lang").as("lang"),
        col("_r.title_norm").as("title_norm"))
}

object ExtractSpansExpr {
  private[extract] val MediaKind = UTF8String.fromString("media")

  /** The shared eval machine for both expressions: sort input spans by
    * offset, fuse html bytes + media placeholders, run the byte
    * scanner/emitter, apply the language gate. Returns null for dropped
    * docs, else (lang, title_norm, emitter result).
    */
  private[extract] def evalCore(input: Any): (String, String, SpanEmitter.Result) = {
    val arr = input.asInstanceOf[ArrayData]
    val n = arr.numElements()
    if (n == 0) return null

    // collect (offset, idx) and sort — docs have few input spans.
    // Null TOLERANCE: a null span element OR a null offset field is
    // skipped entirely (getInt on a null slot would silently read 0 and
    // reorder the span to the front — the typed path can't encode such a
    // row at all, so "skip" is the one semantics both sides can share;
    // pinned by ByteExtractSpec's null-offset case).
    val order = new Array[Long](n) // offset << 32 | idx keeps the sort primitive
    var i = 0
    while (i < n) {
      val row = arr.getStruct(i, 4) // skipped rows sort to the front
      val skip = row == null || row.isNullAt(3)
      order(i) = (if (skip) Long.MinValue else row.getInt(3).toLong << 32) | i.toLong
      i += 1
    }
    java.util.Arrays.sort(order)

    // fuse: concat html spans' UTF-8 bytes; media → ASCII placeholder.
    // 33 = '<graft-media data-i="">' (23) + up to 10 index digits — an
    // upper bound; the scanner gets the exact length `at` below.
    var total = 0
    i = 0
    while (i < n) {
      val row = arr.getStruct(order(i).toInt, 4)
      if (row != null && !row.isNullAt(3)) {
        val kind = if (row.isNullAt(0)) null else row.getUTF8String(0)
        if (kind != null && kind.equals(MediaKind)) total += 33
        else if (!row.isNullAt(1)) total += row.getUTF8String(1).numBytes()
      }
      i += 1
    }
    val buf = new Array[Byte](total)
    var at = 0
    val media = new scala.collection.mutable.ArrayBuffer[(String, String)](4)
    i = 0
    while (i < n) {
      val row = arr.getStruct(order(i).toInt, 4)
      val kind = if (row == null || row.isNullAt(0)) null else row.getUTF8String(0)
      if (row == null || row.isNullAt(3)) { /* skip null span element / null offset */ }
      else if (kind != null && kind.equals(MediaKind)) {
        val ph = "<graft-media data-i=\"" + media.length + "\">"
        var k = 0
        while (k < ph.length) { buf(at) = ph.charAt(k).toByte; at += 1; k += 1 }
        val ref = if (row.isNullAt(2)) "" else row.getUTF8String(2).toString
        val alt = if (row.isNullAt(1)) "" else row.getUTF8String(1).toString
        media += ((ref, alt))
      } else if (!row.isNullAt(1)) {
        val t = row.getUTF8String(1)
        t.writeToMemory(buf, org.apache.spark.unsafe.Platform.BYTE_ARRAY_OFFSET + at)
        at += t.numBytes()
      }
      i += 1
    }

    val res = StreamEmitter.emitStreamingBytes(buf, at, media.toArray)
    Extract.gate(res) match {
      case None                     => null
      case Some((lang, titleNorm)) => (lang, titleNorm, res)
    }
  }

  val SpanType: StructType = StructType(Seq(
    StructField("kind", StringType, nullable = true),
    StructField("text", StringType, nullable = true),
    StructField("media_ref", StringType, nullable = true),
    StructField("offset", IntegerType, nullable = false)))

  val OutType: StructType = StructType(Seq(
    StructField("lang", StringType, nullable = false),
    StructField("title_norm", StringType, nullable = false),
    StructField("spans", ArrayType(SpanType, containsNull = false), nullable = false),
    StructField("n_text_spans", IntegerType, nullable = false),
    StructField("n_media_spans", IntegerType, nullable = false)))

  def extract_spans(c: Column): Column =
    GraftColumnBridge.column(ExtractSpansExpr(GraftColumnBridge.expression(c)))

  /** DataFrame-native extraction: same output schema as
    * `Extract.run(ds).toDF()`, no encoder boundary. Input must carry
    * `(doc_id, spans: array<struct<kind,text,media_ref,offset>>)`.
    */
  def run(df: DataFrame): DataFrame =
    df.select(col("doc_id"), extract_spans(col("spans")).as("_r"))
      .filter(col("_r").isNotNull)
      .select(col("doc_id"), col("_r.lang").as("lang"),
        col("_r.title_norm").as("title_norm"), col("_r.spans").as("spans"),
        col("_r.n_text_spans").as("n_text_spans"),
        col("_r.n_media_spans").as("n_media_spans"))
}
