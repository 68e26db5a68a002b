package graft

import graft.extract.{Extract, ExtractSpansExpr}
import graft.model.{Doc, Span}
import graft.synth.Synth
import org.scalatest.funsuite.AnyFunSuite

/** The per-row invariant (BASELINE.json input_hint): span-sequence
  * equality (kind, text, media_ref, order) against generator ground truth.
  * Pure-function level (no Spark) over 2000 seeded docs — the Spark-level
  * end-to-end run of the same corpus lives in PipelineSpec.
  */
class SpanFixtureSpec extends AnyFunSuite {

  private val seed = 42L
  private val n = 5000
  private val nStories = math.max(8, n / 50)

  test("extraction matches generator ground truth on all seeded docs") {
    var checked = 0
    var kept = 0
    (0 until n).foreach { i =>
      val t = Synth.gen(seed, i.toLong, nStories)
      val got = Extract.extractOne(Doc(t.doc_id, t.input))
      if (t.kept) {
        assert(got.isDefined, s"${t.doc_id}: expected kept, was dropped (lang=${t.lang}, title=${t.title_norm})")
        val g = got.get
        assert(g.lang == t.lang, s"${t.doc_id}: lang ${g.lang} != ${t.lang}")
        assert(g.title_norm == t.title_norm, s"${t.doc_id}: title '${g.title_norm}' != '${t.title_norm}'")
        val gs = g.spans.map(s => (s.kind, s.text, s.media_ref, s.offset)).toSeq
        val es = t.expected.map(s => (s.kind, s.text, s.media_ref, s.offset)).toSeq
        assert(gs == es,
          s"${t.doc_id}: span mismatch\n got: ${gs.mkString("\n      ")}\n want: ${es.mkString("\n      ")}")
        kept += 1
      } else {
        assert(got.isEmpty, s"${t.doc_id}: expected dropped, got ${got.map(_.title_norm)}")
      }
      checked += 1
    }
    assert(checked == n)
    assert(kept > n / 2, s"too few kept docs: $kept") // ~75% en+ru
  }

  test("byte path matches generator ground truth on all seeded docs") {
    // the production expression evaluated standalone (no Spark session):
    // its own Tungsten fuse, the scanner + machine, the gate and the
    // output row serialization, one doc at a time against the same oracle
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.{BoundReference, GenericInternalRow}
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.sql.types.ArrayType
    import org.apache.spark.unsafe.types.UTF8String
    val expr = ExtractSpansExpr(
      BoundReference(0, ArrayType(ExtractSpansExpr.SpanType), nullable = true))
    def utf8(s: String) = if (s == null) null else UTF8String.fromString(s)
    var checked = 0
    (0 until n).foreach { i =>
      val t = Synth.gen(seed, i.toLong, nStories)
      val spanRows = new GenericArrayData(t.input.map(s =>
        new GenericInternalRow(Array[Any](utf8(s.kind), utf8(s.text), utf8(s.media_ref), s.offset)): Any))
      val out = expr.eval(new GenericInternalRow(Array[Any](spanRows))).asInstanceOf[InternalRow]
      if (t.kept) {
        assert(out != null, s"${t.doc_id}: expression dropped a kept doc")
        assert(out.getString(0) == t.lang && out.getString(1) == t.title_norm, t.doc_id)
        val arr = out.getArray(2)
        val gs = (0 until arr.numElements()).map { k =>
          val r = arr.getStruct(k, 4)
          (r.getString(0), r.getString(1), r.getString(2), r.getInt(3))
        }
        val es = t.expected.map(s => (s.kind, s.text, s.media_ref, s.offset)).toSeq
        assert(gs == es, s"${t.doc_id}: expression span mismatch")
        assert(out.getInt(3) == es.count(_._1 == "text"), t.doc_id)
        assert(out.getInt(4) == es.count(s => s._1 == "image" || s._1 == "embed"), t.doc_id)
      } else {
        assert(out == null, s"${t.doc_id}: expression kept a dropped doc")
      }
      checked += 1
    }
    assert(checked == n)
  }

  test("offsets are 0-based consecutive emission order") {
    (0 until 200).foreach { i =>
      val t = Synth.gen(seed, i.toLong, nStories)
      if (t.kept) {
        Extract.extractOne(Doc(t.doc_id, t.input)).foreach { g =>
          assert(g.spans.zipWithIndex.forall { case (s, idx) => s.offset == idx })
        }
      }
    }
  }

  test("robustness: null/garbage input spans never throw") {
    import graft.model.{Doc, Span}
    val cases = Seq(
      Doc("d1", null),
      Doc("d2", Array.empty),
      Doc("d3", Array(Span("html", null, null, 0))),
      Doc("d4", Array(Span("media", null, null, 0))),
      Doc("d5", Array(Span("html", "<h1>ok</h1>", "", 5),
                      Span("html", "<p>the rest of it</p>", "", 2))), // out-of-order offsets
      Doc("d6", Array(Span("weird-kind", "x", "", 0))))
    cases.foreach(Extract.extractOne) // must not throw
    // out-of-order offsets are sorted before fusing
    val d5 = Extract.extractOne(Doc("d5", Array(
      Span("html", "<p>the second block of words here</p>", "", 1),
      Span("html", "<h1>the first title</h1>", "", 0))))
    assert(d5.isDefined)
    assert(d5.get.spans.head.text == "the first title")
  }

  test("robustness: pathological inputs (deep nesting, huge doc) via the hot path") {
    import graft.model.{Doc, Span}
    // 200k-deep nesting: the streaming emitter is iterative — no stack overflow
    val deep = new StringBuilder("<h1>the deep title</h1>")
    (0 until 200000).foreach(_ => deep.append("<div>"))
    deep.append("the english text with the stopwords in it")
    val r = Extract.extractOne(Doc("deep", Array(Span("html", deep.toString, "", 0))))
    assert(r.isDefined && r.get.title_norm == "the deep title")
    // ~6 MB single doc: linear time, no throw
    val big = new StringBuilder("<h1>the big title</h1>")
    (0 until 50000).foreach(i => big.append(s"<p>the paragraph number $i of the test with more of the words</p>"))
    val rb = Extract.extractOne(Doc("big", Array(Span("html", big.toString, "", 0))))
    assert(rb.isDefined && rb.get.n_text_spans == 50001)
  }

  test("generation is pure: same (seed, idx) → identical doc and truth") {
    val a = Synth.gen(seed, 7L, nStories)
    val b = Synth.gen(seed, 7L, nStories)
    assert(a.input.toSeq == b.input.toSeq)
    assert(a.expected.toSeq == b.expected.toSeq)
  }

  test("media interleave: input media become image spans in order") {
    // find a kept doc with interleaved media input spans
    val t = (0 until 2000).iterator
      .map(i => Synth.gen(seed, i.toLong, nStories))
      .find(t => t.kept && t.input.count(_.kind == "media") >= 2)
      .get
    val g = Extract.extractOne(Doc(t.doc_id, t.input)).get
    val mediaRefs = t.input.filter(_.kind == "media").map(_.media_ref).toSeq
    val gotRefs = g.spans.filter(s => s.kind == "image" && s.media_ref.startsWith("media://")).map(_.media_ref).toSeq
    assert(gotRefs == mediaRefs)
  }
}
