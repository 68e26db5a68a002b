package graft.html

import graft.model.Span
import scala.collection.mutable.ArrayBuffer

/** Single-pass streaming span emitter: consumes [[ByteScanner]] events
  * directly (no DOM materialization) and reproduces the DOM walk
  * ([[DomBuilder]] + [[SpanEmitter]]) over the same events — asserted
  * over the seeded corpus + targeted cases by StreamEquivalenceSpec, and
  * by the span-fixture oracle. This is the extraction hot path;
  * [[SpanEmitter]] stays as the executable specification.
  *
  * Per-frame flags make push/pop exactly symmetric; the machine mirrors
  * the DOM walk semantics: boiler subtrees suppressed; the outermost
  * TextBlock frame accumulates ALL nested text (nested blocks swallowed),
  * link-density counted under <a>, nested media queued and emitted after
  * the block; at flow level inline elements feed a bare-text run and
  * structural boundaries flush it; flow-level media emit at encounter
  * with children skipped; title = last block-root <h1>.
  */
object StreamEmitter {

  private val Boiler = Set(
    "nav", "header", "footer", "aside", "script", "style", "noscript",
    "form", "button", "select", "option", "template", "head")

  private val TextBlocks = Set(
    "p", "h1", "h2", "h3", "h4", "h5", "h6", "li", "blockquote", "pre",
    "td", "th", "figcaption", "summary", "dd", "dt")

  private val Headings = Set("h1", "h2", "h3", "h4", "h5", "h6")

  private val Inline = Set("a", "b", "i", "em", "strong", "u", "small")

  private val SelfNesting = Set("p", "li", "td", "th", "tr", "option", "dt", "dd")

  private val ClosesP = Set(
    "p", "div", "ul", "ol", "li", "table", "section", "article", "aside",
    "nav", "header", "footer", "h1", "h2", "h3", "h4", "h5", "h6",
    "blockquote", "pre", "form", "hr", "figure")

  // frame flags
  private final val FBoiler = 1 // incremented boilerDepth
  private final val FA = 2 // incremented aDepth
  private final val FInline = 4 // incremented inlineDepth (flow-level inline)
  private final val FBlockRoot = 8 // opened the current block
  private final val FMediaRoot = 16 // opened the media-skip region
  private final val FFlush = 32 // structural flow frame: flush run on close

  /** The only tags whose attributes the machine reads (src/alt/data-i on
    * media elements) — everything else scans attribute-free.
    */
  private val AttrTags: Set[String] =
    Set("img", "iframe", "embed", "graft-media", "video", "audio", "source")

  /** The extraction kernel: [[ByteScanner]] events drive the machine
    * directly — the raw UTF-8 never becomes a String except for kept text
    * runs and media-tag attribute values; no token buffer, no attr lists
    * for non-media tags.
    */
  def emitStreamingBytes(html: Array[Byte], len: Int,
                         mediaTable: Array[(String, String)]): SpanEmitter.Result = {
    val m = new Machine(mediaTable)
    ByteScanner.stream(html, len, m, AttrTags)
    m.finish()
  }

  private final class Machine(mediaTable: Array[(String, String)]) extends TokenSink {
    val out = new ArrayBuffer[Span](16)
    var lastH1 = ""

    val names = new ArrayBuffer[String](16)
    val flags = new ArrayBuffer[Int](16)
    var boilerDepth = 0
    var aDepth = 0
    var inlineDepth = 0
    var inBlock = false
    var inMedia = false
    var mediaUnderInline = false

    val run = new java.lang.StringBuilder(0)
    val block = new java.lang.StringBuilder(0)
    var blockLinked = 0
    var blockName = ""
    val blockMedia = new ArrayBuffer[Span](0)
    var videoSrc: String = null // pending <video>/<audio> src; null = not pending
    var videoInBlock = false

    def flushRun(): Unit = {
      val t = SpanEmitter.collapseWs(run.toString)
      run.setLength(0)
      if (t.nonEmpty) out += Span("text", t, "", out.length)
    }

    def emitBlock(): Unit = {
      val txt = SpanEmitter.collapseWs(block.toString)
      block.setLength(0)
      val name = blockName
      blockName = ""
      if (name == "h1" && txt.nonEmpty) lastH1 = txt
      if (txt.nonEmpty) {
        val keep = Headings.contains(name) || blockLinked * 3 <= txt.length
        if (keep) out += Span("text", txt, "", out.length)
      }
      blockLinked = 0
      var i = 0
      while (i < blockMedia.length) {
        out += blockMedia(i).copy(offset = out.length); i += 1
      }
      blockMedia.clear()
    }

    def collapsedLen(s: String): Int = {
      var len = 0; var pending = false; var i = 0
      while (i < s.length) {
        if (Character.isWhitespace(s.charAt(i))) { if (len > 0) pending = true }
        else { if (pending) { len += 1; pending = false }; len += 1 }
        i += 1
      }
      len
    }

    def attrOf(attrs: List[(String, String)], key: String): String = {
      var rest = attrs
      while (rest ne Nil) {
        val h = rest.head
        if (h._1 == key) return Entities.decode(h._2)
        rest = rest.tail
      }
      ""
    }

    def mediaSpan(name: String, attrs: List[(String, String)]): Span = name match {
      case "img" =>
        val src = attrOf(attrs, "src")
        if (src.nonEmpty) Span("image", SpanEmitter.collapseWs(attrOf(attrs, "alt")), src, 0) else null
      case "iframe" | "embed" =>
        val src = attrOf(attrs, "src")
        if (src.nonEmpty) Span("embed", "", src, 0) else null
      case "graft-media" =>
        val idx = try attrOf(attrs, "data-i").toInt catch { case _: Exception => -1 }
        if (idx >= 0 && idx < mediaTable.length) {
          val (ref, alt) = mediaTable(idx)
          Span("image", SpanEmitter.collapseWs(alt), ref, 0)
        } else null
      case _ => null
    }

    def emitMediaAt(s: Span): Unit = {
      if (s == null) return
      if (inBlock) blockMedia += s
      else { flushRun(); out += s.copy(offset = out.length) }
    }

    def push(name: String, f: Int): Unit = {
      names += name; flags += f
      if ((f & FBoiler) != 0) boilerDepth += 1
      if ((f & FA) != 0) aDepth += 1
      if ((f & FInline) != 0) inlineDepth += 1
      if ((f & FBlockRoot) != 0) inBlock = true
      if ((f & FMediaRoot) != 0) inMedia = true
    }

    def popOne(): Unit = {
      val name = names.remove(names.length - 1)
      val f = flags.remove(flags.length - 1)
      if ((f & FBoiler) != 0) boilerDepth -= 1
      if ((f & FA) != 0) aDepth -= 1
      if ((f & FInline) != 0) inlineDepth -= 1
      if ((f & FMediaRoot) != 0) {
        inMedia = false
        if ((name == "video" || name == "audio") && videoSrc != null && videoSrc.nonEmpty) {
          val s = Span("embed", "", videoSrc, 0)
          if (videoInBlock) blockMedia += s
          else if (!mediaUnderInline) { flushRun(); out += s.copy(offset = out.length) }
        }
        videoSrc = null
        mediaUnderInline = false
      }
      if ((f & FBlockRoot) != 0) { inBlock = false; emitBlock() }
      if ((f & FFlush) != 0 && boilerDepth == 0) flushRun()
    }

    def closeByName(name: String): Unit = {
      var idx = names.length - 1
      while (idx >= 0 && names(idx) != name) idx -= 1
      if (idx >= 0) {
        while (names.length > idx) popOne()
      }
    }

    def onText(d: String): Unit = {
          if (boilerDepth == 0) {
            if (inBlock) {
              // all nested text joins the block (incl. inside nested media,
              // matching innerText's recursion)
              block.append(d).append(' ')
              if (aDepth > 0) blockLinked += collapsedLen(d)
            } else if (inMedia) {
              // flow-level media children are skipped — EXCEPT when the
              // media sits under an inline element (innerText recurses it)
              if (mediaUnderInline) run.append(d).append(' ')
            } else {
              run.append(d).append(' ')
            }
          }
    }

    def onStartTag(name: String, attrs: List[(String, String)], selfClosing: Boolean): Unit = {
          if (ClosesP.contains(name) && names.nonEmpty && names.last == "p") closeByName("p")
          if (SelfNesting.contains(name) && names.nonEmpty && names.last == name) closeByName(name)

          val isVoid = DomBuilder.Void.contains(name)
          val pushes = !isVoid && !selfClosing

          if (boilerDepth > 0) {
            if (pushes) push(name, if (Boiler.contains(name)) FBoiler else 0)
          } else if (inMedia) {
            if (name == "source" && videoSrc != null && videoSrc.isEmpty)
              videoSrc = attrOf(attrs, "src")
            if (pushes) {
              var f = 0
              if (Boiler.contains(name)) f |= FBoiler
              if (name == "a") f |= FA // link density still counts inside media subtrees in a block
              push(name, f)
            }
          } else if (inBlock) {
            if (name == "img" || name == "iframe" || name == "embed" || name == "graft-media") {
              emitMediaAt(mediaSpan(name, attrs))
              // matched media are not recursed into for FURTHER media
              // (mirrors emitNestedMedia); their text still joins the block
              if (pushes) push(name, FMediaRoot)
            } else if (name == "video" || name == "audio") {
              if (pushes) {
                videoSrc = attrOf(attrs, "src"); videoInBlock = true
                push(name, FMediaRoot)
              } else {
                val s = attrOf(attrs, "src")
                if (s.nonEmpty) emitMediaAt(Span("embed", "", s, 0))
              }
            } else if (pushes) {
              var f = 0
              if (Boiler.contains(name)) f |= FBoiler
              if (name == "a") f |= FA
              push(name, f)
            }
          } else {
            // flow level
            if (Boiler.contains(name)) {
              if (inlineDepth == 0) flushRun()
              if (pushes) push(name, FBoiler)
            } else if (name == "video" || name == "audio") {
              // any flow-level media ENCOUNTER flushes the run (the DOM
              // walk flushes before emitMedia even when nothing emits)
              if (inlineDepth == 0) flushRun()
              if (pushes) {
                videoSrc = attrOf(attrs, "src"); videoInBlock = false
                mediaUnderInline = inlineDepth > 0
                push(name, FMediaRoot)
              } else {
                val s = attrOf(attrs, "src")
                if (s.nonEmpty && inlineDepth == 0) out += Span("embed", "", s, out.length)
              }
            } else if (name == "img" || name == "iframe" || name == "embed" || name == "graft-media") {
              if (inlineDepth == 0) {
                flushRun()
                val s = mediaSpan(name, attrs)
                if (s != null) out += s.copy(offset = out.length)
              }
              // under inline: media dropped (innerText semantics)
              if (pushes) { mediaUnderInline = inlineDepth > 0; push(name, FMediaRoot) }
            } else if (TextBlocks.contains(name) && inlineDepth == 0) {
              flushRun()
              if (pushes) {
                blockName = name; block.setLength(0); blockLinked = 0
                push(name, FBlockRoot)
              }
            } else if (Inline.contains(name)) {
              if (pushes) push(name, FInline | (if (name == "a") FA else 0))
            } else {
              // flow container / unknown: structural boundary
              if (inlineDepth == 0) flushRun()
              if (pushes) push(name, if (inlineDepth == 0) FFlush else 0)
            }
          }

    }

    def onEndTag(name: String): Unit = {
          if (!DomBuilder.Void.contains(name)) closeByName(name)
    }

    def finish(): SpanEmitter.Result = {
      while (names.nonEmpty) popOne()
      flushRun()
      SpanEmitter.Result(out.toArray, lastH1)
    }
  }
}
