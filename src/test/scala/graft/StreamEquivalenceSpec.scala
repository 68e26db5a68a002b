package graft

import graft.html.{DomBuilder, SpanEmitter, StreamEmitter}
import graft.synth.Synth
import org.scalatest.funsuite.AnyFunSuite

/** StreamEmitter (single-pass hot path) must reproduce SpanEmitter (the
  * DOM-walk executable spec) exactly over the same ByteScanner events:
  * seeded corpus, targeted cases, and randomized structured HTML.
  */
class StreamEquivalenceSpec extends AnyFunSuite {

  private def both(html: String, media: Array[(String, String)]) = {
    val dom = SpanEmitter.emit(DomBuilder.build(html), media)
    val bytes = html.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    (dom, StreamEmitter.emitStreamingBytes(bytes, bytes.length, media))
  }

  private def assertSame(html: String): Unit = {
    val (a, b) = both(html, Array.empty)
    assert(a.title == b.title, s"title mismatch on: $html")
    assert(
      a.spans.map(s => (s.kind, s.text, s.media_ref, s.offset)).toSeq ==
      b.spans.map(s => (s.kind, s.text, s.media_ref, s.offset)).toSeq,
      s"spans mismatch on: $html\n dom: ${a.spans.mkString("|")}\n str: ${b.spans.mkString("|")}")
  }

  test("equivalent on the full seeded corpus (with interleaved media)") {
    (0 until 3000).foreach { i =>
      val t = Synth.gen(42L, i.toLong, 60)
      val fused = graft.extract.Extract.fuse(t.input)
      val (a, b) = both(fused.stream, fused.media)
      assert(a.title == b.title, s"${t.doc_id} title")
      assert(a.spans.toSeq.map(s => (s.kind, s.text, s.media_ref, s.offset)) ==
        b.spans.toSeq.map(s => (s.kind, s.text, s.media_ref, s.offset)), t.doc_id)
    }
  }

  test("equivalent on targeted structures") {
    Seq(
      "<body><h1>t</h1><p>a</p><p>b <a href='x'>c</a></p></body>",
      "<body><nav><a>x</a></nav><h1>first</h1><p>y</p><h1>second</h1></body>",
      "<li>a<li>b<li>c",
      "<p>a<p>b<p>c",
      "<div>a<div>b</div>c</div>",
      "<body>bare text <b>bold <div>inside inline</div></b> tail</body>",
      "<p><a href='1'>all</a> <a href='2'>links</a></p><p>regular words here</p>",
      "<figure><img src='u' alt='aa'><figcaption>cap</figcaption></figure>",
      "<video src='v1'></video><video><source src='v2'></video>",
      "<p>before <img src='i1' alt='in block'> after</p>",
      "<p>with <iframe src='f1'></iframe> embedded</p>",
      "<a href='x'><img src='dropped'></a><p>kept words</p>",
      "<ul><li>one</li><li>two <b>bold</b></li></ul>",
      "<table><tr><td>c1</td><td>c2</td></tr></table>",
      "<h1>only title",
      "<p>unclosed para <h1>then title</h1>",
      "<aside><p>hidden</p></aside><p>visible</p>",
      "<body><script>var x='<p>no</p>';</script><p>yes</p></body>",
      "plain text no tags at all",
      "<h2>sub</h2><blockquote>quote text</blockquote><pre>pre text</pre>",
      "<p>a &amp; b</p><h1>A &lt; B</h1>",
      "<div><video><source src='v3'><p>fallback</p></video></div>",
      "<b><p>block inside inline</p></b>",
      "<p>text<nav>boiler in block</nav>more</p>",
      "<p><a>link text <b>nested</b></a> rest of paragraph words</p>"
    ).foreach(assertSame)
  }

  test("equivalent on random structured html") {
    val tags = Array("p", "div", "h1", "li", "b", "a", "nav", "span",
      "ul", "img", "iframe", "td", "blockquote", "article", "video",
      "audio", "source", "figure", "aside", "h2", "em", "table", "tr",
      "title", "textarea", "script", "pre", "dd", "dt", "hr", "br", "i",
      "u", "small", "strong", "form", "select", "option", "head", "body",
      "html", "footer", "header", "main", "center", "figcaption",
      "summary", "th", "ol", "dl", "embed", "noscript")
    val words = Array("alpha", "beta", "gamma", "delta", "epsilon",
      "zeta", "&amp;", "&#65;", "<", "&bogus;")
    val rng = new scala.util.Random(4242)
    (0 until 3000).foreach { _ =>
      val sb = new StringBuilder
      (0 until (10 + rng.nextInt(100))).foreach { _ =>
        rng.nextInt(6) match {
          case 0 =>
            val t = tags(rng.nextInt(tags.length))
            if (t == "img") sb.append(s"<img src='u${rng.nextInt(5)}' alt='${words(rng.nextInt(5))}'>")
            else if (t == "iframe") sb.append(s"<iframe src='f${rng.nextInt(5)}'>")
            else if (rng.nextInt(10) == 0) sb.append(s"<$t/>")
            else sb.append(s"<$t>")
          case 1 => sb.append(s"</${tags(rng.nextInt(tags.length))}>")
          case 2 => sb.append(words(rng.nextInt(words.length)))
          case _ => sb.append(words(rng.nextInt(6))).append(' ')
        }
      }
      assertSame(sb.toString)
    }
  }
}
