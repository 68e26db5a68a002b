package graft.html

import scala.collection.mutable.ArrayBuffer

/** Lightweight DOM: element tree with text leaves. Built from
  * [[ByteScanner]] events with HTML5-ish tag-omission recovery (implied
  * </p>, </li>, …) and void-element handling. Never throws on malformed
  * nesting. The DOM walk ([[SpanEmitter]]) over this tree is the
  * executable spec that [[StreamEmitter]] must reproduce.
  */
sealed trait Node
final class Element(val name: String, val attrs: List[(String, String)]) extends Node {
  val children: ArrayBuffer[Node] = new ArrayBuffer[Node](4)
  /** Attribute values are stored raw by the scanner; entity-decode on
    * access (attrs are only read for media elements).
    */
  def attr(key: String): String =
    attrs.collectFirst { case (k, v) if k == key => Entities.decode(v) }.getOrElse("")
}
final case class TextNode(data: String) extends Node

object DomBuilder {

  /** Void elements never take children (HTML5 §13.1.2). */
  val Void: Set[String] = Set(
    "area", "base", "br", "col", "embed", "hr", "img", "input",
    "link", "meta", "param", "source", "track", "wbr", "graft-media")

  /** Opening one of these auto-closes an open element of the same name
    * (and, for li/td/th/tr/option, of its sibling kind).
    */
  private val SelfNesting = Set("p", "li", "td", "th", "tr", "option", "dt", "dd")

  /** Block-ish elements whose start implies closing an open <p>. */
  private val ClosesP = Set(
    "p", "div", "ul", "ol", "li", "table", "section", "article", "aside",
    "nav", "header", "footer", "h1", "h2", "h3", "h4", "h5", "h6",
    "blockquote", "pre", "form", "hr", "figure")

  /** Parse `html` (scanned as UTF-8 bytes, every tag's attributes kept)
    * into a tree under a synthetic `#root` element.
    */
  def build(html: String): Element = {
    val root = new Element("#root", Nil)
    val stack = new ArrayBuffer[Element](16)
    stack += root

    def top: Element = stack(stack.length - 1)

    def closeUpTo(name: String): Boolean = {
      var idx = stack.length - 1
      while (idx >= 1 && stack(idx).name != name) idx -= 1
      if (idx >= 1) { stack.takeInPlace(idx); true } else false
    }

    if (html != null) {
      val bytes = html.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      ByteScanner.stream(bytes, bytes.length, new TokenSink {
        def onText(d: String): Unit =
          if (d.nonEmpty) top.children += TextNode(d)
        def onStartTag(name: String, attrs: List[(String, String)], selfClosing: Boolean): Unit = {
          if (ClosesP.contains(name) && top.name == "p") closeUpTo("p")
          if (SelfNesting.contains(name) && top.name == name) closeUpTo(name)
          val el = new Element(name, attrs)
          top.children += el
          if (!selfClosing && !Void.contains(name)) stack += el
        }
        def onEndTag(name: String): Unit =
          if (!Void.contains(name)) closeUpTo(name) // unmatched close → ignored
      })
    }
    root
  }
}
