package graft.html

/** Push-mode consumer for [[ByteScanner.stream]]: the extraction machine
  * ([[StreamEmitter]]) in production and the DOM builder
  * ([[DomBuilder]]) for the executable spec.
  */
trait TokenSink {
  def onText(decoded: String): Unit
  def onStartTag(name: String, attrs: List[(String, String)], selfClosing: Boolean): Unit
  def onEndTag(name: String): Unit
}

/** The HTML scanner: a from-scratch, allocation-light, never-throw state
  * machine (HTML5-inspired, not spec-complete) over raw UTF-8 bytes. It
  * must survive arbitrary malformed bytes, invalid UTF-8 included. The
  * reference delegates parsing to the `select` crate (reference:
  * src/parser.rs:132-134); owning the scanner keeps extraction
  * deterministic and auditable.
  *
  * HTML structure (tags, attribute quoting, comments, raw-text elements)
  * is pure ASCII, so the scanner never decodes; only KEPT text runs (and
  * wanted-tag attribute values) become Strings. Tag parts are separated
  * on ASCII whitespace only, and tag names fold ASCII-only (HTML5
  * §13.2.5: a Unicode case-fold like U+017F ſ must not match `s` in a
  * tag name).
  */
object ByteScanner {

  /** Elements whose content never parses as markup: script/style (raw
    * text) plus title/textarea (RCDATA — treated as raw and DROPPED,
    * matching the emitter's head/boiler semantics; stray `<p>` inside a
    * textarea must not open a block).
    */
  private val RawText = Set("script", "style", "title", "textarea")

  // canonical tag/attr names: region-matched case-insensitively against
  // the source, so the common path allocates NO per-tag strings
  private val CanonNames: Array[String] = Array(
    "a", "b", "i", "p", "em", "h1", "h2", "h3", "h4", "h5", "h6", "u",
    "ul", "ol", "li", "td", "th", "tr", "div", "img", "nav", "pre",
    "span", "body", "html", "head", "form", "meta", "link", "table",
    "aside", "video", "audio", "embed", "small", "title", "strong",
    "footer", "header", "iframe", "script", "style", "button", "select",
    "option", "source", "figure", "article", "section", "textarea",
    "figcaption", "blockquote", "noscript", "template", "main", "center",
    "graft-media", "src", "alt", "href", "class", "id", "rel", "type",
    "name", "content", "data-i", "summary", "dd", "dt", "hr", "br")

  private val canonByKey: java.util.HashMap[Integer, Array[String]] = {
    val m = new java.util.HashMap[Integer, Array[String]]()
    CanonNames.foreach { nm =>
      val key = Integer.valueOf(nm.length * 128 + nm.charAt(0))
      val prev = m.get(key)
      m.put(key, if (prev == null) Array(nm) else prev :+ nm)
    }
    m
  }

  private def isWs(b: Byte): Boolean =
    b == ' ' || b == '\t' || b == '\n' || b == '\r' || b == '\f' || b == 0x0b

  private def isNameStart(b: Byte): Boolean =
    (b >= 'a' && b <= 'z') || (b >= 'A' && b <= 'Z')

  /** ASCII lower-case fold — HTML tag/attr names are ASCII-case-
    * insensitive ONLY (HTML5 §13.2.5); Unicode folding (e.g. U+017F ſ →
    * S, U+0131 ı) must NOT match tag names.
    */
  private def lower(b: Byte): Int =
    if (b >= 'A' && b <= 'Z') b + 32 else b & 0xff

  /** Canonical tag/attr name for bytes [from, until) — allocation-free on
    * the known-name path.
    */
  private def canonName(bytes: Array[Byte], from: Int, until: Int): String = {
    val len = until - from
    if (len > 0 && len <= 11) {
      val c0 = lower(bytes(from))
      if (c0 < 128) {
        val cands = canonByKey.get(Integer.valueOf(len * 128 + c0))
        if (cands != null) {
          var ci = 0
          while (ci < cands.length) {
            val cand = cands(ci)
            var k = 0
            var ok = true
            while (ok && k < len) {
              if (lower(bytes(from + k)) != cand.charAt(k)) ok = false
              k += 1
            }
            if (ok) return cand
            ci += 1
          }
        }
      }
    }
    // fold before decoding: ASCII bytes are never part of a multibyte
    // sequence, so this equals decoding then folding ASCII chars
    val folded = new Array[Byte](len)
    var k = 0
    while (k < len) { folded(k) = lower(bytes(from + k)).toByte; k += 1 }
    str(folded, 0, len)
  }

  private def str(bytes: Array[Byte], from: Int, until: Int): String =
    new String(bytes, from, until - from, java.nio.charset.StandardCharsets.UTF_8)

  /** index of ASCII byte `c` in [from, n) or -1 */
  private def indexOf(bytes: Array[Byte], n: Int, c: Byte, from: Int): Int = {
    var i = from
    while (i < n) { if (bytes(i) == c) return i; i += 1 }
    -1
  }

  private def startsWith(bytes: Array[Byte], n: Int, at: Int, s: String): Boolean = {
    if (at + s.length > n) return false
    var k = 0
    while (k < s.length) { if (bytes(at + k) != s.charAt(k)) return false; k += 1 }
    true
  }

  /** ASCII-case-insensitive search for `needle` (lowercase ASCII). */
  private def indexOfIgnoreCase(bytes: Array[Byte], n: Int, needle: String, from: Int): Int = {
    val m = needle.length
    var i = math.max(from, 0)
    while (i + m <= n) {
      var k = 0
      var ok = true
      while (ok && k < m) { if (lower(bytes(i + k)) != needle.charAt(k)) ok = false; k += 1 }
      if (ok) return i
      i += 1
    }
    -1
  }

  /** Scan `bytes[0, n)`, pushing events into `sink`. Never throws; on
    * truncated input, emits what it has.
    *
    * @param wantAttrs tags whose attributes the sink will read; for all
    *                  other tags the attribute region is still scanned
    *                  (quote-aware, to find the true `>`) but no names are
    *                  canonicalized, no values decoded, and no list is
    *                  allocated — the extraction machine only ever reads
    *                  media-tag attrs.
    */
  def stream(bytes: Array[Byte], n: Int, sink: TokenSink,
             wantAttrs: String => Boolean = _ => true): Unit = {
    if (bytes == null) return
    var i = 0
    var buf = new Array[Byte](256)
    var bufLen = 0

    def append(from: Int, until: Int): Unit = {
      val len = until - from
      if (len > 0) {
        if (bufLen + len > buf.length) {
          val grown = new Array[Byte](math.max(buf.length * 2, bufLen + len))
          System.arraycopy(buf, 0, grown, 0, bufLen)
          buf = grown
        }
        System.arraycopy(bytes, from, buf, bufLen, len)
        bufLen += len
      }
    }

    def appendByte(b: Byte): Unit = {
      if (bufLen + 1 > buf.length) {
        val grown = new Array[Byte](buf.length * 2)
        System.arraycopy(buf, 0, grown, 0, bufLen)
        buf = grown
      }
      buf(bufLen) = b; bufLen += 1
    }

    def flushText(): Unit = {
      if (bufLen > 0) {
        sink.onText(Entities.decode(
          new String(buf, 0, bufLen, java.nio.charset.StandardCharsets.UTF_8)))
        bufLen = 0
      }
    }

    while (i < n) {
      // bulk text scan: copy everything up to the next '<' in one append
      if (bytes(i) != '<') {
        val lt = indexOf(bytes, n, '<', i)
        if (lt < 0) { append(i, n); i = n }
        else { append(i, lt); i = lt }
      }
      if (i >= n) { /* done */ }
      else {
        val c = bytes(i)
        if (c == '<' && i + 1 < n) {
          val c1 = bytes(i + 1)
          if (c1 == '!') {
            // comment, doctype, or CDATA — skip it
            flushText()
            if (startsWith(bytes, n, i, "<!--")) {
              var end = -1
              var j = i + 4
              while (end < 0 && j + 3 <= n) {
                if (bytes(j) == '-' && bytes(j + 1) == '-' && bytes(j + 2) == '>') end = j
                j += 1
              }
              i = if (end < 0) n else end + 3
            } else {
              val end = indexOf(bytes, n, '>', i + 2)
              i = if (end < 0) n else end + 1
            }
          } else if (c1 == '?') { // processing instruction — skip
            flushText()
            val end = indexOf(bytes, n, '>', i + 2)
            i = if (end < 0) n else end + 1
          } else if (c1 == '/') {
            // end tag
            var j = i + 2
            if (j < n && isNameStart(bytes(j))) {
              flushText()
              val ns = j
              while (j < n && bytes(j) != '>' && !isWs(bytes(j))) j += 1
              val name = canonName(bytes, ns, j)
              while (j < n && bytes(j) != '>') j += 1
              i = if (j < n) j + 1 else n
              sink.onEndTag(name)
            } else { // "</3" etc. — literal text
              appendByte(c); i += 1
            }
          } else if (isNameStart(c1)) {
            // start tag
            flushText()
            var j = i + 1
            val ns = j
            while (j < n && { val ch = bytes(j)
              (ch >= 'a' && ch <= 'z') || (ch >= 'A' && ch <= 'Z') ||
              (ch >= '0' && ch <= '9') || ch == '-' || ch == ':' }) j += 1
            val name = canonName(bytes, ns, j)
            val keep = wantAttrs(name)
            // attributes
            var attrs: List[(String, String)] = Nil
            var selfClosing = false
            var done = false
            while (!done && j < n) {
              while (j < n && isWs(bytes(j))) j += 1
              if (j >= n) { done = true }
              else bytes(j) match {
                case '>' => j += 1; done = true
                case '/' =>
                  if (j + 1 < n && bytes(j + 1) == '>') { selfClosing = true; j += 2; done = true }
                  else j += 1
                case _ =>
                  // attribute name
                  val as = j
                  while (j < n && { val ch = bytes(j)
                    ch != '=' && ch != '>' && ch != '/' && !isWs(ch) }) j += 1
                  val aname = if (keep) canonName(bytes, as, j) else ""
                  var avalue = ""
                  // optional = value (quote-aware even when !keep)
                  var k = j
                  while (k < n && isWs(bytes(k))) k += 1
                  if (k < n && bytes(k) == '=') {
                    k += 1
                    while (k < n && isWs(bytes(k))) k += 1
                    if (k < n) {
                      val q = bytes(k)
                      if (q == '"' || q == '\'') {
                        val vs = k + 1
                        val ve = indexOf(bytes, n, q, vs)
                        if (ve < 0) { if (keep) avalue = str(bytes, vs, n); k = n }
                        else { if (keep) avalue = str(bytes, vs, ve); k = ve + 1 }
                      } else {
                        val vs = k
                        while (k < n && { val ch = bytes(k); ch != '>' && !isWs(ch) }) k += 1
                        if (keep) avalue = str(bytes, vs, k)
                      }
                    }
                    j = k
                  }
                  if (keep && aname.nonEmpty) attrs = (aname -> avalue) :: attrs
              }
            }
            i = j
            sink.onStartTag(name, if (attrs.isEmpty) Nil else attrs.reverse, selfClosing)
            // raw-text elements: consume until matching close tag, drop content
            if (!selfClosing && RawText.contains(name)) {
              val closer = "</" + name
              // only the exact end tag closes: `</scripts>` is content
              var e = indexOfIgnoreCase(bytes, n, closer, i)
              while (e >= 0 && e + closer.length < n && {
                val nb = bytes(e + closer.length); nb != '/' && nb != '>' && !isWs(nb) })
                e = indexOfIgnoreCase(bytes, n, closer, e + 1)
              if (e < 0) { i = n }
              else {
                var g = e + closer.length
                while (g < n && bytes(g) != '>') g += 1
                i = if (g < n) g + 1 else n
                sink.onEndTag(name)
              }
            }
          } else { // '<' followed by junk — literal
            appendByte(c); i += 1
          }
        } else {
          appendByte(c); i += 1 // lone '<' at end of input
        }
      }
    }
    flushText()
  }
}
