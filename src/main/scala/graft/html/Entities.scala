package graft.html

/** Minimal HTML entity decoder: named core set + numeric refs. Never throws. */
object Entities {
  private val named = Map(
    "amp" -> "&", "lt" -> "<", "gt" -> ">", "quot" -> "\"", "apos" -> "'",
    "nbsp" -> " ", "mdash" -> "—", "ndash" -> "–",
    "hellip" -> "…", "laquo" -> "«", "raquo" -> "»",
    "rsquo" -> "’", "lsquo" -> "‘", "rdquo" -> "”",
    "ldquo" -> "“", "copy" -> "©", "reg" -> "®",
    "trade" -> "™", "deg" -> "°", "eacute" -> "é",
    "agrave" -> "à", "uuml" -> "ü", "ouml" -> "ö",
    "auml" -> "ä", "szlig" -> "ß", "ccedil" -> "ç"
  )

  def decode(s: String): String = {
    if (s == null || s.indexOf('&') < 0) return if (s == null) "" else s
    val n = s.length
    val b = new java.lang.StringBuilder(n)
    var i = 0
    while (i < n) {
      val c = s.charAt(i)
      if (c == '&') {
        val semi = s.indexOf(';', i + 1)
        if (semi > i && semi - i <= 12) {
          val body = s.substring(i + 1, semi)
          if (body.startsWith("#")) {
            val numStr = body.substring(1)
            val cp: Int =
              try {
                if (numStr.startsWith("x") || numStr.startsWith("X"))
                  Integer.parseInt(numStr.substring(1), 16)
                else Integer.parseInt(numStr)
              } catch { case _: Exception => -1 }
            if (cp >= 0 && cp <= 0x10ffff && Character.isValidCodePoint(cp)) {
              b.appendCodePoint(cp); i = semi + 1
            } else { b.append(c); i += 1 }
          } else named.get(body) match {
            case Some(rep) => b.append(rep); i = semi + 1
            case None      => b.append(c); i += 1
          }
        } else { b.append(c); i += 1 }
      } else { b.append(c); i += 1 }
    }
    b.toString
  }
}
