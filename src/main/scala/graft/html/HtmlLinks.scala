package graft.html

import scala.collection.mutable.ArrayBuffer

/** Hyperlink extraction from raw HTML bytes + RFC-3986-lite reference
  * resolution — the input side of the corpus link graph
  * (`LinkGraph.domainAuthority` consumes what this emits). The reference
  * has no analogue (it is a single-document parser); this is corpus-level
  * pipeline surface like the rest of the `operators/` family.
  *
  * Same engineering rules as [[HtmlExtract]]: one deterministic byte-level
  * pass, no regexes, no DOM, total on arbitrary bytes (garbage in, empty
  * out — never a throw), and no local def captures a `var` (scalac would
  * box it into a heap `IntRef`).
  */
object HtmlLinks {

  /** Raw `href` values of `<a>` tags in document order, with duplicates
    * KEPT — a page linking a target twice is a stronger edge, and the
    * multiplicity is exactly the weight [[graft.operators.LinkGraph]]
    * aggregates. `<script>`/`<style>` element bodies are skipped (an
    * "<a href=..." inside a JS string literal is not a link), comments
    * (`<!-- -->`) likewise. Quoted (either quote) and unquoted attribute
    * values are both honored. */
  def rawHrefs(html: Array[Byte]): Vector[String] = rawAnchors(html).map(_._1)

  /** (raw href, anchor text) pairs of `<a>` tags in document order — the
    * text is what the LINKING page says the target is (the classic
    * web-relevance signal and a caption-like training pair). Text =
    * the bytes between the open tag and the matching `</a>` (or the next
    * `<a`, or end of input — unclosed anchors are everywhere), with
    * embedded tags skipped quote-aware, entities decoded, and whitespace
    * collapsed; an anchor with no visible text yields "". All the
    * [[rawHrefs]] scanning rules apply (it is this function's projection). */
  def rawAnchors(html: Array[Byte]): Vector[(String, String)] = {
    if (html == null) return Vector.empty
    val out = Vector.newBuilder[(String, String)]
    val n = html.length
    @inline def lower(b: Byte): Byte =
      if (b >= 'A' && b <= 'Z') (b + 32).toByte else b
    @inline def isWs(b: Byte): Boolean =
      b == ' ' || b == '\t' || b == '\n' || b == '\r' || b == '\f'
    // skip to the tag-closing '>' HONORING QUOTES — a '>' inside a quoted
    // attribute value must not end the tag, or the rest of the value gets
    // parsed as markup and fabricates links
    @inline def skipTag(from: Int): Int = {
      var j = from
      while (j < n && html(j) != '>') {
        if (html(j) == '"' || html(j) == '\'') {
          val q = html(j); j += 1
          while (j < n && html(j) != q) j += 1
          if (j < n) j += 1
        } else j += 1
      }
      if (j < n) j + 1 else n
    }
    var i = 0
    var skipUntil: String = null // inside <script>/<style>: skip to its close tag
    while (i < n) {
      if (html(i) == '<') {
        // NOTE the skipUntil check runs FIRST: '<!--' inside a script body
        // is script text, not a comment — treating it as one swallows the
        // rest of the document's links
        if (skipUntil != null) {
          // inside script/style: only the matching close tag ends the skip
          var j = i + 1
          var matches = j < n && html(j) == '/'
          if (matches) {
            j += 1
            var k = 0
            while (matches && k < skipUntil.length) {
              if (j >= n || lower(html(j)) != skipUntil.charAt(k)) matches = false
              j += 1; k += 1
            }
            matches = matches && j < n && (isWs(html(j)) || html(j) == '>')
          }
          if (matches) {
            skipUntil = null
            i = skipTag(j)
          } else i += 1
        } else if (i + 3 < n && html(i + 1) == '!' && html(i + 2) == '-' && html(i + 3) == '-') {
          // comment: skip to -->
          var j = i + 4
          while (j + 2 < n && !(html(j) == '-' && html(j + 1) == '-' && html(j + 2) == '>')) j += 1
          i = if (j + 2 < n) j + 3 else n
        } else {
          // tag name
          var j = i + 1
          if (j < n && html(j) == '/') j += 1
          val nameStart = j
          while (j < n && ((lower(html(j)) >= 'a' && lower(html(j)) <= 'z') ||
            (html(j) >= '0' && html(j) <= '9'))) j += 1
          val name = new String(html, nameStart, j - nameStart, "ISO-8859-1").toLowerCase
          val isClose = i + 1 < n && html(i + 1) == '/'
          if (!isClose && (name == "script" || name == "style")) skipUntil = name
          if (!isClose && name == "a") {
            // scan attributes for href, honoring quotes
            var href: String = null
            while (j < n && html(j) != '>') {
              if (isWs(html(j))) j += 1
              else if (html(j) == '"' || html(j) == '\'') {
                // stray quoted run outside an attr value: skip it
                val q = html(j); j += 1
                while (j < n && html(j) != q) j += 1
                if (j < n) j += 1
              } else {
                val aStart = j
                while (j < n && html(j) != '=' && html(j) != '>' && !isWs(html(j))) j += 1
                val aName = new String(html, aStart, j - aStart, "ISO-8859-1").toLowerCase
                while (j < n && isWs(html(j))) j += 1
                var value: String = null
                if (j < n && html(j) == '=') {
                  j += 1
                  while (j < n && isWs(html(j))) j += 1
                  if (j < n && (html(j) == '"' || html(j) == '\'')) {
                    val q = html(j); j += 1
                    val vStart = j
                    while (j < n && html(j) != q) j += 1
                    value = new String(html, vStart, j - vStart, "UTF-8")
                    if (j < n) j += 1
                  } else {
                    val vStart = j
                    while (j < n && !isWs(html(j)) && html(j) != '>') j += 1
                    value = new String(html, vStart, j - vStart, "UTF-8")
                  }
                }
                if (aName == "href" && href == null && value != null) href = value
              }
            }
            i = if (j < n) j + 1 else n
            if (href != null) {
              // collect the anchor's visible text: bytes outside embedded
              // tags, until the matching </a>, the NEXT <a (unclosed
              // anchors are everywhere on the web), or end of input
              val tb = new java.io.ByteArrayOutputStream()
              var j2 = i
              var done = false
              while (!done && j2 < n) {
                if (html(j2) == '<') {
                  val isCloseA = j2 + 2 < n && html(j2 + 1) == '/' &&
                    lower(html(j2 + 2)) == 'a' &&
                    (j2 + 3 >= n || isWs(html(j2 + 3)) || html(j2 + 3) == '>')
                  val isOpenA = j2 + 1 < n && lower(html(j2 + 1)) == 'a' &&
                    (j2 + 2 >= n || isWs(html(j2 + 2)) || html(j2 + 2) == '>' ||
                      html(j2 + 2) == '/')
                  if (isCloseA) { i = skipTag(j2 + 1); done = true }
                  else if (isOpenA) { i = j2; done = true } // reparse as a new anchor
                  else { tb.write(' '); j2 = skipTag(j2 + 1) } // embedded tag = separator
                } else { tb.write(html(j2)); j2 += 1 }
              }
              if (!done) i = n
              val text = decodeEntities(
                tb.toString("UTF-8").split("\\s+").filter(_.nonEmpty).mkString(" "))
              out += ((decodeEntities(href), text))
            }
          } else {
            i = skipTag(j)
          }
        }
      } else i += 1
    }
    out.result()
  }

  /** Decode the HTML entities that legitimately appear in attribute
    * values — `&amp;` above all: the spec-compliant way to write `&` in an
    * href, and without decoding it every multi-parameter URL resolves to a
    * string that can never match a committed corpus url (its edge would
    * silently vanish from the link graph). Named amp/lt/gt/quot/apos plus
    * numeric decimal/hex forms; anything unrecognized passes through. */
  private[html] def decodeEntities(s: String): String = {
    if (s.indexOf('&') < 0) return s
    val sb = new StringBuilder(s.length)
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '&') {
        val semi = s.indexOf(';', i + 1)
        val decoded: Integer =
          if (semi < 0 || semi > i + 8) null
          else s.substring(i + 1, semi) match {
            case "amp" => '&'.toInt
            case "lt" => '<'.toInt
            case "gt" => '>'.toInt
            case "quot" => '"'.toInt
            case "apos" => '\''.toInt
            case e if e.length > 1 && e.charAt(0) == '#' =>
              try {
                val cp =
                  if (e.length > 2 && (e.charAt(1) == 'x' || e.charAt(1) == 'X'))
                    Integer.parseInt(e.substring(2), 16)
                  else Integer.parseInt(e.substring(1))
                if (Character.isValidCodePoint(cp)) cp else null
              } catch { case _: NumberFormatException => null }
            case _ => null
          }
        if (decoded != null) { sb.appendAll(Character.toChars(decoded)); i = semi + 1 }
        else { sb += c; i += 1 }
      } else { sb += c; i += 1 }
    }
    sb.toString
  }

  /** Resolve one href against the page url — RFC-3986-lite: enough for
    * crawl-graph construction, deterministic, total. Returns null for
    * non-navigational hrefs (fragment-only, `javascript:`, `mailto:`,
    * `data:`, `tel:`) and for bases it cannot parse (no `scheme://`).
    * The fragment is stripped BEFORE resolution; `.` and `..` path
    * segments normalize (never past the root). */
  def resolve(baseUrl: String, href: String): String = {
    if (baseUrl == null || href == null) return null
    val hashAt = href.indexOf('#')
    val h0 = (if (hashAt >= 0) href.substring(0, hashAt) else href).trim
    if (h0.isEmpty) return null
    // scheme-qualified?
    val colon = h0.indexOf(':')
    val slash = h0.indexOf('/')
    if (colon > 0 && (slash < 0 || colon < slash) &&
        h0.substring(0, colon).forall(c => c.isLetterOrDigit || c == '+' || c == '-' || c == '.') &&
        h0.charAt(0).isLetter) {
      val scheme = h0.substring(0, colon).toLowerCase
      return if (scheme == "javascript" || scheme == "mailto" ||
        scheme == "data" || scheme == "tel") null
      else h0
    }
    // parse the base: scheme://authority[/path...]
    val sep = baseUrl.indexOf("://")
    if (sep <= 0) return null
    val scheme = baseUrl.substring(0, sep)
    val afterAuth = {
      val idx = baseUrl.indexWhere(c => c == '/' || c == '?', sep + 3)
      if (idx < 0) baseUrl.length else idx
    }
    val root = baseUrl.substring(0, afterAuth) // scheme://authority
    if (h0.startsWith("//")) return scheme + ":" + h0
    val basePath = {
      val p0 = baseUrl.substring(afterAuth)
      val q = p0.indexOf('?')
      val p = if (q >= 0) p0.substring(0, q) else p0
      if (p.isEmpty) "/" else p
    }
    val merged =
      if (h0.startsWith("/")) h0
      else if (h0.startsWith("?")) return root + basePath + h0
      else basePath.substring(0, basePath.lastIndexOf('/') + 1) + h0
    // normalize . and .. segments (query survives on the last segment)
    val qAt = merged.indexOf('?')
    val (pathPart, queryPart) =
      if (qAt >= 0) (merged.substring(0, qAt), merged.substring(qAt)) else (merged, "")
    val segs = ArrayBuffer.empty[String]
    pathPart.split("/", -1).foreach {
      case "" | "." => ()
      case ".." => if (segs.nonEmpty) segs.remove(segs.length - 1)
      case s => segs += s
    }
    val trailingSlash = pathPart.endsWith("/") || pathPart.endsWith("/.") ||
      pathPart.endsWith("/..")
    root + "/" + segs.mkString("/") +
      (if (trailingSlash && segs.nonEmpty) "/" else "") + queryPart
  }

  /** Resolved out-links of a page, document order, duplicates kept
    * (multiplicity = edge weight downstream). PDF payloads yield no links
    * (the [[graft.operators.ExtractPipeline.isPdf]] dispatch rule). */
  def links(html: Array[Byte], baseUrl: String): Vector[String] =
    if (html == null || graft.operators.ExtractPipeline.isPdf(baseUrl, html)) Vector.empty
    else rawHrefs(html).flatMap(h => Option(resolve(baseUrl, h)))

  /** Resolved (dst url, anchor text) pairs — [[links]] with the linking
    * text kept. Same dispatch and resolution rules; non-navigational
    * hrefs drop with their text. */
  def anchors(html: Array[Byte], baseUrl: String): Vector[(String, String)] =
    if (html == null || graft.operators.ExtractPipeline.isPdf(baseUrl, html)) Vector.empty
    else rawAnchors(html).flatMap { case (h, t) =>
      Option(resolve(baseUrl, h)).map(r => (r, t))
    }
}
