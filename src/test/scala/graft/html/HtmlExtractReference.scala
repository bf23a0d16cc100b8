package graft.html

import java.nio.charset.StandardCharsets.UTF_8

/** Test oracle: the block-buffer HTML extractor that preceded the one-pass
  * kernel in [[HtmlExtract]], kept verbatim (only the object name differs).
  * HtmlExtractDiffSpec asserts the production kernel is byte-identical to
  * it; the frozen spec lives in HtmlExtract's scaladoc. Not used by any
  * main code.
  */
object HtmlExtractReference {

  private val SkipContent = Set("script", "style", "noscript", "template", "head", "svg")

  private val BlockTags = Set(
    "p", "div", "section", "article", "main", "aside", "header", "footer",
    "nav", "li", "ul", "ol", "dl", "dt", "dd", "h1", "h2", "h3", "h4", "h5",
    "h6", "table", "thead", "tbody", "tr", "blockquote", "pre", "figure",
    "figcaption", "form", "fieldset", "address", "hr", "br")

  private val CellTags = Set("td", "th") // cell boundary: space, not newline

  /** Boilerplate thresholds (frozen spec, step 6). */
  private val LinkRatioMax = 2.0 / 3.0
  private val ShortBlockChars = 80

  /** String-in/string-out views (tests, ad-hoc use). */
  def extract(html: String): String = new String(extractBytes(html.getBytes(UTF_8)), UTF_8)
  def extract(html: Array[Byte]): String = new String(extractBytes(html), UTF_8)

  @inline private def isWs(b: Byte): Boolean =
    b == ' ' || b == '\n' || b == '\t' || b == '\r' || b == '\f' || b == 0x0b

  @inline private def isAsciiLetter(b: Byte): Boolean =
    (b >= 'a' && b <= 'z') || (b >= 'A' && b <= 'Z')

  @inline private def isAsciiAlnum(b: Byte): Boolean =
    isAsciiLetter(b) || (b >= '0' && b <= '9')

  @inline private def lower(b: Byte): Byte =
    if (b >= 'A' && b <= 'Z') (b + 32).toByte else b

  /** Reusable per-task scratch: one block buffer per partition instead of
    * one per document keeps the extractor's allocation rate flat. */
  final class Scratch { var buf: Array[Byte] = new Array[Byte](64 * 1024) }

  def extractBytes(html: Array[Byte]): Array[Byte] = extractBytes(html, new Scratch)

  /** The engine entry point: UTF-8 bytes in, extracted-text UTF-8 bytes out. */
  def extractBytes(html: Array[Byte], scratch: Scratch): Array[Byte] = {
    val n = html.length
    var out = new Array[Byte](math.max(16, n / 4))
    var outLen = 0
    if (scratch.buf.length < n) scratch.buf = new Array[Byte](n) // entities never expand
    val blockBuf = scratch.buf
    var blockLen = 0
    var blockNonWs = 0
    var blockLinkBytes = 0
    var anchorDepth = 0
    var i = 0

    @inline def outEnsure(extra: Int): Unit =
      if (outLen + extra > out.length) {
        out = java.util.Arrays.copyOf(out, math.max(out.length * 2, outLen + extra))
      }

    @inline def blockAppend(b: Byte): Unit =
      if (blockLen < blockBuf.length) {
        blockBuf(blockLen) = b
        blockLen += 1
        if (!isWs(b)) {
          blockNonWs += 1
          if (anchorDepth > 0) blockLinkBytes += 1
        }
      }

    def flushBlock(): Unit = {
      if (blockNonWs > 0) {
        // in-place collapse: whitespace runs -> single space, trim both ends
        var j = 0
        var w = 0
        var lastWs = true
        while (j < blockLen) {
          val b = blockBuf(j)
          if (isWs(b)) {
            if (!lastWs) { blockBuf(w) = ' '; w += 1 }
            lastWs = true
          } else { blockBuf(w) = b; w += 1; lastWs = false }
          j += 1
        }
        if (w > 0 && blockBuf(w - 1) == ' ') w -= 1
        if (w > 0) {
          val linkRatio = blockLinkBytes.toDouble / blockNonWs
          if (!(linkRatio > LinkRatioMax && w < ShortBlockChars)) {
            outEnsure(w + 1)
            if (outLen > 0) { out(outLen) = '\n'; outLen += 1 }
            System.arraycopy(blockBuf, 0, out, outLen, w)
            outLen += w
          }
        }
      }
      blockLen = 0
      blockNonWs = 0
      blockLinkBytes = 0
    }

    /** lowercase ASCII tag name starting at `start`; returns (name, end). */
    def lowerName(start: Int): (String, Int) = {
      var j = start
      val sb = new java.lang.StringBuilder(8)
      while (j < n && isAsciiAlnum(html(j))) {
        sb.append(lower(html(j)).toChar)
        j += 1
      }
      (sb.toString, j)
    }

    /** skip attributes to the tag-closing '>', honoring quoted values. */
    def skipToTagEnd(start: Int): Int = {
      var j = start
      while (j < n) {
        val b = html(j)
        if (b == '"' || b == '\'') {
          val q = b
          j += 1
          while (j < n && html(j) != q) j += 1
          if (j < n) j += 1
        } else if (b == '>') return j + 1
        else j += 1
      }
      n
    }

    @inline def startsWithAt(lit: String, at: Int): Boolean = {
      if (at + lit.length > n) return false
      var k = 0
      while (k < lit.length) {
        if (html(at + k) != lit.charAt(k).toByte) return false
        k += 1
      }
      true
    }

    def indexOfIgnoreCase(lit: String, from: Int): Int = {
      val m = lit.length
      var e = from
      while (e <= n - m) {
        var k = 0
        var ok = true
        while (ok && k < m) {
          if (lower(html(e + k)) != lit.charAt(k).toByte) ok = false
          k += 1
        }
        if (ok) return e
        e += 1
      }
      -1
    }

    /** decode one entity at '&'; appends to the block, returns next index. */
    def decodeEntity(start: Int): Int = {
      var j = start + 1
      val limit = math.min(n, start + 12)
      while (j < limit && html(j) != ';') j += 1
      if (j >= limit || j >= n || html(j) != ';') { blockAppend('&'); return start + 1 }
      val body = new String(html, start + 1, j - start - 1, UTF_8)
      val decoded: String =
        if (body.startsWith("#x") || body.startsWith("#X"))
          try new String(Character.toChars(Integer.parseInt(body.substring(2), 16))) catch { case _: Throwable => null }
        else if (body.startsWith("#"))
          try new String(Character.toChars(Integer.parseInt(body.substring(1)))) catch { case _: Throwable => null }
        else body match {
          case "amp"  => "&"
          case "lt"   => "<"
          case "gt"   => ">"
          case "quot" => "\""
          case "apos" => "'"
          case "nbsp" => " "
          case _      => null
        }
      if (decoded == null) { blockAppend('&'); start + 1 }
      else {
        val bytes = decoded.getBytes(UTF_8)
        var k = 0
        while (k < bytes.length) { blockAppend(bytes(k)); k += 1 }
        j + 1
      }
    }

    while (i < n) {
      val b = html(i)
      if (b == '<') {
        if (startsWithAt("<!--", i)) {
          var e = i + 4
          var found = -1
          while (found < 0 && e <= n - 3) {
            if (html(e) == '-' && html(e + 1) == '-' && html(e + 2) == '>') found = e
            else e += 1
          }
          i = if (found < 0) n else found + 3
        } else if (i + 1 < n && (html(i + 1) == '!' || html(i + 1) == '?')) {
          i = skipToTagEnd(i + 2)
        } else if (i + 1 < n && html(i + 1) == '/') {
          val (name, j) = lowerName(i + 2)
          i = skipToTagEnd(j)
          if (name == "a" && anchorDepth > 0) anchorDepth -= 1
          if (BlockTags.contains(name)) flushBlock()
          else if (CellTags.contains(name)) blockAppend(' ')
        } else if (i + 1 < n && isAsciiLetter(html(i + 1))) {
          val (name, j) = lowerName(i + 1)
          i = skipToTagEnd(j)
          if (SkipContent.contains(name)) {
            val e = indexOfIgnoreCase("</" + name, i)
            i = if (e < 0) n else skipToTagEnd(e + name.length + 2)
          } else {
            if (name == "a") anchorDepth += 1
            if (BlockTags.contains(name)) flushBlock()
            else if (CellTags.contains(name)) blockAppend(' ')
          }
        } else {
          blockAppend('<')
          i += 1
        }
      } else if (b == '&') {
        i = decodeEntity(i)
      } else {
        blockAppend(b)
        i += 1
      }
    }
    flushBlock()
    java.util.Arrays.copyOf(out, outLen)
  }
}
