package graft.html

import java.nio.charset.StandardCharsets.UTF_8

/** Deterministic main-content extraction for non-PDF payloads: a DOM-lite
  * tag tokenizer plus a text-density boilerplate pass.
  *
  * The reference engine (KarmaPenny/pdfparser) has no HTML path; this is the
  * fallback required by the north rule ("HTML boilerplate strip ... DOM
  * heuristics") so every crawl row yields deterministic extracted text. The
  * algorithm below is this engine's frozen specification — goldens live in
  * HtmlExtractSpec and must never drift:
  *
  *  1. Input is UTF-8 bytes; multi-byte sequences pass through untouched.
  *     Tag/entity syntax is ASCII (as in real HTML).
  *  2. Comments, doctypes, processing instructions are skipped. The
  *     contents of script/style/noscript/template/head/svg are skipped.
  *  3. Character/entity references are decoded (named core set + numeric,
  *     re-encoded as UTF-8).
  *  4. Block-level boundaries (p, div, li, h1-h6, tr, br, ...) split the
  *     text into blocks; inline tags do not.
  *  5. ASCII whitespace inside a block collapses to single spaces; empty
  *     blocks drop.
  *  6. Text-density pass: a block whose anchor-byte ratio exceeds 2/3 and
  *     whose collapsed length is < 80 bytes is boilerplate (nav/footer link
  *     clusters) and drops.
  *  7. Blocks join with a single '\n'.
  *
  * Implementation note: one pass, no intermediate buffer (at 32 executor
  * threads per node the extractor hits memory bandwidth before CPU). Text
  * runs are scanned through a 256-entry byte-class table and written already
  * collapsed into `Scratch.buf`, which is the output buffer: at a block
  * boundary the block is kept (its reserved '\n' slot filled) or dropped
  * (the cursor rewound). Tag names are classified by a packed 6-bit key, so
  * a page allocates only its exact-size result, plus two small strings per
  * numeric reference (decoded through `Integer.parseInt`, which fixes the
  * accepted syntax). All mutable state lives in locals of `extractBytes`;
  * no local def or closure captures a `var` (scalac boxes each into a heap
  * `IntRef`, and `@inline` does nothing without `-opt`) — helpers take and
  * return plain values.
  */
object HtmlExtract {

  /** Text-scan table: a text byte maps to `0x100 | byte`, step-5
    * whitespace to `' '`, and the two bytes that end a run ('<', '&') to -1. */
  private val Scan: Array[Int] = Array.tabulate(256) { b =>
    if (b == '<' || b == '&') -1 else if (" \n\t\r\f\u000b".indexOf(b) >= 0) ' ' else 0x100 | b
  }

  /** 6-bit code of an ASCII alnum byte (letters 1-26 case-folded, digits
    * 27-36), 0 for any other byte: tag names are runs of nonzero codes. */
  private val NameCode: Array[Byte] = Array.tabulate[Byte](256) { b =>
    val l = b | 0x20
    if (l >= 'a' && l <= 'z') (l - 'a' + 1).toByte else if (b >= '0' && b <= '9') (b - '0' + 27).toByte else 0
  }
  private final val MaxName = 10 // longest classified name; 10 codes fit a Long

  /** Tag classes (steps 2 and 4). */
  private final val Other = 0
  private final val Block = 1
  private final val Cell = 2 // cell boundary: space, not newline
  private final val Anchor = 3
  private final val SkipContent = 4

  private val (tagKeys, tagClasses) = {
    val byClass = Seq(
      Block -> ("p div section article main aside header footer nav li ul ol dl dt dd h1 h2 h3 h4 " +
        "h5 h6 table thead tbody tr blockquote pre figure figcaption form fieldset address hr br"),
      Cell -> "td th",
      Anchor -> "a",
      SkipContent -> "script style noscript template head svg")
    val table = (for ((cls, names) <- byClass; name <- names.split(' '))
      yield (name.foldLeft(0L)((k, c) => (k << 6) | NameCode(c)), cls)).sortBy(_._1)
    (table.map(_._1).toArray, table.map(_._2).toArray)
  }

  /** Named references of step 3 and their code points. */
  private val EntityNames: Array[Array[Byte]] =
    Array("amp", "lt", "gt", "quot", "apos", "nbsp").map(_.getBytes(UTF_8))
  private val EntityCps: Array[Int] = Array('&', '<', '>', '"', '\'', ' ')

  /** Boilerplate thresholds (frozen spec, step 6). */
  private val LinkRatioMax = 2.0 / 3.0
  private val ShortBlockChars = 80

  /** Reusable per-task scratch: the output buffer is reused across the
    * documents of a partition, so a page allocates only its result. */
  final class Scratch { var buf: Array[Byte] = new Array[Byte](64 * 1024) }

  def extractBytes(html: Array[Byte]): Array[Byte] = extractBytes(html, new Scratch)

  /** The engine entry point: UTF-8 bytes in, extracted-text UTF-8 bytes out. */
  def extractBytes(html: Array[Byte], scratch: Scratch): Array[Byte] = {
    val n = html.length
    // kept text never outgrows the input: collapse and entities only shrink,
    // a cell space replaces a tag, and each '\n' slot follows a block tag
    if (scratch.buf.length < n + 16) scratch.buf = new Array[Byte](n + 16)
    val out = scratch.buf
    var outLen = 0      // kept blocks joined by '\n'
    var start = 0       // first byte of the current block (after its '\n' slot)
    var w = 0           // write cursor of the current block
    var ws = 1          // last block byte was whitespace (leading runs drop)
    var nonWs = 0       // non-whitespace bytes of the block ...
    var linkBytes = 0   // ... and how many of them sit inside <a>
    var anchorDepth = 0
    var i = 0
    while (i <= n) {
      // text run up to the next '<' or '&', collapsed while it is copied
      var run = 0
      var c = 0
      while (i < n && { c = Scan(html(i) & 0xff); c >= 0 }) {
        val text = c >>> 8 // a whitespace byte lands only after a text byte
        out(w) = c.toByte
        w += text | (ws ^ 1)
        ws = text ^ 1
        run += text
        i += 1
      }
      nonWs += run
      if (anchorDepth > 0) linkBytes += run

      var tag = Other
      var emit = -1 // code point to append: entity, literal '<'/'&', cell space
      if (i == n) { tag = Block; i += 1 } // end of input closes the last block
      else if (html(i) == '&') {
        val e = entity(html, n, i)
        if (e < 0) { emit = '&'; i += 1 }
        else { emit = e.toInt; i = (e >>> 32).toInt }
      } else if (i + 3 < n && html(i + 1) == '!' && html(i + 2) == '-' && html(i + 3) == '-') {
        var e = i + 4
        while (e <= n - 3 && !(html(e) == '-' && html(e + 1) == '-' && html(e + 2) == '>')) e += 1
        i = if (e <= n - 3) e + 3 else n
      } else if (i + 1 < n && (html(i + 1) == '!' || html(i + 1) == '?')) {
        i = skipToTagEnd(html, n, i + 2)
      } else if (i + 1 < n && (html(i + 1) == '/' || (html(i + 1) | 0x20) >= 'a' && (html(i + 1) | 0x20) <= 'z')) {
        val close = html(i + 1) == '/'
        val s = if (close) i + 2 else i + 1
        val t = tagName(html, n, s)
        tag = t.toInt // a closing skip-content tag is neither block nor cell: ignored
        i = skipToTagEnd(html, n, (t >>> 32).toInt)
        if (close) { if (tag == Anchor && anchorDepth > 0) anchorDepth -= 1 }
        else if (tag == SkipContent) i = skipElement(html, n, i, s, (t >>> 32).toInt - s)
        else if (tag == Anchor) anchorDepth += 1
      } else { emit = '<'; i += 1 }
      if (tag == Cell) emit = ' '

      if (tag == Block) {
        if (nonWs > 0) {
          if (out(w - 1) == ' ') w -= 1
          if (!(linkBytes.toDouble / nonWs > LinkRatioMax && w - start < ShortBlockChars)) {
            if (start > 0) out(start - 1) = '\n'
            outLen = w
          }
        }
        start = if (outLen > 0) outLen + 1 else 0
        w = start; ws = 1; nonWs = 0; linkBytes = 0
      } else if (emit >= 0 && emit < 0x80 && Scan(emit) == ' ') {
        out(w) = ' '; w += ws ^ 1; ws = 1
      } else if (emit >= 0) {
        val k = if (emit < 0x80) { out(w) = emit.toByte; 1 } else {
          val b = new String(Character.toChars(emit)).getBytes(UTF_8) // a lone surrogate becomes '?'
          System.arraycopy(b, 0, out, w, b.length); b.length
        }
        w += k; ws = 0; nonWs += k
        if (anchorDepth > 0) linkBytes += k
      }
    }
    java.util.Arrays.copyOf(out, outLen)
  }

  /** The ASCII alnum tag name at `from` as `(end << 32) | class`, the
    * class looked up case-insensitively. */
  private def tagName(html: Array[Byte], n: Int, from: Int): Long = {
    var key = 0L
    var j = from
    while (j < n && NameCode(html(j) & 0xff) != 0) { key = (key << 6) | NameCode(html(j) & 0xff); j += 1 }
    val at = if (j - from > MaxName) -1 else java.util.Arrays.binarySearch(tagKeys, key)
    (j.toLong << 32) | (if (at >= 0) tagClasses(at) else Other)
  }

  /** Skip attributes to the tag-closing '>', honoring quoted values. */
  private def skipToTagEnd(html: Array[Byte], n: Int, from: Int): Int = {
    var j = from
    while (j < n && html(j) != '>') {
      val b = html(j)
      if (b == '"' || b == '\'') { j += 1; while (j < n && html(j) != b) j += 1 }
      j += 1 // past the byte, or past the closing quote
    }
    math.min(j + 1, n)
  }

  /** Index after the first `</name...>` at or after `from` (any case), or
    * `n` when the element never closes (step 2's skipped contents). */
  private def skipElement(html: Array[Byte], n: Int, from: Int, name: Int, len: Int): Int = {
    var e = from
    while (e <= n - len - 2) {
      if (html(e) == '<' && html(e + 1) == '/') {
        var k = 0
        while (k < len && NameCode(html(e + 2 + k) & 0xff) == NameCode(html(name + k) & 0xff)) k += 1
        if (k == len) return skipToTagEnd(html, n, e + len + 2)
      }
      e += 1
    }
    n
  }

  /** Step 3: the reference at `start` ('&') as `(end << 32) | codePoint`,
    * or -1 when it does not decode (the '&' is then literal text). */
  private def entity(html: Array[Byte], n: Int, start: Int): Long = {
    val limit = math.min(n, start + 12)
    var j = start + 1
    while (j < limit && html(j) != ';') j += 1
    if (j >= limit) return -1L
    val cp =
      if (j > start + 1 && html(start + 1) == '#') numericRef(html, start + 2, j)
      else namedRef(html, start + 1, j)
    if (cp < 0) -1L else ((j + 1).toLong << 32) | cp
  }

  private def namedRef(html: Array[Byte], from: Int, to: Int): Int = {
    var e = 0
    while (e < EntityNames.length && !java.util.Arrays.equals(html, from, to, EntityNames(e), 0, EntityNames(e).length)) e += 1
    if (e < EntityNames.length) EntityCps(e) else -1
  }

  /** `&#ddd;` / `&#xhh;`: whatever `Integer.parseInt` accepts and is a code point. */
  private def numericRef(html: Array[Byte], from: Int, to: Int): Int = {
    val hex = from < to && (html(from) | 0x20) == 'x'
    val digits = if (hex) from + 1 else from
    val cp = try Integer.parseInt(new String(html, digits, to - digits, UTF_8), if (hex) 16 else 10)
      catch { case _: NumberFormatException => -1 }
    if (Character.isValidCodePoint(cp)) cp else -1
  }
}
