package graft.html

import org.scalatest.funsuite.AnyFunSuite

/** Frozen goldens for the HTML main-content extractor (this engine's own
  * specification — the reference has no HTML path). Do not change these
  * without bumping the documented spec in HtmlExtract's scaladoc. */
class HtmlExtractSpec extends AnyFunSuite {
  import java.nio.charset.StandardCharsets.UTF_8
  private def extract(html: String): String =
    new String(HtmlExtract.extractBytes(html.getBytes(UTF_8)), UTF_8)

  test("basic blocks and inline tags") {
    val html = "<html><body><h1>Title Here</h1><p>First <b>para</b> text.</p><p>Second para.</p></body></html>"
    assert(extract(html) == "Title Here\nFirst para text.\nSecond para.")
  }

  test("script/style/head contents are dropped") {
    val html = "<head><title>t</title><style>p{}</style></head><body><script>var a='<p>evil</p>';</script><p>keep</p></body>"
    assert(extract(html) == "keep")
  }

  test("comments and doctype are dropped") {
    val html = "<!DOCTYPE html><!-- a <p>comment</p> --><p>real</p>"
    assert(extract(html) == "real")
  }

  test("entities decode; unknown entity keeps literal ampersand") {
    val html = "<p>a &amp; b &lt;c&gt; &#65;&#x42; &nosuch; d</p>"
    assert(extract(html) == "a & b <c> AB &nosuch; d")
  }

  test("whitespace collapses inside a block") {
    val html = "<p>  a \n\t b   c  </p>"
    assert(extract(html) == "a b c")
  }

  test("nav link clusters drop (text-density pass); long link text survives") {
    val html = "<nav><a href='/'>home</a> <a href='/x'>about</a></nav><p>This body sentence carries the actual page content.</p>"
    assert(extract(html) == "This body sentence carries the actual page content.")
    val longLink = "<p><a href='/x'>" + ("word " * 30).trim + "</a></p>"
    assert(extract(longLink).nonEmpty)
  }

  test("table cells become spaces, rows become lines") {
    val html = "<table><tr><td>a</td><td>b</td></tr><tr><td>c</td><td>d</td></tr></table>"
    assert(extract(html) == "a b\nc d")
  }

  test("quoted '>' inside attributes does not end the tag") {
    val html = "<p title=\"a > b\">content</p>"
    assert(extract(html) == "content")
  }

  test("unclosed script skips to end without throwing") {
    assert(extract("<p>x</p><script>never closed") == "x")
  }

  test("deterministic on the synthesized corpus generator") {
    val h = graft.sources.CrawlCorpus.genHtml(7, 42L)
    val t1 = extract(h)
    val t2 = extract(h)
    assert(t1 == t2 && t1.nonEmpty)
    assert(!t1.contains("not content"))
  }

  test("frozen digest of the synthesized corpus (seeds 1/42, scales 1/20)") {
    // count, total bytes and xor of md5-prefix longs over 800 pages; pins the
    // kernel's output independently of any reference implementation
    var count = 0L
    var bytes = 0L
    var xor = 0L
    for (seed <- Seq(1L, 42L); scale <- Seq(1, 20); id <- 0 until 200) {
      val out = HtmlExtract.extractBytes(graft.sources.CrawlCorpus.genHtml(id, seed, scale).getBytes("UTF-8"))
      count += 1
      bytes += out.length
      xor ^= java.nio.ByteBuffer.wrap(graft.pdf.Crypto.md5(out)).getLong
    }
    assert((count, bytes, xor) == ((800L, 10672264L, 0xb547b215ebd556fdL)))
  }
}
