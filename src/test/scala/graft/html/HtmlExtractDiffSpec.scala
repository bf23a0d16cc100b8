package graft.html

import java.nio.charset.StandardCharsets.UTF_8
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.CrawlCorpus.{genHtml, splitmix64}

/** Differential gate for the one-pass kernel: [[HtmlExtract]] must be
  * byte-identical to [[HtmlExtractReference]] (the extractor it replaced)
  * on every input below — corpus pages, fuzz mutations of them, random
  * byte blobs, tag soup and hand-picked edge cases, over 40k in all. */
class HtmlExtractDiffSpec extends AnyFunSuite {
  import HtmlExtractDiffSpec._

  private val scratch = new HtmlExtract.Scratch
  private val refScratch = new HtmlExtractReference.Scratch

  private def sameOn(inputs: Iterator[Array[Byte]], what: String): Int = {
    var count = 0
    inputs.foreach { b =>
      val want = HtmlExtractReference.extractBytes(b, refScratch)
      val got = HtmlExtract.extractBytes(b, scratch)
      if (!java.util.Arrays.equals(want, got))
        fail(s"$what #$count differs\n  input: ${show(b)}\n  want:  ${show(want)}\n  got:   ${show(got)}")
      count += 1
    }
    count
  }

  test("byte-identical to the reference kernel on 40k+ inputs") {
    val n = Seq(
      sameOn(corpusPages, "corpus page"),
      sameOn(fuzzMutations, "fuzz mutation"),
      sameOn(randomBlobs, "random blob"),
      sameOn(tagSoup, "tag soup"),
      sameOn(linkBlocks, "link block"),
      sameOn(handCases.iterator.map(_.getBytes(UTF_8)), "hand case"))
    assert(n.sum >= 40000, s"only ${n.sum} inputs")
  }
}

object HtmlExtractDiffSpec {

  private def show(b: Array[Byte]): String = {
    val s = new String(b, UTF_8)
    (if (s.length > 200) s.take(200) + "..." else s).flatMap {
      case c if c < ' ' || c == 0x7f => f"\\x${c.toInt}%02x"
      case c => c.toString
    }
  }

  /** genHtml pages: three seeds, ~1.5 KB and ~30 KB sizes, 400 ids each. */
  def corpusPages: Iterator[Array[Byte]] =
    for (seed <- Iterator(1L, 7L, 42L); scale <- Iterator(1, 20); id <- Iterator.range(0, 400))
      yield genHtml(id, seed, scale).getBytes(UTF_8)

  /** HtmlFuzzSpec's mutations (truncate, flip, duplicate, reverse) over 4x its ids. */
  def fuzzMutations: Iterator[Array[Byte]] =
    for (id <- Iterator.range(0, 400); s <- Iterator.range(0, 10)) yield {
      val base = genHtml(id * 2 + 1, 42L, 1).getBytes(UTF_8)
      val k = math.floorMod(splitmix64(id * 100L + s), base.length.toLong).toInt
      math.floorMod(splitmix64(s * 31L + id), 4L).toInt match {
        case 0 => java.util.Arrays.copyOfRange(base, 0, k)
        case 1 => val b = base.clone(); b(k) = (b(k) ^ 0x55).toByte; b
        case 2 => base ++ java.util.Arrays.copyOfRange(base, 0, k)
        case _ => base.reverse
      }
    }

  /** Uniform random bytes, invalid UTF-8 included. */
  def randomBlobs: Iterator[Array[Byte]] =
    Iterator.range(0, 20000).map { s =>
      val len = math.floorMod(splitmix64(s * 17L + 5), 1024L).toInt
      Array.tabulate[Byte](len)(i => (splitmix64(s * 1031L + i) & 0xff).toByte)
    }

  /** Markup syntax, tag and entity names, all six whitespace bytes, and
    * multi-byte chars — including Unicode digits, which `Integer.parseInt`
    * accepts inside numeric references. */
  private val SoupTokens: Array[String] =
    ("< > & ; # x X / ! ? - \" ' = + 0 1 4 6 9 a b d e f h i l m n o p r s t A B D F P S T " +
      "é ٣ Ａ " +
      "script STYLE noscript template head svg td th tr br div h1 nav a li table " +
      "amp lt gt quot apos nbsp #x41 #65 #xD800 #x10FFFF #-5 #+66 0000 <!-- --> </ <! " +
      "<a> </a> <A> </A> <p> </p> <td> <br> <script> </script>").split(' ') ++
      Array(" ", "\n", "\t", "\r", "\f", "\u000b")

  def tagSoup: Iterator[Array[Byte]] =
    Iterator.range(0, 20000).map { s =>
      val len = math.floorMod(splitmix64(s * 13L + 3), 160L).toInt
      val sb = new StringBuilder
      var i = 0
      while (i < len) {
        sb ++= SoupTokens(math.floorMod(splitmix64(s * 4099L + i), SoupTokens.length.toLong).toInt)
        i += 1
      }
      sb.toString.getBytes(UTF_8)
    }

  /** Blocks around the step-6 thresholds: link text of 0-119 bytes beside
    * 0-9 bytes of plain text, spaced and entity-escaped variants. */
  def linkBlocks: Iterator[Array[Byte]] =
    for (link <- Iterator.range(0, 120); plain <- Iterator.range(0, 10); v <- Iterator.range(0, 3)) yield {
      val l = if (v == 1) ("ab " * 40).take(link) else "x" * link
      val t = if (v == 2) "&amp;" * plain else "y" * plain
      s"<li><a href=/x>$l</a>$t</li><p>z</p>".getBytes(UTF_8)
    }

  val handCases: Seq[String] = Seq(
    "", "<", "&", "&;", "&#;", "&#x;", "&#-5;", "&#-0;", "&#+65;", "&#x+41;", "&#xD800;", "&#xDFFF;",
    "&#x110000;", "&#X41;", "&#000000065;", "&#0000000065;", "&#x0000041;", "&#1114111;",
    "&#2147483648;", "&#xFFFFFFFF;", "&#0;", "&#9;", "&#32;x&#10;y",
    "&#x٣;", "&#٣٣;", "&#xＡ;", "&nbsp;&nbsp;", "&amp", "&ampamp;", "&AMP;", "&#x20AC;&#x1F600;",
    "<P>Upper</P><DIV>case</DIV><TD>c</TD><A HREF=x>l</A>", "<SCRIPT>x</script>y", "<script>x</SCRIPT >y",
    "<p>x</p><script>never closed", "<!-- never closed", "<!-->x-->y", "<!---->z", "<!doctype html>q",
    "<?xml x?>q", "</>q", "</ p>q", "</3>q", "<3>q", "< p>q", "<p", "</p", "<p title='a > b' x=\">\">c",
    "<p title='unclosed>c", "<td", "</td", "a<br>b<br/>c", "<a><a>x</a></a></a>y", "</a></a><a>link</a> text",
    "<nav><a>home</a> <a>about</a></nav><p>body text</p>", "<p>\u000b\f\r\t\n </p>",
    "<p>é</p>", "<figcaption>f</figcaption><blockquote>q</blockquote><figcaptions>g</figcaptions>",
    "<scripts>s</scripts>t", "<h7>x</h7>", "<p>" + "x" * 200 + "</p>", "<td>a</td><td>b</td>")
}
