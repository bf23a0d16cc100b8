package graft.pdf

import org.scalatest.funsuite.AnyFunSuite

/** Opt-in large fuzz sweep (skipped unless GRAFT_SWEEP=1 is set; run with
  * `GRAFT_SWEEP=1 sbt "testOnly graft.pdf.FuzzSweep"`): ~120k mutated
  * documents across every fixture, the crafted ObjStm document and
  * encrypted.pdf, all 16 mutation kinds, both /ObjStm expansion modes,
  * parallel across cores. The per-round evidence for the "zero internal
  * failures at >=50k docs" bar. */
class FuzzSweep extends AnyFunSuite {

  test("120k-document mutation sweep: zero internal failures, all < 1 s") {
    assume(sys.env.get("GRAFT_SWEEP").contains("1"), "opt-in: GRAFT_SWEEP=1")
    val bases: IndexedSeq[(String, Array[Byte])] =
      (Fixtures.all.map { case (n, b) => (n, b) } ++ Seq(
        ("objstm", TestPdfs.objStmPdf()),
        ("objstm-miss", TestPdfs.objStmPdf(indexCorrect = false)))).toIndexedSeq
    val perBase = 1600 // x 38 bases x 2 modes = 121.6k parses
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val done = new java.util.concurrent.atomic.AtomicLong(0)

    java.util.stream.IntStream.range(0, bases.length * perBase).parallel().forEach { i =>
      val (name, base) = bases(i % bases.length)
      val seed = 424242L + i
      val m = FuzzMutations.mutate(base, seed)
      for (objectStreams <- Seq(false, true)) {
        val t0 = System.nanoTime()
        val r = PdfExtract.parse(m, "", objectStreams)
        val ms = (System.nanoTime() - t0) / 1e6
        if (r.failure != null && r.failure.startsWith("internal:"))
          failures.add(s"$name#$seed(objstm=$objectStreams) -> ${r.failure}")
        if (ms >= 1000)
          failures.add(s"$name#$seed(objstm=$objectStreams) took $ms ms")
        done.incrementAndGet()
      }
    }
    info(s"${done.get()} parses, ${failures.size()} failures")
    assert(failures.isEmpty, failures.stream().limit(10).toArray.mkString("\n"))
  }

  test("40k-document HTML mutation sweep through the full pipeline router") {
    assume(sys.env.get("GRAFT_SWEEP").contains("1"), "opt-in: GRAFT_SWEEP=1")
    // mutated HTML payloads routed through extractOne (the isPdf router +
    // HtmlExtract + per-doc isolation) — the non-PDF half of the corpus
    val html = ("<html><head><title>t</title><script>not content</script></head>" +
      "<body><div class=nav>boilerplate</div><p>real content paragraph with words</p>" +
      "<table><tr><td>cell</td></tr></table><!-- comment --></body></html>").getBytes("ISO-8859-1")
    val ts = new java.sql.Timestamp(0L)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val done = new java.util.concurrent.atomic.AtomicLong(0)
    java.util.stream.IntStream.range(0, 40000).parallel().forEach { i =>
      val m = FuzzMutations.mutate(html, 777000L + i)
      val t0 = System.nanoTime()
      val d = graft.operators.ExtractPipeline.extractOne(
        graft.sources.CrawlRow(s"test://sweep/$i/page.html", ts, m, "", "en"), "",
        new graft.html.HtmlExtract.Scratch)
      val ms = (System.nanoTime() - t0) / 1e6
      if (d.failure != null && d.failure.startsWith("internal:"))
        failures.add(s"html#$i -> ${d.failure}")
      if (ms >= 1000) failures.add(s"html#$i took $ms ms")
      done.incrementAndGet()
    }
    info(s"${done.get()} extractions, ${failures.size()} failures")
    assert(failures.isEmpty, failures.stream().limit(10).toArray.mkString("\n"))
  }
}
