package graft.pdf

import org.scalatest.funsuite.AnyFunSuite
import java.nio.charset.StandardCharsets.ISO_8859_1

/** Opt-in /ObjStm (type-2) expansion. Default OFF: the reference resolves
  * compressed objects to null (parser.go:373-374 — its GetObject only
  * handles XrefTypeIndirectObject), and the byte-identity gate holds to
  * that. ON: the container is fetched through the normal decoded path, the
  * N (objnum, offset) header pairs are parsed, and objects materialize at
  * /First + offset — giving the engine post-PDF-1.5 coverage the reference
  * never had.
  */
class ObjectStreamSpec extends AnyFunSuite {

  private def objStmPdf(indexCorrect: Boolean = true): Array[Byte] =
    TestPdfs.objStmPdf(indexCorrect)

  private def s(b: Array[Byte]): String = new String(b, ISO_8859_1)

  test("default (reference parity): compressed objects resolve to null, no text") {
    val r = PdfExtract.parse(objStmPdf())
    assert(r.ok, String.valueOf(r.failure))
    assert(s(r.contents) == "")
    assert(!s(r.raw).contains("2 0 obj")) // compressed objects absent from raw
  }

  test("objectStreams=true: catalog and page materialize, text extracts") {
    val r = PdfExtract.parse(objStmPdf(), "", objectStreams = true)
    assert(r.ok, String.valueOf(r.failure))
    assert(s(r.contents) == "Hello ObjStm\n")
    assert(s(r.raw).contains("2 0 obj\n<</Pages 3 0 R>>\nendobj\n"))
    assert(s(r.raw).contains("3 0 obj\n<</Type /Page/Contents 4 0 R>>\nendobj\n"))
  }

  test("wrong in-container index falls back to an objnum scan") {
    val r = PdfExtract.parse(objStmPdf(indexCorrect = false), "", objectStreams = true)
    assert(r.ok, String.valueOf(r.failure))
    assert(s(r.contents) == "Hello ObjStm\n")
  }

  test("per-row passwords thread objectStreams to the kernel") {
    // encrypted corpora are the post-1.5 ones
    val spark = graft.SparkTestBase.spark
    import spark.implicits._
    import org.apache.spark.sql.functions.{col, lit}
    val ts = new java.sql.Timestamp(0L)
    val rows = Seq(graft.sources.CrawlRow("test://a/objstm.pdf", ts, objStmPdf(), "", "en")).toDS()
      .withColumn("password", lit(null).cast("string")).as[graft.sources.CrawlRow]
    def extract(objectStreams: Boolean) = graft.operators.ExtractPipeline
      .extractDocsSkewAware(rows, objectStreams = objectStreams, passwordColumn = "password")
      .collect().head
    val on = extract(objectStreams = true)
    assert(s(on.contents) == "Hello ObjStm\n", s(on.contents))
    val off = extract(objectStreams = false)
    assert(s(off.contents) == "", s(off.contents)) // default = reference parity
  }

  test("adversarial /W widths (2^31-1, negative) degrade instead of crashing (DIVERGENCES #11)") {
    // the reference allocates make([]byte, width) per entry — 2 GB for the
    // first shape, a makeslice PANIC for the second; the engine must fail
    // the read bounds-safely in both modes (fuzz-found: a first cut wrapped
    // sp + w past 2^31 and read off the end of the decoded data)
    for (w <- Seq("2147483647", "-4")) {
      val head = "%PDF-1.5\n"
      val data = "AAAAAAA".getBytes(ISO_8859_1)
      val obj = s"5 0 obj\n<</Type /XRef /Size 2 /W [$w 4 2] /Root 1 0 R /Length ${data.length}>>\nstream\n"
      val tail = s"\nendstream\nendobj\nstartxref\n${head.length}\n%%EOF\n"
      val payload = head.getBytes(ISO_8859_1) ++ obj.getBytes(ISO_8859_1) ++ data ++ tail.getBytes(ISO_8859_1)
      for (objectStreams <- Seq(false, true)) {
        val r = PdfExtract.parse(payload, "", objectStreams)
        assert(r.failure == null || !r.failure.startsWith("internal:"),
          s"W=$w objectStreams=$objectStreams -> ${r.failure}")
      }
    }
  }

  test("adversarial /N count bomb in an ObjStm degrades instead of OOM (fuzz-found)") {
    // a claimed /N of 2^31-1 must not size the header-pairs array (observed:
    // "OutOfMemoryError: Requested array size exceeds VM limit"); the count
    // is bounded by what the stream bytes could actually hold
    val content = "2 0 3 8 <</A 1>><</B 2>>"
    val head = "%PDF-1.5\n"
    val obj1 = s"1 0 obj\n<</Type /ObjStm /N 2147483647 /First 8 /Length ${content.length}>>\nstream\n$content\nendstream\nendobj\n"
    def entry(t: Int, off: Long, gen: Int): Array[Byte] = Array[Byte](
      t.toByte,
      ((off >> 24) & 0xff).toByte, ((off >> 16) & 0xff).toByte,
      ((off >> 8) & 0xff).toByte, (off & 0xff).toByte,
      ((gen >> 8) & 0xff).toByte, (gen & 0xff).toByte)
    val off1 = head.length
    val off5 = off1 + obj1.length
    val xrefData = entry(0, 0, 0xffff) ++ entry(1, off1, 0) ++ entry(2, 1, 0) ++ entry(2, 1, 1)
    val obj5 = s"5 0 obj\n<</Type /XRef /Size 4 /W [1 4 2] /Root 2 0 R /Length ${xrefData.length}>>\nstream\n"
    val tail = s"\nendstream\nendobj\nstartxref\n$off5\n%%EOF\n"
    val payload = head.getBytes(ISO_8859_1) ++ obj1.getBytes(ISO_8859_1) ++
      obj5.getBytes(ISO_8859_1) ++ xrefData ++ tail.getBytes(ISO_8859_1)
    for (objectStreams <- Seq(false, true)) {
      val r = PdfExtract.parse(payload, "", objectStreams)
      assert(r.failure == null || !r.failure.startsWith("internal:"),
        s"objectStreams=$objectStreams -> ${r.failure}")
    }
  }

  test("adversarial: self-referencing and cyclic containers degrade to null, never hang") {
    // container points at itself / two containers point at each other
    def entry(t: Int, off: Long, gen: Int): Array[Byte] = Array[Byte](
      t.toByte,
      ((off >> 24) & 0xff).toByte, ((off >> 16) & 0xff).toByte,
      ((off >> 8) & 0xff).toByte, (off & 0xff).toByte,
      ((gen >> 8) & 0xff).toByte, (gen & 0xff).toByte)
    val head = "%PDF-1.5\n"
    val xrefData = entry(0, 0, 0xffff) ++ entry(2, 1, 0) ++ entry(2, 1, 0)
    val obj5 = s"5 0 obj\n<</Type /XRef /Size 3 /W [1 4 2] /Root 1 0 R /Length ${xrefData.length}>>\nstream\n"
    val off5 = head.length
    val tail = s"\nendstream\nendobj\nstartxref\n$off5\n%%EOF\n"
    val payload = head.getBytes(ISO_8859_1) ++ obj5.getBytes(ISO_8859_1) ++ xrefData ++ tail.getBytes(ISO_8859_1)
    val r = PdfExtract.parse(payload, "", objectStreams = true)
    assert(r.failure == null || !r.failure.startsWith("internal:"), String.valueOf(r.failure))
  }
}
