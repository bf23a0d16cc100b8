package graftbench

import graft.html.HtmlExtract
import graft.operators.ExtractPipeline
import graft.pdf.PdfExtract
import graft.sources.CrawlRow

/** Single-thread replay of a workload's rows through the two kernels,
  * `PdfExtract.parse` and `HtmlExtract.extractBytes`, with no Spark: time
  * and bytes allocated per document. */
object Kernels {
  private val Warm = 2

  final case class Replay(metrics: Map[String, Double], usPerDocMix: Double)

  def replay(rows: Seq[CrawlRow], meter: Meter): Replay = {
    val (pdfs, htmls) = rows.partition(r => ExtractPipeline.isPdf(r.url, r.html))
    val scratch = new HtmlExtract.Scratch
    // JIT warm-up over the same rows, untimed
    (1 to Warm).foreach { _ =>
      pdfs.foreach(r => PdfExtract.parse(r.html))
      htmls.foreach(r => HtmlExtract.extractBytes(r.html, scratch))
    }

    val pdfNs = new Array[Double](pdfs.size)
    var pdfAlloc, objects, filters, failed, over1s = 0L
    pdfs.zipWithIndex.foreach { case (r, i) =>
      val a0 = meter.currentThreadAlloc()
      val t0 = System.nanoTime()
      val p = PdfExtract.parse(r.html)
      val ns = System.nanoTime() - t0
      pdfAlloc += meter.currentThreadAlloc() - a0
      pdfNs(i) = ns.toDouble
      objects += p.nObjects
      filters += p.filtersApplied.valuesIterator.sum
      if (!p.ok) failed += 1
      if (ns > 1000000000L) over1s += 1
    }

    val htmlNs = new Array[Double](htmls.size)
    var htmlAlloc, inBytes, outBytes = 0L
    htmls.zipWithIndex.foreach { case (r, i) =>
      val a0 = meter.currentThreadAlloc()
      val t0 = System.nanoTime()
      val out = HtmlExtract.extractBytes(r.html, scratch)
      htmlNs(i) = (System.nanoTime() - t0).toDouble
      htmlAlloc += meter.currentThreadAlloc() - a0
      inBytes += r.html.length
      outBytes += out.length
    }

    def per(x: Long, n: Int): Double = if (n == 0) 0.0 else x.toDouble / n
    val nP = pdfs.size
    val nH = htmls.size
    val htmlS = htmlNs.sum / 1e9
    val metrics = Map(
      "pdf.us_per_doc_p50" -> Stats.quantile(pdfNs.toSeq, 0.5) / 1e3,
      "pdf.us_per_doc_p99" -> Stats.quantile(pdfNs.toSeq, 0.99) / 1e3,
      "pdf.alloc_kb_per_doc" -> per(pdfAlloc, nP) / 1024,
      "pdf.objects_per_doc" -> per(objects, nP),
      "pdf.filters_per_doc" -> per(filters, nP),
      "pdf.failed_docs" -> failed.toDouble,
      "pdf.over_1s_docs" -> over1s.toDouble,
      "html.us_per_doc_p50" -> Stats.quantile(htmlNs.toSeq, 0.5) / 1e3,
      "html.us_per_doc_p99" -> Stats.quantile(htmlNs.toSeq, 0.99) / 1e3,
      "html.alloc_kb_per_doc" -> per(htmlAlloc, nH) / 1024,
      "html.in_mb_per_s" -> (if (htmlS > 0) inBytes / 1048576.0 / htmlS else 0.0),
      "html.out_bytes_per_in_kb" -> (if (inBytes > 0) outBytes * 1024.0 / inBytes else 0.0))
    val totalUs = (pdfNs.sum + htmlNs.sum) / 1e3
    Replay(metrics, if (nP + nH == 0) 0.0 else totalUs / (nP + nH))
  }
}
