package graftbench

import java.util.concurrent.{ConcurrentHashMap, Executors, TimeUnit}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.html.HtmlExtract
import graft.operators.ExtractPipeline
import graft.sources.{CrawlCorpus, CrawlRow}

/** Seed-generated inputs and the reference digests the outputs are checked
  * against. */
object Inputs {

  /** Order-independent digest of extracted documents: row count and the xor
    * of xxhash64(url, md5(contents), ok, n_errors). Urls are unique, so no
    * two rows cancel. */
  def docDigestCols(md5Contents: Column): Seq[Column] = Seq(
    count(lit(1)).as("n"),
    bit_xor(xxhash64(col("url"), md5Contents, col("ok"), col("n_errors"))).as("h"))

  def digestOf(df: DataFrame, md5Contents: Column): (Long, Long) = {
    val cs = docDigestCols(md5Contents)
    val r = df.agg(cs.head, cs.tail: _*).head()
    (r.getLong(0), if (r.isNullAt(1)) 0L else r.getLong(1))
  }

  def docDigest(docs: DataFrame): (Long, Long) = digestOf(docs, md5(col("contents")))

  /** The reference digest of `rows`, computed outside Spark by
    * `ExtractPipeline.extractOne`, one plain thread per core over a stride
    * of rows. Fixture PDFs repeat, so each distinct payload is extracted
    * once and reused. */
  def referenceDigest(spark: SparkSession, rows: Int => CrawlRow, n: Int, threads: Int): (Long, Long) = {
    val out = new Array[(String, String, Boolean, Long)](n)
    val memo = new ConcurrentHashMap[String, (String, Boolean, Long)]()
    def key(d: graft.operators.ExtractedDoc): (String, Boolean, Long) =
      (md5Hex(d.contents), d.ok, d.n_errors)
    val pool = Executors.newFixedThreadPool(threads)
    val errors = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    (0 until threads).foreach { t =>
      pool.execute { () =>
        try {
          val scratch = new HtmlExtract.Scratch
          var i = t
          while (i < n) {
            val row = rows(i)
            val v =
              if (ExtractPipeline.isPdf(row.url, row.html))
                memo.computeIfAbsent(md5Hex(row.html), _ => key(ExtractPipeline.extractOne(row, "", scratch)))
              else key(ExtractPipeline.extractOne(row, "", scratch))
            out(i) = (row.url, v._1, v._2, v._3)
            i += threads
          }
        } catch { case e: Throwable => errors.add(e) }
      }
    }
    pool.shutdown()
    pool.awaitTermination(1, TimeUnit.HOURS)
    if (!errors.isEmpty) throw errors.peek()
    import spark.implicits._
    digestOf(out.toSeq.toDF("url", "contents_md5", "ok", "n_errors"), col("contents_md5"))
  }

  def referenceDigest(spark: SparkSession, rows: IndexedSeq[CrawlRow], threads: Int): (Long, Long) =
    referenceDigest(spark, rows(_), rows.size, threads)

  def md5Hex(b: Array[Byte]): String =
    java.security.MessageDigest.getInstance("MD5").digest(b).map(x => f"$x%02x").mkString

  private val Syllables = Array("ka", "lo", "mi", "ter", "san", "dor", "vel", "pa", "ri", "gon",
    "shu", "nel", "bra", "to", "fen", "qui", "mar", "dus", "el", "wo")
  /** Stopwords per language, drawn from `TextAnalysis.LangMarkers`' marker
    * words so that language id and the quality gate accept the pages. */
  private val Stopwords = Seq(
    "en" -> Array("the", "and", "of", "a", "to", "in", "is"),
    "de" -> Array("der", "und", "die"),
    "es" -> Array("el", "que", "los"),
    "fr" -> Array("le", "et", "les"))

  /** One article page: 3 to 6 paragraphs of 25 to 54 words, three in ten a
    * stopword of the page's language, the rest made of 2 or 3 syllables
    * (8,000 distinct words, so unrelated pages share few shingles). */
  def article(id: Long, seed: Long): (String, String) = {
    def r(k: Long): Long = CrawlCorpus.splitmix64(CrawlCorpus.splitmix64(seed * 0x2545f4914f6cdd1dL + id) ^ k)
    def pick(k: Long, n: Int): Int = java.lang.Long.remainderUnsigned(r(k), n.toLong).toInt
    val (lang, stop) = Stopwords(pick(0, 20) match {
      case x if x < 12 => 0
      case x if x < 15 => 1
      case x if x < 18 => 2
      case _ => 3
    })
    val sb = new StringBuilder("<!DOCTYPE html><html><head><title>article</title></head><body>")
    sb ++= "<nav><a href=\"/\">home</a></nav><article>"
    val paras = 3 + pick(1, 4)
    var k = 100L
    (0 until paras).foreach { _ =>
      sb ++= "<p>"
      val words = 25 + pick(k, 30)
      k += 1
      (0 until words).foreach { w =>
        if (w > 0) sb += ' '
        if (pick(k, 10) < 3) sb ++= stop(pick(k + 1, stop.length))
        else (0 until 2 + pick(k + 2, 2)).foreach(j => sb ++= Syllables(pick(k + 3 + j, Syllables.length)))
        k += 8
      }
      sb ++= ".</p>"
    }
    sb ++= "</article><footer><a href=\"/about\">about</a></footer></body></html>"
    (lang, sb.toString)
  }

  /** Article `id` and its near-duplicates: for a seed-chosen
    * `dupPerMille` share of the articles, 1 to 3 copies under fresh urls.
    * The first copy is exact one time in four; otherwise copy j appends a
    * paragraph of j marker words, so the copies of one page form a chain of
    * pages a word or two apart (well above the 0.9 shingle-Jaccard bar),
    * which gives exact dedup, LSH and connected components real work. */
  def articleRows(id: Long, seed: Long, dupPerMille: Int): Seq[CrawlRow] = {
    val (lang, html) = article(id, seed)
    val base = CrawlRow(s"test://articles/$id/page.html",
      new java.sql.Timestamp(CrawlCorpus.BaseTsMillis + id * 1000L), html.getBytes("UTF-8"), "", lang)
    val r = CrawlCorpus.splitmix64(seed ^ (id * 0x9e3779b97f4a7c15L))
    val copies =
      if (java.lang.Long.remainderUnsigned(r, 1000) >= dupPerMille) 0
      else 1 + ((r >>> 40) % 3).toInt
    val exactFirst = ((r >>> 50) & 3L) == 0L
    base +: (1 to copies).map { j =>
      val page =
        if (j == 1 && exactFirst) html
        else html.replace("</article>",
          (1 to j).map(i => s"revision$i").mkString("<p>", " ", ".</p></article>"))
      base.copy(url = s"test://articles/$id/copy$j.html", html = page.getBytes("UTF-8"))
    }
  }
}
