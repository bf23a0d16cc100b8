package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.exec.Exec

/** Corpus-trained unigram language-model scoring — the CCNet/FineWeb-style
  * "perplexity" quality filter re-expressed for a distributed engine: train
  * token statistics on the corpus, then score every document by how
  * surprising its tokens are under that model. Low-surprisal documents
  * read like the training corpus; high-surprisal documents are gibberish,
  * boilerplate hash soup, or another language.
  *
  * Deliberately INTEGER-formulated (the [[TfIdf]] discipline): a token's
  * surprisal is quantized to whole BITS,
  * `bits(tok) = floor(log2(total_occurrences)) - floor(log2(cnt(tok)))`,
  * and `floor(log2(n)) == length(bin(n)) - 1` for n >= 1 — a pure integer
  * identity both Spark and DuckDB compute exactly (`bin()` exists in both),
  * so scores are bit-for-bit reproducible across engines. A float
  * `-sum(log p)` would hash-differ by libm ulps and summation order; whole
  * bits lose sub-bit resolution but keep the filter's ranking power (a
  * one-bit step is a 2x frequency ratio).
  *
  * Scale shape: per-doc term frequencies are MAP-ONLY via the native
  * `token_tf` expression (strings collapse in-row before any exchange);
  * the model and every scoring exchange live in (md5, long) space; the
  * model frame is vocabulary-sized (<< corpus) and joins md5-keyed, so a
  * hot stopword costs one model row, never a hot partition. No token
  * string ever rides a shuffle here at all — the output is per-document
  * numbers.
  */
object LanguageModel {

  /** Train the unigram model: one row per distinct token with its corpus
    * OCCURRENCE count (not doc frequency) and surprisal in whole bits.
    * Output: (tk = md5(token), cnt, bits) — compact md5 keys only; the
    * string never leaves the map side. `bits` is relative to the corpus
    * total: floor(log2(total)) - floor(log2(cnt)) >= 0, with the most
    * frequent tokens near 0 bits. */
  def unigramModel(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val counts = TfIdf.termFrequencies(df, idCol, textCol)
      .groupBy(md5(col("token")).as("tk"))
      .agg(sum(col("tf")).as("cnt"))
    // corpus total as a 1-row broadcast frame — lazy/composable, no
    // driver-side action (the distinctiveTerms nRow rule)
    val totalRow = counts.agg(sum(col("cnt")).as("total"))
    counts.crossJoin(broadcast(totalRow))
      .select(col("tk"), col("cnt"),
        (floorLog2(col("total")) - floorLog2(col("cnt"))).as("bits"))
  }

  /** `floor(log2(n))` for n >= 1 as an exact integer: the bit length of n
    * minus one, via the binary-string rendering both engines share
    * (`bin(5) = '101'` in Spark AND DuckDB — no float log2 whose boundary
    * rounding differs across libm builds). */
  private[graft] def floorLog2(n: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    (length(bin(n)) - 1).cast("long")

  /** Self-scored unigram surprisal: train on `df` and score `df` — the
    * single-corpus quality signal. Every token `df` scores is in its own
    * model, so no out-of-vocabulary charge is ever needed.
    *
    * Output: (id, n_tokens, surprisal_bits, mean_bits_x100) —
    * n_tokens counts token OCCURRENCES, surprisal_bits = sum of per-token
    * bits over occurrences, mean_bits_x100 = surprisal_bits * 100 div
    * n_tokens (pure integer division, cross-engine exact). Null-text
    * documents report (0, 0, 0). Ids must be unique (checked anchor
    * raise_errors on duplicates — copies would silently merge token
    * streams). Spark plans the tokenize pass twice (once for the model
    * aggregate, once for the scoring frame). */
  def selfSurprisal(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val model = unigramModel(df, idCol, textCol)
    val scored = TfIdf.termFrequencies(df, idCol, textCol)
      .select(col("id"), md5(col("token")).as("tk"), col("tf"))
      .join(model.select(col("tk"), col("bits")), Seq("tk"))
      .groupBy(col("id"))
      .agg(sum(col("tf")).as("n_tokens"),
        sum(col("tf") * col("bits")).as("surprisal_bits"))
    Exec.checkedIdAnchor(df, idCol, "LanguageModel.selfSurprisal")
      .join(scored, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("n_tokens"), lit(0L)).as("n_tokens"),
        coalesce(col("surprisal_bits"), lit(0L)).as("surprisal_bits"),
        when(col("n_tokens") > 0,
          expr("surprisal_bits * 100 div n_tokens")).otherwise(lit(0L)).as("mean_bits_x100"))
  }

  /** Train the order-2 model: one row per distinct token BIGRAM with its
    * corpus count and CONDITIONAL surprisal in whole bits,
    * `bits(a→b) = floor(log2(cnt(a·*))) - floor(log2(cnt(a·b)))` — how
    * surprising the continuation is GIVEN the prefix (the upgrade over
    * [[unigramModel]]: "of the" is cheap even though "the" alone says
    * nothing about fluency; scrambled-word soup keeps plausible unigrams
    * but pays full price on every transition).
    *
    * Bigrams are consecutive RAW split positions with both tokens
    * non-empty (a run of separators breaks the chain), extracted MAP-ONLY
    * via the native `token_chunks(text, 2, 1)` — a size-2 chunk carries
    * exactly one space, so the two tokens split exactly; the tail chunk
    * (no space) drops. Output: (a, b, cnt, bits) with a/b = md5(token) —
    * compact keys only, the token strings never leave the map side.
    *
    * Scale shape: one map-side-combined groupBy on (a, b) for counts, a
    * prefix re-aggregation on a (bigram-vocab-sized input, not corpus),
    * and the prefix join runs vocab-to-vocab. A hot bigram is one model
    * row; skew lands only on the scoring join, where AQE's skew split
    * applies (same property [[selfSurprisal]] ships with). */
  def bigramModel(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val counts = bigramOccurrences(df, idCol, textCol)
      .groupBy(col("a"), col("b")).agg(count(lit(1)).as("cnt"))
    val prefix = counts.groupBy(col("a")).agg(sum(col("cnt")).as("pcnt"))
    counts.join(prefix, Seq("a"))
      .select(col("a"), col("b"), col("cnt"),
        (floorLog2(col("pcnt")) - floorLog2(col("cnt"))).as("bits"))
  }

  /** One row per bigram OCCURRENCE with raw token columns (ta, tb) plus
    * the pass-through columns in `keep` — THE single definition of the
    * bigram event space (raw-adjacent non-empty token pairs via the native
    * size-2 stride-1 chunks; the spaceless tail chunk drops), shared by
    * every order-2 consumer so the extraction rules cannot fork. */
  private def rawBigrams(df: DataFrame, textCol: String, keep: Seq[String]): DataFrame =
    df.where(col(textCol).isNotNull)
      .select(keep.map(col) :+
        explode(graft.functions.SketchFunctions.tokenChunks(col(textCol), 2, 1)).as("t"): _*)
      .select(keep.map(col) :+
        substring_index(col("t.chunk"), " ", 1).as("ta") :+
        substring_index(col("t.chunk"), " ", -1).as("tb") :+
        instr(col("t.chunk"), " ").as("sp"): _*)
      .where(col("sp") > 0 && col("ta") =!= "" && col("tb") =!= "")
      .drop("sp")

  /** (id, a, b) per bigram OCCURRENCE, md5 keys — the shared map-only
    * extraction behind [[bigramModel]] and [[selfBigramSurprisal]]. */
  private def bigramOccurrences(df: DataFrame, idCol: String, textCol: String): DataFrame =
    rawBigrams(df.select(col(idCol).as("id"), col(textCol)), textCol, Seq("id"))
      .select(col("id"), md5(col("ta")).as("a"), md5(col("tb")).as("b"))

  /** Self-scored bigram surprisal — the order-2 quality filter: train on
    * `df`, score each document's TRANSITIONS against that model (every
    * transition is in it, so none is out of vocabulary). Output: (id,
    * n_bigrams, surprisal_bits, mean_bits_x100); documents with fewer than
    * two non-empty tokens (or null text) report (0, 0, 0). Ids must be
    * unique (checked anchor). The tokenize pass plans twice, as in
    * [[selfSurprisal]]. */
  def selfBigramSurprisal(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val model = bigramModel(df, idCol, textCol)
    val scored = bigramOccurrences(df, idCol, textCol)
      .groupBy(col("id"), col("a"), col("b")).agg(count(lit(1)).as("tf"))
      .join(model.select(col("a"), col("b"), col("bits")), Seq("a", "b"))
      .groupBy(col("id"))
      .agg(sum(col("tf")).as("n_bigrams"),
        sum(col("tf") * col("bits")).as("surprisal_bits"))
    Exec.checkedIdAnchor(df, idCol, "LanguageModel.selfBigramSurprisal")
      .join(scored, Seq("id"), "left")
      .select(col("id"),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("surprisal_bits"), lit(0L)).as("surprisal_bits"),
        when(col("n_bigrams") > 0,
          expr("surprisal_bits * 100 div n_bigrams")).otherwise(lit(0L)).as("mean_bits_x100"))
  }

  /** Collocation mining — the corpus's top-k most ASSOCIATED adjacent
    * token pairs ("strongly glued" phrases: named entities, technical
    * terms, boilerplate idioms), ranked by a pointwise-mutual-information
    * score in the whole-bit integer space:
    * `pmi_bits = (fl2(cnt_ab) + fl2(N)) - (fl2(cnt_a·) + fl2(cnt_·b))`,
    * with the marginals taken over the bigram event space itself (first-
    * and second-position occurrence counts) and N the total bigram count.
    * The decomposed fl2 sum is within ±1 bit of fl2 of the true ratio but
    * never forms the products `cnt·N` (which overflow a long at corpus
    * scale) — the decomposition IS the score's definition, replayed
    * verbatim by the oracle, so it is cross-engine exact by construction.
    *
    * Deterministic output: pairs with `cnt >= minCount` ranked by
    * (pmi_bits desc, cnt desc, md5(token_a) asc, md5(token_b) asc) — a
    * unique total order ((a, b) is unique), tiebroken on the md5 KEYS so
    * the rank has no string-collation dependence — limited to k. Output:
    * (token_a, token_b, cnt, pmi_bits, rnk).
    *
    * Scale shape: one map-side-combined groupBy on (a, b) md5 keys (one
    * representative string per key per partition rides the exchange — the
    * [[tokenDrift]] discipline), two bigram-vocab-sized marginal re-aggs,
    * vocab-to-vocab joins, and a global top-k that plans as
    * TakeOrdered(k) — never a full sort of the pair space. */
  def collocations(df: DataFrame, textCol: String,
                   k: Int, minCount: Long = 2L): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(minCount >= 1L, s"minCount must be >= 1, got $minCount")
    val occ = rawBigrams(df, textCol, Seq.empty)
      .select(md5(col("ta")).as("a"), md5(col("tb")).as("b"),
        col("ta"), col("tb"))
    val cnt = occ.groupBy(col("a"), col("b"))
      .agg(count(lit(1)).as("cnt"),
        min(col("ta")).as("token_a"), min(col("tb")).as("token_b"))
    val margA = cnt.groupBy(col("a")).agg(sum(col("cnt")).as("ca"))
    val margB = cnt.groupBy(col("b")).agg(sum(col("cnt")).as("cb"))
    val totalRow = cnt.agg(sum(col("cnt")).as("n"))
    cnt.where(col("cnt") >= minCount)
      .join(margA, Seq("a")).join(margB, Seq("b"))
      .crossJoin(broadcast(totalRow))
      // tiebreak on the md5 KEYS, not the raw tokens: both engines render
      // the same lowercase hex, so the order is engine-exact with no
      // collation dependence (the q51 ranking discipline)
      .select(col("a"), col("b"), col("token_a"), col("token_b"), col("cnt"),
        (floorLog2(col("cnt")) + floorLog2(col("n"))
          - floorLog2(col("ca")) - floorLog2(col("cb"))).as("pmi_bits"))
      .orderBy(col("pmi_bits").desc, col("cnt").desc,
        col("a").asc, col("b").asc)
      .limit(k)
      // the rank window runs over the already-k-bounded frame (the
      // Vocab.build convention), never the pair space
      .withColumn("rnk", row_number().over(
        org.apache.spark.sql.expressions.Window.orderBy(
          col("pmi_bits").desc, col("cnt").desc,
          col("a").asc, col("b").asc)).cast("long"))
      .select(col("token_a"), col("token_b"), col("cnt"),
        col("pmi_bits"), col("rnk"))
  }

  /** Token-DISTRIBUTION drift between two corpora — the monitoring signal
    * a recrawl pipeline watches between snapshots (did the crawl's content
    * mix shift? did a template token flood in? did a language drain out?).
    * Per token: occurrence counts and whole-bit surprisal under EACH
    * corpus's own unigram model, and the integer delta
    * `delta_bits = bits_b - bits_a` (positive = rarer in B). A token
    * absent from one side is charged that side's OOV surprisal
    * (`floor(log2(total)) + 1`, one bit beyond its rarest token) — so
    * brand-new and vanished tokens surface with the largest deltas.
    *
    * Output: (token, cnt_a, cnt_b, bits_a, bits_b, delta_bits), filtered
    * to `greatest(cnt_a, cnt_b) >= minCnt` and `|delta_bits| >=
    * minAbsDelta` (at whole-bit quantization, unmoved tokens are exactly
    * delta 0 and drop out — the report is only the movers).
    *
    * Scale shape: both sides aggregate map-only `token_tf` rows by
    * md5(token) (one representative string rides each vocab-sized model
    * row); the drift join is vocab x vocab on 16-byte keys; totals are
    * 1-row broadcast frames.
    * Integer end to end — the q77 oracle replays it bit-for-bit. */
  def tokenDrift(a: DataFrame, b: DataFrame, idCol: String, textCol: String,
                 minCnt: Long = 1L, minAbsDelta: Long = 1L): DataFrame = {
    require(minCnt >= 1, s"minCnt must be >= 1, got $minCnt")
    require(minAbsDelta >= 0, s"minAbsDelta must be >= 0, got $minAbsDelta")
    def side(df: DataFrame, cntName: String, tokName: String) =
      TfIdf.termFrequencies(df, idCol, textCol)
        .groupBy(md5(col("token")).as("tk"))
        .agg(min(col("token")).as(tokName), sum(col("tf")).as(cntName))
    val sa = side(a, "cnt_a", "token_a")
    val sb = side(b, "cnt_b", "token_b")
    val totA = sa.agg(floorLog2(sum(col("cnt_a"))).as("log_tot_a"))
    val totB = sb.agg(floorLog2(sum(col("cnt_b"))).as("log_tot_b"))
    val bitsA = when(col("cnt_a").isNotNull, col("log_tot_a") - floorLog2(col("cnt_a")))
      .otherwise(col("log_tot_a") + 1L)
    val bitsB = when(col("cnt_b").isNotNull, col("log_tot_b") - floorLog2(col("cnt_b")))
      .otherwise(col("log_tot_b") + 1L)
    sa.join(sb, Seq("tk"), "full_outer")
      .crossJoin(broadcast(totA)).crossJoin(broadcast(totB))
      .select(coalesce(col("token_a"), col("token_b")).as("token"),
        coalesce(col("cnt_a"), lit(0L)).as("cnt_a"),
        coalesce(col("cnt_b"), lit(0L)).as("cnt_b"),
        bitsA.as("bits_a"), bitsB.as("bits_b"),
        (bitsB - bitsA).as("delta_bits"))
      .where(greatest(col("cnt_a"), col("cnt_b")) >= minCnt &&
        abs(col("delta_bits")) >= minAbsDelta)
  }
}
