package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.Curate
import graft.functions.Natives

/** End-to-end curation pipeline invariants (the per-value exactness is the
  * q38 DuckDB oracle's job; these pin the set-level contracts). */
class CurateSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  def docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")

  test("survivors are a subset with no duplicate texts and no near-dup cluster siblings") {
    val withDups = docs.unionByName(
      docs.where(col("doc_id") < 20).withColumn("doc_id", col("doc_id") + 100000L))
    val out = Curate.curate(withDups).cache()
    val ids = out.select("doc_id").collect().map(_.getLong(0)).toSet

    assert(out.count() < withDups.count()) // the gates actually gate
    assert(ids.forall(_ < 100000L)) // every injected exact dup lost to its original
    // no two survivors share a text
    val joined = out.join(withDups, Seq("doc_id"))
    assert(joined.select("text").distinct().count() == out.count())
    out.unpersist()
  }

  test("decontamination stage: contaminated survivors drop and packing recomputes over the rest") {
    val bench = docs.where(col("doc_id") % 50 === 0).select(col("doc_id"), col("text"))
    val plain = Curate.curate(docs)
    val decon = Curate.curate(docs, decontaminateAgainst = bench)
    val plainIds = plain.select("doc_id").collect().map(_.getLong(0)).toSet
    val deconIds = decon.select("doc_id").collect().map(_.getLong(0)).toSet
    // the gate only removes, never adds
    assert(deconIds.subsetOf(plainIds))
    // exactly the survivors Decontaminate flags must be gone
    val survivors = docs.join(plain.select("doc_id"), Seq("doc_id"), "left_semi")
    val flagged = graft.operators.Decontaminate.flag(
        survivors.select(col("doc_id"), col("text")), bench, "doc_id", "text",
        w = 5, minOverlap = 3L)
      .where(col("contaminated")).collect().map(_.getLong(0)).toSet
    assert(flagged.nonEmpty, "benchmark overlap must exist or the fixture is vacuous")
    assert(deconIds == plainIds -- flagged)
    // packing is recomputed over the FILTERED set: cum_tokens restarts
    // cleanly (per-language monotone, first doc's cum == its own n_tokens)
    decon.orderBy("detected_lang", "doc_id").collect()
      .groupBy(_.getString(1)).foreach { case (_, rows) =>
        def nTok(r: org.apache.spark.sql.Row) = r.getAs[Number]("n_tokens").longValue()
        assert(rows.head.getLong(3) == nTok(rows.head))
        rows.sliding(2).foreach {
          case Array(a, b) => assert(b.getLong(3) == a.getLong(3) + nTok(b))
          case _ =>
        }
      }
  }

  test("dedupSpansW stage: within-doc repeats struck before every gate; off by default") {
    // inject intra-doc repetition: each doc's first 12 tokens appended
    // twice — the span stage must judge the doc on its deduped content
    val stuffed = docs.withColumn("text",
      when(col("text").isNotNull, concat_ws(" ", col("text"),
        array_join(slice(split(col("text"), " "), 1, 12), " "),
        array_join(slice(split(col("text"), " "), 1, 12), " ")))
        .otherwise(col("text")))
    val stagedRows = Curate.curate(stuffed, dedupSpansW = 5).collect()
    val staged = stagedRows.map(_.toString).sorted.toSeq
    // contract: the stage IS a pre-transform of the input text, nothing else
    val preTransformed = Curate.curate(stuffed.withColumn("text",
        Natives.dedupSpans(Seq(col("text")), 5)))
      .collect().map(_.toString).sorted.toSeq
    assert(staged == preTransformed && staged.nonEmpty)
    // the struck repeats must not occupy pack budget: token sums shrink
    // (n_tokens is column 2 of the already-collected staged rows)
    val nStaged = stagedRows.map(_.getAs[Number](2).longValue).sum
    val nRaw = Curate.curate(stuffed).agg(sum("n_tokens")).collect().head.getLong(0)
    assert(nStaged < nRaw, s"staged=$nStaged raw=$nRaw")
  }

  test("LM-surprisal gate: equals pre-filtering by the gate replay; the cap bites") {
    val plain = Curate.curate(docs)
    val gated = Curate.curate(docs, maxMeanBitsX100 = 505L)
    val plainIds = plain.select("doc_id").collect().map(_.getLong(0)).toSet
    val gatedIds = gated.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(gatedIds != plainIds, "the cap must bite on this corpus")
    // parity: the staged gate == running the plain pipeline on the corpus
    // pre-filtered by the replayed gate (self-surprisal over the
    // heuristic-gate survivors, cap 505). NOTE gated ids need not be a
    // SUBSET of plain ids: dropping a duplicate group's min-id copy
    // legitimately promotes a later copy to dedup winner.
    val analyzed = docs.select(col("doc_id"), col("text"))
      .where(graft.operators.TextAnalysis.qualityScoreI4(col("text")) >= 2000 &&
        graft.operators.TextAnalysis.langId(col("text")) =!= "und")
    val keep = graft.operators.LanguageModel
      .selfSurprisal(analyzed, "doc_id", "text")
      .where(col("mean_bits_x100") <= 505L)
      .select(col("id").as("doc_id"))
    val replay = Curate.curate(docs.join(keep, Seq("doc_id"), "left_semi"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getAs[Number](2).longValue,
        r.getAs[Number](3).longValue, r.getAs[Number](4).longValue)).toSet
    val got = gated
      .collect().map(r => (r.getLong(0), r.getString(1), r.getAs[Number](2).longValue,
        r.getAs[Number](3).longValue, r.getAs[Number](4).longValue)).toSet
    assert(got == replay)
  }

  test("packing is per-language monotone with budget-sized pack ids") {
    val out = Curate.curate(docs)
      .orderBy("detected_lang", "doc_id").collect()
    out.groupBy(_.getString(1)).foreach { case (_, rows) =>
      var prevCum = 0L
      rows.foreach { r =>
        val cum = r.getAs[Long]("cum_tokens")
        assert(cum > prevCum)
        assert(r.getAs[Long]("pack_id") == (cum - 1) / 512)
        prevCum = cum
      }
    }
  }

  test("deterministic across partitionings") {
    def run(parts: Int) = Curate.curate(docs.repartition(parts))
      .orderBy("detected_lang", "doc_id").collect().map(_.toString).toSeq
    assert(run(2) == run(11))
  }

  test("sharded packing: same survivor set, budgets hold per pack, globally unique pack ids") {
    val budget = 512
    val plain = Curate.curate(docs).cache()
    val sharded = Curate.curate(docs, packShards = 8).cache()

    // identical survivor set — sharding only changes pack assignment
    assert(plain.select("doc_id").collect().map(_.getLong(0)).toSet ==
      sharded.select("doc_id").collect().map(_.getLong(0)).toSet)

    // every (lang, pack) respects the token budget unless a single doc
    // alone exceeds it (greedy packing admits the overflowing doc)
    val packs = sharded.groupBy(col("detected_lang"), col("pack_id"))
      .agg(sum(col("n_tokens")).as("tok"), max(col("n_tokens")).as("mx"), count(lit(1)).as("n"))
      .collect()
    packs.foreach { r =>
      val tok = r.getAs[Number](2).longValue
      val mx = r.getAs[Number](3).longValue
      assert(tok <= budget || (tok - mx) < budget,
        s"pack ${r.get(1)} lang ${r.get(0)} total $tok max-doc $mx")
    }

    // pack ids never collide across shards (pack_id = local*shards + shard
    // is injective): every doc's pack_id must decode back to ITS OWN shard
    // value, so no (lang, pack_id) group can mix docs from two shards
    val withShard = sharded
      .withColumn("shard", pmod(xxhash64(col("doc_id")), lit(8)))
      .select("detected_lang", "pack_id", "shard").collect()
    assert(withShard.nonEmpty)
    withShard.foreach { r =>
      assert(r.getLong(1) % 8 == r.getLong(2), r.toString) // pack_id mod shards == shard
      assert(r.getLong(1) >= 0)
    }

    // deterministic under repartitioning too
    def run(parts: Int) = Curate.curate(docs.repartition(parts), packShards = 8)
      .orderBy("detected_lang", "doc_id").collect().map(_.toString).toSeq
    assert(run(2) == run(11))
    plain.unpersist(); sharded.unpersist()
  }

  /** `d` with a 16-token template header in front of every text: two
    * whole 8-token chunks, the same in each document, so the header is a
    * boilerplate line of every document once 30 or more share it. */
  private def templated(d: org.apache.spark.sql.DataFrame) = {
    val header = "visit our site for more info and subscribe to the newsletter today or follow us online"
    d.select(col("doc_id"), concat(lit(header + " "), col("text")).as("text"))
  }

  test("stripBoilerplate stage: template lines removed before the gates, default path untouched") {
    val base = templated(docs.where(col("doc_id") < 40))
    val plain = Curate.curate(base)
    val stripped = Curate.curate(base, stripBoilerplate = true)
    // same survivor ids (bodies are what distinguishes docs)...
    val pIds = plain.select("doc_id").collect().map(_.getLong(0)).toSet
    val sIds = stripped.select("doc_id").collect().map(_.getLong(0)).toSet
    assert(sIds.nonEmpty && sIds.subsetOf(pIds))
    // ...but the stripped path counts fewer tokens per doc (footer gone)
    val pTok = plain.select(sum("n_tokens")).head().getLong(0)
    val sTok = stripped.select(sum("n_tokens")).head().getLong(0)
    assert(sTok < pTok, s"stripped=$sTok plain=$pTok")
    // (default-path non-drift is the q38 oracle's job — a same-session
    // re-run compare would be vacuous)
  }

  test("stripBoilerplate stage: duplicate input ids raise instead of merging the copies") {
    // two of 40 templated docs share id 7
    val ids = docs.where(col("doc_id") < 40).orderBy("doc_id").limit(2)
      .select("doc_id").collect().map(_.getLong(0))
    val twoCopies = templated(docs.where(col("doc_id") < 40))
      .withColumn("doc_id", when(col("doc_id").isin(ids: _*), lit(7L)).otherwise(col("doc_id")))
    val e = intercept[Exception] {
      Curate.curate(twoCopies, stripBoilerplate = true).collect()
    }
    assert(SparkTestBase.causeMessages(e).exists(_.contains("duplicate input id")))
  }

  test("qualityReps: near-dup cluster keeps the higher-quality member instead of the min id") {
    import spark.implicits._
    // two near-dups (jaccard ~0.995 on 3-word shingles): id 1 carries
    // punctuation junk (lower quality), id 2 is clean (higher quality).
    // Min-id policy keeps 1; qualityReps must keep 2 instead.
    val body = (0 until 100).map(i => s"the w$i and v$i of u$i").mkString(" ")
    val df = Seq((1L, body + " !!!! ???? ;;;;"), (2L, body)).toDF("doc_id", "text")
    val dflt = Curate.curate(df).select("doc_id").collect().map(_.getLong(0)).toSet
    val qr = Curate.curate(df, qualityReps = true)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(dflt == Set(1L), s"default policy: $dflt")
    assert(qr == Set(2L), s"qualityReps policy: $qr")
    // on exact duplicates the policies agree (identical text -> identical
    // quality -> tie breaks to min id): the full-corpus run keeps the same
    // survivor SET whenever all duplicate groups are exact
    val withDups = docs.unionByName(
      docs.where(col("doc_id") < 20).withColumn("doc_id", col("doc_id") + 100000L))
    val ids = Curate.curate(withDups, qualityReps = true)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(ids.forall(_ < 100000L))
  }

  test("keepFirstSpansW stage: exact copies die at the span stage, near-dups shrink to their remainder") {
    import spark.implicits._
    val body = (0 until 80).map(i => s"the w$i and v$i of u$i").mkString(" ")
    val novel = (0 until 80).map(i => s"the x$i and y$i of z$i").mkString(" ")
    // id 2 = exact copy of 1 (every span struck -> NULL -> gate drop);
    // id 3 = 1's body plus a novel half (shrinks to the novel remainder)
    val df = Seq((1L, body), (2L, body), (3L, body + " " + novel))
      .toDF("doc_id", "text")
    val out = Curate.curate(df, keepFirstSpansW = 5)
      .collect().map(r => r.getLong(0) -> r.getAs[Number](2).longValue).toMap
    assert(out.keySet == Set(1L, 3L), s"survivors: ${out.keySet}")
    // doc 3's token count reflects ONLY its novel remainder: the shared
    // body (480 tokens) was struck before the gates counted anything
    assert(out(1L) == 480L && out(3L) < 490L,
      s"n_tokens: ${out(1L)}, ${out(3L)}")
    // off by default: the same corpus keeps 3 at full length
    val dflt = Curate.curate(df)
      .collect().map(r => r.getLong(0) -> r.getAs[Number](2).longValue).toMap
    assert(dflt(3L) == 960L, s"default n_tokens: $dflt")
  }
}