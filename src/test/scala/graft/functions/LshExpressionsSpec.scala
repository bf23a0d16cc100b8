package graft.functions

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.SparkTestBase
import graft.operators.SimilarityReference

/** Parity: the native hyperplane-signature expression must equal the
  * declarative HOF formulation bit-for-bit on real embeddings. */
class LshExpressionsSpec extends AnyFunSuite {
  lazy val spark = SparkTestBase.spark
  def emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")

  test("native hyperplane_sigs == declarative signatures on all embeddings") {
    for ((nBits, nTables) <- Seq((1, 4), (4, 2), (16, 8))) {
      val cmp = emb.select(
        SimilarityReference.signaturesDeclarative(col("embedding"), nBits, nTables).as("a"),
        Natives.hyperplaneSigs(Seq(col("embedding")), nBits, nTables).as("b"))
      assert(cmp.where(col("a") =!= col("b")).count() == 0, s"nBits=$nBits nTables=$nTables")
    }
  }

  test("cosine_sim and hyperplane_sigs reject non-float vectors at analysis") {
    GraftFunctions.register(spark)
    for (q <- Seq("SELECT cosine_sim(array('a'), array('b'))",
                  "SELECT hyperplane_sigs(array(1), 4, 2)"))
      intercept[org.apache.spark.sql.AnalysisException](spark.sql(q).collect())
    intercept[org.apache.spark.sql.AnalysisException](
      spark.range(1).select(Natives.cosineSim(Seq(array(lit("a")), array(lit("b"))))).collect())
  }

  test("double-typed vectors take the non-float path and agree too") {
    val d = emb.select(col("embedding").cast("array<double>").as("v"))
    val cmp = d.select(
      SimilarityReference.signaturesDeclarative(col("v"), 8, 2).as("a"),
      Natives.hyperplaneSigs(Seq(col("v")), 8, 2).as("b"))
    assert(cmp.where(col("a") =!= col("b")).count() == 0)
  }

  test("native cosine_sim == declarative dot/norm cosine, bit for bit, float and double") {
    val pairs = emb.select(col("vec_id").as("ia"), col("embedding").as("a"))
      .crossJoin(emb.select(col("vec_id").as("ib"), col("embedding").as("b")))
      .where(col("ia") < col("ib") && col("ib") < 40)
    val cmp = pairs.select(
      SimilarityReference.cosineDeclarative(col("a"), col("b")).as("x"),
      Natives.cosineSim(Seq(col("a"), col("b"))).as("y"),
      SimilarityReference.cosineDeclarative(col("a").cast("array<double>"), col("b")).as("xd"),
      Natives.cosineSim(Seq(col("a").cast("array<double>"), col("b"))).as("yd"))
    assert(cmp.where(col("x") =!= col("y") || col("xd") =!= col("yd")).count() == 0)
  }

  test("ragged and null-element inputs follow the declarative null semantics") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("a", ArrayType(DoubleType, containsNull = true)),
      StructField("b", ArrayType(DoubleType, containsNull = true))))
    val rows = java.util.Arrays.asList(
      Row(Seq(1.0, 2.0), Seq(1.0, 2.0, 3.0)),      // ragged
      Row(Seq(1.0, null, 3.0), Seq(1.0, 2.0, 3.0)), // null element
      Row(Seq(1.0, 2.0), Seq(3.0, 4.0)))            // clean
    val df = spark.createDataFrame(rows, schema)
    val out = df.select(
      Natives.cosineSim(Seq(col("a"), col("b"))).as("nat"),
      SimilarityReference.cosineDeclarative(col("a"), col("b")).as("dec"),
      Natives.hyperplaneSigs(Seq(col("a")), 4, 2).as("sig_nat"),
      SimilarityReference.signaturesDeclarative(col("a"), 4, 2).as("sig_dec")).collect()
    out.foreach { r =>
      assert(r.isNullAt(0) == r.isNullAt(1), r.toString) // cosine null parity
      if (!r.isNullAt(0)) assert(r.getDouble(0) == r.getDouble(1), r.toString)
      assert(r.getSeq[Any](2) == r.getSeq[Any](3), r.toString) // signature parity
    }
    assert(out(0).isNullAt(0) && out(1).isNullAt(0) && !out(2).isNullAt(0))
  }

  test("plan stays native: no ScalaUDF, batched scan") {
    val p = emb.select(Natives.hyperplaneSigs(Seq(col("embedding")), 8, 4).as("s"))
      .queryExecution.executedPlan.toString
    assert(!p.contains("ScalaUDF"), p.take(1500))
    assert(p.contains("LshKernel.signatures("), p.take(1500))
  }
}
