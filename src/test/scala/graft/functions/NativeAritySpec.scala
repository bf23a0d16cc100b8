package graft.functions

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions.col

/** A Scala call of a [[Natives]] entry runs the column and literal count
  * check of the SQL builder (`Native.build`): a call with the wrong count
  * fails when it is built, not when a job runs it, and the message names
  * the entry. */
class NativeAritySpec extends AnyFunSuite {

  private def buildError(call: => Any): String =
    intercept[IllegalArgumentException](call).getMessage

  test("a scalar call one literal short fails when built, naming the entry") {
    assert(buildError(Natives.minhashSig(Seq(col("t")), 3)) ==
      "requirement failed: minhash_sig expects 3 argument(s), got 2")
  }

  test("a scalar call with a column too many fails when built, naming the entry") {
    assert(buildError(Natives.qualityScore(Seq(col("t"), col("u")))) ==
      "requirement failed: quality_score expects 1 argument(s), got 2")
  }

  test("a column in a literal's place fails when built, naming the entry") {
    assert(buildError(Natives.tokenChunks(Seq(col("t"), col("u")), 4)) ==
      "requirement failed: token_chunks expects 1 column(s) and 2 literal parameter(s), got 2 and 1")
  }

  test("aggregate calls run the same check; calls of the declared shape build") {
    assert(buildError(Natives.topKByScore(Seq(col("s")), 5)) ==
      "requirement failed: topk_by_score expects 3 argument(s), got 2")
    assert(buildError(Natives.bloomBuild(Seq(col("t")), 1024)) ==
      "requirement failed: bloom_build expects 3 argument(s), got 2")
    Natives.minhashSig(Seq(col("t")), 3, 16)
    Natives.qualityScore(Seq(col("t")))
    Natives.bloomBuild(Seq(col("t")), 1024, 3)
  }
}
