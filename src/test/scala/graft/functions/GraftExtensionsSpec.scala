package graft.functions

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import graft.SparkTestBase

/** `spark.sql.extensions=graft.functions.GraftExtensions` registers every
  * native function in a new session, without `GraftFunctions.register`. */
class GraftExtensionsSpec extends AnyFunSuite {

  /** A new session over the shared SparkContext built with the extension,
    * loaded by class name as Spark loads `spark.sql.extensions`; the shared
    * session stays the active and default one afterwards. */
  private def withExtendedSession[T](f: SparkSession => T): T = {
    val shared = SparkTestBase.spark
    val ext = Class.forName("graft.functions.GraftExtensions").getConstructor().newInstance()
      .asInstanceOf[SparkSessionExtensions => Unit]
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try f(SparkSession.builder().withExtensions(ext).getOrCreate())
    finally {
      SparkSession.setDefaultSession(shared)
      SparkSession.setActiveSession(shared)
    }
  }

  test("GraftExtensions injects every GraftFunctionSet name; a scalar and an aggregate resolve") {
    withExtendedSession { s =>
      assert(s ne SparkTestBase.spark)
      val registry = s.sessionState.functionRegistry
      val missing = GraftFunctionSet.all.map(_._1)
        .filterNot(n => registry.functionExists(FunctionIdentifier(n)))
      assert(missing.isEmpty, missing)
      val row = s.sql(
        """SELECT fingerprint64(max(t)) AS fp, misra_gries(t, 4).n AS n
          |FROM VALUES ('a'), ('a'), ('b') AS v(t)""".stripMargin).head()
      assert(!row.isNullAt(0) && row.getLong(1) == 3L)
    }
  }
}
