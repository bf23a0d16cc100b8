package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import org.apache.spark.unsafe.types.UTF8String

/** The extraction kernel exposed to SQL — the optional SQL-surface parity
  * layer from SURVEY.md §4.2 ("Expression pdf_extract(html) returning the
  * struct, for SQL"). Each method is a [[Natives]] entry: a `StaticInvoke`
  * calls it, so it stays inside whole-stage codegen rather than falling
  * back to interpreted eval (and it is NOT a UDF: null handling, eval and
  * codegen follow Expression semantics — a null argument gives null
  * without calling the method).
  *
  *   pdf_text(binary)            -> binary   extracted text (byte-identical gate)
  *   html_text(binary)           -> binary   boilerplate-stripped main content
  *   graft_text(url, binary)     -> binary   payload-routed (the pipeline rule)
  */
object ExtractKernel {
  def pdfText(payload: Array[Byte]): Array[Byte] =
    graft.pdf.PdfExtract.parse(payload).contents

  def htmlText(payload: Array[Byte]): Array[Byte] =
    graft.html.HtmlExtract.extractBytes(payload)

  def graftText(url: UTF8String, payload: Array[Byte]): Array[Byte] =
    if (graft.operators.ExtractPipeline.isPdf(url.toString, payload)) pdfText(payload)
    else htmlText(payload)

  def htmlLinks(url: UTF8String, payload: Array[Byte]):
      org.apache.spark.sql.catalyst.util.ArrayData =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      graft.html.HtmlLinks.links(payload, url.toString).map(UTF8String.fromString).toArray[Any])

  def htmlAnchors(url: UTF8String, payload: Array[Byte]):
      org.apache.spark.sql.catalyst.util.ArrayData =
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      graft.html.HtmlLinks.anchors(payload, url.toString).map { case (d, t) =>
        org.apache.spark.sql.catalyst.InternalRow(
          UTF8String.fromString(d), UTF8String.fromString(t))
      }.toArray[Any])
}

/** DataFrame-API handles for the extraction natives (the SketchFunctions
  * convention). */
object ExtractFunctions {
  import org.apache.spark.sql.Column
  def htmlLinks(url: Column, payload: Column): Column = Natives.htmlLinks(Seq(url, payload))
  def htmlAnchors(url: Column, payload: Column): Column = Natives.htmlAnchors(Seq(url, payload))
}

/** Registration: either as session extensions
  * (`spark.sql.extensions=graft.functions.GraftExtensions`) or imperatively
  * on an existing session via `GraftFunctions.register(spark)`. Covers the
  * extraction kernel AND the sketch family, so every native expression in
  * this library is reachable from plain SQL (q31 exercises the mechanism). */
object GraftFunctionSet {
  import org.apache.spark.sql.catalyst.expressions.Literal
  import org.apache.spark.sql.types.{IntegerType, LongType}

  private[functions] def intLit(name: String, e: Expression): Int = e match {
    case Literal(v: Int, IntegerType) => v
    case other => throw new IllegalArgumentException(
      s"$name expects a literal integer parameter, got $other")
  }

  private def longLit(name: String, e: Expression): Long = e match {
    case Literal(v: Long, LongType) => v
    case Literal(v: Int, IntegerType) => v.toLong
    case other => throw new IllegalArgumentException(
      s"$name expects a literal integral parameter, got $other")
  }

  private[functions] def arity(name: String, n: Int)(args: Seq[Expression]): Seq[Expression] = {
    require(args.length == n, s"$name expects $n argument(s), got ${args.length}")
    args
  }

  /** (name, builder) for every SQL-exposed native expression. */
  val all: Seq[(String, Seq[Expression] => Expression)] =
    Natives.all.map(f => f.name -> (f.build _)) ++ bespoke

  // cosine_sim and hyperplane_sigs read float or double elements by the
  // argument's type after analysis; the aggregates keep per-group state
  private def bespoke: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "hyperplane_sigs" -> (args => {
      val a = arity("hyperplane_sigs", 3)(args)
      HyperplaneSigs(a(0), intLit("hyperplane_sigs", a(1)), intLit("hyperplane_sigs", a(2)))
    }),
    "cosine_sim" -> (args => { val a = arity("cosine_sim", 2)(args); CosineSim(a(0), a(1)) }),
    // aggregates: the analyzer wraps a bare AggregateFunction builder result
    "misra_gries" -> (args => {
      val a = arity("misra_gries", 2)(args)
      MisraGries(a(0), intLit("misra_gries", a(1)))
    }),
    "hll_distinct" -> (args => {
      val a = arity("hll_distinct", 2)(args)
      HllDistinct(a(0), intLit("hll_distinct", a(1)))
    }),
    "approx_quantiles" -> (args => {
      val a = arity("approx_quantiles", 2)(args)
      ApproxQuantiles(a(0), intLit("approx_quantiles", a(1)))
    }),
    // single-probe SQL form; the Scala API takes a probe sequence
    "approx_ranks" -> (args => {
      val a = arity("approx_ranks", 3)(args)
      ApproxRanks(a(0), intLit("approx_ranks", a(1)), Seq(longLit("approx_ranks", a(2))))
    }),
    "bloom_build" -> (args => {
      val a = arity("bloom_build", 3)(args)
      BloomBuild(a(0), intLit("bloom_build", a(1)), intLit("bloom_build", a(2)))
    }))
}

class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftFunctionSet.all.foreach { case (name, builder) =>
      ext.injectFunction((FunctionIdentifier(name),
        new ExpressionInfo(classOf[GraftExtensions].getName, name),
        builder))
    }
}

object GraftFunctions {
  // Sessions this process already registered into: repeat calls (every
  // bench/verify query run) skip entirely — no SimpleFunctionRegistry
  // replacement WARN spam. Unlike a per-name existence check, the FIRST
  // call still registers with REPLACE semantics, so a stale builder from
  // an older jar (or a user UDF squatting on a graft name) cannot
  // silently keep serving SQL callers. Weak keys: a stopped session's
  // entry must not pin it in memory.
  private val registered =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession, java.lang.Boolean]())

  def register(spark: SparkSession): Unit = {
    if (registered.putIfAbsent(spark, java.lang.Boolean.TRUE) == null) {
      val reg = spark.sessionState.functionRegistry
      GraftFunctionSet.all.foreach { case (name, builder) =>
        reg.createOrReplaceTempFunction(name, args => builder(args), "built-in")
      }
    }
  }
}
