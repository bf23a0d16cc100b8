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

/** Registration: either as session extensions
  * (`spark.sql.extensions=graft.functions.GraftExtensions`) or imperatively
  * on an existing session via `GraftFunctions.register(spark)`. Covers the
  * extraction kernel AND the sketch family, so every native expression in
  * this library is reachable from plain SQL (q31 exercises the mechanism). */
object GraftFunctionSet {
  /** (name, builder) for every SQL-exposed native function, scalar and
    * aggregate (the analyzer wraps a bare aggregate function). */
  val all: Seq[(String, Seq[Expression] => Expression)] =
    (Natives.scalars ++ Natives.aggregates).map(f => f.name -> (f.build _))
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
