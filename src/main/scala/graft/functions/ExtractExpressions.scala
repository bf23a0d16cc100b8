package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo, UnaryExpression}
import org.apache.spark.sql.types.{AbstractDataType, BinaryType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expressions exposing the extraction kernel to SQL —
  * the optional SQL-surface parity layer from SURVEY.md §4.2 ("Expression
  * pdf_extract(html) returning the struct, for SQL"). Codegen'd via a
  * static-call defineCodeGen, so they stay inside whole-stage codegen
  * rather than falling back to interpreted eval (and they are NOT UDFs:
  * null handling, eval and codegen follow Expression semantics).
  *
  *   pdf_text(binary)            -> binary   extracted text (byte-identical gate)
  *   html_text(binary)           -> binary   boilerplate-stripped main content
  *   graft_text(url, binary)     -> binary   payload-routed (the pipeline rule)
  */
object ExtractKernel {
  def pdfText(payload: Array[Byte]): Array[Byte] =
    if (payload == null) null else graft.pdf.PdfExtract.parse(payload).contents

  def htmlText(payload: Array[Byte]): Array[Byte] =
    if (payload == null) null else graft.html.HtmlExtract.extractBytes(payload)

  def graftText(url: UTF8String, payload: Array[Byte]): Array[Byte] =
    if (payload == null) null
    else if (graft.operators.ExtractPipeline.isPdf(if (url == null) null else url.toString, payload))
      pdfText(payload)
    else htmlText(payload)

  def htmlLinks(url: UTF8String, payload: Array[Byte]):
      org.apache.spark.sql.catalyst.util.ArrayData = {
    if (payload == null) return null
    val out = graft.html.HtmlLinks.links(payload,
      if (url == null) null else url.toString)
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      out.map(UTF8String.fromString).toArray[Any])
  }

  def htmlAnchors(url: UTF8String, payload: Array[Byte]):
      org.apache.spark.sql.catalyst.util.ArrayData = {
    if (payload == null) return null
    val out = graft.html.HtmlLinks.anchors(payload,
      if (url == null) null else url.toString)
    new org.apache.spark.sql.catalyst.util.GenericArrayData(
      out.map { case (d, t) =>
        org.apache.spark.sql.catalyst.InternalRow(
          UTF8String.fromString(d), UTF8String.fromString(t))
      }.toArray[Any])
  }
}

case class PdfText(child: Expression) extends UnaryExpression {
  override def dataType: DataType = BinaryType
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == BinaryType) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"pdf_text requires binary input, got ${child.dataType.sql}")
  override protected def nullSafeEval(input: Any): Any =
    ExtractKernel.pdfText(input.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ExtractKernel.pdfText($c)")
  override protected def withNewChildInternal(newChild: Expression): PdfText = copy(child = newChild)
  override def prettyName: String = "pdf_text"
}

case class HtmlText(child: Expression) extends UnaryExpression {
  override def dataType: DataType = BinaryType
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (child.dataType == BinaryType) org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"html_text requires binary input, got ${child.dataType.sql}")
  override protected def nullSafeEval(input: Any): Any =
    ExtractKernel.htmlText(input.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ExtractKernel.htmlText($c)")
  override protected def withNewChildInternal(newChild: Expression): HtmlText = copy(child = newChild)
  override def prettyName: String = "html_text"
}

case class GraftText(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = BinaryType
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    if (left.dataType == StringType && right.dataType == BinaryType)
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
      s"graft_text requires (string url, binary payload), got (${left.dataType.sql}, ${right.dataType.sql})")
  override protected def nullSafeEval(url: Any, payload: Any): Any =
    ExtractKernel.graftText(url.asInstanceOf[UTF8String], payload.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (u, p) => s"graft.functions.ExtractKernel.graftText($u, $p)")
  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): GraftText =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "graft_text"
}

case class HtmlLinksExpr(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.ArrayType(
    StringType, containsNull = false)
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (StringType, BinaryType) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case (l, r) => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"html_links requires (string url, binary payload), got ${l.sql} and ${r.sql}")
    }
  override protected def nullSafeEval(url: Any, payload: Any): Any =
    ExtractKernel.htmlLinks(url.asInstanceOf[UTF8String], payload.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (u, p) => s"graft.functions.ExtractKernel.htmlLinks($u, $p)")
  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): HtmlLinksExpr =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "html_links"
}

case class HtmlAnchorsExpr(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = org.apache.spark.sql.types.ArrayType(
    org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("dst", StringType, nullable = false),
      org.apache.spark.sql.types.StructField("anchor", StringType, nullable = false))),
    containsNull = false)
  override def checkInputDataTypes(): org.apache.spark.sql.catalyst.analysis.TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (StringType, BinaryType) =>
        org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
      case (l, r) => org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"html_anchors requires (string url, binary payload), got ${l.sql} and ${r.sql}")
    }
  override protected def nullSafeEval(url: Any, payload: Any): Any =
    ExtractKernel.htmlAnchors(url.asInstanceOf[UTF8String], payload.asInstanceOf[Array[Byte]])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (u, p) => s"graft.functions.ExtractKernel.htmlAnchors($u, $p)")
  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): HtmlAnchorsExpr =
    copy(left = newLeft, right = newRight)
  override def prettyName: String = "html_anchors"
}

/** DataFrame-API handles for the extraction natives (the SketchFunctions
  * convention). */
object ExtractFunctions {
  import org.apache.spark.sql.Column
  import org.apache.spark.sql.graftbridge.ColumnBridge
  def htmlLinks(url: Column, payload: Column): Column =
    ColumnBridge.column(HtmlLinksExpr(
      ColumnBridge.expression(url), ColumnBridge.expression(payload)))
  def htmlAnchors(url: Column, payload: Column): Column =
    ColumnBridge.column(HtmlAnchorsExpr(
      ColumnBridge.expression(url), ColumnBridge.expression(payload)))
}

/** Registration: either as session extensions
  * (`spark.sql.extensions=graft.functions.GraftExtensions`) or imperatively
  * on an existing session via `GraftFunctions.register(spark)`. Covers the
  * extraction kernel AND the sketch family, so every native expression in
  * this library is reachable from plain SQL (q31 exercises the mechanism). */
object GraftFunctionSet {
  import org.apache.spark.sql.catalyst.expressions.Literal
  import org.apache.spark.sql.types.{IntegerType, LongType}

  private def intLit(name: String, e: Expression): Int = e match {
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

  private def arity(name: String, n: Int)(args: Seq[Expression]): Seq[Expression] = {
    require(args.length == n, s"$name expects $n argument(s), got ${args.length}")
    args
  }

  /** (name, builder) for every SQL-exposed native expression. */
  val all: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "pdf_text" -> (args => PdfText(arity("pdf_text", 1)(args).head)),
    "html_text" -> (args => HtmlText(arity("html_text", 1)(args).head)),
    "graft_text" -> (args => { val a = arity("graft_text", 2)(args); GraftText(a(0), a(1)) }),
    "html_links" -> (args => { val a = arity("html_links", 2)(args); HtmlLinksExpr(a(0), a(1)) }),
    "html_anchors" -> (args => { val a = arity("html_anchors", 2)(args); HtmlAnchorsExpr(a(0), a(1)) }),
    "simhash64" -> (args => SimHash64(arity("simhash64", 1)(args).head)),
    "simhash_md5" -> (args => SimHashMd5(arity("simhash_md5", 1)(args).head)),
    "fingerprint_md5" -> (args => FingerprintMd5(arity("fingerprint_md5", 1)(args).head)),
    "fingerprint64" -> (args => Fingerprint64(arity("fingerprint64", 1)(args).head)),
    "shingle_hashes" -> (args => {
      val a = arity("shingle_hashes", 2)(args)
      ShingleHashes(a(0), intLit("shingle_hashes", a(1)))
    }),
    "minhash_sig" -> (args => {
      val a = arity("minhash_sig", 3)(args)
      MinHashSig(a(0), intLit("minhash_sig", a(1)), intLit("minhash_sig", a(2)))
    }),
    "hyperplane_sigs" -> (args => {
      val a = arity("hyperplane_sigs", 3)(args)
      HyperplaneSigs(a(0), intLit("hyperplane_sigs", a(1)), intLit("hyperplane_sigs", a(2)))
    }),
    "cosine_sim" -> (args => { val a = arity("cosine_sim", 2)(args); CosineSim(a(0), a(1)) }),
    "jaccard_sim" -> (args => { val a = arity("jaccard_sim", 2)(args); JaccardSim(a(0), a(1)) }),
    "quality_score" -> (args => QualityScore(arity("quality_score", 1)(args).head)),
    "bpe_estimate" -> (args => BpeEstimate(arity("bpe_estimate", 1)(args).head)),
    "token_chunks" -> (args => {
      val a = arity("token_chunks", 3)(args)
      TokenChunks(a(0), intLit("token_chunks", a(1)), intLit("token_chunks", a(2)))
    }),
    "token_tf" -> (args => TokenTf(arity("token_tf", 1)(args).head)),
    "dedup_lines" -> (args => DedupLines(arity("dedup_lines", 1)(args).head)),
    "dedup_spans" -> (args => {
      val a = arity("dedup_spans", 2)(args)
      DedupSpans(a(0), intLit("dedup_spans", a(1)))
    }),
    "excise_spans" -> (args => {
      val a = arity("excise_spans", 3)(args)
      ExciseSpans(a(0), a(1), intLit("excise_spans", a(2)))
    }),
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
    }),
    "bloom_might_contain" -> (args => {
      val a = arity("bloom_might_contain", 2)(args)
      BloomMightContain(a(0), a(1))
    }),
    "bloom_shingle_hits" -> (args => {
      val a = arity("bloom_shingle_hits", 3)(args)
      BloomShingleHits(a(0), a(1), intLit("bloom_shingle_hits", a(2)))
    }),
    "dot_int" -> (args => { val a = arity("dot_int", 2)(args); DotInt(a(0), a(1)) }))
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
