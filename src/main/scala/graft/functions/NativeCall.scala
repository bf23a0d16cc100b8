package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, Literal, RuntimeReplaceable}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._

/** One native scalar kernel, declared once: SQL `name`, computed by the
  * static method `kernel.method(columns..., ints...)` — one column argument
  * per `inputTypes` entry, then `nInts` integer literal parameters, which
  * `check` validates when the expression is built (bad SQL literals fail
  * analysis, not the job). The method returns Catalyst values (`ArrayData`,
  * `InternalRow`, `UTF8String`, primitives) of `dataType`; a non-null input
  * row gives a non-null result, so `dataType` says nothing about nulls. */
final case class NativeFn(name: String, kernel: Class[_], method: String,
    dataType: DataType, inputTypes: Seq[DataType], nInts: Int = 0,
    check: Seq[Int] => Unit = _ => ()) {

  def expr(cols: Seq[Expression], ints: Seq[Int]): Expression = {
    check(ints)
    NativeCall(this, cols, ints)
  }

  /** The DataFrame-API handle. */
  def apply(cols: Seq[Column], ints: Int*): Column =
    ColumnBridge.column(expr(cols.map(ColumnBridge.expression), ints))

  /** The SQL builder: the column arguments, then the integer literals. */
  def build(args: Seq[Expression]): Expression = {
    val n = inputTypes.length
    GraftFunctionSet.arity(name, n + nInts)(args)
    expr(args.take(n), args.drop(n).map(GraftFunctionSet.intLit(name, _)))
  }
}

/** The expression every [[NativeFn]] builds. It is replaced before
  * execution by a `StaticInvoke` of the kernel method, which Spark runs
  * through reflection when interpreted and as a direct static call inside
  * whole-stage codegen, so the two paths call the same method. Null in
  * gives null out (`propagateNull`), non-null in gives non-null out
  * (`returnNullable = false`). */
case class NativeCall(fn: NativeFn, children: Seq[Expression], params: Seq[Int])
  extends RuntimeReplaceable with ExpectsInputTypes {
  override def prettyName: String = fn.name
  override def dataType: DataType = fn.dataType
  override def inputTypes: Seq[DataType] = fn.inputTypes
  override lazy val replacement: Expression = StaticInvoke(fn.kernel, fn.dataType, fn.method,
    children ++ params.map(Literal(_)), propagateNull = true, returnNullable = false)
  override protected def stringArgs: Iterator[Any] = (children ++ params).iterator
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): NativeCall =
    copy(children = newChildren)
}

/** Every native scalar kernel. `GraftFunctionSet` registers each under its
  * SQL name; `SketchFunctions`, `ExtractFunctions` and `BloomFunctions` are
  * DataFrame handles over the same entries. */
object Natives {
  private val Sketch = SketchKernel.getClass
  private val Extract = ExtractKernel.getClass
  private val Bloom = BloomKernel.getClass

  private def widthAtLeast1(name: String)(ints: Seq[Int]): Unit =
    require(ints.head >= 1, s"$name needs w >= 1, got ${ints.head}")

  private def struct(fields: (String, DataType, Boolean)*): StructType =
    StructType(fields.map { case (n, t, nullable) => StructField(n, t, nullable) })
  private val Longs = ArrayType(LongType, containsNull = false)

  val simhash64 = NativeFn("simhash64", Sketch, "simhash", LongType, Seq(StringType))
  val simhashMd5 = NativeFn("simhash_md5", Sketch, "simhashMd5", LongType, Seq(StringType))
  val minhashSig = NativeFn("minhash_sig", Sketch, "minhashSignature", Longs, Seq(StringType), 2)
  val minhashSigFromHashes = NativeFn("minhash_sig_from_hashes", Sketch, "minhashSigFromHashes",
    Longs, Seq(ArrayType(LongType)), 1)
  val shingleHashes = NativeFn("shingle_hashes", Sketch, "shingleHashes", Longs, Seq(StringType), 1)
  val fingerprint64 = NativeFn("fingerprint64", Sketch, "fingerprint64", LongType, Seq(StringType))
  val fingerprintMd5 = NativeFn("fingerprint_md5", Sketch, "fingerprintMd5", StringType, Seq(StringType))
  val tokenChunks = NativeFn("token_chunks", Sketch, "tokenChunksData",
    ArrayType(struct(("chunk_idx", IntegerType, false), ("chunk", StringType, false)), containsNull = false),
    Seq(StringType), 2, { case Seq(size, stride) =>
      require(size > 0 && stride > 0 && stride <= size,
        s"token_chunks needs 0 < stride <= size, got size=$size stride=$stride")
    })
  val dedupLines = NativeFn("dedup_lines", Sketch, "dedupLines", StringType, Seq(StringType))
  val dedupSpans = NativeFn("dedup_spans", Sketch, "dedupSpans", StringType, Seq(StringType), 1,
    widthAtLeast1("dedup_spans"))
  val exciseSpans = NativeFn("excise_spans", Sketch, "exciseSpans",
    struct(("n_tokens", LongType, false), ("n_kept", LongType, false), ("clean", StringType, true)),
    Seq(StringType, ArrayType(IntegerType)), 1, widthAtLeast1("excise_spans"))
  val tokenTf = NativeFn("token_tf", Sketch, "tokenTfData",
    ArrayType(struct(("token", StringType, false), ("tf", LongType, false)), containsNull = false),
    Seq(StringType))
  val bpeEstimate = NativeFn("bpe_estimate", Sketch, "bpeEstimate", LongType, Seq(StringType))
  val qualityScore = NativeFn("quality_score", Sketch, "qualityScore", DoubleType, Seq(StringType))
  val dotInt = NativeFn("dot_int", Sketch, "dotInt", LongType,
    Seq(ArrayType(IntegerType), ArrayType(IntegerType)))
  val jaccardSim = NativeFn("jaccard_sim", Sketch, "jaccardSim", DoubleType,
    Seq(ArrayType(LongType), ArrayType(LongType)))

  val pdfText = NativeFn("pdf_text", Extract, "pdfText", BinaryType, Seq(BinaryType))
  val htmlText = NativeFn("html_text", Extract, "htmlText", BinaryType, Seq(BinaryType))
  val graftText = NativeFn("graft_text", Extract, "graftText", BinaryType, Seq(StringType, BinaryType))
  val htmlLinks = NativeFn("html_links", Extract, "htmlLinks",
    ArrayType(StringType, containsNull = false), Seq(StringType, BinaryType))
  val htmlAnchors = NativeFn("html_anchors", Extract, "htmlAnchors",
    ArrayType(struct(("dst", StringType, false), ("anchor", StringType, false)), containsNull = false),
    Seq(StringType, BinaryType))

  val bloomMightContain = NativeFn("bloom_might_contain", Bloom, "mightContain", BooleanType,
    Seq(BinaryType, StringType))
  val bloomShingleHits = NativeFn("bloom_shingle_hits", Bloom, "bloomShingleHits",
    struct(("n_shingles", IntegerType, false), ("hits", ArrayType(StringType, containsNull = false), false)),
    Seq(StringType, BinaryType), 1, widthAtLeast1("bloom_shingle_hits"))

  val all: Seq[NativeFn] = Seq(simhash64, simhashMd5, minhashSig, minhashSigFromHashes,
    shingleHashes, fingerprint64, fingerprintMd5, tokenChunks, dedupLines, dedupSpans,
    exciseSpans, tokenTf, bpeEstimate, qualityScore, dotInt, jaccardSim,
    pdfText, htmlText, graftText, htmlLinks, htmlAnchors, bloomMightContain, bloomShingleHits)
}
