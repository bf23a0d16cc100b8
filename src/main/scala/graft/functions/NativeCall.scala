package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Cast, ExpectsInputTypes, Expression, Literal, RuntimeReplaceable}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.graftbridge.ColumnBridge.InputType
import org.apache.spark.sql.types._

/** What every native function declares, scalar or aggregate: its SQL
  * `name`, one column argument per `inputTypes` entry, then integer literal
  * parameters of `paramTypes` (`IntegerType` or `LongType`), which the
  * entry's `check` validates when the expression is built (bad SQL literals
  * fail analysis, not the job). */
sealed trait Native {
  def name: String
  def inputTypes: Seq[DataType]
  def paramTypes: Seq[DataType]
  protected def make(cols: Seq[Expression], params: Seq[Long]): Expression

  /** Fails, naming the entry, unless there is one column per `inputTypes`
    * entry and one literal per `paramTypes` entry. */
  protected def checkArity(nCols: Int, nParams: Int): Unit = {
    val (n, p) = (inputTypes.length, paramTypes.length)
    require(nCols + nParams == n + p, s"$name expects ${n + p} argument(s), got ${nCols + nParams}")
    require(nCols == n,
      s"$name expects $n column(s) and $p literal parameter(s), got $nCols and $nParams")
  }

  /** The SQL builder: the column arguments, then the integer literals. */
  def build(args: Seq[Expression]): Expression = {
    val n = inputTypes.length
    checkArity(n, args.length - n)
    make(args.take(n), args.drop(n).zip(paramTypes).map {
      case (Literal(v: Int, IntegerType), _) => v.toLong
      case (Literal(v: Long, LongType), LongType) => v
      case (other, t) => throw new IllegalArgumentException(
        s"$name expects a literal ${t.sql} parameter, got $other")
    })
  }
}

/** One native scalar kernel, declared once: computed by the static method
  * `kernel.method(columns..., ints...)` with `nInts` int parameters. The
  * method returns Catalyst values (`ArrayData`, `InternalRow`,
  * `UTF8String`, primitives) of `dataType`; a non-null input row gives a
  * non-null result unless the entry is `nullable` (the method then returns
  * a boxed value or null). Each column must have its `inputTypes` type or,
  * when the entry lists `widenedFrom` types, one of those, which analysis
  * accepts and the kernel call casts to `inputTypes`; any other type fails
  * analysis. */
final case class NativeFn(name: String, kernel: Class[_], method: String,
    dataType: DataType, inputTypes: Seq[DataType], nInts: Int = 0,
    check: Seq[Int] => Unit = _ => (), nullable: Boolean = false,
    widenedFrom: Seq[DataType] = Nil) extends Native {

  def paramTypes: Seq[DataType] = Seq.fill(nInts)(IntegerType)

  def expr(cols: Seq[Expression], ints: Seq[Int]): Expression = {
    check(ints)
    NativeCall(this, cols, ints)
  }

  protected def make(cols: Seq[Expression], params: Seq[Long]): Expression =
    expr(cols, params.map(_.toInt))

  /** The DataFrame-API call: the columns, then the int parameters. */
  def apply(cols: Seq[Column], ints: Int*): Column = {
    checkArity(cols.length, ints.length)
    ColumnBridge.column(expr(cols.map(ColumnBridge.expression), ints))
  }
}

/** The expression every [[NativeFn]] builds. It is replaced before
  * execution by a `StaticInvoke` of the kernel method, which Spark runs
  * through reflection when interpreted and as a direct static call inside
  * whole-stage codegen, so the two paths call the same method. Null in
  * gives null out (`propagateNull`). */
case class NativeCall(fn: NativeFn, children: Seq[Expression], params: Seq[Int])
  extends RuntimeReplaceable with ExpectsInputTypes {
  override def prettyName: String = fn.name
  override def dataType: DataType = fn.dataType
  override def inputTypes: Seq[InputType] =
    if (fn.widenedFrom.isEmpty) fn.inputTypes
    else fn.inputTypes.map(t => ColumnBridge.anyOf(t +: fn.widenedFrom: _*))
  override lazy val replacement: Expression = {
    val args =
      if (fn.widenedFrom.isEmpty) children
      else children.zip(fn.inputTypes).map { case (c, t) => Cast(c, t) }
    StaticInvoke(fn.kernel, fn.dataType, fn.method, args ++ params.map(Literal(_)),
      propagateNull = true, returnNullable = fn.nullable)
  }
  override protected def stringArgs: Iterator[Any] = (children ++ params).iterator
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): NativeCall =
    copy(children = newChildren)
}

/** The per-group state of a [[NativeAgg]]: fed input rows, merged with
  * other partial states of the same entry, read once as the result, and
  * carried across the exchange as `bytes`. */
trait Sketch {
  /** Adds one row; `row(i)` is the Catalyst value of the i-th input,
    * never null. */
  def insert(row: Array[Any]): Unit
  def merge(other: Sketch): Unit
  /** The aggregate's value, of its entry's `dataType`. */
  def result: Any
  def bytes: Array[Byte]
}

/** One native aggregate, declared once: `empty(params)` starts a group's
  * [[Sketch]], `fromBytes(params, bytes)` reads back one that `Sketch.bytes`
  * wrote, and `dataType(params)` is the type of `Sketch.result`. A row with
  * a null input is skipped; the result is never null. An entry ships to
  * executors inside its aggregate, so its input types are plain `DataType`s,
  * which serialize (a `TypeCollection` does not). */
final case class NativeAgg(name: String, inputTypes: Seq[DataType],
    paramTypes: Seq[DataType], dataType: Seq[Long] => DataType, check: Seq[Long] => Unit,
    empty: Seq[Long] => Sketch, fromBytes: (Seq[Long], Array[Byte]) => Sketch) extends Native {

  def expr(cols: Seq[Expression], params: Seq[Long]): NativeAggCall = {
    check(params)
    NativeAggCall(this, cols, params)
  }

  protected def make(cols: Seq[Expression], params: Seq[Long]): Expression = expr(cols, params)

  /** The DataFrame-API call: the columns, then the parameters. */
  def apply(cols: Seq[Column], params: Long*): Column = {
    checkArity(cols.length, params.length)
    ColumnBridge.column(expr(cols.map(ColumnBridge.expression), params).toAggregateExpression())
  }
}

/** The aggregate every [[NativeAgg]] builds. */
case class NativeAggCall(fn: NativeAgg, children: Seq[Expression], params: Seq[Long],
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Sketch] with ExpectsInputTypes {
  override def prettyName: String = fn.name
  override def dataType: DataType = fn.dataType(params)
  override def nullable: Boolean = false
  override def inputTypes: Seq[InputType] = fn.inputTypes

  // the children are evaluated into one reused row
  @transient private lazy val inputs = children.toArray
  @transient private lazy val row = new Array[Any](inputs.length)

  override def createAggregationBuffer(): Sketch = fn.empty(params)

  override def update(buffer: Sketch, input: InternalRow): Sketch = {
    var i = 0
    while (i < inputs.length) {
      row(i) = inputs(i).eval(input)
      if (row(i) == null) return buffer
      i += 1
    }
    buffer.insert(row)
    buffer
  }

  override def merge(buffer: Sketch, other: Sketch): Sketch = {
    buffer.merge(other)
    buffer
  }

  override def eval(buffer: Sketch): Any = buffer.result
  override def serialize(buffer: Sketch): Array[Byte] = buffer.bytes
  override def deserialize(bytes: Array[Byte]): Sketch = fn.fromBytes(params, bytes)

  override def withNewMutableAggBufferOffset(newOffset: Int): NativeAggCall =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): NativeAggCall =
    copy(inputAggBufferOffset = newOffset)
  override protected def stringArgs: Iterator[Any] = (children ++ params).iterator
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): NativeAggCall =
    copy(children = newChildren)
}

/** Every native function: the scalar kernels and the aggregates, each
  * declared once. `GraftFunctionSet` registers each under its SQL name, and
  * Scala code calls the entry itself: `Natives.minhashSig(Seq(c), 3, 16)`,
  * the columns then the literal parameters, whose counts are checked when
  * the call is built. */
object Natives {
  private val Sketch = SketchKernel.getClass
  private val Extract = ExtractKernel.getClass
  private val Bloom = BloomKernel.getClass
  private val Lsh = LshKernel.getClass
  private val Cosine = CosineKernel.getClass

  private def widthAtLeast1(name: String)(ints: Seq[Int]): Unit =
    require(ints.head >= 1, s"$name needs w >= 1, got ${ints.head}")

  private def struct(fields: (String, DataType, Boolean)*): StructType =
    StructType(fields.map { case (n, t, nullable) => StructField(n, t, nullable) })
  private val Longs = ArrayType(LongType, containsNull = false)
  private val Doubles = ArrayType(DoubleType)

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
  /** The composite [0,1] quality score: the one definition behind
    * `TextAnalysis.qualityColumns` (q15), Curate's gate and the q38/q50 oracles. */
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

  // float vectors widen to double exactly, so the kernels read one element type
  private val Floats = Seq(ArrayType(FloatType))
  val cosineSim = NativeFn("cosine_sim", Cosine, "cosine", DoubleType, Seq(Doubles, Doubles),
    nullable = true, widenedFrom = Floats)
  val hyperplaneSigs = NativeFn("hyperplane_sigs", Lsh, "signatures", Longs, Seq(Doubles), 2,
    widenedFrom = Floats)

  val scalars: Seq[NativeFn] = Seq(simhash64, simhashMd5, minhashSig, minhashSigFromHashes,
    shingleHashes, fingerprint64, fingerprintMd5, tokenChunks, dedupLines, dedupSpans,
    exciseSpans, tokenTf, bpeEstimate, qualityScore, dotInt, jaccardSim,
    pdfText, htmlText, graftText, htmlLinks, htmlAnchors, bloomMightContain, bloomShingleHits,
    cosineSim, hyperplaneSigs)

  private def kIn(name: String, lo: Long, hi: Long, label: String)(params: Seq[Long]): Unit =
    require(params.head >= lo && params.head <= hi,
      s"$name requires $label, got ${params.head}")

  val misraGries = NativeAgg("misra_gries", Seq(StringType), Seq(IntegerType),
    _ => MgBuffer.ResultType, kIn("misra_gries", 1, 1 << 22, "0 < k <= 2^22"),
    p => new MgBuffer(p.head.toInt), (p, b) => MgBuffer.fromBytes(p.head.toInt, b))
  val topKByScore = NativeAgg("topk_by_score", Seq(DoubleType, LongType), Seq(IntegerType),
    _ => TopKBuffer.ResultType, kIn("topk_by_score", 1, Int.MaxValue, "k > 0"),
    p => new TopKBuffer(p.head.toInt), (p, b) => TopKBuffer.fromBytes(p.head.toInt, b))
  val bloomBuild = NativeAgg("bloom_build", Seq(StringType), Seq(IntegerType, IntegerType),
    _ => BinaryType, { case Seq(numBits, k) =>
      require(numBits >= 8 && numBits % 8 == 0 && numBits <= (1 << 30),
        s"bloom_build requires 8 <= numBits <= 2^30, multiple of 8; got $numBits")
      require(k >= 1 && k <= 32, s"bloom_build requires 1 <= k <= 32, got $k")
    },
    p => new BloomAggBuffer(p(0).toInt, p(1).toInt),
    (p, b) => BloomAggBuffer.fromBytes(p(0).toInt, p(1).toInt, b))

  val aggregates: Seq[NativeAgg] = Seq(misraGries, topKByScore, bloomBuild)
}
