package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, XXH64}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.unsafe.types.UTF8String

/** Mergeable Bloom filter over a string key column — the broadcastable
  * membership sketch that makes "does this shingle appear in the benchmark
  * set?" a MAP-SIDE question at crawl scale.
  *
  * Why it earns its place next to the exact semi-join: an exact benchmark
  * shingle set costs 32 bytes per distinct md5 hex; at 10^9 shingles that
  * is ~32 GB — far past any broadcast threshold, forcing the confirm join
  * to shuffle EVERY corpus shingle occurrence. The same set at 10 bits per
  * element is ~1.2 GB of filter: it rides the (per-stage, broadcast) task
  * binary to every executor, the probe drops ~99% of corpus shingles where
  * they were produced, and only probable hits (true matches + the bounded
  * false-positive trickle) reach the exact confirm join — shuffle volume
  * proportional to the CONTAMINATION, not the corpus. False negatives are
  * impossible by construction, so prefilter + exact confirm returns
  * results IDENTICAL to the exact operator (q69 oracles this).
  *
  * Determinism: double hashing (Kirsch-Mitzenmacher) over two fixed-seed
  * XXH64 hashes of the key bytes; insertion is bit-OR, merge is byte-OR —
  * commutative, associative, idempotent — so the built filter is
  * bit-identical under any partitioning or merge order (BloomFilterSpec
  * asserts this), and every probe is reproducible across runs and JVMs.
  *
  * Serialized layout (also the aggregate's output value): 4 bytes k
  * (big-endian int), 4 bytes numBits (big-endian int), then numBits/8
  * filter bytes. Self-describing, so a probe needs no out-of-band params.
  */
object BloomKernel {
  private val Seed1 = 42L // the sketch-kernel seed discipline
  private val Seed2 = 0x9e3779b97f4a7c15L // golden-ratio odd constant

  private[functions] val HeaderBytes = 8

  @inline private def h1(base: AnyRef, offset: Long, len: Int): Long =
    XXH64.hashUnsafeBytes(base, offset, len, Seed1)
  @inline private def h2(base: AnyRef, offset: Long, len: Int): Long =
    XXH64.hashUnsafeBytes(base, offset, len, Seed2)

  /** Set the k double-hashed bits for one key (build side). */
  def insert(bits: Array[Byte], numBits: Int, k: Int, s: UTF8String): Unit = {
    var h = h1(s.getBaseObject, s.getBaseOffset, s.numBytes)
    val step = h2(s.getBaseObject, s.getBaseOffset, s.numBytes)
    var i = 0
    while (i < k) {
      val bit = java.lang.Long.remainderUnsigned(h, numBits.toLong).toInt
      bits(bit >>> 3) = (bits(bit >>> 3) | (1 << (bit & 7))).toByte
      h += step
      i += 1
    }
  }

  @inline private def probeBits(ser: Array[Byte], numBits: Int, k: Int,
                                hh1: Long, step: Long): Boolean = {
    var h = hh1
    var i = 0
    while (i < k) {
      val bit = java.lang.Long.remainderUnsigned(h, numBits.toLong).toInt
      if ((ser(HeaderBytes + (bit >>> 3)) & (1 << (bit & 7))) == 0) return false
      h += step
      i += 1
    }
    true
  }

  @inline private def readInt(b: Array[Byte], off: Int): Int =
    ((b(off) & 0xff) << 24) | ((b(off + 1) & 0xff) << 16) |
      ((b(off + 2) & 0xff) << 8) | (b(off + 3) & 0xff)

  private[functions] def writeHeader(b: Array[Byte], k: Int, numBits: Int): Unit = {
    b(0) = (k >>> 24).toByte; b(1) = (k >>> 16).toByte
    b(2) = (k >>> 8).toByte; b(3) = k.toByte
    b(4) = (numBits >>> 24).toByte; b(5) = (numBits >>> 16).toByte
    b(6) = (numBits >>> 8).toByte; b(7) = numBits.toByte
  }

  /** Probe a SERIALIZED filter with a string key. */
  def mightContain(ser: Array[Byte], s: UTF8String): Boolean = {
    val k = readInt(ser, 0)
    val numBits = readInt(ser, 4)
    probeBits(ser, numBits, k,
      h1(s.getBaseObject, s.getBaseOffset, s.numBytes),
      h2(s.getBaseObject, s.getBaseOffset, s.numBytes))
  }

  /** One-pass per-document shingle scan against a serialized filter:
    * counts the document's DISTINCT full-width w-token shingle md5s
    * (single-space split, empties kept — SketchKernel.tokenStarts
    * semantics, identical to `token_chunks` + the full-width predicate)
    * and returns struct(n_shingles:int, hits:array<string>) where `hits`
    * is the subset of distinct md5 hexes the filter might contain, in
    * first-occurrence order. The map-side half of bloom-prefiltered
    * decontamination: text is tokenized and hashed exactly ONCE, and the
    * only thing that leaves the row is the (tiny) probable-hit list plus
    * one int. */
  def bloomShingleHits(s: UTF8String, ser: Array[Byte], w: Int): InternalRow = {
    val k = readInt(ser, 0)
    val numBits = readInt(ser, 4)
    val starts = SketchKernel.tokenStarts(s)
    val nTokens = starts.length - 1
    val bytes = s.getBytes
    val md = SketchKernel.md5Local.get()
    val seen = new java.util.HashSet[UTF8String]()
    val hits = new scala.collection.mutable.ArrayBuffer[Any]()
    var j = 0
    while (j + w <= nTokens) {
      val from = starts(j)
      val until = starts(j + w) - 1 // end before the separator
      md.reset()
      md.update(bytes, from, until - from)
      val hex = UTF8String.fromBytes(SketchKernel.toHex(md.digest()))
      if (seen.add(hex) &&
          probeBits(ser, numBits, k,
            h1(hex.getBaseObject, hex.getBaseOffset, hex.numBytes),
            h2(hex.getBaseObject, hex.getBaseOffset, hex.numBytes))) {
        hits += hex
      }
      j += 1
    }
    new GenericInternalRow(Array[Any](seen.size, new GenericArrayData(hits.toArray)))
  }
}

/** `bloom_build(item, numBits, k)` ([[Natives.bloomBuild]]): aggregate a
  * string column into a serialized Bloom filter (binary). numBits must be a
  * positive multiple of 8 (<= 2^30, i.e. 128 MB of filter); k the number of
  * probe bits per key (1..32). Merge is byte-OR, so the result is
  * bit-identical under any partitioning — and duplicates are free
  * (idempotent insert). The buffer is the raw bit array plus its shape. */
final class BloomAggBuffer(val numBits: Int, val k: Int) extends Sketch {
  val bits = new Array[Byte](numBits >>> 3)

  def insert(row: Array[Any]): Unit = BloomKernel.insert(bits, numBits, k, row(0).asInstanceOf[UTF8String])

  def merge(other: Sketch): Unit = {
    val o = other.asInstanceOf[BloomAggBuffer].bits
    var i = 0
    while (i < bits.length) { bits(i) = (bits(i) | o(i)).toByte; i += 1 }
  }

  /** The serialized filter [[BloomKernel]] probes. */
  def result: Any = bytes

  def bytes: Array[Byte] = {
    val out = new Array[Byte](BloomKernel.HeaderBytes + bits.length)
    BloomKernel.writeHeader(out, k, numBits)
    System.arraycopy(bits, 0, out, BloomKernel.HeaderBytes, bits.length)
    out
  }
}

object BloomAggBuffer {
  def fromBytes(numBits: Int, k: Int, bytes: Array[Byte]): BloomAggBuffer = {
    val buf = new BloomAggBuffer(numBits, k)
    System.arraycopy(bytes, BloomKernel.HeaderBytes, buf.bits, 0, buf.bits.length)
    buf
  }
}

object BloomFunctions {
  /** The filter-size cap: 2^30 bits (128 MB), the largest filter that
    * is collected as one row. */
  private val MaxBits: Long = 1L << 30

  /** numBits for an expected key count at a bits-per-key budget: the
    * product rounded up to a multiple of 64, at least 64. */
  private def roundedBits(expectedKeys: Long, bitsPerKey: Int): Long =
    ((math.max(64L, expectedKeys * bitsPerKey.toLong) + 63L) / 64L) * 64L

  /** Whether a filter of `expectedKeys` keys at `bitsPerKey` fits
    * [[MaxBits]] — the same arithmetic [[shape]] enforces, so a caller can
    * choose a plan without catching its failure. */
  def fits(expectedKeys: Long, bitsPerKey: Int): Boolean =
    roundedBits(expectedKeys, bitsPerKey) <= MaxBits

  /** Filter shape for an expected key count at a bits-per-key budget:
    * (numBits rounded up to a multiple of 64, the FP-optimal k =
    * round(bits/key * ln 2), clamped into bloom_build's accepted 1..32 —
    * above 46 bits/key the optimum exceeds 32, where extra probes buy
    * nothing measurable anyway). */
  def shape(expectedKeys: Long, bitsPerKey: Int): (Int, Int) = {
    require(expectedKeys >= 0, s"expectedKeys must be >= 0, got $expectedKeys")
    require(bitsPerKey >= 1 && bitsPerKey <= 64,
      s"bitsPerKey must be in 1..64, got $bitsPerKey")
    val rounded = roundedBits(expectedKeys, bitsPerKey)
    require(fits(expectedKeys, bitsPerKey),
      s"bloom filter of $expectedKeys keys at $bitsPerKey bits/key needs " +
        s"$rounded bits > 2^30 cap (${MaxBits / 8 / 1024 / 1024} MB); " +
        "lower bitsPerKey or partition the key set")
    (rounded.toInt,
      math.min(32, math.max(1, math.round(bitsPerKey * math.log(2)).toInt)))
  }
}
