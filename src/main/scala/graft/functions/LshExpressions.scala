package graft.functions

import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}

/** Native random-hyperplane LSH signatures (`hyperplane_sigs`,
  * [[Natives.hyperplaneSigs]]).
  *
  * Computes the identical values to the declarative formulation in the
  * test reference graft.operators.SimilarityReference (src/test;
  * coeff(plane, dim) = pmod(xxhash64(plane, dim), 1e5)/1e5 - 0.5 over int
  * children, ordered double fold, bit p of table t set iff
  * dot(vec, plane_{t*nBits+p}) >= 0 — asserted in LshExpressionsSpec), but
  * in a tight JIT'd loop over a per-(shape) memoized coefficient matrix
  * instead of nTables x nBits x dim interpreted expression evaluations per
  * row.
  */
object LshKernel {
  private val Seed = 42L
  private val cache = new java.util.concurrent.ConcurrentHashMap[(Int, Int, Int), Array[Array[Double]]]

  /** coeffs(plane)(dim): deterministic on every JVM — xxhash64 of the two
    * int literals exactly as the builtin xxhash64(plane, dim) folds them.
    * The memo is bounded: a corpus with ragged vector lengths would
    * otherwise retain one matrix per distinct dim for the JVM's lifetime
    * (values are pure functions of the key, so wholesale eviction is
    * harmless — the next caller recomputes). */
  def coeffs(nBits: Int, nTables: Int, dim: Int): Array[Array[Double]] = {
    if (cache.size > 64) cache.clear()
    cache.computeIfAbsent((nBits, nTables, dim), _ => {
      val nPlanes = nBits * nTables
      Array.tabulate(nPlanes, dim) { (plane, d) =>
        val h = XXH64.hashInt(d, XXH64.hashInt(plane, Seed))
        ((h % 100000L + 100000L) % 100000L).toDouble / 100000.0 - 0.5
      }
    })
  }

  /** The nTables independent nBits-bit signatures of a double vector as
    * one array (float vectors are widened exactly before the call;
    * posexplode to (table_idx, bucket)): bit p of table t is the sign of
    * dot(vec, plane_{t*nBits+p}), so buckets collide for nearby directions
    * (Charikar's cosine LSH; the multi-table scheme is the standard E2LSH
    * construction: L independent tables, union of candidates). A null
    * element nulls every plane's dot product in the declarative form, and
    * `when(null >= 0, bit).otherwise(0)` zeroes every bit — so the whole
    * signature set collapses to 0L, replicated here. */
  def signatures(vec: ArrayData, nBits: Int, nTables: Int): ArrayData = {
    val dim = vec.numElements()
    val v = new Array[Double](dim)
    var d = 0
    while (d < dim) {
      if (vec.isNullAt(d)) return new GenericArrayData(new Array[Long](nTables)) // all-zero
      v(d) = vec.getDouble(d)
      d += 1
    }
    val cs = coeffs(nBits, nTables, dim)
    val out = new Array[Long](nTables)
    var t = 0
    while (t < nTables) {
      var sig = 0L
      var p = 0
      while (p < nBits) {
        val c = cs(t * nBits + p)
        var dot = 0.0
        var i = 0
        while (i < dim) { dot += v(i) * c(i); i += 1 }
        if (dot >= 0) sig += (1L << p)
        p += 1
      }
      out(t) = sig
      t += 1
    }
    new GenericArrayData(out)
  }
}

object CosineKernel {
  /** `cosine_sim` ([[Natives.cosineSim]]) over two double vectors (float
    * vectors are widened exactly before the call):
    * cosine = dot(a,b) / (sqrt(dot(a,a)) * sqrt(dot(b,b))), every dot an
    * ordered double-precision left fold — bit-identical to the declarative
    * zip_with/aggregate formulation AND to DuckDB's list_dot_product over
    * DOUBLE[] (the oracle contract). Returns null (boxed) exactly where the
    * declarative form does: ragged lengths (zip_with pads with null) or a
    * null element — so a corrupt embedding row can never sneak a truncated
    * cosine past a >= threshold predicate. */
  def cosine(a: ArrayData, b: ArrayData): java.lang.Double = {
    val n = a.numElements()
    if (b.numElements() != n) return null
    var dot = 0.0
    var na = 0.0
    var nb = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val x = a.getDouble(i)
      val y = b.getDouble(i)
      dot += x * y
      na += x * x
      nb += y * y
      i += 1
    }
    java.lang.Double.valueOf(dot / (math.sqrt(na) * math.sqrt(nb)))
  }
}
