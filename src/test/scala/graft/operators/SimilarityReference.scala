package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Test oracle: the interpreted higher-order-function formulations that the
  * native `cosine_sim` and `hyperplane_sigs` entries ([[graft.functions.Natives]])
  * must equal bit-for-bit (LshExpressionsSpec). Not used by any main code.
  */
object SimilarityReference {

  private def asDouble(a: Column): Column = a.cast("array<double>")

  /** dot(a, b): ordered left fold in double precision. */
  def dot(a: Column, b: Column): Column =
    aggregate(zip_with(asDouble(a), asDouble(b), (x, y) => x * y),
      lit(0.0d), (acc, v) => acc + v)

  def l2norm(a: Column): Column = sqrt(dot(a, a))

  /** The interpreted-HOF formulation `cosine_sim` is verified against. */
  def cosineDeclarative(a: Column, b: Column): Column =
    dot(a, b) / (l2norm(a) * l2norm(b))

  /** Deterministic pseudo-random hyperplane coefficient for (plane, dim):
    * xxhash64 folded to [-0.5, 0.5). Same value on every executor/JVM. */
  private def coeff(plane: Column, dim: Column): Column =
    (pmod(xxhash64(plane, dim), lit(100000L)).cast("double") / lit(100000.0d)) - lit(0.5d)

  /** nBits-bit random-hyperplane signature of a vector for hash table
    * `table`: bit p is the sign of dot(vec, plane_{table*nBits+p}). */
  def hyperplaneSignature(vec: Column, nBits: Int, table: Int = 0): Column =
    aggregate(
      transform(sequence(lit(0), lit(nBits - 1)), p => {
        val plane = p + lit(table * nBits)
        val d = aggregate(
          zip_with(asDouble(vec), sequence(lit(0), size(vec) - 1), (x, i) => x * coeff(plane, i)),
          lit(0.0d), (acc, v) => acc + v)
        when(d >= 0, call_function("shiftleft", lit(1L), p)).otherwise(lit(0L))
      }),
      lit(0L), (acc, x) => acc + x)

  /** The interpreted-HOF formulation `hyperplane_sigs` is verified against. */
  def signaturesDeclarative(vec: Column, nBits: Int, nTables: Int): Column =
    array((0 until nTables).map(t => hyperplaneSignature(vec, nBits, t)): _*)
}
