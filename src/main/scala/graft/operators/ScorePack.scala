package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.exec.Exec

/** ONE definition of the (score, id) -> single-long packing that turns
  * "best score, ties to smallest id" into a plain max aggregate — shared
  * by [[WebCuration.capPerDomain]] (top-k) and
  * [[Dedup.clusterRepresentatives]] (arg-max) so encode, decode, and the
  * range guard cannot drift apart.
  *
  * `packed = score * 2^21 + (2^21 - 1 - id)`: score occupies the high
  * bits (52 total — exactly representable in the DOUBLE the topk_by_score
  * sketch orders by), the complemented id breaks ties DOWNWARD, so
  * max(packed) is "highest score, then smallest id" in one map-side
  * combinable aggregate — never a per-group window. The same arithmetic
  * replays verbatim in any SQL engine (q62/q66 oracles). */
private[graft] object ScorePack {
  val MaxId: Long = 1L << 21
  val MaxScore: Long = 1L << 31

  /** Range guard: raise_error (naming `op`) unless 0 <= id < 2^21 and
    * 0 <= score < 2^31 — out-of-range values would silently corrupt the
    * packing, so they fail loudly on the first offending row. */
  def guarded(idCol: Column, scoreCol: Column, op: String): Column =
    Exec.check(idCol.isNotNull && idCol >= 0 && idCol < MaxId &&
        scoreCol.isNotNull && scoreCol >= 0 && scoreCol < MaxScore,
      lit(s"$op: id must be in [0, $MaxId) and score in [0, $MaxScore), got id="),
      Exec.shown(idCol), lit(" score="), Exec.shown(scoreCol))

  def pack(scoreCol: Column, idCol: Column): Column =
    scoreCol * MaxId + (lit(MaxId - 1) - idCol)

  def unpackScore(packed: Column): Column =
    floor(packed / MaxId).cast("long")
}
