package graft.functions

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator

/** Mergeable buffer for [[BoundedDocsAgg]]: `n` is the saturating
  * element count (stops at `maxKeep`), `docs` the kept ids (reverse
  * insertion order — callers use membership/size only).
  */
final case class BoundedDocsBuf(n: Long, docs: List[Long])

/** Size-bounded `collect_list` for group-then-cap patterns: keeps at
  * most `maxKeep` ids per group, so a ubiquitous key (a stop-phrase
  * shingle in half the corpus) costs ONE bounded buffer instead of a
  * group-sized array — the aggregation-side twin of
  * [[graft.operators.Dedup]]'s doc-frequency caps, which need to know
  * only "did this group exceed the cap", never the full hot group.
  *
  * Exactness contract: truncation can only occur once a buffer already
  * holds `maxKeep` elements, so any finished group with FEWER than
  * `maxKeep` elements was never truncated and is the complete exact
  * set. Callers drop groups of size >= maxKeep (= cap + 1), keeping
  * only provably-complete groups. List prepend keeps reduce O(1); the
  * merge moves at most `maxKeep` elements.
  *
  * Registered via `functions.udaf` (the [[TypeStatsAgg]] pattern) so it
  * participates in hash aggregation with map-side partial merge.
  */
object BoundedDocsAgg {
  /** Buffer bound for a group cap of `cap`: cap + 1 (one extra element
    * marks "truncated"), clamped so the cap-disable idiom
    * `cap = Int.MaxValue` (the skew specs' pre-cap measurements)
    * stays a valid uncapped collector instead of overflowing to a
    * negative maxKeep and tripping the constructor require.
    */
  def keepFor(cap: Int): Int = {
    require(cap > 0, s"invalid cap=$cap")
    if (cap == Int.MaxValue) Int.MaxValue else cap + 1
  }
}

final class BoundedDocsAgg(maxKeep: Int)
    extends Aggregator[Long, BoundedDocsBuf, Array[Long]] {
  require(maxKeep > 0, s"invalid maxKeep=$maxKeep")

  override def zero: BoundedDocsBuf = BoundedDocsBuf(0L, Nil)

  override def reduce(b: BoundedDocsBuf, id: Long): BoundedDocsBuf =
    if (b.n >= maxKeep) b else BoundedDocsBuf(b.n + 1, id :: b.docs)

  override def merge(a: BoundedDocsBuf, b: BoundedDocsBuf): BoundedDocsBuf =
    if (a.n >= maxKeep) a
    else {
      val room = (maxKeep - a.n).toInt
      val taken = if (b.n <= room) b.docs else b.docs.take(room)
      BoundedDocsBuf(math.min(a.n + b.n, maxKeep.toLong), taken ::: a.docs)
    }

  override def finish(b: BoundedDocsBuf): Array[Long] = b.docs.toArray

  override def bufferEncoder: Encoder[BoundedDocsBuf] = Encoders.product[BoundedDocsBuf]
  override def outputEncoder: Encoder[Array[Long]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
}
