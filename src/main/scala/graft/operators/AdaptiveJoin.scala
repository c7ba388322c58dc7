package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.broadcast

/** The size-adaptive small-side join used everywhere a join's build side
  * is *duplicate-proportional* (ownership tables, boilerplate sets, near-dup
  * cluster maps): tiny on a clean corpus, but unbounded in the adversarial
  * direction — a duplicate- or boilerplate-heavy corpus can push it past any
  * broadcast budget, and a forced `broadcast()` hint would then OOM the
  * driver at exactly the scale that needs the degrade (the ADVICE-r11
  * mismatch class: a comment promising a degrade the hint makes impossible).
  *
  * The small side's exact row count picks the arm: broadcast while it
  * holds at most `maxRows` rows, shuffle-hash join on the keys beyond.
  * `small` MUST be materialized ([[graft.CheckpointUtil.materialize]]) by
  * the caller: the count is the one `materialize` observed in its store
  * job, read off the stored leaf, so the decision runs no job of its own,
  * and the join reads the stored rows instead of re-running the lineage
  * above them (LSH→CC, shingle-grain aggs), which is the expensive part.
  * The stored blocks are partition-spillable, never driver-resident.
  * Row-identical by construction — the join type and predicate are the
  * same either way, only the physical strategy moves — so the degrade can
  * never change results; each call site's spec pins both arms
  * (ParagraphHygieneSpec, SubstringDedupSpec, DedupSpec).
  */
private[graft] object AdaptiveJoin {

  /** One sanity ceiling for every call site: ~16-byte key pairs → ~160 MB
    * at 10M rows, the order of a sane broadcast (see
    * [[TrainingDataQueries.SpanOwnersExactMax]], which aliases this). */
  val DefaultMaxBroadcastRows: Long = 10L * 1000 * 1000

  def apply(big: DataFrame, small: DataFrame, keys: Seq[String],
      joinType: String, maxRows: Long): DataFrame = {
    val fits = graft.CheckpointUtil.measuredLeaf(small).stats.rowCount.exists(_ <= maxRows)
    if (fits) big.join(broadcast(small), keys, joinType)
    else big.join(small.hint("shuffle_hash"), keys, joinType)
  }
}
