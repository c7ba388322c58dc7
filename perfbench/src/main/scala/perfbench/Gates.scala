package perfbench

import Gen.{CorpusTruth, PuTruth, RetrieveTruth}

/** Correctness gates: each checks a workload's collected output against
  * the generator's truth. Pure functions of (truth, output), so a test can
  * corrupt either side. A failed gate is a failed op; no gate is skipped. */
object Gates {

  /** One checked property; `value` is the measured ratio behind it. */
  case class Check(name: String, value: Double, ok: Boolean, detail: String)

  private def atLeast(name: String, value: Double, min: Double): Check =
    Check(name, value, value >= min, f"$name=$value%.4f (min $min)")

  // ---- pu_weight ------------------------------------------------------

  val MinPuAuc = 0.85

  /** Rank AUC of the hidden positives against the true negatives, both
    * taken from the unlabeled rows (ties count half). */
  def hiddenPositiveAuc(truth: PuTruth, scores: Array[(Long, Double)]): Double = {
    val unlabeled = scores.filter { case (id, _) => !truth.labeled(id.toInt) }
      .sortBy(_._2)
    var rankSumPos = 0.0
    var nPos, nNeg = 0L
    var i = 0
    while (i < unlabeled.length) {
      var j = i
      while (j < unlabeled.length && unlabeled(j)._2 == unlabeled(i)._2) j += 1
      val avgRank = (i + j + 1) / 2.0 // 1-based ranks i+1..j
      for (k <- i until j) {
        if (truth.positive(unlabeled(k)._1.toInt)) { rankSumPos += avgRank; nPos += 1 }
        else nNeg += 1
      }
      i = j
    }
    if (nPos == 0 || nNeg == 0) 0.0
    else (rankSumPos - nPos * (nPos + 1) / 2.0) / (nPos.toDouble * nNeg)
  }

  def pu(learner: String, truth: PuTruth, scores: Array[(Long, Double)]): Seq[Check] = {
    val ids = scores.map(_._1)
    Seq(
      Check(s"$learner.rows", ids.length,
        ids.length == truth.positive.length && ids.distinct.length == ids.length,
        s"$learner scored ${ids.length} distinct-id rows of ${truth.positive.length}"),
      atLeast(s"$learner.auc", hiddenPositiveAuc(truth, scores), MinPuAuc))
  }

  // ---- curate_corpus --------------------------------------------------

  val MinDupPrecision = 0.98
  val MinDupRecall = 0.95

  /** `packed`: (doc_id, packed tokens, spans) for every surviving doc. */
  def curate(truth: CorpusTruth, packed: Array[(Long, Long, Long)]): Seq[Check] = {
    val survivors = packed.map(_._1).toSet
    val removed = (0L until truth.docs).filterNot(survivors).toSet
    val explained = (truth.lowQuality ++ truth.eval ++ truth.contaminated).toSet
    val copies = truth.copies.toSet
    val dupRemoved = removed -- explained
    val hit = (copies intersect removed).size
    val precision = if (dupRemoved.isEmpty) 0.0 else (copies intersect dupRemoved).size.toDouble / dupRemoved.size
    val recall = if (copies.isEmpty) 0.0 else hit.toDouble / copies.size
    def none(name: String, ids: Array[Long]): Check = {
      val left = ids.count(survivors)
      Check(name, 1.0 - left.toDouble / math.max(1, ids.length), left == 0,
        s"$left of ${ids.length} $name docs survived")
    }
    val originalsKept = truth.dupClusters.count(c => survivors(c.head))
    val badPack = packed.filter { case (id, toks, spans) =>
      id < 0 || id >= truth.docs || toks != truth.tokens(id.toInt) || spans < 1 }
    Seq(
      atLeast("dup_precision", precision, MinDupPrecision),
      atLeast("dup_recall", recall, MinDupRecall),
      Check("dup_originals_kept", originalsKept.toDouble / math.max(1, truth.dupClusters.length),
        originalsKept == truth.dupClusters.length,
        s"$originalsKept of ${truth.dupClusters.length} cluster originals survived"),
      none("contaminated", truth.contaminated),
      none("low_quality", truth.lowQuality),
      none("eval", truth.eval),
      Check("pack_tokens", 1.0 - badPack.length.toDouble / math.max(1, packed.length),
        packed.nonEmpty && badPack.isEmpty,
        s"${badPack.length} of ${packed.length} survivors packed a wrong token count"))
  }

  // ---- retrieve_mixed -------------------------------------------------

  val MinRecallAt10 = 0.85
  /** Exact search against exact truth: only a float tie at rank 10 may differ. */
  val MinExactRecall = 0.99

  /** Mean share of each query's true top-10 found in `got`'s top-10. */
  def recallAt10(expected: Map[Long, Seq[Long]], got: Map[Long, Seq[Long]]): Double =
    if (expected.isEmpty) 0.0
    else expected.map { case (q, ids) =>
      (ids.take(10).toSet intersect got.getOrElse(q, Nil).take(10).toSet).size / 10.0
    }.sum / expected.size

  def retrieve(truth: RetrieveTruth, bruteForce: Map[Long, Seq[Long]],
               ivf: Map[Long, Seq[Long]]): Seq[Check] = {
    val exact = truth.sampleIds.zip(truth.top10.map(_.toSeq)).toMap
    Seq(
      atLeast("brute_force_recall", recallAt10(exact, bruteForce), MinExactRecall),
      atLeast("recall_at_10", recallAt10(bruteForce, ivf), MinRecallAt10))
  }
}
