package perfbench

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite

/** Every gate passes on the output its truth describes and fails once the
  * truth is corrupted. */
class GatesSpec extends AnyFunSuite {

  private def allOk(cs: Seq[Gates.Check]) = cs.forall(_.ok)

  test("pu gate: perfect scores pass, a flipped hidden-positive set fails") {
    val truth = Gen.pu(Files.createTempDirectory("perfbench-gates"), 5L, Gen.PuSize(rows = 600, dim = 8))
    val scores = truth.positive.indices.map(i => (i.toLong, if (truth.positive(i)) 0.9 else 0.1)).toArray
    assert(allOk(Gates.pu("pu.traditional", truth, scores)))
    assert(Gates.hiddenPositiveAuc(truth, scores) == 1.0)
    val flipped = truth.copy(positive = truth.positive.indices
      .map(i => if (truth.labeled(i)) true else !truth.positive(i)).toArray)
    assert(!allOk(Gates.pu("pu.traditional", flipped, scores)))
    assert(!allOk(Gates.pu("pu.traditional", truth, scores.drop(1))), "a missing row fails")
  }

  test("curate gate: the ideal survivors pass, corrupted truth fails") {
    val truth = Gen.corpus(Files.createTempDirectory("perfbench-gates"), 5L, Gen.CorpusSize(docs = 3000))
    val dropped = (truth.lowQuality ++ truth.eval ++ truth.contaminated ++ truth.copies).toSet
    val packed = (0L until truth.docs).filterNot(dropped)
      .map(id => (id, truth.tokens(id.toInt).toLong, 1L)).toArray
    assert(allOk(Gates.curate(truth, packed)))

    val survivor = packed.head._1
    val contaminatedSurvivor = truth.copy(contaminated = truth.contaminated :+ survivor)
    assert(!Gates.curate(contaminatedSurvivor, packed).find(_.name == "contaminated").get.ok)

    val tokens = truth.tokens.clone()
    tokens(survivor.toInt) += 1
    assert(!Gates.curate(truth.copy(tokens = tokens), packed).find(_.name == "pack_tokens").get.ok)

    // clusters whose copies are docs that were kept: recall and precision drop
    val survivors = packed.map(_._1).filterNot(id => truth.dupClusters.exists(_.head == id))
    val wrong = truth.copy(dupClusters = truth.dupClusters.zip(survivors).map { case (c, s) => Array(c.head, s) })
    val checks = Gates.curate(wrong, packed)
    assert(!checks.find(_.name == "dup_recall").get.ok && !checks.find(_.name == "dup_precision").get.ok)
  }

  test("retrieve gate: exact neighbours pass, corrupted truth fails") {
    val truth = Gen.retrieve(Files.createTempDirectory("perfbench-gates"), 5L,
      Gen.RetrieveSize(base = 500, dim = 8, appendRows = 20, appends = 2, queries = 16, sampleQueries = 8, anchors = 4))
    val exact = truth.sampleIds.zip(truth.top10.map(_.toSeq)).toMap
    assert(allOk(Gates.retrieve(truth, exact, exact)))
    val corrupted = truth.copy(top10 = truth.top10.map(_.map(_ + 100000L)))
    assert(!Gates.retrieve(corrupted, exact, exact).find(_.name == "brute_force_recall").get.ok)
    val lossy = exact.map { case (q, ids) => q -> (ids.take(5) ++ Seq.fill(5)(-1L)) }
    assert(!Gates.retrieve(truth, exact, lossy).find(_.name == "recall_at_10").get.ok)
  }
}
