package graft.operators

import org.apache.spark.sql.functions._
import graft.{SparkSuite, Tables}

class SimilaritySpec extends SparkSuite {

  private lazy val corpus = Similarity.prepare(Tables.embeddings(spark, sf0001))

  test("brute-force top-k: k rows per query, cosine non-increasing, no self") {
    val t = Similarity.bruteForceTopK(corpus, corpus.filter(col("vec_id") < 4), 5)
      .collect().groupBy(_.getLong(0))
    assert(t.keySet == Set(0L, 1L, 2L, 3L))
    t.values.foreach { rows =>
      assert(rows.length == 5)
      val sorted = rows.sortBy(_.getLong(1))
      assert(sorted.map(_.getDouble(3)).sliding(2).forall(p => p.head >= p.last))
      sorted.foreach(r => assert(r.getLong(2) != r.getLong(0)))
    }
  }

  test("IVF top-1 recall vs brute force is high at nProbe=4/16") {
    val brute = Similarity.bruteForceTopK(corpus, corpus.filter(col("vec_id") < 16), 1)
      .select("query_id", "vec_id").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val ivf = Similarity.ivfTopK(corpus, col("vec_id") < 16, 16, 4, 1)
      .select("query_id", "vec_id").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val hits = brute.count { case (q, v) => ivf.get(q).contains(v) }
    // random 64-dim embeddings: nProbe/nCentroids=25% of lists searched;
    // empirical top-1 recall well above that — assert a safe floor
    assert(hits >= brute.size / 2, s"recall $hits/${brute.size}")
  }

  test("distributed ANN join == per-query IVF on the same predicate; shuffle join, no broadcast/window") {
    val pred = col("vec_id") % 5 === 2
    val joined = Similarity.ivfJoinTopK(corpus, corpus.filter(pred), 16, 4, 10)
    val key = (r: org.apache.spark.sql.Row) =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))
    val a = joined.collect().map(key).toSet
    val b = Similarity.ivfTopK(corpus, pred, 16, 4, 10).collect().map(key).toSet
    assert(a.nonEmpty)
    assert(a == b)
    // both sides distributed: probes meet the assigned corpus in a shuffle
    // HASH join on cen_id — no broadcast anywhere in this plan, no sort on
    // a hash-only key, and top-k selection never plans a Window
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("ShuffledHashJoin"), plan)
    assert(!plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
    assert(!plan.contains("Window"), plan)
  }

  test("filtered ANN pre-filters inside the lists: fills k where post-filtering starves") {
    val withLabel = Similarity
      .prepareWith(Tables.embeddings(spark, sf0001), col("label")).persist()
    val labels = Tables.embeddings(spark, sf0001).select("vec_id", "label")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val pre = Similarity
      .ivfTopKWhere(withLabel, col("vec_id") < 8, col("label") === 3, 16, 4, 10)
      .collect()
    assert(pre.nonEmpty)
    // every result row satisfies the predicate
    pre.foreach(r => assert(labels(r.getLong(2)) == 3))
    // the naive alternative — unfiltered top-10, THEN filter — returns far
    // fewer rows for the same queries (the classic post-filter starvation)
    val post = Similarity.ivfTopK(corpus, col("vec_id") < 8, 16, 4, 10)
      .collect().filter(r => labels(r.getLong(2)) == 3)
    assert(post.length < pre.length,
      s"post-filter kept ${post.length} vs pre-filter ${pre.length}")
    withLabel.unpersist()
  }

  test("salted ANN join == unsalted, and the fixture exercises both the hot and tail arms") {
    val pred = col("vec_id") % 5 === 2
    val thr = math.max(1L, corpus.count() / 16)
    val assigned = Similarity.ivfAssignWith(corpus,
      Similarity.collectCentroids(Similarity.centroids(corpus, 16)))
    val hot = SaltedJoin.skewStats(assigned, "cen_id", thr).count()
    assert(hot >= 1 && hot < 16, s"degenerate skew fixture: $hot/16 lists hot")
    val key = (r: org.apache.spark.sql.Row) =>
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))
    val salted = Similarity
      .ivfJoinTopKSalted(corpus, corpus.filter(pred), 16, 4, 10, s = 4, hotThreshold = thr)
      .collect().map(key).toSet
    val plain = Similarity.ivfJoinTopK(corpus, corpus.filter(pred), 16, 4, 10)
      .collect().map(key).toSet
    assert(salted == plain)
  }

  test("k-means IVF: k rows per query, top-1 recall at nProbe=4/16") {
    val brute = Similarity.bruteForceTopK(corpus, corpus.filter(col("vec_id") < 16), 1)
      .select("query_id", "vec_id").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // the trained tier's quantizer: Lloyd at the production Train* sizes
    val km = Similarity.ivfTopKLloyd(corpus, col("vec_id") < 16, 16, 4, 5,
        Similarity.TrainIters, Similarity.TrainSamplePct, Similarity.TrainMaxSample)
      .select("query_id", "rank", "vec_id").collect()
    assert(km.groupBy(_.getLong(0)).values.forall(_.length == 5))
    val top1 = km.filter(_.getLong(1) == 1L).map(r => r.getLong(0) -> r.getLong(2)).toMap
    val hits = brute.count { case (q, v) => top1.get(q).contains(v) }
    // trained lists should do at least as well as the first-N floor
    assert(hits >= brute.size / 2, s"recall $hits/${brute.size}")
  }

  test("Lloyd tier: centers move off the stride init, recall holds, repartition-invariant") {
    // centers actually trained: after 3 iterations at least one center
    // must differ from its stride-init point (an untouched init would make
    // the "trained" tier a relabeled sim_topk_ivf_fixed)
    val rows = Similarity.lloydCentroids(corpus, 16).collect()
    val trained = rows.map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    val init = Similarity.lloydCentroids(corpus, 16, iters = 0)
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(trained.keySet == (0L until 16L).toSet)
    assert((0L until 16L).exists(j => trained(j) != init(j)),
      "vacuous: 3 Lloyd iterations left every stride-init center untouched")
    // centers are means of unit vectors (spherical k-means): norm in (0, 1]
    assert(rows.forall(r => r.getDouble(2) > 0.0 && r.getDouble(2) <= 1.0 + 1e-9))
    // determinism is STRUCTURAL (sorted capped collect + driver loop), so
    // the centers must be bit-identical under a corpus repartition — the
    // property a distributed k-means (unordered float reduce) cannot give
    val reparted = Similarity.lloydCentroids(corpus.repartition(7), 16)
      .collect().map(r => r.getLong(0) -> r.getSeq[Double](1)).toMap
    assert(reparted == trained, "centers vary with partitioning")
    // trained lists should do at least as well as the first-N floor
    val brute = Similarity.bruteForceTopK(corpus, corpus.filter(col("vec_id") < 16), 1)
      .select("query_id", "vec_id").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val top1 = Similarity.ivfTopKLloyd(corpus, col("vec_id") < 16, 16, 4, 5)
      .filter(col("rank") === 1L)
      .select("query_id", "vec_id").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val hits = brute.count { case (q, v) => top1.get(q).contains(v) }
    assert(hits >= brute.size / 2, s"recall $hits/${brute.size}")
  }

  test("margin mining: closed-form hub correction reranks below raw cosine; sides are disjoint") {
    import spark.implicits._
    // planted 2-D geometry with an exhaustive probe (nProbe = nCentroids),
    // so the kNN graphs are exact and every margin is closed-form:
    //   src (label 0): x at 0 deg, x4 at 20 deg, x5 at 21 deg
    //   tgt (label 1): y1 at 20 deg (a HUB: x4/x5 sit on top of it),
    //                  y3 at -22 deg (isolated)
    // x's best raw cosine is y1 (cos 20 > cos 22), but y1's neighborhood
    // mean is ~1.0 while y3's is ~0.835 — margin must pick y3.
    def vec(deg: Double) = Seq(math.cos(math.toRadians(deg)), math.sin(math.toRadians(deg)))
    val planted = Seq(
      (0L, vec(0), 0), (1L, vec(20), 1), (2L, vec(-22), 1),
      (4L, vec(20), 0), (6L, vec(21), 0)).toDF("vec_id", "v", "label")
      .withColumn("nrm", Dedup.l2norm(col("v")))
    val got = Similarity.marginPairs(planted, col("label") % 2 === 0,
        k = 2, nCentroids = 2, nProbe = 2)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2), r.getDouble(3))).toMap
    def cosd(a: Double, b: Double) = math.cos(math.toRadians(a - b))
    val avgX = (cosd(0, 20) + cosd(0, -22)) / 2 // x's fwd neighborhood
    val avgY1 = (cosd(20, 20) + cosd(20, 21)) / 2 // y1's bwd: x4, x5
    val avgY3 = (cosd(-22, 0) + cosd(-22, 20)) / 2 // y3's bwd: x, x4
    val mY1 = cosd(0, 20) / ((avgX + avgY1) / 2)
    val mY3 = cosd(0, -22) / ((avgX + avgY3) / 2)
    assert(mY3 > mY1, s"fixture does not rerank: $mY3 <= $mY1") // sanity
    val (bestVec, bestCos, bestMargin) = got(0L)
    assert(bestVec == 2L,
      s"hub correction missed: x picked $bestVec (raw-cosine winner is 1)")
    assert(math.abs(bestCos - cosd(0, -22)) < 1e-9)
    assert(math.abs(bestMargin - mY3) < 1e-9, s"margin $bestMargin != $mY3")

    // fixture corpus: one row per src query with candidates; sides disjoint
    val corpus = Similarity.prepareWith(Tables.embeddings(spark, sf0001), col("label"))
    val mined = Similarity.marginPairs(corpus, col("label") % 2 === 0, 5, 16, 4)
    val labels = mined
      .join(corpus.select(col("vec_id").as("query_id"), col("label").as("ql")), "query_id")
      .join(corpus.select(col("vec_id"), col("label").as("cl")), "vec_id")
      .select(col("query_id"), col("ql"), col("cl")).collect()
    assert(labels.nonEmpty)
    assert(labels.forall(r => r.getInt(1) % 2 == 0 && r.getInt(2) % 2 != 0),
      "a mined pair crossed out of its side")
    assert(labels.map(_.getLong(0)).distinct.length == labels.length,
      "more than one mined pair for a source vector")
    graft.CheckpointUtil.releaseStragglers()
  }

  test("stride-trained PQ codebook: moves off init, repartition-invariant, recall holds") {
    val trained = Similarity.trainPqCodebook(corpus, 16, 8)
    // ks composite codewords of the full dim
    assert(trained.length == 16 && trained.forall(_.length == 64))
    // iterations non-vacuous: the trained composite codewords must differ
    // from the 0-iteration stride init (else the tier is a relabeled
    // sample selection)
    val init = Similarity.trainPqCodebook(corpus, 16, 8, iters = 0)
    assert(trained != init, "3 Lloyd iterations left every codeword untouched")
    // composite codewords are NOT corpus vectors: subspace s of codeword j
    // is subspace s's trained center j (a mean), so at least one codeword
    // must differ from every corpus vector
    val vs = corpus.select("v").collect().map(_.getSeq[Double](0)).toSet
    assert(trained.exists(cw => !vs.contains(cw)))
    // structural determinism (sorted capped collect + driver loop)
    val reparted = Similarity.trainPqCodebook(corpus.repartition(7), 16, 8)
    assert(reparted == trained, "codebook varies with partitioning")
    // the trained tier fills k and keeps the PQ recall floor
    val brute = Similarity.bruteForceTopK(corpus, corpus.filter(col("vec_id") < 8), 10)
      .select("query_id", "vec_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).groupBy(_._1)
    val got = Similarity.pqTopKWith(corpus, col("vec_id") < 8, trained, 8, 32, 10)
      .select("query_id", "vec_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).groupBy(_._1)
    assert(got.values.forall(_.length == 10))
    // .keys is a Set — map-then-sum over it would COLLAPSE equal per-query
    // hit counts (cost two debugging hours: 45 true hits summed to 33)
    val recall = brute.keys.toSeq.map { q =>
      val b = brute(q).map(_._2).toSet
      got.get(q).map(_.map(_._2).count(b)).getOrElse(0)
    }.sum.toDouble / (brute.size * 10)
    assert(recall >= 0.5, s"trained-PQ recall@10 $recall below the PQ floor")
  }

  test("a sample smaller than k trains: stride init repeats points, output is k centers") {
    // 55 sample points against ks = 128 (the adversarial fixture's shape):
    // center j starts at the point of rank j*55/128, so points repeat; a
    // repeated center loses every tie to its lowest-index copy and keeps
    // its init, and the codebook still has all ks codewords
    val book = Similarity.trainPqCodebook(corpus, 128, 16, maxSample = 55)
    assert(book.length == 128 && book.forall(_.length == 64))
    assert(Similarity.trainPqCodebook(corpus.repartition(7), 128, 16,
      maxSample = 55) == book, "codebook varies with partitioning")
    val cents = Similarity.lloydCentroids(corpus, 128, maxSample = 55)
    assert(cents.count() == 128)
  }

  test("quantized tier: int8 bounds hold; top-1 survives coarse+rescore") {
    val qz = Similarity.quantize(corpus)
    val bounds = qz.select(
      max(array_max(transform(col("qv"), x => abs(x.cast("int"))))).as("mx"),
      min(array_max(transform(col("qv"), x => abs(x.cast("int"))))).as("mn")).head
    assert(bounds.getInt(0) <= 127)
    assert(bounds.getInt(1) == 127) // scale saturates the widest element
    val brute = Similarity.bruteForceTopK(corpus, corpus.filter(col("vec_id") < 8), 1)
      .select("query_id", "vec_id").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val quant = Similarity.quantizedTopK(corpus, col("vec_id") < 8, 32, 1)
      .select("query_id", "vec_id").collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // int8 error is tiny relative to cosine gaps; with 32 rescored
    // candidates the exact top-1 should essentially always survive
    val hits = brute.count { case (q, v) => quant.get(q).contains(v) }
    assert(hits >= brute.size - 1, s"recall $hits/${brute.size}")
  }

  test("in-scan argmax/top-n assignment == the window formulation on random vectors") {
    // the kernels replaced a crossJoin+row_number argmax; pin exact
    // agreement (incl. tie-breaks to lowest cen_id) on adversarial random
    // data with deliberate duplicates (guaranteed score ties)
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val rnd = new scala.util.Random(7)
    val dim = 8
    // centroids 2 == 6 and 3 == 9 value-identical: EVERY vector's scores
    // tie across those pairs, so the lowest-cen_id tie-break is exercised
    // on every row (and in every top-n list)
    val base0 = Seq.fill(40)(Array.fill(dim)(rnd.nextGaussian()))
    val base = base0.updated(6, base0(2)).updated(9, base0(3))
    val vecs = (base ++ base.grouped(4).map(_.head)).zipWithIndex
      .map { case (v, i) => (i.toLong, v.toSeq) }
    val df = vecs.toDF("vec_id", "v")
      .withColumn("nrm", Dedup.l2norm(col("v")))
      .filter(col("nrm") > 0.0)
    val cents = Similarity.collectCentroids(
      df.filter(col("vec_id") < 12).select(col("vec_id").as("cen_id"),
        col("v").as("cv"), col("nrm").as("cnrm")))

    val gotAssign = Similarity.ivfAssignWith(df, cents)
      .select("vec_id", "cen_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val centsDf = df.filter(col("vec_id") < 12).select(
      col("vec_id").as("cen_id"), col("v").as("cv"), col("nrm").as("cnrm"))
    val wantAssign = df.crossJoin(broadcast(centsDf))
      .withColumn("ccos", Dedup.cosine(col("v"), col("cv"), col("nrm"), col("cnrm")))
      .withColumn("crn", row_number().over(
        Window.partitionBy(col("vec_id")).orderBy(col("ccos").desc, col("cen_id"))))
      .filter(col("crn") === 1)
      .select("vec_id", "cen_id").collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(gotAssign == wantAssign)

    val n = 5
    val gotProbes = df
      .withColumn("cen_id", explode(graft.functions.NativeExpressions
        .topNCosineIds(col("v"), col("nrm"), cents, n)))
      .select("vec_id", "cen_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
      .view.mapValues(_.map(_._2).toList).toMap
    val wantProbes = df.crossJoin(broadcast(centsDf))
      .withColumn("ccos", Dedup.cosine(col("v"), col("cv"), col("nrm"), col("cnrm")))
      .withColumn("crn", row_number().over(
        Window.partitionBy(col("vec_id")).orderBy(col("ccos").desc, col("cen_id"))))
      .filter(col("crn") <= n).orderBy("vec_id", "crn")
      .select("vec_id", "cen_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
      .view.mapValues(_.map(_._2).toList).toMap
    assert(gotProbes == wantProbes) // ORDERED equality per vector
  }

  test("PQ encode: codes in range, and ADC == dot against the explicit reconstruction") {
    import graft.functions.NativeExpressions
    val m = 8
    val ks = 16
    val codebook: Seq[Seq[Double]] =
      Similarity.collectCentroids(Similarity.centroids(corpus, ks)).map(_._2)
    val coded = corpus
      .withColumn("codes", NativeExpressions.pqEncode(col("v"), codebook, m))
    val rows = coded.select("vec_id", "v", "codes").limit(50).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val v = r.getSeq[Double](1)
      val codes = r.getSeq[Byte](2)
      assert(codes.length == m)
      assert(codes.forall(c => c >= 0 && c < ks), codes)
      val dsub = v.length / m
      // explicit reconstruction (independent of the kernels' loop shapes)
      val rv = (0 until m).flatMap(s =>
        codebook(codes(s).toInt).slice(s * dsub, (s + 1) * dsub))
      val want = v.zip(rv).foldLeft(0.0) { case (a, (x, y)) => a + x * y }
      // typedlit: lit(Array[Byte]) would become a BinaryType literal, not
      // the array<tinyint> the expression's type check requires
      val got = coded.sparkSession.range(1).select(
        NativeExpressions.pqAdc(
          typedlit[Seq[Double]](v), typedlit[Seq[Byte]](codes), codebook, m))
        .head().getDouble(0)
      assert(got == want, s"vec ${r.getLong(0)}: adc $got != recon-dot $want")
    }
  }

  test("pqEncode ties fall to the lowest codeword index on duplicate codebook entries") {
    import graft.functions.NativeExpressions
    val m = 4
    val base = Similarity.collectCentroids(Similarity.centroids(corpus, 8)).map(_._2)
    // codeword 6 duplicates codeword 1: every subspace distance ties
    // exactly, and the strict-< argmin must keep the FIRST (index 1) —
    // matching `row_number ... ORDER BY dist, j`
    val cb = base.updated(6, base(1))
    val codes = corpus.limit(100)
      .select(NativeExpressions.pqEncode(col("v"), cb, m).as("codes"))
      .collect().flatMap(_.getSeq[Byte](0))
    assert(codes.nonEmpty)
    assert(!codes.contains(6.toByte), "a tie resolved to the higher duplicate index")
  }

  test("PQ and IVF-PQ recall@10 vs brute force holds on the fixture (deterministic)") {
    // measured 0.587 / 0.688 via graft.RecallProbe — everything in these
    // tiers is deterministic, so the pin is exact-repeatable, not
    // statistical; a drop means an encode/probe/selection change, not luck
    val pred = col("vec_id") < 8
    def ids(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
      df.select("query_id", "vec_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
        .view.mapValues(_.map(_._2).toSet).toMap
    val brute = ids(Similarity.bruteForceTopK(corpus, corpus.filter(pred), 10))
    def recall(df: org.apache.spark.sql.DataFrame): Double = {
      val got = ids(df)
      val per = brute.map { case (q, want) =>
        got.getOrElse(q, Set.empty).intersect(want).size.toDouble / want.size }
      per.sum / per.size
    }
    assert(recall(Similarity.pqTopK(corpus, pred, 16, 8, 32, 10)) >= 0.5)
    assert(recall(Similarity.ivfPqTopK(corpus, pred, 16, 4, 16, 8, 32, 10)) >= 0.6)
    // the deterministic SRP-LSH tier (sim_topk_srp): measured 0.350 at
    // sf0.001, 0.487 at sf0.01 — structurally modest, as pure LSH with
    // 4x4-bit bands on a near-isotropic corpus must be (the IVF tiers are
    // the recall path; this tier's value is zero training + hash-exact
    // determinism where BRP-LSH is rows-only). The pin guards the band
    // gate staying a real candidate generator, not a tier promise.
    assert(recall(Similarity.srpTopK(corpus, pred, 10)) >= 0.3)
  }

  test("TRAINED codebooks lift recall@10 to >= 0.9 (measured 0.950 / 0.925 via RecallProbe)") {
    // the production tiers: per-subspace Lloyd codebooks (16 x 128, still a
    // 16-byte code) + sample-trained coarse lists; training is
    // deterministic (stride init, no RNG), so the pin is exact-repeatable.
    // The fixture is near-isotropic — the hardest regime for quantization
    // recall — hence the deeper rescore pool / probe fraction documented
    // in SimilarityQueries.
    val pred = col("vec_id") < 8
    def ids(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
      df.select("query_id", "vec_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
        .view.mapValues(_.map(_._2).toSet).toMap
    val brute = ids(Similarity.bruteForceTopK(corpus, corpus.filter(pred), 10))
    def recall(df: org.apache.spark.sql.DataFrame): Double = {
      val got = ids(df)
      val per = brute.map { case (q, want) =>
        got.getOrElse(q, Set.empty).intersect(want).size.toDouble / want.size }
      per.sum / per.size
    }
    assert(recall(Similarity.pqTopKTrained(corpus, pred, 128, 16, 48, 10)) >= 0.9)
    assert(recall(Similarity.ivfPqTopKTrained(corpus, pred, 16, 12, 128, 16, 64, 10)) >= 0.9)
  }

  test("LSH tier returns k rows per query") {
    val t = Similarity.lshTopK(Tables.embeddings(spark, sf0001), col("vec_id") < 4, 5)
      .collect().groupBy(_.getLong(0))
    assert(t.values.forall(_.length == 5))
  }
}
