package graft.operators

import org.apache.spark.ml.feature.BucketedRandomProjectionLSH
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

import graft.functions.NativeExpressions

/** Approximate/exact nearest-neighbor search over an embedding column
  * (`array<float>`). Tiers trading recall for scan cost — brute force,
  * IVF (first-N / Lloyd-trained / injected centers), int8 scalar
  * quantization, PQ/ADC, the IVF-PQ composition, and Spark-ML LSH:
  *
  *  1. [[bruteForceTopK]] — exact: broadcast the (small) query set against
  *     the corpus, cosine per pair, per-query top-k. The baseline and the
  *     oracle-checkable ground truth. Cost: O(|Q|·|corpus|·dim),
  *     embarrassingly parallel, the corpus is never shuffled.
  *  2. [[ivfTopK]] — IVF (inverted-file) ANN: coarse-quantize the corpus to
  *     centroids, probe only the nProbe nearest lists per query. Cost drops
  *     by ~nProbe/nCentroids. Deterministic (centroid choice + argmax
  *     tie-breaks are fixed), so this tier is ALSO oracle-checkable — rare
  *     for an ANN index. At 100 TB: centroids are a plan constant (a coarse
  *     quantizer is 10²–10⁴ vectors regardless of corpus size), assignment
  *     is in-scan map work ([[graft.functions.NativeKernels.argMaxCosineIdx]]
  *     — zero expansion, zero shuffle), and lists persist bucketed by
  *     cen_id ([[graft.sources.Layouts.writeBucketed]], exercised by
  *     `src_ivf_bucketed`) so a repeat probe is a pruned read, not a scan.
  *  3. [[quantizedTopK]] — int8 scalar quantization: coarse-rank on an 8×
  *     narrower column with exact integer arithmetic, rescore survivors.
  *  4. [[lshTopK]] — Spark ML BucketedRandomProjectionLSH: the built-in
  *     scale path (hash-partitioned candidate join). Seeded but its
  *     internals aren't oracle-replicable → rows-only driver check.
  *
  * Per-query top-k selection in EVERY tier is `groupBy(query_id)` +
  * [[TopKAgg]] (O(k) state, map-side partials), never a `row_number`
  * window: a window partition cannot be split, so the window form funnels
  * each query's full candidate set — the whole corpus, for brute force —
  * through ONE task. TopKAgg ships at most k rows per (partition, query)
  * into the shuffle and its merge law is proven equal to the window
  * ordering by `q_topk_grouped_agg`'s oracle.
  *
  * The reference contains no similarity operators (SURVEY.md §2.3); this is
  * north-star surface.
  */
object Similarity {
  import Dedup.{cosine, l2norm, toDoubleArray}

  /** vec_id, v (array<double>), nrm — the working shape for cosine tiers.
    * The spread is GATED on scan parallelism ([[Spread.ifNarrow]]): it
    * fires for the single-row-group bench fixtures and never for a real
    * multi-split corpus — the corpus is never shuffled at scale.
    * Zero-norm vectors are dropped: cosine is undefined for them, and a
    * NaN score sorts FIRST under a descending ordering — one all-zero
    * embedding would otherwise poison every query's top-1. */
  def prepare(embeddings: DataFrame): DataFrame = prepareWith(embeddings)

  /** [[prepare]] carrying extra metadata columns through — the working
    * shape for FILTERED search, where per-row attributes (label, lang,
    * source) must survive to the candidate stage. */
  def prepareWith(embeddings: DataFrame, extra: Column*): DataFrame =
    Spread.ifNarrow(embeddings, col("vec_id"))
      .select(col("vec_id") +: toDoubleArray(col("embedding")).as("v") +: extra: _*)
      .withColumn("nrm", l2norm(col("v")))
      .filter(col("nrm") > 0.0)

  /** [[prepareWith]] over `dir`'s embeddings table, stored with
    * [[graft.CheckpointUtil.materialize]]: the corpus every query that reads
    * the prepared vectors more than once (corpus and query sides,
    * centroids, assignment, probes) starts from. Spread at full width
    * ([[Spread.pinIfNarrow]]; `prepareWith`'s gate then passes it through):
    * every reader runs dot-product kernels over the stored partitions. */
  def storedCorpus(s: org.apache.spark.sql.SparkSession, dir: String,
      extra: Column*): DataFrame =
    graft.CheckpointUtil.materialize(prepareWith(
      Spread.pinIfNarrow(graft.Tables.embeddings(s, dir), col("vec_id")), extra: _*))._1

  /** Probe rows for a query relation: (query_id, qv, qnrm) exploded to the
    * `nProbe` nearest centroid ids — the ONE probe shape every IVF tier
    * joins against (in-flight, distributed-join, salted, filtered). */
  private def probesOf(queries: DataFrame,
                       centSeq: Seq[(Long, Seq[Double], Double)],
                       nProbe: Int): DataFrame =
    queries
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qnrm"))
      .withColumn("cen_id",
        explode(NativeExpressions.topNCosineIds(col("qv"), col("qnrm"), centSeq, nProbe)))

  /** Serve-batch probe-collect bound (ADVICE r15): every serving caller
    * is constant-bounded (a query batch, a stream micro-batch), but a
    * probe collect would silently pull a corpus-sized frame if a future
    * caller handed it one — the exact mistake `joinPqTopK` exists to
    * avoid. 1<<16 probe rows ≈ 16k queries/batch: far above any serve
    * batch, far below corpus scale. */
  val ProbeRowsMax: Int = 1 << 16

  /** `df` collected to the driver, failing loudly (naming `caller`) past
    * [[ProbeRowsMax]] rows instead of pulling a corpus-sized frame. */
  private[graft] def collectBounded(df: DataFrame, caller: String): Array[Row] = {
    val rows = df.limit(ProbeRowsMax + 1).collect()
    require(rows.length <= ProbeRowsMax, s"$caller: serve batch exceeds " +
      s"$ProbeRowsMax probe rows; route corpus-sized query relations through " +
      "the distributed join arm (joinPqTopK's shape), not a driver collect")
    rows
  }

  /** [[probesOf]] collected once as `(query_id, qv, qnrm, cen_id)` — the
    * serving paths' ONE driver roundtrip, yielding both the literal probe
    * ids for bucket pruning and the broadcast probe relation. */
  private[graft] def collectProbes(queries: DataFrame,
      centSeq: Seq[(Long, Seq[Double], Double)], nProbe: Int,
      caller: String): Seq[(Long, Seq[Double], Double, Long)] =
    collectBounded(probesOf(queries, centSeq, nProbe), caller)
      .map(r => (r.getLong(0), r.getSeq[Double](1), r.getDouble(2), r.getLong(3)))
      .toSeq

  /** Self-exclusion + exact cosine over candidate (corpus × probe) rows —
    * the ONE scoring rule downstream of every cen_id join. */
  private def scoreCandidates(joined: DataFrame): DataFrame =
    joined.filter(col("vec_id") =!= col("query_id"))
      .withColumn("cos", cosine(col("qv"), col("v"), col("qnrm"), col("nrm")))

  /** Per-query top-k over scored candidates (query_id, vec_id, cos) via the
    * bounded mergeable aggregate — the skew-safe selection shape (see class
    * doc). Rank is the position in the (cos desc, vec_id asc) order, 1-based
    * — exactly what `row_number` produced. */
  def topKPerQuery(scored: DataFrame, k: Int): DataFrame =
    scored.groupBy(col("query_id"))
      .agg(TopKAgg.column(k, col("cos"), col("vec_id")).as("tk"))
      .select(col("query_id"), posexplode(col("tk")))
      .select(col("query_id"), (col("pos") + 1).cast("long").as("rank"),
        col("col._2").as("vec_id"), col("col._1").as("cos"))

  /** SRP-LSH top-k: the deterministic cosine-LSH tier — [[Dedup]]'s
    * 16-plane signed-random-projection signature (literal hyperplanes,
    * oracle-replicable, unlike Spark-ML's BRP-LSH whose hash internals
    * are not) banded 4×4 as the candidate gate, exact cosine + bounded
    * [[TopKAgg]] selection over the survivors. The gate is IN-SCAN: the
    * query side is a broadcast constant and "some 4-bit band agrees" is
    * bit arithmetic on the two signatures — no explode, no pair-grain
    * distinct, no shuffle but TopKAgg's partial agg. Candidate volume per
    * query ≈ corpus × P(band collision) — the LSH recall/cost dial is the
    * band layout, and recall vs brute force is spec-pinned (pure-LSH
    * recall on a near-isotropic corpus is structurally modest; the IVF
    * tiers are the high-recall path, this tier is the no-training one). */
  def srpTopK(corpus: DataFrame, queryPred: Column, k: Int,
              dim: Int = Dedup.SrpDim): DataFrame = {
    val sigd = corpus.withColumn("sig", Dedup.srpSignature(col("v"), dim))
    val q = sigd.filter(queryPred)
      .select(col("vec_id").as("query_id"), col("v").as("qv"),
        col("nrm").as("qnrm"), col("sig").as("qsig"))
    // sig is a sum of distinct bits 0..15, so it is non-negative and
    // (sig >> 4b) & 15 equals simhashBands' floor(sig/2^4b) % 16 exactly
    val xr = col("sig").bitwiseXOR(col("qsig"))
    val bandMatch = (0 until 4)
      .map(b => (shiftright(xr, 4 * b) % 16) === 0)
      .reduce(_ || _)
    val pairs = sigd.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("query_id") && bandMatch)
      .withColumn("cos", cosine(col("qv"), col("v"), col("qnrm"), col("nrm")))
    topKPerQuery(pairs, k)
  }

  /** Exact top-k: for each query vector, the k corpus vectors with highest
    * cosine (self excluded); ties broken by vec_id. */
  def bruteForceTopK(corpus: DataFrame, queries: DataFrame, k: Int): DataFrame = {
    val q = queries.select(col("vec_id").as("query_id"), col("v").as("qv"),
      col("nrm").as("qnrm"))
    val pairs = corpus.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cos", cosine(col("qv"), col("v"), col("qnrm"), col("nrm")))
    topKPerQuery(pairs, k)
  }

  /** Deterministic coarse centroids: the first `nCentroids` corpus vectors
    * by id — the untrained quantizer. [[lloydCentroids]] trains the same
    * set on a sample; the IVF machinery (assign → bucket → probe) is
    * identical for both. */
  def centroids(corpus: DataFrame, nCentroids: Int): DataFrame =
    corpus.filter(col("vec_id") < nCentroids)
      .select(col("vec_id").as("cen_id"), col("v").as("cv"), col("nrm").as("cnrm"))

  /** Deterministic coarse centroids from a FILTERED corpus: the
    * `nCentroids` lowest surviving vec_ids (a filtered set need not
    * contain ids 0..n, so [[centroids]]' `vec_id < n` rule can come up
    * short there). Sort+limit is driver-bounded — the set is collected by
    * [[collectCentroids]] anyway. */
  def lowestIdCentroids(corpus: DataFrame, nCentroids: Int): DataFrame =
    corpus.orderBy(col("vec_id")).limit(nCentroids)
      .select(col("vec_id").as("cen_id"), col("v").as("cv"), col("nrm").as("cnrm"))

  /** Materialize a centroid set (cen_id, cv, cnrm) on the driver, ordered by
    * cen_id — the constant the assignment/probe kernels close over. A coarse
    * quantizer is small BY CONSTRUCTION (10²–10⁴ vectors independent of
    * corpus size; 4k × 128-dim ≈ 4 MB), so this is the same driver-side
    * footprint as any broadcast dimension — not a collect-the-data
    * anti-pattern. */
  def collectCentroids(cents: DataFrame): Seq[(Long, Seq[Double], Double)] =
    cents.select(col("cen_id").cast("long").as("cen_id"), col("cv"), col("cnrm"))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1).toVector: Seq[Double], r.getDouble(2)))
      .sortBy(_._1).toSeq

  /** Assign every corpus vector to its nearest centroid by cosine (argmax,
    * ties to lowest cen_id) — IN-SCAN: the centroid set is a plan constant
    * and the argmax is one codegen'd kernel call per row. No join, no
    * |corpus|×nCentroids expansion, no shuffle (the crossJoin+window form
    * this replaced shuffled the full expansion to pick the argmax — a
    * 4000×-data-sized shuffle at 4k centroids). */
  def ivfAssign(corpus: DataFrame, cents: DataFrame): DataFrame =
    ivfAssignWith(corpus, collectCentroids(cents))

  /** [[ivfAssign]] over an already-collected centroid set. */
  def ivfAssignWith(corpus: DataFrame, cents: Seq[(Long, Seq[Double], Double)]): DataFrame =
    corpus.withColumn("cen_id",
        NativeExpressions.argMaxCosine(col("v"), col("nrm"), cents))
      .select(col("vec_id"), col("cen_id"), col("v"), col("nrm"))

  /** Training sizes of the trained tiers (`sim_topk_ivf_kmeans`,
    * `sim_topk_pq_trained`, `sim_topk_ivfpq_trained`): a 60%
    * consistent-hash sample capped at 4096 vectors, 10 Lloyd iterations.
    * Their DuckDB twins replay training at the same sizes. The trainers'
    * defaults are the smaller Lloyd tier shape (`sim_topk_ivf_lloyd`,
    * `sim_topk_pq_lloyd`). */
  val TrainSamplePct = 60
  val TrainMaxSample = 4096
  val TrainIters = 10

  /** The capped consistent-hash training sample: `vecs` of the first
    * `maxSample` corpus rows (by vec_id) whose id hashes under
    * `samplePct`, in vec_id order. The cap is applied IN the query
    * (TakeOrdered — distributed, k-bounded), so the driver collect is
    * maxSample·dim doubles regardless of corpus size, and the draw is
    * stable under reruns, repartitioning and corpus growth (unlike
    * df.sample's partition-dependent draw). */
  private def trainingSample(corpus: DataFrame, vecs: Column, samplePct: Int,
                             maxSample: Int): Array[Array[Double]] = {
    val sample = corpus
      .filter(pmod(graft.functions.TextFunctions.polyHash(
        col("vec_id").cast("string")), lit(100)) < samplePct)
      .select(col("vec_id"), vecs)
      .orderBy(col("vec_id")).limit(maxSample)
      .collect()
      .map(_.getSeq[Double](1).toArray)
    require(sample.nonEmpty, "empty quantizer training sample")
    sample
  }

  /** Trained coarse centroids: [[lloydStride]] over the unit vectors of
    * the [[trainingSample]] (spherical k-means, so the Euclidean argmin of
    * training agrees with the cosine argmax [[ivfAssign]] uses). Balanced
    * lists keep probe cost near |corpus|·nProbe/nCentroids even on
    * clustered corpora, where first-N centroids can degenerate. Every
    * choice is SQL-expressible, so the DuckDB twin (`lloydCtes`) replays
    * training bit-exactly and the tier is hash-checked.
    *
    * 100 TB shape: a coarse quantizer needs thousands of points per
    * centroid, not the corpus; training is a bounded driver loop over a
    * bounded collect, and everything downstream (assignment, probing,
    * scoring) stays in-scan via [[ivfTopKWith]]. */
  def lloydCentroids(corpus: DataFrame, nCentroids: Int, iters: Int = 3,
                     samplePct: Int = 60, maxSample: Int = 512): DataFrame = {
    val spark = corpus.sparkSession
    val sample = trainingSample(corpus,
      NativeExpressions.divArray(col("v"), col("nrm")), samplePct, maxSample)
    import spark.implicits._
    lloydStride(sample, nCentroids, iters).toSeq.zipWithIndex
      .map { case (c, j) => (j.toLong, c.toSeq) }
      .toDF("cen_id", "cv")
      .withColumn("cnrm", Dedup.l2norm(col("cv")))
  }

  /** The one k-means, behind [[lloydCentroids]] and [[trainPqCodebook]]:
    * Lloyd with every non-SQL-expressible choice removed — stride init
    * over the (already vec_id-ordered) point array instead of an RNG draw
    * (center j = the point at rank j·n/k, so a sample smaller than k
    * repeats points), fixed `iters`, argmin ties to the lowest center
    * index, an emptied cluster keeps its previous center, every float
    * fold in declared order (dims ascending; points in array order). */
  private def lloydStride(pts: Array[Array[Double]], k: Int,
                          iters: Int): Array[Array[Double]] = {
    val n = pts.length
    val dim = pts.head.length
    def d2(a: Array[Double], b: Array[Double]): Double = {
      var acc = 0.0; var i = 0
      while (i < dim) { val d = a(i) - b(i); acc += d * d; i += 1 }
      acc
    }
    // stride init: center j = point at rank j*n/k
    var centers: Array[Array[Double]] =
      Array.tabulate(k)(j => pts(j * n / k).clone())
    var it = 0
    while (it < iters) {
      val sums = Array.fill(k)(new Array[Double](dim))
      val counts = new Array[Int](k)
      var i = 0
      while (i < n) { // points in array (vec_id) order — the declared fold
        var best = 0; var bestD = d2(pts(i), centers(0)); var j = 1
        while (j < k) {
          val d = d2(pts(i), centers(j))
          if (d < bestD) { best = j; bestD = d } // strict: ties keep lowest j
          j += 1
        }
        var t = 0
        while (t < dim) { sums(best)(t) += pts(i)(t); t += 1 }
        counts(best) += 1
        i += 1
      }
      centers = Array.tabulate(k) { j =>
        if (counts(j) == 0) centers(j)
        else Array.tabulate(dim)(t => sums(j)(t) / counts(j))
      }
      it += 1
    }
    centers
  }

  /** Trained per-subspace PQ codebooks: per subspace `s`, [[lloydStride]]
    * on the `s`-slice of the raw [[trainingSample]] vectors; the
    * per-subspace centers are reassembled into `ks` COMPOSITE full-dim
    * codewords (codeword j's slice for subspace s is subspace s's center
    * j), so [[graft.functions.NativeKernels.pqEncode]] and
    * [[graft.functions.NativeKernels.pqAdc]] run unchanged — they always
    * slice the codeword by subspace. The sample ranks are shared across
    * subspaces, so the DuckDB twin (`pqLloydCtes`) trains all m chains
    * from one unrolled CTE sequence grouped by subspace. */
  def trainPqCodebook(corpus: DataFrame, ks: Int, m: Int, samplePct: Int = 60,
                      maxSample: Int = 512, iters: Int = 3): Seq[Seq[Double]] = {
    val sample = trainingSample(corpus, col("v"), samplePct, maxSample)
    val dim = sample.head.length
    require(m >= 1 && dim % m == 0, s"dim $dim not divisible by m=$m")
    val dsub = dim / m
    val perSub: Array[Array[Array[Double]]] = Array.tabulate(m) { s =>
      val pts = sample.map(v =>
        java.util.Arrays.copyOfRange(v, s * dsub, (s + 1) * dsub))
      lloydStride(pts, ks, iters)
    }
    (0 until ks).map { j =>
      (0 until m).flatMap(s => perSub(s)(j).toSeq).toVector: Seq[Double]
    }
  }

  /** IVF top-k over [[lloydCentroids]] — trained centers, hash-exact. */
  def ivfTopKLloyd(corpus: DataFrame, queryPred: Column, nCentroids: Int,
                   nProbe: Int, k: Int, iters: Int = 3, samplePct: Int = 60,
                   maxSample: Int = 512): DataFrame =
    ivfTopKWith(lloydCentroids(corpus, nCentroids, iters, samplePct, maxSample),
      corpus, queryPred, nProbe, k)

  /** IVF top-k: probe the `nProbe` nearest centroid lists per query, exact
    * cosine within the probed lists only. */
  def ivfTopK(corpus: DataFrame, queryPred: Column, nCentroids: Int,
              nProbe: Int, k: Int): DataFrame =
    ivfTopKWith(centroids(corpus, nCentroids), corpus, queryPred, nProbe, k)

  /** Probe machinery shared by the first-N, Lloyd-trained, and
    * injected-centers tiers. Plan shape: assignment and probe selection are
    * both in-scan kernel calls over the constant centroid set; the probe
    * set (|Q|·nProbe rows) broadcasts into a hash join against the assigned
    * corpus — the corpus itself is NEVER shuffled; the only exchange left
    * is TopKAgg's k-bounded partial-aggregate shuffle. */
  def ivfTopKWith(cents: DataFrame, corpus: DataFrame, queryPred: Column,
                  nProbe: Int, k: Int): DataFrame = {
    val centSeq = collectCentroids(cents)
    val assigned = ivfAssignWith(corpus, centSeq)
    val probes = probesOf(corpus.filter(queryPred), centSeq, nProbe)
    // list lookup: probes broadcast, corpus side stays in place
    topKPerQuery(scoreCandidates(assigned.join(broadcast(probes), "cen_id")), k)
  }

  /** IVF top-k with ADAPTIVE-RADIUS probing: instead of a fixed nProbe,
    * each query probes every list whose centroid cosine is within `delta`
    * of its best centroid (capped at `nProbeMax`) — the in-scan
    * [[graft.functions.NativeKernels.adaptiveProbeIds]] kernel. A fixed
    * probe count is mis-sized two ways at once on a skewed quantizer:
    * queries landing squarely inside one list waste nProbe−1 list scans,
    * and queries near list boundaries miss neighbors that one more probe
    * would have caught. The radius rule makes probe cost follow actual
    * quantizer ambiguity, per query, with no index change and no extra
    * pass — same centroids, same lists, same serving plan shape
    * (broadcast probes, corpus in place). Deterministic (the cutoff is
    * exact double arithmetic against the kernel's own best score), so
    * the tier stays oracle-checkable. */
  def ivfTopKAdaptive(corpus: DataFrame, queryPred: Column, nCentroids: Int,
                      nProbeMax: Int, delta: Double, k: Int): DataFrame = {
    val centSeq = collectCentroids(centroids(corpus, nCentroids))
    val assigned = ivfAssignWith(corpus, centSeq)
    val probes = corpus.filter(queryPred)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qnrm"))
      .withColumn("cen_id", explode(
        NativeExpressions.adaptiveProbeIds(col("qv"), col("qnrm"), centSeq,
          nProbeMax, delta)))
    topKPerQuery(scoreCandidates(assigned.join(broadcast(probes), "cen_id")), k)
  }

  /** Distributed ANN JOIN: top-k corpus neighbors for EVERY row of a query
    * relation that is itself corpus-sized — the "enrich dataset A with its
    * nearest neighbors in dataset B" shape (retrieval-based filtering,
    * cross-corpus near-dup discovery). The serving tiers collect a handful
    * of probes to the driver and broadcast them; that is exactly wrong when
    * the query side is billions of rows, so here BOTH sides stay
    * distributed: each side gets its centroid assignment in-scan against
    * the constant quantizer (query rows exploded to their nProbe probed
    * lists), and the sides meet in a shuffle HASH join keyed on cen_id —
    * each relation crosses the wire ONCE, partitioned by list; no
    * broadcast, no crossJoin, no |Q|×|C| expansion beyond the probed
    * lists. TopKAgg then reduces candidates to k per query (k-bounded,
    * map-side partial). The `shuffle_hash` hint pins the at-scale strategy
    * (neither side fits a broadcast; sort would be wasted on a hash-only
    * key). At 100 TB: persist the corpus bucketed by cen_id
    * ([[graft.sources.Layouts.writeBucketed]]) and the corpus-side
    * exchange disappears; skewed hot lists are the
    * [[SaltedJoin.hotKeyOnly]] knob on cen_id. */
  def ivfJoinTopK(corpus: DataFrame, queries: DataFrame, nCentroids: Int,
                  nProbe: Int, k: Int): DataFrame = {
    val centSeq = collectCentroids(centroids(corpus, nCentroids))
    val assigned = ivfAssignWith(corpus, centSeq)
    val probes = probesOf(queries, centSeq, nProbe)
    topKPerQuery(
      scoreCandidates(assigned.join(probes.hint("shuffle_hash"), "cen_id")), k)
  }

  /** Margin-based cross-corpus pair mining — the standard bitext-mining
    * criterion (Artetxe & Schwenk 2019, "Margin-based parallel corpus
    * mining with multilingual sentence embeddings"; the CCMatrix recipe):
    * raw cosine over-mines hub vectors whose neighborhoods are globally
    * tight, so each candidate pair (x, y) is scored by its cosine RATIO
    * to the mean cosine of both endpoints' k-NN neighborhoods —
    * margin = cos(x,y) / ((avgK(x) + avgK(y)) / 2) — and each source
    * vector emits its best-margin candidate.
    *
    * Spark shape: the two directional k-NN graphs are [[ivfJoinTopK]]'s
    * distributed join (both sides corpus-scale relations; ONE shuffle-hash
    * cen_id join each, TopKAgg selection — never an all-pairs), sharing
    * ONE coarse quantizer trained on the full corpus so both directions
    * probe the same lists. Neighborhood means then margins are
    * query-grain aggregates over the k-bounded graphs; the final
    * best-per-source is a partial-aggregable max-struct, no window.
    *
    * Determinism: each neighborhood mean folds its <= k cosines in RANK
    * order — TopKAgg's array is ALREADY (cos desc, vec_id asc) ordered,
    * so the mean is one in-array `aggregate` fold over the selection
    * state itself (no second aggregation, no join-back for the source
    * side), and the DuckDB twin replays it with
    * list_reduce(list(cos ORDER BY rank)); margin ties break to the
    * lowest vec_id via the max-struct's negated-id field. */
  def marginPairs(corpus: DataFrame, srcPred: Column, k: Int,
                  nCentroids: Int, nProbe: Int): DataFrame = {
    val centSeq = collectCentroids(centroids(corpus, nCentroids))
    val src = corpus.filter(srcPred)
    val tgt = corpus.filter(!srcPred)
    // per-query top-k array AND its rank-ordered neighborhood mean from
    // ONE bounded aggregation
    def knnAgg(cands: DataFrame, queries: DataFrame): DataFrame =
      scoreCandidates(
        ivfAssignWith(cands, centSeq)
          .join(probesOf(queries, centSeq, nProbe).hint("shuffle_hash"),
            "cen_id"))
        .groupBy(col("query_id"))
        .agg(TopKAgg.column(k, col("cos"), col("vec_id")).as("tk"))
        .withColumn("av",
          aggregate(col("tk"), lit(0.0), (acc, x) => acc + x.getField("_1")) /
            size(col("tk")))
    val fwd = knnAgg(tgt, src)
      .select(col("query_id"), col("av"), explode(col("tk")).as("c"))
      .select(col("query_id"), col("av"),
        col("c._2").as("vec_id"), col("c._1").as("cos"))
    val avTgt = knnAgg(src, tgt)
      .select(col("query_id").as("vec_id"), col("av").as("av_c"))
    fwd.join(avTgt, "vec_id")
      .withColumn("margin",
        col("cos") / ((col("av") + col("av_c")) / lit(2.0)))
      .groupBy(col("query_id"))
      .agg(max(struct(col("margin"), (-col("vec_id")).as("nv"),
        col("vec_id"), col("cos"))).as("m"))
      .select(col("query_id"), col("m.vec_id").as("vec_id"),
        col("m.cos").as("cos"), col("m.margin").as("margin"))
  }

  /** INCREMENTAL kNN-graph maintenance: fold a new `batch` of vectors into
    * a `standing` corpus whose k-NN graph `standingGraph` already exists,
    * WITHOUT rebuilding — the 100 TB regime where the graph is
    * petabyte-priced and the daily batch is 0.1% of it. Exactness comes
    * from selection decomposing over unions: with the SAME coarse
    * quantizer (the standing centroids — the caller must keep the
    * centroid ids inside `standing`, as the `src_ivf_append` lifecycle
    * does), a standing node's rebuilt top-k over (standing ∪ batch)
    * candidates equals top-k(its OLD top-k ∪ its batch candidates), so
    * only batch-sized work is new:
    *
    *  - batch-node edges: batch queries probe the union's lists — the
    *    batch side is tiny, so AQE broadcasts its probe rows and the
    *    standing corpus crosses no wire;
    *  - standing-node updates: candidates come from the BATCH's assigned
    *    rows only (batch-sized relation joined to the standing probes on
    *    cen_id — again broadcast-sized under AQE), unioned with the old
    *    edges into one k-bounded [[TopKAgg]] re-selection.
    *
    * Output is row-identical to `ivfJoinTopK(union, union, …)` — the full
    * rebuild IS the oracle. */
  def knnGraphIncremental(standing: DataFrame, standingGraph: DataFrame,
                          batch: DataFrame, nCentroids: Int, nProbe: Int,
                          k: Int): DataFrame = {
    val centSeq = collectCentroids(centroids(standing, nCentroids))
    // the exactness contract above (centroids stay standing) would fail
    // SILENTLY if a batch row landed anywhere in the quantizer's id
    // window: `centroids` selects vec_id < nCentroids over the UNION, so
    // a batch id that merely FILLS A GAP in the standing prefix (not just
    // one that collides with a collected centroid id) changes the rebuild
    // oracle's quantizer. Probe the whole window, one batch-sized filter,
    // so any violation fails loudly.
    require(batch.filter(col("vec_id") < nCentroids).limit(1).count() == 0L,
      s"knnGraphIncremental: batch contains vec_id(s) inside the standing " +
        s"quantizer's id window [0, $nCentroids) — incremental == rebuild " +
        "requires the centroid set to stay standing")
    val assignedB = ivfAssignWith(batch, centSeq)
    val assignedAll = ivfAssignWith(standing, centSeq).unionByName(assignedB)
    val newB = topKPerQuery(
      scoreCandidates(assignedAll.join(probesOf(batch, centSeq, nProbe), "cen_id")), k)
    val candFromB =
      scoreCandidates(assignedB.join(probesOf(standing, centSeq, nProbe), "cen_id"))
    val updatedC = topKPerQuery(
      standingGraph.select(col("query_id"), col("vec_id"), col("cos"))
        .unionByName(candFromB.select(col("query_id"), col("vec_id"), col("cos"))), k)
    updatedC.unionByName(newB)
  }

  /** One synchronous round of kNN LABEL PROPAGATION (the modal-vote LPA
    * step): every node adopts the most frequent label among its graph
    * neighbors' current labels, ties to the SMALLEST label; a node with no
    * out-edges keeps its label. `g` is a directed edge list
    * `(node, nbr)` (a kNN graph's out-edges — constant degree <= k), `prev`
    * the current assignment `(node, l)`.
    *
    * Determinism: votes are integer counts and the winner is a
    * `min(struct(-cnt, label))` — the partial-aggregable argmax with a
    * pinned lexicographic tie (the `pipeline_domain_discover` modal
    * pattern), so the round is hash-exact regardless of partitioning.
    * 100 TB shape per round: one graph-sized equi-join (edge list ×
    * assignment, both relations shuffle-hash on their keys under AQE) and
    * two partial-aggregable shuffles — (node, label) counts, then the
    * k-bounded per-node argmax; nothing wider than the <= k·|V| edge list
    * ever crosses a wire, and the round count is a fixed constant. */
  def lpRound(g: DataFrame, prev: DataFrame): DataFrame = {
    val modal = g
      .join(prev.select(col("node").as("nbr"), col("l").as("nl")), Seq("nbr"))
      .groupBy(col("node"), col("nl")).agg(count(lit(1)).as("cnt"))
      .groupBy(col("node"))
      .agg(min(struct((-col("cnt")).as("m"), col("nl").as("w"))).as("ms"))
      .select(col("node"), col("ms.w").as("ml"))
    prev.join(modal, Seq("node"), "left")
      .select(col("node"), coalesce(col("ml"), col("l")).as("l"))
  }

  /** IVF RANGE search — every corpus vector with cosine >= `tau` of each
    * query (self excluded), probed-lists-approximate exactly like
    * [[ivfTopKWith]]. The radius variant matters when the consumer wants
    * "ALL near matches" (dedup sweeps, recall-bounded retrieval), not a
    * fixed k: there is no per-query selection state at all — the tau gate
    * is a pure filter fused after the broadcast-probe join, so the plan
    * is scan → broadcast hash join → filter, zero corpus shuffle, and
    * the output is match-proportional. */
  def ivfRangeSearch(corpus: DataFrame, queryPred: Column, nCentroids: Int,
                     nProbe: Int, tau: Double): DataFrame = {
    val centSeq = collectCentroids(centroids(corpus, nCentroids))
    val assigned = ivfAssignWith(corpus, centSeq)
    val probes = probesOf(corpus.filter(queryPred), centSeq, nProbe)
    scoreCandidates(assigned.join(broadcast(probes), "cen_id"))
      .filter(col("cos") >= tau)
      .select(col("query_id"), col("vec_id"), col("cos"))
  }

  /** Distributed RANGE join — the radius variant of [[ivfJoinTopK]]: the
    * query side is a full relation (far past what the broadcast serving
    * tiers allow) and stays distributed end to end; both sides meet in
    * ONE shuffle-hash join on cen_id, and the tau gate replaces
    * per-query selection state entirely. Output = every (query, corpus)
    * pair with cosine >= tau within probed lists — the all-near-pairs
    * sweep of a cross-corpus dedup pass. */
  def ivfRangeJoin(corpus: DataFrame, queries: DataFrame, nCentroids: Int,
                   nProbe: Int, tau: Double): DataFrame = {
    val centSeq = collectCentroids(centroids(corpus, nCentroids))
    val assigned = ivfAssignWith(corpus, centSeq)
    val probes = probesOf(queries, centSeq, nProbe)
    scoreCandidates(assigned.join(probes.hint("shuffle_hash"), "cen_id"))
      .filter(col("cos") >= tau)
      .select(col("query_id"), col("vec_id"), col("cos"))
  }

  /** FILTERED ANN: per-query top-k restricted to the corpus rows
    * satisfying `corpusPred` — ONE index over the full corpus, the filter
    * applied at query time (the "search English docs only" feature; the
    * index is shared across every filter, so selectivity can vary per
    * query without re-indexing). This is PRE-filtering: the predicate cuts
    * candidates INSIDE the probed lists before scoring, so top-k is exact
    * within the probed lists and never comes back short the way
    * post-filtering a fixed-k result does. The centroid set and probe
    * selection deliberately use the FULL corpus (queries and the quantizer
    * are filter-independent); only the candidate side filters — per-row
    * identical to filtering after assignment, but the kernel never runs
    * for rows the predicate drops. In the persisted layout the same
    * predicate lands on the bucketed list scan as an ordinary pushed
    * filter, compounding with bucket pruning. Deterministic end to end —
    * oracle-checkable like the unfiltered IVF tier. */
  def ivfTopKWhere(corpus: DataFrame, queryPred: Column, corpusPred: Column,
                   nCentroids: Int, nProbe: Int, k: Int): DataFrame = {
    val centSeq = collectCentroids(centroids(corpus, nCentroids))
    val assigned = corpus.filter(corpusPred)
      .withColumn("cen_id",
        NativeExpressions.argMaxCosine(col("v"), col("nrm"), centSeq))
    val probes = probesOf(corpus.filter(queryPred), centSeq, nProbe)
    topKPerQuery(scoreCandidates(assigned.join(broadcast(probes), "cen_id")), k)
  }

  /** [[ivfJoinTopK]] with hot-LIST salting — the skew arm of the
    * distributed ANN join. Coarse lists are Zipfian on clustered corpora
    * (a trained quantizer puts a dense cluster's mass in a few lists), and
    * a shuffle join on cen_id sends each list to ONE reducer: the hottest
    * list is the straggler that sets the join's wall-clock.
    * [[SaltedJoin.joinSkewAware]] splits only the lists whose corpus-side
    * count exceeds `hotThreshold` across `s` sub-partitions (salt =
    * hash(vec_id), deterministic per row) and replicates only those lists'
    * probe rows — the tail pays nothing. Row-identical to the unsalted
    * join for every (s, threshold), so `sim_join_ivf_salted` shares
    * `sim_join_ivf`'s oracle verbatim. */
  def ivfJoinTopKSalted(corpus: DataFrame, queries: DataFrame, nCentroids: Int,
                        nProbe: Int, k: Int, s: Int,
                        hotThreshold: Long): DataFrame = {
    val centSeq = collectCentroids(centroids(corpus, nCentroids))
    val assigned = ivfAssignWith(corpus, centSeq)
    val probes = probesOf(queries, centSeq, nProbe)
    topKPerQuery(scoreCandidates(SaltedJoin.joinSkewAware(
      assigned, probes, "cen_id", hash(col("vec_id")), s, hotThreshold)), k)
  }

  /** Per-vector symmetric int8 scalar quantization: `qv[i] =
    * round(v[i] * 127/max|v|)` as `array<tinyint>`, with the scale kept for
    * dequantized scoring. At 100 TB this is the memory/IO lever: the coarse
    * scan reads an 8× narrower column (byte vs double per element), and the
    * integer dot is exact arithmetic — fully deterministic, so unlike most
    * ANN shortcuts this tier is oracle-checkable end to end. */
  def quantize(corpus: DataFrame): DataFrame =
    // fused kernels (r17): the interpreted array_max(transform(abs)) +
    // round-and-cast transform HOFs dominated this pass per row —
    // MaxAbs/ScaleRoundInt8 compute the identical values (same abs/max,
    // same HALF_UP round, same tinyint cast; NativeExpressionsSpec pins it)
    // inside whole-stage codegen
    corpus
      .withColumn("qm", NativeExpressions.maxAbs(col("v")))
      .withColumn("qscale",
        when(col("qm") === 0.0, lit(0.0)).otherwise(lit(127.0) / col("qm")))
      .withColumn("qv",
        NativeExpressions.scaleRoundInt8(col("v"), col("qscale")))
      .drop("qm")

  /** Quantized top-k: coarse-rank by the int8·int8 dot (dequantized by the
    * two scales and norms), keep `candidates` per query, then rescore those
    * exactly from the full-precision vectors and take top-k.
    *
    * Plan shape: the coarse pass cross-joins the (broadcast, quantized)
    * queries against ONLY the slim quantized columns, selects candidates
    * with the bounded TopKAgg, then the ≤ |Q|·candidates survivors
    * broadcast back against the full-precision vectors — the wide column is
    * never scanned for losers and the corpus is never shuffled.
    */
  def quantizedTopK(corpus: DataFrame, queryPred: Column, candidates: Int,
                    k: Int): DataFrame = {
    val qz = quantize(corpus)
    val slim = qz.select(col("vec_id"), col("qv"), col("qscale"), col("nrm"))
    val q = qz.filter(queryPred)
      .select(col("vec_id").as("query_id"), col("qv").as("qqv"),
        col("qscale").as("qqscale"), col("nrm").as("qnrm"), col("v").as("query_v"))

    val cand = slim.crossJoin(broadcast(q.drop("query_v")))
      .filter(col("vec_id") =!= col("query_id"))
      // codegen'd exact int8 dot (graft.functions.NativeExpressions.IntDot):
      // the HOF `aggregate(zip_with(...))` form allocated + interpreted per
      // corpus×query pair and dominated this query's profile
      .withColumn("idot",
        graft.functions.NativeExpressions.intDot(col("qv"), col("qqv")))
      .withColumn("coarse",
        (col("idot").cast("double") / (col("qscale") * col("qqscale"))) /
          (col("nrm") * col("qnrm")))
      .groupBy(col("query_id"))
      .agg(TopKAgg.column(candidates, col("coarse"), col("vec_id")).as("ck"))
      .select(col("query_id"), explode(col("ck")("_2")).as("vec_id"))
      .join(broadcast(q.select(col("query_id"), col("query_v"), col("qnrm"))), "query_id")

    val rescored = corpus.select(col("vec_id"), col("v"), col("nrm"))
      .join(broadcast(cand), "vec_id")
      .withColumn("cos", cosine(col("query_v"), col("v"), col("qnrm"), col("nrm")))
    topKPerQuery(rescored, k)
  }

  /** The first-N quantizers from ONE driver collect: the lowest
    * `nCentroids` surviving vec_ids as coarse centroids and the lowest `ks`
    * as the PQ codebook. Lowest SURVIVING ids, not vec_id < N: a zero-norm
    * vector inside the prefix must not collapse the code space (prepare
    * drops it and the next surviving id takes its slot — mirrored by the
    * twins' ORDER BY vec_id LIMIT n). One collect covers both sets because
    * each is a prefix of the same ordering; two jobs would scan the corpus
    * twice for the same rows. The require guards the dense codeword index
    * the encode kernel and the twins assume. */
  def firstNQuantizers(corpus: DataFrame, nCentroids: Int, ks: Int)
      : (Seq[(Long, Seq[Double], Double)], Seq[Seq[Double]]) = {
    val all = collectCentroids(
      lowestIdCentroids(corpus, math.max(nCentroids, ks)))
    val codebook: Seq[Seq[Double]] = all.take(ks).map(_._2)
    require(codebook.length == ks,
      s"PQ codebook collapsed to ${codebook.length}/$ks codewords " +
        "(fewer than ks nonzero vectors in the corpus?)")
    (all.take(nCentroids), codebook)
  }

  /** Product-quantization (PQ/ADC) top-k — the FAISS-canonical compression
    * tier. The corpus is encoded in-scan to `m` bytes per vector (codeword
    * index per contiguous subspace, codebook = a constant set of reference
    * vectors — here the first `ks` corpus vectors, deterministic like
    * [[centroids]]; [[pqTopKTrained]] swaps in [[trainPqCodebook]]'s
    * per-subspace books over the same machinery). The coarse pass scores
    * query × code via the asymmetric-distance dot (full-precision query
    * against the PQ reconstruction,
    * [[graft.functions.NativeKernels.pqAdc]]) reading ONLY the m-byte
    * code + norm on the corpus side — at dim 64 / m 8 a 64×
    * narrower scan than raw doubles (vs 8× for the int8 tier). Survivors
    * rescore exactly from the full vectors. Every step is deterministic
    * double arithmetic with pinned tie-breaks → hash-exact oracle, rare
    * for a PQ index.
    */
  def pqTopK(corpus: DataFrame, queryPred: Column, ks: Int, m: Int,
             candidates: Int, k: Int): DataFrame =
    pqTopKWith(corpus, queryPred, firstNQuantizers(corpus, 0, ks)._2, m,
      candidates, k)

  /** [[pqTopK]] over a caller-supplied codebook (first-N or
    * [[trainPqCodebook]]'s — the encode/ADC machinery is identical). */
  def pqTopKWith(corpus: DataFrame, queryPred: Column, codebook: Seq[Seq[Double]],
                 m: Int, candidates: Int, k: Int): DataFrame = {
    val slim = corpus
      .withColumn("codes", NativeExpressions.pqEncode(col("v"), codebook, m))
      .select(col("vec_id"), col("codes"), col("nrm"))
    val q = corpus.filter(queryPred)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qnrm"))

    val cand = slim.crossJoin(broadcast(q))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("coarse",
        NativeExpressions.pqAdc(col("qv"), col("codes"), codebook, m) /
          (col("qnrm") * col("nrm")))
      .groupBy(col("query_id"))
      .agg(TopKAgg.column(candidates, col("coarse"), col("vec_id")).as("ck"))
      .select(col("query_id"), explode(col("ck")("_2")).as("vec_id"))
      .join(broadcast(q), "query_id")

    val rescored = corpus.select(col("vec_id"), col("v"), col("nrm"))
      .join(broadcast(cand), "vec_id")
      .withColumn("cos", cosine(col("qv"), col("v"), col("qnrm"), col("nrm")))
    topKPerQuery(rescored, k)
  }

  /** IVF-PQ: the composition that serves ANN at 100 TB — coarse lists
    * bound WHICH rows are scored (probe nProbe/nCentroids of the corpus),
    * PQ codes bound WHAT is read per scored row (m bytes + norm). Both the
    * assignment and the encoding are in-scan kernel calls over constants;
    * probes broadcast into the coded lists; survivors rescore exactly from
    * the full vectors. Deterministic end to end (fixed centroid choice,
    * argmax/argmin tie-breaks, sequential sums) → hash-exact oracle, which
    * neither FAISS nor Spark-ML LSH can offer.
    */
  def ivfPqTopK(corpus: DataFrame, queryPred: Column, nCentroids: Int,
                nProbe: Int, ks: Int, m: Int, candidates: Int, k: Int): DataFrame = {
    val (centSeq, codebook) = firstNQuantizers(corpus, nCentroids, ks)
    ivfPqTopKWith(centSeq, codebook, corpus, queryPred, nProbe, m, candidates, k)
  }

  /** [[ivfPqTopK]] over caller-supplied coarse centroids and codebook —
    * the seam the trained tier shares with the first-N tier. */
  def ivfPqTopKWith(centSeq: Seq[(Long, Seq[Double], Double)],
                    codebook: Seq[Seq[Double]], corpus: DataFrame,
                    queryPred: Column, nProbe: Int, m: Int,
                    candidates: Int, k: Int): DataFrame = {
    val coded = ivfAssignWith(corpus, centSeq)
      .withColumn("codes", NativeExpressions.pqEncode(col("v"), codebook, m))
      .select(col("vec_id"), col("cen_id"), col("codes"), col("nrm"))

    val q = corpus.filter(queryPred)
      .select(col("vec_id").as("query_id"), col("v").as("qv"), col("nrm").as("qnrm"))
    val probes = q.withColumn("cen_id",
      explode(NativeExpressions.topNCosineIds(col("qv"), col("qnrm"), centSeq, nProbe)))

    val cand = coded.join(broadcast(probes), "cen_id")
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("coarse",
        NativeExpressions.pqAdc(col("qv"), col("codes"), codebook, m) /
          (col("qnrm") * col("nrm")))
      .groupBy(col("query_id"))
      .agg(TopKAgg.column(candidates, col("coarse"), col("vec_id")).as("ck"))
      .select(col("query_id"), explode(col("ck")("_2")).as("vec_id"))
      .join(broadcast(q), "query_id")

    val rescored = corpus.select(col("vec_id"), col("v"), col("nrm"))
      .join(broadcast(cand), "vec_id")
      .withColumn("cos", cosine(col("qv"), col("v"), col("qnrm"), col("nrm")))
    topKPerQuery(rescored, k)
  }

  /** PQ/ADC over [[trainPqCodebook]]'s per-subspace codebooks at the
    * `Train*` sizes — same plan as [[pqTopK]], trained recall (the first-N
    * codebook's recall is what a quantizer looks like before training). */
  def pqTopKTrained(corpus: DataFrame, queryPred: Column, ks: Int, m: Int,
                    candidates: Int, k: Int): DataFrame =
    pqTopKWith(corpus, queryPred,
      trainPqCodebook(corpus, ks, m, TrainSamplePct, TrainMaxSample, TrainIters),
      m, candidates, k)

  /** IVF-PQ with BOTH quantizers trained at the `Train*` sizes —
    * [[lloydCentroids]] coarse lists, [[trainPqCodebook]] codebooks; probe
    * and encode plan identical to [[ivfPqTopK]]. */
  def ivfPqTopKTrained(corpus: DataFrame, queryPred: Column, nCentroids: Int,
                       nProbe: Int, ks: Int, m: Int, candidates: Int,
                       k: Int): DataFrame =
    ivfPqTopKWith(
      collectCentroids(lloydCentroids(corpus, nCentroids, TrainIters,
        TrainSamplePct, TrainMaxSample)),
      trainPqCodebook(corpus, ks, m, TrainSamplePct, TrainMaxSample, TrainIters),
      corpus, queryPred, nProbe, m, candidates, k)

  /** Spark ML LSH scale path: seeded BucketedRandomProjectionLSH
    * approxSimilarityJoin then per-query top-k by actual cosine.
    *
    * `maxDist` bounds the similarity join so it PRUNES instead of keeping
    * every bucket-colliding pair — at scale an unbounded join materializes
    * the full collision set. Size it from a sampled pairwise-distance
    * distribution, comfortably above the k-th-NN distance (the fixture's
    * 10th-NN distances are ~1.22; the demo query passes 1.35, its ~25th
    * pairwise percentile). The MaxValue default is the exact-within-
    * buckets mode for callers that need recall over cost. */
  def lshTopK(embeddings: DataFrame, queryPred: Column, k: Int,
              numHashTables: Int = 4, bucketLength: Double = 0.25,
              maxDist: Double = Double.MaxValue): DataFrame = {
    // bucketLength is sized for the UNIT sphere the features live on: a
    // random-unit-vector projection of a unit vector has std ~ 1/sqrt(dim)
    // (~0.125 at 64-dim), so 0.25 ≈ 2σ buckets actually partition the
    // corpus — the old 4.0 default put every vector in one or two buckets,
    // silently degrading the join to all-pairs distance computation
    // hash UNIT vectors: on the unit sphere Euclidean distance is monotone
    // in cosine (d^2 = 2 - 2cos), so the join's distance bound is a real
    // cosine floor (cos >= 1 - maxDist^2/2) instead of a scale-dependent
    // cutoff that can prune a parallel-but-longer true neighbor
    // guarded divisor: prepare() already dropped nrm == 0 rows, but the
    // LSH model's hash-UDF predicate is a Filter that Catalyst may
    // evaluate BEFORE the nrm > 0 predicate (conjunct order inside a
    // collapsed Filter is unspecified), and under ANSI the division then
    // throws on the dropped-anyway zero row (adversarial fixture,
    // zero-vector doc). The otherwise-branch value is never observable —
    // those rows cannot survive the filter.
    val prepared = prepare(embeddings)
      .withColumn("features", array_to_vector(
        transform(col("v"),
          x => x / when(col("nrm") > 0.0, col("nrm")).otherwise(lit(1.0)))
          .cast("array<double>")))
    val lsh = new BucketedRandomProjectionLSH()
      .setInputCol("features").setOutputCol("hashes")
      .setNumHashTables(numHashTables).setBucketLength(bucketLength).setSeed(42L)
    val model = lsh.fit(prepared)
    val q = prepared.filter(queryPred)
    val joined = model.approxSimilarityJoin(q, prepared, maxDist, "dist")
      .select(
        col("datasetA.vec_id").as("query_id"),
        col("datasetA.v").as("qv"), col("datasetA.nrm").as("qnrm"),
        col("datasetB.vec_id").as("vec_id"),
        col("datasetB.v").as("v"), col("datasetB.nrm").as("nrm"))
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cos", cosine(col("qv"), col("v"), col("qnrm"), col("nrm")))
    topKPerQuery(joined, k)
  }
}
