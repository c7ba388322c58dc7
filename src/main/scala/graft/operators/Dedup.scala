package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DoubleType, LongType}

import graft.functions.TextFunctions

/** Deduplication primitives for training-data pipelines: exact (hash
  * group-by), MinHash+LSH banding, SimHash, n-gram Jaccard, and
  * embedding-cosine near-dup. All column logic is native Catalyst
  * expressions (codegen-friendly, no UDFs).
  *
  * The reference (ispras/pu4spark) contains no dedup operators (SURVEY.md
  * §2.3) — this module is north-star surface, designed Spark-first:
  *
  * Scale shape (the part that matters at 100 TB):
  *  - per-doc signatures are embarrassingly parallel map work inside the
  *    scan — no shuffle;
  *  - near-dup candidate generation NEVER cross-joins the corpus: LSH bands
  *    (MinHash) / bit-bands (SimHash) / metadata blocks (cosine) shuffle on
  *    the band key, so each join bucket holds only colliding docs
  *    (expected O(dups + corpus/buckets) pairs per bucket);
  *  - skewed buckets (a viral boilerplate string) are handled by AQE skew
  *    join at runtime (`spark.sql.adaptive.enabled=true` in all sessions);
  *  - exact verification (Jaccard / hamming / cosine) runs only on
  *    candidates, post-banding.
  */
object Dedup {
  import TextFunctions.{HashMod => P}

  // ------------------------------------------------------------------
  // MinHash + LSH
  // ------------------------------------------------------------------

  /** Signature length and banding: k=16 hashes, 8 bands × 2 rows.
    * Candidate probability 1-(1-j^2)^8 ≈ 0.90 at Jaccard 0.5 and ≈ 1.0 at
    * 0.9 — tuned for "catch ≥0.5-similar, near-certain on real dups".
    */
  val MinHashK = 16
  val Bands = 8
  val RowsPerBand: Int = MinHashK / Bands

  /** MinHash signature (array<bigint>, length k) of a shingle-hash set
    * column ([[TextFunctions.shingleHashes]]). Empty set → sentinel P at
    * every position (matches the oracle's coalesce). The j-th universal
    * hash is `(a_j*h + b_j) mod P` with params derived from j by an LCG
    * step — identical constants inline into the DuckDB oracle. Codegen'd
    * kernel ([[graft.functions.NativeExpressions.minhashSignature]]);
    * bit-equality with the HOF formulation is pinned by
    * NativeExpressionsSpec.
    */
  def minhashSignature(shingleHashes: Column, k: Int = MinHashK): Column =
    graft.functions.NativeExpressions.minhashSignature(shingleHashes, k)

  /** One-permutation MinHash (OPH) signature with rotation densification
    * (array<bigint>, length k): the k× cheaper signature tier. One pass
    * over the shingle set assigns each hash to slot `h mod k` and keeps
    * the slot minimum; empty slots borrow circularly with a `t*P` offset
    * (Li/Owen/Zhang NIPS 2012; Shrivastava/Li ICML 2014). Same banding and
    * verification machinery applies downstream — only the signature pass
    * changes, which at 100 TB is the dominant scan-side CPU of the minhash
    * family. Empty shingle set → sentinel P everywhere, matching
    * [[minhashSignature]]. Codegen'd kernel
    * ([[graft.functions.NativeExpressions.ophSignature]]); bit-equality
    * with the HOF formulation pinned by NativeExpressionsSpec.
    */
  def ophSignature(shingleHashes: Column, k: Int = MinHashK): Column =
    graft.functions.NativeExpressions.ophSignature(shingleHashes, k)

  /** One bigint per LSH band: polynomial combine of the band's signature
    * rows. Equal band hash => candidate pair. */
  def bandHashes(sig: Column, bands: Int = Bands, rows: Int = RowsPerBand): Column =
    graft.functions.NativeExpressions.bandHashes(sig, bands, rows)

  /** Rolling combine of a full signature into one bigint (compact output /
    * compare key). */
  def combineHashes(sig: Column): Column =
    graft.functions.NativeExpressions.polyCombine(sig)

  /** Candidate near-dup pairs from banded signatures.
    *
    * Input: (idCol, bandsCol array<bigint>). Explodes to one row per band
    * and self-joins on (band index, band hash) — the shuffle key is the
    * band hash, so the join never materializes non-colliding pairs.
    */
  def lshCandidatePairs(df: DataFrame, idCol: String, bandsCol: String): DataFrame = {
    val exploded = df.select(col(idCol), posexplode(col(bandsCol)).as(Seq("band", "bh")))
    val a = exploded.as("a")
    val b = exploded.as("b")
    a.join(b,
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
          col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"))
      .distinct()
  }

  /** Incremental candidate pairs: a NEW batch of documents against an
    * EXISTING banded corpus (plus within-batch pairs). The daily-ingest
    * shape at 100 TB: the corpus band table is written once (in practice
    * bucketed by band hash, so the probe is a co-located join) and each
    * ingest batch joins its own bands against it — never a corpus×corpus
    * self-join, and the corpus side is not re-banded per batch.
    *
    * Output: (id_a, id_b) with id_a < id_b, covering new×corpus and
    * new×new; corpus×corpus pairs are (by construction) already resolved.
    */
  def incrementalCandidatePairs(newBands: DataFrame, corpusBands: DataFrame,
                                idCol: String, bandsCol: String): DataFrame = {
    val nw = newBands.select(col(idCol), posexplode(col(bandsCol)).as(Seq("band", "bh")))
    val old = corpusBands.select(col(idCol), posexplode(col(bandsCol)).as(Seq("band", "bh")))
    val crossGen = nw.as("a").join(old.as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
          col(s"a.$idCol") =!= col(s"b.$idCol"))
      .select(least(col(s"a.$idCol"), col(s"b.$idCol")).as("id_a"),
        greatest(col(s"a.$idCol"), col(s"b.$idCol")).as("id_b"))
    val withinNew = lshCandidatePairs(newBands, idCol, bandsCol)
    crossGen.unionAll(withinNew).distinct()
  }

  /** Exact Jaccard similarity of two SORTED-DISTINCT array columns
    * ([[TextFunctions.shingleHashes]] guarantees both); |A∩B| /
    * (|A|+|B|-|A∩B|), 0.0 when both empty. Intersection size is the
    * codegen'd two-pointer merge
    * ([[graft.functions.NativeExpressions.sortedIntersectSize]]) — same
    * value as `size(array_intersect(a,b))` on sorted-distinct input, minus
    * the per-row hash-set build that made Jaccard verification the
    * post-banding hot path. */
  def jaccard(a: Column, b: Column): Column = {
    val inter = graft.functions.NativeExpressions.sortedIntersectSize(a, b)
      .cast(DoubleType)
    val union = size(a).cast(DoubleType) + size(b).cast(DoubleType) - inter
    when(union === 0.0, lit(0.0)).otherwise(inter / union)
  }

  /** Max-directional containment `|A∩B| / min(|A|,|B|)` over two
    * sorted-distinct shingle sets — the QUOTE/SUBSET detector Jaccard
    * misses: a short document fully copied into a long one has tiny
    * Jaccard (union is the long doc) but containment 1.0. Broder's
    * asymmetric containment C(A,B) = |A∩B|/|A|, maxed over direction so
    * the pair is flagged whichever side is the quote. 0.0 when either set
    * is empty (an empty doc is contained in everything vacuously — never a
    * useful signal). Same codegen'd two-pointer intersect as [[jaccard]].
    */
  def containment(a: Column, b: Column): Column = {
    val inter = graft.functions.NativeExpressions.sortedIntersectSize(a, b)
      .cast(DoubleType)
    val minSz = least(size(a), size(b)).cast(DoubleType)
    when(minSz === 0.0, lit(0.0)).otherwise(inter / minSz)
  }

  // ------------------------------------------------------------------
  // SimHash
  // ------------------------------------------------------------------

  /** SimHash bit width. Token hashes are < 1e9+7 < 2^30, so 30 informative
    * bits; the value fits a BIGINT and survives exact double arithmetic in
    * the oracle (all intermediates < 2^53). */
  val SimHashBits = 30

  /** Frequency-weighted SimHash over a token-hash array: bit j of the
    * result is set iff sum over tokens of (bit j of hash ? +1 : -1) > 0.
    * Codegen'd kernel ([[graft.functions.NativeExpressions.simhash]]) —
    * the HOF formulation re-walked the token array once PER BIT,
    * interpreted; bit-equality pinned by NativeExpressionsSpec.
    */
  def simhash(tokenHashes: Column): Column =
    graft.functions.NativeExpressions.simhash(tokenHashes)

  /** Split a simhash into `bands` values of `bitsPerBand` bits each (for
    * banded candidate joins — near-identical docs collide on ≥1 band).
    *
    * Defaults (4 bands × 8 bits; the top band carries bits 24-29, i.e. 6
    * informative bits) give a PIGEONHOLE GUARANTEE for the hamming ≤ 3
    * contract: 3 bit flips can touch at most 3 of the 4 bands, so at least
    * one band always collides. The round-1 default (3 × 10) could miss a
    * 3-flip pair that hit all three bands.
    */
  def simhashBands(sh: Column, bands: Int = 4, bitsPerBand: Int = 8): Column =
    transform(sequence(lit(0), lit(bands - 1)), i =>
      floor(sh.cast(DoubleType) / pow(lit(2.0), i * lit(bitsPerBand))).cast(LongType)
        % lit(1L << bitsPerBand))

  /** Hamming distance between two simhash values. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  // ------------------------------------------------------------------
  // SRP (signed random projection) — deterministic LSH for embeddings
  // ------------------------------------------------------------------

  val SrpPlanes = 16
  val SrpDim = 64

  /** ±1 hyperplane entries from per-plane universal-hash constants (the
    * MinHash a_j/b_j family). The per-plane multipliers are load-bearing:
    * a derivation affine in the flat index `j*dim+i` makes plane j+8 the
    * exact NEGATION of plane j (sign structure repeats every 2·flip
    * period), collapsing half the bits into complements of the other half
    * — numerically checked here: 16 distinct planes, zero negation pairs,
    * pairwise agreement 27–38 of 64. These are COMPILE-TIME constants —
    * embedded as literals in both the Spark plan and the oracle SQL, so
    * the two engines replay identical planes. */
  private[operators] def srpSign(j: Int, i: Int): Double = {
    val a = (1103515245L * (j + 1) + 12345L) % P
    val b = (1103515245L * (j + 7) + 54321L) % P
    1.0 - 2.0 * (((a * (i + 1) + b) % P) % 2L).toDouble
  }

  /** Signed-random-projection signature for dense embeddings: bit j =
    * `[dot(v, s_j) > 0]` over 16 fixed ±1 hyperplanes. The cosine-LSH
    * analogue of [[simhash]] — two vectors at angle θ disagree on each bit
    * with probability θ/π, so banding the 16 bits 4×4 yields candidate
    * pairs for small angles (hamming ≤ 3 ALWAYS collides in some band).
    * Fully deterministic, so unlike Spark-ML's BRP-LSH this embedding LSH
    * is oracle-replicable; each plane dot is the codegen'd
    * [[graft.functions.NativeExpressions.DotProduct]] against a literal
    * array.
    */
  def srpSignature(v: Column, dim: Int = SrpDim): Column = {
    val sig = (0 until SrpPlanes).map { j =>
      val signs = Array.tabulate(dim)(i => srpSign(j, i))
      when(graft.functions.NativeExpressions.dot(v, lit(signs)) > 0.0,
        lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)
    // a ragged vector would make every dot NULL → signature 0 → all such
    // rows collide in every band (the banded join degrades toward n²) and
    // the oracle (which computes a real truncated dot) diverges — fail loud
    when(size(v) === dim, sig).otherwise(raise_error(concat(
      lit(s"srpSignature: expected $dim-dim vector, got "), size(v))))
  }

  // ------------------------------------------------------------------
  // Embedding cosine
  // ------------------------------------------------------------------

  /** Array<float> → array<double>, element-exact (the only cast both
    * engines perform identically). */
  // plain array cast, NOT transform(_, cast): higher-order functions are
  // CodegenFallback (interpreted per element, per row), while Cast over an
  // array is whole-stage-codegen native — element-wise result is identical
  // (same float→double cast, same null handling). This runs under every
  // dot-product consumer in the sim/dedup family, so the interpreted form
  // taxed dozens of hot scans (r17 profile: visible per-row milliseconds).
  def toDoubleArray(emb: Column): Column = emb.cast(ArrayType(DoubleType))

  /** Sequential-order dot product of two double arrays (acc := acc + a_i*b_i,
    * i ascending) — matches the oracle's list_reduce order, so results are
    * IEEE-bit-exact across engines. Codegen'd native expression
    * ([[graft.functions.NativeExpressions.DotProduct]]). */
  def dot(a: Column, b: Column): Column = graft.functions.NativeExpressions.dot(a, b)

  /** L2 norm with the same sequential sum order. */
  def l2norm(a: Column): Column = sqrt(dot(a, a))

  /** Cosine similarity given precomputed norms (compute norms once per row,
    * not once per pair). */
  def cosine(a: Column, b: Column, normA: Column, normB: Column): Column =
    dot(a, b) / (normA * normB)

  /** Semantic dedup (SemDeDup-style): coarse-quantize the corpus onto IVF
    * lists ([[Similarity.ivfAssign]] — assignment is an IN-SCAN argmax
    * kernel over the plan-constant centroid set, no join and no shuffle;
    * PlanShapeSpec pins the absence of any centroid join) and run the
    * tau-similarity check ONLY within a list: one
    * shuffle on cen_id, never a global self-join. Keep policy is
    * deterministic greedy-by-id: a vector is dropped iff some lower-id
    * list-mate is tau-near it. Zero-norm vectors never enter (cosine
    * undefined — [[Similarity.prepare]] drops them).
    *
    * `corpus` must be in [[Similarity.prepare]] shape (vec_id, v, nrm) and
    * SHOULD be stored by the caller (it feeds centroid selection,
    * assignment, and both pair sides). Returns (vec_id, cen_id, keep).
    */
  def semanticDedup(corpus: DataFrame, nCentroids: Int, tau: Double): DataFrame =
    semanticDedupWith(corpus, Similarity.centroids(corpus, nCentroids), tau)

  /** [[semanticDedup]] with a caller-supplied centroid set (cen_id, cv,
    * cnrm) — the e2e curation chain derives centroids from the SURVIVOR
    * set ([[Similarity.lowestIdCentroids]]), not the raw corpus. */
  def semanticDedupWith(corpus: DataFrame, cents: DataFrame, tau: Double): DataFrame = {
    val collected = Similarity.collectCentroids(cents)
    if (collected.isEmpty) {
      // An empty SURVIVOR-derived centroid set means the corpus itself is
      // empty (lowestIdCentroids of nothing): return the schema-correct
      // empty result. Over a NON-empty corpus an empty centroid set would
      // silently skip dedup — that is a caller bug, fail loud.
      require(corpus.isEmpty,
        "semanticDedupWith: empty centroid set over a non-empty corpus")
      return corpus.select(col("vec_id"),
        lit(null).cast(LongType).as("cen_id"), lit(true).as("keep"))
    }
    val assigned = graft.CheckpointUtil.materialize(
      Similarity.ivfAssignWith(corpus, collected))._1
    val a = assigned.select(col("cen_id"), col("vec_id").as("id_a"),
      col("v").as("v_a"), col("nrm").as("nrm_a"))
    val b = assigned.select(col("cen_id"), col("vec_id").as("id_b"),
      col("v").as("v_b"), col("nrm").as("nrm_b"))
    val victims = a.join(b, "cen_id")
      .filter(col("id_a") < col("id_b"))
      .withColumn("cos", cosine(col("v_a"), col("v_b"), col("nrm_a"), col("nrm_b")))
      .filter(col("cos") >= tau)
      .select(col("id_b").as("vec_id")).distinct()
      .withColumn("graft_drop", lit(true))
    assigned.join(victims, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cen_id"),
        not(coalesce(col("graft_drop"), lit(false))).as("keep"))
  }

  // ------------------------------------------------------------------
  // Blocked self-join (grid decomposition)
  // ------------------------------------------------------------------

  /** All intra-block pairs (id_a < id_b) via the triangle/grid
    * decomposition. A naive self-join on the block key has parallelism ≤
    * #distinct blocks (a handful of coarse blocks → a handful of tasks no
    * matter the cluster size, plus unsplittable skew when one block is
    * huge). Instead each row is bucketed by id into g groups and replicated
    * to the g grid cells its bucket participates in; the join key becomes
    * (block, cell) — g(g+1)/2 cells per block — restoring parallelism and
    * bounding per-task pair count by (|block|/g)². Result set is IDENTICAL
    * to the naive join: each pair meets in exactly one surviving cell.
    *
    * Output: every non-block column of `df` suffixed `_a` / `_b`.
    */
  def gridBlockedPairs(df: DataFrame, blockCol: String, idCol: String,
                       g: Int = 8): DataFrame = {
    val withB = df.withColumn("_bucket", pmod(col(idCol), lit(g)).cast("int"))
      .withColumn("_cell", explode(transform(sequence(lit(0), lit(g - 1)), x =>
        struct(least(col("_bucket"), x).as("x"), greatest(col("_bucket"), x).as("y")))))
    def side(suffix: String): DataFrame = {
      val dataCols = withB.columns.filterNot(c => c == blockCol || c == "_cell")
      withB.select(
        (Seq(col(blockCol), col("_cell")) ++ dataCols.map(c => col(c).as(c + suffix))): _*)
    }
    side("_a").join(side("_b"), Seq(blockCol, "_cell"))
      .filter(col(s"${idCol}_a") < col(s"${idCol}_b"))
      // a same-bucket pair appears in g cells; keep only its canonical cell
      .filter(col("_cell.x") === least(col("_bucket_a"), col("_bucket_b")) &&
        col("_cell.y") === greatest(col("_bucket_a"), col("_bucket_b")))
      .drop("_bucket_a", "_bucket_b", "_cell")
  }

  // ------------------------------------------------------------------
  // Near-dup clusters (connected components)
  // ------------------------------------------------------------------

  /** Canonical cluster assignment over near-dup pair edges: each node maps
    * to the minimum id reachable through the pair graph (connected
    * components by min-label propagation with POINTER DOUBLING).
    *
    * Per round, a node's new label is the min over three sources: its own
    * label, its neighbors' labels (edge propagation), and its label's label
    * (the doubling shortcut — following the chain two hops at once). Edge
    * propagation alone needs O(diameter) rounds and round-1 measured 40 s
    * at sf0.1 on chain-shaped graphs; the shortcut makes the label-distance
    * to the component minimum at least halve each round, so convergence is
    * O(log diameter) — a 100 TB-safe bound (2^20 diameter inside the
    * default maxIters).
    *
    * One stored copy and one Spark action per round: each generation of
    * labels is [[graft.CheckpointUtil.materialize]]d (lineage-free, planned
    * against its measured size) with the convergence metric riding the
    * same job, and the superseded round is freed as soon as the next
    * exists — nothing accumulates across rounds or queries.
    *
    * Exits only on the fixpoint; hitting maxIters without convergence
    * throws (an unconverged labelling is silently-wrong dedup keep/drop
    * decisions, never an acceptable return).
    *
    * Input: pairs with columns (id_a, id_b). Output: (id, canonical_id) for
    * every id appearing in some pair.
    */
  def connectedComponents(pairs: DataFrame, maxIters: Int = 20): DataFrame =
    connectedComponentsWithStats(pairs, maxIters)._1

  /** [[connectedComponents]] plus the number of rounds taken (spec hook for
    * the O(log diameter) bound). */
  // NOTE (r17, measured): do NOT scope AQE off around this loop. The
  // VERDICT-r16 hypothesis was that the ~130 AQE orchestration jobs are
  // the cost; an AQE-off A/B DOUBLED sim_cluster_knn (5.4 s → 11.3 s
  // bench; 220 s executor CPU) because AQE's runtime small-join broadcast
  // conversion is what keeps each round's label joins shuffle-free — with
  // it off, the checkpointed frames' unknown stats force 32-partition
  // sort-merge joins every round. The orchestration jobs are the cheap
  // part.
  def connectedComponentsWithStats(pairs: DataFrame, maxIters: Int = 20): (DataFrame, Int) = {
    import graft.CheckpointUtil.{materialize, releaseCheckpoint}
    // Labels only ever decrease (each round takes a min that includes the
    // old label), so a round changed nothing iff the label sum held still.
    // Summed as decimal: a long sum of ids could overflow.
    val labelSum = sum(col("canonical_id").cast("decimal(38,0)")).as("label_sum")
    def sumOf(m: org.apache.spark.sql.Row): Any = m.getAs[Any]("label_sum")
    val edges = materialize(
      pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
        .unionAll(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
        .distinct())._1
    val (labels0, m0) = materialize(edges.groupBy(col("src"))
      .agg(least(col("src"), min(col("dst"))).as("canonical_id"))
      .select(col("src").as("id"), col("canonical_id")), labelSum)
    var labels = labels0
    var prevSum = sumOf(m0)
    var converged = false
    var iter = 0
    while (!converged && iter < maxIters) {
      iter += 1
      // (1) edge propagation: min label among my neighbors
      val viaNeighbors = edges
        .join(labels.withColumnRenamed("id", "dst"), "dst")
        .groupBy(col("src").as("id"))
        .agg(min(col("canonical_id")).as("neighbor_min"))
      val half = labels.join(viaNeighbors, Seq("id"), "left")
        .select(col("id"),
          least(col("canonical_id"), coalesce(col("neighbor_min"), col("canonical_id")))
            .as("half_label"))
      // (2) pointer doubling: follow my (propagated) label's label. Label
      // values are always ids present in `labels` (they are minima over
      // ids), so the left join only misses when the label is already the
      // component minimum — coalesce keeps it. (r17 measured: extra jump
      // levels per round do NOT cut the round count on random-id graphs —
      // the binding constraint is adjacent pointer-tree merging via the
      // edge step, one tree per round, not pointer depth — so one jump is
      // the right cost.)
      val byId = labels.select(col("id").as("lbl"), col("canonical_id").as("grand"))
      val doubled = half.join(byId, half("half_label") === byId("lbl"), "left")
        .select(col("id"),
          least(col("half_label"), coalesce(col("grand"), col("half_label")))
            .as("canonical_id"))
      // (3) one action: materialize the new labels, the label sum riding
      // the same job
      val (next, m) = materialize(doubled, labelSum)
      // safe: `next` is EAGER and its plan is its own bare leaf, so the
      // superseded round is referenced by nothing once `next` exists
      releaseCheckpoint(labels)
      labels = next
      converged = sumOf(m) == prevSum
      prevSum = sumOf(m)
    }
    releaseCheckpoint(edges)
    if (!converged)
      throw new IllegalStateException(
        s"connectedComponents did not converge in $maxIters rounds — " +
          "with pointer doubling this means component structure beyond " +
          s"2^$maxIters label-chain length or a bug; refusing to return " +
          "unconverged (silently wrong) cluster ids")
    (labels, iter)
  }

  // ------------------------------------------------------------------
  // Exact dedup
  // ------------------------------------------------------------------

  /** Exact dedup by content fingerprint: one row per distinct fingerprint
    * with the canonical (minimum) id and the duplicate count. At scale this
    * is a single hash aggregation with map-side partial combine — the
    * canonical 100 TB exact-dedup plan (no sort, no window).
    */
  def exactDedup(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol), TextFunctions.fingerprint(col(textCol)).as("fp"))
      .groupBy(col("fp"))
      .agg(min(col(idCol)).as("canonical_id"), count(lit(1)).as("n_copies"))
}
