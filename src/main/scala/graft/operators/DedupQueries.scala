package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType}

import graft.Tables
import graft.functions.TextFunctions

/** Driver-facing dedup queries with exact DuckDB oracle twins.
  *
  * The Spark plans are the scalable shape (banded joins, no corpus
  * cross-join); the oracle SQL may use O(n²) pair enumeration — the gate
  * compares RESULTS, and at sf0.01 (500 docs) the oracle side is trivial.
  */
object DedupQueries {
  import Dedup._
  import TextFunctions.shingleHashes

  /** documents spread across shuffle partitions — gated on scan
    * parallelism ([[Spread.ifNarrow]]): fires for the single-row-group
    * bench fixtures (one scan task otherwise starves 31 cores of the
    * CPU-heavy signature kernels), never for a multi-split corpus. */
  private def docsSpread(s: SparkSession, dir: String): DataFrame =
    Spread.ifNarrow(Tables.documents(s, dir), col("doc_id"))

  /** embeddings, spread under the same gate. */
  private def embSpread(s: SparkSession, dir: String): DataFrame =
    Spread.ifNarrow(Tables.embeddings(s, dir), col("vec_id"))

  /** documents + per-doc trigram shingle-hash set. */
  private def docShingles(s: SparkSession, dir: String, n: Int = 3): DataFrame =
    docsSpread(s, dir)
      .select(col("doc_id"), col("source"), shingleHashes(col("text"), n).as("shh"))

  /** LSH candidates -> verified >=0.5-Jaccard pairs -> connected
    * components (id, canonical_id): the ONE near-dup cluster definition,
    * shared by `dedup_clusters` (emit it), `dedup_canonical` (the keep
    * decision) and `pipeline_corpus_prep` (the drop decision) — a
    * threshold or band tweak can no longer fork the cluster definition
    * between the three. */
  private def nearDupClusters(s: SparkSession, dir: String): DataFrame = {
    val d = docShingles(s, dir)
      .withColumn("bands", bandHashes(minhashSignature(col("shh"))))
      .persist()
    val cands = lshCandidatePairs(d.select("doc_id", "bands"), "doc_id", "bands")
    val pairs = cands
      .join(d.select(col("doc_id").as("id_a"), col("shh").as("shh_a")), "id_a")
      .join(d.select(col("doc_id").as("id_b"), col("shh").as("shh_b")), "id_b")
      .filter(jaccard(col("shh_a"), col("shh_b")) >= 0.5)
      .select("id_a", "id_b")
    connectedComponents(pairs)
  }

  /** Standalone keep-first paragraph dedup body (`dedup_paragraph`).
    * `wide = true` swaps the mod-1e9+7 window hash for the full 64-bit
    * kernel ([[graft.functions.NativeExpressions.windowHashes64]]) — the
    * 100 TB arm: at ~10¹¹ paragraphs the 31-bit space is past its
    * birthday bound (n²/2P false merges excise REAL text), the wide
    * space defers that to n ≈ 2³². The substring family's r12 convention
    * applies verbatim: mod-P stays the driver-oracle surface (DuckDB
    * BIGINT errors on 64-bit overflow), the wide arm is pinned by
    * DedupStressSpec's 200k-paragraph containment/contrast arm. */
  private[operators] def paragraphDedup(docs: DataFrame,
      wide: Boolean = false): DataFrame = {
    import graft.functions.NativeExpressions
    val w = 20
    val wh = if (wide) NativeExpressions.windowHashes64(col("text"), w)
             else NativeExpressions.windowHashes(col("text"), w)
    // persist: the exploded paragraph set feeds the canonical agg AND the
    // join-back — without it the scan + kernel pass runs twice
    val paras = docs
      .select(col("doc_id"), posexplode(wh))
      .select(col("doc_id"), col("pos").cast(LongType).as("pidx"),
        col("col").as("h"))
      .persist()
    val canon = paras.groupBy(col("h"))
      .agg(min(struct(col("doc_id"), col("pidx"))).as("c"))
      .select(col("h"), col("c").getField("doc_id").as("c_doc"),
        col("c").getField("pidx").as("c_pidx"))
    paras.join(canon, "h")
      .withColumn("kept",
        col("doc_id") === col("c_doc") && col("pidx") === col("c_pidx"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_paras"),
        sum(when(col("kept"), 0L).otherwise(1L)).as("n_dup"),
        NativeExpressions.polyCombine(
          transform(array_sort(collect_list(when(col("kept"),
            struct(col("pidx"), col("h"))))), e => e.getField("h")))
          .as("kept_hash"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    "dedup_exact" -> ((s, dir) => {
      // docsSpread: the fingerprint hash runs across all cores instead of
      // inside the (single-row-group) scan task
      exactDedup(docsSpread(s, dir), "doc_id", "text").orderBy("canonical_id")
    }),

    "dedup_minhash_sig" -> ((s, dir) => {
      docShingles(s, dir).select(
        col("doc_id"),
        size(col("shh")).cast(LongType).as("n_shingles"),
        combineHashes(minhashSignature(col("shh"))).as("sig_hash"))
        .orderBy("doc_id")
    }),

    "dedup_minhash_pairs" -> ((s, dir) => {
      // persist: the signature table feeds the explode AND both join
      // branches — without it the per-doc signature pipeline runs 3×
      val d = docShingles(s, dir)
        .withColumn("bands", bandHashes(minhashSignature(col("shh"))))
        .persist()
      val cands = lshCandidatePairs(d.select("doc_id", "bands"), "doc_id", "bands")
      cands
        .join(d.select(col("doc_id").as("id_a"), col("shh").as("shh_a")), "id_a")
        .join(d.select(col("doc_id").as("id_b"), col("shh").as("shh_b")), "id_b")
        .withColumn("jaccard", jaccard(col("shh_a"), col("shh_b")))
        .filter(col("jaccard") >= 0.5)
        .select("id_a", "id_b", "jaccard")
        .orderBy("id_a", "id_b")
    }),

    "dedup_oph_sig" -> ((s, dir) => {
      // one-permutation MinHash: ONE pass over the shingle set (vs k=16
      // passes) — the k× cheaper signature tier for a 100 TB scan, same
      // compact output surface as dedup_minhash_sig
      docShingles(s, dir).select(
        col("doc_id"),
        size(col("shh")).cast(LongType).as("n_shingles"),
        combineHashes(ophSignature(col("shh"))).as("sig_hash"))
        .orderBy("doc_id")
    }),

    "dedup_oph_pairs" -> ((s, dir) => {
      // OPH signatures feed the SAME banding + LSH join + exact-Jaccard
      // verify as dedup_minhash_pairs — only the signature pass changes.
      // Output surface identical, so the two tiers are directly
      // comparable (recall overlap pinned in OphSpec).
      val d = docShingles(s, dir)
        .withColumn("bands", bandHashes(ophSignature(col("shh"))))
        .persist()
      val cands = lshCandidatePairs(d.select("doc_id", "bands"), "doc_id", "bands")
      cands
        .join(d.select(col("doc_id").as("id_a"), col("shh").as("shh_a")), "id_a")
        .join(d.select(col("doc_id").as("id_b"), col("shh").as("shh_b")), "id_b")
        .withColumn("jaccard", jaccard(col("shh_a"), col("shh_b")))
        .filter(col("jaccard") >= 0.5)
        .select("id_a", "id_b", "jaccard")
        .orderBy("id_a", "id_b")
    }),

    "dedup_incremental" -> ((s, dir) => {
      // the daily-ingest shape: the docs with doc_id % 5 == 4 play the NEW
      // batch, the rest the existing corpus; candidates = new×corpus ∪
      // new×new — the corpus is never self-joined or re-banded
      val d = docShingles(s, dir)
        .withColumn("bands", bandHashes(minhashSignature(col("shh"))))
        .persist()
      val isNew = col("doc_id") % 5 === 4
      val cands = incrementalCandidatePairs(
        d.filter(isNew).select("doc_id", "bands"),
        d.filter(!isNew).select("doc_id", "bands"), "doc_id", "bands")
      cands
        .join(d.select(col("doc_id").as("id_a"), col("shh").as("shh_a")), "id_a")
        .join(d.select(col("doc_id").as("id_b"), col("shh").as("shh_b")), "id_b")
        .withColumn("jaccard", jaccard(col("shh_a"), col("shh_b")))
        .filter(col("jaccard") >= 0.5)
        .select("id_a", "id_b", "jaccard")
        .orderBy("id_a", "id_b")
    }),

    "pipeline_sample" -> ((s, dir) => {
      // consistent hash sampling: a doc's fate depends only on its key, so
      // the sample is stable under reruns, repartitioning, and corpus
      // growth — unlike df.sample(), whose draw is partition-dependent.
      // The 10% rate is exact-in-expectation per hash bucket; the hash is
      // the engine's portable polyHash, so the oracle replays it exactly.
      docsSpread(s, dir)
        .filter(pmod(graft.functions.TextFunctions.polyHash(
          col("doc_id").cast(StringType)), lit(100)) < 10)
        .select(col("doc_id"),
          graft.functions.TextFunctions.tokenCount(col("text"))
            .cast(LongType).as("n_tokens"))
        .orderBy("doc_id")
    }),

    // SimHash over the distinct trigram shingle set (token-level simhash
    // saturates on small-vocab corpora — all docs share most tokens, so
    // nearly everything lands within hamming 3; shingles discriminate).
    "dedup_simhash" -> ((s, dir) => {
      docsSpread(s, dir).select(
        col("doc_id"),
        simhash(shingleHashes(col("text"), 3)).as("sh"))
        .orderBy("doc_id")
    }),

    "dedup_simhash_pairs" -> ((s, dir) => {
      val d = docsSpread(s, dir).select(
        col("doc_id"),
        simhash(shingleHashes(col("text"), 3)).as("sh"))
        .withColumn("bands", simhashBands(col("sh")))
        .persist() // reused by explode + both join branches
      val cands = lshCandidatePairs(d.select("doc_id", "bands"), "doc_id", "bands")
      cands
        .join(d.select(col("doc_id").as("id_a"), col("sh").as("sh_a")), "id_a")
        .join(d.select(col("doc_id").as("id_b"), col("sh").as("sh_b")), "id_b")
        .withColumn("hamming", hamming(col("sh_a"), col("sh_b")).cast(LongType))
        .filter(col("hamming") <= 3)
        .select("id_a", "id_b", "hamming")
        .orderBy("id_a", "id_b")
    }),

    // End-to-end corpus preparation — the composite pass a pretraining
    // pipeline runs: quality-filter, drop near-duplicates (keep each
    // cluster's canonical doc), emit per-doc stats. One scan + the
    // banded near-dup machinery; the dedup decision is an anti-join whose
    // victim list is duplicate-proportional — probe-adaptive
    // ([[AdaptiveJoin]]): broadcast on a clean corpus, shuffle-hash on a
    // duplicate-heavy one (both arms pinned in DedupSpec).
    "pipeline_corpus_prep" -> ((s, dir) => corpusPrepFrame(s, dir)),

    // Custom sketch AGGREGATE (UDAF): one mergeable MinHash signature per
    // source over all its docs' shingles — map-side partial agg, only
    // (groups × 16 longs) cross the shuffle.
    "dedup_minhash_by_source" -> ((s, dir) => {
      docShingles(s, dir)
        // drop shingle-less docs so a source with ONLY short docs is absent
        // on both engines (the oracle's unnest produces no rows for it;
        // without this filter Spark would emit its sentinel signature)
        .filter(size(col("shh")) > 0)
        .groupBy(col("source"))
        .agg(MinHashSketchAgg.column(col("shh")).as("sig"))
        .select(col("source"), combineHashes(col("sig")).as("sig_hash"))
        .orderBy("source")
    }),

    // Vocabulary heavy-hitters: explode -> count -> global top-k (the
    // "build the tokenizer vocab" pipeline op; two-stage agg, then
    // TakeOrdered for k — never a full sort).
    "text_top_tokens" -> ((s, dir) => {
      docsSpread(s, dir)
        .select(explode(graft.functions.TextFunctions.tokens(col("text"))).as("tok"))
        .groupBy(col("tok")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("tok"))
        .limit(20)
    }),

    // Top corpus BIGRAMS — the n-gram head every LM/collocation analysis
    // starts from: string-pair counts at the (token, next-token) grain,
    // one map-side-combined shuffle, top-20 via sort+limit
    // (TakeOrderedAndProject, never a global sort). The token array is
    // let-bound (TextFunctions.bound) — unbound, Catalyst inlines the
    // tokenizer into every element_at and the scan goes quadratic
    // (measured 6.9 s -> this form at sf0.1).
    "text_top_bigrams" -> ((s, dir) => {
      val bigrams = graft.functions.TextFunctions.bound(
        graft.functions.TextFunctions.tokens(col("text"))) { tk =>
        when(size(tk) >= 2,
          transform(sequence(lit(1), size(tk) - 1),
            i => concat(element_at(tk, i), lit(" "), element_at(tk, i + 1))))
          .otherwise(array().cast("array<string>"))
      }
      docsSpread(s, dir)
        .select(explode(bigrams).as("bigram"))
        .groupBy(col("bigram")).agg(count(lit(1)).as("n"))
        .orderBy(col("n").desc, col("bigram"))
        .limit(20)
    }),

    // Canonical cluster ids over the >=0.5-Jaccard near-dup graph:
    // LSH candidates -> verified pairs -> connected components. The keep/
    // drop decision of a 100 TB dedup pass (keep canonical_id, drop rest).
    "dedup_clusters" -> ((s, dir) => {
      nearDupClusters(s, dir).orderBy("id")
    }),

    // The OTHER half of the dedup decision: not "which docs are duplicates"
    // (dedup_clusters) but "which copy do we KEEP". Production pipelines
    // keep the highest-QUALITY member of each near-dup cluster, not the
    // lowest id (the copies differ — truncation, boilerplate, OCR noise).
    // Representative = argmax by (qualityScore, ties to lowest doc_id) —
    // exactly TopKAgg(k=1)'s ordering, so selection is a mergeable
    // k-bounded aggregate with map-side partials: no per-cluster window,
    // no sort, and the quality tree is evaluated once per member in-scan.
    "dedup_canonical" -> ((s, dir) => {
      val members = nearDupClusters(s, dir) // (id, canonical_id)
      val quality = docsSpread(s, dir).select(col("doc_id"),
        TextFunctions.qualityScore(col("text")).as("quality"))
      members.join(quality, col("id") === col("doc_id"))
        .groupBy(col("canonical_id"))
        .agg(count(lit(1)).as("n_members"),
          TopKAgg.column(1, col("quality"), col("id")).as("tk"))
        .select(col("canonical_id").as("cluster_id"), col("n_members"),
          col("tk")(0)("_2").as("rep_id"), col("tk")(0)("_1").as("rep_quality"))
        .orderBy("cluster_id")
    }),

    // Soft dedup — keep EVERY member of a near-dup cluster but downweight
    // it so the whole cluster contributes one document's worth of
    // training mass (the soft alternative to dropping: near-dup copies
    // still carry signal, it is the repetition that hurts training).
    // Cluster definition is [[nearDupClusters]] — the SAME >=0.5-Jaccard
    // CC the hard keep/drop queries use, so soft and hard dedup cannot
    // fork. weight_ppm = 1e6 div |cluster| keeps the compared surface
    // integer-only. The cluster map is duplicate-proportional, so the
    // corpus-side join is probe-adaptive ([[AdaptiveJoin]]): broadcast
    // while it fits — the corpus itself never shuffles to learn its
    // weights — shuffle-hash on a duplicate-heavy corpus.
    "dedup_soft_weight" -> ((s, dir) => softWeightFrame(s, dir).drop("source")),

    // The CONSUMER of the soft weights: draw a weight-proportional sample
    // instead of hard-dropping duplicates — k docs per source stratum,
    // inclusion probability ∝ weight_ppm. The draw is SEQUENTIAL POISSON
    // (Ohlsson) order sampling, the integer-exact sibling of
    // Efraimidis–Spirakes exponential keys: priority = u·10⁶ div weight
    // with u a consistent hash of the doc key — smallest-k priorities win.
    // No random(): rerun-, growth-, and partitioning-stable, like every
    // other draw in the engine. Selection is TopKAgg (k-bounded mergeable
    // aggregate, map-side partials) — only (sources × k) rows cross the
    // shuffle, no per-stratum sort/window at any corpus size.
    "pipeline_weighted_sample" -> ((s, dir) =>
      weightedSampleFrom(softWeightFrame(s, dir), WeightedSampleK)
        .orderBy("source", "draw_rank")),

    // Metadata-blocked n-gram (bigram) Jaccard: the "block by a cheap key,
    // verify only within blocks" pattern. Blocking trades recall for a
    // shuffle-on-block-key plan; the MinHash query above is the
    // recall-complete path.
    // Quote/subset detection: max-directional containment |A∩B|/min(|A|,|B|)
    // flags a short doc copied INTO a long one — tiny Jaccard (the union is
    // the long doc), containment ~1.0. Same blocked-pair generation and
    // codegen'd intersect as the Jaccard query; the training-data use is
    // boilerplate/quotation pruning that symmetric near-dup passes miss.
    "dedup_containment" -> ((s, dir) => {
      val d = docShingles(s, dir, n = 2).persist()
      gridBlockedPairs(d, "source", "doc_id")
        .withColumn("containment", containment(col("shh_a"), col("shh_b")))
        .filter(col("containment") >= 0.3)
        .withColumn("jaccard", jaccard(col("shh_a"), col("shh_b")))
        .select(col("source"), col("doc_id_a").as("id_a"),
          col("doc_id_b").as("id_b"), col("containment"), col("jaccard"))
        .orderBy("id_a", "id_b")
    }),

    "dedup_jaccard_blocked" -> ((s, dir) => {
      val d = docShingles(s, dir, n = 2).persist()
      gridBlockedPairs(d, "source", "doc_id")
        // necessary condition: J(A,B) <= min(|A|,|B|)/max(|A|,|B|) — prunes
        // most pairs before the expensive intersect, result-identical
        .filter(least(size(col("shh_a")), size(col("shh_b"))).cast("double")
          >= greatest(size(col("shh_a")), size(col("shh_b"))).cast("double") * 0.25)
        .withColumn("jaccard", jaccard(col("shh_a"), col("shh_b")))
        .filter(col("jaccard") >= 0.25)
        .select(col("source"), col("doc_id_a").as("id_a"),
          col("doc_id_b").as("id_b"), col("jaccard"))
        .orderBy("id_a", "id_b")
    }),

    // Embedding-cosine near-dup, blocked by the label column (at 100 TB the
    // block key would be a coarse cluster/LSH bucket; see Similarity for the
    // ANN path). Norms computed once per row, not once per pair.
    // SRP-LSH over embeddings, FULL corpus (no metadata blocking): the
    // deterministic cosine-LSH complement of dedup_cosine_pairs' grid —
    // catches near-dups the label blocks would split. Signature is 16
    // literal ±1 hyperplane dots (codegen'd), banded 4×4, candidates
    // verified with exact cosine.
    "dedup_srp_pairs" -> ((s, dir) => {
      val e = embSpread(s, dir).select(
        col("vec_id"), toDoubleArray(col("embedding")).as("v"))
        .withColumn("nrm", l2norm(col("v")))
        .filter(col("nrm") > 0.0)
        .withColumn("sig", srpSignature(col("v")))
        .withColumn("bands", simhashBands(col("sig"), 4, 4))
        .persist()
      lshCandidatePairs(e.select("vec_id", "bands"), "vec_id", "bands")
        .join(e.select(col("vec_id").as("id_a"), col("v").as("v_a"),
          col("nrm").as("nrm_a")), "id_a")
        .join(e.select(col("vec_id").as("id_b"), col("v").as("v_b"),
          col("nrm").as("nrm_b")), "id_b")
        .withColumn("cos", cosine(col("v_a"), col("v_b"), col("nrm_a"), col("nrm_b")))
        .filter(col("cos") >= 0.4)
        .select("id_a", "id_b", "cos")
        .orderBy("id_a", "id_b")
    }),

    "dedup_cosine_pairs" -> ((s, dir) => {
      val e = embSpread(s, dir).select(
        col("vec_id"), col("label"), toDoubleArray(col("embedding")).as("v"))
        .withColumn("nrm", l2norm(col("v")))
        // a zero vector has no defined cosine — drop it like every other
        // family (prepare's rule); without this the ANSI division throws
        // on a zero-norm corpus row (adversarial fixture)
        .filter(col("nrm") > 0.0)
        .persist()
      gridBlockedPairs(e, "label", "vec_id")
        .withColumn("cos", cosine(col("v_a"), col("v_b"), col("nrm_a"), col("nrm_b")))
        .filter(col("cos") >= 0.4)
        .select(col("label"), col("vec_id_a").as("id_a"),
          col("vec_id_b").as("id_b"), col("cos"))
        .orderBy("id_a", "id_b")
    }),

    // Paragraph-level EXACT dedup (the RefinedWeb-style pass doc-level
    // dedup misses: boilerplate repeated across distinct documents). The
    // corpus has no paragraph breaks, so "paragraph" = a non-overlapping
    // 20-token window — hashed IN-SCAN by one kernel pass (no token
    // explode). Canonical occurrence per hash is a map-side-combinable
    // min(struct) aggregate; every later occurrence is dropped and the
    // doc's surviving content is pinned by an ordered hash combine. Plan:
    // the two unavoidable data-sized shuffles of any global exact dedup
    // (group by hash, join back by hash) and the per-doc re-aggregation —
    // never a window, never a self-join. Docs with zero tokens have no
    // paragraphs and are absent by construction (both engines).
    "dedup_paragraph" -> ((s, dir) =>
      paragraphDedup(docsSpread(s, dir)).orderBy("doc_id")),

    // Semantic dedup at the 100 TB shape (SemDeDup-style): embeddings are
    // coarse-quantized onto IVF lists (centroids broadcast, assignment
    // map-side — Similarity's machinery), and the tau-similarity check runs
    // ONLY within a list: one shuffle on cen_id, never a global self-join.
    // Keep policy is deterministic greedy-by-id: a vector is dropped iff
    // some lower-id list-mate is tau-near it. Zero-norm vectors never enter
    // (cosine undefined — Similarity.prepare drops them).
    "dedup_semantic" -> ((s, dir) => {
      val corpus = Similarity.prepare(Tables.embeddings(s, dir)).persist()
      semanticDedup(corpus, nCentroids = 16, tau = 0.4).orderBy("vec_id")
    }),

    // Semantic dedup END TO END over DOCUMENTS: embeddings are derived
    // in-scan by the feature-hashing trick (signed token counts, one
    // kernel pass — no trained encoder, no external embedding table),
    // then the same IVF-list tau machinery as dedup_semantic. Every step
    // is deterministic integer/fixed-order arithmetic, so the whole
    // embed -> assign -> dedup chain is hash-exact — the oracle-able twin
    // of "run SemDeDup on your corpus". tau=0.9 ~ the corpus's 99.9th
    // cosine percentile (unigram profiles of a shared-vocabulary corpus
    // are globally similar; only near-identical profiles are dups).
    "dedup_semantic_text" -> ((s, dir) => {
      import graft.functions.NativeExpressions
      val emb = docsSpread(s, dir)
        .select(col("doc_id").as("vec_id"),
          NativeExpressions.hashEmbed(col("text"), 64).as("v"))
        .withColumn("nrm", l2norm(col("v")))
        .filter(col("nrm") > 0.0)
        .persist()
      semanticDedup(emb, nCentroids = 16, tau = 0.9).orderBy("vec_id")
    }),

    // Character-level near-dup pairs at edit distance <= EdK — the
    // typo/OCR-noise class that token-shingle Jaccard misses (a 1-char
    // edit inside a token kills every shingle crossing it, but barely
    // moves edit distance). Segment blocking in the PassJoin family
    // (Li et al. 2011, "PassJoin: a partition-based method for similarity
    // joins") on a FIXED grid: by pigeonhole, two strings within distance
    // k share at least one of the first k+1 width-W prefix blocks
    // unedited, displaced by at most k — so candidates are an equi-join
    // on (block index, block text), never an all-pairs. Fixture-audited
    // recall-COMPLETE vs brute force (24/24 at sf0.001, 251/251 at
    // sf0.1) with ~4.9k candidates from 5k docs (vs 12.5M all-pairs).
    // Verification is Spark's THRESHOLDED levenshtein — O(k*n) early
    // abandon per pair, not O(n^2). Contract: every pair whose LONGER
    // member has >= (k+1)*W chars is guaranteed (the longer doc indexes;
    // the length band admits partners down to (k+1)*W - k chars); pairs
    // where BOTH docs are shorter carry no pigeonhole guarantee and are
    // out of the emitted surface on both engines.
    //
    // Unicode contract (probed empirically, Spark 4.1.2 vs DuckDB): the
    // ENGINE side is code-point correct for ALL of Unicode — Spark's
    // length/substr/levenshtein each count code points (incl. astral
    // chars), so blocking and verification use one consistent character
    // grain and the pigeonhole guarantee holds on any text (spec-pinned
    // on BMP + astral fixtures in DedupSpec). The ORACLE parity surface
    // is ASCII-only: DuckDB's length/substring are code-point but its
    // levenshtein counts UTF-8 BYTES ('é'→2, astral→4), so cross-engine
    // distances diverge on any non-ASCII pair — a DuckDB limitation, not
    // an engine one. Driver testdata is ASCII, so the gate is unaffected.
    "dedup_editdist_pairs" -> ((s, dir) => editDistPairs(docsSpread(s, dir))),

    // Daily-ingest arm of the char-level family (the standing pattern:
    // every dedup family carries batch + incremental arms). Docs with
    // doc_id % 5 == 4 play the NEW batch; candidates = new-probes-vs-all-
    // index ∪ new-index-vs-corpus-probes — the standing corpus is never
    // self-joined: it contributes one scan-and-shuffle pass per batch
    // (like the minhash incremental's corpus re-band) while the candidate
    // JOIN OUTPUT — and everything downstream (verify, emit) — is
    // batch-proportional (stress-pinned at 75k docs / 750-doc batch).
    // Emitted pairs are EXACTLY the full rebuild restricted to pairs
    // touching the batch (the oracle runs the full CTE + that filter).
    "dedup_editdist_incremental" -> ((s, dir) =>
      editDistPairsIncremental(docsSpread(s, dir), col("doc_id") % 5 === 4)
        .orderBy("id_a", "id_b")),

    // Canonical clusters over the char-level near-dup graph — the same
    // pairs -> pointer-doubling-CC composition as the Jaccard family
    // (dedup_clusters), over [[editDistPairs]]' verified edges; the twin
    // composes the SAME shared recursive closure tail, so neither the
    // pair definition nor the closure can fork between the two graphs.
    "dedup_editdist_clusters" -> ((s, dir) =>
      connectedComponents(editDistPairsUnordered(docsSpread(s, dir))
        .select(col("id_a"), col("id_b"))).orderBy("id")),

    // Leakage-safe train/valid/test split: `pipeline_split` keyed on the
    // DOC hash lets a near-dup cluster straddle train and eval — the
    // benchmark-contamination path dedup exists to close. This variant
    // keys the 90/5/5 hash split on the cluster CANONICAL (singletons:
    // their own id), so every near-dup cluster lands wholly on one side
    // by construction. Cluster definition is the ONE [[nearDupClusters]]
    // (no fork); the cluster map is duplicate-proportional, so the
    // corpus-side join is probe-adaptive ([[AdaptiveJoin]]).
    "pipeline_split_leakproof" -> ((s, dir) => leakproofSplit(s, dir))
  )

  /** `pipeline_split_leakproof`'s frame, budget-parameterized for the
    * degrade-arm spec. */
  private[operators] def leakproofSplit(s: SparkSession, dir: String,
      maxRows: Long = AdaptiveJoin.DefaultMaxBroadcastRows): DataFrame = {
    // persist: the probe and the join both consume the cluster map
    val canon = graft.CheckpointUtil.track(nearDupClusters(s, dir)
      .select(col("id").as("doc_id"), col("canonical_id"))
      .persist())
    val bucket = pmod(
      TextFunctions.polyHash(col("cluster_id").cast(StringType)), lit(100))
    AdaptiveJoin(docsSpread(s, dir).select(col("doc_id")), canon,
      Seq("doc_id"), "left", maxRows)
      .withColumn("cluster_id", coalesce(col("canonical_id"), col("doc_id")))
      .select(col("doc_id"), col("cluster_id"),
        when(bucket < 90, "train").when(bucket < 95, "valid")
          .otherwise("test").as("split"))
      .orderBy("doc_id")
  }

  /** Edit-distance threshold / anchor-block width for
    * `dedup_editdist_pairs`; MinLen = (k+1)*W is the shortest doc the
    * pigeonhole guarantee covers. */
  private[operators] val EdK = 4
  private[operators] val EdW = 8
  private[operators] val EdMinLen = (EdK + 1) * EdW

  /** `dedup_editdist_pairs`' frame (see the query comment for the
    * blocking argument). Shapes: two linear explodes (k+1 index blocks,
    * (k+1)(2k+1) probe substrings per doc), one equi-join on
    * (i, block) + a pair-grain distinct, then the candidate-sized text
    * join-back (no hint — candidates are duplicate-proportional, AQE
    * picks broadcast from measured sizes, the degrade stays possible). */
  /** Unordered verified pairs — the frame [[editDistPairs]] sorts for the
    * driver surface and `dedup_editdist_clusters` consumes as-is (CC
    * reshuffles by key immediately; a sort ahead of it is a wasted
    * range exchange). */
  private[operators] def editDistPairsUnordered(docs: DataFrame): DataFrame = {
    // persist: index explode, probe explode, and both text join-backs
    // all re-consume the filtered corpus slice. The slice keeps every
    // doc that can be the SHORTER member of a guaranteed pair (length
    // band: longer >= EdMinLen and |la-lb| <= EdK implies shorter >=
    // EdMinLen - EdK); only the INDEX role requires the full EdMinLen
    // (its k+1 anchor blocks must exist).
    val d = graft.CheckpointUtil.track(docs
      .filter(length(col("text")) >= EdMinLen - EdK)
      .select(col("doc_id"), col("text"), length(col("text")).as("l"))
      .persist())
    editDistCandidates(d)
      .join(d.select(col("doc_id").as("id_a"), col("text").as("ta")), "id_a")
      .join(d.select(col("doc_id").as("id_b"), col("text").as("tb")), "id_b")
      // thresholded levenshtein returns -1 past EdK (the early abandon)
      .withColumn("dist", levenshtein(col("ta"), col("tb"), EdK).cast(LongType))
      .filter(col("dist") >= 0 && col("dist") <= EdK)
      .select(col("id_a"), col("id_b"), col("dist"))
  }

  private[operators] def editDistPairs(docs: DataFrame): DataFrame =
    editDistPairsUnordered(docs).orderBy("id_a", "id_b")

  /** Incremental edit-distance near-dup pairs: [[editDistPairsUnordered]]
    * with the candidate stage swapped for the batch-scoped
    * [[editDistCandidatesIncremental]]; the verify stage (thresholded
    * levenshtein over the SAME persisted corpus slice) is shared, so the
    * pair definition cannot fork between the batch and full arms.
    * Oracle = the full-rebuild pair CTE restricted to batch ids — the
    * standing equivalence every incremental dedup arm in this file is
    * held to. */
  private[operators] def editDistPairsIncremental(
      docs: DataFrame, isNew: org.apache.spark.sql.Column): DataFrame = {
    // persist: probe/index explodes and both text join-backs re-consume
    // the filtered slice (same band rationale as editDistPairsUnordered)
    val d = graft.CheckpointUtil.track(docs
      .filter(length(col("text")) >= EdMinLen - EdK)
      .select(col("doc_id"), col("text"), length(col("text")).as("l"))
      .persist())
    editDistCandidatesIncremental(d.filter(isNew), d.filter(!isNew))
      .join(d.select(col("doc_id").as("id_a"), col("text").as("ta")), "id_a")
      .join(d.select(col("doc_id").as("id_b"), col("text").as("tb")), "id_b")
      .withColumn("dist", levenshtein(col("ta"), col("tb"), EdK).cast(LongType))
      .filter(col("dist") >= 0 && col("dist") <= EdK)
      .select(col("id_a"), col("id_b"), col("dist"))
  }

  /** The pigeonhole candidate stage of [[editDistPairs]], factored so the
    * stress suite can pin candidate volume (the pruning claim) with the
    * production expressions, not a test-local copy. `d` must expose
    * (doc_id, text, l) pre-filtered to length >= [[EdMinLen]]. */
  private[operators] def editDistCandidates(d: DataFrame): DataFrame =
    edCandJoin(edIndexBlocks(d), edProbeBlocks(d)).distinct()

  /** Anchor blocks of the INDEX role: only docs long enough to own k+1
    * blocks index. */
  private def edIndexBlocks(d: DataFrame): DataFrame = d
    .filter(col("l") >= EdMinLen)
    .select(col("doc_id"), col("l"), col("text"),
      explode(sequence(lit(0), lit(EdK))).as("i"))
    .select(col("doc_id"), col("l"), col("i"),
      col("text").substr(col("i") * EdW + 1, lit(EdW)).as("blk"))

  /** Shifted substrings of the PROBE role: any in-band doc can be probed
    * (an unedited index block's image is EdW contiguous chars of the
    * probe doc, so it always fits the probe's bounds — the clamped probe
    * range covers exactly the feasible starts). */
  private def edProbeBlocks(d: DataFrame): DataFrame = d
    .select(col("doc_id"), col("l"), col("text"),
      explode(sequence(lit(0), lit(EdK))).as("i"))
    .select(col("doc_id"), col("l"), col("i"), col("text"),
      explode(sequence(greatest(col("i") * EdW - EdK, lit(0)),
        least(col("i") * EdW + EdK, col("l") - EdW))).as("j"))
    .select(col("doc_id"), col("l"), col("i"),
      col("text").substr(col("j") + 1, lit(EdW)).as("blk"))

  /** The (i, blk) equi-join + length band + (least, greatest) pair
    * normalization — pairs are normalized, so the pigeonhole guarantee
    * requires only the pair's LONGER member past EdMinLen, not both.
    * NOT deduplicated: callers distinct() once after any unions. */
  private def edCandJoin(idx: DataFrame, prb: DataFrame): DataFrame =
    idx.as("a").join(prb.as("b"),
        col("a.i") === col("b.i") && col("a.blk") === col("b.blk") &&
          col("a.doc_id") =!= col("b.doc_id") &&
          abs(col("a.l") - col("b.l")) <= EdK)
      .select(least(col("a.doc_id"), col("b.doc_id")).as("id_a"),
        greatest(col("a.doc_id"), col("b.doc_id")).as("id_b"))

  /** Incremental candidate stage: every guaranteed pair with >= 1 member
    * in the NEW batch, with the standing corpus never self-joined or
    * re-bloked — the daily-ingest shape ([[incrementalCandidatePairs]]'
    * sibling at the char level). Coverage argument: a guaranteed pair's
    * LONGER member indexes while the other probes; if the new doc is the
    * shorter member the arm idx(all) x prb(new) finds it, and if the new
    * doc is the longer member the arm idx(new) x prb(corpus) does (both
    * arms find new x new). The union double-counts pairs both arms can
    * reach, so the single distinct() sits above it. */
  private[operators] def editDistCandidatesIncremental(
      dNew: DataFrame, dOld: DataFrame): DataFrame =
    edCandJoin(edIndexBlocks(dNew.unionByName(dOld)), edProbeBlocks(dNew))
      .unionByName(edCandJoin(edIndexBlocks(dNew), edProbeBlocks(dOld)))
      .distinct()

  /** `dedup_soft_weight`'s frame, budget-parameterized so DedupSpec can
    * force the degrade arm (see the query comment). */
  private[operators] def softWeightFrame(s: SparkSession, dir: String,
      maxRows: Long = AdaptiveJoin.DefaultMaxBroadcastRows): DataFrame = {
    import Packing.DivOps
    // persist: the LSH->CC lineage would otherwise evaluate THRICE
    // (size agg, member join, and the adaptive probe)
    val members = graft.CheckpointUtil.track(
      nearDupClusters(s, dir).persist()) // (id, canonical_id)
    val sized = graft.CheckpointUtil.track(members.join(
      members.groupBy(col("canonical_id")).agg(count(lit(1)).as("n_members")),
      "canonical_id")
      .select(col("id").as("doc_id"), col("canonical_id"), col("n_members"))
      .persist())
    AdaptiveJoin(docsSpread(s, dir).select(col("doc_id"), col("source")), sized,
      Seq("doc_id"), "left", maxRows)
      .select(col("doc_id"), col("source"),
        coalesce(col("canonical_id"), col("doc_id")).as("cluster_id"),
        coalesce(col("n_members"), lit(1L)).as("n_members"))
      .withColumn("weight_ppm", lit(1000000L) div col("n_members"))
      .orderBy("doc_id")
  }

  /** Draws per stratum in `pipeline_weighted_sample` — 5 of the fixture's
    * 25 docs/source, so the draw visibly cuts every stratum. */
  val WeightedSampleK = 5

  /** Weight-proportional sample over a `(doc_id, source, weight_ppm)`
    * frame: sequential-Poisson priorities (u·10⁶ div weight_ppm, k
    * smallest win), with u the consistent polyHash of "wsamp"+doc_id
    * passed through an LCG scramble — integer-exact end to end, no
    * transcendentals in the compared surface. The scramble is LOAD-
    * BEARING: ids differing only in a short numeric suffix polyHash into
    * a ~|Σsuffix|-wide band (the hash is a low-degree polynomial of the
    * few varying trailing chars), so raw-hash priority MAGNITUDE would
    * encode id length, not chance — the planted 8:1 fixture draws 100/100
    * heavy without it, 86/100 (closed form 88.9) with it. One multiply
    * spreads a 30k-wide band across the whole modulus (same trick as
    * BloomFilterAgg.position). Selection is per-source TopKAgg
    * (score = −priority, exact in a double at ≤2⁵³).
    * `(source, draw_rank, doc_id, priority)`, un-ordered. Parameterized
    * over the frame so WeightedSampleSpec can drive a planted two-weight
    * fixture through the exact production draw. */
  private[operators] def weightedSampleFrom(w: DataFrame, k: Int): DataFrame = {
    import Packing.DivOps
    w.withColumn("pri",
        (pmod(TextFunctions.polyHash(concat(lit("wsamp"), col("doc_id").cast(StringType)))
            * lit(1103515245L) + lit(12345L), lit(1000000007L))
          * lit(1000000L)) div col("weight_ppm"))
      .groupBy(col("source"))
      .agg(TopKAgg.column(k, -col("pri").cast("double"), col("doc_id")).as("tk"))
      .select(col("source"), posexplode(col("tk")))
      .select(col("source"), (col("pos") + 1).cast(LongType).as("draw_rank"),
        col("col._2").as("doc_id"), (-col("col._1")).cast(LongType).as("priority"))
  }

  /** SQL twin of [[weightedSampleFrom]]'s priority over a weight
    * expression — ONE formula behind every weighted-draw oracle
    * (soft-dedup ppm weights, DSIR importance weights), so a consumer
    * twin can never fork the draw law. */
  private[operators] def samplePrioritySql(weightExpr: String): String =
    s"(((${ph("('wsamp' || CAST(doc_id AS VARCHAR))", "wi")} * 1103515245 + 12345) % 1000000007)" +
      s" * 1000000) // ($weightExpr)"

  /** `pipeline_corpus_prep`'s frame, budget-parameterized so DedupSpec can
    * force the degrade arm (see the query comment). */
  private[operators] def corpusPrepFrame(s: SparkSession, dir: String,
      maxRows: Long = AdaptiveJoin.DefaultMaxBroadcastRows): DataFrame = {
    // persist: the probe and the anti-join both consume the victim list,
    // and its LSH->CC lineage is the expensive part
    val victims = graft.CheckpointUtil.track(nearDupClusters(s, dir)
      .filter(col("id") =!= col("canonical_id"))
      .select(col("id").as("doc_id"))
      .persist())
    val filtered = docsSpread(s, dir)
      // compute the (large, interpreted) quality tree once and reuse
      .withColumn("quality", TextFunctions.qualityScore(col("text")))
      .filter(col("quality") >= 0.5)
    AdaptiveJoin(filtered, victims, Seq("doc_id"), "left_anti", maxRows)
      .select(col("doc_id"),
        TextFunctions.tokenCount(col("text")).cast(LongType).as("n_tokens"),
        col("quality"))
      .orderBy("doc_id")
  }

  // ------------------------------------------------------------------
  // DuckDB twins
  // ------------------------------------------------------------------

  /** polyHash over a string expression var (same as TextQueries.sqlPolyHash
    * but with a caller-chosen char-index var name to avoid lambda-var
    * shadowing in nested contexts). */
  private[operators] def ph(x: String, v: String): String =
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), " +
      s"list_transform(range(1, length($x)+1), $v -> CAST(unicode($x[$v]) AS BIGINT))), " +
      s"(a, c) -> (a*31 + c) % 1000000007)"

  // whitespace-RUN tokens: '' artifacts from leading/trailing non-space
  // whitespace are filtered, matching the kernels (see TextQueries.sqlToks)
  private val toks = "list_filter(string_split_regex(trim(text), '\\s+'), t9 -> t9 <> '')"
  private val ntok = s"CASE WHEN length(trim(text)) = 0 THEN 0 ELSE len($toks) END"

  /** Per-token polyHash list of `text`. */
  private val tokenHashesSql =
    s"CASE WHEN length(trim(text)) = 0 THEN CAST([] AS BIGINT[]) " +
      s"ELSE list_transform($toks, t -> ${ph("t", "ci")}) END"

  /** Distinct sorted n-gram shingle hashes of `text` — base-31 combine of
    * the n consecutive token hashes (mirrors TextFunctions.shingleHashes). */
  private[operators] def shhSql(n: Int): String = {
    val combined =
      s"CASE WHEN len(th) < $n THEN CAST([] AS BIGINT[]) " +
        s"ELSE list_transform(range(1, len(th) - ${n - 1} + 1), i -> " +
        s"list_reduce(list_prepend(CAST(0 AS BIGINT), th[i:i+${n - 1}]), " +
        s"(a, h) -> (a*31 + h) % 1000000007)) END"
    s"list_sort(list_distinct($combined))"
  }

  /** Signed-count bucket embedding over an in-scope token-hash list `th`
    * (mirrors NativeKernels.hashEmbed) — shared by the dedup_semantic_text
    * and sim_maxsim_topk twins so the embedder cannot fork. */
  private[operators] def hashEmbedSql(dim: Int): String =
    s"list_transform(range(0, $dim), b -> " +
      s"CAST(len(list_filter(th, h -> h % $dim = b AND (h // $dim) % 2 = 1)) - " +
      s"len(list_filter(th, h -> h % $dim = b AND (h // $dim) % 2 = 0)) AS DOUBLE))"

  /** Per-token polyHash list over an in-scope token list `ctk` (the chunk
    * grain of [[tokenHashesSql]] — tokens are whitespace-free, so hashing
    * the slice equals re-tokenizing the joined chunk text). */
  private[operators] val chunkTokenHashesSql =
    s"list_transform(ctk, t -> ${ph("t", "ci")})"

  /** CTE producing (doc_id, source, th) — evaluate token hashes once. */
  private[operators] val thCte = s"SELECT doc_id, source, $tokenHashesSql AS th FROM documents"

  /** [[thCte]] over an arbitrary relation exposing (doc_id, text) — for
    * queries that tokenize an AUGMENTED text column. */
  private[operators] def thCteFrom(rel: String): String =
    s"SELECT doc_id, $tokenHashesSql AS th FROM $rel"

  /** Non-overlapping `w`-token window hashes of `th` as a LIST in document
    * order (mirrors NativeExpressions.windowHashes; the exploded form is
    * the `paras` CTE of the dedup_paragraph oracle). */
  private[operators] def windowListSql(w: Int): String =
    s"list_transform(range(1, ((len(th) + ${w - 1}) // $w) + 1), i -> " +
      s"${combineSql(s"th[(i-1)*$w+1:LEAST(i*$w, len(th))]")})"

  /** MinHash signature (list<bigint> length 16) from a shingle-hash list
    * expression. */
  private def sigSql(shh: String): String =
    s"list_transform(range(0, $MinHashK), j -> coalesce(" +
      s"list_min(list_transform($shh, h -> " +
      s"(((1103515245*(j+1)+12345) % 1000000007)*h + (1103515245*(j+7)+54321) % 1000000007) % 1000000007)), " +
      s"1000000007))"

  /** OPH slot minima (list<bigint|NULL> length 16): min shingle hash per
    * slot `h mod k`, NULL where the slot saw no hash. Twin of the
    * single-pass phase of [[graft.functions.NativeKernels.ophSignature]].
    */
  private def ophSlotsSql(shh: String): String =
    s"list_transform(range(0, $MinHashK), j -> " +
      s"list_min(list_filter($shh, h -> h % $MinHashK = j)))"

  /** Rotation densification over a slot-minima list column named `sm`:
    * first non-NULL slot t steps right (circular) + t*P, sentinel P when
    * every slot is NULL. NULL+number = NULL, so the unrolled coalesce
    * walks exactly the kernel's t=1..k-1 search order. */
  private def ophDenseSql: String = {
    val borrow = (1 until MinHashK)
      .map(t => s"sm[((j+$t)%$MinHashK)+1] + $t*CAST(1000000007 AS BIGINT)")
      .mkString(", ")
    s"list_transform(range(0, $MinHashK), j -> " +
      s"coalesce(sm[j+1], $borrow, 1000000007))"
  }

  private[operators] def combineSql(sig: String): String =
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), $sig), (a, x) -> (a*31 + x) % 1000000007)"

  /** Shared WITH-chain (use after `WITH RECURSIVE`): shingles -> minhash
    * signature -> bands -> LSH candidates -> verified >=0.5-Jaccard pairs
    * -> transitive reachability `reach(s, d)`. The twin of
    * [[nearDupClusters]] — the three near-dup oracles compose on top, so
    * the cluster definition cannot fork between them. */
  private def reachCtes: String =
    s"""t AS ($thCte),
       |d AS (SELECT doc_id, ${shhSql(3)} AS shh FROM t),
       |s AS (SELECT doc_id, shh, ${sigSql("shh")} AS sig FROM d),
       |sb AS (SELECT doc_id, shh, list_transform(range(0, $Bands), bi ->
       |  ${combineSql(s"sig[bi*$RowsPerBand+1:bi*$RowsPerBand+$RowsPerBand]")}) AS bands FROM s),
       |p AS (
       |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
       |  FROM sb a JOIN sb b ON a.doc_id < b.doc_id
       |    AND len(list_filter(range(1, $Bands + 1), bi -> a.bands[bi] = b.bands[bi])) > 0
       |  WHERE ${jaccardSql("a.shh", "b.shh")} >= 0.5),
       |$reachTail""".stripMargin

  /** Soft-weight chain over a preceding `reach` — clusters sized, every
    * doc joined to its cluster weight: ends in `sw(doc_id, source,
    * cluster_id, n_members, weight_ppm)`. The twin of [[softWeightFrame]],
    * shared by the dedup_soft_weight and pipeline_weighted_sample oracles
    * so the weight law cannot fork between producer and consumer. */
  private def softWeightCtes: String =
    s"""cl AS (SELECT s AS id, least(s, min(d)) AS canonical_id FROM reach GROUP BY s),
       |sz AS (SELECT canonical_id, count(*) AS n FROM cl GROUP BY canonical_id),
       |sw AS (SELECT d.doc_id, d.source,
       |  COALESCE(cl.canonical_id, d.doc_id) AS cluster_id,
       |  COALESCE(sz.n, CAST(1 AS BIGINT)) AS n_members,
       |  1000000 // COALESCE(sz.n, CAST(1 AS BIGINT)) AS weight_ppm
       |FROM documents d LEFT JOIN cl ON d.doc_id = cl.id
       |LEFT JOIN sz ON cl.canonical_id = sz.canonical_id)""".stripMargin

  /** The editdist candidate+verify CTE chain ending in `p`
    * (id_a, id_b, dist) — the twin of [[editDistPairs]], shared by the
    * pairs and clusters oracles so the pair definition cannot fork. */
  private def editDistPairCtes: String =
    s"""d0 AS (SELECT doc_id, text, length(text) AS l FROM documents
       |  WHERE length(text) >= ${EdMinLen - EdK}),
       |idx AS (SELECT doc_id, l, i, substring(text, i*$EdW+1, $EdW) AS blk
       |  FROM d0 CROSS JOIN (SELECT unnest(range(0, ${EdK + 1})) AS i) g
       |  WHERE l >= $EdMinLen),
       |prb AS (SELECT doc_id, l, i, substring(text, j+1, $EdW) AS blk
       |  FROM (SELECT d0.doc_id, d0.l, g.i, d0.text,
       |        unnest(range(greatest(g.i*$EdW-$EdK, 0),
       |                     least(g.i*$EdW+$EdK, d0.l-$EdW)+1)) AS j
       |        FROM d0 CROSS JOIN (SELECT unnest(range(0, ${EdK + 1})) AS i) g)),
       |cand AS (SELECT DISTINCT least(a.doc_id, b.doc_id) AS id_a,
       |    greatest(a.doc_id, b.doc_id) AS id_b
       |  FROM idx a JOIN prb b ON a.i = b.i AND a.blk = b.blk
       |  WHERE a.doc_id <> b.doc_id AND abs(a.l - b.l) <= $EdK),
       |p AS (SELECT c.id_a, c.id_b,
       |  CAST(levenshtein(ta.text, tb.text) AS BIGINT) AS dist
       |  FROM cand c
       |  JOIN d0 ta ON ta.doc_id = c.id_a
       |  JOIN d0 tb ON tb.doc_id = c.id_b
       |  WHERE levenshtein(ta.text, tb.text) <= $EdK)""".stripMargin

  /** Transitive closure over a pair CTE named `p` (columns id_a, id_b) —
    * the recursive tail shared by every clusters twin ([[reachCtes]] for
    * the Jaccard graph, the editdist clusters oracle), so the closure
    * definition cannot fork between graphs. */
  private def reachTail: String =
    s"""edges AS (SELECT id_a AS s, id_b AS d FROM p UNION SELECT id_b, id_a FROM p),
       |reach(s, d) AS (
       |  SELECT s, d FROM edges
       |  UNION
       |  SELECT r.s, e.d FROM reach r JOIN edges e ON r.d = e.s)""".stripMargin

  /** SimHash (30-bit) over a list column named `th`. */
  private val simhashSql = {
    val bitSum =
      s"list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(th, h -> " +
        s"CASE WHEN CAST(floor(CAST(h AS DOUBLE)/power(2, j)) AS BIGINT) % 2 = 1 " +
        s"THEN CAST(1 AS BIGINT) ELSE CAST(-1 AS BIGINT) END)), (a, x) -> a + x)"
    s"list_reduce(list_prepend(CAST(0 AS BIGINT), list_transform(range(0, $SimHashBits), j -> " +
      s"CASE WHEN ($bitSum) > 0 THEN CAST(power(2, j) AS BIGINT) ELSE CAST(0 AS BIGINT) END)), " +
      s"(a, x) -> a + x)"
  }

  /** Max-directional containment mirroring [[Dedup.containment]]. */
  private def containmentSql(a: String, b: String): String =
    s"CASE WHEN LEAST(len($a), len($b)) = 0 THEN 0.0 " +
      s"ELSE CAST(len(list_intersect($a, $b)) AS DOUBLE) / " +
      s"CAST(LEAST(len($a), len($b)) AS DOUBLE) END"

  private def jaccardSql(a: String, b: String): String = {
    val li = s"CAST(len(list_intersect($a, $b)) AS DOUBLE)"
    s"CASE WHEN CAST(len($a) AS DOUBLE) + CAST(len($b) AS DOUBLE) - $li = 0.0 THEN 0.0 " +
      s"ELSE $li / (CAST(len($a) AS DOUBLE) + CAST(len($b) AS DOUBLE) - $li) END"
  }

  /** Sequential dot product / norm mirroring Dedup.dot / Dedup.l2norm. */
  private[operators] def dotSql(a: String, b: String): String =
    s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), " +
      s"list_transform(range(1, len($a)+1), di -> $a[di] * $b[di])), (acc, x) -> acc + x)"
  private[operators] def normSql(a: String): String =
    s"sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE), " +
      s"list_transform($a, x -> x * x)), (acc, x) -> acc + x))"

  /** SRP signature over a column named `v` — the identical literal
    * hyperplanes as [[Dedup.srpSignature]]. ONE builder behind the
    * `dedup_srp_pairs` and `sim_topk_srp` twins, so the plane constants
    * cannot fork between the pair and top-k surfaces. */
  private[operators] def srpSigSqlExpr: String =
    (0 until Dedup.SrpPlanes).map { j =>
      val signs = (0 until Dedup.SrpDim)
        .map(i => Dedup.srpSign(j, i).toString).mkString("[", ", ", "]")
      s"(CASE WHEN ${dotSql("v", signs)} > 0.0 THEN ${1L << j} ELSE 0 END)"
    }.mkString("(", " + ", ")")

  def oracles: Map[String, String] = Map(
    "dedup_exact" ->
      s"""WITH f AS (SELECT doc_id, ${ph("text", "ci")} AS fp FROM documents)
         |SELECT fp, min(doc_id) AS canonical_id, count(*) AS n_copies
         |FROM f GROUP BY fp ORDER BY canonical_id""".stripMargin,

    "dedup_editdist_pairs" ->
      s"""WITH $editDistPairCtes
         |SELECT id_a, id_b, dist FROM p ORDER BY id_a, id_b""".stripMargin,

    "dedup_editdist_clusters" ->
      s"""WITH RECURSIVE $editDistPairCtes,
         |$reachTail
         |SELECT s AS id, least(s, min(d)) AS canonical_id
         |FROM reach GROUP BY s ORDER BY id""".stripMargin,

    // full rebuild restricted to pairs touching the batch — the
    // incremental-equivalence oracle (same shared pair CTE, no fork)
    "dedup_editdist_incremental" ->
      s"""WITH $editDistPairCtes
         |SELECT id_a, id_b, dist FROM p
         |WHERE id_a % 5 = 4 OR id_b % 5 = 4
         |ORDER BY id_a, id_b""".stripMargin,

    "dedup_minhash_sig" ->
      s"""WITH t AS ($thCte),
         |d AS (SELECT doc_id, ${shhSql(3)} AS shh FROM t)
         |SELECT doc_id, CAST(len(shh) AS BIGINT) AS n_shingles,
         |  ${combineSql(sigSql("shh"))} AS sig_hash
         |FROM d ORDER BY doc_id""".stripMargin,

    "dedup_minhash_pairs" ->
      s"""WITH t AS ($thCte),
         |d AS (SELECT doc_id, ${shhSql(3)} AS shh FROM t),
         |s AS (SELECT doc_id, shh, ${sigSql("shh")} AS sig FROM d),
         |sb AS (SELECT doc_id, shh, list_transform(range(0, $Bands), bi ->
         |  ${combineSql(s"sig[bi*$RowsPerBand+1:bi*$RowsPerBand+$RowsPerBand]")}) AS bands FROM s)
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |  ${jaccardSql("a.shh", "b.shh")} AS jaccard
         |FROM sb a JOIN sb b ON a.doc_id < b.doc_id
         |  AND len(list_filter(range(1, $Bands + 1), bi -> a.bands[bi] = b.bands[bi])) > 0
         |WHERE ${jaccardSql("a.shh", "b.shh")} >= 0.5
         |ORDER BY id_a, id_b""".stripMargin,

    "dedup_oph_sig" ->
      s"""WITH t AS ($thCte),
         |d AS (SELECT doc_id, ${shhSql(3)} AS shh FROM t),
         |so AS (SELECT doc_id, shh, ${ophSlotsSql("shh")} AS sm FROM d)
         |SELECT doc_id, CAST(len(shh) AS BIGINT) AS n_shingles,
         |  ${combineSql(ophDenseSql)} AS sig_hash
         |FROM so ORDER BY doc_id""".stripMargin,

    "dedup_oph_pairs" ->
      s"""WITH t AS ($thCte),
         |d AS (SELECT doc_id, ${shhSql(3)} AS shh FROM t),
         |so AS (SELECT doc_id, shh, ${ophSlotsSql("shh")} AS sm FROM d),
         |s AS (SELECT doc_id, shh, $ophDenseSql AS sig FROM so),
         |sb AS (SELECT doc_id, shh, list_transform(range(0, $Bands), bi ->
         |  ${combineSql(s"sig[bi*$RowsPerBand+1:bi*$RowsPerBand+$RowsPerBand]")}) AS bands FROM s)
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |  ${jaccardSql("a.shh", "b.shh")} AS jaccard
         |FROM sb a JOIN sb b ON a.doc_id < b.doc_id
         |  AND len(list_filter(range(1, $Bands + 1), bi -> a.bands[bi] = b.bands[bi])) > 0
         |WHERE ${jaccardSql("a.shh", "b.shh")} >= 0.5
         |ORDER BY id_a, id_b""".stripMargin,

    "dedup_incremental" ->
      s"""WITH t AS ($thCte),
         |d AS (SELECT doc_id, ${shhSql(3)} AS shh FROM t),
         |s AS (SELECT doc_id, shh, ${sigSql("shh")} AS sig FROM d),
         |sb AS (SELECT doc_id, shh, list_transform(range(0, $Bands), bi ->
         |  ${combineSql(s"sig[bi*$RowsPerBand+1:bi*$RowsPerBand+$RowsPerBand]")}) AS bands FROM s)
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |  ${jaccardSql("a.shh", "b.shh")} AS jaccard
         |FROM sb a JOIN sb b ON a.doc_id < b.doc_id
         |  AND (a.doc_id % 5 = 4 OR b.doc_id % 5 = 4)
         |  AND len(list_filter(range(1, $Bands + 1), bi -> a.bands[bi] = b.bands[bi])) > 0
         |WHERE ${jaccardSql("a.shh", "b.shh")} >= 0.5
         |ORDER BY id_a, id_b""".stripMargin,

    "pipeline_sample" ->
      s"""SELECT doc_id,
         |  CAST(${graft.functions.TextQueries.sqlNTok} AS BIGINT) AS n_tokens
         |FROM documents
         |WHERE (${ph("CAST(doc_id AS VARCHAR)", "si")}) % 100 < 10
         |ORDER BY doc_id""".stripMargin,

    "pipeline_corpus_prep" -> {
      val q = graft.functions.TextQueries.quality
      val ntokSql = graft.functions.TextQueries.sqlNTok
      s"""WITH RECURSIVE $reachCtes,
         |victims AS (
         |  SELECT s AS doc_id FROM reach GROUP BY s HAVING least(s, min(d)) <> s)
         |SELECT doc_id, CAST($ntokSql AS BIGINT) AS n_tokens, $q AS quality
         |FROM documents
         |WHERE ($q) >= 0.5 AND doc_id NOT IN (SELECT doc_id FROM victims)
         |ORDER BY doc_id""".stripMargin
    },

    "pipeline_split_leakproof" ->
      s"""WITH RECURSIVE $reachCtes,
         |canon AS (SELECT s AS id, least(s, min(d)) AS canonical_id
         |  FROM reach GROUP BY s),
         |j AS (SELECT d.doc_id, COALESCE(c.canonical_id, d.doc_id) AS cluster_id
         |  FROM documents d LEFT JOIN canon c ON d.doc_id = c.id),
         |b AS (SELECT doc_id, cluster_id,
         |  (${ph("CAST(cluster_id AS VARCHAR)", "si")}) % 100 AS bucket FROM j)
         |SELECT doc_id, cluster_id,
         |  CASE WHEN bucket < 90 THEN 'train'
         |       WHEN bucket < 95 THEN 'valid' ELSE 'test' END AS split
         |FROM b ORDER BY doc_id""".stripMargin,

    "dedup_minhash_by_source" ->
      s"""WITH t AS ($thCte),
         |d AS (SELECT doc_id, source, ${shhSql(3)} AS shh FROM t),
         |flat AS (SELECT source, unnest(shh) AS h FROM d),
         |perm AS (SELECT source, j,
         |    min((((1103515245*(j+1)+12345) % 1000000007)*h
         |         + (1103515245*(j+7)+54321) % 1000000007) % 1000000007) AS m
         |  FROM flat, (SELECT unnest(range(0, ${Dedup.MinHashK})) AS j)
         |  GROUP BY source, j),
         |sig AS (SELECT source, list(m ORDER BY j) AS sigl FROM perm GROUP BY source)
         |SELECT source, ${combineSql("sigl")} AS sig_hash
         |FROM sig ORDER BY source""".stripMargin,

    "text_top_tokens" ->
      """SELECT tok, COUNT(*) AS n
        |FROM (SELECT unnest(list_filter(string_split_regex(trim(text), '\s+'), t9 -> t9 <> '')) AS tok FROM documents)
        |GROUP BY tok ORDER BY n DESC, tok LIMIT 20""".stripMargin,

    "text_top_bigrams" ->
      s"""SELECT bigram, COUNT(*) AS n
         |FROM (SELECT unnest(CASE WHEN len(tk) < 2 THEN CAST([] AS VARCHAR[])
         |  ELSE list_transform(range(1, len(tk)), i -> tk[i] || ' ' || tk[i+1]) END) AS bigram
         |  FROM (SELECT list_filter(string_split_regex(trim(text), '\\s+'), t9 -> t9 <> '') AS tk
         |        FROM documents))
         |GROUP BY bigram ORDER BY n DESC, bigram LIMIT 20""".stripMargin,

    "dedup_clusters" ->
      s"""WITH RECURSIVE $reachCtes
         |SELECT s AS id, least(s, min(d)) AS canonical_id
         |FROM reach GROUP BY s ORDER BY id""".stripMargin,

    "dedup_canonical" ->
      s"""WITH RECURSIVE $reachCtes,
         |cl AS (SELECT s AS id, least(s, min(d)) AS canonical_id FROM reach GROUP BY s),
         |q AS (SELECT doc_id, ${graft.functions.TextQueries.quality} AS quality FROM documents),
         |j AS (SELECT cl.canonical_id, cl.id, q.quality FROM cl JOIN q ON cl.id = q.doc_id),
         |r AS (SELECT canonical_id, id, quality,
         |  row_number() OVER (PARTITION BY canonical_id ORDER BY quality DESC, id) AS rn,
         |  count(*) OVER (PARTITION BY canonical_id) AS n_members FROM j)
         |SELECT canonical_id AS cluster_id, n_members, id AS rep_id, quality AS rep_quality
         |FROM r WHERE rn = 1 ORDER BY cluster_id""".stripMargin,

    "dedup_soft_weight" ->
      s"""WITH RECURSIVE $reachCtes,
         |$softWeightCtes
         |SELECT doc_id, cluster_id, n_members, weight_ppm
         |FROM sw ORDER BY doc_id""".stripMargin,

    // weighted sampling: the SAME sw weights chain, sequential-Poisson
    // integer priorities (the exact polyHash the kernel computes), k
    // smallest per source by (pri, doc_id) — the twin of TopKAgg's
    // (score desc, id) on score = −pri
    "pipeline_weighted_sample" ->
      s"""WITH RECURSIVE $reachCtes,
         |$softWeightCtes,
         |pw AS (SELECT doc_id, source, weight_ppm,
         |  ${samplePrioritySql("weight_ppm")} AS pri
         |  FROM sw),
         |rw AS (SELECT source, doc_id, pri,
         |  CAST(row_number() OVER (PARTITION BY source ORDER BY pri, doc_id) AS BIGINT) AS draw_rank
         |  FROM pw)
         |SELECT source, draw_rank, doc_id, CAST(pri AS BIGINT) AS priority
         |FROM rw WHERE draw_rank <= $WeightedSampleK
         |ORDER BY source, draw_rank""".stripMargin,

    "dedup_simhash" ->
      s"""WITH t0 AS ($thCte),
         |t AS (SELECT doc_id, ${shhSql(3)} AS th FROM t0)
         |SELECT doc_id, $simhashSql AS sh FROM t ORDER BY doc_id""".stripMargin,

    "dedup_simhash_pairs" ->
      s"""WITH t0 AS ($thCte),
         |t AS (SELECT doc_id, ${shhSql(3)} AS th FROM t0),
         |s AS (SELECT doc_id, $simhashSql AS sh FROM t),
         |sb AS (SELECT doc_id, sh, list_transform(range(0, 4), bi ->
         |  CAST(floor(CAST(sh AS DOUBLE)/power(2, bi*8)) AS BIGINT) % 256) AS bands FROM s)
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |  CAST(bit_count(xor(a.sh, b.sh)) AS BIGINT) AS hamming
         |FROM sb a JOIN sb b ON a.doc_id < b.doc_id
         |  AND len(list_filter(range(1, 5), bi -> a.bands[bi] = b.bands[bi])) > 0
         |WHERE bit_count(xor(a.sh, b.sh)) <= 3
         |ORDER BY id_a, id_b""".stripMargin,

    "dedup_srp_pairs" -> {
      val sigSqlExpr = srpSigSqlExpr
      s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
         |nn AS (SELECT * FROM (SELECT vec_id, v, ${normSql("v")} AS nrm FROM e) WHERE nrm > 0.0),
         |s AS (SELECT vec_id, v, nrm, CAST($sigSqlExpr AS BIGINT) AS sig FROM nn),
         |sb AS (SELECT vec_id, v, nrm, list_transform(range(0, 4), bi ->
         |  CAST(floor(CAST(sig AS DOUBLE)/power(2, bi*4)) AS BIGINT) % 16) AS bands FROM s)
         |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |  ${dotSql("a.v", "b.v")} / (a.nrm * b.nrm) AS cos
         |FROM sb a JOIN sb b ON a.vec_id < b.vec_id
         |  AND len(list_filter(range(1, 5), bi -> a.bands[bi] = b.bands[bi])) > 0
         |WHERE ${dotSql("a.v", "b.v")} / (a.nrm * b.nrm) >= 0.4
         |ORDER BY id_a, id_b""".stripMargin
    },

    "dedup_jaccard_blocked" ->
      s"""WITH t AS ($thCte),
         |d AS (SELECT doc_id, source, ${shhSql(2)} AS shh FROM t)
         |SELECT a.source AS source, a.doc_id AS id_a, b.doc_id AS id_b,
         |  ${jaccardSql("a.shh", "b.shh")} AS jaccard
         |FROM d a JOIN d b ON a.source = b.source AND a.doc_id < b.doc_id
         |WHERE ${jaccardSql("a.shh", "b.shh")} >= 0.25
         |ORDER BY id_a, id_b""".stripMargin,

    "dedup_containment" ->
      s"""WITH t AS ($thCte),
         |d AS (SELECT doc_id, source, ${shhSql(2)} AS shh FROM t)
         |SELECT a.source AS source, a.doc_id AS id_a, b.doc_id AS id_b,
         |  ${containmentSql("a.shh", "b.shh")} AS containment,
         |  ${jaccardSql("a.shh", "b.shh")} AS jaccard
         |FROM d a JOIN d b ON a.source = b.source AND a.doc_id < b.doc_id
         |WHERE ${containmentSql("a.shh", "b.shh")} >= 0.3
         |ORDER BY id_a, id_b""".stripMargin,

    "dedup_cosine_pairs" ->
      s"""WITH e AS (SELECT vec_id, label,
         |  list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings),
         |n AS (SELECT * FROM (SELECT vec_id, label, v, ${normSql("v")} AS nrm FROM e)
         |  WHERE nrm > 0.0)
         |SELECT a.label AS label, a.vec_id AS id_a, b.vec_id AS id_b,
         |  ${dotSql("a.v", "b.v")} / (a.nrm * b.nrm) AS cos
         |FROM n a JOIN n b ON a.label = b.label AND a.vec_id < b.vec_id
         |WHERE ${dotSql("a.v", "b.v")} / (a.nrm * b.nrm) >= 0.4
         |ORDER BY id_a, id_b""".stripMargin,

    "dedup_paragraph" -> {
      val w = 20
      s"""WITH t AS ($thCte),
         |p0 AS (SELECT doc_id, th FROM t WHERE len(th) > 0),
         |paras AS (SELECT doc_id, CAST(u.i - 1 AS BIGINT) AS pidx, u.h FROM (
         |  SELECT doc_id, unnest(list_transform(range(1, ((len(th) + ${w - 1}) // $w) + 1),
         |    i -> {'i': i, 'h': ${combineSql(s"th[(i-1)*$w+1:LEAST(i*$w, len(th))]")}})) AS u
         |  FROM p0)),
         |canon AS (SELECT h, min(struct_pack(d := doc_id, p := pidx)) AS c
         |  FROM paras GROUP BY h),
         |j AS (SELECT p.doc_id, p.pidx, p.h,
         |       (p.doc_id = c.c.d AND p.pidx = c.c.p) AS kept
         |      FROM paras p JOIN canon c USING (h))
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_paras,
         |  CAST(sum(CASE WHEN kept THEN 0 ELSE 1 END) AS BIGINT) AS n_dup,
         |  CASE WHEN count(*) FILTER (WHERE kept) = 0 THEN 0
         |       ELSE ${combineSql("list(h ORDER BY pidx) FILTER (WHERE kept)")} END AS kept_hash
         |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin
    },

    // same centroid/assignment formulation as the sim_topk_ivf oracle
    "dedup_semantic" ->
      s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
         |  FROM embeddings),
         |nn AS (SELECT * FROM (SELECT vec_id, v, ${normSql("v")} AS nrm FROM e) WHERE nrm > 0.0),
         |cents AS (SELECT vec_id AS cen_id, v AS cv, nrm AS cnrm FROM nn WHERE vec_id < 16),
         |assigned AS (
         |  SELECT vec_id, cen_id, v, nrm FROM (
         |    SELECT nn.vec_id, cents.cen_id, nn.v, nn.nrm,
         |      row_number() OVER (PARTITION BY nn.vec_id
         |        ORDER BY ${dotSql("nn.v", "cents.cv")} / (nn.nrm * cents.cnrm) DESC, cents.cen_id) AS crn
         |    FROM nn, cents) WHERE crn = 1),
         |victims AS (
         |  SELECT DISTINCT b.vec_id
         |  FROM assigned a JOIN assigned b
         |    ON a.cen_id = b.cen_id AND a.vec_id < b.vec_id
         |  WHERE ${dotSql("a.v", "b.v")} / (a.nrm * b.nrm) >= 0.4)
         |SELECT n.vec_id, n.cen_id,
         |  n.vec_id NOT IN (SELECT vec_id FROM victims) AS keep
         |FROM assigned n ORDER BY n.vec_id""".stripMargin,

    // same IVF-tau formulation; vectors DERIVED from text by the hashing
    // trick — per bucket, (#tokens with sign bit set) - (#without), exact
    // integer counts cast to double, so accumulation order is irrelevant
    "dedup_semantic_text" ->
      s"""WITH t AS ($thCte),
         |hv AS (SELECT doc_id AS vec_id, ${hashEmbedSql(64)} AS v
         |  FROM t),
         |nn AS (SELECT * FROM (SELECT vec_id, v, ${normSql("v")} AS nrm FROM hv) WHERE nrm > 0.0),
         |cents AS (SELECT vec_id AS cen_id, v AS cv, nrm AS cnrm FROM nn WHERE vec_id < 16),
         |assigned AS (
         |  SELECT vec_id, cen_id, v, nrm FROM (
         |    SELECT nn.vec_id, cents.cen_id, nn.v, nn.nrm,
         |      row_number() OVER (PARTITION BY nn.vec_id
         |        ORDER BY ${dotSql("nn.v", "cents.cv")} / (nn.nrm * cents.cnrm) DESC, cents.cen_id) AS crn
         |    FROM nn, cents) WHERE crn = 1),
         |victims AS (
         |  SELECT DISTINCT b.vec_id
         |  FROM assigned a JOIN assigned b
         |    ON a.cen_id = b.cen_id AND a.vec_id < b.vec_id
         |  WHERE ${dotSql("a.v", "b.v")} / (a.nrm * b.nrm) >= 0.9)
         |SELECT n.vec_id, n.cen_id,
         |  n.vec_id NOT IN (SELECT vec_id FROM victims) AS keep
         |FROM assigned n ORDER BY n.vec_id""".stripMargin
  )
}
