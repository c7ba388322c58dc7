package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, LongType, StringType}

import graft.CheckpointUtil.materialize
import graft.Tables
import graft.functions.{NativeExpressions, TextFunctions}

/** The published Gopher quality rules (Rae et al. 2021) as Column
  * predicates over the engine's fused one-pass stats vectors
  * (`st` = [[NativeExpressions.textStats]], `r` =
  * [[NativeExpressions.repetitionStats]]). All INTEGER arithmetic
  * (cross-multiplied ratios), so the compared surface has no floats.
  * Shared by the standalone `text_gopher_filters` flags query and the
  * e2e curation chain ([[CurationPipeline]]) — one rule set, no fork.
  */
object Gopher {
  /** 50 <= token count <= 100k. */
  def okCount(st: Column): Column = st(1) >= 50 && st(1) <= 100000
  /** mean token length in [3, 10]  ⟺  3n <= Σlen <= 10n. */
  def okMeanLen(st: Column): Column =
    st(1) > 0 && lit(3) * st(1) <= st(2) && st(2) <= lit(10) * st(1)
  /** at least 2 stopwords. */
  def okStop(st: Column): Column = st(3) >= 2
  /** top token <= 20% of tokens  ⟺  5·topf <= n. */
  def okRep(st: Column, r: Column): Column = st(1) > 0 && lit(5) * r(2) <= st(1)
  /** All four rules. */
  def keep(st: Column, r: Column): Column =
    okCount(st) && okMeanLen(st) && okStop(st) && okRep(st, r)
}

/** Round-3 training-data pipeline queries: sequence packing / chunking,
  * Bloom-filter membership, retrieval scoring, repetition quality, corpus
  * mixing, and approximate-distinct — each with an exact DuckDB twin.
  *
  * Cross-engine float discipline (same contract as the rest of the engine):
  * integer arithmetic wherever possible (exact on both engines), and where
  * doubles are unavoidable the expression TREE is written identically on
  * both sides so IEEE evaluation order matches bit-for-bit. Notably
  * [[Bm25]] uses a log-free rational idf `(N - df + 0.5)/(df + 0.5)` —
  * same ranking monotonicity as the classic `ln`-idf, but `ln` is the one
  * operation whose libm rounding differs across engines, so it is kept out
  * of the oracle-compared surface.
  */
object TrainingDataQueries {
  import DedupQueries.{ph, thCte}
  import Packing.DivOps

  private val P = TextFunctions.HashMod

  /** Pack budget (tokens per training sequence) and chunk width. */
  val PackTokens = 2048L
  /** Append-only split for the incremental packing arm: docs with id
    * below play the standing corpus, the rest the ingest batch. */
  val PackIncrSplit = 400L
  /** Draws per source stratum in the DSIR resampling step. */
  val DsirSampleK = 5
  val ChunkTokens = 64
  /** Sliding-window chunk stride (overlap = ChunkTokens - ChunkStride):
    * the retrieval/embedding-prep chunker's step, vs [[ChunkTokens]]-wide
    * windows. 48 → 25% overlap between neighboring chunks. */
  val ChunkStride = 48
  /** Shelf-packing budget — deliberately smaller than [[PackTokens]]:
    * whole-document packing is only non-trivial when several docs compete
    * for one sequence, and at the fixture's 10-99-token docs a 256-token
    * shelf yields 134 packs over 20 size classes with 381 docs landing in
    * a later pack of their class (the capacity-split path is exercised,
    * not vacuous). Production dial: the model's context length. */
  val ShelfTokens = 256L
  /** Bloom sizing: 512 bits × 3 probes over ~125 build fingerprints →
    * ~52% fill, ~14% false-positive rate at sf0.01 — deliberately small so
    * the false-positive path is actually exercised by the gate. */
  val BloomBits = 512
  val BloomK = 3
  /** Decontamination Bloom: 2^16 bits over the eval set's ~2k distinct
    * 8-gram shingles → ~9% fill, FP per probe ~0.09³ ≈ 7e-4 — large enough
    * to be a faithful filter, small enough that a false positive can still
    * appear in the gate's maybe/exact comparison columns. */
  val DecontBits = 65536
  /** HLL: 256 registers (p=8), trailing-zero rank over the ~22 hash bits
    * above the bucket index. */
  val HllRegisters = 256
  /** Training-shard count for the deterministic global shuffle. */
  val NShards = 8
  /** Epoch count for the multi-epoch training order. */
  val NEpochs = 3
  /** Per-source token budget for budgeted corpus assembly — fixture
    * sources carry ~2-3k tokens, so the budget bites every source without
    * emptying any. */
  val TokenBudget = 2000L
  /** Per-source quota: ~25 docs/source in the fixture, so the cap bites
    * every source without emptying any. */
  val DomainCap = 20
  /** Paragraph window for the boilerplate / in-doc passes — the same
    * non-overlapping 20-token window as `dedup_paragraph` (the corpus has
    * no paragraph breaks), so all three paragraph-grain passes agree on
    * what a paragraph is. */
  val ParaWindow = 20
  /** Corpus-internal substring-dedup shingle width. Production-scale
    * substring dedup (Lee et al. 2022, "Deduplicating Training Data Makes
    * Language Models Better") uses ~50-token spans; the fixture dial is 8
    * — the same width as the decontamination family's production n-gram —
    * audited non-vacuous at every scale (24 / 24 / 244 docs carry
    * repeated spans at sf0.001/0.01/0.1) while staying above the
    * short-n-gram noise floor of the 31-token fixture vocabulary. */
  val SubstrNgram = 8
  /** Broadcast budget for the substring-dedup ownership table: 16-byte
    * (sh, own) pairs → ~160 MB at 10M rows, the order of a sane broadcast
    * (same sizing reasoning as [[CurationPipeline.DecontExactMax]]).
    * Beyond it [[repeatedSpanHits]] degrades to a shuffle-hash join. */
  val SpanOwnersExactMax = AdaptiveJoin.DefaultMaxBroadcastRows
  /** DSIR hashed-feature bucket count. Production DSIR (Xie et al. 2023,
    * "Data Selection for Language Models via Importance Resampling") hashes
    * n-grams into ~10k buckets; 64 keeps every bucket populated by the
    * 31-token fixture vocabulary's ~900 distinct bigrams so the ratio
    * table has no dead entries. */
  val DsirBuckets = 64
  /** Boilerplate document-frequency threshold: a paragraph appearing in at
    * least this many DISTINCT docs is boilerplate and is removed from ALL
    * of them (CCNet/C4-style), unlike `dedup_paragraph` which keeps the
    * first occurrence. Fixture-audited: 6 / 4 window hashes cross the
    * threshold at sf0.001 / sf0.01 — the drop path is exercised, not
    * vacuous — while the 2-doc near-dup mass stays below it. */
  val BoilerplateDf = 3
  /** Vocabulary-head size for `pipeline_token_drift`: large enough to
    * cover the fixture's ~31-token core vocabulary plus the perturbation
    * tail, small enough that the drift table is a constant-size report. */
  val DriftTopK = 64

  private def docsSpread(s: SparkSession, dir: String): DataFrame =
    Spread.ifNarrow(Tables.documents(s, dir), col("doc_id"))

  /** Learn the [[BpeRounds]]-merge BPE table from `docs`' token-frequency
    * histogram (capped at [[BpeVocabCap]] — the driver collect stays
    * constant-size at any corpus scale). Shared by `pipeline_bpe` and the
    * e2e curation chain, which learns ON ITS SURVIVORS — one trainer, no
    * fork. Tie-break on the token is Spark's UTF8String binary order ==
    * DuckDB's binary collation. */
  private[operators] def bpeMerges(docs: DataFrame): Seq[(String, String)] = {
    val vocab = docs
      .select(explode(TextFunctions.tokens(col("text"))).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("w"))
      .orderBy(col("w").desc, col("tok")).limit(BpeVocabCap)
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    // empty corpus: nothing to learn AND nothing to apply to, so the empty
    // table is exact (the twin's merge rounds devolve to no-ops the same
    // way); a non-empty corpus that exhausts the pair space mid-round still
    // fails loudly inside learnMerges (a short table would silently desync
    // the unrolled twin)
    if (vocab.isEmpty) Seq.empty else Bpe.learnMerges(vocab, BpeRounds)
  }

  /** Every POSITIONAL `n`-shingle of every document in `docs` (must
    * expose doc_id, source, text): (doc_id, source, pos, sh) where `pos`
    * is the 1-based token index of the shingle's first token and `sh`
    * the base-31 hash of its n token hashes — an in-scan fold over each
    * length-n token-hash slice, no distinct, no shuffle. The shared
    * grain under the eval-set hit passes ([[contaminationHits]]), the
    * corpus-internal repeated-span pass ([[repeatedSpanHits]]), and the
    * DSIR feature stream.
    *
    * `wide = true` swaps the mod-1e9+7 shingle space for the full 64-bit
    * kernel ([[TextFunctions.positionalShingleHashes64]]) — the
    * production arm for shingle populations near the mod-P birthday
    * bound (at 100 TB, ~10¹³ shingles vs P ≈ 2^30 means false hits would
    * excise real text; the 64-bit space pushes the same bound to
    * n²/2⁶⁵). Same output grain and downstream plan shape; not
    * oracle-replicable (DuckDB BIGINT errors on overflow), so the mod-P
    * arm stays the driver-compare surface and the wide arm is pinned by
    * SubstringDedupSpec (fixture hit-set identity) and DedupStressSpec
    * (zero spurious hits at 3.65M windows where mod-P shows its
    * predicted excess). */
  private def positionalShingles(docs: DataFrame, n: Int,
                                 wide: Boolean = false): DataFrame = {
    if (wide)
      docs
        .select(col("doc_id"), col("source"),
          posexplode(TextFunctions.positionalShingleHashes64(col("text"), n)))
        .select(col("doc_id"), col("source"),
          (col("pos") + 1).cast(LongType).as("pos"), col("col").as("sh"))
    else
      // one fused in-scan kernel (bit-identical to the interpreted
      // transform+aggregate(slice) HOF chain it replaced — that chain
      // re-sliced the token array per position and dominated the
      // substring family's CPU profile; see PositionalShingleHashes)
      docs
        .select(col("doc_id"), col("source"),
          posexplode(TextFunctions.positionalShingleHashes(col("text"), n)))
        .select(col("doc_id"), col("source"),
          (col("pos") + 1).cast(LongType).as("pos"), col("col").as("sh"))
  }

  /** Per-(doc_id, pos) eval-set hit rows: the 1-based token index of every
    * POSITIONAL [[CurationPipeline.DecontNgram]]-shingle of a non-eval doc
    * that appears in the eval slice's shingle set. The ONE hit definition
    * behind both `pipeline_decontaminate_spans` (forensics) and
    * `pipeline_excise` (removal) — the two can never disagree on what a
    * hit is. All in-scan kernels; the eval side is a bounded broadcast. */
  private[operators] def contaminationHits(s: SparkSession, dir: String,
                                           wide: Boolean = false): DataFrame = {
    val n = CurationPipeline.DecontNgram
    val ps = positionalShingles(docsSpread(s, dir), n, wide)
    val evalSh =
      if (wide) TextFunctions.shingleHashes64(col("text"), n)
      else TextFunctions.shingleHashes(col("text"), n)
    val evalShh = docsSpread(s, dir).filter(col("source") === "src19")
      .select(explode(evalSh).as("sh"))
      .distinct()
    ps.filter(col("source") =!= "src19")
      .join(broadcast(evalShh), Seq("sh"), "left_semi")
      .select(col("doc_id"), col("pos"))
  }

  /** Per-(doc_id, pos) CORPUS-INTERNAL repeated-span hit rows (the
    * Lee-et-al-2022 substring-dedup hit set, shingle-approximated): a
    * position is a hit when its [[SubstrNgram]]-shingle occurs in at
    * least one OTHER document and this doc is not the span's owner
    * (owner = min doc_id — keep-first, drop-later semantics, same
    * canonical rule as `dedup_exact`/`dedup_paragraph`).
    *
    * Scale shape: the shingle-grain groupBy is the one unavoidable
    * shuffle of any global substring dedup — (sh, doc_id, pos) triples,
    * 24 bytes per corpus token, no text on the wire. "Repeated across
    * docs" is decided by `min(doc_id) <> max(doc_id)` — no
    * count-distinct Expand pass. The surviving ownership table is
    * duplicate-proportional (repeated shingles only) → broadcast back
    * into a second scan's positional stream; like the decontamination
    * family, the corpus is scanned twice rather than persisting the
    * token-grain exploded form (which is larger than the corpus).
    *
    * ADAPTIVE (same limit-bounded-probe pattern as
    * [[CurationPipeline.decontaminate]]): the broadcast is taken only
    * while the ownership table holds at most `maxOwnersBroadcast` rows
    * (16-byte (sh, own) pairs → ~160 MB at the default). A
    * boilerplate-heavy corpus whose repeated-shingle set outgrows that
    * budget degrades to a shuffle-hash join on sh — the same key the
    * first pass already shuffled on, so the degraded arm costs one more
    * exchange of the positional stream and never materializes the
    * ownership table on the driver. Row-identical by construction
    * (inner join either way); both arms plan-pinned and compared in
    * SubstringDedupSpec.
    *
    * `wide` selects the 64-bit shingle space (see
    * [[positionalShingles]]). */
  private[operators] def repeatedSpanHits(docs: DataFrame,
      wide: Boolean = false,
      maxOwnersBroadcast: Long = SpanOwnersExactMax): DataFrame = {
    val ps = positionalShingles(docs, SubstrNgram, wide)
      .select(col("doc_id"), col("pos"), col("sh"))
    // persisted (registry-tracked): the size probe and the join both
    // consume it — unpersisted, the shingle-grain shuffle would run twice
    val owners = graft.CheckpointUtil.track(ps.groupBy(col("sh"))
      .agg(min(col("doc_id")).as("own"), max(col("doc_id")).as("mx"))
      .filter(col("own") =!= col("mx"))
      .select(col("sh"), col("own"))
      .persist())
    // both arms re-consume the persisted owners (unlike decontaminate's
    // Bloom arm, the degraded join still needs the ownership rows)
    AdaptiveJoin(ps, owners, Seq("sh"), "inner", maxOwnersBroadcast)
      .filter(col("doc_id") =!= col("own"))
      .select(col("doc_id"), col("pos"))
  }

  /** The 4/5-id boundary splitting `docs` into the base snapshot
    * (doc_id <= boundary) and the incoming batch — THE incremental-
    * lifecycle convention, shared by the substring/drift/novelty passes
    * so the base/batch definition cannot fork between them. Bounded
    * collect (ONE long); -1 on an empty corpus (everything is batch,
    * and every consumer then yields the empty frame). */
  private[operators] def idBoundary(docs: DataFrame): Long = {
    val mx = docs.agg(max(col("doc_id"))).head()
    if (mx.isNullAt(0)) -1L else mx.getLong(0) * 4 / 5
  }

  /** The incremental substring-excision computation behind
    * `dedup_substring_incremental` (see the query's comment for the
    * batch-vs-state design and the equivalence proof), factored so the
    * production wide (64-bit) shingle arm runs the SAME code path — the
    * flag swaps only the hash space ([[positionalShingles]]), pinned by
    * SubstringDedupSpec's containment arm. Unordered; callers sort. */
  private[operators] def incrementalSubstringCoverage(docs: DataFrame,
      wide: Boolean = false): DataFrame = {
    val boundary = idBoundary(docs)
    val corpus = docs.filter(col("doc_id") <= boundary)
    val batch = docs.filter(col("doc_id") > boundary)
    val corpusShh = materialize(
      positionalShingles(corpus, SubstrNgram, wide).select(col("sh")).distinct())._1
    val psB = positionalShingles(batch, SubstrNgram, wide)
      .select(col("doc_id"), col("pos"), col("sh"))
    val corpusHits = psB.join(corpusShh, Seq("sh"), "left_semi")
      .select(col("doc_id"), col("pos"))
    val batchOnly = psB.join(corpusShh, Seq("sh"), "left_anti")
    val owners = batchOnly.groupBy(col("sh"))
      .agg(min(col("doc_id")).as("own"), max(col("doc_id")).as("mx"))
      .filter(col("own") =!= col("mx"))
      .select(col("sh"), col("own"))
    // batch-scoped ownership is ingest-bounded — small enough that the
    // size estimate picks broadcast on its own; no hint for the same
    // degrade-must-stay-possible reason as the state joins above
    val batchHits = batchOnly.join(owners, Seq("sh"))
      .filter(col("doc_id") =!= col("own"))
      .select(col("doc_id"), col("pos"))
    excisedCoverage(corpusHits.unionByName(batchHits), SubstrNgram)
      .join(batch.select(col("doc_id"),
        TextFunctions.tokenCount(col("text")).cast(LongType).as("n_before")),
        "doc_id")
      .select(col("doc_id"), col("n_before"), col("n_removed"),
        (col("n_before") - col("n_removed")).as("n_after"))
  }

  /** The boilerplate-removal aggregate behind `pipeline_boilerplate`:
    * one in-scan window kernel, the (h, doc) grain agg and its h-grain
    * rollup (the trick that avoids a distinct Expand), then the
    * boilerplate set — tiny by definition of "frequent" — joins back
    * into the persisted paragraph set.
    *
    * ADAPTIVE (the [[repeatedSpanHits]] / decontamination pattern): the
    * join-back broadcasts while the boilerplate set holds at most
    * `maxBoilerBroadcast` rows; an adversarially boilerplate-heavy corpus
    * degrades to a shuffle-hash join on h — row-identical by construction
    * (same outer join either way), so the degrade can never change
    * results. The corpus never shuffles for the drop decision in the
    * broadcast arm; the degraded arm pays one h-grain exchange of the
    * paragraph set. Both arms pinned in ParagraphHygieneSpec. */
  private[operators] def boilerplateAgg(docs: DataFrame,
      maxBoilerBroadcast: Long = SpanOwnersExactMax,
      wide: Boolean = false): DataFrame = {
    val w = ParaWindow
    // `wide` selects the 64-bit window-hash space — the 100 TB arm (the
    // paragraph population of a web corpus sits far past the mod-P
    // birthday bound, where a false h-merge inflates a paragraph's
    // document frequency and drops CLEAN text as boilerplate); mod-P
    // stays the driver-oracle surface, the wide arm is spec-pinned
    // (ParagraphHygieneSpec: identical drop decisions on the clean
    // fixture) — the substring family's r12 convention.
    val wh = if (wide) NativeExpressions.windowHashes64(col("text"), w)
             else NativeExpressions.windowHashes(col("text"), w)
    // persist: the exploded paragraph set feeds the frequency chain AND
    // the drop join — without it the scan + kernel pass runs twice
    val paras = graft.CheckpointUtil.track(docs
      .select(col("doc_id"), posexplode(wh))
      .select(col("doc_id"), col("pos").cast(LongType).as("pidx"),
        col("col").as("h"))
      .persist())
    // persisted: the size probe and the join both consume it
    val boiler = graft.CheckpointUtil.track(paras
      .groupBy(col("h"), col("doc_id"))
      .agg(count(lit(1)).as("occ"))
      .groupBy(col("h")).agg(count(lit(1)).as("nd"))
      .filter(col("nd") >= BoilerplateDf)
      .select(col("h"), lit(true).as("bp"))
      .persist())
    AdaptiveJoin(paras, boiler, Seq("h"), "left_outer", maxBoilerBroadcast)
      .withColumn("kept", coalesce(col("bp"), lit(false)) === false)
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_paras"),
        sum(when(col("kept"), 0L).otherwise(1L)).as("n_boiler"),
        NativeExpressions.polyCombine(
          transform(array_sort(collect_list(when(col("kept"),
            struct(col("pidx"), col("h"))))), e => e.getField("h")))
          .as("kept_hash"))
  }

  /** `pipeline_token_drift`'s frame (see the query comment): per-token
    * ppm rates over the base snapshot's top-[[DriftTopK]] head, base vs
    * batch under the 4/5-id-boundary convention. Frame-parameterized so
    * the spec can plant a closed-form drift. */
  private[operators] def tokenDrift(docs: DataFrame): DataFrame = {
    import Packing.DivOps
    val boundary = idBoundary(docs)
    val counts = graft.CheckpointUtil.track(docs
      .select((col("doc_id") <= boundary).as("base"),
        explode(TextFunctions.tokens(col("text"))).as("tok"))
      .groupBy(col("tok"))
      .agg(sum(when(col("base"), 1L).otherwise(0L)).as("n_base"),
        sum(when(!col("base"), 1L).otherwise(0L)).as("n_new"))
      .persist()) // consumed by the totals agg AND the head selection
    val totals = counts.agg(
      sum(col("n_base")).as("t_base"), sum(col("n_new")).as("t_new"))
    counts
      .orderBy(col("n_base").desc, col("tok")).limit(DriftTopK)
      .crossJoin(broadcast(totals))
      .select(col("tok"), col("n_base"), col("n_new"),
        when(col("t_base") <= 0, 0L)
          .otherwise((col("n_base") * 1000000L) div col("t_base"))
          .as("base_ppm"),
        when(col("t_new") <= 0, 0L)
          .otherwise((col("n_new") * 1000000L) div col("t_new"))
          .as("new_ppm"))
      .withColumn("delta_ppm", col("new_ppm") - col("base_ppm"))
      .orderBy("tok")
  }

  /** Drift-gated incremental BPE (`pipeline_bpe_incremental`) — the one
    * expensive artifact that had no batch+incremental pair (r14 directive
    * 5). Under corpus append (base = doc_id <= the 4/5 boundary, batch
    * above it), retraining the merge table per ingest is wasted work
    * while the token distribution holds and silent tokenizer rot once it
    * doesn't — so the gate IS `pipeline_token_drift`'s law reduced to a
    * scalar: sum |delta_ppm| over the top-[[DriftTopK]] head. Below
    * [[BpeDriftGatePpm]] the STANDING base-trained table is kept and
    * applied to the full corpus (batch tokens unseen at train time still
    * segment — rank-order apply is total); above it the table retrains on
    * the full corpus, where retrain == fresh training by construction
    * (same [[bpeMerges]], same inputs — the equivalence oracle). The gate
    * scalar and decision ride the output as constant columns, so the
    * compared hash pins the METRIC and the BRANCH, not just the pieces.
    * 100 TB shape: the gate is two token-grain aggs reduced to one
    * number; the keep arm never rescans the base corpus for training. */
  private[operators] def bpeIncremental(docs: DataFrame): DataFrame = {
    val drift = tokenDrift(docs)
      .agg(coalesce(sum(abs(col("delta_ppm"))), lit(0L)).as("d"))
      .head.getLong(0) // scalar — the sanctioned bounded collect
    val retrain = drift > BpeDriftGatePpm
    val trainSet =
      if (retrain) docs else docs.filter(col("doc_id") <= idBoundary(docs))
    val merges = bpeMerges(trainSet)
    docs
      .select(col("doc_id"), NativeExpressions.bpeStats(col("text"), merges).as("b"))
      .select(col("doc_id"),
        col("b").getItem(0).as("n_tokens"),
        col("b").getItem(1).as("n_pieces"),
        col("b").getItem(2).as("pieces_hash"))
      .withColumn("drift_ppm", lit(drift))
      .withColumn("retrained", lit(retrain))
  }

  /** `pipeline_ngram_novelty`'s frame (see the query comment).
    * Frame-parameterized so the spec can plant closed-form novelty. */
  private[operators] def ngramNovelty(docs: DataFrame): DataFrame = {
    import Packing.DivOps
    val boundary = idBoundary(docs)
    val shh = TextFunctions.shingleHashes(col("text"), SubstrNgram)
    // base set: distinct + materialize (corpus-proportional; the
    // lineage above it must not replay into both consumers)
    val baseShh = materialize(docs
      .filter(col("doc_id") <= boundary)
      .select(explode(shh).as("sh")).distinct())._1
    // batch arrays computed ONCE (explode consumer + size consumer)
    val batch = graft.CheckpointUtil.track(docs
      .filter(col("doc_id") > boundary)
      .select(col("doc_id"), shh.as("shh"))
      .persist())
    val novel = batch
      .select(col("doc_id"), explode(col("shh")).as("sh"))
      .join(baseShh, Seq("sh"), "left_anti")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_novel"))
    batch
      .select(col("doc_id"), size(col("shh")).cast(LongType).as("n_shingles"))
      .join(novel, Seq("doc_id"), "left")
      .withColumn("n_novel", coalesce(col("n_novel"), lit(0L)))
      .withColumn("novelty_ppm", when(col("n_shingles") <= 0, 0L)
        .otherwise((col("n_novel") * 1000000L) div col("n_shingles")))
      .orderBy("doc_id")
  }

  /** Interval-union coverage of the `n`-token windows at `hits`'
    * (doc_id, pos) rows → (doc_id, n_removed): one hit agg, then an
    * in-scan fold over each doc's sorted positions (n tokens for the
    * first hit, min(n, gap) for each later one) — no per-doc window, no
    * second shuffle past the agg. Shared by the eval-set excision
    * (`pipeline_excise`) and the corpus-internal substring excision
    * (`dedup_substring_excise`) so the two passes cannot disagree on
    * what "covered" means. */
  private[operators] def excisedCoverage(hits: DataFrame, n: Int): DataFrame =
    hits.groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("pos"))).as("psorted"))
      .withColumn("n_removed", aggregate(col("psorted"),
        struct(lit(-1L).as("prev"), lit(0L).as("cov")),
        (st, p) => struct(p.as("prev"),
          (st("cov") + when(st("prev") < 0L, lit(n.toLong))
            .otherwise(least(lit(n.toLong), p - st("prev")))).as("cov")),
        st => st("cov")))
      .select(col("doc_id"), col("n_removed"))

  /** The DSIR scoring/ranking table (doc_id, n_feats, score, dsir_rank,
    * keep) — ONE model definition behind `pipeline_dsir_weights` and the
    * surgical composition. See the query's comment for the design. */
  private def dsirRanked(s: SparkSession, dir: String): DataFrame = {
    val fs = positionalShingles(docsSpread(s, dir), 2)
      .withColumn("f", pmod(col("sh"), lit(DsirBuckets.toLong)))
    val counts = fs.groupBy(col("f")).agg(
        sum(when(col("source") === "src19", 1L).otherwise(0L)).as("nt"),
        sum(when(col("source") =!= "src19", 1L).otherwise(0L)).as("nr"))
      .collect()
    val ratio = Array.fill(DsirBuckets)(1.0)
    counts.foreach { r => ratio(r.getLong(0).toInt) =
      (r.getLong(1) + 1).toDouble / (r.getLong(2) + 1).toDouble }
    // bigram features from the fused positional-shingle kernel (the
    // per-position aggregate(slice) HOF it replaced is interpreted and
    // was this model's dominant cost). The bucket fold is fused too (r17):
    // the transform(pmod) + aggregate(element_at) chain around the kernel
    // was still interpreted per row — DsirScore computes the identical
    // ascending Σ ratios[sh mod buckets] inside codegen (pmod == floorMod,
    // spec-pinned). coalesce restores the pre-kernel never-null contract
    // (null text → the empty-feature row, ADVICE r16): the kernel
    // null-propagates where the old when/otherwise arm emitted array().
    val sh = TextFunctions.positionalShingleHashes(col("text"), 2)
    val scored = docsSpread(s, dir).filter(col("source") =!= "src19")
      .select(col("doc_id"),
        coalesce(size(sh), lit(0)).cast(LongType).as("n_feats"),
        coalesce(graft.functions.NativeExpressions.dsirScore(
          sh, ratio.toSeq, DsirBuckets.toLong), lit(0.0)).as("score"))
    val total = scored.count()
    graft.pu.PU.globalRankByScore(scored, "score", col("doc_id"), "dsir_rank")
      .withColumn("keep", col("dsir_rank") * 4 <= lit(total))
      .select(col("doc_id"), col("n_feats"), col("score"),
        col("dsir_rank"), col("keep"))
  }

  /** Shelf-pack assignment at DOC grain over `costs` (doc_id, n_tokens):
    * adds size_class and pack_seq (see `pipeline_pack_shelf` for the
    * rule) — shared by the standalone pack query and the surgical
    * composition. */
  private def shelfPack(costs: DataFrame): DataFrame = {
    val classed = costs
      .filter(col("n_tokens") > 0 && col("n_tokens") <= ShelfTokens)
      .withColumn("size_class", lit(ShelfTokens).div(col("n_tokens")))
    val ranked = graft.pu.PU.globalRankByOrder(classed,
      Seq(col("size_class"), col("doc_id")), "grank")
    val classStart = ranked.groupBy(col("size_class"))
      .agg(min(col("grank")).as("cstart"))
    ranked.join(broadcast(classStart), "size_class")
      .withColumn("pack_seq",
        (col("grank") - col("cstart")).div(col("size_class")))
  }

  /** Twin of [[repeatedSpanHits]]: CTE chain ending in `hits(doc_id, pos)`
    * — shared by the substring spans and excise oracles, mirroring how
    * [[contamHitCtes]] backs the decontamination pair. */
  private def substrHitCtes: String =
    s"t AS ($thCte),\n" + substrPsCtes("")

  /** The ps/o/hits chain of [[substrHitCtes]] with an optional scope
    * clause on the positional stream (` WHERE ...` against `t`) — the
    * surgical composition re-resolves span ownership among its survivor
    * corpus through exactly this chain. */
  private def substrPsCtes(fromWhere: String): String = {
    val n = SubstrNgram
    s"""ps AS (SELECT doc_id, u.pos AS pos, u.sh AS sh FROM (
       |  SELECT doc_id, unnest(CASE WHEN len(th) < $n THEN []
       |    ELSE list_transform(range(1, len(th) - ${n - 1} + 1), i ->
       |      {'pos': CAST(i AS BIGINT),
       |       'sh': ${DedupQueries.combineSql(s"th[i:i+${n - 1}]")}}) END) AS u
       |  FROM t$fromWhere)),
       |o AS (SELECT sh, min(doc_id) AS own FROM ps GROUP BY sh
       |  HAVING min(doc_id) <> max(doc_id)),
       |hits AS (SELECT ps.doc_id, ps.pos FROM ps JOIN o USING (sh)
       |  WHERE ps.doc_id <> o.own)""".stripMargin
  }

  /** Twin of [[dsirRanked]] (expects `t` = [[thCte]] in scope): the
    * feature → count → dense-ratio → score → rank chain ending in
    * `n(total)` and `r2(doc_id, n_feats, score, dsir_rank)` — shared by
    * the standalone weights oracle and the surgical composition. */
  private def dsirCtes: String =
    s"""d AS (SELECT doc_id, source, CASE WHEN len(th) < 2 THEN CAST([] AS BIGINT[])
       |  ELSE list_transform(range(1, len(th)), i ->
       |    CAST(${DedupQueries.combineSql("th[i:i+1]")} % $DsirBuckets AS BIGINT)) END AS fb
       |  FROM t),
       |fs AS (SELECT doc_id, source, unnest(fb) AS f FROM d),
       |c AS (SELECT f, SUM(CASE WHEN source = 'src19' THEN 1 ELSE 0 END) AS nt,
       |  SUM(CASE WHEN source <> 'src19' THEN 1 ELSE 0 END) AS nr FROM fs GROUP BY f),
       |dense AS (SELECT CAST(r.range AS BIGINT) AS f,
       |  CAST(COALESCE(c.nt, 0) + 1 AS DOUBLE) / (COALESCE(c.nr, 0) + 1) AS ratio
       |  FROM range(0, $DsirBuckets) r LEFT JOIN c ON c.f = r.range),
       |rl AS (SELECT list(ratio ORDER BY f) AS rr FROM dense),
       |sc AS (SELECT doc_id, CAST(len(fb) AS BIGINT) AS n_feats,
       |  list_reduce(list_prepend(CAST(0 AS DOUBLE), list_transform(fb, b -> rr[b+1])),
       |    (a, x) -> a + x) AS score
       |  FROM d CROSS JOIN rl WHERE source <> 'src19'),
       |n AS (SELECT count(*) AS total FROM sc),
       |r2 AS (SELECT doc_id, n_feats, score,
       |  row_number() OVER (ORDER BY score DESC, doc_id) AS dsir_rank FROM sc)""".stripMargin

  /** Twin of [[shelfPack]] over `srcRel` (doc_id, n_tokens): size-class
    * assignment + per-class row number, ending in
    * `r3(doc_id, n_tokens, size_class, rn)`. */
  private def shelfRankCtes(srcRel: String): String =
    s"""c2 AS (SELECT doc_id, n_tokens, $ShelfTokens // n_tokens AS size_class
       |  FROM $srcRel WHERE n_tokens > 0 AND n_tokens <= $ShelfTokens),
       |r3 AS (SELECT doc_id, n_tokens, size_class,
       |  row_number() OVER (PARTITION BY size_class ORDER BY doc_id) - 1 AS rn
       |  FROM c2)""".stripMargin

  /** The shared excision-accounting SELECT over any `hits` chain: hit
    * CTEs → coverage → per-doc before/removed/after — one tail behind
    * the eval-set, corpus-internal, and incremental excision oracles. */
  private def exciseSelectSql(hitCtes: String, n: Int,
                              extraCtes: String = "", tail: String = ""): String =
    s"""WITH $hitCtes,
       |$extraCtes${coverageCtes(n)},
       |nt AS (SELECT doc_id, CAST($ntokSql AS BIGINT) AS n_before FROM documents)
       |SELECT cov.doc_id, nt.n_before, cov.n_removed,
       |  nt.n_before - cov.n_removed AS n_after
       |FROM cov JOIN nt USING (doc_id)$tail
       |ORDER BY doc_id""".stripMargin

  /** Twin of [[excisedCoverage]] (expects a `hits(doc_id, pos)` CTE in
    * scope): lag-window interval union ending in `cov(doc_id, n_removed)`. */
  private def coverageCtes(n: Int): String =
    s"""h AS (SELECT doc_id, pos,
       |  lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) AS prev
       |  FROM hits),
       |cov AS (SELECT doc_id, CAST(SUM(CASE WHEN prev IS NULL THEN $n
       |    ELSE LEAST($n, pos - prev) END) AS BIGINT) AS n_removed
       |  FROM h GROUP BY doc_id)""".stripMargin

  /** Twin of [[contaminationHits]]: CTE chain ending in
    * `hits(doc_id, pos)` — shared by the spans and excise oracles. */
  private def contamHitCtes: String = {
    val n = CurationPipeline.DecontNgram
    s"""t AS ($thCte),
       |d AS (SELECT doc_id, source, ${DedupQueries.shhSql(n)} AS shh FROM t),
       |ev AS (SELECT DISTINCT unnest(shh) AS sh FROM d WHERE source = 'src19'),
       |ps AS (SELECT doc_id, u.pos, u.sh FROM (
       |  SELECT doc_id, unnest(CASE WHEN len(th) < $n THEN []
       |    ELSE list_transform(range(1, len(th) - ${n - 1} + 1), i ->
       |      {'pos': CAST(i AS BIGINT),
       |       'sh': ${DedupQueries.combineSql(s"th[i:i+${n - 1}]")}}) END) AS u
       |  FROM t WHERE source <> 'src19')),
       |hits AS (SELECT doc_id, pos FROM ps JOIN ev USING (sh))""".stripMargin
  }

  private def docTokens(s: SparkSession, dir: String): DataFrame =
    docsSpread(s, dir).select(col("doc_id"),
      TextFunctions.tokenCount(col("text")).cast(LongType).as("n_tokens"))

  /** BM25 query terms (fixed literals — a real retrieval query). */
  val Bm25Terms = Seq("join", "hash", "scan")

  /** Per-doc BM25 score for [[Bm25Terms]] (k1=1.2, b=0.75), docs with at
    * least one matching term — `(doc_id, score)`. Term counts and doc
    * length are in-scan kernels; the corpus stats are ONE broadcast agg
    * row, so the whole arm is scan-shaped at 100 TB. Shared by
    * `text_bm25` (its top-20 view) and the hybrid-retrieval fusion
    * (`sim_hybrid_rrf`) — one scorer, no fork. */
  private[operators] def bm25Scored(s: SparkSession, dir: String): DataFrame = {
    val base = docsSpread(s, dir).select(col("doc_id"),
      NativeExpressions.termCounts(col("text"), Bm25Terms).as("tf"),
      TextFunctions.tokenCount(col("text")).cast(LongType).as("dl"))
    val aggs = count(lit(1)).as("n_docs") +:
      sum(col("dl")).as("n_tokens_total") +:
      Bm25Terms.zipWithIndex.map { case (t, j) =>
        sum(when(col("tf").getItem(j) > 0L, 1L).otherwise(0L)).as(s"df_$t")
      }
    val stats = base.agg(aggs.head, aggs.tail: _*)
    val scored = base.crossJoin(broadcast(stats))
      .withColumn("avgdl",
        col("n_tokens_total").cast(DoubleType) / col("n_docs").cast(DoubleType))
      .withColumn("score", Bm25Terms.zipWithIndex.map { case (t, j) =>
        val tf = col("tf").getItem(j).cast(DoubleType)
        when(col("tf").getItem(j) > 0L,
          ((col("n_docs").cast(DoubleType) - col(s"df_$t").cast(DoubleType) + lit(0.5))
            / (col(s"df_$t").cast(DoubleType) + lit(0.5)))
            * (tf * lit(2.2))
            / (tf + lit(1.2) * (lit(0.25)
              + lit(0.75) * col("dl").cast(DoubleType) / col("avgdl"))))
          .otherwise(lit(0.0))
      }.reduce(_ + _))
    scored.filter(col("score") > 0.0).select(col("doc_id"), col("score"))
  }

  /** CMS shape and probe terms (one deliberately absent so the
    * overestimate-only property is visible in the gate). The corpus
    * vocabulary is ~31 tokens, so width is deliberately SMALLER (16×2)
    * to force collisions — estimates must visibly over-count, not
    * degenerate to exact. */
  val CmsWidth = 16
  val CmsDepth = 2

  /** Tokenizer vocabulary cap — below the ~31-term corpus vocabulary so
    * the OOV (id 0) path is exercised, not vacuous. */
  val VocabSize = 25
  /** BPE merge rounds (the twin unrolls exactly this many) and the
    * frequency cap on the vocabulary histogram the trainer collects —
    * inactive at fixture scale, the bound that keeps the driver collect
    * constant-size at 100 TB (every BPE trainer learns from the head of
    * the word-frequency histogram). */
  val BpeRounds = 8
  val BpeVocabCap = 100000
  /** Retrain gate for `pipeline_bpe_incremental`: retrain iff the summed
    * |delta_ppm| over the [[DriftTopK]] head (the `pipeline_token_drift`
    * law) exceeds this — ~10% aggregate rate shift across the head
    * vocabulary. The driver fixtures sit at 17k–70k ppm natural drift
    * (measured at all 3 SFs), so they exercise the KEEP-BASE arm — the
    * incremental regime's point; BpeIncrementalSpec plants batches on
    * both sides of the boundary. Integer-exact and replayed in the twin,
    * so the branch can never disagree cross-engine whatever the value. */
  val BpeDriftGatePpm = 100000L
  val CmsProbeTerms = Seq("join", "hash", "scan", "query", "window", "zzz_absent")

  /** Sliding-window overlap chunker over a `(doc_id, text)` relation —
    * the retrieval/embedding chunk unit: window starts step by
    * [[ChunkStride]], the FINAL window right-aligns at n−W so every token
    * is covered and no window is strictly contained in another; a doc of
    * n ≤ W tokens yields exactly one chunk. Pure map-side explode — ONE
    * builder behind `pipeline_chunk_overlap` and the late-interaction
    * retrieval chunking ([[SimilarityQueries]] `sim_maxsim_topk`), so the
    * chunk unit cannot fork between the pipeline and its consumer. */
  private[operators] def chunkOverlapFrame(docs: DataFrame): DataFrame = {
    val base = docs
      .select(col("doc_id"), TextFunctions.tokens(col("text")).as("toks"))
      .withColumn("n", size(col("toks")))
      .filter(col("n") > 0)
    val starts = when(col("n") <= ChunkTokens, array(lit(0)))
      .otherwise(concat(
        filter(
          transform(
            sequence(lit(0), floor((col("n") - 1) / ChunkStride).cast("int")),
            i => i * ChunkStride),
          st => st + ChunkTokens < col("n")),
        array(col("n") - ChunkTokens)))
    base.withColumn("sts", starts)
      .select(col("doc_id"), col("n"), col("toks"),
        posexplode(col("sts")).as(Seq("chunk_idx", "start_tok")))
      .select(col("doc_id"),
        col("chunk_idx").cast(LongType).as("chunk_idx"),
        col("start_tok").cast(LongType).as("start_tok"),
        least(lit(ChunkTokens), col("n") - col("start_tok")).cast(LongType).as("n_tok"),
        array_join(slice(col("toks"), col("start_tok") + 1, lit(ChunkTokens)), " ")
          .as("chunk_text"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Concat-and-cut sequence packing: exclusive global prefix sum of
    // token counts in doc_id order (range partition + broadcast offsets —
    // no single-task window), then pack id / offset by integer division.
    "pipeline_pack" -> ((s, dir) => {
      Packing.packAssignments(docTokens(s, dir), "doc_id", "n_tokens", PackTokens)
        .select("doc_id", "n_tokens", "cum_before", "pack_id", "pack_offset")
        .orderBy("doc_id")
    }),

    // Loss-mask / attention-boundary manifest at SPAN grain: every
    // (pack, doc) intersection as pack-local half-open token coordinates
    // — what a pretraining consumer feeds the attention mask so tokens
    // never attend across document boundaries inside a packed sequence.
    // Spans tile each pack exactly (PackSpansSpec); scan-shaped explode
    // over the same prefix sum as pipeline_pack.
    "pipeline_pack_spans" -> ((s, dir) => {
      Packing.packSpans(docTokens(s, dir), "doc_id", "n_tokens", PackTokens)
        .orderBy("pack_id", "token_start")
    }),

    // Daily-ingest arm of the packing family (the standing pattern:
    // batch + incremental arms everywhere): an append-only batch (keys
    // sort after the standing corpus) packs WITHOUT repacking anything —
    // the standing token total is one agg scalar, and the batch's spans
    // at that base offset are exactly what a full repack would emit for
    // the batch (the ordered union's prefix sum decomposes; oracle = the
    // full chain restricted to batch docs, PackSpansSpec pins the
    // in-engine equality + the mid-pack splice point in closed form).
    // Cost per ingest: one base-total agg + batch-sized span work; the
    // standing corpus is scanned once for a sum, never re-packed.
    "pipeline_pack_spans_incremental" -> ((s, dir) => {
      val toks = docTokens(s, dir)
      val baseTotal = toks.filter(col("doc_id") < PackIncrSplit)
        .agg(coalesce(sum(col("n_tokens")), lit(0L)).as("t"))
        .collect()(0).getLong(0)
      Packing.packSpans(toks.filter(col("doc_id") >= PackIncrSplit),
        "doc_id", "n_tokens", PackTokens, baseTotal)
        .orderBy("pack_id", "token_start")
    }),

    // Context-length chunking: per-document window split, pure map work.
    "pipeline_chunks" -> ((s, dir) => {
      Packing.chunks(docTokens(s, dir), "doc_id", "n_tokens", ChunkTokens)
        .orderBy("doc_id", "chunk_id")
    }),

    // Sliding-window chunking WITH OVERLAP — the retrieval/embedding-prep
    // shape (pipeline_chunks above is the training-context, no-overlap
    // variant). Window starts step by ChunkStride; the FINAL window is
    // right-aligned at n-W, so every token is covered, no window is
    // strictly contained in another, and a doc of n<=W tokens yields
    // exactly one chunk. Emits the actual chunk text (whitespace-
    // normalized token join) — the unit a downstream embedder consumes.
    // Pure map-side explode: chunking a 100 TB corpus is scan-shaped,
    // no shuffle, and chunk ids (doc_id, chunk_idx) are deterministic.
    "pipeline_chunk_overlap" -> ((s, dir) =>
      chunkOverlapFrame(docsSpread(s, dir)).orderBy("doc_id", "chunk_idx")),

    // Whole-document SHELF packing — the padding-aware alternative to
    // concat-and-cut: no document is ever split across sequences
    // (attention never crosses a doc boundary), at the price of padding.
    // Deterministic shelf rule: a doc of n tokens joins size class
    // k = ShelfTokens div n; within its class, docs pack k-per-sequence
    // in doc_id order, and capacity holds by construction (k docs, each
    // <= ShelfTokens/k tokens). The per-class row number is the
    // scale-path composite rank (range partition + broadcast offsets
    // over (size_class, doc_id), PU.globalRankByOrder) minus the class's
    // min rank from a tiny broadcast agg — no per-class window, so a
    // web-scale class packs in parallel. Output is pack-grain:
    // fill/padding accounting plus the portable membership hash.
    "pipeline_pack_shelf" -> ((s, dir) => {
      shelfPack(docTokens(s, dir))
        .groupBy(col("size_class"), col("pack_seq"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("tokens_used"),
          (lit(ShelfTokens) - sum(col("n_tokens"))).as("padding"),
          NativeExpressions.polyCombine(
            sort_array(collect_list(col("doc_id")))).as("docs_hash"))
        .orderBy("size_class", "pack_seq")
    }),

    // Deterministic train/validation/test split: a doc's split depends
    // only on its key hash (stable under reruns, repartitioning, and
    // growth — the property df.randomSplit lacks), 90/5/5 by hash ranges;
    // per-(source, split) counts in one agg so the mix is auditable.
    "pipeline_split" -> ((s, dir) => {
      val bucket = pmod(TextFunctions.polyHash(col("doc_id").cast(StringType)), lit(100))
      docsSpread(s, dir)
        .withColumn("split",
          when(bucket < 90, "train").when(bucket < 95, "valid").otherwise("test"))
        .groupBy(col("source"), col("split"))
        .agg(count(lit(1)).as("n_docs"))
        .orderBy("source", "split")
    }),

    // Eval-set decontamination: corpus documents sharing any 8-gram with
    // the held-out eval slice (source src19) must be dropped before
    // training. The eval side's distinct shingle set is tiny → broadcast
    // hash semi-join runs inside the corpus scan; the corpus is never
    // shuffled, never self-joined.
    "pipeline_decontaminate" -> ((s, dir) => {
      val n = 8
      val withShh = docsSpread(s, dir)
        .select(col("doc_id"), col("source"),
          explode(TextFunctions.shingleHashes(col("text"), n)).as("sh"))
      val evalShh = withShh.filter(col("source") === "src19")
        .select(col("sh")).distinct()
      withShh.filter(col("source") =!= "src19")
        .join(broadcast(evalShh), Seq("sh"), "left_semi")
        .select(col("doc_id")).distinct()
        .orderBy("doc_id")
    }),

    // MULTI-SUITE decontamination report — "which benchmark leaked into
    // which document": both held-out suites' shingle sets probed in ONE
    // pass over the corpus (eval pairs (sh, suite) broadcast into the
    // exploded scan; per-(doc, suite) dedup is contamination-
    // proportional), per-doc boolean flags per suite. The per-suite
    // attribution is what a leak postmortem needs — the single-suite
    // pass can only say "contaminated". n = the e2e chain's
    // [[CurationPipeline.DecontNgram]] dial (both suites catch real
    // overlap at fixture scale: 31 and 23 docs at sf0.01).
    "pipeline_decontaminate_multi" -> ((s, dir) => {
      val n = CurationPipeline.DecontNgram
      val suites = Seq("src18", "src19")
      val withShh = docsSpread(s, dir)
        .select(col("doc_id"), col("source"),
          TextFunctions.shingleHashes(col("text"), n).as("shh"))
      val evalPairs = suites.map { su =>
        withShh.filter(col("source") === su)
          .select(lit(su).as("suite"), explode(col("shh")).as("sh")).distinct()
      }.reduce(_ unionByName _)
      withShh.filter(!col("source").isin(suites: _*))
        .select(col("doc_id"), explode(col("shh")).as("sh"))
        .join(broadcast(evalPairs), Seq("sh"))
        .select(col("doc_id"), col("suite")).distinct()
        .groupBy(col("doc_id"))
        .agg((sum(when(col("suite") === "src18", 1L).otherwise(0L)) > 0).as("hit_src18"),
          (sum(when(col("suite") === "src19", 1L).otherwise(0L)) > 0).as("hit_src19"))
        .orderBy("doc_id")
    }),

    // Span-level contamination FORENSICS — not just "which docs are
    // contaminated" (pipeline_decontaminate's rule, same 8-gram family)
    // but WHERE: per flagged doc, how many 8-gram positions hit the eval
    // set and the first/last hit's 1-based token index — the evidence a
    // curation team reads before deciding drop-vs-excise. POSITIONAL
    // shingles (no distinct): a fold over each length-n token-hash slice,
    // all in-scan column kernels ([[contaminationHits]] — shared with the
    // excision pass, one hit definition); the eval side is the same
    // bounded broadcast; output is contamination-proportional. n = 4, the
    // e2e chain's dial ([[CurationPipeline.DecontNgram]]): 8-grams catch
    // nothing at fixture scale, and a forensics query with no spans to
    // report would be a vacuous gate.
    "pipeline_decontaminate_spans" -> ((s, dir) => {
      contaminationHits(s, dir)
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_hits"),
          min(col("pos")).as("first_hit"), max(col("pos")).as("last_hit"))
        .orderBy("doc_id")
    }),

    // Surgical decontamination — EXCISE the contaminated spans instead of
    // dropping the document (the drop rule wastes every clean token of a
    // long doc over one quoted benchmark question). Each hit shingle
    // ([[contaminationHits]], shared with the spans report) covers tokens
    // [pos, pos+n-1]; overlapping windows merge by interval union,
    // computed as an in-scan FOLD over the doc's sorted hit positions
    // (4 for the first hit, min(4, gap) for each later one) — no per-doc
    // window, no second shuffle past the hit agg. Output per flagged
    // doc: tokens before / removed / after. The after-count is what
    // survives into the packed corpus; clean docs pass untouched and are
    // not re-emitted (contamination-proportional, like the spans report).
    "pipeline_excise" -> ((s, dir) => {
      excisedCoverage(contaminationHits(s, dir), CurationPipeline.DecontNgram)
        .join(docsSpread(s, dir).select(col("doc_id"),
          TextFunctions.tokenCount(col("text")).cast(LongType).as("n_before")),
          "doc_id")
        .select(col("doc_id"), col("n_before"), col("n_removed"),
          (col("n_before") - col("n_removed")).as("n_after"))
        .orderBy("doc_id")
    }),

    // Corpus-INTERNAL repeated-substring forensics (the decontamination
    // family's machinery turned inward — Lee et al. 2022 substring dedup,
    // shingle-approximated): per document that repeats another document's
    // spans, how many [[SubstrNgram]]-shingle positions are repeats, the
    // first/last repeated position, and how many distinct docs own the
    // spans it repeats. Hit definition is [[repeatedSpanHits]] (one
    // shingle-grain shuffle + duplicate-proportional broadcast back);
    // output is duplication-proportional.
    "dedup_substring_spans" -> ((s, dir) => {
      repeatedSpanHits(docsSpread(s, dir))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_hits"),
          min(col("pos")).as("first_hit"), max(col("pos")).as("last_hit"))
        .orderBy("doc_id")
    }),

    // Surgical substring DEDUP — excise every repeated span from every
    // non-owner doc (the owner keeps its copy; interval-union coverage,
    // [[excisedCoverage]] — the same fold as pipeline_excise, so
    // "covered" cannot mean two things). The remove-later/keep-first rule
    // at span grain: what global exact/near dedup does to whole documents,
    // applied to the token ranges the cheaper passes cannot see.
    "dedup_substring_excise" -> ((s, dir) => {
      excisedCoverage(repeatedSpanHits(docsSpread(s, dir)), SubstrNgram)
        .join(docsSpread(s, dir).select(col("doc_id"),
          TextFunctions.tokenCount(col("text")).cast(LongType).as("n_before")),
          "doc_id")
        .select(col("doc_id"), col("n_before"), col("n_removed"),
          (col("n_before") - col("n_removed")).as("n_after"))
        .orderBy("doc_id")
    }),

    // Decontamination at the scale where the eval shingle set CANNOT
    // broadcast exactly: fold it into one mergeable Bloom sketch (8 KB
    // regardless of eval-set size — map-side partials, tiny over the wire)
    // and probe every corpus shingle with column arithmetic inside the
    // scan. Overestimate-only: flagged ⊇ exactly-contaminated (a Bloom has
    // no false negatives — safe direction for decontamination, extra drops
    // cost data, never leakage). Both flags are emitted so the gate hashes
    // the false-positive rows too; the portable hash family makes even the
    // FP pattern oracle-replicable.
    "pipeline_decontaminate_bloom" -> ((s, dir) => {
      val n = 8
      val withShh = docsSpread(s, dir)
        .select(col("doc_id"), col("source"),
          TextFunctions.shingleHashes(col("text"), n).as("shh"))
        .persist()
      val evalShh = withShh.filter(col("source") === "src19")
        .select(explode(col("shh")).as("sh")).distinct()
      val bloom = evalShh.agg(
        new BloomFilterAgg(DecontBits, BloomK).column(col("sh")).as("bloom"))
      val exactIds = withShh.filter(col("source") =!= "src19")
        .select(col("doc_id"), explode(col("shh")).as("sh"))
        .join(broadcast(evalShh), Seq("sh"), "left_semi")
        .select(col("doc_id")).distinct()
        .withColumn("graft_exact", lit(true))
      withShh.filter(col("source") =!= "src19")
        .crossJoin(broadcast(bloom))
        .withColumn("maybe_contaminated", exists(col("shh"),
          sh => BloomFilterAgg.mightContain(col("bloom"), sh, DecontBits, BloomK)))
        .join(broadcast(exactIds), Seq("doc_id"), "left")
        .select(col("doc_id"), col("maybe_contaminated"),
          coalesce(col("graft_exact"), lit(false)).as("exact_contaminated"))
        .orderBy("doc_id")
    }),

    // Per-pack manifest — the "emit training sequences" step after
    // packAssignments: which documents start in each pack, in order. One
    // shuffle on pack_id; the in-pack order is pinned by sorting the
    // collected doc list, folded to the engine's portable combine hash so
    // the compared surface stays scalar.
    "pipeline_pack_manifest" -> ((s, dir) => {
      Packing.packAssignments(docTokens(s, dir), "doc_id", "n_tokens", PackTokens)
        .groupBy(col("pack_id"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("tokens_started"),
          min(col("doc_id")).as("first_doc"),
          max(col("doc_id")).as("last_doc"),
          NativeExpressions.polyCombine(sort_array(collect_list(col("doc_id"))))
            .as("doc_list_hash"))
        .orderBy("pack_id")
    }),

    // The cu_seqlens contract at PACK grain — what a FlashAttention-varlen
    // consumer actually passes to the kernel: per pack, the ordered
    // boundary offsets [0, end_1, …, end_m] (span ends tile the pack, so
    // prepending 0 to the ordered ends IS the cumulative-sequence-length
    // array). Derived from the same spans as pipeline_pack_spans — one
    // pack_id agg; the array folds to the portable combine hash per the
    // standing scalar-surface convention, alongside the two scalars a
    // sanity monitor reads (boundary count, pack fill).
    "pipeline_pack_attention" -> ((s, dir) => {
      Packing.packSpans(docTokens(s, dir), "doc_id", "n_tokens", PackTokens)
        .groupBy(col("pack_id"))
        .agg(count(lit(1)).cast(LongType).as("n_spans"),
          max(col("token_end")).as("fill"),
          NativeExpressions.polyCombine(
            concat(array(lit(0L)), array_sort(collect_list(col("token_end")))))
            .as("cu_seqlens_hash"))
        .orderBy("pack_id")
    }),

    // Deterministic GLOBAL SHUFFLE into training shards — the step between
    // "corpus is ready" and "trainer reads it": shard = consistent-hash of
    // the doc key mod NShards, within-shard order = a SECOND independent
    // hash (salted differently, so shard and order don't correlate). No
    // random(): rerun-, growth-, and partitioning-stable, and hash-uniform
    // shards are balanced by construction. At 100 TB this is
    // repartition(shard_id) + sortWithinPartitions(pos_h) — exactly one
    // shuffle; here the gate pins the per-shard membership AND order by
    // folding the hash-ordered doc list to the portable combine hash.
    "pipeline_shard" -> ((s, dir) => {
      docTokens(s, dir)
        .withColumn("shard_id", pmod(TextFunctions.polyHash(
          concat(lit("shard"), col("doc_id").cast(StringType))), lit(NShards)))
        .withColumn("pos_h", TextFunctions.polyHash(
          concat(lit("pos"), col("doc_id").cast(StringType))))
        .groupBy(col("shard_id"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_tokens")).as("n_tokens"),
          NativeExpressions.polyCombine(
            transform(sort_array(collect_list(struct(col("pos_h"), col("doc_id")))),
              x => x("doc_id"))).as("order_hash"))
        .orderBy("shard_id")
    }),

    // Per-domain QUOTA: cap every source's contribution so no single
    // domain dominates the mix (the "max N pages per site" rule of web
    // corpora). Survivors are chosen by consistent hash — an unbiased,
    // rerun- and growth-stable draw (a doc's fate never depends on what
    // else arrived) — and selection is TopKAgg again: k-bounded mergeable
    // aggregate with map-side partials, so only (sources × cap) ids cross
    // the shuffle and there is no per-domain window/sort. The gate pins
    // membership AND the within-quota hash order via the folded combine.
    "pipeline_domain_cap" -> ((s, dir) => {
      docsSpread(s, dir)
        .withColumn("h", TextFunctions.polyHash(
          concat(lit("cap"), col("doc_id").cast(StringType))))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_total"),
          TopKAgg.column(DomainCap, -col("h").cast(DoubleType), col("doc_id")).as("tk"))
        .select(col("source"), col("n_total"),
          size(col("tk")).cast(LongType).as("n_kept"),
          NativeExpressions.polyCombine(
            transform(col("tk"), x => x("_2"))).as("kept_hash"))
        .orderBy("source")
    }),

    // "Seen-corpus" membership: build a bit-packed Bloom filter over the
    // fingerprints of five sources (mergeable agg — map-side partials,
    // 64 bytes per group over the wire), broadcast it, probe every doc
    // with column arithmetic in the scan. exact_seen (broadcast join
    // against the distinct build fingerprints) exposes the false-positive
    // rows to the oracle.
    "pipeline_bloom" -> ((s, dir) => {
      val f = docsSpread(s, dir)
        .select(col("doc_id"), col("source"),
          TextFunctions.fingerprint(col("text")).as("fp"))
        .persist()
      val build = f.filter(col("source")
        .isin("src0", "src1", "src2", "src3", "src4"))
      val bloom = build.agg(
        new BloomFilterAgg(BloomBits, BloomK).column(col("fp")).as("bloom"))
      val buildFps = build.select(col("fp")).distinct()
        .withColumn("graft_seen", lit(true))
      f.crossJoin(broadcast(bloom))
        .join(broadcast(buildFps), Seq("fp"), "left")
        .select(col("doc_id"),
          BloomFilterAgg.mightContain(col("bloom"), col("fp"), BloomBits, BloomK)
            .as("maybe_seen"),
          coalesce(col("graft_seen"), lit(false)).as("exact_seen"))
        .orderBy("doc_id")
    }),

    // Token-budgeted corpus assembly — "take ~B tokens per source", the
    // budget-first cousin of the doc-count quota (pipeline_domain_cap):
    // docs are drawn in consistent-hash order (salted independently of
    // every other draw in the engine) and kept while the source's
    // cumulative token count is still under budget; the first
    // budget-crossing doc is kept (greedy-until-budget), everything after
    // is dropped. The hash order makes the draw rerun/growth-stable AND
    // unbiased. One window partitioned by source: parallel across
    // sources, per-source sort is the operation's inherent order; skew is
    // bounded upstream (a capped domain is a bounded partition).
    "pipeline_token_budget" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy(col("source")).orderBy(col("h"), col("doc_id"))
      docsSpread(s, dir)
        .select(col("doc_id"), col("source"),
          TextFunctions.tokenCount(col("text")).cast(LongType).as("n_tokens"),
          TextFunctions.polyHash(
            concat(lit("budget"), col("doc_id").cast(StringType))).as("h"))
        .withColumn("cum_before",
          coalesce(sum(col("n_tokens")).over(w.rowsBetween(
            org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)), lit(0L)))
        .filter(col("cum_before") < TokenBudget)
        .select(col("doc_id"), col("source"), col("n_tokens"), col("cum_before"))
        .orderBy("source", "cum_before", "doc_id")
    }),

    // Right-to-be-forgotten delete propagation — the lifecycle op a
    // standing corpus must support: a bounded tombstone list is removed
    // from the corpus AND propagated into the packed training artifact
    // WITHOUT repacking the world. Packs are manifest-grain (a doc
    // belongs to the pack its first token starts in, the
    // pipeline_pack_manifest grain); a pack containing any tombstoned doc
    // is dirty, its survivors are compacted into fresh packs appended
    // after the current tail, clean packs are byte-identical untouched.
    // At 100 TB the work is churn-proportional: the dirty-pack set and
    // the repack assignment are both deletion-sized broadcasts, the
    // standing layout is re-derived here only because the fixture has no
    // persisted manifest (production reads it back), and the compaction
    // prefix sum runs over affected survivors only.
    "pipeline_delete_propagate" -> ((s, dir) => {
      val packed = Packing
        .packAssignments(docTokens(s, dir), "doc_id", "n_tokens", PackTokens)
        .withColumn("is_del", pmod(TextFunctions.polyHash(
          concat(lit("del"), col("doc_id").cast(StringType))), lit(41)) === 0)
        .persist() // feeds the dirty set, the tail agg, and the status join
      val dirty = packed.filter(col("is_del")).select(col("pack_id")).distinct()
      val maxPack = packed.agg(max(col("pack_id")).as("max_pack"))
      val repacked = Packing.packAssignments(
          packed.join(broadcast(dirty), "pack_id")
            .filter(!col("is_del")).select("doc_id", "n_tokens"),
          "doc_id", "n_tokens", PackTokens)
        .crossJoin(broadcast(maxPack))
        // pack_id IS packAssignments' concat-and-cut assignment — reuse
        // it rather than re-deriving the div (one packing rule, no fork)
        .select(col("doc_id"),
          (col("max_pack") + 1L + col("pack_id")).as("new_pack"))
      packed
        .join(broadcast(dirty.withColumn("in_dirty", lit(true))),
          Seq("pack_id"), "left")
        .join(broadcast(repacked), Seq("doc_id"), "left")
        .select(col("doc_id"),
          when(col("is_del"), "deleted")
            .when(coalesce(col("in_dirty"), lit(false)), "repacked")
            .otherwise("kept").as("status"),
          col("pack_id").as("old_pack_id"),
          when(col("is_del"), -1L)
            .otherwise(coalesce(col("new_pack"), col("pack_id")))
            .as("new_pack_id"))
        .orderBy("doc_id")
    }),

    // Corpus health report — the operational query every pipeline team
    // runs before and after a curation pass: per-source doc/token/char
    // volumes, Gopher pass counts, English share, and exact-dup
    // visibility via distinct text fingerprints. ONE aggregation with
    // map-side partials (count-distinct is the standard two-phase
    // expansion); every stat is INTEGER arithmetic so the compared
    // surface is float-free. At 100 TB this is the same single shuffle
    // on source.
    "pipeline_corpus_report" -> ((s, dir) => {
      val st = NativeExpressions.textStats(col("text"))
      val rep = NativeExpressions.repetitionStats(col("text"))
      docsSpread(s, dir)
        .select(col("source"), col("lang"), col("n_chars"),
          TextFunctions.tokenCount(col("text")).cast(LongType).as("ntok"),
          when(Gopher.keep(st, rep), 1L).otherwise(0L).as("gpass"),
          TextFunctions.fingerprint(col("text")).as("fp"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("ntok")).as("n_tokens"),
          sum(col("n_chars")).as("sum_chars"),
          sum(col("gpass")).as("n_gopher_pass"),
          sum(when(col("lang") === "en", 1L).otherwise(0L)).as("n_en"),
          countDistinct(col("fp")).as("n_distinct_texts"))
        .orderBy("source")
    }),

    // Zipf-head drift between two corpus snapshots — the distribution-
    // shift monitor a mixing pipeline runs before a new crawl batch joins
    // training: per-token ppm rates over the base snapshot's top-K
    // vocabulary head, base vs batch (same 4/5-boundary convention as the
    // incremental lifecycle). ONE scan and ONE token-grain shuffle carry
    // both sides (a side flag under conditional sums — not two passes);
    // the head selection is TakeOrdered (never a full sort) and the
    // totals frame is a 1-row broadcast. Integer-only surface: ppm via
    // integer division (top-token count * 1e6 stays under Long past a
    // 100 TB corpus — ~1e12 * 1e6 < 2^63; the CASE guards an empty side).
    "pipeline_token_drift" -> ((s, dir) => tokenDrift(docsSpread(s, dir))),

    // Per-doc n-gram NOVELTY of an incoming batch against the corpus —
    // the score novelty-weighted sampling and crawl triage rank on: of a
    // batch doc's distinct 8-gram shingles, how many exist nowhere in the
    // base snapshot (same 4/5-id-boundary convention as the incremental
    // lifecycle). The base's distinct shingle set is corpus-proportional,
    // so the membership anti-join carries NO hint: AQE broadcasts it
    // while the checkpointed set measures small (fixture scale) and
    // degrades to the shingle-grain shuffle join at corpus scale — the
    // incremental-substring shape. The batch side's shingle arrays are
    // computed once and persisted (ingest-bounded). Integer ppm surface.
    "pipeline_ngram_novelty" -> ((s, dir) => ngramNovelty(docsSpread(s, dir))),

    // Curriculum ordering — emit the corpus in training order: highest-
    // quality bin first (clean text before noisy), and WITHIN a bin a
    // consistent-hash shuffle (salted independently of every other draw)
    // so no upstream order leaks into the curriculum. The global position
    // comes from the scale-path rank (range partition + broadcast
    // offsets, PU.globalRankByScore) over the composite key
    // bin·P + hash — there is no single-task global sort and no
    // one-partition-per-bin window, so a web-scale bin orders in
    // parallel. Bin = floor(quality·4): the ·4 is a power-of-two scale,
    // so the double comparison stays bit-exact cross-engine.
    "pipeline_curriculum" -> ((s, dir) => {
      val binned = docsSpread(s, dir)
        .select(col("doc_id"), TextFunctions.qualityScore(col("text")).as("q"))
        .select(col("doc_id"),
          least(floor(col("q") * 4).cast(LongType), lit(3L)).as("bin"))
        .withColumn("key", col("bin") * lit(P) +
          pmod(TextFunctions.polyHash(
            concat(lit("cur"), col("doc_id").cast(StringType))), lit(P)))
      graft.pu.PU.globalRankByScore(binned, "key", col("doc_id"), "curriculum_pos")
        .select(col("doc_id"), col("bin"), col("curriculum_pos"))
        .orderBy("curriculum_pos")
    }),

    // Multi-EPOCH training order — what a data loader replays across
    // [[NEpochs]] passes: every doc appears once per epoch, each epoch's
    // order is an independent hash permutation (no random(): rerun-,
    // growth- and partitioning-stable, and epoch orders don't correlate
    // with each other or with any upstream draw). The draw is the
    // universal-hash family (a_e·x + b_e mod P, per-epoch coefficients —
    // the Bloom/CMS probe family), NOT the char-fold poly hash: a char
    // fold over a shared prefix + numeric suffix is nearly MONOTONE in
    // the suffix, which would replay the same near-identity order every
    // epoch (caught by EpochShuffleSpec). doc_id is reduced mod P before
    // the multiply so the product stays under 2^63 at any corpus scale.
    // Positions come from ONE composite scale-path rank over
    // (epoch, pos_h, doc_id) — epoch-major, so per-epoch position is rank
    // minus epoch·N with no per-epoch window; at 100 TB this is exactly
    // one range exchange for ALL epochs.
    "pipeline_epoch_shuffle" -> ((s, dir) => {
      val docs = docsSpread(s, dir).select(col("doc_id"))
      val total = docs.count()
      val a = pmod(lit(1103515245L) * (col("epoch") + 1) + 12345L, lit(P))
      val b = pmod(lit(1103515245L) * (col("epoch") + 7) + 54321L, lit(P))
      val keyed = docs
        .select(col("doc_id"),
          explode(sequence(lit(0L), lit(NEpochs - 1L))).as("epoch"))
        .withColumn("pos_h",
          pmod(a * pmod(col("doc_id") + 1, lit(P)) + b, lit(P)))
      graft.pu.PU.globalRankByOrder(keyed,
          Seq(col("epoch"), col("pos_h"), col("doc_id")), "grank")
        .withColumn("epoch_pos", col("grank") - col("epoch") * lit(total))
        .select(col("doc_id"), col("epoch"), col("epoch_pos"))
        .orderBy("epoch", "epoch_pos")
    }),

    // DSIR-style importance weights (Xie et al. 2023): score every raw doc
    // by how target-like its hashed-bigram profile is, where the target
    // distribution comes from the held-out src19 slice. Per-bucket
    // smoothed ratios (nt+1)/(nr+1) from ONE feature-grain agg whose
    // result is [[DsirBuckets]] rows — a constant-size driver collect at
    // any corpus scale (the BPE-vocab-cap pattern) — folded back through
    // the scan as a literal lookup array: each doc's score is the
    // IN-ORDER fold of its bigram-bucket ratios (the identical IEEE
    // addition tree on both engines — no log, the one libm op whose
    // rounding differs cross-engine; monotone-equivalent to DSIR's
    // log-ratio sum for ranking within a fixed doc length). The keep rule
    // is rank-based (top quartile by score, scale-path global rank) —
    // comparisons only, no cross-partition float accumulation.
    "pipeline_dsir_weights" -> ((s, dir) => {
      dsirRanked(s, dir).orderBy("doc_id")
    }),

    // DSIR's actual RESAMPLING step (Xie et al. 2023 — Data Selection via
    // Importance RESAMPLING): draw k docs per source with inclusion
    // probability ∝ importance weight, completing the recipe
    // pipeline_dsir_weights's rank-quartile keep only approximates. The
    // double importance score fixes to an integer weight
    // (floor(score·2²⁰)+1 — score doubles are bit-identical cross-engine,
    // so the floor is too) and feeds the SAME sequential-Poisson draw as
    // pipeline_weighted_sample ([[DedupQueries.weightedSampleFrom]]) —
    // one draw law, two weight producers.
    "pipeline_dsir_sample" -> ((s, dir) => {
      val w = dsirRanked(s, dir)
        .join(docsSpread(s, dir).select(col("doc_id"), col("source")), Seq("doc_id"))
        .withColumn("weight_ppm",
          (floor(col("score") * lit(1048576.0)).cast(LongType) + lit(1L)))
      DedupQueries.weightedSampleFrom(w, DsirSampleK)
        .orderBy("source", "draw_rank")
    }),

    // INCREMENTAL substring dedup — the daily-ingest arm of the span
    // pass: excise a new batch (top ~20% of ids, the incremental chain's
    // batch rule) against STANDING corpus state without touching the
    // corpus. The state is the corpus's distinct shingle set, computed
    // once and materialized (CheckpointUtil.materialize — the production
    // artifact a deployment persists); every batch position whose shingle
    // exists in the state is a hit outright (the owner lives in the
    // corpus — every corpus id precedes every batch id), and shingles the
    // corpus has never seen resolve ownership among the batch alone.
    // Those two hit sets partition the full-rebuild hit set EXACTLY, so
    // the oracle is the whole-corpus pass restricted to batch ids — the
    // hash-exact compare IS the batch-then-increment == full-rebuild
    // proof. Corpus cost: one scan to build state, then zero (no corpus
    // shuffle on any batch's account). The state joins carry NO broadcast
    // hint (a hint would override autoBroadcastJoinThreshold and force a
    // driver OOM at scale): the checkpointed state's size is known, so
    // Spark broadcasts while it fits the threshold and falls back to a
    // shuffled join of the BATCH-sized side when it doesn't. A
    // lossy-but-cheaper Bloom state probe (overestimate-only = extra
    // excision, the safe direction) is the documented follow-up for
    // deployments where even the shuffled probe is too hot — it changes
    // results, so it could never be a silent swap.
    "dedup_substring_incremental" -> ((s, dir) =>
      incrementalSubstringCoverage(docsSpread(s, dir)).orderBy("doc_id")),

    // SURGICAL curation composition — the session's new operators chained
    // into one pass: Gopher quality gate ∧ DSIR target-likeness keep
    // (scores trained ONCE on the full corpus — [[dsirRanked]], the
    // standalone query's exact model, no fork), then corpus-internal
    // repeated-substring EXCISION scoped to the survivor corpus
    // (ownership re-resolved among survivors: a dropped doc cannot own a
    // span), then whole-document SHELF packing on the post-excision token
    // mass. Per-stage scale shapes are the standalones': one
    // constant-size ratio collect, one shingle-grain shuffle +
    // duplicate-proportional broadcast, one composite range exchange.
    "pipeline_e2e_surgical" -> ((s, dir) => {
      // stage 1+2: quality ∧ importance gates
      val keep = dsirRanked(s, dir).filter(col("keep"))
        .select(col("doc_id"), col("dsir_rank"))
      val surv = graft.CheckpointUtil.track(
        CurationPipeline.qualitySurvivors(docsSpread(s, dir))
          .join(keep, "doc_id").persist())
      // stage 3: surgical substring excision within the survivor corpus
      val cov = excisedCoverage(repeatedSpanHits(surv), SubstrNgram)
      val after = graft.CheckpointUtil.track(surv
        .select(col("doc_id"), col("dsir_rank"),
          TextFunctions.tokenCount(col("text")).cast(LongType).as("n_before"))
        .join(cov, Seq("doc_id"), "left")
        .withColumn("n_removed", coalesce(col("n_removed"), lit(0L)))
        .withColumn("n_after", col("n_before") - col("n_removed"))
        .persist())
      // stage 4: shelf-pack the surviving token mass (docs excised to
      // zero tokens drop here, like any empty doc)
      shelfPack(after.select(col("doc_id"), col("n_after").as("n_tokens")))
        .select(col("doc_id"), col("size_class"), col("pack_seq"))
        .join(after, "doc_id")
        .select(col("doc_id"), col("n_before"), col("n_removed"),
          col("n_after"), col("dsir_rank"), col("size_class"), col("pack_seq"))
        .orderBy("doc_id")
    }),

    // Corpus snapshot diff — "what changed between yesterday's corpus and
    // today's": added / removed / changed doc ids by content fingerprint.
    // The two snapshots are simulated deterministically from the one
    // fixture table (v1 lacks the 'add'-hash slice and carries a
    // one-char-shorter revision of the 'chg'-hash slice; v2 lacks the
    // 'rm'-hash slice). The diff itself is the production shape: each
    // side's scan emits only (doc_id, fingerprint) — column-pruned — into
    // ONE full-outer hash join on doc_id, and the output is
    // churn-proportional (unchanged docs are filtered, never collected).
    // At 100 TB both snapshots are bucketed on doc_id, making the join a
    // zero-shuffle sort-merge; nothing here broadcasts a corpus-sized
    // side.
    "pipeline_corpus_diff" -> ((s, dir) => {
      val d = docsSpread(s, dir).select(col("doc_id"), col("text"),
        pmod(TextFunctions.polyHash(
          concat(lit("add"), col("doc_id").cast(StringType))), lit(17)).as("ha"),
        pmod(TextFunctions.polyHash(
          concat(lit("rm"), col("doc_id").cast(StringType))), lit(19)).as("hr"),
        pmod(TextFunctions.polyHash(
          concat(lit("chg"), col("doc_id").cast(StringType))), lit(13)).as("hc"))
      val v1 = d.filter(col("ha") =!= 3).select(col("doc_id"),
        when(col("hc") === 1, TextFunctions.fingerprint(
            expr("substring(text, 1, greatest(length(text) - 1, 0))")))
          .otherwise(TextFunctions.fingerprint(col("text"))).as("old_fp"))
      val v2 = d.filter(col("hr") =!= 5).select(col("doc_id"),
        TextFunctions.fingerprint(col("text")).as("new_fp"))
      v1.join(v2, Seq("doc_id"), "full_outer")
        .withColumn("status",
          when(col("old_fp").isNull, "added")
            .when(col("new_fp").isNull, "removed")
            .when(col("old_fp") =!= col("new_fp"), "changed"))
        .filter(col("status").isNotNull)
        .select(col("doc_id"), col("status"),
          coalesce(col("old_fp"), lit(-1L)).as("old_fp"),
          coalesce(col("new_fp"), lit(-1L)).as("new_fp"))
        .orderBy("doc_id")
    }),

    // Corpus mixing: per-source consistent-hash downsampling rates (the
    // domain-reweighting step of a pretraining mix) + deterministic
    // upsampling of one language by row replication. The keep decision
    // depends only on the doc key — stable under reruns and growth.
    "pipeline_mix" -> ((s, dir) => {
      docsSpread(s, dir)
        .withColumn("rate",
          when(col("source").isin("src0", "src1"), 10)
            .when(col("source") === "src2", 50)
            .otherwise(100))
        .filter(pmod(TextFunctions.polyHash(col("doc_id").cast(StringType)),
          lit(100)) < col("rate"))
        .withColumn("weight", when(col("lang") === "en", 2).otherwise(1))
        .select(col("doc_id"), col("source"), col("lang"),
          explode(sequence(lit(1), col("weight"))).as("copy_id"))
        .withColumn("copy_id", col("copy_id").cast(LongType))
        .orderBy("doc_id", "copy_id")
    }),

    // TEMPERATURE-flattened language mix — the multilingual rebalancing
    // rule (sampling mass ∝ share^α, α = 1/2): head languages downsample
    // by keep-rate sqrt(n_min/n_lang), the smallest language keeps
    // everything, and the result flattens toward uniform WITHOUT
    // replication. Unlike pipeline_mix's fixed per-source rates, the
    // rates here are COMPUTED FROM the corpus itself: one tiny per-lang
    // count aggregate broadcasts back as the rate table, the keep draw
    // is the salted consistent hash (rerun/growth-stable), and sqrt +
    // divide are correctly-rounded IEEE ops written as the identical
    // tree on both engines, so even the derived rate is hash-exact.
    "pipeline_mix_temperature" -> ((s, dir) => {
      // persist: the tiny per-lang count frame feeds BOTH the min() agg
      // and the rates projection — unpersisted, each branch re-scans the
      // corpus (the dedup_soft_weight lesson)
      val counts = docsSpread(s, dir)
        .groupBy(col("lang")).agg(count(lit(1)).as("n_lang"))
        .persist()
      val rates = counts
        .crossJoin(broadcast(counts.agg(min(col("n_lang")).as("n_min"))))
        .select(col("lang"), col("n_lang"),
          floor(lit(1000000.0) * sqrt(col("n_min").cast(DoubleType) /
            col("n_lang").cast(DoubleType))).cast(LongType).as("rate_ppm"))
      docsSpread(s, dir).select(col("doc_id"), col("lang"))
        .join(broadcast(rates), "lang")
        .filter(pmod(TextFunctions.polyHash(
          concat(lit("temp"), col("doc_id").cast(StringType))), lit(1000000))
          < col("rate_ppm"))
        .select(col("doc_id"), col("lang"), col("n_lang"), col("rate_ppm"))
        .orderBy("doc_id")
    }),

    // Corpus tokenization to vocabulary ids — the convert-text-to-
    // training-tokens step: (1) build the vocabulary (df per term, ids
    // dense-ranked by df desc) with the SCALE-PATH global rank (range
    // partition + broadcast offsets — no single-task window, so a
    // web-scale vocabulary ranks in parallel); (2) cap at VocabSize,
    // everything rarer maps to OOV id 0; (3) apply as a BROADCAST MAP
    // with a per-row `transform` lookup inside the scan — the corpus is
    // never exploded or re-assembled, zero data-sized shuffles in the
    // apply pass. Output pins the id sequence via the combine hash.
    "pipeline_tokenize" -> ((s, dir) => {
      val toksExpr = TextFunctions.tokens(col("text"))
      val base = docsSpread(s, dir).select(col("doc_id"), toksExpr.as("toks"))
      val vocab = base.select(col("doc_id"), explode(col("toks")).as("tok"))
        .groupBy(col("tok"))
        .agg(countDistinct(col("doc_id")).cast(DoubleType).as("df_score"))
      val ranked = graft.pu.PU.globalRankByScore(vocab, "df_score", col("tok"))
        .filter(col("rank") <= VocabSize)
      // sorted (keys, vals) arrays + fused lookup kernel instead of a map
      // literal: element_at on a map is a per-token LINEAR vocabulary scan
      // inside an interpreted transform — SortedLookupLongs binary-searches
      // the same sorted entries in one codegen pass (identical ids incl.
      // the OOV-0 rule; NativeExpressionsSpec pins it)
      val varr = ranked.agg(array_sort(
          collect_list(struct(col("tok"), col("rank")))).as("ents"))
        .select(transform(col("ents"), e => e.getField("tok")).as("vk"),
          transform(col("ents"), e => e.getField("rank")).as("vv"))
      base.crossJoin(broadcast(varr))
        .withColumn("ids",
          NativeExpressions.sortedLookupLongs(col("toks"), col("vk"), col("vv")))
        .select(col("doc_id"),
          size(col("toks")).cast(LongType).as("n_tokens"),
          size(filter(col("ids"), _ === lit(0L))).cast(LongType).as("n_oov"),
          NativeExpressions.polyCombine(col("ids")).as("ids_hash"))
        .orderBy("doc_id")
    }),

    // Subword (BPE) tokenization — the step every modern training pipeline
    // runs where pipeline_tokenize stops at whole words. LEARN: one
    // corpus-sized aggregation builds the token-frequency histogram (capped
    // at BpeVocabCap — learning never rescans the corpus, the classic BPE
    // trainer shape), then BpeRounds greedy merges on the driver
    // (Bpe.learnMerges — deterministic ties, replayed exactly by the
    // unrolled-rounds twin, so the LEARNED TABLE itself is inside the
    // hash-exact surface). APPLY: the merge table is a plan constant and
    // the whole rank-order apply runs in ONE codegen'd pass per document
    // (NativeExpressions.bpeStats) — no explode, no per-piece shuffle; the
    // compared surface stays scalar (piece count + ordered piece-hash
    // combine).
    "pipeline_bpe" -> ((s, dir) => {
      val merges = bpeMerges(docsSpread(s, dir))
      docsSpread(s, dir)
        .select(col("doc_id"), NativeExpressions.bpeStats(col("text"), merges).as("b"))
        .select(col("doc_id"),
          col("b").getItem(0).as("n_tokens"),
          col("b").getItem(1).as("n_pieces"),
          col("b").getItem(2).as("pieces_hash"))
        .orderBy("doc_id")
    }),

    // Drift-gated incremental BPE (see [[bpeIncremental]]): keep the
    // standing base-trained merge table while the head-vocabulary drift
    // holds under the gate, retrain on the full corpus past it — the
    // batch+incremental pair for the tokenizer artifact, with the gate
    // metric and branch pinned inside the compared hash.
    "pipeline_bpe_incremental" -> ((s, dir) =>
      bpeIncremental(docsSpread(s, dir)).orderBy("doc_id")),

    // TOKENIZER FERTILITY report — the QA table a tokenizer change ships
    // with: per source, how many BPE pieces the corpus's own learned
    // merge table spends per whitespace token (fertility, in ppm so the
    // compared surface stays integer-exact). One fused in-scan kernel
    // per doc (the pipeline_bpe stats), one source-grain agg; the merge
    // table is the same [[bpeMerges]] artifact every other BPE pass
    // uses, so the report can never describe a different tokenizer.
    "pipeline_tokenizer_report" -> ((s, dir) => {
      val merges = bpeMerges(docsSpread(s, dir))
      docsSpread(s, dir)
        .select(col("source"), NativeExpressions.bpeStats(col("text"), merges).as("b"))
        .groupBy(col("source"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("b").getItem(0)).as("n_tokens"),
          sum(col("b").getItem(1)).as("n_pieces"))
        .withColumn("fertility_ppm",
          when(col("n_tokens") === 0, -1L).otherwise(
            call_function("div", col("n_pieces") * 1000000L, col("n_tokens"))))
        .orderBy("source")
    }),

    // Token-frequency estimation via a Count-Min sketch: ONE
    // depth×width-long sketch summarizes the whole corpus's token
    // frequencies (map-side partial sketches, elementwise-sum merge —
    // constant state regardless of vocabulary size, vs the vocabulary-
    // sized shuffle of an exact count). Probe terms are estimated with
    // column arithmetic against the broadcast sketch; exact counts ride
    // along (oracle-visible error, incl. one absent term pinning the
    // overestimate-only property). The exact side exists for the gate —
    // at 100 TB you'd ship only the sketch.
    "text_cms_counts" -> ((s, dir) => {
      import s.implicits._
      val toks = docsSpread(s, dir)
        .select(explode(TextFunctions.tokenHashes(col("text"))).as("h"))
        .persist() // feeds the sketch build AND the exact-count join
      val sketch = toks.agg(
        new CountMinAgg(CmsWidth, CmsDepth).column(col("h")).as("cms"))
      val probes = CmsProbeTerms.toDF("term")
        .withColumn("h", TextFunctions.polyHash(col("term")))
      probes.join(toks.withColumn("one", lit(1L)), Seq("h"), "left")
        .groupBy(col("term"), col("h"))
        .agg(sum(coalesce(col("one"), lit(0L))).as("n_exact"))
        .crossJoin(broadcast(sketch))
        .select(col("term"),
          CountMinAgg.estimate(col("cms"), col("h"), CmsWidth, CmsDepth).as("n_est"),
          col("n_exact"))
        .orderBy("term")
    }),

    // Incremental corpus refresh — MERGE/upsert semantics, the CDC-apply
    // step of a continuously-updated training corpus: a change batch
    // (updates / inserts / deletes, derived deterministically from the key
    // so both engines see the identical batch) is applied to the base
    // snapshot. Shape: ONE shuffle join on the key (full-outer for
    // upserts, anti for deletes; delete wins over a same-key update). At
    // 100 TB a change batch is usually tiny relative to the snapshot, and
    // Spark broadcasts it — the full-outer formulation here is the
    // general both-sides-large path.
    "pipeline_upsert" -> ((s, dir) => {
      val base = docsSpread(s, dir).select(col("doc_id"), col("text"))
      val upserts = base.filter(col("doc_id") % 10 === 3)
        .select(col("doc_id"), concat(lit("rev2 "), col("text")).as("text"))
        .unionByName(base.filter(col("doc_id") % 50 === 7)
          .select((col("doc_id") + 1000000000L).as("doc_id"),
            concat(lit("new "), col("text")).as("text")))
      val deletes = base.filter(col("doc_id") % 17 === 5).select(col("doc_id"))
      Upsert(base, upserts, deletes, "doc_id")
        .select(col("doc_id"), col("graft_rev").as("rev"),
          TextFunctions.polyHash(col("text")).as("fp"))
        .orderBy("doc_id")
    }),

    // CDC compaction — the pick-latest step Upsert's contract requires
    // before a change batch with repeated keys is applied: latest event
    // per user by (ts, event_id), as a map-side-combinable max(struct)
    // aggregate — NOT a per-key window, whose partition a hot CDC key (a
    // row updated millions of times a day) would turn into one straggler
    // task. ts emitted as epoch micros (raw timestamps don't hash-compare
    // across engines).
    "pipeline_cdc_compact" -> ((s, dir) => {
      val ev = Tables.events(s, dir)
        .select(col("user_id"), col("ts"), col("event_id"),
          col("event_type"), col("value"))
      Upsert.compactLatest(ev, "user_id", Seq("ts", "event_id"))
        .select(col("user_id"), unix_micros(col("ts")).as("ts_us"),
          col("event_id"), col("event_type"), col("value"))
        .orderBy("user_id")
    }),

    // BM25 retrieval over literal query terms, 100 TB shape: per-doc term
    // frequencies come from ONE codegen'd tokenization pass inside the
    // scan (TermCounts — no explode, no tf shuffle); corpus statistics
    // (N, total tokens, per-term doc frequencies) are a single tiny agg
    // row broadcast back; scoring is per-row arithmetic and the top-20 is
    // TakeOrdered. Zero data-sized shuffles end to end. The doc-frequency
    // idf is the log-free rational form (see the header note); the score
    // sum runs in fixed term order so IEEE evaluation matches the twin.
    // Per-doc KEYWORD extraction — top-3 terms by tf·idf, the document-
    // summarization primitive (tagging, clustering labels, index
    // snippets). Two honest shuffles: (doc, tok) term frequencies and a
    // doc-grain gather; the df side reuses the same exploded pairs, and
    // the idf is the log-free rational form ([[Bm25]]'s reasoning: `ln`
    // is the one op whose libm rounding differs across engines). Top-3
    // selection is an in-scan array sort over each doc's bounded term
    // set — no window, no per-doc row_number shuffle.
    "text_keywords" -> ((s, dir) => {
      // df derives FROM the tf grain (each (doc,tok) row is one distinct
      // doc for tok) — same trick as the inverted index's postings-derived
      // df: drops the separate distinct pass and its exchange entirely.
      // persist: tf feeds the df aggregate AND the scoring join.
      val tf = docsSpread(s, dir)
        .select(col("doc_id"), explode(TextFunctions.tokens(col("text"))).as("tok"))
        .groupBy(col("doc_id"), col("tok")).agg(count(lit(1)).as("tf"))
        .persist()
      val df = tf.groupBy(col("tok")).agg(count(lit(1)).as("df"))
      val nd = docsSpread(s, dir).agg(count(lit(1)).as("nd"))
      val scored = tf.join(df, "tok").crossJoin(broadcast(nd))
        .withColumn("score", col("tf").cast(DoubleType) *
          ((col("nd").cast(DoubleType) - col("df").cast(DoubleType) + lit(0.5))
            / (col("df").cast(DoubleType) + lit(0.5))))
      scored.groupBy(col("doc_id"))
        .agg(slice(array_sort(collect_list(
          struct((-col("score")).as("ns"), col("tok").as("tok")))), 1, 3).as("top"))
        .select(col("doc_id"),
          col("top")(0)("tok").as("kw1"),
          (-col("top")(0)("ns")).as("kw1_score"),
          // get(), not apply: a doc with < 3 distinct tokens has a short
          // array, and ANSI ordinal access THROWS instead of nulling (the
          // coalesce never ran — adversarial single-token docs). Index 0
          // is safe: a doc_id group exists only with >= 1 term.
          coalesce(get(col("top"), lit(1))("tok"), lit("")).as("kw2"),
          coalesce(get(col("top"), lit(2))("tok"), lit("")).as("kw3"))
        .orderBy("doc_id")
    }),

    // CCNet/C4-style BOILERPLATE removal: a paragraph (non-overlapping
    // ParaWindow-token window, dedup_paragraph's definition) that appears
    // in >= BoilerplateDf DISTINCT docs is dropped from EVERY doc — the
    // pass that catches cookie banners / nav bars, which keep-first
    // paragraph dedup deliberately keeps once. See [[boilerplateAgg]] for
    // the plan shape and the adaptive broadcast-vs-shuffle degrade.
    "pipeline_boilerplate" -> ((s, dir) =>
      boilerplateAgg(docsSpread(s, dir)).orderBy("doc_id")),

    // IN-DOCUMENT repetition removal: later occurrences of a paragraph
    // already seen EARLIER IN THE SAME DOC are dropped (the self-repetition
    // half of paragraph hygiene; cross-doc policy is dedup_paragraph /
    // pipeline_boilerplate). Entirely in-scan — window-hash kernel plus an
    // array first-occurrence filter per row, ZERO data shuffles (the only
    // exchange is the presentation sort). The fixture corpus has no
    // in-doc repeats at this window, so a deterministic doubled banner is
    // prepended to every 7th doc on BOTH engines (the text_pii pattern) —
    // the drop path is exercised at every scale, not vacuously green.
    "pipeline_indoc_dedup" -> ((s, dir) => {
      val w = ParaWindow
      val bannerTail = " " + (2 to w).map("b" + _).mkString(" ")
      val banner = concat(lit("g"), col("doc_id").cast(StringType), lit(bannerTail))
      val aug = when(col("doc_id") % 7 === 3,
        concat(banner, lit(" "), banner, lit(" "), col("text")))
        .otherwise(col("text"))
      docsSpread(s, dir)
        .withColumn("wh", NativeExpressions.windowHashes(aug, w))
        .withColumn("kept", filter(col("wh"),
          (h, i) => array_position(col("wh"), h) === (i + 1).cast(LongType)))
        .select(col("doc_id"),
          size(col("wh")).cast(LongType).as("n_paras"),
          (size(col("wh")) - size(col("kept"))).cast(LongType).as("n_dup_indoc"),
          NativeExpressions.polyCombine(col("kept")).as("kept_hash"))
        .orderBy("doc_id")
    }),

    // CCNet-style per-LANGUAGE quality partition: every doc gets its
    // language (langId kernel) and unigram-LM score in ONE corpus scan
    // (TextQueries.lmScored carries the lang column through — no second
    // scan, no doc_id join), then head/middle/tail terciles WITHIN each
    // language by LM score. The per-lang rank uses NO per-lang window:
    // one composite-order global rank (range partition + broadcast
    // offsets, PU.globalRankByOrder over lang ASC, mean_p DESC, doc_id)
    // and each language's rank falls out by subtracting the language's
    // broadcast min-rank. Language cardinality is bounded (22 + und), so
    // the stats join broadcasts; the corpus shuffles once (the range
    // exchange) — the tercile assignment itself is map work.
    "pipeline_lm_partition" -> ((s, dir) => {
      val scored = graft.functions.TextQueries.lmScored(s, dir,
        Seq("lang" -> TextFunctions.langId(col("text"))))
        .select("doc_id", "lang", "mean_p")
      val ranked = graft.pu.PU.globalRankByOrder(scored,
        Seq(col("lang").asc, col("mean_p").desc, col("doc_id").asc), "grank")
      val stats = ranked.groupBy(col("lang"))
        .agg(count(lit(1)).as("n_lang"), min(col("grank")).as("g0"))
      ranked.join(broadcast(stats), "lang")
        .withColumn("lm_rank", col("grank") - col("g0") + lit(1L))
        .withColumn("bucket",
          element_at(lit(Array("head", "middle", "tail")),
            ((col("lm_rank") - 1) * 3).div(col("n_lang")).cast("int") + 1))
        .select(col("doc_id"), col("lang"), col("lm_rank"), col("bucket"))
        .orderBy("doc_id")
    }),

    "text_bm25" -> ((s, dir) => {
      bm25Scored(s, dir)
        .orderBy(col("score").desc, col("doc_id"))
        .limit(20)
    }),

    // Gopher-style repetition signals in one native pass per document
    // (top-token fraction, distinct-token ratio, duplicate-bigram
    // fraction) — the HOF/relational formulation needs an explode plus two
    // shuffling aggregations; this runs inside the scan.
    "text_repetition" -> ((s, dir) => {
      val rep = NativeExpressions.repetitionStats(col("text"))
      docsSpread(s, dir)
        .select(col("doc_id"), rep.as("r"))
        .select(col("doc_id"),
          col("r").getItem(0).as("n_tokens"),
          when(col("r").getItem(0) === 0L, lit(0.0))
            .otherwise(col("r").getItem(2).cast(DoubleType)
              / col("r").getItem(0).cast(DoubleType)).as("top_token_ratio"),
          when(col("r").getItem(0) === 0L, lit(0.0))
            .otherwise(col("r").getItem(1).cast(DoubleType)
              / col("r").getItem(0).cast(DoubleType)).as("distinct_token_ratio"),
          when(col("r").getItem(3) === 0L, lit(0.0))
            .otherwise(lit(1.0) - col("r").getItem(4).cast(DoubleType)
              / col("r").getItem(3).cast(DoubleType)).as("bigram_repetition"))
        .orderBy("doc_id")
    }),

    // The published Gopher quality rules (Rae et al. 2021) as per-doc
    // flags — the rule-based pre-filter pass that precedes model-based
    // scoring in every pretraining pipeline. Every flag is INTEGER
    // arithmetic (cross-multiplied ratios: mean len in [3,10] ⟺
    // 3n ≤ Σlen ≤ 10n; top-token ≤ 20% ⟺ 5·topf ≤ n), so the compared
    // surface has no floats at all; both stats vectors come from the two
    // fused one-pass kernels, evaluated once per row in-scan. The rule
    // set lives in [[Gopher]], shared with the e2e curation pipeline —
    // the filter definition cannot fork between the standalone flags
    // query and the composed chain.
    "text_gopher_filters" -> ((s, dir) => {
      docsSpread(s, dir)
        .select(col("doc_id"), NativeExpressions.textStats(col("text")).as("st"),
          NativeExpressions.repetitionStats(col("text")).as("r"))
        .select(col("doc_id"),
          Gopher.okCount(col("st")).as("ok_count"),
          Gopher.okMeanLen(col("st")).as("ok_mean_len"),
          Gopher.okStop(col("st")).as("ok_stop"),
          Gopher.okRep(col("st"), col("r")).as("ok_rep"))
        .withColumn("keep",
          col("ok_count") && col("ok_mean_len") && col("ok_stop") && col("ok_rep"))
        .orderBy("doc_id")
    }),

    // Power-of-2 length bucketing for batch shaping: docs in one bucket
    // pad to within 2x of each other. bucket = bit length of n_tokens —
    // INTEGER-exact on both engines via bin() (floor(log2(n)) drifts at
    // power-of-2 boundaries in floating point). One map-side-combinable
    // aggregation; membership pinned by the sorted-id combine hash.
    "pipeline_length_buckets" -> ((s, dir) => {
      docTokens(s, dir)
        .withColumn("bucket", when(col("n_tokens") === 0, lit(0L))
          .otherwise(length(bin(col("n_tokens"))).cast(LongType)))
        .groupBy(col("bucket"))
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("n_tokens"),
          NativeExpressions.polyCombine(sort_array(collect_list(col("doc_id"))))
            .as("ids_hash"))
        .orderBy("bucket")
    }),

    // Deterministic stratified sample: the k docs per source with the
    // smallest consistent-hash values — group-wise uniform sampling that is
    // stable under reruns and corpus growth. Runs as the bounded top-k
    // AGGREGATE on the negated hash (O(k) state, map-side partials,
    // skew-safe), not a window sort of every group.
    "pipeline_stratified" -> ((s, dir) => {
      val k = 5
      docsSpread(s, dir)
        .select(col("source"), col("doc_id"),
          TextFunctions.polyHash(col("doc_id").cast(StringType)).as("h"))
        .groupBy(col("source"))
        .agg(TopKAgg.column(k, -col("h").cast(DoubleType), col("doc_id")).as("top"))
        .select(col("source"), posexplode(col("top")))
        .select(col("source"), (col("pos") + 1).cast(LongType).as("rank"),
          col("col._2").as("doc_id"), (-col("col._1")).cast(LongType).as("h"))
        .orderBy("source", "rank")
    }),

    // Approximate distinct shingles per source: a DETERMINISTIC HLL
    // (trailing-zero rank over the engine's portable hash, max-register
    // merge) whose estimate is computed in exact integer arithmetic until
    // one final double division — so unlike approx_count_distinct this
    // sketch is oracle-replicable. Registers are a two-level agg (map-side
    // partials; 256 rows per source cross the wire). Exact count rides
    // along for the error to be visible.
    "text_hll_distinct" -> ((s, dir) => {
      val v = col("h") div lit(HllRegisters.toLong)
      val rho = when(v === 0L, lit(23L))
        .otherwise(lit(1L) + bit_count(v.bitwiseAND(-v) - lit(1L)).cast(LongType))
      // ONE data-sized shuffle: registers AND the exact count share the
      // (source, bucket) aggregation — `bucket = h mod m` partitions the
      // hash space, so per-source exact distinct = sum of per-bucket
      // distinct counts. The second stage reduces ≤m rows per source.
      val regs = docsSpread(s, dir)
        .select(col("source"),
          explode(TextFunctions.shingleHashes(col("text"), 3)).as("h"))
        .select(col("source"), pmod(col("h"), lit(HllRegisters.toLong)).as("bucket"),
          rho.as("rho"), col("h"))
        .groupBy(col("source"), col("bucket"))
        .agg(max(col("rho")).as("m"), countDistinct(col("h")).as("nd"))
      val alpha = lit(0.7213) / (lit(1.0) + lit(1.079) / lit(256.0))
      regs.groupBy(col("source")).agg(
        sum(col("nd")).as("n_exact"),
        (sum(pow(lit(2.0), lit(32L) - col("m")).cast(LongType))
          + (lit(HllRegisters.toLong) - count(lit(1))) * lit(4294967296L))
          .as("sum_int"))
        .withColumn("hll_estimate",
          alpha * lit(65536.0) * lit(4294967296.0) / col("sum_int").cast(DoubleType))
        .select(col("source"), col("n_exact"), col("hll_estimate"))
        .orderBy("source")
    })
  )

  // ------------------------------------------------------------------
  // DuckDB twins
  // ------------------------------------------------------------------

  private val ntokSql = graft.functions.TextQueries.sqlNTok

  /** The pack-span CTE chain ending in
    * `spans(pack_id, doc_id, token_start, token_end)` — the twin of
    * [[Packing.packSpans]], shared by the pipeline_pack_spans and
    * pipeline_pack_attention oracles so the span law cannot fork. */
  private[operators] lazy val packSpanCtes: String =
    s"""t AS (SELECT doc_id, CAST($ntokSql AS BIGINT) AS n_tokens FROM documents),
       |c AS (SELECT doc_id, n_tokens,
       |  CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
       |  FROM t),
       |p AS (SELECT doc_id, n_tokens,
       |  cum_before // $PackTokens AS p0,
       |  cum_before % $PackTokens AS o
       |  FROM c WHERE n_tokens > 0),
       |e AS (SELECT doc_id, n_tokens, p0, o,
       |  unnest(range(0, (o + n_tokens - 1) // $PackTokens + 1)) AS k FROM p),
       |spans AS (SELECT CAST(p0 + k AS BIGINT) AS pack_id, doc_id,
       |  CAST(CASE WHEN k = 0 THEN o ELSE 0 END AS BIGINT) AS token_start,
       |  CAST(LEAST($PackTokens, o + n_tokens - k * $PackTokens) AS BIGINT) AS token_end
       |FROM e)""".stripMargin

  /** The overlap-chunker CTE chain ending in `e(doc_id, n, toks, u)` with
    * `u = {ci: chunk index, st: start token}` — the twin of
    * [[chunkOverlapFrame]], shared by the pipeline_chunk_overlap and
    * sim_maxsim_topk oracles so the chunk unit cannot fork. */
  private[operators] val chunkCtes: String =
    s"""tk AS (SELECT doc_id,
       |  list_filter(string_split_regex(trim(text), '\\s+'), t9 -> t9 <> '') AS toks
       |  FROM documents),
       |b AS (SELECT doc_id, toks, len(toks) AS n FROM tk WHERE len(toks) > 0),
       |st AS (SELECT doc_id, toks, n,
       |  CASE WHEN n <= $ChunkTokens THEN [0]
       |       ELSE list_append(list_filter(list_transform(
       |         range(0, (n-1)//$ChunkStride + 1), i -> i*$ChunkStride),
       |         s2 -> s2 + $ChunkTokens < n), n - $ChunkTokens) END AS sts
       |  FROM b),
       |e AS (SELECT doc_id, n, toks,
       |  unnest(list_transform(range(0, len(sts)), j -> {'ci': j, 'st': sts[j+1]})) AS u FROM st)""".stripMargin

  /** DuckDB twin of [[bm25Scored]]: CTE chain ending in
    * `s(doc_id, score)` — docs with >= 1 matching term; callers apply the
    * `score > 0.0` gate that mirrors the Scala filter. Shared by the
    * `text_bm25` twin and the `sim_hybrid_rrf` twin's lexical arm. */
  private[operators] lazy val bm25Ctes: String =
    s"""dl AS (SELECT doc_id, CAST($ntokSql AS BIGINT) AS dl FROM documents),
       |tot AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
       |  CAST(sum(dl) AS BIGINT) AS n_tokens_total FROM dl),
       |tf AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
       |  FROM (SELECT doc_id, unnest(list_filter(string_split_regex(trim(text), '\\s+'), t9 -> t9 <> '')) AS tok
       |        FROM documents)
       |  WHERE tok IN (${Bm25Terms.map(t => s"'$t'").mkString(", ")})
       |  GROUP BY doc_id, tok),
       |dft AS (SELECT tok, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
       |  FROM tf GROUP BY tok),
       |w AS (SELECT tf.doc_id, tf.tok,
       |  ((CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5))
       |    * (CAST(tf AS DOUBLE) * 2.2)
       |    / (CAST(tf AS DOUBLE) + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE)
       |        / (CAST(n_tokens_total AS DOUBLE) / CAST(n_docs AS DOUBLE)))) AS w
       |  FROM tf JOIN dft USING (tok) JOIN dl USING (doc_id) CROSS JOIN tot),
       |s AS (SELECT doc_id,
       |  ${Bm25Terms.map(t => s"COALESCE(MAX(CASE WHEN tok = '$t' THEN w END), 0.0)")
                      .mkString("\n       |    + ")} AS score
       |  FROM w GROUP BY doc_id)""".stripMargin

  /** Bloom probe position j of a fingerprint expression (exact mirror of
    * BloomFilterAgg.position). */
  private def bloomPosSql(fp: String, j: String, bits: Int = BloomBits): String =
    s"((((1103515245*($j+1)+12345) % $P)*$fp + (1103515245*($j+7)+54321) % $P) % $P) % $bits"

  /** CMS cell position — same universal-hash family, width modulus. */
  private def cmsPosSql(h: String, j: String): String =
    s"((((1103515245*($j+1)+12345) % $P)*$h + (1103515245*($j+7)+54321) % $P) % $P) % $CmsWidth"

  /** The unrolled-rounds BPE twin as a reusable CTE chain over `docsRel`
    * (any relation exposing (doc_id, text)) — learning rounds (pair counts
    * -> argmax pair -> fold-merge every segmentation), then the canonical
    * rank-order apply as a per-token recursion (each step merges the
    * present pair with the lowest rank; strictly decreasing segment count,
    * so the final state per token is the min-length row). chr(1) is the
    * pair-key separator (below every corpus char, so key order ==
    * component order — mirrors [[Bpe.Sep]]). Contains the recursive `rec`
    * CTE, so the enclosing query must open `WITH RECURSIVE`. Yields
    * `tk (doc_id, toks)` and `ag (doc_id, n_pieces, hl)`; the caller
    * left-joins them. Shared by the `pipeline_bpe` oracle and the e2e
    * curation twin (which tokenizes its SURVIVORS) — one trainer twin,
    * no fork. */
  private[operators] def bpeChainCtes(docsRel: String,
      trainRel: String = null): String = {
    def fm(seg: String, l: String, r: String): String =
      s"list_reduce(list_prepend(CAST([] AS VARCHAR[]), list_transform($seg, s0 -> [s0])), " +
        s"(acc, x) -> CASE WHEN len(acc) > 0 AND acc[len(acc)] = $l AND x[1] = $r " +
        s"THEN list_append(acc[1:len(acc)-1], $l || $r) ELSE list_concat(acc, x) END)"
    val rounds = (1 to BpeRounds).map { k =>
      s"pc$k AS (SELECT pr, sum(w) AS cnt FROM (" +
        s"SELECT w, unnest(list_transform(range(1, len(seg)), i -> seg[i] || chr(1) || seg[i+1])) AS pr " +
        s"FROM v${k - 1}) GROUP BY pr),\n" +
        s"b$k AS MATERIALIZED (SELECT pr, string_split(pr, chr(1))[1] AS l, string_split(pr, chr(1))[2] AS r " +
        s"FROM pc$k ORDER BY cnt DESC, pr LIMIT 1),\n" +
        s"v$k AS MATERIALIZED (SELECT tok, w, ${fm("v.seg", "b.l", "b.r")} AS seg FROM v${k - 1} v, b$k b)"
    }.mkString(",\n")
    val mtList = (1 to BpeRounds).map(k => s"b$k.pr").mkString(", ")
    val mtFrom = (1 to BpeRounds).map(k => s"b$k").mkString(", ")
    // the merge table is learned from `trainRel`'s histogram (default:
    // the apply corpus itself — the one-shot trainer); the APPLY
    // vocabulary `ahist` is always the apply corpus's, so an
    // incremental-regime batch token unseen at train time still
    // segments (rank-order apply is total on any token)
    val tokCase =
      s"""CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
         |       ELSE list_filter(string_split_regex(trim(text), '\\s+'), t9 -> t9 <> '') END""".stripMargin
    val trainTk = if (trainRel == null) "tk"
      else s"(SELECT doc_id, $tokCase AS toks FROM $trainRel)"
    s"""tk AS MATERIALIZED (SELECT doc_id, $tokCase AS toks FROM $docsRel),
       |e0 AS (SELECT unnest(toks) AS tok FROM $trainTk),
       |hist AS MATERIALIZED (SELECT tok, count(*) AS w FROM e0 GROUP BY tok),
       |v0 AS MATERIALIZED (SELECT tok, w, list_transform(range(1, length(tok)+1), c0 -> tok[c0]) AS seg
       |       FROM hist QUALIFY row_number() OVER (ORDER BY w DESC, tok) <= $BpeVocabCap),
       |$rounds,
       |mt AS MATERIALIZED (SELECT [$mtList] AS mtl FROM $mtFrom),
       |ahist AS (SELECT DISTINCT unnest(toks) AS tok FROM tk),
       |va AS MATERIALIZED (SELECT tok, list_transform(range(1, length(tok)+1), c1 -> tok[c1]) AS seg FROM ahist),
       |rec AS (
       |  SELECT tok, seg FROM va
       |  UNION ALL
       |  SELECT tok, ${fm("seg",
           "string_split(mtl[best], chr(1))[1]", "string_split(mtl[best], chr(1))[2]")} AS seg
       |  FROM (
       |    SELECT rec.tok, rec.seg, m.mtl,
       |      list_min(list_filter(list_transform(range(1, len(rec.seg)), i ->
       |        list_position(m.mtl, rec.seg[i] || chr(1) || rec.seg[i+1])), q0 -> q0 IS NOT NULL AND q0 > 0)) AS best
       |    FROM rec, mt m)
       |  WHERE best IS NOT NULL
       |),
       |fin AS (SELECT tok, seg FROM (
       |  SELECT tok, seg, row_number() OVER (PARTITION BY tok ORDER BY len(seg)) AS rn FROM rec) WHERE rn = 1),
       |eo AS (SELECT doc_id, unnest(list_transform(range(1, len(toks)+1), i -> {'pos': i, 'tok': toks[i]})) AS u FROM tk),
       |pp AS (SELECT eo.doc_id, eo.u.pos AS pos, f.seg AS seg FROM eo JOIN fin f ON eo.u.tok = f.tok),
       |fl AS (SELECT doc_id, pos, unnest(list_transform(range(1, len(seg)+1), j -> {'j': j, 'pc': seg[j]})) AS w2 FROM pp),
       |hh AS (SELECT doc_id, pos, w2.j AS j, ${ph("w2.pc", "ci")} AS h FROM fl),
       |ag AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_pieces, list(h ORDER BY pos, j) AS hl FROM hh GROUP BY doc_id)""".stripMargin
  }

  /** SQL twins of the [[Gopher]] rule set — CTE bodies + flag predicates,
    * shared by the `text_gopher_filters` oracle and the e2e curation twin
    * ([[CurationPipeline.oracles]]); one rule set, no fork. `tfCte`
    * expects the `t` CTE ([[DedupQueries.thCte]]) in scope. */
  private[operators] object GopherSql {
    val tfCte: String =
      s"""SELECT doc_id, CAST(CASE WHEN len(th) = 0 THEN 0 ELSE
         |    list_max(list_transform(list_distinct(th),
         |      x -> len(list_filter(th, y -> y = x)))) END AS BIGINT) AS topf FROM t""".stripMargin
    val stCte: String =
      s"SELECT doc_id, CAST($ntokSql AS BIGINT) AS n, " +
        s"CAST(${graft.functions.TextQueries.sumTokLen} AS BIGINT) AS sl, " +
        s"CAST(${graft.functions.TextQueries.nStop} AS BIGINT) AS ns FROM documents"
    val okCount = "n >= 50 AND n <= 100000"
    val okMeanLen = "n > 0 AND 3*n <= sl AND sl <= 10*n"
    val okStop = "ns >= 2"
    val okRep = "n > 0 AND 5*topf <= n"
    val keep = s"($okCount) AND ($okMeanLen) AND $okStop AND ($okRep)"
  }

  def oracles: Map[String, String] = Map(
    "pipeline_pack" ->
      s"""WITH t AS (SELECT doc_id, CAST($ntokSql AS BIGINT) AS n_tokens FROM documents),
         |c AS (SELECT doc_id, n_tokens,
         |  CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
         |  FROM t)
         |SELECT doc_id, n_tokens, cum_before,
         |  cum_before // $PackTokens AS pack_id,
         |  cum_before % $PackTokens AS pack_offset
         |FROM c ORDER BY doc_id""".stripMargin,

    "pipeline_pack_spans" ->
      s"""WITH $packSpanCtes
         |SELECT pack_id, doc_id, token_start, token_end
         |FROM spans ORDER BY pack_id, token_start""".stripMargin,

    // incremental arm: the FULL spans chain restricted to batch docs —
    // the decomposition claim verbatim (same shared chain, no fork)
    "pipeline_pack_spans_incremental" ->
      s"""WITH $packSpanCtes
         |SELECT pack_id, doc_id, token_start, token_end
         |FROM spans WHERE doc_id >= $PackIncrSplit
         |ORDER BY pack_id, token_start""".stripMargin,

    // cu_seqlens per pack: 0 prepended to the ordered span ends, folded
    // to the portable combine hash (same spans chain — one definition)
    "pipeline_pack_attention" ->
      s"""WITH $packSpanCtes
         |SELECT pack_id, CAST(count(*) AS BIGINT) AS n_spans,
         |  max(token_end) AS fill,
         |  ${DedupQueries.combineSql(
               "list_prepend(CAST(0 AS BIGINT), list(token_end ORDER BY token_end))")} AS cu_seqlens_hash
         |FROM spans GROUP BY pack_id ORDER BY pack_id""".stripMargin,

    "pipeline_chunks" ->
      s"""WITH t AS (SELECT doc_id, CAST($ntokSql AS BIGINT) AS n_tokens
         |  FROM documents WHERE ($ntokSql) > 0),
         |e AS (SELECT doc_id, n_tokens,
         |  unnest(range(0, (n_tokens + ${ChunkTokens - 1}) // $ChunkTokens)) AS chunk_id
         |  FROM t)
         |SELECT doc_id, n_tokens, CAST(chunk_id AS BIGINT) AS chunk_id,
         |  CAST(LEAST($ChunkTokens, n_tokens - $ChunkTokens * chunk_id) AS BIGINT) AS chunk_len
         |FROM e ORDER BY doc_id, chunk_id""".stripMargin,

    "pipeline_chunk_overlap" ->
      s"""WITH $chunkCtes
         |SELECT doc_id, CAST(u.ci AS BIGINT) AS chunk_idx, CAST(u.st AS BIGINT) AS start_tok,
         |  CAST(LEAST($ChunkTokens, n - u.st) AS BIGINT) AS n_tok,
         |  array_to_string(toks[u.st+1:u.st+$ChunkTokens], ' ') AS chunk_text
         |FROM e ORDER BY doc_id, chunk_idx""".stripMargin,

    "pipeline_pack_shelf" ->
      s"""WITH t AS (SELECT doc_id, CAST($ntokSql AS BIGINT) AS n_tokens FROM documents),
         |${shelfRankCtes("t")}
         |SELECT size_class, rn // size_class AS pack_seq, count(*) AS n_docs,
         |  CAST(SUM(n_tokens) AS BIGINT) AS tokens_used,
         |  $ShelfTokens - CAST(SUM(n_tokens) AS BIGINT) AS padding,
         |  ${DedupQueries.combineSql("list(doc_id ORDER BY doc_id)")} AS docs_hash
         |FROM r3 GROUP BY size_class, pack_seq
         |ORDER BY size_class, pack_seq""".stripMargin,

    "pipeline_split" ->
      s"""WITH b AS (SELECT source,
         |  (${ph("CAST(doc_id AS VARCHAR)", "si")}) % 100 AS bucket FROM documents)
         |SELECT source,
         |  CASE WHEN bucket < 90 THEN 'train'
         |       WHEN bucket < 95 THEN 'valid' ELSE 'test' END AS split,
         |  count(*) AS n_docs
         |FROM b GROUP BY source, 2 ORDER BY source, split""".stripMargin,

    "text_gopher_filters" ->
      s"""WITH t AS ($thCte),
         |tf AS (${GopherSql.tfCte}),
         |st AS (${GopherSql.stCte})
         |SELECT st.doc_id,
         |  ${GopherSql.okCount} AS ok_count,
         |  ${GopherSql.okMeanLen} AS ok_mean_len,
         |  ${GopherSql.okStop} AS ok_stop,
         |  ${GopherSql.okRep} AS ok_rep,
         |  ${GopherSql.keep} AS keep
         |FROM st JOIN tf ON st.doc_id = tf.doc_id
         |ORDER BY st.doc_id""".stripMargin,

    "pipeline_length_buckets" ->
      s"""WITH t AS (SELECT doc_id, CAST($ntokSql AS BIGINT) AS n FROM documents),
         |b AS (SELECT doc_id, n,
         |  CASE WHEN n = 0 THEN 0 ELSE CAST(length(bin(n)) AS BIGINT) END AS bucket FROM t)
         |SELECT bucket, count(*) AS n_docs, CAST(sum(n) AS BIGINT) AS n_tokens,
         |  ${DedupQueries.combineSql("list(doc_id ORDER BY doc_id)")} AS ids_hash
         |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin,

    "pipeline_shard" ->
      s"""WITH t AS (SELECT doc_id, CAST($ntokSql AS BIGINT) AS n_tokens FROM documents),
         |h AS (SELECT doc_id, n_tokens,
         |  ${ph("('shard' || CAST(doc_id AS VARCHAR))", "si")} % $NShards AS shard_id,
         |  ${ph("('pos' || CAST(doc_id AS VARCHAR))", "pi")} AS pos_h FROM t)
         |SELECT shard_id, count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS n_tokens,
         |  ${DedupQueries.combineSql("list(doc_id ORDER BY pos_h, doc_id)")} AS order_hash
         |FROM h GROUP BY shard_id ORDER BY shard_id""".stripMargin,

    "pipeline_domain_cap" ->
      s"""WITH h AS (SELECT doc_id, source,
         |  ${ph("('cap' || CAST(doc_id AS VARCHAR))", "ci")} AS h FROM documents),
         |r AS (SELECT doc_id, source, h,
         |  row_number() OVER (PARTITION BY source ORDER BY h, doc_id) AS rn,
         |  count(*) OVER (PARTITION BY source) AS n_total FROM h)
         |SELECT source, n_total, count(*) AS n_kept,
         |  ${DedupQueries.combineSql("list(doc_id ORDER BY h, doc_id)")} AS kept_hash
         |FROM r WHERE rn <= $DomainCap
         |GROUP BY source, n_total ORDER BY source""".stripMargin,

    "pipeline_decontaminate" ->
      s"""WITH t AS ($thCte),
         |d AS (SELECT doc_id, source, ${DedupQueries.shhSql(8)} AS shh FROM t),
         |ev AS (SELECT DISTINCT unnest(shh) AS sh FROM d WHERE source = 'src19'),
         |c AS (SELECT doc_id, unnest(shh) AS sh FROM d WHERE source <> 'src19')
         |SELECT DISTINCT doc_id FROM c JOIN ev USING (sh)
         |ORDER BY doc_id""".stripMargin,

    "pipeline_decontaminate_multi" -> {
      val n = CurationPipeline.DecontNgram
      s"""WITH t AS ($thCte),
         |d AS (SELECT doc_id, source, ${DedupQueries.shhSql(n)} AS shh FROM t),
         |ev AS (SELECT DISTINCT 'src18' AS suite, unnest(shh) AS sh FROM d WHERE source = 'src18'
         |  UNION SELECT DISTINCT 'src19' AS suite, unnest(shh) AS sh FROM d WHERE source = 'src19'),
         |c AS (SELECT doc_id, unnest(shh) AS sh FROM d
         |  WHERE source NOT IN ('src18', 'src19')),
         |h AS (SELECT DISTINCT doc_id, suite FROM c JOIN ev USING (sh))
         |SELECT doc_id,
         |  SUM(CASE WHEN suite = 'src18' THEN 1 ELSE 0 END) > 0 AS hit_src18,
         |  SUM(CASE WHEN suite = 'src19' THEN 1 ELSE 0 END) > 0 AS hit_src19
         |FROM h GROUP BY doc_id ORDER BY doc_id""".stripMargin
    },

    "pipeline_decontaminate_spans" ->
      s"""WITH $contamHitCtes
         |SELECT doc_id, count(*) AS n_hits,
         |  min(pos) AS first_hit, max(pos) AS last_hit
         |FROM hits
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "pipeline_excise" ->
      exciseSelectSql(contamHitCtes, CurationPipeline.DecontNgram),

    "dedup_substring_spans" ->
      s"""WITH $substrHitCtes
         |SELECT doc_id, count(*) AS n_hits,
         |  min(pos) AS first_hit, max(pos) AS last_hit
         |FROM hits
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "dedup_substring_excise" ->
      exciseSelectSql(substrHitCtes, SubstrNgram),

    // full rebuild restricted to batch ids — the equivalence proof
    "dedup_substring_incremental" ->
      exciseSelectSql(substrHitCtes, SubstrNgram,
        extraCtes = "bd AS (SELECT max(doc_id) * 4 // 5 AS boundary FROM documents),\n",
        tail = " CROSS JOIN bd\nWHERE cov.doc_id > bd.boundary"),

    "pipeline_decontaminate_bloom" -> {
      val n = 8
      s"""WITH t AS ($thCte),
         |d AS (SELECT doc_id, source, ${DedupQueries.shhSql(n)} AS shh FROM t),
         |ev AS (SELECT DISTINCT unnest(shh) AS sh FROM d WHERE source = 'src19'),
         |bits AS (SELECT DISTINCT unnest(list_transform(range(0, $BloomK),
         |  j -> ${bloomPosSql("sh", "j", DecontBits)})) AS pos FROM ev),
         |c AS (SELECT doc_id, unnest(shh) AS sh FROM d WHERE source <> 'src19'),
         |probed AS (SELECT doc_id, sh, ${bloomPosSql("sh", "j", DecontBits)} AS pos
         |  FROM (SELECT doc_id, sh, unnest(range(0, $BloomK)) AS j FROM c)),
         |shhit AS (SELECT doc_id, sh FROM probed JOIN bits USING (pos)
         |  GROUP BY doc_id, sh HAVING count(*) = $BloomK),
         |flagged AS (SELECT DISTINCT doc_id FROM shhit),
         |exact AS (SELECT DISTINCT c.doc_id FROM c JOIN ev USING (sh))
         |SELECT d.doc_id,
         |  d.doc_id IN (SELECT doc_id FROM flagged) AS maybe_contaminated,
         |  d.doc_id IN (SELECT doc_id FROM exact) AS exact_contaminated
         |FROM d WHERE d.source <> 'src19'
         |ORDER BY d.doc_id""".stripMargin
    },

    "pipeline_pack_manifest" ->
      s"""WITH t AS (SELECT doc_id, CAST($ntokSql AS BIGINT) AS n_tokens FROM documents),
         |c AS (SELECT doc_id, n_tokens,
         |  CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
         |  FROM t),
         |p AS (SELECT doc_id, n_tokens, cum_before // $PackTokens AS pack_id FROM c),
         |g AS (SELECT pack_id, count(*) AS n_docs,
         |  CAST(sum(n_tokens) AS BIGINT) AS tokens_started,
         |  min(doc_id) AS first_doc, max(doc_id) AS last_doc,
         |  list(doc_id ORDER BY doc_id) AS ids FROM p GROUP BY pack_id)
         |SELECT pack_id, n_docs, tokens_started, first_doc, last_doc,
         |  ${DedupQueries.combineSql("ids")} AS doc_list_hash
         |FROM g ORDER BY pack_id""".stripMargin,

    "pipeline_bloom" ->
      s"""WITH f AS (SELECT doc_id, source, ${ph("text", "ci")} AS fp FROM documents),
         |build AS (SELECT DISTINCT fp FROM f
         |  WHERE source IN ('src0','src1','src2','src3','src4')),
         |bits AS (SELECT DISTINCT unnest(list_transform(range(0, $BloomK),
         |  j -> ${bloomPosSql("fp", "j")})) AS pos FROM build),
         |probed AS (SELECT doc_id, ${bloomPosSql("fp", "j")} AS pos
         |  FROM (SELECT doc_id, fp, unnest(range(0, $BloomK)) AS j FROM f)),
         |hits AS (SELECT doc_id, count(*) AS nhit
         |  FROM probed JOIN bits USING (pos) GROUP BY doc_id)
         |SELECT f.doc_id,
         |  COALESCE(h.nhit, 0) = $BloomK AS maybe_seen,
         |  f.fp IN (SELECT fp FROM build) AS exact_seen
         |FROM f LEFT JOIN hits h ON f.doc_id = h.doc_id
         |ORDER BY f.doc_id""".stripMargin,

    "pipeline_token_budget" ->
      s"""WITH b AS (SELECT doc_id, source, CAST($ntokSql AS BIGINT) AS n_tokens,
         |  ${ph("('budget' || CAST(doc_id AS VARCHAR))", "bi")} AS h FROM documents),
         |c AS (SELECT doc_id, source, n_tokens,
         |  CAST(COALESCE(SUM(n_tokens) OVER (PARTITION BY source ORDER BY h, doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
         |  FROM b)
         |SELECT doc_id, source, n_tokens, cum_before FROM c
         |WHERE cum_before < $TokenBudget
         |ORDER BY source, cum_before, doc_id""".stripMargin,

    "pipeline_delete_propagate" ->
      s"""WITH t AS (SELECT doc_id, CAST($ntokSql AS BIGINT) AS n_tokens FROM documents),
         |c AS (SELECT doc_id, n_tokens,
         |  CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
         |  FROM t),
         |p AS (SELECT doc_id, n_tokens, cum_before // $PackTokens AS pack_id,
         |  ${ph("('del' || CAST(doc_id AS VARCHAR))", "di")} % 41 = 0 AS is_del FROM c),
         |dirty AS (SELECT DISTINCT pack_id FROM p WHERE is_del),
         |mx AS (SELECT max(pack_id) AS m FROM p),
         |aff AS (SELECT doc_id, n_tokens FROM p
         |  WHERE pack_id IN (SELECT pack_id FROM dirty) AND NOT is_del),
         |r AS (SELECT doc_id,
         |  CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY doc_id
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cb
         |  FROM aff),
         |rp AS (SELECT doc_id, (SELECT m FROM mx) + 1 + cb // $PackTokens AS new_pack FROM r)
         |SELECT p.doc_id,
         |  CASE WHEN p.is_del THEN 'deleted'
         |       WHEN p.pack_id IN (SELECT pack_id FROM dirty) THEN 'repacked'
         |       ELSE 'kept' END AS status,
         |  p.pack_id AS old_pack_id,
         |  CASE WHEN p.is_del THEN CAST(-1 AS BIGINT)
         |       ELSE COALESCE(rp.new_pack, p.pack_id) END AS new_pack_id
         |FROM p LEFT JOIN rp ON p.doc_id = rp.doc_id
         |ORDER BY p.doc_id""".stripMargin,

    "pipeline_corpus_report" ->
      s"""WITH t AS ($thCte),
         |tf AS (${GopherSql.tfCte}),
         |st AS (${GopherSql.stCte}),
         |b AS (SELECT d.source, d.lang, d.n_chars, st.n AS ntok,
         |  CASE WHEN (${GopherSql.keep}) THEN 1 ELSE 0 END AS gpass,
         |  ${ph("text", "ci")} AS fp
         |  FROM documents d JOIN st ON d.doc_id = st.doc_id
         |  JOIN tf ON d.doc_id = tf.doc_id)
         |SELECT source, count(*) AS n_docs,
         |  CAST(sum(ntok) AS BIGINT) AS n_tokens,
         |  CAST(sum(n_chars) AS BIGINT) AS sum_chars,
         |  CAST(sum(gpass) AS BIGINT) AS n_gopher_pass,
         |  CAST(sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS n_en,
         |  count(DISTINCT fp) AS n_distinct_texts
         |FROM b GROUP BY source ORDER BY source""".stripMargin,

    "pipeline_token_drift" ->
      s"""WITH bd AS (SELECT COALESCE(max(doc_id), -1) * 4 // 5 AS boundary
         |  FROM documents),
         |tk AS (SELECT d.doc_id <= (SELECT boundary FROM bd) AS base,
         |  unnest(list_filter(string_split_regex(trim(text), '\\s+'),
         |    t9 -> t9 <> '')) AS tok FROM documents d),
         |c AS (SELECT tok,
         |  CAST(SUM(CASE WHEN base THEN 1 ELSE 0 END) AS BIGINT) AS n_base,
         |  CAST(SUM(CASE WHEN base THEN 0 ELSE 1 END) AS BIGINT) AS n_new
         |  FROM tk GROUP BY tok),
         |tot AS (SELECT CAST(SUM(n_base) AS BIGINT) AS t_base,
         |  CAST(SUM(n_new) AS BIGINT) AS t_new FROM c),
         |top AS (SELECT * FROM c ORDER BY n_base DESC, tok LIMIT $DriftTopK),
         |r AS (SELECT tok, n_base, n_new,
         |  CASE WHEN t_base <= 0 THEN CAST(0 AS BIGINT)
         |    ELSE CAST(n_base * 1000000 // t_base AS BIGINT) END AS base_ppm,
         |  CASE WHEN t_new <= 0 THEN CAST(0 AS BIGINT)
         |    ELSE CAST(n_new * 1000000 // t_new AS BIGINT) END AS new_ppm
         |  FROM top CROSS JOIN tot)
         |SELECT tok, n_base, n_new, base_ppm, new_ppm,
         |  new_ppm - base_ppm AS delta_ppm
         |FROM r ORDER BY tok""".stripMargin,

    "pipeline_ngram_novelty" ->
      s"""WITH bd AS (SELECT COALESCE(max(doc_id), -1) * 4 // 5 AS boundary
         |  FROM documents),
         |t AS (${DedupQueries.thCte}),
         |d AS (SELECT doc_id, ${DedupQueries.shhSql(SubstrNgram)} AS shh FROM t),
         |base AS (SELECT DISTINCT unnest(shh) AS sh FROM d
         |  WHERE doc_id <= (SELECT boundary FROM bd)),
         |b AS (SELECT doc_id, shh FROM d
         |  WHERE doc_id > (SELECT boundary FROM bd)),
         |e AS (SELECT doc_id, unnest(shh) AS sh FROM b),
         |nv AS (SELECT doc_id, count(*) AS n_novel FROM e
         |  WHERE sh NOT IN (SELECT sh FROM base) GROUP BY doc_id)
         |SELECT b.doc_id, CAST(len(b.shh) AS BIGINT) AS n_shingles,
         |  CAST(COALESCE(nv.n_novel, 0) AS BIGINT) AS n_novel,
         |  CASE WHEN len(b.shh) <= 0 THEN CAST(0 AS BIGINT)
         |       ELSE CAST(COALESCE(nv.n_novel, 0) * 1000000 // len(b.shh)
         |         AS BIGINT) END AS novelty_ppm
         |FROM b LEFT JOIN nv ON b.doc_id = nv.doc_id
         |ORDER BY b.doc_id""".stripMargin,

    "pipeline_curriculum" ->
      s"""WITH q AS (SELECT doc_id, ${graft.functions.TextQueries.quality} AS quality
         |  FROM documents),
         |b AS (SELECT doc_id,
         |  least(CAST(floor(quality * 4) AS BIGINT), 3) AS bin FROM q),
         |k AS (SELECT doc_id, bin,
         |  bin * $P + ${ph("('cur' || CAST(doc_id AS VARCHAR))", "ui")} AS key FROM b)
         |SELECT doc_id, bin,
         |  row_number() OVER (ORDER BY key DESC, doc_id) AS curriculum_pos
         |FROM k ORDER BY curriculum_pos""".stripMargin,

    "pipeline_epoch_shuffle" ->
      s"""WITH e AS (SELECT doc_id, CAST(epoch AS BIGINT) AS epoch FROM documents,
         |  (SELECT unnest(range(0, $NEpochs)) AS epoch)),
         |k AS (SELECT doc_id, epoch,
         |  (((1103515245*(epoch+1)+12345) % $P) * ((doc_id+1) % $P)
         |    + (1103515245*(epoch+7)+54321) % $P) % $P AS pos_h
         |  FROM e)
         |SELECT doc_id, epoch,
         |  row_number() OVER (PARTITION BY epoch ORDER BY pos_h, doc_id) AS epoch_pos
         |FROM k ORDER BY epoch, epoch_pos""".stripMargin,

    "pipeline_dsir_weights" ->
      s"""WITH t AS ($thCte),
         |$dsirCtes
         |SELECT doc_id, n_feats, score, dsir_rank, dsir_rank * 4 <= n.total AS keep
         |FROM r2 CROSS JOIN n ORDER BY doc_id""".stripMargin,

    // DSIR resampling: the SAME dsir chain, fixed-point integer weight,
    // the SHARED sequential-Poisson priority (samplePrioritySql — one
    // draw law with pipeline_weighted_sample)
    "pipeline_dsir_sample" ->
      s"""WITH t AS ($thCte),
         |$dsirCtes,
         |w AS (SELECT r2.doc_id, d.source,
         |  CAST(floor(r2.score * 1048576.0) AS BIGINT) + 1 AS wppm
         |  FROM r2 JOIN documents d ON d.doc_id = r2.doc_id),
         |pw AS (SELECT doc_id, source, wppm,
         |  ${DedupQueries.samplePrioritySql("wppm")} AS pri FROM w),
         |rw AS (SELECT source, doc_id, pri,
         |  CAST(row_number() OVER (PARTITION BY source ORDER BY pri, doc_id) AS BIGINT) AS draw_rank
         |  FROM pw)
         |SELECT source, draw_rank, doc_id, CAST(pri AS BIGINT) AS priority
         |FROM rw WHERE draw_rank <= $DsirSampleK
         |ORDER BY source, draw_rank""".stripMargin,

    "pipeline_e2e_surgical" ->
      s"""WITH t AS ($thCte),
         |tf AS (${GopherSql.tfCte}),
         |st AS (${GopherSql.stCte}),
         |s1 AS (SELECT st.doc_id FROM st JOIN tf USING (doc_id)
         |  WHERE (${GopherSql.keep})),
         |$dsirCtes,
         |surv AS (SELECT r2.doc_id, r2.dsir_rank FROM r2 CROSS JOIN n
         |  WHERE r2.dsir_rank * 4 <= n.total
         |    AND r2.doc_id IN (SELECT doc_id FROM s1)),
         |${substrPsCtes(" WHERE doc_id IN (SELECT doc_id FROM surv)")},
         |${coverageCtes(SubstrNgram)},
         |nb AS (SELECT surv.doc_id, surv.dsir_rank, CAST($ntokSql AS BIGINT) AS n_before
         |  FROM documents JOIN surv ON documents.doc_id = surv.doc_id),
         |aft AS (SELECT nb.doc_id, nb.dsir_rank, nb.n_before,
         |  COALESCE(cov.n_removed, 0) AS n_removed,
         |  nb.n_before - COALESCE(cov.n_removed, 0) AS n_after
         |  FROM nb LEFT JOIN cov USING (doc_id)),
         |sh2 AS (SELECT doc_id, n_after AS n_tokens FROM aft),
         |${shelfRankCtes("sh2")}
         |SELECT aft.doc_id, aft.n_before, aft.n_removed, aft.n_after,
         |  aft.dsir_rank, r3.size_class,
         |  CAST(r3.rn // r3.size_class AS BIGINT) AS pack_seq
         |FROM r3 JOIN aft USING (doc_id)
         |ORDER BY doc_id""".stripMargin,

    "pipeline_mix_temperature" ->
      s"""WITH c AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_lang
         |  FROM documents GROUP BY lang),
         |mn AS (SELECT min(n_lang) AS n_min FROM c),
         |r AS (SELECT lang, n_lang,
         |  CAST(floor(1000000.0 * sqrt(CAST((SELECT n_min FROM mn) AS DOUBLE) /
         |    CAST(n_lang AS DOUBLE))) AS BIGINT) AS rate_ppm FROM c)
         |SELECT d.doc_id, d.lang, r.n_lang, r.rate_ppm
         |FROM documents d JOIN r USING (lang)
         |WHERE ${ph("('temp' || CAST(doc_id AS VARCHAR))", "ti")} % 1000000 < r.rate_ppm
         |ORDER BY d.doc_id""".stripMargin,

    "pipeline_corpus_diff" ->
      s"""WITH d AS (SELECT doc_id, text,
         |  ${ph("('add' || CAST(doc_id AS VARCHAR))", "ai")} % 17 AS ha,
         |  ${ph("('rm' || CAST(doc_id AS VARCHAR))", "ri")} % 19 AS hr,
         |  ${ph("('chg' || CAST(doc_id AS VARCHAR))", "xi")} % 13 AS hc
         |  FROM documents),
         |v1 AS (SELECT doc_id, CASE WHEN hc = 1
         |    THEN ${ph("substr(text, 1, greatest(length(text) - 1, 0))", "ci")}
         |    ELSE ${ph("text", "c1")} END AS old_fp
         |  FROM d WHERE ha <> 3),
         |v2 AS (SELECT doc_id, ${ph("text", "c2")} AS new_fp FROM d WHERE hr <> 5),
         |j AS (SELECT COALESCE(v1.doc_id, v2.doc_id) AS doc_id, v1.old_fp, v2.new_fp
         |  FROM v1 FULL OUTER JOIN v2 ON v1.doc_id = v2.doc_id)
         |SELECT doc_id,
         |  CASE WHEN old_fp IS NULL THEN 'added'
         |       WHEN new_fp IS NULL THEN 'removed' ELSE 'changed' END AS status,
         |  COALESCE(old_fp, CAST(-1 AS BIGINT)) AS old_fp,
         |  COALESCE(new_fp, CAST(-1 AS BIGINT)) AS new_fp
         |FROM j
         |WHERE old_fp IS NULL OR new_fp IS NULL OR old_fp <> new_fp
         |ORDER BY doc_id""".stripMargin,

    "pipeline_mix" ->
      s"""WITH r AS (SELECT doc_id, source, lang,
         |  CASE WHEN source IN ('src0','src1') THEN 10
         |       WHEN source = 'src2' THEN 50 ELSE 100 END AS rate,
         |  CASE WHEN lang = 'en' THEN 2 ELSE 1 END AS w
         |  FROM documents),
         |k AS (SELECT * FROM r WHERE (${ph("CAST(doc_id AS VARCHAR)", "si")}) % 100 < rate),
         |e AS (SELECT doc_id, source, lang, unnest(range(1, w + 1)) AS copy_id FROM k)
         |SELECT doc_id, source, lang, CAST(copy_id AS BIGINT) AS copy_id
         |FROM e ORDER BY doc_id, copy_id""".stripMargin,

    "pipeline_tokenize" ->
      s"""WITH tk AS (SELECT doc_id,
         |  CASE WHEN length(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
         |       ELSE list_filter(string_split_regex(trim(text), '\\s+'), t9 -> t9 <> '') END AS toks
         |  FROM documents),
         |e AS (SELECT doc_id, unnest(toks) AS tok FROM tk),
         |v AS (SELECT tok, count(DISTINCT doc_id) AS df FROM e GROUP BY tok),
         |r AS (SELECT tok, CAST(row_number() OVER (ORDER BY df DESC, tok) AS BIGINT) AS id
         |  FROM v QUALIFY id <= $VocabSize),
         |eo AS (SELECT doc_id, unnest(list_transform(range(1, len(toks)+1),
         |    i -> {'pos': i, 'tok': toks[i]})) AS u FROM tk),
         |ids AS (SELECT eo.doc_id, eo.u.pos AS pos, COALESCE(r.id, 0) AS id
         |  FROM eo LEFT JOIN r ON eo.u.tok = r.tok),
         |agg AS (SELECT doc_id, list(id ORDER BY pos) AS idl,
         |  CAST(count(CASE WHEN id = 0 THEN 1 END) AS BIGINT) AS n_oov
         |  FROM ids GROUP BY doc_id)
         |SELECT tk.doc_id,
         |  CAST(len(tk.toks) AS BIGINT) AS n_tokens,
         |  COALESCE(a.n_oov, 0) AS n_oov,
         |  CASE WHEN a.idl IS NULL THEN 0 ELSE ${DedupQueries.combineSql("a.idl")} END AS ids_hash
         |FROM tk LEFT JOIN agg a ON tk.doc_id = a.doc_id
         |ORDER BY tk.doc_id""".stripMargin,

    // Unrolled-rounds BPE twin ([[bpeChainCtes]]): BpeRounds learning
    // rounds as CTE blocks, then the canonical rank-order apply as a
    // per-token recursion.
    "pipeline_bpe" ->
      s"""WITH RECURSIVE
         |${bpeChainCtes("documents")}
         |SELECT tk.doc_id, CAST(len(tk.toks) AS BIGINT) AS n_tokens,
         |  COALESCE(ag.n_pieces, 0) AS n_pieces,
         |  CASE WHEN ag.hl IS NULL THEN 0 ELSE ${DedupQueries.combineSql("ag.hl")} END AS pieces_hash
         |FROM tk LEFT JOIN ag ON tk.doc_id = ag.doc_id
         |ORDER BY tk.doc_id""".stripMargin,

    // Incremental-BPE twin: the drift gate replayed verbatim from the
    // pipeline_token_drift chain (d-prefixed CTEs — bpeChainCtes owns the
    // bare names), reduced to one scalar; the merge chain's TRAIN relation
    // is conditionally the base slice or the full corpus on that scalar —
    // both engines take the same branch because the gate is integer ppm
    // arithmetic. Apply is always the full corpus.
    "pipeline_bpe_incremental" -> {
      val gateCtes =
        s"""bd AS (SELECT COALESCE(max(doc_id), -1) * 4 // 5 AS boundary FROM documents),
           |dtk AS (SELECT d.doc_id <= (SELECT boundary FROM bd) AS base,
           |  unnest(list_filter(string_split_regex(trim(text), '\\s+'),
           |    t9 -> t9 <> '')) AS tok FROM documents d),
           |dc AS (SELECT tok,
           |  CAST(SUM(CASE WHEN base THEN 1 ELSE 0 END) AS BIGINT) AS n_base,
           |  CAST(SUM(CASE WHEN base THEN 0 ELSE 1 END) AS BIGINT) AS n_new
           |  FROM dtk GROUP BY tok),
           |dtot AS (SELECT CAST(SUM(n_base) AS BIGINT) AS t_base,
           |  CAST(SUM(n_new) AS BIGINT) AS t_new FROM dc),
           |dtop AS (SELECT * FROM dc ORDER BY n_base DESC, tok LIMIT $DriftTopK),
           |dr AS (SELECT
           |  CASE WHEN t_base <= 0 THEN 0 ELSE n_base * 1000000 // t_base END AS base_ppm,
           |  CASE WHEN t_new <= 0 THEN 0 ELSE n_new * 1000000 // t_new END AS new_ppm
           |  FROM dtop CROSS JOIN dtot),
           |gate AS (SELECT CAST(COALESCE(SUM(abs(new_ppm - base_ppm)), 0) AS BIGINT) AS drift FROM dr)""".stripMargin
      val trainRel =
        s"""(SELECT * FROM documents
           |  WHERE doc_id <= (SELECT boundary FROM bd)
           |     OR (SELECT drift FROM gate) > $BpeDriftGatePpm)""".stripMargin
      s"""WITH RECURSIVE
         |$gateCtes,
         |${bpeChainCtes("documents", trainRel)}
         |SELECT tk.doc_id, CAST(len(tk.toks) AS BIGINT) AS n_tokens,
         |  COALESCE(ag.n_pieces, 0) AS n_pieces,
         |  CASE WHEN ag.hl IS NULL THEN 0 ELSE ${DedupQueries.combineSql("ag.hl")} END AS pieces_hash,
         |  (SELECT drift FROM gate) AS drift_ppm,
         |  (SELECT drift FROM gate) > $BpeDriftGatePpm AS retrained
         |FROM tk LEFT JOIN ag ON tk.doc_id = ag.doc_id
         |ORDER BY tk.doc_id""".stripMargin
    },

    "pipeline_tokenizer_report" ->
      s"""WITH RECURSIVE
         |${bpeChainCtes("documents")},
         |j AS (SELECT tk.doc_id, documents.source,
         |  CAST(len(tk.toks) AS BIGINT) AS n_tokens,
         |  COALESCE(ag.n_pieces, 0) AS n_pieces
         |  FROM tk LEFT JOIN ag ON tk.doc_id = ag.doc_id
         |  JOIN documents ON documents.doc_id = tk.doc_id)
         |SELECT source, count(*) AS n_docs,
         |  CAST(SUM(n_tokens) AS BIGINT) AS n_tokens,
         |  CAST(SUM(n_pieces) AS BIGINT) AS n_pieces,
         |  CASE WHEN CAST(SUM(n_tokens) AS BIGINT) = 0 THEN -1
         |    ELSE (CAST(SUM(n_pieces) AS BIGINT) * 1000000)
         |      // CAST(SUM(n_tokens) AS BIGINT) END AS fertility_ppm
         |FROM j GROUP BY source ORDER BY source""".stripMargin,

    "text_cms_counts" -> {
      val values = CmsProbeTerms.map(t => s"('$t')").mkString(", ")
      s"""WITH t AS ($thCte),
         |fl AS (SELECT unnest(th) AS h FROM t),
         |cj AS (SELECT h, unnest(range(0, $CmsDepth)) AS j FROM fl),
         |cells AS (SELECT j, ${cmsPosSql("h", "j")} AS cell,
         |  CAST(count(*) AS BIGINT) AS c FROM cj GROUP BY j, cell),
         |probes AS (SELECT term, ${ph("term", "ci")} AS h
         |  FROM (VALUES $values) v(term)),
         |pj AS (SELECT term, h, j, ${cmsPosSql("h", "j")} AS cell
         |  FROM (SELECT term, h, unnest(range(0, $CmsDepth)) AS j FROM probes)),
         |est AS (SELECT term, MIN(COALESCE(c.c, 0)) AS n_est
         |  FROM pj LEFT JOIN cells c ON pj.j = c.j AND pj.cell = c.cell
         |  GROUP BY term),
         |ex AS (SELECT p.term, CAST(count(fl.h) AS BIGINT) AS n_exact
         |  FROM probes p LEFT JOIN fl ON fl.h = p.h GROUP BY p.term)
         |SELECT e.term, n_est, n_exact
         |FROM est e JOIN ex USING (term) ORDER BY term""".stripMargin
    },

    "pipeline_upsert" ->
      s"""WITH base AS (SELECT doc_id, text FROM documents),
         |ups AS (
         |  SELECT doc_id, 'rev2 ' || text AS new_text FROM base WHERE doc_id % 10 = 3
         |  UNION ALL
         |  SELECT doc_id + 1000000000, 'new ' || text FROM base WHERE doc_id % 50 = 7),
         |del AS (SELECT doc_id FROM base WHERE doc_id % 17 = 5),
         |m AS (SELECT COALESCE(b.doc_id, u.doc_id) AS doc_id, b.text, u.new_text
         |  FROM base b FULL OUTER JOIN ups u ON b.doc_id = u.doc_id),
         |fin AS (SELECT doc_id,
         |  CASE WHEN text IS NULL THEN 2 WHEN new_text IS NULL THEN 0 ELSE 1 END AS rev,
         |  COALESCE(new_text, text) AS t
         |  FROM m WHERE doc_id NOT IN (SELECT doc_id FROM del))
         |SELECT doc_id, CAST(rev AS BIGINT) AS rev, ${ph("t", "ci")} AS fp
         |FROM fin ORDER BY doc_id""".stripMargin,

    "pipeline_cdc_compact" ->
      """SELECT user_id, epoch_us(ts) AS ts_us, event_id, event_type, value
        |FROM (SELECT *, row_number() OVER (PARTITION BY user_id
        |        ORDER BY ts DESC, event_id DESC) AS rn FROM events)
        |WHERE rn = 1 ORDER BY user_id""".stripMargin,

    "text_keywords" -> {
      val toks = graft.functions.TextQueries.sqlToks
      s"""WITH tk AS (SELECT doc_id, unnest($toks) AS tok FROM documents
         |  WHERE length(trim(text)) > 0),
         |tf AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
         |  FROM tk GROUP BY doc_id, tok),
         |df AS (SELECT tok, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
         |  FROM tk GROUP BY tok),
         |n AS (SELECT CAST(count(*) AS BIGINT) AS nd FROM documents),
         |sc AS (SELECT tf.doc_id, tf.tok,
         |  CAST(tf.tf AS DOUBLE) *
         |    ((CAST((SELECT nd FROM n) AS DOUBLE) - CAST(df.df AS DOUBLE) + 0.5)
         |      / (CAST(df.df AS DOUBLE) + 0.5)) AS score
         |  FROM tf JOIN df USING (tok)),
         |r AS (SELECT doc_id, tok, score,
         |  row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, tok) AS rk
         |  FROM sc)
         |SELECT doc_id,
         |  max(CASE WHEN rk = 1 THEN tok END) AS kw1,
         |  max(CASE WHEN rk = 1 THEN score END) AS kw1_score,
         |  COALESCE(max(CASE WHEN rk = 2 THEN tok END), '') AS kw2,
         |  COALESCE(max(CASE WHEN rk = 3 THEN tok END), '') AS kw3
         |FROM r WHERE rk <= 3 GROUP BY doc_id ORDER BY doc_id""".stripMargin
    },

    "pipeline_boilerplate" -> {
      val w = ParaWindow
      s"""WITH t AS ($thCte),
         |wl AS (SELECT doc_id, ${DedupQueries.windowListSql(w)} AS wl
         |  FROM t WHERE len(th) > 0),
         |paras AS (SELECT doc_id, CAST(u.i - 1 AS BIGINT) AS pidx, u.h FROM (
         |  SELECT doc_id, unnest(list_transform(range(1, len(wl) + 1),
         |    i -> {'i': i, 'h': wl[i]})) AS u FROM wl)),
         |boiler AS (SELECT h FROM (
         |  SELECT h, count(DISTINCT doc_id) AS nd FROM paras GROUP BY h)
         |  WHERE nd >= $BoilerplateDf),
         |j AS (SELECT p.doc_id, p.pidx, p.h, (b.h IS NOT NULL) AS bp
         |  FROM paras p LEFT JOIN boiler b ON p.h = b.h)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_paras,
         |  CAST(sum(CASE WHEN bp THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler,
         |  CASE WHEN count(*) FILTER (WHERE NOT bp) = 0 THEN 0
         |       ELSE ${DedupQueries.combineSql("list(h ORDER BY pidx) FILTER (WHERE NOT bp)")} END AS kept_hash
         |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin
    },

    "pipeline_indoc_dedup" -> {
      val w = ParaWindow
      val bannerTail = " " + (2 to w).map("b" + _).mkString(" ")
      val banner = s"'g' || CAST(doc_id AS VARCHAR) || ' ' || '${bannerTail.trim}'"
      s"""WITH a0 AS (SELECT doc_id,
         |  CASE WHEN doc_id % 7 = 3
         |       THEN $banner || ' ' || $banner || ' ' || text
         |       ELSE text END AS text FROM documents),
         |t AS (${DedupQueries.thCteFrom("a0")}),
         |wl AS (SELECT doc_id, ${DedupQueries.windowListSql(w)} AS wl FROM t),
         |k AS (SELECT doc_id, wl,
         |  list_filter(wl, (h, i) -> list_position(wl, h) = i) AS kept FROM wl)
         |SELECT doc_id, CAST(len(wl) AS BIGINT) AS n_paras,
         |  CAST(len(wl) - len(kept) AS BIGINT) AS n_dup_indoc,
         |  ${DedupQueries.combineSql("kept")} AS kept_hash
         |FROM k ORDER BY doc_id""".stripMargin
    },

    "pipeline_lm_partition" ->
      s"""WITH ${graft.functions.TextQueries.lmScoreCtes},
         |lp AS (SELECT doc_id, ${graft.functions.TextQueries.langCaseSql} AS lang
         |  FROM documents),
         |j AS (SELECT l.doc_id, lp.lang, l.mean_p
         |  FROM lmscore l JOIN lp USING (doc_id)),
         |r AS (SELECT doc_id, lang, mean_p,
         |  CAST(row_number() OVER (PARTITION BY lang
         |    ORDER BY mean_p DESC, doc_id) AS BIGINT) AS lm_rank,
         |  count(*) OVER (PARTITION BY lang) AS n FROM j)
         |SELECT doc_id, lang, lm_rank,
         |  CASE ((lm_rank - 1) * 3) // n WHEN 0 THEN 'head'
         |       WHEN 1 THEN 'middle' ELSE 'tail' END AS bucket
         |FROM r ORDER BY doc_id""".stripMargin,

    "text_bm25" ->
      s"""WITH $bm25Ctes
         |SELECT doc_id, score FROM s WHERE score > 0.0
         |ORDER BY score DESC, doc_id LIMIT 20""".stripMargin,

    "text_repetition" ->
      s"""WITH t AS ($thCte),
         |bg AS (SELECT doc_id, th,
         |  CASE WHEN len(th) < 2 THEN CAST([] AS BIGINT[])
         |       ELSE list_transform(range(1, len(th)), i -> (th[i]*31 + th[i+1]) % $P)
         |  END AS bgl FROM t),
         |st AS (SELECT doc_id,
         |  CAST(len(th) AS BIGINT) AS n,
         |  CAST(len(list_distinct(th)) AS BIGINT) AS nd,
         |  CAST(CASE WHEN len(th) = 0 THEN 0 ELSE
         |    list_max(list_transform(list_distinct(th),
         |      x -> len(list_filter(th, y -> y = x)))) END AS BIGINT) AS topf,
         |  CAST(len(bgl) AS BIGINT) AS nb,
         |  CAST(len(list_distinct(bgl)) AS BIGINT) AS nbd
         |  FROM bg)
         |SELECT doc_id, n AS n_tokens,
         |  CASE WHEN n = 0 THEN 0.0 ELSE CAST(topf AS DOUBLE) / CAST(n AS DOUBLE) END AS top_token_ratio,
         |  CASE WHEN n = 0 THEN 0.0 ELSE CAST(nd AS DOUBLE) / CAST(n AS DOUBLE) END AS distinct_token_ratio,
         |  CASE WHEN nb = 0 THEN 0.0 ELSE 1.0 - CAST(nbd AS DOUBLE) / CAST(nb AS DOUBLE) END AS bigram_repetition
         |FROM st ORDER BY doc_id""".stripMargin,

    "pipeline_stratified" ->
      s"""WITH h AS (SELECT source, doc_id,
         |  (${ph("CAST(doc_id AS VARCHAR)", "si")}) AS h FROM documents)
         |SELECT source,
         |  CAST(row_number() OVER (PARTITION BY source ORDER BY h, doc_id) AS BIGINT) AS rank,
         |  doc_id, h
         |FROM h QUALIFY rank <= 5 ORDER BY source, rank""".stripMargin,

    "text_hll_distinct" ->
      s"""WITH t AS ($thCte),
         |d AS (SELECT doc_id, source, ${DedupQueries.shhSql(3)} AS shh FROM t),
         |fl AS (SELECT source, unnest(shh) AS h FROM d),
         |b AS (SELECT source, h % $HllRegisters AS bucket, h // $HllRegisters AS v FROM fl),
         |r AS (SELECT source, bucket,
         |  CASE WHEN v = 0 THEN 23
         |       ELSE 1 + CAST(bit_count((v & (-v)) - 1) AS BIGINT) END AS rho
         |  FROM b),
         |regs AS (SELECT source, bucket, MAX(rho) AS m FROM r GROUP BY source, bucket),
         |sums AS (SELECT source,
         |  CAST(SUM(CAST(power(2, 32 - m) AS BIGINT)) AS BIGINT)
         |    + ($HllRegisters - CAST(count(*) AS BIGINT)) * 4294967296 AS sum_int
         |  FROM regs GROUP BY source),
         |ex AS (SELECT source, CAST(count(DISTINCT h) AS BIGINT) AS n_exact
         |  FROM fl GROUP BY source)
         |SELECT ex.source, ex.n_exact,
         |  (0.7213 / (1.0 + 1.079 / 256.0)) * 65536.0 * 4294967296.0
         |    / CAST(sum_int AS DOUBLE) AS hll_estimate
         |FROM ex JOIN sums USING (source) ORDER BY source""".stripMargin
  )

}
