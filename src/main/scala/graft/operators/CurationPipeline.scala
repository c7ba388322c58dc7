package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType, LongType, StringType}

import graft.CheckpointUtil.materialize
import graft.Tables
import graft.functions.{NativeExpressions, TextFunctions}

/** THE end-to-end curation composition: every stage of a pretraining data
  * pipeline chained into ONE query over `documents.parquet`, reusing the
  * stage operators verbatim (each is also driver-checked standalone):
  *
  *   1. quality filter — the Gopher rules ([[Gopher]], shared with
  *      `text_gopher_filters` so the rule set cannot fork);
  *   2. paragraph dedup — in-scan window hashes + global canonical-
  *      occurrence agg (`dedup_paragraph` machinery); a doc whose surviving
  *      paragraph share drops below half is dropped;
  *   3. semantic dedup — hashing-trick embeddings + IVF-list tau check
  *      ([[Dedup.semanticDedupWith]], `dedup_semantic_text` machinery);
  *      centroids are the lowest surviving ids, so the quantizer is a
  *      deterministic function of the SURVIVOR set, not the raw corpus;
  *   4. decontamination — drop the eval slice (src19) and every doc
  *      sharing a 4-token shingle with it (`pipeline_decontaminate`
  *      machinery; 4-gram so the gate actually fires at fixture scale —
  *      the 8-gram pass catches nothing in this corpus);
  *   5. BPE tokenize — merge table LEARNED ON THE SURVIVORS
  *      ([[TrainingDataQueries.bpeMerges]], `pipeline_bpe` machinery), one
  *      fused in-scan apply pass;
  *   6. pack — concat-and-cut packing of the BPE piece counts
  *      ([[Packing.packAssignments]]: range partition + broadcast offsets,
  *      no single-task window);
  *   7. shard — consistent-hash training shards (`pipeline_shard` rule).
  *
  * Output: one row per SURVIVING doc with every stage's evidence —
  * hash-exact against the DuckDB twin, which is the staged composition of
  * the standalone twins.
  *
  * Scale shape: stages 1/5-apply are pure in-scan map work; stage 2 is the
  * two unavoidable exact-dedup shuffles; stage 3 is one shuffle on cen_id;
  * stage 4 is a broadcast semi-join inside the scan; stage 6 is one range
  * exchange; the stage-joining keys are all doc_id hash joins. Nothing
  * here is a window over the corpus, a self cross-join, or a driver loop.
  *
  * The reference's one-call `weight()` composition
  * (/root/reference/src/main/scala/ru/ispras/pu4spark/PositiveUnlabeledLearner.scala:22-25)
  * is the spiritual ancestor: many internal stages, one user-facing call.
  */
object CurationPipeline {
  import DedupQueries.{combineSql, ph, thCte}
  import TrainingDataQueries.{NShards, PackTokens}

  /** Paragraph = non-overlapping token window of this width (matches
    * `dedup_paragraph`). */
  val ParaWindow = 20

  /** Hashing-trick embedding dim + IVF shape for the semantic stage
    * (matches `dedup_semantic_text`). */
  val SemDim = 64
  val SemCentroids = 16
  val SemTau = 0.9

  /** Decontamination shingle length. 4 (not the standalone pass's 8):
    * at fixture scale no document shares an 8-token span with the eval
    * slice, so an 8-gram stage would be vacuously green — a composition
    * bug magnet. 4-grams catch real overlap at every SF. */
  val DecontNgram = 4

  // ------------------------------------------------------------------
  // Stage operators (DataFrame -> DataFrame; the e2e query is their
  // composition, the spec audits them stage by stage)
  // ------------------------------------------------------------------

  /** Stage 1: Gopher-rule survivors of `docs` (all columns kept). Filters
    * get no common-subexpression elimination in codegen (`Gopher.keep`
    * over the kernel calls tokenized each doc 9 times) and the optimizer
    * inlines a projected alias back into its filter, so the stats come
    * from a one-row generator no predicate on them is pushed below. */
  def qualitySurvivors(docs: DataFrame): DataFrame =
    docs.select(col("*"), inline(array(struct(
        NativeExpressions.textStats(col("text")).as("graft_st"),
        NativeExpressions.repetitionStats(col("text")).as("graft_rep")))))
      .filter(Gopher.keep(col("graft_st"), col("graft_rep")))
      .drop("graft_st", "graft_rep")

  /** One (doc_id, pidx, h) row per [[ParaWindow]]-token paragraph of each
    * doc — the exploded frame behind [[paragraphAgg]] and the incremental
    * chain's corpus/batch paragraph states. `wide` selects the 64-bit
    * production hash (see [[paragraphAgg]]). */
  private[graft] def explodeParagraphs(qdocs: DataFrame, wide: Boolean = false): DataFrame =
    qdocs
      .select(col("doc_id"), posexplode(
        if (wide) NativeExpressions.windowHashes64(col("text"), ParaWindow)
        else NativeExpressions.windowHashes(col("text"), ParaWindow)))
      .select(col("doc_id"), col("pos").cast(LongType).as("pidx"), col("col").as("h"))

  /** Stage 2a: per-doc paragraph counts (doc_id, n_paras, n_dup) where a
    * paragraph is a duplicate iff an earlier (doc_id, pidx) occurrence of
    * its hash exists among `qdocs` — the `dedup_paragraph` canonical-
    * occurrence rule, scoped to the stage's input corpus.
    *
    * `wide = true` switches the paragraph hash to the full 64-bit space
    * ([[NativeExpressions.windowHashes64]]) — the 100 TB path: the mod-P
    * default is oracle-replicable but its n²/2P birthday bound yields
    * false dups from ~10⁵ paragraphs up (DedupStressSpec measures exactly
    * the predicted 20 at 200k); the wide hash defers that to n ≈ 2³². */
  def paragraphAgg(qdocs: DataFrame, wide: Boolean = false): DataFrame =
    // materialized: the exploded paragraph set feeds the canonical agg AND
    // the join-back (same reasoning as dedup_paragraph)
    paragraphAggOf(materialize(explodeParagraphs(qdocs, wide))._1)

  /** [[paragraphAgg]] over an already-exploded (and materialized) paragraph
    * frame — the incremental chain reuses its corpus paras for the state
    * probe as well. */
  private[graft] def paragraphAggOf(paras: DataFrame): DataFrame = {
    val canon = paras.groupBy(col("h"))
      .agg(min(struct(col("doc_id"), col("pidx"))).as("c"))
      .select(col("h"), col("c").getField("doc_id").as("c_doc"),
        col("c").getField("pidx").as("c_pidx"))
    paras.join(canon, "h")
      .withColumn("kept",
        col("doc_id") === col("c_doc") && col("pidx") === col("c_pidx"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_paras"),
        sum(when(col("kept"), 0L).otherwise(1L)).as("n_dup"))
  }

  /** Stage 2b: keep docs with at most half their paragraphs duplicated
    * (integer arithmetic — no float ratio in the compared surface). */
  def paragraphSurvivors(pagg: DataFrame): DataFrame =
    pagg.filter(lit(2) * col("n_dup") <= col("n_paras"))

  /** Hashing-trick embeddings (vec_id, v, nrm) of document rows, zero-norm
    * rows dropped — the frame [[semanticSurvivors]] and the incremental
    * chain's semantic states are built from. */
  private[graft] def embed(survDocs: DataFrame): DataFrame =
    survDocs
      .select(col("doc_id").as("vec_id"),
        NativeExpressions.hashEmbed(col("text"), SemDim).as("v"))
      .withColumn("nrm", Dedup.l2norm(col("v")))
      .filter(col("nrm") > 0.0)

  /** Stage 3: semantic keep/drop over the survivors — hashing-trick
    * embeddings, IVF lists from the [[SemCentroids]] lowest surviving ids,
    * tau-similarity greedy-by-id within a list. Returns
    * (doc_id, cen_id) for kept docs. */
  def semanticSurvivors(survDocs: DataFrame): DataFrame = {
    val emb = materialize(embed(survDocs))._1
    Dedup.semanticDedupWith(emb,
        Similarity.lowestIdCentroids(emb, SemCentroids), SemTau)
      .filter(col("keep"))
      .select(col("vec_id").as("doc_id"), col("cen_id"))
  }

  /** Exact-arm budget: broadcast the contaminated id set while it holds at
    * most this many ids (8-byte ids → ~80 MB, the order of a sane
    * broadcast budget). Beyond it the stage degrades to the Bloom gate. */
  val DecontExactMax = 10L * 1000 * 1000

  /** Bloom sizing for the degraded gate: 2^22 bits over the eval set's
    * 4-gram shingles (an eval artifact is bounded — ~10k shingles at
    * fixture scale → fill < 1%, per-probe FP < 1e-6, so at fixture scale
    * the degraded arm is row-identical to the exact arm and the spec pins
    * that). 512 KB broadcast regardless of CORPUS size. */
  val DecontBloomBits = 1 << 22

  /** Stage 4: drop the eval slice itself and every doc sharing a
    * [[DecontNgram]]-token shingle with it. `evalDocs` is the RAW eval
    * slice (an eval set is an external artifact — it is not quality-
    * filtered before being matched against).
    *
    * Adaptive scale shape: while the contaminated id set fits the
    * broadcast budget (`maxExactBroadcast`), the gate is EXACT — broadcast
    * semi-join inside the scan, corpus never shuffled
    * (`pipeline_decontaminate` shape). When it does not fit (a 4-token
    * shingle gate at 100 TB can flag a large corpus fraction), the stage
    * degrades to the `pipeline_decontaminate_bloom` shape: the EVAL side
    * (bounded by definition) folds into one [[DecontBloomBits]]-bit Bloom
    * sketch and every corpus shingle is probed with column arithmetic
    * inside the scan — no contaminated set is ever materialized, nothing
    * corpus-sized crosses the wire. Overestimate-only in the safe
    * direction: a false positive drops a clean doc (lost data), never
    * leaks a contaminated one. The size probe is a limit-bounded count —
    * it never materializes more than `maxExactBroadcast + 1` ids. */
  def decontaminate(survDocs: DataFrame, evalDocs: DataFrame,
                    maxExactBroadcast: Long = DecontExactMax,
                    wide: Boolean = false): DataFrame = {
    // `wide` swaps the mod-1e9+7 shingle space for the 64-bit kernel —
    // the same scale reasoning as the substring family (at 100 TB a
    // ~10^13-shingle corpus probed against a ~10^6-shingle eval set
    // falsely drops ~0.1% of clean docs in the mod-P space; the wide
    // space pushes that to ~0). mod-P stays the oracle surface; the wide
    // arm is pinned row-identical at fixture scale by E2eCurateSpec.
    val shh =
      if (wide) TextFunctions.shingleHashes64(col("text"), DecontNgram)
      else TextFunctions.shingleHashes(col("text"), DecontNgram)
    val evalShh = evalDocs.select(explode(shh).as("sh")).distinct()
    val train = survDocs.filter(col("source") =!= "src19")
    // the probe is Int-limited; a budget at/above Int.MaxValue could never
    // be exceeded by it and would silently disable the degrade — refuse it
    // (2^31 8-byte ids is already a ~17 GB broadcast, far past any sane
    // budget)
    require(maxExactBroadcast < Int.MaxValue,
      s"maxExactBroadcast $maxExactBroadcast would defeat the size probe")
    // the size probe IS the store: one job materializes at most
    // `maxExactBroadcast + 1` contaminated ids and counts them, so the
    // corpus-side shingle semi-join runs once for both the probe and the
    // exact arm's broadcast. On overflow the partial set is released
    // before the Bloom arm.
    val (contaminated, probe) = materialize(train
      .select(col("doc_id"), explode(shh).as("sh"))
      .join(broadcast(evalShh), Seq("sh"), "left_semi")
      .select(col("doc_id")).distinct()
      .limit(maxExactBroadcast.toInt + 1))
    if (probe.getLong(0) <= maxExactBroadcast)
      train.join(broadcast(contaminated), Seq("doc_id"), "left_anti")
    else {
      graft.CheckpointUtil.releaseCheckpoint(contaminated)
      val bloom = evalShh.agg(new BloomFilterAgg(DecontBloomBits,
        TrainingDataQueries.BloomK).column(col("sh")).as("bloom"))
      train.crossJoin(broadcast(bloom))
        // coalesce: NULL text → NULL shingles → NULL exists; the exact arm
        // KEEPS such docs (no shingles → never contaminated), so the
        // degraded arm must too — three-valued logic would drop them
        .filter(coalesce(!exists(shh, sh => BloomFilterAgg.mightContain(
          col("bloom"), sh, DecontBloomBits, TrainingDataQueries.BloomK)),
          lit(true)))
        .drop("bloom")
    }
  }

  // ------------------------------------------------------------------
  // PU as the pipeline's quality model (the reference's whole purpose —
  // Liu-2002 text PU classification — pointed at corpus curation):
  // trusted-seed positives + in-scan text-stat features -> Traditional
  // PU loop -> keep/drop score for every doc.
  // ------------------------------------------------------------------

  /** Trusted-seed PU label: Gopher-passing docs with even doc_id are the
    * observed positives (heuristically-known-good seed — the weak-
    * supervision setup of fastText/DataComp-style quality models); odd-id
    * Gopher passers are the masked holdout the spec measures ranking on;
    * everything else is unlabeled. */
  private def puSeedLabel: Column = {
    val st = NativeExpressions.textStats(col("text"))
    val rep = NativeExpressions.repetitionStats(col("text"))
    when(Gopher.keep(st, rep) && col("doc_id") % 2 === 0, 1).otherwise(0)
  }

  /** In-scan text-stat feature vector for the real-classifier arm:
    * quality score, top-token/distinct-token ratios, bigram repetition,
    * punctuation ratio, stopword ratio — all from the two fused kernels
    * (the `text_repetition` formulations, evaluated once per row). */
  private def statFeatures: Column = {
    val st = NativeExpressions.textStats(col("text"))
    val r = NativeExpressions.repetitionStats(col("text"))
    val n = r(0).cast(DoubleType)
    array(
      TextFunctions.qualityScore(col("text")),
      when(r(0) === 0L, 0.0).otherwise(r(2).cast(DoubleType) / n),
      when(r(0) === 0L, 0.0).otherwise(r(1).cast(DoubleType) / n),
      when(r(3) === 0L, 0.0)
        .otherwise(lit(1.0) - r(4).cast(DoubleType) / r(3).cast(DoubleType)),
      TextFunctions.punctRatio(col("text")),
      when(st(1) === 0L, 0.0).otherwise(st(3).cast(DoubleType) / st(1).cast(DoubleType)))
  }

  /** PU base frame (doc_id, puLabel, features) with `features(0)` =
    * quality score — under the shifting stub the whole loop is a closed
    * form of (quality, refit count), so the COMPOSITION is hash-exact. */
  private def puStubBase(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir).select(col("doc_id"),
      puSeedLabel.as("puLabel"),
      org.apache.spark.ml.functions.array_to_vector(
        array(TextFunctions.qualityScore(col("text")))).as("features"))

  /** THE pipeline PU quality model: the full O16 Traditional loop (shifting
    * stub, threshold 0.5, 3 iterations) over [[puStubBase]], one row per
    * doc with (doc_id, score, pu_final). The single model definition behind
    * `pu_pipeline_filter_stub` AND `pipeline_e2e_curate_pu` — a threshold
    * or iteration change here moves both queries (and their twins compose
    * the same [[graft.SparkEntry.traditionalStubUnroll]]). */
  private[operators] def puStubScores(s: SparkSession, dir: String): DataFrame = {
    import graft.pu._
    val stub = new ShiftingStubClassifier(-0.125)
      .setLabelCol(ProbabilisticClassifierConfig.labelName)
      .setFeaturesCol(ProbabilisticClassifierConfig.featuresName)
    val out = new TraditionalPULearner(0.5, 3, stub)
      .weight(puStubBase(s, dir), "puLabel", "features", "score")
    // early exit returns before the rotate (curLabel); full runs rotate
    // into prevLabel — same seam as pu_traditional_stub
    val labelCol = if (out.columns.contains("curLabel")) "curLabel" else "prevLabel"
    out.select(col("doc_id"), col("score"),
      col(labelCol).cast(IntegerType).as("pu_final"))
  }

  /** Keep bar for the PU-LEA-gated chain. The LEA loop's shifting stub
    * RAISES scores each refit (that is the gradual-reduction path — see
    * `pu_gradreduction_stub`), so the Traditional chain's 0.5 bar would be
    * universal after a few refits (measured: every doc ≥ 0.605 at fixture
    * scale). 0.875 = "still confident after the promotions", dropping
    * ~20% at both fixture SFs — the gate provably bites (E2eCurateSpec). */
  val LeaKeepTau = 0.875

  /** The PU-LEA pipeline quality model — the reference's SECOND algorithm
    * (O17 GradualReduction do-while, shifting stub delta +0.125 so refits
    * PROMOTE reliable negatives back to undefined, threshold 0.5) over the
    * same [[puStubBase]]. The single model definition behind
    * `pipeline_e2e_curate_pulea`; its twin composes
    * [[graft.SparkEntry.gradReductionUnroll]] with the same stage CTEs the
    * Traditional-gated chain uses — both reference algorithms now drive a
    * full curation composition, no fork in either loop's logic. */
  private[operators] def puLeaStubScores(s: SparkSession, dir: String): DataFrame = {
    import graft.pu._
    val stub = new ShiftingStubClassifier(0.125)
      .setLabelCol(ProbabilisticClassifierConfig.labelName)
      .setFeaturesCol(ProbabilisticClassifierConfig.featuresName)
    val out = new GradualReductionPULearner(0.5, stub)
      .weight(puStubBase(s, dir), "puLabel", "features", "score")
    out.select(col("doc_id"), col("score"),
      col("curLabel").cast(IntegerType).as("pu_final"))
  }

  /** Stages 5-7 of the full DAG over stage-4 survivors `s4` (doc rows with
    * text/source/lang): per-domain TopKAgg quota, source-rate mix with
    * English upsampling, and the SALTED train-split draw. One train row
    * per (doc, copy) with the fused `seq_key` order column and its
    * whitespace token count — the packer's input. Exposed to the spec so
    * the tail's intermediate grain is assertable without duplicating the
    * rules. */
  private[operators] def dagTrainSeqs(s4: DataFrame): DataFrame = {
    // stage 5: per-domain quota over the survivors
    val kept = s4
      .withColumn("h", TextFunctions.polyHash(
        concat(lit("cap"), col("doc_id").cast(StringType))))
      .groupBy(col("source"))
      .agg(TopKAgg.column(TrainingDataQueries.DomainCap,
        -col("h").cast(DoubleType), col("doc_id")).as("tk"))
      .select(explode(col("tk")).as("x"))
      .select(col("x")("_2").as("doc_id"))
    val capped = s4
      .select(col("doc_id"), col("source"), col("lang"),
        TextFunctions.tokenCount(col("text")).cast(LongType).as("n_tokens"))
      .join(kept, "doc_id")
    // stage 6: mix — downsample by source, upsample en by replication
    val mixed = capped
      .withColumn("rate",
        when(col("source").isin("src0", "src1"), 10)
          .when(col("source") === "src2", 50)
          .otherwise(100))
      .filter(pmod(TextFunctions.polyHash(col("doc_id").cast(StringType)),
        lit(100)) < col("rate"))
      .withColumn("weight", when(col("lang") === "en", 2).otherwise(1))
      .select(col("doc_id"), col("n_tokens"),
        explode(sequence(lit(1), col("weight"))).as("copy_id"))
    // stage 7: split (salted — independent of the mix draw)
    mixed
      .withColumn("bucket", pmod(TextFunctions.polyHash(
        concat(lit("split"), col("doc_id").cast(StringType))), lit(100)))
      .filter(col("bucket") < 90)
      // one fused order key: copy_id <= 2, so *8 preserves
      // (doc_id, copy_id) lexicographic order collision-free
      .withColumn("seq_key", col("doc_id") * 8 + col("copy_id"))
  }

  // ------------------------------------------------------------------
  // The composed query
  // ------------------------------------------------------------------

  /** Stages 2-4 (paragraph dedup → semantic dedup → decontamination) over
    * stage-1 survivors `q`. Returns (s2 paragraph evidence, s4 survivors) —
    * both materialized (each feeds at least two downstream consumers). Shared
    * by [[stages2to7]] and the `pipeline_e2e_full` DAG tail — one survivor
    * chain, no fork. */
  private def stages2to4(docs: DataFrame, q: DataFrame): (DataFrame, DataFrame) = {
    // stage 2: paragraph dedup
    val pagg = paragraphAgg(q)
    val s2 = materialize(paragraphSurvivors(pagg))._1
    // stage 3: semantic dedup over the stage-2 survivors
    val s3 = semanticSurvivors(q.join(s2.select("doc_id"), "doc_id"))
    // stage 4: decontaminate vs the RAW eval slice
    // feeds the BPE vocab collect AND the apply pass
    val s4 = materialize(decontaminate(q.join(s3, "doc_id"),
      docs.filter(col("source") === "src19")))._1
    (s2, s4)
  }

  /** Stages 2-7 of the curation chain over stage-1 survivors `q` (document
    * rows — `doc_id`/`text`/`source` at least). Shared by
    * `pipeline_e2e_curate` (Gopher stage 1) and `pipeline_e2e_curate_pu`
    * (Gopher AND the PU quality model) — one chain body, no fork. Returns
    * the per-doc evidence frame ordered by doc_id. `docs` is the RAW corpus
    * (stage 4 decontaminates against its unfiltered eval slice). */
  private def stages2to7(docs: DataFrame, q: DataFrame): DataFrame = {
    val (s2, s4) = stages2to4(docs, q)
    // stage 5: BPE — merge table learned ON the survivors. An empty
    // merge table means the survivor corpus itself is empty (every
    // Gopher survivor has >= 50 tokens, so survivors => vocab => merges);
    // emit the schema-correct empty frame instead of building a
    // zero-merge kernel.
    val merges = TrainingDataQueries.bpeMerges(s4)
    val bp =
      if (merges.isEmpty)
        s4.select(col("doc_id"), col("cen_id"), lit(0L).as("n_tokens"),
          lit(0L).as("n_pieces"), lit(0L).as("pieces_hash"))
      else s4.select(col("doc_id"), col("cen_id"),
          NativeExpressions.bpeStats(col("text"), merges).as("b"))
        .select(col("doc_id"), col("cen_id"),
          col("b").getItem(0).as("n_tokens"),
          col("b").getItem(1).as("n_pieces"),
          col("b").getItem(2).as("pieces_hash"))
    // stage 6: pack the BPE piece counts (concat-and-cut in doc_id order)
    val packed = Packing.packAssignments(bp, "doc_id", "n_pieces", PackTokens)
    // stage 7: consistent-hash shard + final per-doc evidence row
    packed
      .withColumn("shard_id", pmod(TextFunctions.polyHash(
        concat(lit("shard"), col("doc_id").cast(StringType))), lit(NShards)))
      .join(s2, "doc_id")
      .select(col("doc_id"), col("n_paras"), col("n_dup"), col("cen_id"),
        col("n_tokens"), col("n_pieces"), col("pieces_hash"),
        col("pack_id"), col("pack_offset"), col("shard_id"))
      .orderBy("doc_id")
  }

  /** [[stages2to7]] over a PU-gated `q`, the model's `pu_score` joined in
    * as the evidence row's second column. */
  private def puGatedChain(docs: DataFrame, q: DataFrame, puKeep: DataFrame): DataFrame = {
    val ev = stages2to7(docs, q)
    ev.join(puKeep, "doc_id").select("doc_id", "pu_score" +: ev.columns.tail: _*).orderBy("doc_id")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // The full O16 Traditional loop as the corpus keep/drop decision,
    // under the shifting stub (delta<0: every iteration converts a fresh
    // quality band to reliable negatives) — hash-exact twin unrolls the
    // loop over the SAME quality feature and seed rule.
    "pu_pipeline_filter_stub" -> ((s, dir) => {
      puStubScores(s, dir)
        .withColumn("keep", col("pu_final") === 1 || col("score") >= 0.5)
        .orderBy("doc_id")
    }),

    // Score CALIBRATION of the PU quality model — the table a user reads
    // before trusting the scores as a keep/drop dial: decile bins of the
    // loop's final score vs (a) the trusted-seed positive fraction and
    // (b) the loop's own final labels. A well-behaved PU ranking
    // concentrates the seed positives in the top deciles; the table
    // makes the threshold choice (and any decile inversion) visible.
    // Same single model definition ([[puStubScores]]) — hash-exact via
    // the unrolled twin; one tiny 10-row aggregate past the scoring.
    "pu_calibration" -> ((s, dir) => {
      puStubScores(s, dir)
        .join(Tables.documents(s, dir).select(col("doc_id"),
          when(puSeedLabel === 1, 1L).otherwise(0L).as("seed_pos")), "doc_id")
        .withColumn("decile",
          least(floor(col("score") * 10).cast(LongType), lit(9L)))
        .groupBy(col("decile"))
        .agg(count(lit(1)).as("n_docs"),
          sum(col("seed_pos")).as("n_seed_pos"),
          sum(when(col("pu_final") === 1, 1L).otherwise(0L)).as("n_final_pos"),
          min(col("score")).as("min_score"), max(col("score")).as("max_score"))
        .orderBy("decile")
    }),

    // SEMANTIC eval-set decontamination — the catch the n-gram gates can
    // never make: a paraphrased/reordered eval document shares no 8-token
    // span with the eval slice (the exact pass catches ZERO docs at
    // fixture scale) but its unigram profile is nearly identical, so the
    // hashEmbed cosine flags it. Machinery is dedup_semantic_text's,
    // pointed across corpus×eval: quantizer centroids come from the EVAL
    // side (lists center on eval neighborhoods), assignment is the
    // in-scan argmax kernel, and the tau check joins corpus rows to eval
    // rows ONLY within a list — a BROADCAST join on cen_id (an eval set
    // is a bounded artifact at any corpus scale), so the corpus crosses
    // no wire: never corpus×eval cross, never a corpus shuffle. Both
    // flags are emitted so the semantic-only catches are visible in the
    // compared surface.
    "pipeline_decontaminate_semantic" -> ((s, dir) => {
      val docs = Spread.ifNarrow(Tables.documents(s, dir), col("doc_id"))
      // feeds centroid collect, both assignment sides
      val emb = materialize(docs.select(col("doc_id"), col("source"),
          NativeExpressions.hashEmbed(col("text"), SemDim).as("v"))
        .withColumn("nrm", Dedup.l2norm(col("v")))
        .filter(col("nrm") > 0.0))._1
      val evalSide = emb.filter(col("source") === "src19")
      val cents = Similarity.collectCentroids(Similarity.lowestIdCentroids(
        evalSide.select(col("doc_id").as("vec_id"), col("v"), col("nrm")),
        SemCentroids))
      // an empty (or all-zero-norm) eval slice contaminates nothing — and
      // the assignment kernel needs >= 1 centroid
      val sem =
        if (cents.isEmpty)
          emb.select(col("doc_id")).where(lit(false)).withColumn("graft_sem", lit(true))
        else {
          val asgn = materialize(emb.withColumn("cen_id",
            NativeExpressions.argMaxCosine(col("v"), col("nrm"), cents)))._1
          asgn.filter(col("source") =!= "src19")
            .select(col("cen_id"), col("doc_id"), col("v").as("cv"), col("nrm").as("cnrm"))
            // the eval side is small BY DEFINITION (an eval set is a
            // bounded external artifact, thousands of rows at any corpus
            // scale) — broadcast it and the corpus never shuffles on
            // cen_id at all; the list key still scopes the tau pairs
            .join(broadcast(asgn.filter(col("source") === "src19")
              .select(col("cen_id"), col("v").as("ev"), col("nrm").as("enrm"))), "cen_id")
            .filter(Dedup.cosine(col("cv"), col("ev"), col("cnrm"), col("enrm")) >= SemTau)
            .select(col("doc_id")).distinct()
            .withColumn("graft_sem", lit(true))
        }
      // the exact 8-gram rule, for the side-by-side (pipeline_decontaminate)
      val shh = TextFunctions.shingleHashes(col("text"), 8)
      val evalShh = docs.filter(col("source") === "src19")
        .select(explode(shh).as("sh")).distinct()
      val exact = docs.filter(col("source") =!= "src19")
        .select(col("doc_id"), explode(shh).as("sh"))
        .join(broadcast(evalShh), Seq("sh"), "left_semi")
        .select(col("doc_id")).distinct()
        .withColumn("graft_exact", lit(true))
      docs.filter(col("source") =!= "src19").select(col("doc_id"))
        .join(broadcast(sem), Seq("doc_id"), "left")
        .join(broadcast(exact), Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("graft_sem"), lit(false)).as("semantic_contaminated"),
          coalesce(col("graft_exact"), lit(false)).as("exact_contaminated"))
        .orderBy("doc_id")
    }),

    // The production arm: real logistic regression over the in-scan stat
    // features, same seed rule (rows-only — ML internals are not
    // hash-replicable; PuPipelineFilterSpec pins the ranking quality).
    "pu_pipeline_filter" -> ((s, dir) => {
      import graft.pu._
      val base = Tables.documents(s, dir).select(col("doc_id"),
        puSeedLabel.as("puLabel"),
        org.apache.spark.ml.functions.array_to_vector(statFeatures).as("features"))
      val learner = TraditionalPULearnerConfig(0.5, 1, LogisticRegressionConfig()).build()
      learner.weight(base, "puLabel", "features", "score")
        .select(col("doc_id"), col("score")).orderBy("doc_id")
    }),

    "pipeline_e2e_curate" -> ((s, dir) => {
      val docs = Spread.ifNarrow(Tables.documents(s, dir), col("doc_id"))
      // stage 1: quality — feeds paragraphs, embeddings and the survivor joins
      val q = materialize(qualitySurvivors(docs))._1
      stages2to7(docs, q)
    }),

    // The COMPLETE curation DAG: the survivor chain (stages 1-4, shared
    // with pipeline_e2e_curate — [[stages2to4]], no fork) continued through
    // the corpus-assembly tail a real pretraining build runs after dedup:
    //   5. per-domain quota — TopKAgg consistent-hash draw per source
    //      (`pipeline_domain_cap` rule): k-bounded mergeable agg, only
    //      (sources × cap) ids cross the shuffle, no per-domain window;
    //   6. mix — per-source downsample rates + English upsample by row
    //      replication (`pipeline_mix` rule), pure in-scan filter+explode;
    //   7. split — train/valid/test by hash bucket (`pipeline_split` rule)
    //      SALTED with 'split': the composition exposes what the standalone
    //      passes can't — mix and split both drawing from the unsalted
    //      doc_id hash would correlate (a rate-10 source's survivors all
    //      have bucket < 10, i.e. 100% train), so the split draw salts its
    //      key to stay independent of the mix draw;
    //   8. pack manifest — concat-and-cut packing of the train split in
    //      (doc_id, copy_id) order via one fused seq_key, then the per-pack
    //      manifest row (`pipeline_pack`/`pipeline_pack_manifest` rules:
    //      range exchange + broadcast offsets, one pack_id shuffle).
    // Output: one manifest row per training pack; every upstream decision
    // (survivor set, quota membership, mix survival+weights, split) is
    // pinned through the manifest's counts and ordered key-list hash.
    "pipeline_e2e_full" -> ((s, dir) => {
      val docs = Spread.ifNarrow(Tables.documents(s, dir), col("doc_id"))
      val q = materialize(qualitySurvivors(docs))._1
      val (_, s4) = stages2to4(docs, q)
      // stages 5-7 ([[dagTrainSeqs]]), then pack + per-pack manifest
      Packing.packAssignments(dagTrainSeqs(s4), "seq_key", "n_tokens", PackTokens)
        .groupBy(col("pack_id"))
        .agg(count(lit(1)).as("n_seqs"),
          sum(col("n_tokens")).as("tokens_started"),
          min(col("seq_key")).as("first_key"),
          max(col("seq_key")).as("last_key"),
          NativeExpressions.polyCombine(sort_array(collect_list(col("seq_key"))))
            .as("key_list_hash"))
        .orderBy("pack_id")
    }),

    // The DAG continued to its LAST step — the order the trainer actually
    // consumes: the full survivor chain (stages 1-4) through quota → mix
    // → split ([[dagTrainSeqs]], shared with pipeline_e2e_full — no
    // fork), then the `pipeline_curriculum` rule over the train
    // SEQUENCES: bin by the source document's quality (best bin first),
    // hash-shuffle within a bin (salted on seq_key so replicated copies
    // of one doc scatter instead of clumping), global position via the
    // scale-path rank (range partition + broadcast offsets — no
    // single-task sort). Output: one row per training sequence in
    // training order.
    "pipeline_e2e_train_order" -> ((s, dir) => {
      val docs = Spread.ifNarrow(Tables.documents(s, dir), col("doc_id"))
      val q = materialize(qualitySurvivors(docs))._1
      val (_, s4) = stages2to4(docs, q)
      val P = TextFunctions.HashMod
      val binned = dagTrainSeqs(s4)
        .join(s4.select(col("doc_id"),
          TextFunctions.qualityScore(col("text")).as("qual")), "doc_id")
        .select(col("seq_key"), col("doc_id"), col("n_tokens"),
          least(floor(col("qual") * 4).cast(LongType), lit(3L)).as("bin"))
        .withColumn("key", col("bin") * lit(P) +
          pmod(TextFunctions.polyHash(
            concat(lit("cur"), col("seq_key").cast(StringType))), lit(P)))
      graft.pu.PU.globalRankByScore(binned, "key", col("seq_key"), "train_pos")
        .select(col("seq_key"), col("doc_id"), col("bin"), col("n_tokens"),
          col("train_pos"))
        .orderBy("train_pos")
    }),

    // INCREMENTAL curation — the lifecycle a daily-ingest user actually
    // runs: curate a NEW batch of documents against EXISTING corpus state
    // without re-curating the corpus. The batch is the top ~20% of ids
    // (boundary = max_id*4/5 — a real ingest's ids sort strictly after the
    // standing corpus's, which is exactly what makes the chain's
    // min-(doc_id,pidx)/lowest-id canonical rules incremental: the corpus's
    // own survival can never depend on the batch). Per stage:
    //   1. Gopher — per-doc, trivially incremental;
    //   2. paragraph dedup — a batch paragraph is dup iff its hash exists
    //      ANYWHERE in the standing corpus's survivor paragraphs (state
    //      probe: the batch's distinct hashes broadcast INTO the corpus
    //      scan, hits — bounded by the batch — broadcast back) or an
    //      earlier batch occurrence is canonical (batch-internal agg);
    //   3. semantic dedup — quantizer centroids are corpus state (the
    //      lowest surviving ids live in the corpus by construction; a
    //      standing corpus is assumed larger than the [[SemCentroids]]
    //      quantizer — and empty-state degrades to the empty result); a
    //      batch doc is dropped iff tau-similar to ANY standing s2-survivor
    //      embedding in its list (corpus scan × BROADCAST batch — the
    //      corpus never shuffles) or to an earlier batch doc (batch self);
    //   4. decontamination — the union's raw eval slice (standing eval
    //      artifact + eval docs arriving in the batch), broadcast probe.
    // The corpus-state frames (qC/parasC/s2C/embC) are computed in-query
    // because the harness has no state store — in production they ARE the
    // standing corpus's curation output, maintained incrementally; the
    // steady-state per-batch cost is corpus SCANS + broadcast probes,
    // never a batch-triggered corpus shuffle (dedup_incremental's shape).
    // THE PROOF: the DuckDB twin is the FULL REBUILD on the union
    // (stage12+stage34 CTEs verbatim) restricted to batch ids — the
    // driver's hash-exact compare IS the batch-then-increment ==
    // full-rebuild equivalence, at every scale factor.
    "pipeline_e2e_incremental" -> ((s, dir) => {
      val docs = Spread.ifNarrow(Tables.documents(s, dir), col("doc_id"))
      val maxId = docs.agg(max(col("doc_id"))).head().getLong(0)
      val boundary = maxId * 4 / 5
      val corpus = docs.filter(col("doc_id") <= boundary)
      val batch = docs.filter(col("doc_id") > boundary)
      // ---- standing-corpus state. Materialized, not persisted:
      // this IS the materialized standing state of a production deployment
      // (lineage-free, computed once, probed by every batch), and
      // truncating the corpus lineage here keeps every downstream batch
      // plan free of the corpus's own build plan. Tracked for release,
      // same discipline as Packing.globalCumSum. ----
      val qC = materialize(qualitySurvivors(corpus))._1
      val parasC = materialize(explodeParagraphs(qC))._1
      val s2C = paragraphSurvivors(paragraphAggOf(parasC))
      val embC = materialize(embed(qC.join(s2C.select("doc_id"), "doc_id")))._1
      val cents = Similarity.collectCentroids(
        Similarity.lowestIdCentroids(embC, SemCentroids))
      // ---- the batch's incremental stages 1-4. The multiply-consumed
      // batch frames are eagerly materialized as well (batch-scale, tiny —
      // a production incremental job writes exactly these as its own
      // output/state-update), which keeps every downstream plan shallow. ----
      val qN = materialize(qualitySurvivors(batch))._1
      val parasN = materialize(explodeParagraphs(qN))._1
      val corpusHits = parasC
        .join(broadcast(parasN.select("h").distinct()), Seq("h"), "left_semi")
        .select("h").distinct().withColumn("in_corpus", lit(true))
      val canonN = parasN.groupBy(col("h"))
        .agg(min(struct(col("doc_id"), col("pidx"))).as("c"))
        .select(col("h"), col("c").getField("doc_id").as("c_doc"),
          col("c").getField("pidx").as("c_pidx"))
      val paggN = materialize(parasN.join(canonN, "h")
        .join(broadcast(corpusHits), Seq("h"), "left")
        .withColumn("kept", not(coalesce(col("in_corpus"), lit(false))) &&
          col("doc_id") === col("c_doc") && col("pidx") === col("c_pidx"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_paras"),
          sum(when(col("kept"), 0L).otherwise(1L)).as("n_dup")))._1
      val s2N = paragraphSurvivors(paggN)
      if (cents.isEmpty)
        // an empty standing corpus has no quantizer: nothing to dedup
        // against and (fixture corpora are never empty) nothing to emit
        batch.select(col("doc_id"), lit(0L).as("n_paras"),
          lit(0L).as("n_dup"), lit(0L).as("cen_id")).where(lit(false))
      else {
        val asgC = Similarity.ivfAssignWith(embC, cents)
        val asgN = materialize(Similarity.ivfAssignWith(
          embed(qN.join(s2N.select("doc_id"), "doc_id")), cents))._1
        val vsC = asgC
          .select(col("cen_id"), col("v").as("cv"), col("nrm").as("cnrm"))
          .join(broadcast(asgN), "cen_id")
          .filter(Dedup.cosine(col("cv"), col("v"), col("cnrm"), col("nrm")) >= SemTau)
          .select(col("vec_id"))
        val vsN = asgN.select(col("cen_id"), col("vec_id").as("id_a"),
            col("v").as("v_a"), col("nrm").as("nrm_a"))
          .join(asgN.select(col("cen_id"), col("vec_id").as("id_b"),
            col("v").as("v_b"), col("nrm").as("nrm_b")), "cen_id")
          .filter(col("id_a") < col("id_b"))
          .filter(Dedup.cosine(col("v_a"), col("v_b"), col("nrm_a"), col("nrm_b")) >= SemTau)
          .select(col("id_b").as("vec_id"))
        val victims = vsC.union(vsN).distinct()
        val s3N = asgN.join(broadcast(victims), Seq("vec_id"), "left_anti")
          .select(col("vec_id").as("doc_id"), col("cen_id"))
        val s4N = decontaminate(batch.join(s3N, "doc_id"),
          docs.filter(col("source") === "src19"))
        s4N.join(paggN, "doc_id")
          .select(col("doc_id"), col("n_paras"), col("n_dup"), col("cen_id"))
          .orderBy("doc_id")
      }
    }),

    // The chain with the REFERENCE'S ALGORITHM as its decision engine:
    // stage 0 runs the full O16 Traditional PU loop (shifting stub, all 3
    // iterations — the pu_pipeline_filter_stub model) over every document,
    // and stage 1 keeps docs passing BOTH the Gopher rules AND the PU
    // keep decision. Stages 2-7 are [[stages2to7]] verbatim; the final
    // evidence row carries the model's score. Under the stub the loop is a
    // closed form of (quality, refit count), so the WHOLE composition is
    // hash-exact — the twin composes [[graft.SparkEntry.traditionalStubUnroll]]
    // with the stage-2-7 CTEs. Scale shape: the PU stage adds one driver-side
    // ML iteration (the reference's own loop,
    // /root/reference/src/main/scala/ru/ispras/pu4spark/TraditionalPULearner.scala:30-76)
    // whose per-iteration work is an in-scan score + one tiny metrics agg;
    // the keep set joins back as a doc_id hash join.
    "pipeline_e2e_curate_pu" -> ((s, dir) => {
      val docs = Spread.ifNarrow(Tables.documents(s, dir), col("doc_id"))
      // stage 0: the PU quality model ([[puStubScores]] — the
      // pu_pipeline_filter_stub model, one definition, no fork).
      // materialized: consumed by the stage-1 gate AND the final evidence
      // join — unstored, the second join would re-run the whole PU scoring
      // lineage (full-corpus quality scan + the loop's transform chain).
      val puKeep = materialize(puStubScores(s, dir)
        .filter(col("pu_final") === 1 || col("score") >= 0.5)
        .select(col("doc_id"), col("score").as("pu_score")))._1
      // stage 1: Gopher rules AND the model's keep decision
      val q = materialize(qualitySurvivors(docs).join(puKeep, "doc_id"))._1
      puGatedChain(docs, q, puKeep)
    }),

    // The chain gated by the reference's SECOND algorithm, composed the
    // way PU learning is meant to be used: the hand-written Gopher rules
    // survive only as the training SEED (Gopher∧even — the weak
    // known-positive set), the PU-LEA (GradualReduction, O17) do-while
    // under the shifting stub generalizes them into a learned keep
    // decision, and that decision REPLACES stage 1 outright. (Conjoining
    // with Gopher, as the Traditional chain does, would be vacuous here:
    // the rising-score loop saturates every Gopher survivor's score at
    // 1.0 — measured, not assumed — so the learned gate must stand
    // alone to bite; it drops ~20% of the corpus at every fixture SF.)
    // Stage shapes are identical to the sibling chains; only the
    // stage-1 decision engine changes.
    "pipeline_e2e_curate_pulea" -> ((s, dir) => {
      val docs = Spread.ifNarrow(Tables.documents(s, dir), col("doc_id"))
      val puKeep = materialize(puLeaStubScores(s, dir)
        .filter(col("pu_final") === 1 || col("score") >= LeaKeepTau)
        .select(col("doc_id"), col("score").as("pu_score")))._1
      // stage 1 IS the learned keep set (no Gopher conjunct — see above)
      val q = materialize(docs.join(puKeep, "doc_id"))._1
      puGatedChain(docs, q, puKeep)
    })
  )

  // ------------------------------------------------------------------
  // DuckDB twin — the staged composition of the standalone twins
  // ------------------------------------------------------------------

  /** Survivor CTE chain through stage 2 (expects to follow `WITH` and the
    * `t` CTE of [[DedupQueries.thCte]]): s1 = Gopher survivors, pagg =
    * paragraph counts, s2 = paragraph survivors. */
  private[operators] def stage12Ctes: String = stage12CtesWith("", "")

  /** [[stage12Ctes]] with extension points for the PU-gated chains:
    * `preS1` (extra CTEs, inserted after `st`, must NOT end with a comma),
    * `s1Extra` (an ` AND ...` conjunct appended to the s1 filter), and
    * `s1Sql` (when non-empty, the COMPLETE s1 select — the PU-LEA chain
    * replaces the hand-written Gopher stage with the learned keep set). */
  private[operators] def stage12CtesWith(preS1: String, s1Extra: String,
                                         s1Sql: String = ""): String = {
    // the two stage-1 extension points are mutually exclusive: a complete
    // s1Sql REPLACES the Gopher select, so an s1Extra conjunct passed
    // alongside it would be silently dropped — fail loudly instead
    require(s1Sql.isEmpty || s1Extra.isEmpty,
      "stage12CtesWith: s1Sql replaces the whole stage-1 select; " +
        "an s1Extra conjunct would be silently ignored")
    val w = ParaWindow
    val pre = if (preS1.isEmpty) "" else preS1 + ",\n"
    val s1Body = if (s1Sql.nonEmpty) s1Sql
      else s"""SELECT st.doc_id FROM st JOIN tf USING (doc_id)
              |  WHERE (${TrainingDataQueries.GopherSql.keep})$s1Extra""".stripMargin
    s"""tf AS (${TrainingDataQueries.GopherSql.tfCte}),
       |st AS (${TrainingDataQueries.GopherSql.stCte}),
       |${pre}s1 AS ($s1Body),
       |p0 AS (SELECT doc_id, th FROM t
       |  WHERE len(th) > 0 AND doc_id IN (SELECT doc_id FROM s1)),
       |paras AS MATERIALIZED (SELECT doc_id, CAST(u.i - 1 AS BIGINT) AS pidx, u.h FROM (
       |  SELECT doc_id, unnest(list_transform(range(1, ((len(th) + ${w - 1}) // $w) + 1),
       |    i -> {'i': i, 'h': ${combineSql(s"th[(i-1)*$w+1:LEAST(i*$w, len(th))]")}})) AS u
       |  FROM p0)),
       |canon AS (SELECT h, min(struct_pack(d := doc_id, p := pidx)) AS c
       |  FROM paras GROUP BY h),
       |pagg AS (SELECT p.doc_id, CAST(count(*) AS BIGINT) AS n_paras,
       |    CAST(sum(CASE WHEN p.doc_id = c.c.d AND p.pidx = c.c.p THEN 0 ELSE 1 END) AS BIGINT) AS n_dup
       |  FROM paras p JOIN canon c USING (h) GROUP BY p.doc_id),
       |s2 AS MATERIALIZED (SELECT doc_id, n_paras, n_dup FROM pagg WHERE 2*n_dup <= n_paras)""".stripMargin
  }

  /** Stage 3+4 CTE chain (expects `t` and the [[stage12Ctes]] chain):
    * hashing-trick embeddings of s2 survivors, survivor-derived centroids,
    * IVF-list tau victims, then the eval-slice shingle gate. Mirrors the
    * `dedup_semantic_text` and `pipeline_decontaminate` twins. */
  private[operators] def stage34Ctes: String = {
    import DedupQueries.{dotSql, normSql, shhSql}
    s"""hv AS (SELECT t.doc_id AS vec_id, list_transform(range(0, $SemDim), b ->
       |  CAST(len(list_filter(th, h -> h % $SemDim = b AND (h // $SemDim) % 2 = 1)) -
       |       len(list_filter(th, h -> h % $SemDim = b AND (h // $SemDim) % 2 = 0)) AS DOUBLE)) AS v
       |  FROM t WHERE t.doc_id IN (SELECT doc_id FROM s2)),
       |nn AS MATERIALIZED (SELECT * FROM (SELECT vec_id, v, ${normSql("v")} AS nrm FROM hv) WHERE nrm > 0.0),
       |cents AS (SELECT vec_id AS cen_id, v AS cv, nrm AS cnrm FROM nn ORDER BY vec_id LIMIT $SemCentroids),
       |assigned AS MATERIALIZED (
       |  SELECT vec_id, cen_id, v, nrm FROM (
       |    SELECT nn.vec_id, cents.cen_id, nn.v, nn.nrm,
       |      row_number() OVER (PARTITION BY nn.vec_id
       |        ORDER BY ${dotSql("nn.v", "cents.cv")} / (nn.nrm * cents.cnrm) DESC, cents.cen_id) AS crn
       |    FROM nn, cents) WHERE crn = 1),
       |victims AS (SELECT DISTINCT b.vec_id
       |  FROM assigned a JOIN assigned b ON a.cen_id = b.cen_id AND a.vec_id < b.vec_id
       |  WHERE ${dotSql("a.v", "b.v")} / (a.nrm * b.nrm) >= $SemTau),
       |s3 AS MATERIALIZED (SELECT vec_id AS doc_id, cen_id FROM assigned
       |  WHERE vec_id NOT IN (SELECT vec_id FROM victims)),
       |dsh AS MATERIALIZED (SELECT doc_id, source, ${shhSql(DecontNgram)} AS shh FROM t),
       |ev AS (SELECT DISTINCT unnest(shh) AS sh FROM dsh WHERE source = 'src19'),
       |contaminated AS (SELECT DISTINCT c.doc_id FROM
       |  (SELECT doc_id, unnest(shh) AS sh FROM dsh
       |   WHERE source <> 'src19' AND doc_id IN (SELECT doc_id FROM s3)) c JOIN ev USING (sh)),
       |s4 AS MATERIALIZED (SELECT s3.doc_id, s3.cen_id FROM s3 JOIN dsh USING (doc_id)
       |  WHERE dsh.source <> 'src19'
       |    AND s3.doc_id NOT IN (SELECT doc_id FROM contaminated))""".stripMargin
  }

  /** Stage 5-7 twin tail (expects the `s2`/`s4` CTEs): BPE chain learned on
    * the s4 survivors, the pack prefix-sum window, and the final per-doc
    * evidence SELECT. Shared by both e2e oracles — `extraCol` (inserted
    * after doc_id, e.g. `", puk.pu_score"`) and `extraJoin` (e.g.
    * `" JOIN puk USING (doc_id)"`) extend the PU-gated variant, mirroring
    * how [[stage12CtesWith]] parameterizes the head. */
  private def stage57Sql(extraCol: String, extraJoin: String): String =
    s"""surv AS (SELECT d.doc_id, d.text FROM documents d
       |  WHERE d.doc_id IN (SELECT doc_id FROM s4)),
       |${TrainingDataQueries.bpeChainCtes("surv")},
       |bp AS (SELECT tk.doc_id, CAST(len(tk.toks) AS BIGINT) AS n_tokens,
       |  COALESCE(ag.n_pieces, 0) AS n_pieces,
       |  CASE WHEN ag.hl IS NULL THEN 0 ELSE ${combineSql("ag.hl")} END AS pieces_hash
       |  FROM tk LEFT JOIN ag ON tk.doc_id = ag.doc_id),
       |pk AS (SELECT doc_id, n_tokens, n_pieces, pieces_hash,
       |  CAST(COALESCE(SUM(n_pieces) OVER (ORDER BY doc_id
       |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
       |  FROM bp)
       |SELECT pk.doc_id$extraCol, s2.n_paras, s2.n_dup, s4.cen_id,
       |  pk.n_tokens, pk.n_pieces, pk.pieces_hash,
       |  pk.cum_before // $PackTokens AS pack_id,
       |  pk.cum_before % $PackTokens AS pack_offset,
       |  ${ph("('shard' || CAST(pk.doc_id AS VARCHAR))", "si")} % $NShards AS shard_id
       |FROM pk JOIN s2 USING (doc_id) JOIN s4 USING (doc_id)$extraJoin
       |ORDER BY doc_id""".stripMargin

  /** DAG-tail twin CTEs (expects the stage 1-4 chain): per-domain quota →
    * mix → salted train split, ending in `tr(seq_key, n_tokens)`. Shared
    * by the `pipeline_e2e_full` manifest twin and the
    * `pipeline_e2e_train_order` curriculum twin — one DAG-tail
    * definition, no fork. */
  private def dagSeqCtes: String = {
    val ntok = graft.functions.TextQueries.sqlNTok
    val cap = TrainingDataQueries.DomainCap
    s"""s4m AS (SELECT d.doc_id, d.source, d.lang, CAST($ntok AS BIGINT) AS n_tokens
       |  FROM documents d WHERE d.doc_id IN (SELECT doc_id FROM s4)),
       |caph AS (SELECT *, ${ph("('cap' || CAST(doc_id AS VARCHAR))", "ci")} AS h FROM s4m),
       |capr AS (SELECT *, row_number() OVER (PARTITION BY source ORDER BY h, doc_id) AS rn
       |  FROM caph),
       |mixk AS (SELECT *, CASE WHEN lang = 'en' THEN 2 ELSE 1 END AS w FROM
       |  (SELECT doc_id, source, lang, n_tokens,
       |    CASE WHEN source IN ('src0','src1') THEN 10
       |         WHEN source = 'src2' THEN 50 ELSE 100 END AS rate
       |   FROM capr WHERE rn <= $cap)
       |  WHERE (${ph("CAST(doc_id AS VARCHAR)", "mi")}) % 100 < rate),
       |mixe AS (SELECT doc_id, n_tokens, unnest(range(1, w + 1)) AS copy_id FROM mixk),
       |tr AS (SELECT doc_id * 8 + copy_id AS seq_key, n_tokens FROM mixe
       |  WHERE (${ph("('split' || CAST(doc_id AS VARCHAR))", "spi")}) % 100 < 90)""".stripMargin
  }

  /** [[puStubBase]]'s twin (expects the `tf`/`st` CTEs): the Gopher∧even
    * seed label `l0` and the quality feature `f0`. */
  private def puBaseCtes: String =
    s"""qf AS (SELECT doc_id, ${graft.functions.TextQueries.quality} AS f0 FROM documents),
       |base AS (SELECT st.doc_id,
       |  CASE WHEN (${TrainingDataQueries.GopherSql.keep}) AND st.doc_id % 2 = 0
       |       THEN 1 ELSE -1 END AS l0,
       |  qf.f0 AS f0
       |  FROM st JOIN tf USING (doc_id) JOIN qf USING (doc_id))""".stripMargin

  /** [[puStubScores]]' loop unrolled over `base`. */
  private def traditionalUnroll: String = graft.SparkEntry.traditionalStubUnroll(
    0.5, -0.125, 3, "SELECT * FROM base", "doc_id")

  def oracles: Map[String, String] = Map(
    // The Traditional loop unrolled ([[graft.SparkEntry.traditionalStubUnroll]])
    // over base = (gopher seed label, quality score) — the same shared
    // fragments as the e2e chain's stage-1 twin.
    "pu_pipeline_filter_stub" ->
      s"""WITH t AS ($thCte),
         |tf AS (${TrainingDataQueries.GopherSql.tfCte}),
         |st AS (${TrainingDataQueries.GopherSql.stCte}),
         |$puBaseCtes
         |SELECT doc_id, score, pu_final,
         |  (pu_final = 1 OR score >= 0.5) AS keep
         |FROM ($traditionalUnroll) ORDER BY doc_id""".stripMargin,

    // calibration twin: the same base + unroll, then the decile aggregate
    "pu_calibration" ->
      s"""WITH t AS ($thCte),
         |tf AS (${TrainingDataQueries.GopherSql.tfCte}),
         |st AS (${TrainingDataQueries.GopherSql.stCte}),
         |$puBaseCtes,
         |sc AS (SELECT doc_id, score, pu_final FROM ($traditionalUnroll)),
         |j AS (SELECT sc.doc_id, sc.score, sc.pu_final,
         |  CASE WHEN base.l0 = 1 THEN 1 ELSE 0 END AS seed_pos
         |  FROM sc JOIN base USING (doc_id)),
         |b AS (SELECT *, least(CAST(floor(score * 10) AS BIGINT), 9) AS decile FROM j)
         |SELECT decile, count(*) AS n_docs,
         |  CAST(sum(seed_pos) AS BIGINT) AS n_seed_pos,
         |  CAST(sum(CASE WHEN pu_final = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_final_pos,
         |  min(score) AS min_score, max(score) AS max_score
         |FROM b GROUP BY decile ORDER BY decile""".stripMargin,

    // Same hv/nn/assignment formulation as the e2e stage-3 twin, with
    // eval-derived centroids and a corpus×eval (never corpus×corpus) tau
    // join; the exact arm is the pipeline_decontaminate rule verbatim.
    "pipeline_decontaminate_semantic" -> {
      import DedupQueries.{dotSql, normSql, shhSql}
      s"""WITH t AS MATERIALIZED ($thCte),
         |hv AS (SELECT doc_id, source, list_transform(range(0, $SemDim), b ->
         |  CAST(len(list_filter(th, h -> h % $SemDim = b AND (h // $SemDim) % 2 = 1)) -
         |       len(list_filter(th, h -> h % $SemDim = b AND (h // $SemDim) % 2 = 0)) AS DOUBLE)) AS v
         |  FROM t),
         |nn AS MATERIALIZED (SELECT * FROM
         |  (SELECT doc_id, source, v, ${normSql("v")} AS nrm FROM hv) WHERE nrm > 0.0),
         |cents AS (SELECT doc_id AS cen_id, v AS cv, nrm AS cnrm FROM nn
         |  WHERE source = 'src19' ORDER BY doc_id LIMIT $SemCentroids),
         |asgn AS MATERIALIZED (SELECT doc_id, source, v, nrm, cen_id FROM (
         |  SELECT nn.doc_id, nn.source, nn.v, nn.nrm, cents.cen_id,
         |    row_number() OVER (PARTITION BY nn.doc_id
         |      ORDER BY ${dotSql("nn.v", "cents.cv")} / (nn.nrm * cents.cnrm) DESC, cents.cen_id) AS crn
         |  FROM nn, cents) WHERE crn = 1),
         |sem AS (SELECT DISTINCT c.doc_id FROM asgn c JOIN asgn e
         |  ON c.cen_id = e.cen_id AND c.source <> 'src19' AND e.source = 'src19'
         |  WHERE ${dotSql("c.v", "e.v")} / (c.nrm * e.nrm) >= $SemTau),
         |dsh AS MATERIALIZED (SELECT doc_id, source, ${shhSql(8)} AS shh FROM t),
         |evs AS (SELECT DISTINCT unnest(shh) AS sh FROM dsh WHERE source = 'src19'),
         |ex AS (SELECT DISTINCT c2.doc_id FROM
         |  (SELECT doc_id, unnest(shh) AS sh FROM dsh WHERE source <> 'src19') c2
         |  JOIN evs USING (sh))
         |SELECT d.doc_id,
         |  d.doc_id IN (SELECT doc_id FROM sem) AS semantic_contaminated,
         |  d.doc_id IN (SELECT doc_id FROM ex) AS exact_contaminated
         |FROM documents d WHERE d.source <> 'src19'
         |ORDER BY d.doc_id""".stripMargin
    },

    // The PU-gated chain: the Traditional-loop unroll
    // ([[graft.SparkEntry.traditionalStubUnroll]], the pu_pipeline_filter_stub
    // twin) becomes the `puk` keep set, conjoined into s1, then the SAME
    // stage-2-7 CTEs as the plain chain — twin composition mirrors the
    // Spark composition stage for stage.
    "pipeline_e2e_curate_pu" -> {
      val preS1 =
        s"""$puBaseCtes,
           |puk AS MATERIALIZED (SELECT doc_id, score AS pu_score FROM ($traditionalUnroll)
           |  WHERE pu_final = 1 OR score >= 0.5)""".stripMargin
      s"""WITH RECURSIVE t AS MATERIALIZED ($thCte),
         |${stage12CtesWith(preS1, " AND st.doc_id IN (SELECT doc_id FROM puk)")},
         |$stage34Ctes,
         |${stage57Sql(", puk.pu_score", " JOIN puk USING (doc_id)")}""".stripMargin
    },

    // The PU-LEA-gated chain: identical staged twin, with the
    // GradualReduction unroll ([[graft.SparkEntry.gradReductionUnroll]],
    // the pu_gradreduction_stub twin's builder) REPLACING the Gopher s1
    // (the rules live on only inside `base` as the training seed) — same
    // base CTE as the Traditional-gated twin, only the loop and the
    // stage-1 role differ.
    "pipeline_e2e_curate_pulea" -> {
      val unroll = graft.SparkEntry.gradReductionUnroll(
        0.5, 0.125, 6, "SELECT * FROM base", "doc_id")
      val preS1 =
        s"""$puBaseCtes,
           |puk AS MATERIALIZED (SELECT doc_id, score AS pu_score FROM ($unroll)
           |  WHERE pu_final = 1 OR score >= $LeaKeepTau)""".stripMargin
      s"""WITH RECURSIVE t AS MATERIALIZED ($thCte),
         |${stage12CtesWith(preS1, "", "SELECT doc_id FROM puk")},
         |$stage34Ctes,
         |${stage57Sql(", puk.pu_score", " JOIN puk USING (doc_id)")}""".stripMargin
    },

    // Stages 5-7 on top of the survivor chain: the BPE twin chain
    // ([[TrainingDataQueries.bpeChainCtes]]) learns on `surv`, then the
    // pipeline_pack window prefix sum and the pipeline_shard hash rule.
    "pipeline_e2e_curate" ->
      s"""WITH RECURSIVE t AS MATERIALIZED ($thCte),
         |$stage12Ctes,
         |$stage34Ctes,
         |${stage57Sql("", "")}""".stripMargin,

    // THE equivalence proof: the twin is the FULL REBUILD on the union —
    // the plain-chain stage 1-4 CTEs verbatim — restricted to batch ids.
    // Hash-match means batch-then-increment == full rebuild exactly.
    "pipeline_e2e_incremental" ->
      s"""WITH RECURSIVE t AS MATERIALIZED ($thCte),
         |$stage12Ctes,
         |$stage34Ctes
         |SELECT s4.doc_id, s2.n_paras, s2.n_dup, s4.cen_id
         |FROM s4 JOIN s2 USING (doc_id)
         |WHERE s4.doc_id > (SELECT (max(doc_id) * 4) // 5 FROM documents)
         |ORDER BY s4.doc_id""".stripMargin,

    // The full-DAG twin: survivor chain CTEs (stages 1-4, shared), then the
    // quota row_number rule (pipeline_domain_cap twin), the mix rate/weight
    // rules (pipeline_mix twin), the SALTED split draw, and the
    // pack/manifest prefix-sum window (pipeline_pack_manifest twin) over
    // the fused seq_key order.
    // The curriculum twin over the SAME DAG-tail `tr` sequences: quality
    // bin from the source doc, salted hash order within bin, one global
    // row_number — the pipeline_curriculum rule applied to sequences.
    "pipeline_e2e_train_order" -> {
      val P = graft.functions.TextFunctions.HashMod
      s"""WITH RECURSIVE t AS MATERIALIZED ($thCte),
         |$stage12Ctes,
         |$stage34Ctes,
         |$dagSeqCtes,
         |qf AS (SELECT doc_id, ${graft.functions.TextQueries.quality} AS qual
         |  FROM documents),
         |bnd AS (SELECT tr.seq_key, tr.seq_key // 8 AS doc_id, tr.n_tokens,
         |  least(CAST(floor(qf.qual * 4) AS BIGINT), 3) AS bin
         |  FROM tr JOIN qf ON tr.seq_key // 8 = qf.doc_id),
         |k AS (SELECT *, bin * $P +
         |  ${ph("('cur' || CAST(seq_key AS VARCHAR))", "ki")} AS key FROM bnd)
         |SELECT seq_key, doc_id, bin, n_tokens,
         |  CAST(row_number() OVER (ORDER BY key DESC, seq_key) AS BIGINT) AS train_pos
         |FROM k ORDER BY train_pos""".stripMargin
    },

    "pipeline_e2e_full" -> {
      s"""WITH RECURSIVE t AS MATERIALIZED ($thCte),
         |$stage12Ctes,
         |$stage34Ctes,
         |$dagSeqCtes,
         |cum AS (SELECT seq_key, n_tokens,
         |  CAST(COALESCE(SUM(n_tokens) OVER (ORDER BY seq_key
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS cum_before
         |  FROM tr),
         |pks AS (SELECT seq_key, n_tokens, cum_before // $PackTokens AS pack_id FROM cum),
         |g AS (SELECT pack_id, count(*) AS n_seqs,
         |  CAST(sum(n_tokens) AS BIGINT) AS tokens_started,
         |  min(seq_key) AS first_key, max(seq_key) AS last_key,
         |  list(seq_key ORDER BY seq_key) AS ks FROM pks GROUP BY pack_id)
         |SELECT pack_id, n_seqs, tokens_started, first_key, last_key,
         |  ${combineSql("ks")} AS key_list_hash
         |FROM g ORDER BY pack_id""".stripMargin
    }
  )
}
