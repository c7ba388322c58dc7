package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.Dedup

/** Near-duplicate detection on a DOCUMENT STREAM: the whole signature
  * pipeline (shingle hashes → MinHash → LSH bands — all codegen'd native
  * kernels, stateless per row) runs inside Structured Streaming, and the
  * banded self-join becomes a watermarked stream-stream join.
  *
  * State model: each side keeps only rows whose event time is within
  * `horizon` of the watermark, so a pair is reported iff the two documents
  * arrive within `horizon` of each other — the streaming analogue of
  * incremental dedup where "the corpus" is a sliding window. (A full
  * corpus-history join needs the batch path:
  * [[graft.operators.Dedup.incrementalCandidatePairs]] against a banded
  * store.) The join condition carries BOTH the band equality (the real
  * key — the shuffle/state key, never a cross product) and the time bound
  * (what lets Spark evict state).
  *
  * Output: candidate pairs (id_a < id_b) with exact Jaccard ≥ `minJaccard`
  * verified from the shingle sets carried through the join — emitted as
  * soon as both sides have arrived.
  */
object StreamingDedup {

  /** `docs`: streaming DataFrame with (id, ts, text). */
  def nearDupPairs(docs: DataFrame, idCol: String, tsCol: String, textCol: String,
                   horizon: String = "1 hour", minJaccard: Double = 0.5,
                   shingleWidth: Int = 3): DataFrame = {
    val banded = docs
      .select(col(idCol), col(tsCol),
        graft.functions.TextFunctions.shingleHashes(col(textCol), shingleWidth).as("shh"))
      .withColumn("bands", Dedup.bandHashes(Dedup.minhashSignature(col("shh"))))
      .select(col(idCol), col(tsCol), col("shh"),
        posexplode(col("bands")).as(Seq("band", "bh")))

    val a = banded.withWatermark(tsCol, horizon)
      .select(col(idCol).as("id_a"), col(tsCol).as("ts_a"),
        col("shh").as("shh_a"), col("band").as("band_a"), col("bh").as("bh_a"))
    val b = banded.withWatermark(tsCol, horizon)
      .select(col(idCol).as("id_b"), col(tsCol).as("ts_b"),
        col("shh").as("shh_b"), col("band").as("band_b"), col("bh").as("bh_b"))

    a.join(b,
        col("band_a") === col("band_b") && col("bh_a") === col("bh_b") &&
          col("id_a") < col("id_b") &&
          col("ts_b") >= col("ts_a") - expr(s"INTERVAL $horizon") &&
          col("ts_b") <= col("ts_a") + expr(s"INTERVAL $horizon"))
      .withColumn("jaccard", Dedup.jaccard(col("shh_a"), col("shh_b")))
      .filter(col("jaccard") >= minJaccard)
      // a pair colliding in several bands appears once per band; streaming
      // cannot re-aggregate the append stream without another shuffle, so
      // dedup per (pair, band) is the consumer's dropDuplicates — batch
      // comparisons in specs do it on collect
      .select(col("id_a"), col("id_b"), col("band_a").as("band"), col("jaccard"))
  }

  /** Semantic (embedding-cosine) near-duplicate pairs on a VECTOR STREAM —
    * the streaming twin of [[graft.operators.Dedup.semanticDedup]]'s
    * candidate generation. The IVF coarse assignment is a STATELESS per-row
    * kernel over a constant centroid set
    * ([[graft.functions.NativeExpressions.ArgMaxCosine]] — the centroids
    * are a plan constant exactly like in batch, so assignment needs no
    * state, no join, no shuffle), which is what makes the semantic family
    * streamable at all: the only stateful operator is the watermarked
    * stream-stream self-join WITHIN a centroid list (state key = cen_id,
    * never a cross product), with the time bound evicting state.
    *
    * A pair is reported iff the two vectors share a nearest centroid,
    * arrive within `horizon` of each other, and have exact cosine ≥ `tau`
    * — the same tau-within-list contract as the batch operator over a
    * sliding corpus window.
    *
    * `vecs`: streaming DataFrame with (id, ts, embedding array<float>).
    * `cents`: driver-side centroid set (see
    * [[graft.operators.Similarity.collectCentroids]]).
    */
  def semanticDupPairs(vecs: DataFrame, idCol: String, tsCol: String,
                       embCol: String, cents: Seq[(Long, Seq[Double], Double)],
                       horizon: String = "1 hour", tau: Double = 0.9): DataFrame = {
    val prepared = vecs
      .select(col(idCol), col(tsCol), Dedup.toDoubleArray(col(embCol)).as("v"))
      .withColumn("nrm", Dedup.l2norm(col("v")))
      .filter(col("nrm") > 0.0) // cosine undefined for zero vectors
      .withColumn("cen_id",
        graft.functions.NativeExpressions.argMaxCosine(col("v"), col("nrm"), cents))

    val a = prepared.withWatermark(tsCol, horizon)
      .select(col(idCol).as("id_a"), col(tsCol).as("ts_a"), col("v").as("v_a"),
        col("nrm").as("nrm_a"), col("cen_id").as("cen_a"))
    val b = prepared.withWatermark(tsCol, horizon)
      .select(col(idCol).as("id_b"), col(tsCol).as("ts_b"), col("v").as("v_b"),
        col("nrm").as("nrm_b"), col("cen_id").as("cen_b"))

    a.join(b,
        col("cen_a") === col("cen_b") && col("id_a") < col("id_b") &&
          col("ts_b") >= col("ts_a") - expr(s"INTERVAL $horizon") &&
          col("ts_b") <= col("ts_a") + expr(s"INTERVAL $horizon"))
      .withColumn("cos", Dedup.cosine(col("v_a"), col("v_b"), col("nrm_a"), col("nrm_b")))
      .filter(col("cos") >= tau)
      .select(col("id_a"), col("id_b"), col("cen_a").as("cen_id"), col("cos"))
  }

  /** Streaming ANN serving: a STREAM of query vectors answered against a
    * STATIC prepared corpus — the online half of the IVF serving path.
    * Per arriving query: probe-list selection is the stateless in-scan
    * kernel (constant centroids, exactly as in batch), the probed lists
    * come in via a stream-static join (the static side is the
    * assigned corpus — at scale, the bucketed list table of
    * `src_ivf_bucketed`), and the per-query top-k is an UPDATE-mode
    * [[graft.operators.TopKAgg]] aggregation: O(k) state per query, and
    * the bounded merge law makes late-arriving candidates fold into the
    * standing answer instead of recomputing it. The final emission per
    * query equals the batch IVF answer — pinned by the stream==batch spec.
    *
    * `queries`: streaming (id, embedding array<float>); `corpus`: static
    * [[graft.operators.Similarity.prepare]]-shaped; returns one row per
    * (query, update) with the current top-k as array<struct<cos, vec_id>>.
    * Runs in complete OR update output mode (both spec-pinned: complete
    * re-emits the full standing state, update re-emits only the groups the
    * batch changed — the last update per query equals the batch answer).
    *
    * Scale note: a stream-static join re-plans the static side every
    * micro-batch, so at 100 TB the static side must not be a raw scan —
    * that regime is [[annServeBucketed]], which serves each micro-batch
    * from the bucketed list table via `foreachBatch` + the
    * literal-probe-id pruned read. This operator is the in-flight
    * (index-less) variant of the same continuous half.
    */
  def annServe(queries: DataFrame, idCol: String, embCol: String,
               corpus: DataFrame, cents: Seq[(Long, Seq[Double], Double)],
               nProbe: Int, k: Int): DataFrame = {
    import graft.operators.{Similarity, TopKAgg}
    val q = queries
      .select(col(idCol).as("query_id"), Dedup.toDoubleArray(col(embCol)).as("qv"))
      .withColumn("qnrm", Dedup.l2norm(col("qv")))
      .filter(col("qnrm") > 0.0)
      .withColumn("cen_id", explode(
        graft.functions.NativeExpressions.topNCosineIds(col("qv"), col("qnrm"), cents, nProbe)))
    val lists = Similarity.ivfAssignWith(corpus, cents)
    q.join(lists, "cen_id") // stream-static: only probed lists are scored
      .filter(col("vec_id") =!= col("query_id"))
      .withColumn("cos", Dedup.cosine(col("qv"), col("v"), col("qnrm"), col("nrm")))
      .groupBy(col("query_id"))
      .agg(TopKAgg.column(k, col("cos"), col("vec_id")).as("topk"))
  }

  /** Streaming ANN serving against the PERSISTED bucketed list table —
    * the 100 TB regime [[annServe]]'s scaladoc promises: the static side
    * is `src_ivf_bucketed`'s layout (assignment paid once at write), and
    * each micro-batch runs the literal-probe-id PRUNED read
    * ([[graft.operators.SimilarityQueries.probeListsPruned]]) instead of
    * re-planning a raw corpus scan per batch.
    *
    * Per micro-batch: probe-list selection is the stateless in-scan kernel
    * over the constant centroids; the (serving-regime tiny) probe rows are
    * collected once, yielding both the bucket-pruning literals and the
    * broadcast probe relation; the scan reads ONLY the buckets holding
    * probed lists (SelectedBucketsCount — pinned per batch by the
    * streaming spec); top-k per query via the bounded aggregate. Answers
    * equal the batch serving path row-for-row (stream==batch spec).
    *
    * `emit` receives each micro-batch's (lazy) result DataFrame
    * (query_id, rank, vec_id, cos) plus the batch id — the caller's sink
    * seam (write, table append, plan inspection in specs). Returns the
    * configured writer; caller `.start()`s it.
    */
  def annServeBucketed(queries: DataFrame, idCol: String, embCol: String,
                       tbl: String, cents: Seq[(Long, Seq[Double], Double)],
                       nProbe: Int, k: Int)(
      emit: (DataFrame, Long) => Unit):
      org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    queries.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      emit(graft.operators.SimilarityQueries.probeListsPruned(
        batch.sparkSession, tbl,
        collectProbeRows(batch, idCol, embCol, cents, nProbe), k), batchId)
    }
  }

  /** Streaming LATE-INTERACTION serving against the persisted maxsim
    * chunk table (`src_maxsim_bucketed`'s layout): each micro-batch of
    * query DOCUMENTS `(id, text)` is chunked and embedded by the SHARED
    * query front ([[graft.operators.SimilarityQueries.maxsimQueryChunks]]
    * — a stream batch and the batch query cannot tokenize differently),
    * then served through the SHARED multi-query probe body
    * ([[graft.operators.SimilarityQueries.maxsimProbeMulti]]): one
    * bounded probe collect per batch, one bucket- and literal-pruned scan,
    * per-query [[graft.operators.TopKAgg]] ranking. Answers equal the
    * batch serving path row-for-row (stream==batch spec). Emits
    * `(qdoc, rank, doc_id, maxsim_fp)` per batch. */
  def maxsimServeStream(queries: DataFrame, idCol: String, textCol: String,
      tbl: String, cents: Seq[(Long, Seq[Double], Double)], k: Int)(
      emit: (DataFrame, Long) => Unit):
      org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    queries.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      emit(graft.operators.SimilarityQueries.maxsimProbeMulti(
        batch.sparkSession, tbl,
        graft.operators.SimilarityQueries.maxsimQueryChunks(
          batch.select(col(idCol).as("doc_id"), col(textCol).as("text"))),
        cents, k), batchId)
    }
  }

  /** The shared per-batch probe-row collection of the persisted-index
    * serving paths ([[annServeBucketed]], [[annServePq]]): cast, zero-norm
    * filter (cosine is undefined there), nProbe nearest lists per query —
    * ONE driver roundtrip yielding both the bucket-pruning literals and
    * the broadcast probe relation. May be empty (a batch of only
    * zero-norm queries): the serving read then returns an empty result,
    * and `emit` still fires so batchId-keyed sinks see no holes. */
  private def collectProbeRows(batch: DataFrame, idCol: String, embCol: String,
      cents: Seq[(Long, Seq[Double], Double)], nProbe: Int):
      Seq[(Long, Seq[Double], Double, Long)] =
    graft.operators.Similarity.collectProbes(
      batch.select(col(idCol).as("vec_id"), Dedup.toDoubleArray(col(embCol)).as("v"))
        .withColumn("nrm", Dedup.l2norm(col("v")))
        .filter(col("nrm") > 0.0),
      cents, nProbe, "StreamingDedup.collectProbeRows")

  /** Streaming INDEX MAINTENANCE: continuous vector ingest into the
    * persisted bucketed IVF list table — the write half of the serving
    * story ([[annServeBucketed]] is the read half). Each micro-batch gets
    * its centroid assignment IN-SCAN (the quantizer is a plan constant —
    * no join, no shuffle beyond the bucketed write's own clustering), so
    * serving reads keep pruning mid-ingest, and after any prefix of
    * batches the table is row-identical to a full rebuild over the rows
    * ingested so far (spec-pinned).
    *
    * EXACTLY-ONCE under replay: foreachBatch is at-least-once — a
    * task/epoch failure or checkpoint restart re-runs a batch, and a blind
    * append would double its rows. Each batch therefore owns ONE table
    * partition (`ingest_batch` = the batchId Structured Streaming supplies
    * for exactly this purpose) and writes it in DYNAMIC partition-OVERWRITE
    * mode: a replay overwrites its own partition and touches nothing else,
    * so the write is idempotent per batch (spec-pinned by replaying a
    * batch). Partition dirs nest the bucket files; serving reads still
    * bucket-prune across partitions, and
    * [[graft.sources.Layouts.compactBucketed]] remains the periodic
    * small-files answer.
    */
  def ivfIngest(vectors: DataFrame, idCol: String, embCol: String, tbl: String,
                cents: Seq[(Long, Seq[Double], Double)], nBuckets: Int,
                codebook: Option[(Seq[Seq[Double]], Int)] = None):
      org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    vectors.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      ivfIngestBatch(batch, batchId, idCol, embCol, tbl, cents, nBuckets, codebook)
    }
  }

  /** The per-batch body of [[ivfIngest]], callable directly so a replayed
    * batchId is testable without faking a stream failure.
    *
    * `codebook` = Some((pqCodebook, m)) additionally PQ-encodes each vector
    * IN the same scan (`src_ivfpq_bucketed`'s column set), so the
    * maintained table is directly serveable by [[annServePq]] — codes are
    * a function of (v, constant codebook), so replay idempotence and the
    * rebuild equivalence hold exactly as in the uncoded path. */
  private[graft] def ivfIngestBatch(batch: DataFrame, batchId: Long,
      idCol: String, embCol: String, tbl: String,
      cents: Seq[(Long, Seq[Double], Double)], nBuckets: Int,
      codebook: Option[(Seq[Seq[Double]], Int)] = None): Unit = {
    val s = batch.sparkSession
    val prepared = batch
      .select(col(idCol).as("vec_id"), Dedup.toDoubleArray(col(embCol)).as("v"))
      .withColumn("nrm", Dedup.l2norm(col("v")))
      .filter(col("nrm") > 0.0)
    // assignment + optional encode stay IN-SCAN (both close over plan
    // constants); the select pins column order, which insertInto matches
    // positionally across batches
    val withCen = prepared.withColumn("cen_id",
      graft.functions.NativeExpressions.argMaxCosine(col("v"), col("nrm"), cents))
    val shaped = codebook match {
      case Some((cb, m)) => withCen
        .withColumn("codes", graft.functions.NativeExpressions.pqEncode(col("v"), cb, m))
        .select(col("vec_id"), col("cen_id"), col("codes"), col("v"), col("nrm"))
      case None => withCen.select(col("vec_id"), col("cen_id"), col("v"), col("nrm"))
    }
    val assigned = shaped.withColumn("ingest_batch", lit(batchId))
    if (!s.catalog.tableExists(tbl)) {
      assigned.write.partitionBy("ingest_batch")
        .bucketBy(nBuckets, "cen_id").sortBy("cen_id", "vec_id")
        .saveAsTable(tbl)
    } else {
      // dynamic overwrite replaces only this batch's partition, so a
      // replayed batch stays idempotent. Set on a child session (V1
      // insertInto ignores the writer option), so the caller's conf is left
      // alone; the caller's cached file listing of `tbl` is then refreshed,
      // as a write in its own session would have done.
      val dynamic = graft.Tables.scopedSession(s,
        "spark.sql.sources.partitionOverwriteMode" -> "dynamic")
      org.apache.spark.sql.GraftColumnBridge.ofRows(dynamic, assigned)
        .write.mode("overwrite").insertInto(tbl)
      s.catalog.refreshTable(tbl)
    }
  }

  /** Streaming ANN serving against the COMPRESSED persisted index — the
    * [[annServeBucketed]] shape over the PQ-coded table of
    * `src_ivfpq_bucketed`: each micro-batch's coarse ADC pass reads the
    * table bucket-pruned (probed lists only) AND column-pruned (the
    * m-byte codes + norm; the full-vector column never deserializes for
    * losers), then rescores only the surviving candidates exactly. The
    * per-batch read is [[graft.operators.SimilarityQueries.probePqLists]]
    * — identical to the batch serving body, so stream==batch holds by
    * construction and is spec-pinned anyway.
    */
  def annServePq(queries: DataFrame, idCol: String, embCol: String,
                 tbl: String, cents: Seq[(Long, Seq[Double], Double)],
                 codebook: Seq[Seq[Double]], m: Int, nProbe: Int,
                 candidates: Int, k: Int)(
      emit: (DataFrame, Long) => Unit):
      org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    queries.writeStream.foreachBatch { (batch: DataFrame, batchId: Long) =>
      emit(graft.operators.SimilarityQueries.probePqLists(
        batch.sparkSession, tbl, codebook, m,
        collectProbeRows(batch, idCol, embCol, cents, nProbe),
        candidates, k), batchId)
    }
  }

  /** N-gram novelty of a DOCUMENT STREAM against a static base shingle
    * set — the streaming arm of `pipeline_ngram_novelty` (crawl triage
    * scoring docs as they arrive instead of nightly). The shingle kernel
    * is stateless per row; membership is a stream-STATIC left_anti join
    * (the base set is a fixed snapshot — no stream state at all), so
    * micro-batch boundaries provably cannot move any value: stream ==
    * batch by construction, pinned by the spec anyway.
    *
    * Emits (doc_id, n_shingles, n_novel) keyed per doc; a doc whose
    * every shingle is known produces NO row (its exploded rows all die in
    * the anti-join) — the sink joins back against the arrived-doc log and
    * coalesces to 0, exactly as the batch query's left join does.
    * Aggregation is per-doc with no watermark: run in complete/update
    * mode, or wrap in foreachBatch for append sinks. */
  def noveltyStream(docs: DataFrame, baseShh: DataFrame): DataFrame = {
    val shh = graft.functions.TextFunctions.shingleHashes(
      col("text"), graft.operators.TrainingDataQueries.SubstrNgram)
    docs
      .select(col("doc_id"),
        size(shh).cast(org.apache.spark.sql.types.LongType).as("n_shingles"),
        explode(shh).as("sh"))
      .join(baseShh, Seq("sh"), "left_anti")
      .groupBy(col("doc_id"), col("n_shingles"))
      .agg(count(lit(1)).as("n_novel"))
  }
}
