package graft.operators

import org.apache.spark.sql.{DataFrame, Encoders, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType

/** Sequence packing and context-length chunking — the operators that turn a
  * deduped document corpus into fixed-budget training sequences.
  *
  *  - [[chunks]]: split each document into `chunkTokens`-sized windows.
  *    Pure per-row arithmetic (posexplode over a sequence) — embarrassingly
  *    parallel, runs inside the scan at any corpus size.
  *  - [[globalCumSum]]: exclusive prefix sum of a value column over a total
  *    order, WITHOUT a single-task global window. Same scale shape as
  *    `PU.globalRankByScore`: range-partition on the order (each task sorts
  *    only its slice), aggregate per-partition totals (tiny — one row per
  *    partition — collected and broadcast), then a zero-shuffle
  *    per-partition pass adds each partition's offset to its local running
  *    total. The per-partition pass is `mapPartitions` — genuine sequential
  *    per-partition logic, the one place the build brief sanctions it.
  *  - [[packAssignments]]: concat-and-cut packing on top of the prefix sum —
  *    documents are laid head-to-tail in the total order and cut every
  *    `packTokens`; a document starts in pack `cum_before div packTokens`
  *    at offset `cum_before mod packTokens` (it may straddle into the next
  *    pack, exactly like an LLM pretraining packer that cuts mid-document).
  *
  * The reference (ispras/pu4spark) has no packing surface (SURVEY.md §2.3);
  * north-star training-pipeline operators.
  */
object Packing {

  /** (docId, chunk_id, chunk_len) for every `chunkTokens`-sized window of
    * each document; documents with zero tokens produce no chunks. */
  def chunks(df: DataFrame, idCol: String, nTokensCol: String,
             chunkTokens: Int): DataFrame = {
    require(chunkTokens >= 1, s"chunkTokens must be >= 1, got $chunkTokens")
    val n = col(nTokensCol).cast(LongType)
    val nChunks = (n + (chunkTokens - 1)) div chunkTokens
    df.filter(n > 0L)
      .select(col(idCol), n.as(nTokensCol),
        posexplode(sequence(lit(0L), nChunks - 1L)).as(Seq("chunk_id", "_c")))
      .select(col(idCol), col(nTokensCol), col("chunk_id").cast(LongType).as("chunk_id"),
        least(lit(chunkTokens.toLong), n - col("chunk_id") * chunkTokens).as("chunk_len"))
  }

  private[operators] implicit class DivOps(val c: org.apache.spark.sql.Column) extends AnyVal {
    /** Integer division (SQL `div`) — `/` on longs is double division. */
    def div(d: Long): org.apache.spark.sql.Column = call_function("div", c, lit(d))
    def div(d: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      call_function("div", c, d)
  }

  /** Append `outCol` = exclusive prefix sum of `valueCol` (must be
    * non-negative longs) in ascending `orderCol` order. Three parallel
    * stages, no global window: range exchange, per-partition totals
    * (collected: one long per partition), per-partition accumulate with the
    * broadcast offsets.
    */
  def globalCumSum(df: DataFrame, orderCol: String, valueCol: String,
                   outCol: String): DataFrame = {
    val spark = df.sparkSession
    // materialize (an eager checkpoint), NOT persist: the pinned graft_pid
    // column is only trustworthy while the materialized blocks survive. With
    // persist, a lost cache block is silently recomputed from lineage inside
    // the downstream stage's task, where spark_partition_id() re-evaluates
    // to the STAGE-local index — corrupting the offset lookup without any
    // error. Truncated lineage turns block loss into a loud job failure
    // instead of a wrong cumsum.
    val ordered = graft.CheckpointUtil.materialize(df
      .withColumn(valueCol, col(valueCol).cast(LongType))
      .repartitionByRange(col(orderCol))
      .sortWithinPartitions(col(orderCol))
      .withColumn("graft_pid", spark_partition_id()))._1
    val sizes = ordered.groupBy(col("graft_pid"))
      .agg(sum(col(valueCol)).as("s"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val nParts = if (sizes.isEmpty) 0 else sizes.keys.max + 1
    val offsets = (0 until nParts).scanLeft(0L) { (acc, pid) =>
      acc + sizes.getOrElse(pid, 0L)
    }.toArray
    val offsetsB = spark.sparkContext.broadcast(offsets)
    val inSchema = ordered.schema
    val valueIdx = inSchema.fieldIndex(valueCol)
    val pidIdx = inSchema.fieldIndex("graft_pid")
    val outSchema = inSchema.add(outCol, LongType, nullable = false)
    // Zero-shuffle sequential pass over the cached, already-sorted
    // partitions. The offset is looked up by the PINNED graft_pid column,
    // NOT TaskContext.getPartitionId(): the task's stage-local partition
    // index shifts whenever a downstream plan composes this result (e.g. a
    // union re-indexes both children 0..n1+n2), while the column value was
    // fixed at the range exchange the totals were keyed by.
    val out = ordered.mapPartitions { it =>
      if (!it.hasNext) Iterator.empty
      else {
        val buf = it.buffered
        var acc = offsetsB.value(buf.head.getInt(pidIdx))
        buf.map { r =>
          val before = acc
          acc += r.getLong(valueIdx)
          Row.fromSeq(r.toSeq :+ before)
        }
      }
    }(Encoders.row(outSchema))
    out.drop("graft_pid")
  }

  /** (everything in `df`) + pack_id / pack_offset from concat-and-cut
    * packing at `packTokens` per sequence, in ascending `orderCol` order.
    * `base` shifts every cumulative position by a constant — the
    * APPEND-ONLY ingest hook: when a batch's keys all sort after the
    * standing corpus, packing the batch at base = the standing token
    * total reproduces exactly the spans a full repack would give the
    * batch (the prefix sum of an ordered union decomposes), so daily
    * ingest packs only its batch. */
  def packAssignments(df: DataFrame, orderCol: String, nTokensCol: String,
                      packTokens: Long, base: Long = 0L): DataFrame = {
    require(packTokens >= 1, s"packTokens must be >= 1, got $packTokens")
    require(base >= 0, s"base token offset must be >= 0, got $base")
    globalCumSum(df, orderCol, nTokensCol, "cum_raw")
      .withColumn("cum_before", col("cum_raw") + base).drop("cum_raw")
      .withColumn("pack_id", col("cum_before") div packTokens)
      .withColumn("pack_offset", pmod(col("cum_before"), lit(packTokens)))
  }

  /** Per-pack document SPANS from concat-and-cut packing — the
    * loss-mask / attention-boundary manifest a pretraining consumer needs:
    * for every pack, `(pack_id, doc_id, token_start, token_end)` with
    * pack-local half-open token coordinates, so cross-document attention
    * can be masked at the (FlashAttention-varlen-style) document
    * boundaries. A document starting in pack p at offset o with n tokens
    * intersects packs p .. p + (o+n-1) div packTokens; its k-th span
    * covers [o if k=0 else 0, min(packTokens, o + n − k·packTokens)).
    * Zero-token documents emit no span, and spans TILE each pack exactly —
    * no overlap, no gap (PackSpansSpec). Pure per-row explode on top of
    * [[packAssignments]]'s prefix sum: the span emission is scan-shaped,
    * no additional shuffle at any corpus size. */
  def packSpans(df: DataFrame, orderCol: String, nTokensCol: String,
                packTokens: Long, base: Long = 0L): DataFrame = {
    val n = col(nTokensCol)
    val lastK = (col("pack_offset") + n - 1L) div packTokens
    packAssignments(df, orderCol, nTokensCol, packTokens, base)
      .filter(n > 0L)
      .select(col(orderCol), n.as(nTokensCol), col("pack_id"), col("pack_offset"),
        explode(sequence(lit(0L), lastK)).as("k"))
      .select(
        (col("pack_id") + col("k")).as("pack_id"),
        col(orderCol),
        when(col("k") === 0L, col("pack_offset")).otherwise(lit(0L))
          .as("token_start"),
        least(lit(packTokens),
          col("pack_offset") + n - col("k") * packTokens).as("token_end"))
  }
}
