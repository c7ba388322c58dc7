package graft.pu

import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables

/** Convenience entry points around the PU learners. */
object PU {

  /** Deterministic PU-labeling of the embeddings table (SURVEY.md §7.2):
    * rows of `posClass` with even vec_id become observed positives (1); the
    * odd-vec_id half of `posClass` is masked to unlabeled (0) along with all
    * other classes — those masked rows are the known-positive holdout for
    * separation assertions. Features: `embedding list<float>` →
    * `ml.linalg.Vector` via `array_to_vector`.
    */
  def puEmbeddings(spark: SparkSession, sfDir: String, posClass: Int = 5): DataFrame =
    // deliberately NOT spread (r16 measured): an ML fit pins its input
    // partitioning into every LBFGS/RF iteration JOB, so task dispatch
    // scales with iterations × partitions while per-task compute shrinks —
    // at fixture scale the dispatch dominates (spread-8 doubled every LR
    // query). A real multi-split corpus parallelizes at the scan.
    Tables.embeddings(spark, sfDir)
      .withColumn("puLabel",
        when(col("label") === posClass && col("vec_id") % 2 === 0, 1).otherwise(0))
      .withColumn("holdoutPos",
        col("label") === posClass && col("vec_id") % 2 === 1)
      .withColumn("features", array_to_vector(col("embedding")))

  /** PU-labeled documents — the reference's original use case (Liu et al.
    * 2002 is a *text* PU paper; the reference README assembles text features
    * caller-side, README.md:74-89). Pipeline: Tokenizer → HashingTF → IDF →
    * features. Positive class: docs containing `posToken` (default "dup",
    * the planted near-duplicate marker, ~5% of the corpus — a realistic PU
    * rate); even doc_ids of that class are observed positives, odd ones are
    * masked to unlabeled and flagged `holdoutPos` for separation checks.
    *
    * Scale: tokenize/hash/IDF are map-side; IDF.fit is one aggregation over
    * the corpus. numFeatures=1024 keeps vectors sparse and fits far larger
    * vocabularies by hashing.
    */
  def puDocuments(spark: SparkSession, sfDir: String,
                  posToken: String = "dup"): DataFrame = {
    import org.apache.spark.ml.feature.{HashingTF, IDF, Tokenizer}
    // deliberately NOT spread — same iteration-job measurement as
    // puEmbeddings (LBFGS dispatch dominates at fixture scale)
    val docs = Tables.documents(spark, sfDir)
    val toks = new Tokenizer().setInputCol("text").setOutputCol("toks")
      .transform(docs)
    val tf = new HashingTF().setInputCol("toks").setOutputCol("tf")
      .setNumFeatures(1024).transform(toks)
    val feat = new IDF().setInputCol("tf").setOutputCol("features")
      .fit(tf).transform(tf)
    feat
      .withColumn("isPos", array_contains(col("toks"), posToken))
      .withColumn("puLabel",
        when(col("isPos") && col("doc_id") % 2 === 0, 1).otherwise(0))
      .withColumn("holdoutPos", col("isPos") && col("doc_id") % 2 === 1)
      .drop("toks", "tf")
  }

  /** Rank-by-score output mode — the reference's build.gradle:118-119 pulls
    * in spark-hive "for ranking by windows", a vestige of planned
    * functionality that never shipped (SURVEY.md §2.3); provided here via a
    * plain window, no Hive involved.
    *
    * NOTE scale: an unpartitioned window is a single-task sort. Fine for
    * top-of-ranking inspection at any scale IF preceded by a score filter;
    * for full-corpus ranking use [[globalRankByScore]].
    */
  def rankByScore(df: DataFrame, scoreCol: String, tieBreak: Column,
                  rankCol: String = "rank"): DataFrame =
    df.withColumn(rankCol,
      row_number().over(Window.orderBy(col(scoreCol).desc, tieBreak)))

  /** Full-corpus global rank WITHOUT the single-task sort: range-partition
    * on the rank order (every task sorts only its slice), count each
    * partition, and add broadcast per-partition offsets to the within-
    * partition row numbers. Two jobs (the count pass, then the ranked
    * output) but every stage is parallel — the 100 TB shape the plain
    * window can't reach. Rank values are independent of where the range
    * boundaries land, because offsets come from the actual partition sizes.
    * `tieBreak` must be unique for a deterministic total order.
    */
  def globalRankByScore(df: DataFrame, scoreCol: String, tieBreak: Column,
                        rankCol: String = "rank"): DataFrame =
    globalRankByOrder(df, Seq(col(scoreCol).desc, tieBreak), rankCol)

  /** [[globalRankByScore]] generalized to an arbitrary ordering column
    * list (e.g. group-major composite orders like `lang ASC, score DESC,
    * id ASC`, from which a per-group rank falls out by subtracting the
    * group's broadcast min-rank). The order must be total — include a
    * unique tie-break column — or ranks within ties are nondeterministic. */
  def globalRankByOrder(df: DataFrame, order: Seq[Column],
                        rankCol: String = "rank"): DataFrame = {
    // Pin the range-partition id as a REAL column right after the
    // exchange: spark_partition_id() is physical, so re-evaluating it
    // after any later exchange would read the wrong partition. The count
    // pass and the ranked output must see ONE execution of the range
    // exchange — and materialize (an eager checkpoint), NOT persist:
    // graft_pid and the monotonically_increasing_id record numbers are only
    // trustworthy while the materialized blocks survive — with persist, a
    // lost cache block would be silently recomputed inside the downstream
    // stage's task, where spark_partition_id() re-evaluates to the
    // STAGE-local index and the offset lookup goes wrong without any error. Truncated lineage
    // turns block loss into a loud job failure instead of a wrong rank.
    // (Tracked: freed at the caller's next releaseStragglers.)
    val ordered = graft.CheckpointUtil.materialize(df
      .repartitionByRange(order: _*)
      .sortWithinPartitions(order: _*)
      .withColumn("graft_pid", spark_partition_id()))._1
    val sizes = ordered
      .groupBy(col("graft_pid"))
      .agg(count(lit(1)).as("n"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    // the record-number field of monotonically_increasing_id is 33 bits;
    // a fatter range partition would silently wrap recNo — fail loudly
    // (at real scale: raise spark.sql.shuffle.partitions, don't rank >8.6B
    // rows through one partition)
    require(sizes.values.forall(_ <= (1L << 33)),
      s"range partition exceeds 2^33 rows; increase partition count (sizes=${sizes.values.max})")
    val nParts = if (sizes.isEmpty) 0 else sizes.keys.max + 1
    val offsets = (0 until nParts).scanLeft(0L) { (acc, pid) =>
      acc + sizes.getOrElse(pid, 0L)
    }.toArray // offsets(pid) = rows in partitions before pid
    // Within-partition row numbers WITHOUT a window: the partitions are
    // already sorted, and monotonically_increasing_id encodes
    // (partitionId << 33) | recordNumber in iteration (= sorted) order —
    // so the record number is the row number, and no second exchange (a
    // window by pid would hash-shuffle the whole corpus again) is needed.
    val recNo = monotonically_increasing_id()
      .bitwiseAND(lit((1L << 33) - 1))
    val offsetCol = element_at(lit(offsets), (col("graft_pid") + 1).cast("int"))
    ordered
      .withColumn(rankCol, offsetCol + recNo + lit(1L))
      .drop("graft_pid")
  }
}
