package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.pu._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Each entry in [[queries]] is one operator from SURVEY.md §2 (reference
  * surface re-expressed Spark-first) or a north-star extension
  * (dedup / similarity / text analysis / multimodal). Where the result is
  * ANSI-SQL-expressible there is a matching [[oracleSql]] entry the driver
  * runs in DuckDB over the same parquet tables; ML-backed queries have no
  * oracle (rows-only check) — their *relational skeleton* is oracle-checked
  * separately via deterministic stub scores (SURVEY.md §5.2 item 2).
  *
  * Float discipline for hash-exact oracle parity: money sums are computed
  * over `DECIMAL`-cast inputs (exact arithmetic on both engines) and cast
  * back to double at the end; every oracle query has a deterministic total
  * ORDER BY; no raw timestamp columns in outputs (parquet flavor mismatch).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("pu_traditional_lr")(spark, "/root/testdata/sf0.001")

  // Money columns carry 2 decimals (FIXTURES.md); DECIMAL(18,2) is exact.
  private def dec(c: String): Column = col(c).cast(DecimalType(18, 2))

  /** Deterministic stub classifier score for oracle-checking the PU
    * relational skeleton without ML nondeterminism: (vec_id mod 97) / 96.0.
    */
  private val stubScore: Column = (col("vec_id") % 97).cast(DoubleType) / lit(96.0)
  private val stubScoreSql = "(vec_id % 97) / 96.0"

  /** PU-labeled embeddings (see [[graft.pu.PU.puEmbeddings]]); SQL twin of
    * the labeling is inlined in the oracle strings below.
    */
  private def puEmb(s: SparkSession, dir: String): DataFrame = PU.puEmbeddings(s, dir)

  /** PU rows whose feature vector is exactly the deterministic stub score —
    * the seam that makes the full loops oracle-checkable: the shifting stub
    * model scores clamp01(features(0) + k*delta), so with features(0) =
    * stubScore the whole iteration is a closed-form function of
    * (vec_id, refit count).
    */
  private def puStubFeatures(s: SparkSession, dir: String): DataFrame =
    puEmb(s, dir).select(col("vec_id"), col("puLabel"),
      org.apache.spark.ml.functions.array_to_vector(array(stubScore)).as("features"))

  /** Shifting stub wired to the learners' internal column names, same as
    * the real classifier configs (ProbabilisticClassifierConfig). */
  private def stubClassifier(delta: Double): ShiftingStubClassifier =
    new ShiftingStubClassifier(delta)
      .setLabelCol(ProbabilisticClassifierConfig.labelName)
      .setFeaturesCol(ProbabilisticClassifierConfig.featuresName)

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    coreQueries ++ graft.functions.TextQueries.queries ++
      graft.operators.DedupQueries.queries ++
      graft.operators.TrainingDataQueries.queries ++
      graft.operators.CurationPipeline.queries ++
      graft.operators.SimilarityQueries.queries ++
      graft.operators.RelationalQueries.queries ++
      graft.operators.MultimodalQueries.queries ++
      graft.sources.SourceQueries.queries ++
      graft.streaming.StreamingQueries.queries

  private def coreQueries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // ============================================================
    // Core reference surface: PU learning (SURVEY §2.1 O12-O17).
    // ML-backed -> rows-only driver check; skeleton oracled below.
    // ============================================================
    "pu_zerostep_lr" -> ((s, dir) => {
      val learner = new TraditionalPULearner(0.5, 0, LogisticRegressionConfig().build())
      // maxIters=0 => pure zeroStep semantics via weight's loop not entering
      learner.weight(puEmb(s, dir).select("vec_id", "puLabel", "features"),
          "puLabel", "features", "score")
        .select(col("vec_id"), col("score")).orderBy("vec_id")
    }),
    "pu_traditional_lr" -> ((s, dir) => {
      val learner = TraditionalPULearnerConfig(0.5, 3, LogisticRegressionConfig()).build()
      learner.weight(puEmb(s, dir).select("vec_id", "puLabel", "features"),
          "puLabel", "features", "score")
        .select(col("vec_id"), col("score")).orderBy("vec_id")
    }),
    "pu_gradreduction_lr" -> ((s, dir) => {
      val learner = GradualReductionPULearnerConfig(0.5, LogisticRegressionConfig()).build()
      learner.weight(puEmb(s, dir).select("vec_id", "puLabel", "features"),
          "puLabel", "features", "score")
        .select(col("vec_id"), col("score")).orderBy("vec_id")
    }),
    // Liu-2002 text use case: TF-IDF features from documents, PU-weighted.
    "pu_text_lr" -> ((s, dir) => {
      val learner = TraditionalPULearnerConfig(0.5, 1, LogisticRegressionConfig()).build()
      learner.weight(PU.puDocuments(s, dir).select("doc_id", "puLabel", "features"),
          "puLabel", "features", "score")
        .select(col("doc_id"), col("score")).orderBy("doc_id")
    }),
    "pu_gradreduction_rf" -> ((s, dir) => {
      val learner = GradualReductionPULearnerConfig(0.5, RandomForestConfig(numTrees = 32)).build()
      learner.weight(puEmb(s, dir).select("vec_id", "puLabel", "features"),
          "puLabel", "features", "score")
        .select(col("vec_id"), col("score")).orderBy("vec_id")
    }),
    "pu_traditional_rf" -> ((s, dir) => {
      val learner = TraditionalPULearnerConfig(0.5, 1, RandomForestConfig(numTrees = 32)).build()
      learner.weight(puEmb(s, dir).select("vec_id", "puLabel", "features"),
          "puLabel", "features", "score")
        .select(col("vec_id"), col("score")).orderBy("vec_id")
    }),

    // Global rank over deterministic stub scores via the scale-path
    // operator (range partition + offsets — no single-task sort); the
    // oracle is the plain window formulation, proving result equality.
    "pu_rank_by_score" -> ((s, dir) => {
      import graft.pu.PU
      val scored = puEmb(s, dir)
        .select(col("vec_id"), stubScore.as("score"))
      PU.globalRankByScore(scored, "score", col("vec_id"))
        .select(col("vec_id"), col("score"), col("rank"))
        .orderBy("rank")
    }),

    // ============================================================
    // FULL PU loops under the shifting stub classifier — the complete
    // O16/O17 iterated recurrence (thresholds, rotation, early exit,
    // 3-term convergence) with hash-exact DuckDB twins (the twins
    // unroll the loop iteration by iteration, gates included).
    // ============================================================
    "pu_traditional_stub" -> ((s, dir) => {
      // delta<0: each refit lowers scores, converting a fresh band per
      // iteration — all 3 iterations of the Traditional loop execute
      val learner = new TraditionalPULearner(0.5, 3, stubClassifier(-0.125))
      val out = learner.weight(puStubFeatures(s, dir), "puLabel", "features", "score")
      // early exit returns before the rotate, so the final ternary label
      // is curLabel there and prevLabel after a full run
      val labelCol = if (out.columns.contains("curLabel")) "curLabel" else "prevLabel"
      out.select(col("vec_id"), col("score"),
          col(labelCol).cast(IntegerType).as("pu_final"))
        .orderBy("vec_id")
    }),
    "pu_gradreduction_stub" -> ((s, dir) => {
      // delta>0: each refit raises scores, promoting reliable negatives
      // back to undefined — the gradual-reduction path + convergence
      // (exits body 2 via the curGain < prevGain term at sf0.01)
      val learner = new GradualReductionPULearner(0.5, stubClassifier(0.125))
      val out = learner.weight(puStubFeatures(s, dir), "puLabel", "features", "score")
      out.select(col("vec_id"), col("score"),
          col("curLabel").cast(IntegerType).as("pu_final"))
        .orderBy("vec_id")
    }),
    "pu_traditional_stub_exit" -> ((s, dir) => {
      // delta=0: refits never move scores, so iteration 2 converts nothing
      // and the loop takes the EARLY-EXIT return (before rotation — the
      // output still carries curLabel), the path pu_traditional_stub's
      // full run never reaches
      val learner = new TraditionalPULearner(0.5, 3, stubClassifier(0.0))
      val out = learner.weight(puStubFeatures(s, dir), "puLabel", "features", "score")
      out.select(col("vec_id"), col("score"),
          col("curLabel").cast(IntegerType).as("pu_final"))
        .orderBy("vec_id")
    }),
    "pu_gradreduction_stub_fast" -> ((s, dir) => {
      // delta=0.5: the first refit promotes every reliable negative back to
      // undefined, so body 1's convergence test fails on the
      // totalPos < totalRelNeg term — the remaining untested exit path
      val learner = new GradualReductionPULearner(0.5, stubClassifier(0.5))
      val out = learner.weight(puStubFeatures(s, dir), "puLabel", "features", "score")
      out.select(col("vec_id"), col("score"),
          col("curLabel").cast(IntegerType).as("pu_final"))
        .orderBy("vec_id")
    }),

    // ============================================================
    // PU relational skeleton with deterministic stub scores —
    // oracle-checkable twins of the ML queries (SURVEY §5.2 item 2).
    // ============================================================

    // O7 + O2: {1->1, else->-1} recode (replaceZerosByUndefLabel)
    "pu_replace_zeros" -> ((s, dir) => {
      PUExpressions.replaceZerosByUndefLabel(
          puEmb(s, dir).select(col("vec_id"), col("puLabel")),
          "puLabel", "prev_label", PUExpressions.undefLabel)
        .orderBy("vec_id")
    }),

    // O10/O11: binarize threshold (both labelToConsider variants)
    "pu_skeleton_binarize" -> ((s, dir) => {
      val base = puEmb(s, dir).select(col("vec_id"), col("puLabel"))
        .withColumn("score", stubScore)
      val prev = when(col("puLabel") === 1, 1).otherwise(-1)
      // the relneg variant gets a prev label that is relNeg (0) for
      // unlabeled rows and pos (1) for positives, so BOTH branches of the
      // GradualReduction binarize run: positives keep their label, the
      // relNeg band re-thresholds. (A constant lit(0) prev would be
      // degenerate AND build the trivially-true `0 == 0` predicate Spark
      // warns about in every log.)
      val prevRelneg = when(col("puLabel") === 1, 1).otherwise(0)
      base
        .withColumn("cur_undef",
          PUExpressions.binarize(col("score"), prev, 0.5, PUExpressions.undefLabel))
        .withColumn("cur_relneg",
          PUExpressions.binarize(col("score"), prevRelneg, 0.5, PUExpressions.relNegLabel))
        .select("vec_id", "score", "cur_undef", "cur_relneg")
        .orderBy("vec_id")
    }),

    // O5 fused: one-pass iteration metrics (the 4-count fusion)
    "pu_skeleton_metrics" -> ((s, dir) => {
      val base = puEmb(s, dir).select(col("vec_id"), col("puLabel"))
        .withColumn("prev", when(col("puLabel") === 1, 1).otherwise(-1))
        .withColumn("cur", PUExpressions.binarize(stubScore, col("prev"), 0.5))
      val ms = PUExpressions.iterMetricCols("prev", "cur")
      base.agg(ms.head, ms.tail: _*)
        .toDF("new_relneg", "total_pos", "total_relneg", "total_undef")
    }),

    // O8: label indexing cast (metadata attach is Spark-side only)
    "pu_index_label" -> ((s, dir) => {
      PUExpressions.indexLabelColumn(
          puEmb(s, dir).select(col("vec_id"), col("puLabel")),
          "puLabel", "label_indexed", Seq("0", "1"))
        .select(col("vec_id"), col("label_indexed"))
        .orderBy("vec_id")
    }),

    // O9: P(class1) extraction as native element_at (vs reference UDF);
    // demonstrated on the raw embedding array (same expression shape).
    "prob_extract" -> ((s, dir) => {
      Tables.embeddings(s, dir)
        .select(col("vec_id"),
          element_at(col("embedding"), 2).cast(DoubleType).as("p_one"))
        .orderBy("vec_id")
    }),

    // ============================================================
    // Relational surface the reference delegates to Spark
    // (SURVEY §2.1 O1-O8 / §2.3 window vestige).
    // ============================================================
    "q_agg_pricing_summary" -> ((s, dir) => {
      Tables.lineitem(s, dir)
        .filter(col("l_shipdate") < lit("2000-01-01").cast(TimestampNTZType))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          sum(col("l_quantity").cast(DecimalType(18, 2))).cast(DoubleType).as("sum_qty"),
          sum(dec("l_extendedprice")).cast(DoubleType).as("sum_base_price"),
          sum(dec("l_extendedprice") * (lit(BigDecimal(1)).cast(DecimalType(18, 2)) - dec("l_discount")))
            .cast(DoubleType).as("sum_disc_price"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    })
  )

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    coreOracles ++ graft.functions.TextQueries.oracles ++
      graft.operators.DedupQueries.oracles ++
      graft.operators.TrainingDataQueries.oracles ++
      graft.operators.CurationPipeline.oracles ++
      graft.operators.SimilarityQueries.oracles ++
      graft.operators.RelationalQueries.oracles ++
      graft.operators.MultimodalQueries.oracles ++
      graft.sources.SourceQueries.oracles ++
      graft.streaming.StreamingQueries.oracles

  // SQL twin of PU.puEmbeddings' deterministic labeling
  private val puLabelSql = "CASE WHEN label = 5 AND vec_id % 2 = 0 THEN 1 ELSE 0 END"

  /** Shifted stub score after k refits, mirroring ShiftingStubModel's
    * clamp01(f0 + k*delta) operation order bit-for-bit. */
  private def stubShiftSql(k: Int, delta: Double): String =
    s"LEAST(1.0, GREATEST(0.0, f0 + ($k * $delta)))"

  /** The Traditional-loop unroll over an arbitrary base relation: `baseSql`
    * must yield ($idCol, l0, f0) — seed ternary label and the stub's base
    * score. Returns the UNORDERED final select (id, score, pu_final);
    * callers append ORDER BY / extra columns. Shared by the embeddings
    * oracle below and the pipeline-quality-model twin
    * ([[graft.operators.CurationPipeline]]), so the loop's unroll logic
    * cannot fork. */
  private[graft] def traditionalStubUnroll(theta: Double, delta: Double, maxIters: Int,
                                           baseSql: String, idCol: String): String = {
    def s(k: Int) = stubShiftSql(k, delta)
    var q = baseSql
    for (m <- 1 to maxIters) {
      val gate = if (m == 1) "" else s"WHEN n${m - 1} = 0 THEN l${m - 1} "
      q = s"""SELECT *,
             |  CASE ${gate}WHEN l${m - 1} = -1 THEN (CASE WHEN ${s(m - 1)} < $theta THEN 0 ELSE -1 END)
             |       ELSE l${m - 1} END AS l$m
             |FROM ($q)""".stripMargin
      q = s"""SELECT *,
             |  COUNT(CASE WHEN l${m - 1} = -1 AND l$m = 0 THEN 1 END) OVER () AS n$m
             |FROM ($q)""".stripMargin
    }
    val scoreCase = (1 to maxIters)
      .map(m => s"WHEN n$m = 0 THEN ${s(m - 1)}")
      .mkString(" ")
    s"""SELECT $idCol,
       |  CASE $scoreCase ELSE ${s(maxIters)} END AS score,
       |  CAST(l$maxIters AS INTEGER) AS pu_final
       |FROM ($q)""".stripMargin
  }

  /** DuckDB twin of the FULL Traditional PU loop (O16) under the shifting
    * stub: the loop unrolls into a LINEAR chain of nested subqueries — two
    * levels per iteration m: one computes the binarize rotation l_m, the
    * next the newRelNeg metric n_m as a `COUNT(...) OVER ()` window column —
    * with each iteration gated on the previous one's early-exit test exactly
    * like the driver loop. Once some n_m = 0 the labels freeze (the gate
    * propagates), so the unroll is exact for every exit path. Score output
    * is the score as of the LAST refit actually performed (early exit
    * returns before the refit, full runs refit after every iteration).
    *
    * Linear nesting (each level referenced exactly once) is load-bearing:
    * a CTE formulation where level m references level m-1 several times
    * (gate + FROM + count) re-inlines the chain exponentially in DuckDB.
    */
  private def traditionalStubSql(theta: Double, delta: Double, maxIters: Int): String =
    traditionalStubUnroll(theta, delta, maxIters,
      s"""SELECT vec_id, CASE WHEN ($puLabelSql) = 1 THEN 1 ELSE -1 END AS l0,
         |       (vec_id % 97) / 96.0 AS f0
         |FROM embeddings""".stripMargin, "vec_id") + " ORDER BY vec_id"

  /** DuckDB twin of the FULL PU-LEA / GradualReduction loop (O17) under the
    * shifting stub. Entry thresholding, then one unrolled do-while body per
    * j — inner re-thresholding of reliable negatives at the refit-j score,
    * gated on the previous body's three-term convergence test
    * `curGain > 0 && curGain < prevGain && totalPos < totalRelNeg`.
    * All counts are `COUNT(...) OVER ()` window columns carried along a
    * LINEAR chain of nested subqueries (three levels per body: labels,
    * relneg count, convergence flag) — each level referenced exactly once,
    * because a multi-reference CTE formulation re-inlines exponentially in
    * DuckDB. The driver's `prevGain = Long.MaxValue` seed makes the
    * `curGain < prevGain` term vacuous at body 1, so c1 drops it. Labels
    * freeze once a gate fails (frozen labels give curGain = 0, so later
    * gates stay false) — the unroll is exact for every exit path. `unroll`
    * must exceed the structural bound ceil(theta/delta)+1 on executed
    * bodies.
    */
  /** The GradualReduction unroll over an arbitrary base relation —
    * [[traditionalStubUnroll]]'s sibling for the reference's SECOND
    * algorithm (O17). `baseSql` must yield ($idCol, l0, f0); returns the
    * UNORDERED final select (id, score, pu_final). Shared by the
    * embeddings oracle below and the PU-LEA-gated pipeline twin
    * ([[graft.operators.CurationPipeline]]), so the do-while's unroll
    * logic cannot fork. `unroll` must exceed the structural bound
    * ceil(theta/delta)+1 on executed bodies. */
  private[graft] def gradReductionUnroll(theta: Double, delta: Double, unroll: Int,
                                         baseSql: String, idCol: String): String = {
    def s(k: Int) = stubShiftSql(k, delta)
    var q = baseSql
    // entry thresholding of undefined rows at the zeroStep score
    q = s"""SELECT *,
           |  CASE WHEN l0 = -1 THEN (CASE WHEN ${s(0)} < $theta THEN 0 ELSE -1 END)
           |       ELSE l0 END AS l1
           |FROM ($q)""".stripMargin
    q = s"""SELECT *,
           |  COUNT(CASE WHEN l1 = 1 THEN 1 END) OVER () AS p,
           |  COUNT(CASE WHEN l1 = 0 THEN 1 END) OVER () AS r1
           |FROM ($q)""".stripMargin
    for (j <- 1 to unroll) {
      val gate = if (j == 1) "" else s"WHEN NOT c${j - 1} THEN l$j "
      // body j: inner binarize of reliable negatives at the refit-j score
      q = s"""SELECT *,
             |  CASE ${gate}WHEN l$j = 0 THEN (CASE WHEN ${s(j)} < $theta THEN 0 ELSE -1 END)
             |       ELSE l$j END AS l${j + 1}
             |FROM ($q)""".stripMargin
      q = s"""SELECT *,
             |  COUNT(CASE WHEN l${j + 1} = 0 THEN 1 END) OVER () AS r${j + 1}
             |FROM ($q)""".stripMargin
      val curGain = s"(r$j - r${j + 1})"
      val ltPrev = if (j == 1) "" else s" AND $curGain < (r${j - 1} - r$j)"
      q = s"""SELECT *,
             |  ($curGain > 0$ltPrev AND p < r${j + 1}) AS c$j
             |FROM ($q)""".stripMargin
    }
    val scoreCase = (1 to unroll - 1)
      .map(j => s"WHEN NOT c$j THEN ${s(j)}")
      .mkString(" ")
    s"""SELECT $idCol,
       |  CASE $scoreCase ELSE ${s(unroll)} END AS score,
       |  CAST(l${unroll + 1} AS INTEGER) AS pu_final
       |FROM ($q)""".stripMargin
  }

  private def gradReductionStubSql(theta: Double, delta: Double, unroll: Int): String =
    gradReductionUnroll(theta, delta, unroll,
      s"""SELECT vec_id, CASE WHEN ($puLabelSql) = 1 THEN 1 ELSE -1 END AS l0,
         |       (vec_id % 97) / 96.0 AS f0
         |FROM embeddings""".stripMargin, "vec_id") + " ORDER BY vec_id"

  private def coreOracles: Map[String, String] = {
    Map(
      "pu_rank_by_score" ->
        s"""SELECT vec_id, $stubScoreSql AS score,
           |  CAST(row_number() OVER (ORDER BY $stubScoreSql DESC, vec_id) AS BIGINT) AS rank
           |FROM embeddings ORDER BY rank""".stripMargin,
      "pu_traditional_stub" -> traditionalStubSql(0.5, -0.125, 3),
      "pu_traditional_stub_exit" -> traditionalStubSql(0.5, 0.0, 3),
      "pu_gradreduction_stub" -> gradReductionStubSql(0.5, 0.125, 6),
      "pu_gradreduction_stub_fast" -> gradReductionStubSql(0.5, 0.5, 2),
      "pu_replace_zeros" ->
        s"""SELECT vec_id,
           |  CASE WHEN ($puLabelSql) = 1 THEN 1 ELSE -1 END AS prev_label
           |FROM embeddings ORDER BY vec_id""".stripMargin,
      "pu_skeleton_binarize" ->
        s"""WITH base AS (
           |  SELECT vec_id, $puLabelSql AS pu_label, $stubScoreSql AS score
           |  FROM embeddings)
           |SELECT vec_id, score,
           |  CASE WHEN (CASE WHEN pu_label = 1 THEN 1 ELSE -1 END) = -1
           |       THEN (CASE WHEN score < 0.5 THEN 0 ELSE -1 END)
           |       ELSE (CASE WHEN pu_label = 1 THEN 1 ELSE -1 END) END AS cur_undef,
           |  CASE WHEN (CASE WHEN pu_label = 1 THEN 1 ELSE 0 END) = 0
           |       THEN (CASE WHEN score < 0.5 THEN 0 ELSE -1 END)
           |       ELSE (CASE WHEN pu_label = 1 THEN 1 ELSE 0 END) END AS cur_relneg
           |FROM base ORDER BY vec_id""".stripMargin,
      "pu_skeleton_metrics" ->
        s"""WITH base AS (
           |  SELECT vec_id, $puLabelSql AS pu_label, $stubScoreSql AS score
           |  FROM embeddings),
           |lab AS (
           |  SELECT CASE WHEN pu_label = 1 THEN 1 ELSE -1 END AS prev,
           |         CASE WHEN (CASE WHEN pu_label = 1 THEN 1 ELSE -1 END) = -1
           |              THEN (CASE WHEN score < 0.5 THEN 0 ELSE -1 END)
           |              ELSE (CASE WHEN pu_label = 1 THEN 1 ELSE -1 END) END AS cur
           |  FROM base)
           |SELECT
           |  CAST(SUM(CASE WHEN prev = -1 AND cur = 0 THEN 1 ELSE 0 END) AS BIGINT) AS new_relneg,
           |  CAST(SUM(CASE WHEN cur = 1 THEN 1 ELSE 0 END) AS BIGINT) AS total_pos,
           |  CAST(SUM(CASE WHEN cur = 0 THEN 1 ELSE 0 END) AS BIGINT) AS total_relneg,
           |  CAST(SUM(CASE WHEN cur = -1 THEN 1 ELSE 0 END) AS BIGINT) AS total_undef
           |FROM lab""".stripMargin,
      "pu_index_label" ->
        s"""SELECT vec_id, CAST($puLabelSql AS DOUBLE) AS label_indexed
           |FROM embeddings ORDER BY vec_id""".stripMargin,
      "prob_extract" ->
        """SELECT vec_id, CAST(embedding[2] AS DOUBLE) AS p_one
          |FROM embeddings ORDER BY vec_id""".stripMargin,
      "q_agg_pricing_summary" ->
        """SELECT l_returnflag, l_linestatus,
          |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
          |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
          |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))) AS DOUBLE) AS sum_disc_price,
          |  COUNT(*) AS count_order
          |FROM lineitem
          |WHERE l_shipdate < TIMESTAMP '2000-01-01'
          |GROUP BY l_returnflag, l_linestatus
          |ORDER BY l_returnflag, l_linestatus""".stripMargin
    )
  }
}
