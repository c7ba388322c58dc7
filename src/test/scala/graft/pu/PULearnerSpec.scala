package graft.pu

import org.apache.spark.sql.functions._

import graft.SparkSuite

/** End-to-end PU learning on the seeded embeddings fixture (SURVEY.md §5.2
  * item 4): statistical separation assertions, not exact floats — ML fits
  * are not bit-stable across Spark versions.
  */
class PULearnerSpec extends SparkSuite {

  private lazy val pu = PU.puEmbeddings(spark, sf0001).cache()

  /** mean(finalLabel | masked positives) should exceed
    * mean(finalLabel | true negatives): the learner recovers held-out
    * positives it never saw as labeled.
    */
  private def assertSeparation(out: org.apache.spark.sql.DataFrame): Unit = {
    val row = out.agg(
      avg(when(col("holdoutPos"), col("out"))).as("heldOutPosMean"),
      avg(when(col("label") =!= 5, col("out"))).as("trueNegMean")).head()
    val (posMean, negMean) = (row.getDouble(0), row.getDouble(1))
    assert(posMean > negMean,
      s"no separation: held-out positives $posMean <= true negatives $negMean")
    val bad = out.filter(col("out") < 0 || col("out") > 1).count()
    assert(bad == 0, "scores must be probabilities in [0,1]")
  }

  test("TraditionalPULearner(LR) separates held-out positives from negatives") {
    val learner = TraditionalPULearnerConfig(0.5, 3, LogisticRegressionConfig()).build()
    val out = learner.weight(pu.toDF(), "puLabel", "features", "out")
    assertSeparation(out)
    // input columns pass through
    assert(out.columns.contains("vec_id") && out.columns.contains("embedding"))
  }

  /** The fixture over two cached partitions (its own scan is one). */
  private lazy val twoParts = {
    val d = pu.toDF().repartition(2, col("vec_id")).cache()
    assert(d.count() > 0 && d.rdd.getNumPartitions == 2)
    d
  }

  private val lrLearner = TraditionalPULearnerConfig(0.5, 3, LogisticRegressionConfig())

  test("LR weight() on a two-partition input runs one stage per job, one task per fit job") {
    val in = twoParts // cached before counting
    val (_, s) = jobsDuring(lrLearner.build().weight(in, "puLabel", "features", "out"))
    // LBFGS's treeAggregate shuffles its partial sums to one task whenever
    // its input has more than one partition: two stages per iteration
    assert(s.stages == s.jobs, s)
    // every job runs one task, but the input's store: one per input partition
    assert(s.tasks == s.jobs + 1, s)
    // each LR fit is one job (its input fills one advisory partition), so
    // the pass is: the input's store, the indexer's two jobs, the zero-step
    // fit, then a generation and a refit, and the generation that converts
    // nothing; no summary or LBFGS loss job of Spark ML's own runs
    assert(s.jobs == 7, s)
    assert(!s.callSites.exists(c => c.contains("RDDLossFunction") || c.contains("Summarizer")), s)
    graft.CheckpointUtil.releaseStragglers()
  }

  test("the measured-size rule: one partition stays one, a tiny advisory size keeps all, " +
      "and LR scores agree either way") {
    import graft.CheckpointUtil.materialize
    import graft.operators.Spread.toMeasuredSize
    val (one, _) = materialize(pu.toDF())
    assert(one.rdd.getNumPartitions == 1 && toMeasuredSize(one).rdd.getNumPartitions == 1)
    val (two, _) = materialize(twoParts)
    assert(toMeasuredSize(two).rdd.getNumPartitions == 1)
    val tiny = graft.Tables.scopedSession(spark,
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "1k")
    val wideIn = org.apache.spark.sql.GraftColumnBridge.ofRows(tiny, twoParts)
    val (twoTiny, _) = materialize(wideIn)
    assert(toMeasuredSize(twoTiny) eq twoTiny)

    def scored(in: org.apache.spark.sql.DataFrame) =
      lrLearner.build().weight(in, "puLabel", "features", "out")
        .select(col("vec_id"), col("out"), col("prevLabel"))
        .collect().map(r => r.getLong(0) -> (r.getDouble(1), r.getInt(2))).toMap
    val (narrowed, wide) = (scored(twoParts), scored(wideIn))
    assert(narrowed.keySet == wide.keySet && narrowed.nonEmpty)
    val worst = narrowed.map { case (id, (p, _)) => math.abs(p - wide(id)._1) }.max
    assert(worst < 1e-6, s"scores differ by $worst")
    def relNeg(m: Map[Long, (Double, Int)]) =
      m.collect { case (id, (_, l)) if l == PUExpressions.relNegLabel => id }.toSet
    assert(relNeg(narrowed).nonEmpty && relNeg(narrowed) == relNeg(wide))
    graft.CheckpointUtil.releaseStragglers()
  }

  test("TraditionalPULearner early-exits when threshold converts nothing") {
    // theta = 0: score < 0 never holds -> zero new reliable negatives ->
    // early return after the first thresholding (reference :53-55 semantics)
    val learner = TraditionalPULearnerConfig(0.0, 5, LogisticRegressionConfig()).build()
    val out = learner.weight(pu.toDF(), "puLabel", "features", "out")
    // early-exit branch returns the thresholded frame: curLabel all undef/pos
    val ms = PUExpressions.iterMetricCols("prevLabel", "curLabel")
    val m = PUExpressions.IterMetrics(out.agg(ms.head, ms.tail: _*).head())
    assert(m.newRelNeg == 0 && m.totalRelNeg == 0)
  }

  test("GradualReductionPULearner(LR) converges and separates") {
    val learner = GradualReductionPULearnerConfig(0.5, LogisticRegressionConfig()).build()
    val out = learner.weight(pu.toDF(), "puLabel", "features", "out")
    assertSeparation(out)
  }

  test("TraditionalPULearner(RF) runs with a small forest") {
    val learner = TraditionalPULearnerConfig(0.5, 1, RandomForestConfig(numTrees = 16)).build()
    val out = learner.weight(pu.toDF(), "puLabel", "features", "out")
    assert(out.filter(col("out") < 0 || col("out") > 1).count() == 0)
  }

  test("config registry round-trip surface stays intact") {
    assert(PositiveUnlabeledLearnerConfig.subclasses.size == 2)
    assert(ProbabilisticClassifierConfig.subclasses.size == 2)
  }

  test("configs round-trip through short-type-hint JSON exactly") {
    val configs: Seq[PositiveUnlabeledLearnerConfig] = Seq(
      TraditionalPULearnerConfig(0.5, 3, LogisticRegressionConfig()),
      TraditionalPULearnerConfig(0.75, 1, RandomForestConfig(numTrees = 16, seed = 7L)),
      GradualReductionPULearnerConfig(0.25, LogisticRegressionConfig(50, 1e-6, 0.1)),
      GradualReductionPULearnerConfig(0.5, RandomForestConfig()))
    for (c <- configs) {
      val json = ConfigJson.write(c)
      assert(json.contains("\"jsonClass\""), json)
      assert(ConfigJson.read(json) == c, json)
    }
    // an unregistered hint must be rejected, exactly like json4s hints
    intercept[IllegalArgumentException] {
      ConfigJson.read("""{"jsonClass":"EvilConfig","relNegThreshold":0.5}""")
    }
  }

  test("rankByScore ranks highest score first") {
    import spark.implicits._
    val df = Seq((1L, 0.2), (2L, 0.9), (3L, 0.5)).toDF("id", "s")
    val ranked = PU.rankByScore(df, "s", col("id"))
    val top = ranked.orderBy(col("rank")).select("id").collect().map(_.getLong(0)).toSeq
    assert(top == Seq(2L, 3L, 1L))
  }

  test("globalRankByScore == window rank, without the single-task sort") {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val df = (1L to 500L).map(i => (i, rnd.nextInt(40).toDouble))
      .toDF("id", "s").repartition(7)
    val window = PU.rankByScore(df, "s", col("id"))
      .select("id", "rank").as[(Long, Int)].collect().toMap
    val global = PU.globalRankByScore(df, "s", col("id"))
      .select("id", "rank").as[(Long, Long)].collect().toMap
    assert(global.size == 500)
    assert(global.forall { case (id, r) => window(id).toLong == r })
    // and the plan has NO window at all (neither the single-task global
    // sort nor a second by-pid shuffle): ranks come from sorted partitions
    // + monotonically_increasing_id record numbers + broadcast offsets
    val plan = PU.globalRankByScore(df, "s", col("id"))
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Window"), plan)
    assert(plan.contains("monotonically_increasing_id"), plan)
  }
}
