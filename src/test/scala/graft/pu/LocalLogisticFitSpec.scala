package graft.pu

import org.apache.spark.ml.attribute.AttributeGroup
import org.apache.spark.ml.classification.{LocalLogisticFit, LogisticRegression,
  LogisticRegressionModel}
import org.apache.spark.ml.feature.VectorIndexer
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.ml.linalg.{SparseVector, Vector, Vectors}
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions.{array_repeat, col, lit, size, when}

import graft.SparkSuite
import graft.CheckpointUtil.{materialize, releaseStragglers}
import ProbabilisticClassifierConfig.{featuresName, labelName}

/** The one-task logistic-regression fit and scoring against Spark ML's
  * own: every case is a one-partition frame scored by a stock
  * `LogisticRegression`'s `fit` + `transform` and by
  * [[LocalLogisticFit.fitAndScore]] with the same params, and the two must
  * agree bit for bit, schema included. The learners' `weight()` is held to
  * the same rows against its stock path (a 1k advisory size). If either
  * path drifts (a Spark upgrade that changes `LogisticRegression.train`,
  * say) this fails.
  */
class LocalLogisticFitSpec extends SparkSuite {

  private def lr(c: LogisticRegressionConfig = LogisticRegressionConfig()): LogisticRegression =
    c.build().asInstanceOf[LogisticRegression]

  /** `df`'s (label, features) as the PU learners fit them: the label cast
    * with two-value nominal metadata, stored on one partition. */
  private def onePartition(df: DataFrame, label: String, features: String): DataFrame = {
    val prepared = PUExpressions.indexLabelColumn(df, label, labelName, Seq("0", "1"))
      .select(col(labelName), col(features).as(featuresName))
    val (stored, _) = materialize(prepared.coalesce(1))
    assert(stored.rdd.getNumPartitions == 1)
    stored
  }

  /** Seeded rows: features on unequal scales, labels from a noisy linear
    * score; `row` may rewrite each row's features. */
  private def dense(n: Int = 400, label: Int => Option[Double] = _ => None,
      row: Array[Double] => Array[Double] = identity): DataFrame =
    onePartition(denseRows(n, label, row), "y", "x")

  private def denseRows(n: Int = 400, label: Int => Option[Double] = _ => None,
      row: Array[Double] => Array[Double] = identity): DataFrame = {
    val rnd = new scala.util.Random(7)
    val rows = (0 until n).map { i =>
      val x = Array.tabulate(6)(j => rnd.nextGaussian() * (j + 1) + j)
      val score = 0.8 * x(0) - 0.3 * x(1) + 0.2 * x(4) - 1.0 + rnd.nextGaussian()
      (i.toLong, label(i).getOrElse(if (score > 0) 1.0 else 0.0), Vectors.dense(row(x)))
    }
    spark.createDataFrame(rows).toDF("id", "y", "x")
  }

  /** A row's values, every double and vector element as its bits. */
  private def bits(r: Row): Seq[Any] = r.toSeq.map {
    case d: Double => java.lang.Double.doubleToRawLongBits(d)
    case v: Vector => v.getClass -> v.toArray.toSeq.map(java.lang.Double.doubleToRawLongBits)
    case x => x
  }

  /** Asserts equal rows (in order, bit for bit) and equal schemas. */
  private def assertSameRows(ours: DataFrame, stock: DataFrame): Unit = {
    assert(ours.schema == stock.schema, s"${ours.schema.json} vs ${stock.schema.json}")
    val (o, s) = (ours.collect().map(bits), stock.collect().map(bits))
    assert(o.length == s.length && o.nonEmpty)
    o.zip(s).zipWithIndex.foreach { case ((a, b), i) => assert(a == b, s"row $i") }
  }

  /** Scores `df` both ways after a fit on its rows where `train` holds, and
    * asserts the same rows from one job with one task; the stock model. */
  private def assertSameFit(est: LogisticRegression, df: DataFrame,
      train: Column = lit(true)): LogisticRegressionModel = {
    val stock = est.fit(df.filter(train))
    val ours = LocalLogisticFit.fitAndScore(est, df, train)
    val (_, sched) = jobsDuring(ours.collect())
    assert(sched.jobs == 1 && sched.tasks == 1, sched)
    assertSameRows(ours, stock.transform(df))
    releaseStragglers()
    stock
  }

  test("default LogisticRegressionConfig fits bit for bit in one job") {
    val m = assertSameFit(lr(), dense())
    assert(m.summary.objectiveHistory.length > 3 && m.summary.totalIterations > 2)
  }

  test("regParam = 0 fits bit for bit") {
    assertSameFit(lr(LogisticRegressionConfig(regParam = 0.0)), dense())
  }

  test("elastic net (OWLQN) fits bit for bit") {
    assertSameFit(lr(LogisticRegressionConfig(regParam = 0.01, elasticNetParam = 0.5)), dense())
  }

  test("maxIter = 2 fits bit for bit") {
    assertSameFit(lr(LogisticRegressionConfig(maxIter = 2)), dense())
  }

  test("standardization = false fits bit for bit, with and without L1") {
    assertSameFit(lr().setStandardization(false), dense())
    assertSameFit(lr(LogisticRegressionConfig(regParam = 0.01, elasticNetParam = 0.5))
      .setStandardization(false), dense())
  }

  test("a zero-variance feature fits bit for bit") {
    val m = assertSameFit(lr(), dense(row = x => x.updated(2, 2.5)))
    assert(m.coefficients(2) == 0.0)
  }

  test("a feature VectorIndexer makes categorical fits bit for bit") {
    val raw = dense(row = x => x.updated(3, math.floor(math.abs(x(3))) % 3))
    val indexed = new VectorIndexer().setInputCol(featuresName).setOutputCol("indexed")
      .setMaxCategories(4).fit(raw).transform(raw)
      .drop(featuresName).withColumnRenamed("indexed", featuresName)
    assert(indexed.schema(featuresName).metadata.toString.contains("nominal"))
    assertSameFit(lr(), indexed)
  }

  test("sparse TF-IDF vectors (pu_text_lr's features) fit bit for bit") {
    val docs = onePartition(PU.puDocuments(spark, sf0001), "puLabel", "features")
    assert(docs.head().getAs[Vector](featuresName).isInstanceOf[SparseVector])
    assertSameFit(lr(), docs)
  }

  test("the PU embeddings fixture fits bit for bit") {
    assertSameFit(lr(), onePartition(PU.puEmbeddings(spark, sf0001), "puLabel", "features"))
  }

  test("a round's training rows are fit, and every row is scored, bit for bit") {
    val df = dense()
    // the rows whose second feature exceeds 1.5, about two in five
    val m = assertSameFit(lr(), df, PUExpressions.probOfPositive(col(featuresName)) > 1.5)
    assert(m.summary.totalIterations > 2)
  }

  test("all-positive and all-negative labels take train's constant-label return") {
    for (y <- Seq(1.0, 0.0)) {
      val m = assertSameFit(lr(), dense(label = _ => Some(y)))
      assert(m.intercept.isInfinite && m.summary.objectiveHistory.toSeq == Seq(0.0), y)
    }
  }

  /** The error and its innermost cause, as class name and message. */
  private def failure(body: => Any): Seq[(String, String)] = {
    val c = chain(intercept[Exception](body))
    Seq(c.head, c.last)
  }

  /** An error and each of its causes, as class name and message. */
  private def chain(e: Throwable): Seq[(String, String)] =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).toSeq.map(t =>
      // a job failure names its stage and task; those differ between any two runs
      t.getClass.getName -> t.getMessage.replaceAll("stage [0-9.]+|TID [0-9]+", ""))

  test("a NaN feature and a label of 2 fail as stock fit fails") {
    val nan = dense(row = x => if (x(0) > 2.5) x.updated(1, Double.NaN) else x)
    val two = dense(label = i => if (i == 17) Some(2.0) else None)
    for (df <- Seq(nan, two)) {
      // thrown by the job that reads the scores: the stock error, or its cause
      val ours = chain(intercept[Exception](LocalLogisticFit.fitAndScore(lr(), df, lit(true))
        .collect()))
      val stock = failure(lr().fit(df))
      assert(stock.forall(ours.contains), s"$stock not in $ours")
    }
    assert(failure(lr().fit(two)).last._2.contains("number of unique labels 3"))
    assert(failure(lr().fit(nan)).last._2.contains("NaN"))
    releaseStragglers()
  }

  test("weight() fits LR in one task within one advisory partition, else with Spark ML's fit") {
    val pu = PU.puEmbeddings(spark, sf0001)
    val learner = TraditionalPULearnerConfig(0.5, 1, LogisticRegressionConfig()).build()
    def sched(df: DataFrame) =
      jobsDuring(learner.weight(df, "puLabel", "features", "out").collect())._2
    // the input's store, the indexer's statistics, the first generation, and
    // the collect that scores the refit: each fit rides the job reading it
    val oneTask = sched(pu)
    assert(oneTask.jobs == 4, oneTask)
    assert(!oneTask.callSites.exists(s => Seq("RDDLossFunction", "Summarizer",
      "LocalLogisticFit.scala", "DatasetUtils.scala").exists(s.contains)), oneTask)
    // one partition, but more bytes than the 1k advisory size: stock fit
    val tiny = graft.Tables.scopedSession(spark,
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "1k")
    val over = sched(org.apache.spark.sql.GraftColumnBridge.ofRows(tiny, pu)).callSites
    assert(over.exists(_.contains("RDDLossFunction")), over)
    // RandomForest always fits with Spark ML
    val rf = jobsDuring(TraditionalPULearnerConfig(0.5, 1, RandomForestConfig(numTrees = 4))
      .build().weight(pu, "puLabel", "features", "out").count())._2.callSites
    assert(rf.exists(_.contains("RandomForest")), rf)
    releaseStragglers()
  }

  test("a second partition fails the one-task fit loudly") {
    // the caller decides one task from the measured bytes; a wider input
    // is a caller bug, never a silent fit per partition
    val two = dense().repartition(2)
    val (err, sched) = jobsDuring(intercept[Exception](
      LocalLogisticFit.fitAndScore(lr(), two, lit(true)).count()))
    assert(chain(err).exists(_._2.contains("read partition 1")), chain(err))
    assert(!sched.callSites.exists(_.contains("RDDLossFunction")), sched)
    releaseStragglers()
  }

  /** `learner()`'s `weight()` rows on `df` (on one partition) equal its
    * stock path's (a 1k advisory size: Spark ML's fit and transform) bit
    * for bit, both learners. */
  private def assertSameWeights(df: DataFrame, label: String = "puLabel"): Unit = {
    val one = df.coalesce(1)
    val tiny = graft.Tables.scopedSession(spark,
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "1k")
    for (learner <- Seq[() => PositiveUnlabeledLearner](
        () => TraditionalPULearnerConfig(0.5, 3, LogisticRegressionConfig()).build(),
        () => GradualReductionPULearnerConfig(0.5, LogisticRegressionConfig()).build())) {
      val (ours, sched) = jobsDuring {
        val out = learner().weight(one, label, "features", "out")
        out.collect()
        out
      }
      assert(!sched.callSites.exists(_.contains("RDDLossFunction")), sched)
      assert(ours.schema("features") == one.schema("features")) // its metadata too
      val stock = learner().weight(org.apache.spark.sql.GraftColumnBridge.ofRows(tiny, one),
        label, "features", "out")
      assertSameRows(ours, stock)
      releaseStragglers()
    }
  }

  test("weight() rows equal the stock path's bit for bit: the PU embeddings fixture") {
    assertSameWeights(PU.puEmbeddings(spark, sf0001))
  }

  test("weight() rows equal the stock path's bit for bit: a categorical feature") {
    val df = denseRows(row = x => x.updated(3, math.floor(math.abs(x(3))) % 3))
      .withColumnRenamed("x", "features")
      .withColumn("puLabel", (col("y") === 1.0 && col("id") % 2 === 0).cast("int"))
    assertSameWeights(df)
  }

  test("weight() rows equal the stock path's bit for bit: sparse TF-IDF (pu_text_lr)") {
    assertSameWeights(PU.puDocuments(spark, sf0001))
  }

  test("weight() rows equal the stock path's bit for bit: labels all of one class") {
    for (y <- Seq(1, 0))
      assertSameWeights(PU.puEmbeddings(spark, sf0001).withColumn("puLabel", lit(y)))
  }

  test("a maxIters = 0 weight() is a lazy frame with the same rows on two actions") {
    val out = TraditionalPULearnerConfig(0.5, 0, LogisticRegressionConfig()).build()
      .weight(PU.puEmbeddings(spark, sf0001), "puLabel", "features", "out")
    val (first, sched) = jobsDuring(out.collect())
    assert(sched.jobs == 1, sched)
    assert(first.map(bits).toSeq == out.collect().map(bits).toSeq && first.nonEmpty)
    // the stored one-partition input declares one partition, so the count
    // aggregates in the job that scores
    val (n, counted) = jobsDuring(out.count())
    assert(counted.jobs == 1 && n == first.length, counted)
    releaseStragglers()
  }

  test("a NaN feature fails weight() with the stock error") {
    val nan = PU.puEmbeddings(spark, sf0001).withColumn("features", array_to_vector(
      when(col("vec_id") === 7, array_repeat(lit(Double.NaN), size(col("embedding"))))
        .otherwise(col("embedding"))))
    val tiny = graft.Tables.scopedSession(spark,
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "1k")
    def run(df: DataFrame) = TraditionalPULearnerConfig(0.5, 3, LogisticRegressionConfig())
      .build().weight(df.coalesce(1), "puLabel", "features", "out").collect()
    val stock = failure(run(org.apache.spark.sql.GraftColumnBridge.ofRows(tiny, nan)))
    val ours = chain(intercept[Exception](run(nan)))
    assert(stock.last._2.contains("NaN"), stock)
    assert(ours.contains(stock.last), s"$stock not in $ours")
    releaseStragglers()
  }

  test("VectorIndexer's output is the same with and without a stored size attribute") {
    val df = PU.puEmbeddings(spark, sf0001).select(col("vec_id"), col("features"))
    val size = df.head().getAs[Vector]("features").size
    val sized = df.withColumn("features", col("features").as("features",
      new AttributeGroup("features", size).toMetadata()))
    def indexed(in: DataFrame) = jobsDuring(new VectorIndexer().setInputCol("features")
      .setOutputCol("indexed").setMaxCategories(4).fit(in).transform(in))
    val ((plain, bare), (withSize, attr)) = (indexed(df), indexed(sized))
    assert(bare.callSites.exists(_.contains("DatasetUtils")), bare)
    assert(!attr.callSites.exists(_.contains("DatasetUtils")) && attr.jobs == bare.jobs - 1, attr)
    assert(withSize.schema("indexed") == plain.schema("indexed"))
    assertSameRows(withSize.drop("features"), plain.drop("features"))
  }
}
