package graft.pu

import org.apache.spark.ml.classification.{LocalLogisticFit, LogisticRegression,
  LogisticRegressionModel}
import org.apache.spark.ml.feature.VectorIndexer
import org.apache.spark.ml.linalg.{SparseVector, Vector, Vectors}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.SparkSuite
import graft.CheckpointUtil.{materialize, releaseStragglers}
import ProbabilisticClassifierConfig.{featuresName, labelName}

/** The one-task logistic-regression fit against Spark ML's own: every case
  * is a one-partition frame fit by a stock `LogisticRegression` and by
  * [[LocalLogisticFit]] with the same params, and the two models must agree
  * bit for bit. If either path drifts (a Spark upgrade that changes
  * `LogisticRegression.train`, say) this fails.
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
      row: Array[Double] => Array[Double] = identity): DataFrame = {
    val rnd = new scala.util.Random(7)
    val rows = (0 until n).map { i =>
      val x = Array.tabulate(6)(j => rnd.nextGaussian() * (j + 1) + j)
      val score = 0.8 * x(0) - 0.3 * x(1) + 0.2 * x(4) - 1.0 + rnd.nextGaussian()
      (label(i).getOrElse(if (score > 0) 1.0 else 0.0), Vectors.dense(row(x)))
    }
    onePartition(spark.createDataFrame(rows).toDF("y", "x"), "y", "x")
  }

  private def bits(a: Array[Double]): Seq[Long] = a.toSeq.map(java.lang.Double.doubleToRawLongBits)

  private def params(m: LogisticRegressionModel): Map[String, Any] =
    m.extractParamMap().toSeq.map(p => p.param.name -> p.value).toMap

  /** Fits `df` both ways and asserts equal models, one job and one task. */
  private def assertSameFit(est: LogisticRegression, df: DataFrame): LogisticRegressionModel = {
    val stock = est.fit(df)
    val (local, sched) = jobsDuring(LocalLogisticFit.fit(est, df))
    assert(sched.jobs == 1 && sched.tasks == 1, sched)
    assert(bits(local.coefficients.toArray) == bits(stock.coefficients.toArray),
      s"${local.coefficients} vs ${stock.coefficients}")
    assert(bits(Array(local.intercept)) == bits(Array(stock.intercept)),
      s"${local.intercept} vs ${stock.intercept}")
    assert(bits(local.summary.objectiveHistory) == bits(stock.summary.objectiveHistory))
    assert(local.coefficientMatrix.getClass == stock.coefficientMatrix.getClass)
    assert(local.numClasses == stock.numClasses && local.uid == stock.uid)
    assert(params(local) == params(stock))
    assert(local.parent eq est)
    releaseStragglers()
    local
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

  test("all-positive and all-negative labels take train's constant-label return") {
    for (y <- Seq(1.0, 0.0)) {
      val m = assertSameFit(lr(), dense(label = _ => Some(y)))
      assert(m.intercept.isInfinite && m.summary.objectiveHistory.toSeq == Seq(0.0), y)
    }
  }

  /** The error and its innermost cause, as class name and message. */
  private def failure(body: => Any): Seq[(String, String)] = {
    val e = intercept[Exception](body)
    val root = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).toSeq.last
    // a job failure names its stage and task; those differ between any two runs
    Seq(e, root).map(t =>
      t.getClass.getName -> t.getMessage.replaceAll("stage [0-9.]+|TID [0-9]+", ""))
  }

  test("a NaN feature and a label of 2 fail as stock fit fails") {
    val nan = dense(row = x => if (x(0) > 2.5) x.updated(1, Double.NaN) else x)
    val two = dense(label = i => if (i == 17) Some(2.0) else None)
    for (df <- Seq(nan, two)) {
      val (stock, local) = (failure(lr().fit(df)), failure(LocalLogisticFit.fit(lr(), df)))
      assert(local == stock)
    }
    assert(failure(lr().fit(two)).last._2.contains("number of unique labels 3"))
    assert(failure(lr().fit(nan)).last._2.contains("NaN"))
    releaseStragglers()
  }

  test("weight() fits LR in one task within one advisory partition, else with Spark ML's fit") {
    val pu = PU.puEmbeddings(spark, sf0001)
    val learner = TraditionalPULearnerConfig(0.5, 1, LogisticRegressionConfig()).build()
    def sites(df: DataFrame) =
      jobsDuring(learner.weight(df, "puLabel", "features", "out").count())._2.callSites
    val oneTask = sites(pu)
    assert(oneTask.exists(_.contains("LocalLogisticFit")), oneTask)
    assert(!oneTask.exists(s => s.contains("RDDLossFunction") || s.contains("Summarizer")), oneTask)
    // one partition, but more bytes than the 1k advisory size: stock fit
    val tiny = graft.Tables.scopedSession(spark,
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "1k")
    val over = sites(org.apache.spark.sql.GraftColumnBridge.ofRows(tiny, pu))
    assert(over.exists(_.contains("RDDLossFunction")), over)
    assert(!over.exists(_.contains("LocalLogisticFit")), over)
    // RandomForest always fits with Spark ML
    val rf = jobsDuring(TraditionalPULearnerConfig(0.5, 1, RandomForestConfig(numTrees = 4))
      .build().weight(pu, "puLabel", "features", "out").count())._2.callSites
    assert(!rf.exists(_.contains("LocalLogisticFit")), rf)
    releaseStragglers()
  }

  test("more than one partition goes to Spark ML's fit") {
    val two = dense().repartition(2)
    val (m, sched) = jobsDuring(LocalLogisticFit.fit(lr(), two))
    assert(sched.callSites.exists(_.contains("RDDLossFunction")), sched)
    assert(m.summary.objectiveHistory.nonEmpty)
    releaseStragglers()
  }
}
