package org.apache.spark.ml.classification

import java.util.Locale

import scala.reflect.ClassTag

import breeze.linalg.{DenseVector => BDV}
import breeze.optimize.{CachedDiffFunction, DiffFunction, FirstOrderMinimizer,
  LBFGS => BreezeLBFGS, OWLQN => BreezeOWLQN}

import org.apache.spark.{SparkException, TaskContext}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.ml.feature.{Instance, InstanceBlock, StandardScalerModel}
import org.apache.spark.ml.linalg.{BLAS, DenseMatrix, Matrix, SparseMatrix, SQLDataTypes, Vector,
  Vectors}
import org.apache.spark.ml.optim.aggregator.BinaryLogisticBlockAggregator
import org.apache.spark.ml.optim.loss.L2Regularization
import org.apache.spark.ml.stat.{MultiClassSummarizer, Summarizer, SummarizerBuffer}
import org.apache.spark.ml.util.{DatasetUtils, MetadataUtils, SchemaUtils}
import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
import org.apache.spark.sql.functions.{col, struct, when}
import org.apache.spark.sql.types.{DoubleType, StructField, StructType}

/** A binary logistic regression fit and applied in ONE Spark task: Spark
  * 4.1.2's `LogisticRegression.train`/`trainImpl`, replayed inside the task
  * that holds the partition, from Spark's own classes, then the model's own
  * `transform` columns for every row of that partition. The scores are
  * those `lr.fit(df.filter(train)).transform(df)` gives, bit for bit.
  *
  * Stock `fit` runs one `treeAggregate` job for the feature and label
  * summaries and one per LBFGS loss evaluation, each closure-cleaned,
  * dispatched and collected by the driver, and `transform` plans a further
  * pass; on a small input that dispatch is the cost. On one partition
  * `treeAggregate` folds the partition over a zero value and merges the
  * result into another zero, which the task does too, so every sum is taken
  * in the same order. The frame returned is lazy: the action that reads it
  * runs the fit, so a PU round's fit, scores and store are one job.
  *
  * `train`'s checks run in the task, in `train`'s order and with its
  * messages, so an input `fit` rejects fails with the same error, thrown by
  * the job; NaN/Inf features and out-of-domain labels fail from `train`'s
  * own check columns. What this does not replay goes to stock `fit` and
  * `transform`: a weight column, coefficient bounds, a label without
  * two-class metadata (a multinomial fit), an empty output column. The
  * estimator must carry no initial model (`setInitialModel` is
  * `private[spark]`).
  *
  * The input must be one partition. The caller decides that from the
  * input's measured bytes (`TwoStepPULearner`'s fitter), so it is not
  * re-derived here by planning the frame a second time on the driver; a
  * task that reads any partition other than the first fails the job
  * instead of fitting a model per partition.
  */
object LocalLogisticFit {

  /** `train`'s reading of the summaries, before it optimizes. */
  private final case class Plan(numFeatures: Int, constantLabel: Boolean,
      histogram: Array[Double])

  /** `df` with the columns `lr.fit(df.filter(train)).transform(df)` appends,
    * as a lazy frame whose one task fits and scores. `df` must be one
    * partition. */
  def fitAndScore(lr: LogisticRegression, df: DataFrame, train: Column): DataFrame = {
    lr.transformSchema(df.schema) // Predictor.fit's schema check
    val label = lr.getLabelCol
    val numClassesMeta = MetadataUtils.getNumClasses(df.schema(label))
    val rows = df.select(col("*"), when(train, struct(
      DatasetUtils.checkClassificationLabels(label, None),
      DatasetUtils.checkNonNegativeWeights(None),
      DatasetUtils.checkNonNanVectors(lr.getFeaturesCol))))
    val outCols = Seq(lr.getRawPredictionCol, lr.getProbabilityCol, lr.getPredictionCol)
    val bounded = Seq(lr.lowerBoundsOnCoefficients, lr.upperBoundsOnCoefficients,
      lr.lowerBoundsOnIntercepts, lr.upperBoundsOnIntercepts).exists(lr.isSet(_))
    if (lr.isSet(lr.weightCol) || bounded || !numClassesMeta.exists(_ <= 2) ||
        lr.getFamily.toLowerCase(Locale.ROOT) == "multinomial" || outCols.exists(_.isEmpty))
      return lr.fit(df.filter(train)).transform(df)
    val (n, features) = (numClassesMeta.get, df.schema.fieldIndex(lr.getFeaturesCol))
    // ClassificationModel.transformSchema's column metadata
    def meta(c: String, update: (StructType, String, Int) => StructType) =
      update(new StructType, c, n)(c).metadata
    val schema = StructType(df.schema.fields ++ Seq(
      StructField(outCols(0), SQLDataTypes.VectorType, true,
        meta(outCols(0), SchemaUtils.updateAttributeGroupSize)),
      StructField(outCols(1), SQLDataTypes.VectorType, true,
        meta(outCols(1), SchemaUtils.updateAttributeGroupSize)),
      StructField(outCols(2), DoubleType, false, meta(outCols(2), SchemaUtils.updateNumValues))))
    // a Dataset map keeps `df`'s partitioning, as `transform`'s projection
    // does; its encoder drops column metadata, which the select restores
    val scored = rows.mapPartitions { it =>
      val partition = TaskContext.getPartitionId()
      if (partition != 0) throw new IllegalStateException(s"a one-task logistic regression " +
        s"fit read partition $partition: its input must be one partition")
      val all = it.toArray
      val model = fitPartition(lr, n, all.flatMap(r => Option(r.getStruct(r.length - 1)))
        .map { case Row(l: Double, w: Double, v: Vector) => Instance(l, w, v) })
      all.iterator.map(r => Row.fromSeq(r.toSeq.init ++ model.score(r.getAs[Vector](features))))
    }(Encoders.row(schema))
    scored.select(schema.map(f =>
      scored("`" + f.name.replace("`", "``") + "`").as(f.name, f.metadata)): _*)
  }

  /** `train`'s checks and decisions on the two summaries, in its order and
    * with its messages, for a label of `numClasses` <= 2 classes (so a
    * binomial fit). */
  private def readSummaries(lr: LogisticRegression, numClasses: Int,
      features: SummarizerBuffer, labels: MultiClassSummarizer): Plan = {
    val numFeatures = features.mean.size
    val histogram = labels.histogram
    require(numClasses >= histogram.length, s"Specified number of classes $numClasses was " +
      s"less than the number of unique labels ${histogram.length}.")
    if (lr.isDefined(lr.thresholds)) {
      require(lr.getThresholds.length == numClasses, lr.getClass.getSimpleName +
        ".train() called with non-matching numClasses and thresholds.length." +
        s" numClasses=$numClasses, but thresholds has length ${lr.getThresholds.length}")
    }
    if (labels.countInvalid != 0) throw new SparkException(
      s"Classification labels should be in [0 to ${numClasses - 1}]. " +
        s"Found ${labels.countInvalid} invalid labels.")
    Plan(numFeatures, histogram.count(_ != 0.0) == 1, histogram)
  }

  /** Runs in the task: the summaries as `treeAggregate` builds them on one
    * partition, `train`'s checks on them, then its early return or its
    * optimization, and the model `createModel` builds from the result. */
  private def fitPartition(lr: LogisticRegression, numClasses: Int,
      instances: Array[Instance]): Scorer = {
    def zero = (Summarizer.createSummarizerBuffer("mean", "std", "count"), new MultiClassSummarizer)
    val (f, l) = instances.foldLeft(zero) { case ((f, l), i) =>
      (f.add(i.features, i.weight), l.add(i.label, i.weight))
    }
    val (z, zl) = zero
    val features = z.merge(f)
    val plan = readSummaries(lr, numClasses, features, zl.merge(l))
    val n = plan.numFeatures
    if (lr.getFitIntercept && plan.constantLabel) { // `train`'s early return
      new Scorer(lr, numClasses,
        new SparseMatrix(1, n, new Array[Int](2), Array.emptyIntArray, Array.emptyDoubleArray,
          isTransposed = true).compressed,
        Vectors.dense(if (numClasses == 2) Double.PositiveInfinity
          else Double.NegativeInfinity))
    } else {
      val solution = optimize(lr, plan, features, instances)
      val featuresStd = features.std.toArray
      val coefficients = new DenseMatrix(1, n, new Array[Double](n), isTransposed = true)
      val intercept = Vectors.zeros(1)
      new DenseMatrix(1, solution.length, solution).foreachActive { (i, j, v) =>
        val isIntercept = lr.getFitIntercept && j == n
        if (!isIntercept && featuresStd(j) != 0.0) coefficients.update(i, j, v / featuresStd(j))
        if (isIntercept) intercept.toArray(i) = v
      }
      new Scorer(lr, numClasses, coefficients.compressed, intercept.compressed)
    }
  }

  /** `train` from its regularization through `trainImpl`, for one binary
    * coefficient set: the solution. */
  private def optimize(lr: LogisticRegression, plan: Plan, features: SummarizerBuffer,
      instances: Array[Instance]): Array[Double] = {
    val n = plan.numFeatures
    val (featuresMean, featuresStd) = (features.mean.toArray, features.std.toArray)
    val (fitIntercept, standardization) = (lr.getFitIntercept, lr.getStandardization)
    val (regParam, elasticNet) = (lr.getRegParam, lr.getElasticNetParam)
    val regParamL1 = elasticNet * regParam
    val regParamL2 = (1.0 - elasticNet) * regParam
    val regularization = if (regParamL2 != 0.0) {
      val featureStd = (j: Int) => if (j >= 0 && j < n) featuresStd(j) else 0.0
      Some(new L2Regularization(regParamL2, (j: Int) => j >= 0 && j < n,
        if (standardization) None else Some(featureStd)))
    } else None
    val optimizer: FirstOrderMinimizer[BDV[Double], DiffFunction[BDV[Double]]] =
      if (elasticNet == 0.0 || regParam == 0.0) {
        new BreezeLBFGS[BDV[Double]](lr.getMaxIter, 10, lr.getTol)
      } else {
        val l1 = (j: Int) =>
          if (fitIntercept && j >= n) 0.0
          else if (standardization) regParamL1
          else if (featuresStd(j) != 0.0) regParamL1 / featuresStd(j)
          else 0.0
        new BreezeOWLQN[Int, BDV[Double]](lr.getMaxIter, 10, l1, lr.getTol)
      }
    val x0 = new Array[Double](if (fitIntercept) n + 1 else n)
    if (fitIntercept) x0(n) = math.log(plan.histogram(1) / plan.histogram(0))

    val inverseStd = featuresStd.map(std => if (std != 0) 1.0 / std else 0.0)
    val scaledMean = Array.tabulate(n)(i => inverseStd(i) * featuresMean(i))
    val scale = StandardScalerModel.getTransformFunc(Array.empty, inverseStd, false, true)
    val blockSizeInMB = if (lr.getMaxBlockSizeInMB == 0) InstanceBlock.DefaultBlockSizeInMB
      else lr.getMaxBlockSizeInMB
    val blocks = InstanceBlock.blokifyWithMaxMemUsage(
      instances.iterator.map(i => Instance(i.label, i.weight, scale(i.features))),
      (blockSizeInMB * 1024L * 1024L).ceil.toLong).toArray
    val bcInverseStd = new TaskBroadcast(inverseStd)
    val bcScaledMean = new TaskBroadcast(scaledMean)
    def aggregator(coefficients: Broadcast[Vector]) =
      new BinaryLogisticBlockAggregator(bcInverseStd, bcScaledMean, fitIntercept, fitIntercept)(
        coefficients)
    // RDDLossFunction.calculate, with its treeAggregate folded here
    val loss = new DiffFunction[BDV[Double]] {
      def calculate(x: BDV[Double]): (Double, BDV[Double]) = {
        val bcX = new TaskBroadcast(Vectors.fromBreeze(x))
        val agg = aggregator(bcX).merge(blocks.foldLeft(aggregator(bcX))(_.add(_)))
        val gradient = agg.gradient
        val regLoss = regularization.map { reg =>
          val (regLoss, regGradient) = reg.calculate(Vectors.fromBreeze(x))
          BLAS.axpy(1.0, regGradient, gradient)
          regLoss
        }.getOrElse(0.0)
        (agg.loss + regLoss, gradient.asBreeze.toDenseVector)
      }
    }

    // fitWithMean: optimize the intercept of the centred problem
    if (fitIntercept) x0(n) += BLAS.javaBLAS.ddot(n, x0, 1, scaledMean, 1)
    // Breeze yields the initial state first; `trainImpl` keeps the last
    val solution = optimizer.iterations(new CachedDiffFunction(loss), new BDV[Double](x0))
      .reduceLeft((_, s) => s).x.toArray
    if (fitIntercept) solution(n) -= BLAS.javaBLAS.ddot(n, solution, 1, scaledMean, 1)
    solution
  }

  /** The model `train`'s `createModel` builds, with `lr`'s params, scoring
    * a row as `transform`'s three columns do: `predictRaw`, then
    * `raw2probability` and `raw2prediction` of the raw vector. A subclass
    * only to reach those two, which are protected. */
  private final class Scorer(lr: LogisticRegression, numClasses: Int, coefficients: Matrix,
      intercept: Vector)
    extends LogisticRegressionModel(lr.uid, coefficients, intercept, numClasses, false) {
    lr.extractParamMap().toSeq.filter(p => hasParam(p.param.name))
      .foreach(p => set(getParam(p.param.name), p.value))

    def score(features: Vector): Seq[Any] = {
      val raw = predictRaw(features)
      Seq(raw, raw2probability(raw), raw2prediction(raw))
    }
  }

  /** A broadcast whose value is already in the task: the aggregator reads
    * its parameters through `Broadcast`, and this fit never leaves the task. */
  private final class TaskBroadcast[T: ClassTag](v: T) extends Broadcast[T](-1L) {
    override protected def getValue(): T = v
    override protected def doUnpersist(blocking: Boolean): Unit = ()
    override protected def doDestroy(blocking: Boolean): Unit = ()
  }
}
