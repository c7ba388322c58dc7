package org.apache.spark.ml.classification

import java.util.Locale

import scala.reflect.ClassTag
import scala.util.Try

import breeze.linalg.{DenseVector => BDV}
import breeze.optimize.{CachedDiffFunction, DiffFunction, FirstOrderMinimizer,
  LBFGS => BreezeLBFGS, OWLQN => BreezeOWLQN}

import org.apache.spark.SparkException
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.ml.feature.{Instance, InstanceBlock, StandardScalerModel}
import org.apache.spark.ml.linalg.{BLAS, DenseMatrix, Matrix, SparseMatrix, Vector, Vectors}
import org.apache.spark.ml.optim.aggregator.BinaryLogisticBlockAggregator
import org.apache.spark.ml.optim.loss.L2Regularization
import org.apache.spark.ml.param.Params
import org.apache.spark.ml.stat.{MultiClassSummarizer, Summarizer, SummarizerBuffer}
import org.apache.spark.ml.util.{DatasetUtils, MetadataUtils}
import org.apache.spark.sql.{Dataset, Row}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types.DoubleType

/** A binary logistic regression fit as ONE Spark job: Spark 4.1.2's
  * `LogisticRegression.train`/`trainImpl`, replayed inside the single task
  * that holds the training partition, from Spark's own classes. The result
  * is a stock `LogisticRegressionModel` equal bit for bit to what
  * `LogisticRegression.fit` returns: coefficients, intercept, params and
  * the training summary's objective history.
  *
  * Stock `fit` runs one `treeAggregate` job for the feature and label
  * summaries and one per LBFGS loss evaluation, each closure-cleaned,
  * dispatched and collected by the driver; on a small input that dispatch is
  * the fit's cost. On one partition `treeAggregate` folds the partition over
  * a zero value and merges the result into another zero, which the task does
  * too, so every sum is taken in the same order.
  *
  * The task sends the two summaries back and the driver replays `train`'s
  * checks on them in `train`'s order, so an input `fit` rejects fails with
  * the same error class and message; NaN/Inf features and out-of-domain
  * labels fail inside the task, from `train`'s own check columns. What this
  * does not replay goes to stock `fit`: more than one partition, a weight
  * column, coefficient bounds, a multinomial fit. The estimator must carry no
  * initial model (`setInitialModel` is `private[spark]`).
  */
object LocalLogisticFit {

  /** `train`'s reading of the summaries, before it optimizes. */
  private final case class Plan(numFeatures: Int, numClasses: Int, multinomial: Boolean,
      constantLabel: Boolean, histogram: Array[Double])

  /** The task's answer: the summaries, and the solution and objective
    * history when `train` reaches its optimizer. */
  private final case class Answer(features: SummarizerBuffer, labels: MultiClassSummarizer,
      solved: Option[(Array[Double], Array[Double])])

  def fit(lr: LogisticRegression, dataset: Dataset[_]): LogisticRegressionModel = {
    // Predictor.fit: validate the schema, cast the label keeping its metadata
    lr.transformSchema(dataset.schema)
    val label = lr.getLabelCol
    val casted = dataset.withColumn(label, col(label).cast(DoubleType),
      dataset.schema(label).metadata)
    val rows = casted.select(
      DatasetUtils.checkClassificationLabels(label, None),
      DatasetUtils.checkNonNegativeWeights(None),
      DatasetUtils.checkNonNanVectors(lr.getFeaturesCol)).rdd
    val bounded = Seq(lr.lowerBoundsOnCoefficients, lr.upperBoundsOnCoefficients,
      lr.lowerBoundsOnIntercepts, lr.upperBoundsOnIntercepts).exists(lr.isSet(_))
    if (lr.isSet(lr.weightCol) || bounded ||
        lr.getFamily.toLowerCase(Locale.ROOT) == "multinomial" || rows.getNumPartitions != 1)
      return lr.fit(dataset)
    val numClassesMeta = MetadataUtils.getNumClasses(casted.schema(label))
    val answer = rows.mapPartitions { it =>
      val instances = it.map { case Row(l: Double, w: Double, v: Vector) => Instance(l, w, v) }
      Iterator(fitPartition(lr, numClassesMeta, instances.toArray))
    }.collect().head

    val plan = readSummaries(lr, numClassesMeta, answer.features, answer.labels)
    if (plan.multinomial) return lr.fit(dataset)
    val n = plan.numFeatures
    val model = if (lr.getFitIntercept && plan.constantLabel) { // `train`'s early return
      createModel(lr, casted, plan.numClasses,
        new SparseMatrix(1, n, new Array[Int](2), Array.emptyIntArray, Array.emptyDoubleArray,
          isTransposed = true).compressed,
        Vectors.dense(if (plan.numClasses == 2) Double.PositiveInfinity
          else Double.NegativeInfinity),
        Array(0.0))
    } else {
      val (solution, history) = answer.solved.get
      val featuresStd = answer.features.std.toArray
      val coefficients = new DenseMatrix(1, n, new Array[Double](n), isTransposed = true)
      val intercept = Vectors.zeros(1)
      new DenseMatrix(1, solution.length, solution).foreachActive { (i, j, v) =>
        val isIntercept = lr.getFitIntercept && j == n
        if (!isIntercept && featuresStd(j) != 0.0) coefficients.update(i, j, v / featuresStd(j))
        if (isIntercept) intercept.toArray(i) = v
      }
      createModel(lr, casted, plan.numClasses, coefficients.compressed, intercept.compressed,
        history)
    }
    model.setParent(lr) // Predictor.fit
  }

  /** `train`'s checks and decisions on the two summaries, in its order and
    * with its messages. */
  private def readSummaries(lr: LogisticRegression, numClassesMeta: Option[Int],
      features: SummarizerBuffer, labels: MultiClassSummarizer): Plan = {
    val numFeatures = features.mean.size
    val histogram = labels.histogram
    val numClasses = numClassesMeta match {
      case Some(n) =>
        require(n >= histogram.length, s"Specified number of classes $n was " +
          s"less than the number of unique labels ${histogram.length}.")
        n
      case None => histogram.length
    }
    val multinomial = lr.getFamily.toLowerCase(Locale.ROOT) match {
      case "multinomial" => true
      case "binomial" =>
        require(numClasses == 1 || numClasses == 2, "Binomial family only supports 1 or 2 " +
          s"outcome classes but found $numClasses.")
        false
      case _ => numClasses > 2 // "auto"
    }
    if (lr.isDefined(lr.thresholds)) {
      require(lr.getThresholds.length == numClasses, lr.getClass.getSimpleName +
        ".train() called with non-matching numClasses and thresholds.length." +
        s" numClasses=$numClasses, but thresholds has length ${lr.getThresholds.length}")
    }
    if (labels.countInvalid != 0) throw new SparkException(
      s"Classification labels should be in [0 to ${numClasses - 1}]. " +
        s"Found ${labels.countInvalid} invalid labels.")
    Plan(numFeatures, numClasses, multinomial, histogram.count(_ != 0.0) == 1, histogram)
  }

  /** Runs in the task: the summaries as `treeAggregate` builds them on one
    * partition, then the optimization when `train` would reach it. */
  private def fitPartition(lr: LogisticRegression, numClassesMeta: Option[Int],
      instances: Array[Instance]): Answer = {
    def zero = (Summarizer.createSummarizerBuffer("mean", "std", "count"), new MultiClassSummarizer)
    val (f, l) = instances.foldLeft(zero) { case ((f, l), i) =>
      (f.add(i.features, i.weight), l.add(i.label, i.weight))
    }
    val (z, zl) = zero
    val (features, labels) = (z.merge(f), zl.merge(l))
    val solved = Try(readSummaries(lr, numClassesMeta, features, labels)).toOption
      .filter(p => !p.multinomial && !(lr.getFitIntercept && p.constantLabel))
      .map(optimize(lr, _, features, instances))
    Answer(features, labels, solved)
  }

  /** `train` from its regularization through `trainImpl`, for one binary
    * coefficient set: the solution and the objective history. */
  private def optimize(lr: LogisticRegression, plan: Plan, features: SummarizerBuffer,
      instances: Array[Instance]): (Array[Double], Array[Double]) = {
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
    val history = Array.newBuilder[Double]
    var state: optimizer.State = null
    val states = optimizer.iterations(new CachedDiffFunction(loss), new BDV[Double](x0))
    while (states.hasNext) {
      state = states.next()
      history += state.adjustedValue
    }
    val solution = state.x.toArray // Breeze yields the initial state first
    if (fitIntercept) solution(n) -= BLAS.javaBLAS.ddot(n, solution, 1, scaledMean, 1)
    (solution, history.result())
  }

  /** `train`'s `createModel`: the model, `lr`'s params and the summary. */
  private def createModel(lr: LogisticRegression, dataset: Dataset[_], numClasses: Int,
      coefficients: Matrix, intercept: Vector, history: Array[Double]): LogisticRegressionModel = {
    val model = copyValues(lr,
      new LogisticRegressionModel(lr.uid, coefficients, intercept, numClasses, false))
    model.createSummary(dataset, history)
    model
  }

  /** `Params.copyValues`, which is protected: `from`'s defaults and set
    * values onto `to`'s params of the same name. */
  private def copyValues[T <: Params](from: Params, to: T): T = {
    for (p <- from.params if to.hasParam(p.name)) {
      val tp = to.getParam(p.name)
      from.getDefault(p).foreach(to.defaultParamMap.put(tp, _))
      from.get(p).foreach(to.set(tp, _))
    }
    to
  }

  /** A broadcast whose value is already in the task: the aggregator reads
    * its parameters through `Broadcast`, and this fit never leaves the task. */
  private final class TaskBroadcast[T: ClassTag](v: T) extends Broadcast[T](-1L) {
    override protected def getValue(): T = v
    override protected def doUnpersist(blocking: Boolean): Unit = ()
    override protected def doDestroy(blocking: Boolean): Unit = ()
  }
}
