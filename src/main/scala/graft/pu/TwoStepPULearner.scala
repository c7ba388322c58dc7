package graft.pu

import org.apache.spark.ml.attribute.AttributeGroup
import org.apache.spark.ml.classification.{LocalLogisticFit, LogisticRegression,
  ProbabilisticClassificationModel, ProbabilisticClassifier}
import org.apache.spark.ml.feature.VectorIndexer
import org.apache.spark.ml.linalg.{SQLDataTypes, Vector}
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions.{col, lit, max, min}

import graft.functions.NativeExpressions.vectorSize

/** Two-step PU learning skeleton: step one picks "reliable negatives" from
  * the unlabeled pool, step two trains a binary classifier on positives +
  * reliable negatives (reference:
  * src/main/scala/ru/ispras/pu4spark/TwoStepPULearner.scala:12-23).
  *
  * Scale changes vs the reference (SURVEY.md §4.3):
  *  - per-row logic is native expressions (see [[PUExpressions]]), no UDFs;
  *  - iteration state management truncates lineage and frees superseded
  *    iterations (the reference `cache()`s every iteration and never frees —
  *    unbounded plan growth + a memory leak at scale);
  *  - the input is stored once and narrowed to the partitions its measured
  *    bytes warrant ([[graft.operators.Spread.toMeasuredSize]]), and every
  *    fit trains on that narrowed frame: each LBFGS iteration is then one
  *    stage and one task on a small input instead of a map stage plus a
  *    shuffle to one task, while an input whose partitions already average
  *    the advisory size keeps all of them;
  *  - a logistic regression whose input measures within one advisory
  *    partition fits and scores in the task holding the partition
  *    ([[LocalLogisticFit]]): a lazy frame whose task runs the whole
  *    LBFGS/OWLQN optimization and appends `transform`'s columns, bit for
  *    bit, so each round (fit, scores, thresholds, metrics, store) is one
  *    job. Spark ML's `fit`, which the reference calls, dispatches one job
  *    per loss evaluation and sends the model through the driver. The
  *    decision is made once per `weight`/`zeroStep` call from the stored
  *    input's measured bytes; a wider input and RandomForest keep Spark
  *    ML's `fit` and `transform`;
  *  - the input's store job observes its vectors' sizes; when they agree,
  *    the indexer's fit reads that size from its input's schema, so
  *    `VectorIndexer` runs no `head()` job to find it.
  */
abstract class TwoStepPULearner[
    E <: ProbabilisticClassifier[Vector, E, M],
    M <: ProbabilisticClassificationModel[Vector, M]](
    classifier: ProbabilisticClassifier[Vector, E, M]) extends PositiveUnlabeledLearner {

  import PUExpressions._

  /** Transient columns appended by `model.transform` that must be dropped
    * before the next fit/transform (name collisions) and before returning
    * (reference drops them piecemeal at TraditionalPULearner.scala:31-32,71).
    */
  protected val transientCols: Seq[String] =
    Seq("probability", "prediction", "rawPrediction", ProbabilisticClassifierConfig.labelName)

  /** Step zero: treat every unlabeled row as negative, fit, and score all
    * rows; the score is a reliability measure over the unlabeled pool
    * (reference: TwoStepPULearner.scala:40-60).
    *
    * The reference always runs VectorIndexer(maxCategories=4) before the fit
    * (TwoStepPULearner.scala:47-54) because RandomForest needs categorical
    * metadata. That is one extra full pass over the features; it is kept for
    * behavioral parity (it is the identity on continuous features).
    * A deliberately-skipped MinMaxScaler in the reference
    * (TwoStepPULearner.scala:43-45) is likewise not reproduced.
    *
    * The input is stored for the fit and freed at the next
    * [[graft.CheckpointUtil.releaseStragglers]].
    */
  def zeroStep(df: DataFrame, labelColumnName: String, featuresColumnName: String,
               finalLabel: String): DataFrame =
    storedZeroStep(df, labelColumnName, featuresColumnName, finalLabel).scored

  /** [[zeroStep]], with the stored input it scored and the fit every refit
    * uses. The input is materialized once and narrowed by its measured
    * bytes; the indexer fit and the scoring fit both read the narrowed
    * frame, so every generation computed from the scores keeps its
    * partition count. The stored input stays tracked: a caller that runs
    * iterations hands it to [[TwoStepPULearner.IterationState]], which frees
    * it once the first generation exists. */
  protected def storedZeroStep(df: DataFrame, labelColumnName: String,
      featuresColumnName: String, finalLabel: String): TwoStepPULearner.ZeroStep = {
    val (stored, observed) = graft.CheckpointUtil.materialize(
      indexLabelColumn(df, labelColumnName, ProbabilisticClassifierConfig.labelName, Seq("0", "1")),
      sizeMetrics(df, featuresColumnName): _*)
    val fit = fitter(graft.operators.Spread.measuredPartitions(stored) == 1)
    val input = graft.operators.Spread.toMeasuredSize(stored)
    val featureIndexer = new VectorIndexer()
      .setInputCol(featuresColumnName)
      .setOutputCol(ProbabilisticClassifierConfig.featuresName)
      .setMaxCategories(4) // >4 distinct values => treated as continuous
    val preparedDf = featureIndexer.fit(withVectorSize(input, featuresColumnName, observed))
      .transform(input)

    TwoStepPULearner.ZeroStep(stored,
      fit(preparedDf, lit(true)).withColumn(finalLabel, probOfPositive(col("probability"))), fit)
  }

  /** The min and max size of `df`'s vectors in column `c`, as metrics of
    * the input's store job, when `c` is a vector column without an ML
    * attribute size. */
  private def sizeMetrics(df: DataFrame, c: String): Seq[Column] =
    df.schema.find(_.name == c).filter(f => f.dataType == SQLDataTypes.VectorType &&
      AttributeGroup.fromStructField(f).size < 0).toSeq
      .flatMap(_ => Seq(min(vectorSize(col(c))).as("minSize"),
        max(vectorSize(col(c))).as("maxSize")))

  /** `input` with its vector column `c` carrying the ML attribute size that
    * [[sizeMetrics]] observed on every vector, so `VectorIndexer.fit` reads
    * the feature count from the schema instead of running a `head()` job
    * (its model's output is the same either way; the caller's column keeps
    * its own metadata). Vectors of differing sizes leave the column alone,
    * so the stock error still fires. */
  private def withVectorSize(input: DataFrame, c: String, observed: Row): DataFrame =
    if (!observed.schema.fieldNames.contains("minSize")) input
    else (observed.getAs[Integer]("minSize"), observed.getAs[Integer]("maxSize")) match {
      case (lo, hi) if lo != null && lo == hi => input.withColumn(c,
        col(c).as(c, new AttributeGroup(c, lo).toMetadata(input.schema(c).metadata)))
      case _ => input
    }

  /** The classifier's fit on the rows where `train` holds, scoring every
    * row of the frame: in one task for a logistic regression whose input
    * fills at most one advisory partition (one task never holds more), else
    * Spark ML's own `fit` and `transform`. */
  private def fitter(oneTask: Boolean): TwoStepPULearner.FitAndScore =
    (classifier: AnyRef) match {
      case lr: LogisticRegression if oneTask =>
        (df, train) => LocalLogisticFit.fitAndScore(lr, df, train)
      case _ => (df, train) => classifier.fit(df.filter(train)).transform(df)
    }

  /** Fit on the currently-labeled subset and rescore ALL rows, overwriting
    * `finalLabel`; shared by both iterative learners (reference:
    * TraditionalPULearner.scala:56-71, GradualReductionPULearner.scala:54-66).
    */
  protected def refitAndRescore(fit: TwoStepPULearner.FitAndScore, curDF: DataFrame,
      curLabel: String, finalLabel: String): DataFrame = {
    val prepared = indexLabelColumn(curDF, curLabel,
      ProbabilisticClassifierConfig.labelName, Seq("0", "1"))
    fit(prepared, col(curLabel) =!= undefLabel)
      .withColumn(finalLabel, probOfPositive(col("probability")))
      .drop(transientCols: _*)
  }

}

object TwoStepPULearner {
  import PUExpressions.{IterMetrics, iterMetricCols}

  /** A classifier fit on a frame's rows where the column holds, and the
    * frame with the model's `transform` columns for every row. */
  type FitAndScore = (DataFrame, Column) => DataFrame

  /** [[TwoStepPULearner.zeroStep]]'s outcome: the stored input, its scores,
    * and the classifier fit chosen for that input. */
  final case class ZeroStep(input: DataFrame, scored: DataFrame, fit: FitAndScore)

  /** Iteration-state manager: every generation is
    * [[graft.CheckpointUtil.materialize]]d — lineage-free (iterative
    * withColumn/rename otherwise grows an unbounded Catalyst plan —
    * analysis time blows up past ~10 iterations) — with its
    * [[IterMetrics]] observed in that same job, and the superseded
    * generation is freed as soon as the new one exists. `input`, a stored
    * frame the first generation is computed from (the zero step's input),
    * is freed like a superseded generation.
    */
  private[graft] final class IterationState(prevLabel: String, curLabel: String,
      input: Option[DataFrame] = None) {
    private var prev: Option[DataFrame] = input

    def advance(df: DataFrame): (DataFrame, IterMetrics) = {
      val (cur, metrics) =
        graft.CheckpointUtil.materialize(df, iterMetricCols(prevLabel, curLabel): _*)
      prev.foreach(graft.CheckpointUtil.releaseCheckpoint)
      prev = Some(cur)
      (cur, IterMetrics(metrics))
    }
  }
}
