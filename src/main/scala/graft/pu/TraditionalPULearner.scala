package graft.pu

import org.apache.spark.ml.classification.{ProbabilisticClassificationModel, ProbabilisticClassifier}
import org.apache.spark.ml.linalg.Vector
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

/** Original PU learning algorithm (Liu et al., ICML 2002; pseudocode per
  * Fusilier et al., IP&M 51(4), 2015) — iteratively converts confidently-low-
  * scored unlabeled rows into reliable negatives and refits
  * (reference: src/main/scala/ru/ispras/pu4spark/TraditionalPULearner.scala:9-76).
  *
  * Control flow lives on the driver (ML iteration, not tuple-at-a-time);
  * data stays distributed. Per iteration: one materializing job carrying
  * the fused metrics ([[PUExpressions.iterMetricCols]] — the reference runs
  * a separate `count()`) + one fit + one transform.
  */
class TraditionalPULearner[
    E <: ProbabilisticClassifier[Vector, E, M],
    M <: ProbabilisticClassificationModel[Vector, M]](
    relNegThreshold: Double,
    maxIters: Int,
    classifier: ProbabilisticClassifier[Vector, E, M])
  extends TwoStepPULearner[E, M](classifier) {

  import PUExpressions._

  override def weight(df: DataFrame, labelColumnName: String,
                      featuresColumnName: String, finalLabel: String): DataFrame = {
    val zero = storedZeroStep(df, labelColumnName, featuresColumnName, finalLabel)
    val oneStepPUDF = zero.scored.drop(transientCols: _*)

    val prevLabel = "prevLabel"
    val curLabel = "curLabel"

    // 0 -> undefined(-1), 1 stays positive (reference :40)
    var curDF = replaceZerosByUndefLabel(oneStepPUDF, labelColumnName, prevLabel, undefLabel)
    val state = new TwoStepPULearner.IterationState(prevLabel, curLabel, Some(zero.input))

    for (_ <- 1 to maxIters) {
      // threshold unlabeled rows into reliable negatives (reference :44-46)
      val (thresholded, metrics) = state.advance(
        curDF.withColumn(curLabel,
          binarize(col(finalLabel), col(prevLabel), relNegThreshold, undefLabel)))

      // newly-converted reliable negatives; early exit when none (reference :47-55)
      if (metrics.newRelNeg == 0) {
        return thresholded.drop(ProbabilisticClassifierConfig.featuresName)
      }

      // refit on positives + reliable negatives, rescore all rows (reference :56-71)
      curDF = refitAndRescore(zero.fit, thresholded, curLabel, finalLabel)
      // rotate labels for the next iteration (reference :72-73)
      curDF = curDF.drop(prevLabel).withColumnRenamed(curLabel, prevLabel)
    }
    curDF.drop(ProbabilisticClassifierConfig.featuresName)
  }
}

object TraditionalPULearner {
  val relNegLabel: Int = PUExpressions.relNegLabel
  val undefLabel: Int = PUExpressions.undefLabel
}

/** Defaults match the reference (TraditionalPULearner.scala:98-100). */
case class TraditionalPULearnerConfig(relNegThreshold: Double = 0.5,
                                      maxIters: Int = 1,
                                      classifierConfig: ProbabilisticClassifierConfig =
                                        LogisticRegressionConfig())
  extends PositiveUnlabeledLearnerConfig {
  override def build(): PositiveUnlabeledLearner = classifierConfig match {
    case lrc: LogisticRegressionConfig =>
      new TraditionalPULearner(relNegThreshold, maxIters, lrc.build())
    case rfc: RandomForestConfig =>
      new TraditionalPULearner(relNegThreshold, maxIters, rfc.build())
  }
}
