package graft.pu

import org.apache.spark.ml.classification._
import org.apache.spark.ml.linalg.Vector

/** Pluggable probabilistic classifier configs
  * (reference: src/main/scala/ru/ispras/pu4spark/ProbabilisticClassifierConfig.scala:9-35),
  * rebuilt on `ml.linalg.Vector`.
  */
sealed trait ProbabilisticClassifierConfig

/** Defaults match the reference (ProbabilisticClassifierConfig.scala:11-13).
  *
  * In a PU learner, each fit of this classifier and the scoring of every
  * row with it run in the one task that holds the rows, inside the job
  * that stores the round, when the learner's stored input measures within
  * one `spark.sql.adaptive.advisoryPartitionSizeInBytes`
  * ([[org.apache.spark.ml.classification.LocalLogisticFit]]); the scores
  * are Spark ML's `fit` + `transform`'s, bit for bit. A larger input fits
  * with Spark ML's `fit`, one job per LBFGS loss evaluation.
  */
case class LogisticRegressionConfig(maxIter: Int = 100,
                                    regParam: Double = 1.0e-8,
                                    elasticNetParam: Double = 0.0)
  extends ProbabilisticClassifierConfig {
  def build(): ProbabilisticClassifier[Vector, LogisticRegression, LogisticRegressionModel] =
    new LogisticRegression()
      .setLabelCol(ProbabilisticClassifierConfig.labelName)
      .setFeaturesCol(ProbabilisticClassifierConfig.featuresName)
      .setMaxIter(maxIter).setRegParam(regParam).setElasticNetParam(elasticNetParam)
}

/** Default numTrees matches the reference (ProbabilisticClassifierConfig.scala:22);
  * a fixed seed is added so PU runs are reproducible (the rebuild's test
  * harness depends on determinism; SURVEY.md §5.2).
  */
case class RandomForestConfig(numTrees: Int = 512, seed: Long = 42L)
  extends ProbabilisticClassifierConfig {
  def build(): ProbabilisticClassifier[Vector, RandomForestClassifier, RandomForestClassificationModel] =
    new RandomForestClassifier()
      .setLabelCol(ProbabilisticClassifierConfig.labelName)
      .setFeaturesCol(ProbabilisticClassifierConfig.featuresName)
      .setNumTrees(numTrees).setSeed(seed)
}

object ProbabilisticClassifierConfig {
  /** Internal training-label column (carries NominalAttribute metadata).
    * The reference names this plain "label"
    * (ProbabilisticClassifierConfig.scala:32), which silently clobbers and
    * then drops any user column of the same name — a real collision (the
    * embeddings fixture has a `label` column). Prefixed names make the
    * internals collision-proof; both are dropped before `weight` returns.
    */
  val labelName = "graft_pu__label"
  /** VectorIndexer output column used as the classifiers' features input. */
  val featuresName = "graft_pu__indexed_features"
  val subclasses: List[Class[_]] =
    List(classOf[LogisticRegressionConfig], classOf[RandomForestConfig])
}
