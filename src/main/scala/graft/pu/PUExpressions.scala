package graft.pu

import org.apache.spark.ml.attribute.NominalAttribute
import org.apache.spark.ml.functions.vector_to_array
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

/** The PU learners' relational skeleton as *native Catalyst expressions*.
  *
  * The reference implements this per-row logic as three scalar Scala UDFs
  * (`getPOne` at TwoStepPULearner.scala:26-28 and the two `binarizeUDF`s at
  * TraditionalPULearner.scala:79-91 / GradualReductionPULearner.scala:89-101).
  * UDFs are codegen and pushdown barriers; every one of them is expressible
  * as built-in expressions (`when`/`otherwise`, `vector_to_array`), which
  * whole-stage codegen compiles into the surrounding operators — the right
  * shape for a 1000-executor scan. SURVEY.md §2.1 O9-O11.
  *
  * Ternary label encoding (reference: TraditionalPULearner.scala:93-96):
  * 1 = positive, 0 = reliable negative, -1 = undefined/unlabeled.
  */
object PUExpressions {
  val posLabel = 1
  val relNegLabel = 0
  val undefLabel = -1

  /** P(class 1) from an ML `probability` vector column — the reference's
    * `getPOne` UDF (TwoStepPULearner.scala:26-28) as a native expression.
    */
  def probOfPositive(probability: Column): Column =
    element_at(vector_to_array(probability), 2) // 1-based: index 2 = class 1

  /** Thresholding of one label state into reliable negatives — the
    * reference's `binarize` UDFs (TraditionalPULearner.scala:79-91,
    * GradualReductionPULearner.scala:89-101), generalized by
    * `labelToConsider` exactly as the GradualReduction variant:
    * rows whose previous label == labelToConsider become reliable negative
    * when score < threshold, else undefined; all other rows keep their
    * previous label. Strict `<` preserved (score == threshold stays undef).
    */
  def binarize(score: Column, prevLabel: Column, threshold: Double,
               labelToConsider: Int = undefLabel): Column =
    when(prevLabel === labelToConsider,
      when(score < threshold, lit(relNegLabel)).otherwise(lit(undefLabel)))
      .otherwise(prevLabel)

  /** Adds NominalAttribute metadata to a label column and casts to Double —
    * the reference's `indexLabelColumn` (TwoStepPULearner.scala:73-81).
    * StringIndexer is deliberately NOT used: it assigns indices by frequency,
    * which would nondeterministically flip class 0/1 (reference
    * TwoStepPULearner.scala:64-65); modern `ml` classifiers still read this
    * metadata for label cardinality.
    */
  def indexLabelColumn(df: DataFrame, inputCol: String, outputCol: String,
                       values: Seq[String]): DataFrame = {
    val meta = NominalAttribute.defaultAttr
      .withName(inputCol)
      .withValues(values.head, values.tail: _*)
      .toMetadata()
    df.withColumn(outputCol, col(inputCol).cast(DoubleType).as(outputCol, meta))
  }

  /** {1 -> 1, everything else -> replacement} label recode — the reference's
    * `replaceZerosByUndefLabel` (TwoStepPULearner.scala:95-103). Emits an
    * integer ternary label.
    */
  def replaceZerosByUndefLabel(df: DataFrame, origColName: String,
                               newColName: String, value2replace: Int,
                               value2keep: Int = posLabel): DataFrame =
    df.withColumn(newColName,
        when(col(origColName) === value2keep, lit(value2keep))
          .otherwise(lit(value2replace)))
      .drop(origColName)

  /** One-pass iteration metrics. The reference spends 1 (Traditional,
    * TraditionalPULearner.scala:47-50) to 4 (PU-LEA,
    * GradualReductionPULearner.scala:41-49,74-79) separate `count()` actions
    * per iteration — each a full pass over the data. At 100 TB that is the
    * dominant per-iteration cost; here they are conditional sums
    * ([[iterMetricCols]]) that ride the job materializing the iteration
    * (see `TwoStepPULearner.IterationState`), so they cost no pass at all.
    */
  case class IterMetrics(newRelNeg: Long, totalPos: Long, totalRelNeg: Long,
                         totalUndef: Long)

  object IterMetrics {
    /** Read from a row carrying the [[iterMetricCols]] (by name; the null
      * sum of an empty frame is 0). */
    def apply(row: Row): IterMetrics = {
      def l(name: String): Long =
        Option(row.getAs[java.lang.Long](name)).fold(0L)(_.longValue)
      IterMetrics(l("newRelNeg"), l("totalPos"), l("totalRelNeg"), l("totalUndef"))
    }
  }

  /** The [[IterMetrics]] as aggregate columns over one iteration's frame —
    * the reference's 1–4 `count()`s per iteration fused into one set. */
  def iterMetricCols(prevLabel: String, curLabel: String): Seq[Column] = Seq(
    sum(when(col(prevLabel) === undefLabel && col(curLabel) === relNegLabel, 1L)
      .otherwise(0L)).as("newRelNeg"),
    sum(when(col(curLabel) === posLabel, 1L).otherwise(0L)).as("totalPos"),
    sum(when(col(curLabel) === relNegLabel, 1L).otherwise(0L)).as("totalRelNeg"),
    sum(when(col(curLabel) === undefLabel, 1L).otherwise(0L)).as("totalUndef"))
}
