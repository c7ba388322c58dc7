package graft.pu

import org.apache.spark.ml.attribute.NominalAttribute
import org.apache.spark.ml.linalg.Vectors
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType

import graft.SparkSuite

/** Truth-table tests for the native expressions that replace the
  * reference's UDFs (SURVEY.md §5.2 item 1).
  */
class PUExpressionsSpec extends SparkSuite {
  import PUExpressions._

  /** Independent Scala re-statement of the reference binarize semantics
    * (TraditionalPULearner.scala:79-91 / GradualReductionPULearner.scala:89-101).
    */
  private def binarizeRef(score: Double, prev: Int, theta: Double, consider: Int): Int =
    if (prev == consider) { if (score < theta) relNegLabel else undefLabel } else prev

  test("binarize matches reference truth table incl. boundary score == threshold") {
    import spark.implicits._
    val theta = 0.5
    val cases = for {
      score <- Seq(0.0, 0.25, 0.4999999, 0.5, 0.5000001, 0.75, 1.0)
      prev <- Seq(posLabel, relNegLabel, undefLabel)
    } yield (score, prev)
    val df = cases.toDF("score", "prev")
    for (consider <- Seq(undefLabel, relNegLabel)) {
      val got = df.withColumn("cur", binarize(col("score"), col("prev"), theta, consider))
        .collect().map(r => ((r.getDouble(0), r.getInt(1)), r.getInt(2))).toMap
      for ((s, p) <- cases)
        assert(got((s, p)) == binarizeRef(s, p, theta, consider),
          s"score=$s prev=$p consider=$consider")
    }
  }

  test("positives never change label under binarize") {
    import spark.implicits._
    val df = (0 until 100).map(i => (i / 100.0, posLabel)).toDF("score", "prev")
    val changed = df.withColumn("cur", binarize(col("score"), col("prev"), 0.5))
      .filter(col("cur") =!= posLabel).count()
    assert(changed == 0)
  }

  test("replaceZerosByUndefLabel recodes {1->1, else->-1} and drops source") {
    import spark.implicits._
    val df = Seq(1, 0, 0, 1, 0).toDF("lbl")
    val out = replaceZerosByUndefLabel(df, "lbl", "prev", undefLabel)
    assert(out.columns.toSeq == Seq("prev"))
    assert(out.collect().map(_.getInt(0)).toSeq == Seq(1, -1, -1, 1, -1))
  }

  test("indexLabelColumn casts to double and attaches nominal metadata") {
    import spark.implicits._
    val out = indexLabelColumn(Seq(0, 1, 1).toDF("y"), "y", "label", Seq("0", "1"))
    val field = out.schema("label")
    assert(field.dataType == DoubleType)
    val attr = NominalAttribute.fromStructField(field)
    assert(attr.isNominal)
    assert(out.select("label").collect().map(_.getDouble(0)).toSeq == Seq(0.0, 1.0, 1.0))
  }

  test("probOfPositive extracts P(class 1) from ml probability vectors") {
    import spark.implicits._
    val df = Seq(Tuple1(Vectors.dense(0.3, 0.7)), Tuple1(Vectors.dense(0.9, 0.1)))
      .toDF("probability")
    val got = df.select(probOfPositive(col("probability"))).collect().map(_.getDouble(0))
    assert(got.toSeq == Seq(0.7, 0.1))
  }

  test("iterMetrics fuses the reference's per-iteration counts into one pass") {
    import spark.implicits._
    // (prev, cur): 2 new relnegs, 3 pos, 3 relneg total, 2 undef
    val df = Seq((-1, 0), (-1, 0), (0, 0), (1, 1), (1, 1), (1, 1), (-1, -1), (-1, -1))
      .toDF("prev", "cur")
    val ms = iterMetricCols("prev", "cur")
    val m = IterMetrics(df.agg(ms.head, ms.tail: _*).head())
    assert(m == IterMetrics(2, 3, 3, 2))
  }
}
