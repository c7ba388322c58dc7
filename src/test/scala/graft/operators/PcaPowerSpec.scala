package graft.operators

import org.apache.spark.sql.functions._

import graft.{SparkEntry, SparkSuite, Tables}

/** `sim_pca_power` semantics: the returned direction is unit-norm and
  * captures at least as much variance as any coordinate axis — i.e. the
  * iteration genuinely converged toward the dominant direction rather
  * than just being deterministic. */
class PcaPowerSpec extends SparkSuite {

  test("dominant direction is unit-norm and beats every coordinate axis") {
    val rows = SparkEntry.queries("sim_pca_power")(spark, sf001)
      .orderBy("dim").collect()
    assert(rows.length == 64)
    val v = rows.map(_.getDouble(1))
    assert(math.abs(v.map(x => x * x).sum - 1.0) < 1e-9)
    assert(rows.exists(_.getLong(2) != 0L), "mat-vec units must be non-zero")

    // Rayleigh quotient of v vs the best coordinate axis
    val emb = Tables.embeddings(spark, sf001).select(col("embedding"))
    val vLit = array(v.toSeq.map(lit): _*)
    val y = aggregate(
      zip_with(col("embedding"), vLit, (e, w) => e.cast("double") * w),
      lit(0.0), (a, x) => a + x)
    val rayV = emb.select(sum(y * y).as("r")).head.getDouble(0)
    val axis = emb.select(posexplode(col("embedding")).as(Seq("j", "e")))
      .groupBy("j").agg(sum(col("e") * col("e")).as("r"))
      .agg(max("r")).head.getDouble(0)
    assert(rayV >= 0.95 * axis,
      s"Rayleigh(v)=$rayV must approach/beat the best axis ($axis)")
  }

  test("the power loop runs one job per round, with the caller's AQE left on") {
    val pca = SparkEntry.queries("sim_pca_power")
    pca(spark, sf001) // the spread probe is memoized per session: warm it
    val jobs = jobsDuring(pca(spark, sf001))._2.jobs
    // one per round (the first riding the store job), plus the parquet
    // schema read and the spread exchange under the stored frame (built at
    // the store, under the caller's AQE)
    assert(jobs == SimilarityQueries.PcaIters + 2, s"$jobs jobs")
    assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
  }

  test("whitening removes exactly the projected mass (Pythagoras per row)") {
    val w = SparkEntry.queries("sim_whiten_topdrop")(spark, sf001).persist()
    assert(w.count() == Tables.embeddings(spark, sf001).count())
    // ||x'||² = ||x||² − ⟨x,v⟩² for unit v, up to fp rounding
    assert(w.filter(abs(col("norm2_after") -
      (col("norm2_before") - col("y") * col("y"))) > 1e-9).count() == 0)
    assert(w.filter(col("norm2_after") > col("norm2_before") + 1e-12).count() == 0)
    // the removal must be non-vacuous: some vectors project substantially
    assert(w.filter(col("y") * col("y") > col("norm2_before") * 0.01).count() > 0)
    w.unpersist()
  }
}
