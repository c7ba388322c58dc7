package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.{SparkEntry, SparkSuite, Tables}
import graft.operators.{CurationPipeline, Dedup, Similarity}

/** The incremental curation lifecycle AS A STREAM: the new batch arrives
  * in doc_id-ascending micro-batches (a daily-ingest queue), each
  * foreachBatch curates its slice against the standing corpus state PLUS
  * the state accumulated from earlier micro-batches, and the union of all
  * emitted survivors equals the one-shot `pipeline_e2e_incremental`.
  *
  * Why equality is exact and not approximate: every greedy rule in the
  * chain is greedy-BY-ID (paragraph canonical = min (doc_id, pidx);
  * semantic victim = tau-near ANY lower id), so processing ids in
  * ascending arrival order with accumulating state IS the batch
  * computation, micro-batch boundaries cannot move any decision. That is
  * the property that makes the operator deployable as a stream at all —
  * and this spec is what pins it.
  */
class StreamingIncrementalCurationSpec extends AnyFunSuite with SparkSuite {

  private val sfDir = "/root/testdata/sf0.001"

  /** Stored REGISTERED for release — the spec's state frames must not
    * outlive the test in the shared session. */
  private implicit class Ck(df: DataFrame) {
    def ckpt: DataFrame = graft.CheckpointUtil.materialize(df)._1
  }

  test("doc_id-ordered micro-batch ingest == one-shot pipeline_e2e_incremental") {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val docs = Tables.documents(spark, sfDir)
      .select(col("doc_id"), col("text"), col("source"))
    val maxId = docs.agg(max(col("doc_id"))).head().getLong(0)
    val boundary = maxId * 4 / 5
    val corpus = docs.filter(col("doc_id") <= boundary)
    val evalDocs = docs.filter(col("source") === "src19")

    // ---- standing corpus state, built once (same as the batch query) ----
    val qC = CurationPipeline.qualitySurvivors(corpus).ckpt
    val parasC = CurationPipeline.explodeParagraphs(qC).ckpt
    val s2C = CurationPipeline.paragraphSurvivors(
      CurationPipeline.paragraphAggOf(parasC))
    val embC = CurationPipeline.embed(
      qC.join(s2C.select("doc_id"), "doc_id")).ckpt
    val cents = Similarity.collectCentroids(
      Similarity.lowestIdCentroids(embC, CurationPipeline.SemCentroids))
    val asgC = Similarity.ivfAssignWith(embC, cents).ckpt

    // ---- accumulating new-arrival state ----
    val emptyParas = parasC.limit(0)
    var seenParas = emptyParas // all paras of arrived quality survivors
    var seenVecs = asgC.limit(0) // assigned vectors of arrived para-survivors
    var emitted = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      new org.apache.spark.sql.types.StructType()
        .add("doc_id", "long", nullable = false)
        .add("n_paras", "long", nullable = false)
        .add("n_dup", "long", nullable = false)
        .add("cen_id", "long", nullable = true))

    def processChunk(chunk: DataFrame): Unit = {
      val qN = CurationPipeline.qualitySurvivors(chunk).ckpt
      val parasN = CurationPipeline.explodeParagraphs(qN).ckpt
      // paragraph stage against corpus + earlier arrivals
      val stateHits = parasC.select("h").union(seenParas.select("h"))
        .join(broadcast(parasN.select("h").distinct()), Seq("h"), "left_semi")
        .distinct().withColumn("in_state", lit(true))
      val canonN = parasN.groupBy(col("h"))
        .agg(min(struct(col("doc_id"), col("pidx"))).as("c"))
        .select(col("h"), col("c").getField("doc_id").as("c_doc"),
          col("c").getField("pidx").as("c_pidx"))
      val pagg = parasN.join(canonN, "h")
        .join(broadcast(stateHits), Seq("h"), "left")
        .withColumn("kept", not(coalesce(col("in_state"), lit(false))) &&
          col("doc_id") === col("c_doc") && col("pidx") === col("c_pidx"))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_paras"),
          sum(when(col("kept"), 0L).otherwise(1L)).as("n_dup"))
        .ckpt
      val s2N = CurationPipeline.paragraphSurvivors(pagg)
      // semantic stage against corpus lists + earlier arrivals
      val asgN = Similarity.ivfAssignWith(
        CurationPipeline.embed(qN.join(s2N.select("doc_id"), "doc_id")), cents)
        .ckpt
      val attackers = asgC.union(seenVecs)
        .select(col("cen_id"), col("v").as("cv"), col("nrm").as("cnrm"))
      val vsState = attackers.join(broadcast(asgN), "cen_id")
        .filter(Dedup.cosine(col("cv"), col("v"), col("cnrm"), col("nrm"))
          >= CurationPipeline.SemTau)
        .select(col("vec_id"))
      val vsIn = asgN.select(col("cen_id"), col("vec_id").as("id_a"),
          col("v").as("v_a"), col("nrm").as("nrm_a"))
        .join(asgN.select(col("cen_id"), col("vec_id").as("id_b"),
          col("v").as("v_b"), col("nrm").as("nrm_b")), "cen_id")
        .filter(col("id_a") < col("id_b"))
        .filter(Dedup.cosine(col("v_a"), col("v_b"), col("nrm_a"), col("nrm_b"))
          >= CurationPipeline.SemTau)
        .select(col("id_b").as("vec_id"))
      val victims = vsState.union(vsIn).distinct()
      val s3N = asgN.join(broadcast(victims), Seq("vec_id"), "left_anti")
        .select(col("vec_id").as("doc_id"), col("cen_id"))
      // decontamination (eval slice is static state)
      val s4N = CurationPipeline.decontaminate(chunk.join(s3N, "doc_id"), evalDocs)
      // emit + advance state
      emitted = emitted.union(
        s4N.join(pagg, "doc_id")
          .select(col("doc_id"), col("n_paras"), col("n_dup"), col("cen_id")))
        .ckpt
      seenParas = seenParas.union(parasN).ckpt
      seenVecs = seenVecs.union(asgN).ckpt
    }

    val arrivals = docs.filter(col("doc_id") > boundary)
      .orderBy("doc_id")
      .select(col("doc_id"), col("text"), col("source"))
      .as[(Long, String, String)].collect()
    assert(arrivals.length >= 3, "fixture must leave a non-trivial new batch")

    val source = MemoryStream[(Long, String, String)]
    val stream = source.toDF().toDF("doc_id", "text", "source")
      .writeStream.outputMode("append")
      .foreachBatch { (df: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        processChunk(df.select("doc_id", "text", "source"))
      }
      .start()
    // three doc_id-ascending micro-batches (uneven sizes on purpose)
    val chunks = Seq(
      arrivals.take(arrivals.length / 4),
      arrivals.slice(arrivals.length / 4, arrivals.length / 2),
      arrivals.drop(arrivals.length / 2))
    chunks.filter(_.nonEmpty).foreach { c =>
      source.addData(c.toSeq); stream.processAllAvailable()
    }
    stream.stop()

    val want = SparkEntry.queries("pipeline_e2e_incremental")(spark, sfDir)
      .collect().map(_.toSeq).sortBy(_.toString)
    val got = emitted.orderBy("doc_id")
      .collect().map(_.toSeq).sortBy(_.toString)
    assert(got.length == want.length,
      s"streamed ${got.length} survivors, batch has ${want.length}")
    assert(got.sameElements(want))

    spark.catalog.clearCache()
    graft.CheckpointUtil.releaseStragglers()
  }
}
