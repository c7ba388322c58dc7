package graft

import org.apache.spark.sql.functions._

/** Diagnostic main (test scope): recall@k of each ANN tier vs brute force
  * on the fixture corpus — the number the recall specs pin (slightly
  * below the measured value; everything here is deterministic, so the pin
  * is exact-repeatable, not statistical).
  */
object RecallProbe {
  def main(args: Array[String]): Unit = {
    val spark = Tables.localSession(4, "graft-recall-probe")
    spark.sparkContext.setLogLevel("ERROR")
    import graft.operators.Similarity
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val corpus = Similarity.prepare(Tables.embeddings(spark, sfDir)).persist()
    val pred = col("vec_id") < 8
    def ids(df: org.apache.spark.sql.DataFrame): Map[Long, Set[Long]] =
      df.select("query_id", "vec_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).groupBy(_._1)
        .view.mapValues(_.map(_._2).toSet).toMap
    val brute = ids(Similarity.bruteForceTopK(corpus, corpus.filter(pred), 10))
    def recall(df: org.apache.spark.sql.DataFrame): Double = {
      val got = ids(df)
      val per = brute.map { case (q, want) =>
        got.getOrElse(q, Set.empty).intersect(want).size.toDouble / want.size }
      per.sum / per.size
    }
    println(f"pq       recall@10 = ${recall(Similarity.pqTopK(corpus, pred, 16, 8, 32, 10))}%.3f")
    println(f"ivfpq    recall@10 = ${recall(Similarity.ivfPqTopK(corpus, pred, 16, 4, 16, 8, 32, 10))}%.3f")
    println(f"ivf      recall@10 = ${recall(Similarity.ivfTopK(corpus, pred, 16, 4, 10))}%.3f")
    println(f"pq-tr    recall@10 = ${recall(Similarity.pqTopKTrained(corpus, pred, 128, 16, 48, 10))}%.3f")
    println(f"ivfpq-tr recall@10 = ${recall(Similarity.ivfPqTopKTrained(corpus, pred, 16, 12, 128, 16, 64, 10))}%.3f")
    val ivfTr = recall(Similarity.ivfTopKLloyd(corpus, pred, 16, 4, 10,
      Similarity.TrainIters, Similarity.TrainSamplePct, Similarity.TrainMaxSample))
    println(f"ivf-tr   recall@10 = $ivfTr%.3f")
    println(f"srp      recall@10 = ${recall(Similarity.srpTopK(corpus, pred, 10))}%.3f")
    spark.stop()
  }
}
