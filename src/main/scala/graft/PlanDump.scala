package graft

import java.nio.file.{Files, Paths}

/** Dev utility: dump `.explain("formatted")` of named queries to files —
  * the plan evidence the optimization rounds commit under plans/rNN/.
  * Usage: sbt "runMain graft.PlanDump <outDir> <suffix> <query> [query...]"
  * writes <outDir>/<query>_<suffix>.txt for each query, and exits 1 if any
  * query failed to plan.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val suffix = args(1)
    val spark = Tables.localSession()
    spark.sparkContext.setLogLevel("ERROR")
    val sf = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    Files.createDirectories(Paths.get(outDir))
    val failed = args.drop(2).filterNot { q =>
      try {
        val df = SparkEntry.queries(q)(spark, sf)
        val plan = df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        Files.writeString(Paths.get(s"$outDir/${q}_$suffix.txt"), plan)
        println(s"[plandump] wrote $q")
        true
      } catch { case e: Throwable =>
        println(s"[plandump] $q FAILED: ${e.getMessage}")
        false
      } finally {
        CheckpointUtil.releaseStragglers()
      }
    }
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(s"[plandump] ${failed.length} queries FAILED: " +
        failed.mkString(", "))
      sys.exit(1)
    }
  }
}
