package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.functions.{col, lit}

/** Pins that a generated class, once compiled, survives the rest of a
  * working set: Spark keeps compiled classes in one JVM-wide LRU, and at
  * its stock 100 entries a workload cycling through more distinct classes
  * than that recompiles every one of them on every pass. `localSession`
  * sizes the cache, so a plan run again after 150 other classes must not
  * reach Janino.
  */
class CodegenCacheSpec extends SparkSuite {

  /** Janino compiles in this JVM so far: one histogram update per class. */
  private def compiles: Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  test("a plan rerun after 150 other generated classes compiles nothing") {
    def first() = spark.range(5).select(col("id") * 977 + 313).collect()
    val expected = first().map(_.getLong(0)).toSeq
    // The literal is inlined into the generated code, so each of these is
    // a class of its own.
    for (i <- 1 to 150)
      spark.range(1).select(col("id") + lit(i + 40_000)).collect()
    val before = compiles
    val rerun = first().map(_.getLong(0)).toSeq
    assert(compiles == before, s"${compiles - before} classes recompiled")
    assert(rerun == expected)
  }
}
