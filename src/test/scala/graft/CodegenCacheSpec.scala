package graft

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions.{col, lit}

/** Pins that a generated class, once compiled, survives the rest of a
  * working set: Spark keeps compiled classes in one JVM-wide LRU, and at
  * its stock 100 entries a workload cycling through more distinct classes
  * than that recompiles every one of them on every pass. `localSession`
  * sizes the cache, so a plan run again after 150 other classes must not
  * reach Janino; and it names whole-stage classes without their stage id,
  * so a stage numbered differently on another run hits the cache too.
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

  test("one stage planned under two stage ids compiles once") {
    // AQE numbers whole-stage codegen stages as it plans them, so the same
    // stage can carry another id on another run of the same query
    val stage = spark.range(5).select(col("id") * 977 + 331).queryExecution.executedPlan
      .collectFirst { case w: WholeStageCodegenExec => w }.get
    def run(id: Int) = stage.copy()(codegenStageId = id).executeCollect().map(_.getLong(0)).toSeq
    val before = compiles
    val first = run(41)
    val afterFirst = compiles
    val second = run(42)
    assert(afterFirst > before, "the first run compiled nothing: the stage was not new")
    assert(compiles == afterFirst, s"${compiles - afterFirst} classes compiled again")
    assert(first == second && first == (0 until 5).map(_ * 977L + 331))
  }
}
