package graft.functions

import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.ml.linalg.Vectors
import org.apache.spark.sql.{AnalysisException, Column, DataFrame, GraftColumnBridge, Row}
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.{SparkSuite, Tables}
import NativeExpressions._

/** The kernel-call contract: every Column-level kernel def evaluates the
  * same under whole-stage codegen and interpreted `eval`, the generated
  * Java inlines shape constants and shares one kernel call between
  * equal subtrees, plan text stays small, and analysis rejects inputs of
  * the wrong type. */
class KernelCallSpec extends SparkSuite {

  private val cents = Seq.tabulate(6) { i =>
    val v = Seq.tabulate(4)(j => math.sin(i * 4.0 + j))
    (i * 10L, v, math.sqrt(v.map(x => x * x).sum))
  }
  private val codebook = Seq.tabulate(5)(i => Seq.tabulate(4)(j => math.cos(i * 3.0 + j)))
  private val keys = typedLit(Seq("a", "of", "the"))

  /** At least one entry per public def of [[NativeExpressions]]. */
  private val defs: Seq[(String, Column)] = Seq(
    "polyHash" -> polyHash(col("text")),
    "tokenHashes" -> tokenHashes(col("text")),
    "dot" -> dot(col("v"), col("w")),
    "intDot" -> intDot(col("b1"), col("b2")),
    "residualNorm2" -> residualNorm2(col("v"), col("w"), col("x")),
    "maxAbs" -> maxAbs(col("v")),
    "dsirScore" -> dsirScore(col("sh"), Seq.tabulate(8)(_ + 1.0), 8L),
    "scaleRoundInt8" -> scaleRoundInt8(col("finite"), lit(0.01)),
    "divArray" -> divArray(col("v"), col("x")),
    "lmScoreStats" -> lmScoreStats(col("toks"), keys, typedLit(Seq(0.5, 0.25, 0.125))),
    "sortedLookupLongs" -> sortedLookupLongs(col("toks"), keys, typedLit(Seq(1L, 2L, 3L))),
    "argMaxCosine" -> argMaxCosine(col("v"), col("x"), cents),
    "topNCosineIds" -> topNCosineIds(col("v"), col("x"), cents, 3),
    "adaptiveProbeIds" -> adaptiveProbeIds(col("v"), col("x"), cents, 3, 0.1),
    // a non-finite constant has no Java literal: it is inlined by its bits
    "adaptiveProbeIds" -> adaptiveProbeIds(col("v"), col("x"), cents, 3, Double.PositiveInfinity),
    "pqEncode" -> pqEncode(col("v"), codebook, 2),
    "pqAdc" -> pqAdc(col("v"), col("b1"), codebook, 2),
    "sortedIntersectSize" -> sortedIntersectSize(col("sh"), col("sh1")),
    "shingleHashes" -> shingleHashes(col("text"), 3),
    "shingleHashes64" -> shingleHashes64(col("text"), 3),
    "positionalShingleHashes" -> positionalShingleHashes(col("text"), 2),
    "positionalShingleHashes64" -> positionalShingleHashes64(col("text"), 2),
    "minhashSignature" -> minhashSignature(col("sh"), 8),
    "ophSignature" -> ophSignature(col("sh"), 8),
    "simhash" -> simhash(col("sh")),
    "bandHashes" -> bandHashes(minhashSignature(col("sh"), 8), 4, 2),
    "polyCombine" -> polyCombine(col("sh")),
    "textStats" -> textStats(col("text")),
    "repetitionStats" -> repetitionStats(col("text")),
    "termCounts" -> termCounts(col("text"), Seq("the", "a", "of")),
    "langMarkerCounts" -> langMarkerCounts(col("text")),
    "bpeStats" -> bpeStats(col("text"), Seq("t" -> "h", "th" -> "e", "o" -> "f")),
    "windowHashes" -> windowHashes(col("text"), 4),
    "windowHashes64" -> windowHashes64(col("text"), 4),
    "hashEmbed" -> hashEmbed(col("text"), 8),
    "vectorSize" -> vectorSize(col("vec")))

  /** sf0.001 documents plus null, empty, whitespace-only, ragged and
    * non-finite rows; every kernel input is a column, cached so that no
    * optimizer rule evaluates a projection over local rows ahead of time. */
  private def fixture(): DataFrame = {
    val docs = Tables.documents(spark, sf0001).select(
      col("doc_id").as("id"), col("text"), hashEmbed(col("text"), 4).as("v"))
    val corpus = docs.select(col("id"), col("text"), col("v"), reverse(col("v")).as("w"),
      transform(col("v"), e => (e % 100).cast(ByteType)).as("b1"),
      reverse(transform(col("v"), e => (e % 100).cast(ByteType))).as("b2"),
      ((length(col("text")) % 7).cast(DoubleType) + 0.5).as("x"))
    val (nan, inf) = (Double.NaN, Double.PositiveInfinity)
    def bytes(xs: Int*): Seq[Byte] = xs.map(_.toByte)
    val edges = spark.createDataFrame(java.util.Arrays.asList(
      Row(-1L, null, null, null, null, null, null),
      Row(-2L, "", Seq.empty[Double], Seq.empty[Double], bytes(), bytes(), 0.0),
      Row(-3L, " \t\n ", Seq(1.0, 2.0), Seq(1.0, 2.0), bytes(1), bytes(1), 1.0),
      Row(-4L, "a ragged pair", Seq(1.0, 2.0, 3.0, 4.0), Seq(1.0, 2.0),
        bytes(1, 2, 3), bytes(1), 2.0),
      Row(-5L, "not a number", Seq(nan, inf, -inf, 1.0), Seq(1.0, nan, 2.0, -inf),
        bytes(1, 2, 3, 4), bytes(4, 3, 2, 1), nan),
      Row(-6L, "the the of a the", Seq(0.0, 0.0, 0.0, 0.0), Seq(1.0, -1.0, 0.0, 2.0),
        bytes(0, 0, 0, 0), bytes(9, 9, 9, 9), inf)), corpus.schema)
    corpus.unionByName(edges)
      .withColumn("toks", split(col("text"), " "))
      .withColumn("sh", shingleHashes(col("text"), 2))
      .withColumn("sh1", shingleHashes(col("text"), 1))
      // an ANSI cast raises on a non-finite element, in both modes alike
      .withColumn("finite", filter(col("v"), e => !isnan(e) && abs(e) < lit(1e6)))
      // dense and sparse ML vectors, alternating by row
      .withColumn("vec", when(col("v").isNotNull, when(col("id") % 2 === 0,
        array_to_vector(col("v"))).otherwise(sparseVector(col("v")))))
      .cache()
  }

  private val sparseVector =
    udf((a: Seq[Double]) => Vectors.dense(a.toArray).toSparse: org.apache.spark.ml.linalg.Vector)

  private def interpreted = Tables.scopedSession(spark,
    "spark.sql.codegen.wholeStage" -> "false",
    "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")

  test("the table covers every public def of NativeExpressions") {
    val publicDefs = NativeExpressions.getClass.getDeclaredMethods
      .filter(m => java.lang.reflect.Modifier.isPublic(m.getModifiers) &&
        m.getReturnType == classOf[Column])
      .map(_.getName).toSet
    assert(publicDefs == defs.map(_._1).toSet)
  }

  test("every kernel def: codegen == interpreted eval on corpus + edge rows") {
    val data = fixture()
    try {
      val outs = defs.map { case (name, c) => c.as(name) }
      val compiled = data.select(col("id") +: outs: _*)
      val plain = GraftColumnBridge.ofRows(interpreted, data).select(col("id") +: outs: _*)
      assert(compiled.queryExecution.executedPlan.exists(_.isInstanceOf[WholeStageCodegenExec]))
      assert(!plain.queryExecution.executedPlan.exists(_.isInstanceOf[WholeStageCodegenExec]))
      def rows(df: DataFrame) = df.orderBy("id").collect().toSeq
      val (a, b) = (rows(compiled), rows(plain))
      assert(a.length == b.length && a.length > 6)
      // toString: NaN equals itself there, unlike boxed-double ==
      for (((name, _), i) <- defs.zipWithIndex) {
        val diff = a.zip(b).filter { case (x, y) =>
          String.valueOf(x.get(i + 1)) != String.valueOf(y.get(i + 1)) }
        assert(diff.isEmpty, s"$name: ${diff.take(3)}")
      }
      // the edge rows exercise the null path of every node
      assert(a.find(_.getLong(0) == -1L).get.toSeq.tail.forall(_ == null))
    } finally data.unpersist()
  }

  private def javaOf(df: DataFrame): String =
    df.queryExecution.executedPlan.collect {
      case w: WholeStageCodegenExec => w.doCodeGen()._2.body
    }.mkString("\n")

  test("generated Java inlines shape constants and calls textStats once per row") {
    val vecs = spark.range(20).select(
      array(Seq.tabulate(16)(j => (col("id") * (j + 1)).cast(DoubleType)): _*).as("v"))
    val pq = javaOf(vecs.select(pqEncode(col("v"), codebook.map(_ ++ Seq.fill(12)(0.0)), 16)))
    assert("""NativeKernels\.pqEncode\([^;]*references\[\d+\][^;]*, 16\);""".r
      .findFirstIn(pq).nonEmpty, pq)
    val text = spark.range(20)
      .select(concat(lit("a b c d e f "), col("id").cast(StringType)).as("text"))
    val sh = javaOf(text.select(shingleHashes64(col("text"), 5)))
    assert("""NativeKernels\.shingleHashes64\(\w+, 5\);""".r.findFirstIn(sh).nonEmpty, sh)
    val stats = javaOf(text.select(
      textStats(col("text")).getItem(1).as("n"), textStats(col("text")).getItem(2).as("len")))
    assert("""NativeKernels\.textStats\(""".r.findAllMatchIn(stats).length == 1, stats)
  }

  test("plan text shows a 4096-centroid set by its size only") {
    val big = Seq.tabulate(4096)(i => (i.toLong, Seq.tabulate(16)(j => (i * 16 + j).toDouble), 1.0))
    val df = spark.range(4).select(
      array(Seq.fill(16)(col("id").cast(DoubleType)): _*).as("v"), lit(1.0).as("nrm"))
      .select(topNCosineIds(col("v"), col("nrm"), big, 4).as("ids"))
    for (plan <- Seq(df.queryExecution.analyzed, df.queryExecution.optimizedPlan,
        df.queryExecution.executedPlan)) {
      val s = plan.treeString
      assert(s.length < 2048 && s.contains("nCentroids=4096"), s.take(4096))
    }
  }

  test("analysis rejects kernel inputs of the wrong type") {
    val in = spark.range(1).select(array(lit(1.0)).as("q"), array(lit(1)).as("ints"),
      array(lit(1.0f)).as("floats"), lit(1.0).as("nrm"))
    val adc = intercept[AnalysisException](in.select(pqAdc(col("q"), col("ints"), codebook, 1)))
    assert(adc.getMessage.contains("graft_pq_adc expects (array<double>, array<tinyint>)"),
      adc.getMessage)
    val topN = intercept[AnalysisException](
      in.select(topNCosineIds(col("floats"), col("nrm"), cents, 2)))
    assert(topN.getMessage.contains("expects (array<double>, double), got array<float>"),
      topN.getMessage)
    graft.plans.GraftExtensions.register(spark)
    val intDot = intercept[AnalysisException](
      spark.sql("SELECT graft_int_dot(array(1, 2), array(3, 4))"))
    assert(intDot.getMessage.contains("graft_int_dot expects two array<tinyint> inputs"),
      intDot.getMessage)
  }
}
