package graft.functions

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DoubleType
import graft.{SparkSuite, Tables}
import HofTwins._

/** The codegen'd native expressions must be BIT-IDENTICAL to the built-in
  * higher-order formulations they replaced (the DuckDB oracle mirrors the
  * HOF semantics). Checked over the real corpus plus edge strings. */
class NativeExpressionsSpec extends SparkSuite {

  private def hofPolyHash(s: org.apache.spark.sql.Column) =
    aggregate(split(s, ""), lit(0L),
      (acc, c) => (acc * lit(31L) + ascii(c)) % lit(1000000007L))

  test("PolyHash == aggregate(split) formulation on corpus + edges") {
    import spark.implicits._
    val corpus = Tables.documents(spark, sf0001).select(col("text"))
      .unionAll(Seq("", " ", "a", "a b\t c", "\ttrailing ").toDF("text"))
    val diff = corpus.select(
      NativeExpressions.polyHash(col("text")).as("native"),
      hofPolyHash(col("text")).as("hof"))
      .filter(col("native") =!= col("hof")).count()
    assert(diff == 0)
  }

  test("TokenHashes == transform(split(trim)) formulation on corpus + edges") {
    import spark.implicits._
    val corpus = Tables.documents(spark, sf0001).select(col("text"))
      .unionAll(Seq("", "   ", "one", " a  b\tc\r\nd ").toDF("text"))
    val hof = when(length(trim(col("text"))) === 0, array().cast("array<bigint>"))
      .otherwise(transform(split(trim(col("text")), "\\s+"), t => hofPolyHash(t)))
    val diff = corpus.select(
      NativeExpressions.tokenHashes(col("text")).as("native"), hof.as("hof"))
      .filter(not(col("native") === col("hof"))).count()
    assert(diff == 0)
  }

  test("TextStats components == the five HOF/regex formulations on corpus + edges") {
    import spark.implicits._
    import TextFunctions._
    val corpus = Tables.documents(spark, sf0001).select(col("text"))
      .unionAll(Seq("", "   ", "the", "a!!b the, of?? x", " a  b\tc\r\nd ",
        "punct,only.!?", "the the the").toDF("text"))
    val diff = corpus.select(
      tokenCount(col("text")).as("n1"), tokenCountHof(col("text")).as("h1"),
      subwordCount(col("text")).as("n2"), subwordCountHof(col("text")).as("h2"),
      stopwordCount(col("text")).as("n3"), stopwordCountHof(col("text")).as("h3"),
      punctRatio(col("text")).as("n4"), punctRatioHof(col("text")).as("h4"),
      meanTokenLen(col("text")).as("n5"), meanTokenLenHof(col("text")).as("h5"))
      .filter(col("n1") =!= col("h1") || col("n2") =!= col("h2") ||
        col("n3") =!= col("h3") || col("n4") =!= col("h4") ||
        col("n5") =!= col("h5"))
      .count()
    assert(diff == 0)
  }

  test("langId over LangMarkerCounts == per-language HOF filters on corpus + edges") {
    import spark.implicits._
    import TextFunctions._
    val corpus = Tables.documents(spark, sf0001).select(col("text"))
      .unionAll(Seq("", "   ", "de", "the el de", "el la de que y los",
        "no markers here at all", "de le shi wo zai you",
        // genuine scripts: CJK, kana, hangul, Cyrillic, Arabic, Greek,
        // Devanagari, Thai, mixed-script, emoji (supplementary — no range)
        "数据处理引擎是分布式计算系统的核心组件", "これはテストです",
        "이것은 테스트입니다", "это тестовый документ",
        "هذا اختبار للمحرك", "αυτό είναι ένα έγγραφο",
        "यह एक परीक्षण है", "นี่คือการทดสอบ",
        "the engine 处理 data 数据", "🚀🚀🚀").toDF("text"))
    val diff = corpus.select(
      langId(col("text")).as("native"), langIdHof(col("text")).as("hof"))
      .filter(col("native") =!= col("hof")).count()
    assert(diff == 0)
  }

  test("SortedIntersectSize == size(array_intersect) on sorted-distinct shingles") {
    import spark.implicits._
    val shingles = Tables.documents(spark, sf0001)
      .select(TextFunctions.shingleHashes(col("text"), 3).as("s"))
      .filter(size(col("s")) > 0)
    val pairs = shingles.limit(60).crossJoin(shingles.limit(60).select(col("s").as("t")))
    val diff = pairs.select(
      NativeExpressions.sortedIntersectSize(col("s"), col("t")).as("native"),
      size(array_intersect(col("s"), col("t"))).as("builtin"))
      .filter(col("native") =!= col("builtin")).count()
    assert(diff == 0)
    // edge cases: empty vs non-empty, disjoint, identical, subset
    val edges = Seq(
      (Seq.empty[Long], Seq(1L, 2L), 0),
      (Seq(1L, 3L, 5L), Seq(2L, 4L, 6L), 0),
      (Seq(1L, 2L, 3L), Seq(1L, 2L, 3L), 3),
      (Seq(2L, 3L), Seq(1L, 2L, 3L, 9L), 2)).toDF("a", "b", "want")
    assert(edges.filter(
      NativeExpressions.sortedIntersectSize(col("a"), col("b")) =!= col("want"))
      .count() == 0)
  }

  test("native expressions stay inside whole-stage codegen") {
    // fallback=false in the session makes a Janino failure throw, but also
    // assert the positive: the projection is inside a WholeStageCodegen span.
    val df = Tables.documents(spark, sf0001).select(
      NativeExpressions.polyHash(col("text")),
      NativeExpressions.tokenHashes(col("text")))
    val spans = df.queryExecution.executedPlan.collect {
      case w: org.apache.spark.sql.execution.WholeStageCodegenExec => w
    }
    assert(spans.nonEmpty, s"no codegen span in:\n${df.queryExecution.executedPlan}")
  }

  test("ShingleHashes/MinHashSignature/SimHash/BandHashes/PolyCombine == HOF formulations") {
    import spark.implicits._
    val P = 1000000007L
    val n = 3
    // the HOF chains the kernels replaced, reconstructed verbatim
    def bound(arr: org.apache.spark.sql.Column)(f: org.apache.spark.sql.Column => org.apache.spark.sql.Column) =
      element_at(transform(array(arr), a => f(a)), 1)
    val hofShingles = bound(NativeExpressions.tokenHashes(col("text"))) { th =>
      array_sort(array_distinct(
        when(size(th) < n, array().cast("array<bigint>"))
          .otherwise(transform(sequence(lit(1), size(th) - lit(n - 1)), i =>
            aggregate(slice(th, i, lit(n)), lit(0L),
              (acc, h) => (acc * lit(31L) + h) % lit(P))))))
    }
    def hashA(j: org.apache.spark.sql.Column) = (lit(1103515245L) * (j + lit(1)) + lit(12345L)) % lit(P)
    def hashB(j: org.apache.spark.sql.Column) = (lit(1103515245L) * (j + lit(7)) + lit(54321L)) % lit(P)
    val k = 16
    def hofSig(shh: org.apache.spark.sql.Column) =
      transform(sequence(lit(0), lit(k - 1)), j =>
        coalesce(array_min(transform(shh, h => (hashA(j) * h + hashB(j)) % lit(P))), lit(P)))
    def hofSimhash(th: org.apache.spark.sql.Column) =
      aggregate(sequence(lit(0), lit(29)), lit(0L), (acc, j) => {
        val bitSum = aggregate(th, lit(0L), (a2, h) =>
          a2 + when(floor(h.cast("double") / pow(lit(2.0), j)).cast("long") % 2 === 1,
            lit(1L)).otherwise(lit(-1L)))
        acc + when(bitSum > 0, pow(lit(2.0), j).cast("long")).otherwise(lit(0L))
      })
    def hofBands(s: org.apache.spark.sql.Column, bands: Int, rows: Int) =
      transform(sequence(lit(0), lit(bands - 1)), i =>
        aggregate(slice(s, i * lit(rows) + lit(1), lit(rows)), lit(0L),
          (acc, x) => (acc * lit(31L) + x) % lit(P)))
    def hofCombine(s: org.apache.spark.sql.Column) =
      aggregate(s, lit(0L), (acc, x) => (acc * lit(31L) + x) % lit(P))

    val corpus = Tables.documents(spark, sf0001).select(col("text"))
      .unionAll(Seq("", "   ", "one", "a b", "a b c", "a b c d e a b c").toDF("text"))
      .withColumn("nat_shh", NativeExpressions.shingleHashes(col("text"), n))
      .withColumn("hof_shh", hofShingles)
    val diff = corpus
      .withColumn("nat_sig", NativeExpressions.minhashSignature(col("nat_shh"), k))
      .withColumn("hof_sig", bound(col("hof_shh"))(hofSig))
      .withColumn("nat_sh", NativeExpressions.simhash(col("nat_shh")))
      .withColumn("hof_sh", bound(col("hof_shh"))(hofSimhash))
      .withColumn("nat_b", NativeExpressions.bandHashes(col("nat_sig"), 8, 2))
      .withColumn("hof_b", bound(col("hof_sig"))(s => hofBands(s, 8, 2)))
      .withColumn("nat_c", NativeExpressions.polyCombine(col("nat_sig")))
      .withColumn("hof_c", bound(col("hof_sig"))(hofCombine))
      .filter(not(col("nat_shh") === col("hof_shh")) ||
        not(col("nat_sig") === col("hof_sig")) ||
        col("nat_sh") =!= col("hof_sh") ||
        not(col("nat_b") === col("hof_b")) ||
        col("nat_c") =!= col("hof_c"))
      .count()
    assert(diff == 0)
  }

  test("PositionalShingleHashes == transform(aggregate(slice)) HOF on corpus + edges") {
    import spark.implicits._
    val P = 1000000007L
    // the HOF chain positionalShingles'/dsirRanked's scans used before the
    // fused kernel replaced it (r16 optimization) — reconstructed verbatim
    def hofPositional(n: Int) = {
      val th = NativeExpressions.tokenHashes(col("text"))
      when(size(th) >= n,
        transform(sequence(lit(1), size(th) - lit(n - 1)), i =>
          aggregate(slice(th, i, lit(n)), lit(0L),
            (acc, h) => pmod(acc * lit(31L) + h, lit(P)))))
        .otherwise(array().cast("array<bigint>"))
    }
    val corpus = Tables.documents(spark, sf0001).select(col("text"))
      .unionAll(Seq("", "   ", "one", "a b", "a b c", "a b c d e a b c",
        " a  b\tc\r\nd ").toDF("text"))
    for (n <- Seq(2, 4, 8)) {
      val diff = corpus.select(
        NativeExpressions.positionalShingleHashes(col("text"), n).as("native"),
        hofPositional(n).as("hof"))
        .filter(not(col("native") === col("hof"))).count()
      assert(diff == 0, s"n=$n")
    }
  }

  test("DotProduct == aggregate(zip_with) formulation on embeddings") {
    val e = Tables.embeddings(spark, sf0001)
      .select(transform(col("embedding"), x => x.cast(DoubleType)).as("v"))
    val pairs = e.limit(50).crossJoin(e.limit(50).select(col("v").as("w")))
    val hof = aggregate(zip_with(col("v"), col("w"), (x, y) => x * y),
      lit(0.0), (acc, x) => acc + x)
    val diff = pairs.select(
      NativeExpressions.dot(col("v"), col("w")).as("native"), hof.as("hof"))
      .filter(col("native") =!= col("hof")).count()
    assert(diff == 0)
  }

  test("IntDot == aggregate(zip_with) formulation on quantized embeddings") {
    val q = graft.operators.Similarity.quantize(
      graft.operators.Similarity.prepare(Tables.embeddings(spark, sf0001)))
      .select(col("qv"))
    val pairs = q.limit(50).crossJoin(q.limit(50).select(col("qv").as("qw")))
    val hof = aggregate(zip_with(col("qv"), col("qw"),
      (x, y) => x.cast("long") * y.cast("long")), lit(0L), (acc, x) => acc + x)
    val diff = pairs.select(
      NativeExpressions.intDot(col("qv"), col("qw")).as("native"), hof.as("hof"))
      .filter(col("native") =!= col("hof")).count()
    assert(diff == 0)
  }

  test("RepetitionStats == the relational explode/groupBy formulation") {
    val docs = Tables.documents(spark, sf0001).select(col("doc_id"), col("text"))
    val got = docs.select(col("doc_id"),
      NativeExpressions.repetitionStats(col("text")).as("r"))
      .select(col("doc_id"), col("r").getItem(0).as("n"), col("r").getItem(1).as("nd"),
        col("r").getItem(2).as("topf"), col("r").getItem(3).as("nb"),
        col("r").getItem(4).as("nbd"))
    val th = NativeExpressions.tokenHashes(col("text"))
    val bigrams = zip_with(slice(th, lit(1), greatest(size(th) - 1, lit(0))),
      slice(th, lit(2), greatest(size(th) - 1, lit(0))),
      (a, b) => pmod(a * lit(31L) + b, lit(1000000007L)))
    val tokCounts = docs.select(col("doc_id"), explode_outer(th).as("h"))
      .groupBy("doc_id", "h").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(sum(when(col("h").isNotNull, col("c")).otherwise(0L)).as("n"),
        sum(when(col("h").isNotNull, 1L).otherwise(0L)).as("nd"),
        max(when(col("h").isNotNull, col("c")).otherwise(0L)).as("topf"))
    val bigStats = docs.select(col("doc_id"), bigrams.as("bg"))
      .select(col("doc_id"), size(col("bg")).cast("long").as("nb"),
        size(array_distinct(col("bg"))).cast("long").as("nbd"))
    val want = tokCounts.join(bigStats, "doc_id")
    val diff = got.join(want.select(col("doc_id"), col("n").as("wn"),
        col("nd").as("wnd"), col("topf").as("wtopf"),
        col("nb").as("wnb"), col("nbd").as("wnbd")), "doc_id")
      .filter(col("n") =!= col("wn") || col("nd") =!= col("wnd") ||
        col("topf") =!= col("wtopf") || col("nb") =!= col("wnb") ||
        col("nbd") =!= col("wnbd"))
      .count()
    assert(diff == 0)
  }

  test("TermCounts == size(filter(tokens)) per term, on corpus + edges") {
    import spark.implicits._
    val terms = Seq("join", "hash", "scan", "absent-token")
    val docs = Tables.documents(spark, sf0001).select(col("text"))
      .unionAll(Seq("", "   ", "join", "join join hash", "joinx hash\tscan\njoin")
        .toDF("text"))
    val toks = split(trim(col("text")), "\\s+")
    val hof = terms.map(t =>
      when(length(trim(col("text"))) === 0, lit(0L))
        .otherwise(size(filter(toks, x => x === lit(t))).cast("long")))
    val diff = docs.select(
      graft.functions.NativeExpressions.termCounts(col("text"), terms).as("native"),
      array(hof: _*).as("hofc"))
      .filter(not(col("native") === col("hofc"))).count()
    assert(diff == 0)
  }

  test("IntDot is null on ragged lengths, like the zip_with twin") {
    val row = spark.sql(
      "SELECT CAST(array(1,2,3) AS array<tinyint>) a, CAST(array(1,2) AS array<tinyint>) b")
    assert(row.select(NativeExpressions.intDot(col("a"), col("b"))).head.isNullAt(0))
  }

  test("ResidualNorm2 == dot(zip_with residual) formulation on embeddings") {
    // the exact whiten-pass formulation it replaces: d_i = e_i - y*w_i
    // (ascending), then the sequential self-dot — bit-equality required
    val e = Tables.embeddings(spark, sf0001)
      .select(col("embedding").cast("array<double>").as("v"))
    val w = (0 until 64).map(j => math.sin(j + 1) / 3.0)
    val wLit = array(w.map(lit): _*)
    val y = NativeExpressions.dot(col("v"), wLit)
    val pairs = e.select(col("v"), y.as("y"))
    val d = zip_with(col("v"), wLit, (x, wv) => x - col("y") * wv)
    val diff = pairs.select(
      NativeExpressions.residualNorm2(col("v"), wLit, col("y")).as("native"),
      NativeExpressions.dot(d, d).as("hof"))
      .filter(col("native") =!= col("hof")).count()
    assert(diff == 0)
  }

  test("ResidualNorm2 nulls: null input and ragged lengths, like the HOF twin") {
    val row = spark.sql(
      "SELECT CAST(array(1.0,2.0,3.0) AS array<double>) a, " +
        "CAST(array(1.0,2.0) AS array<double>) w")
    assert(row.select(NativeExpressions.residualNorm2(col("a"), col("w"), lit(0.5)))
      .head.isNullAt(0))
    assert(row.select(NativeExpressions.residualNorm2(
        lit(null).cast("array<double>"), col("w"), lit(0.5))).head.isNullAt(0))
  }

  test("LmScoreStats == transform/element_at + aggregate + array_min chain") {
    import spark.implicits._
    // the exact lmScored formulation it replaces, over corpus + edge docs
    val docs = Tables.documents(spark, sf0001).select(col("text"))
      .unionAll(Seq("", "   ", "one", "unseen tokens only zz")
        .toDF("text"))
      .select(graft.functions.TextFunctions.tokens(col("text")).as("toks"))
    val counts = docs.select(explode(col("toks")).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
    val parr = counts.crossJoin(broadcast(counts.agg(sum(col("cnt")).as("total"))))
      .select(col("tok"),
        (col("cnt").cast("double") / col("total").cast("double")).as("p"))
      .agg(array_sort(collect_list(struct(col("tok"), col("p")))).as("ents"))
      .select(transform(col("ents"), e => e.getField("tok")).as("pk"),
        transform(col("ents"), e => e.getField("p")).as("pv"),
        map_from_entries(col("ents")).as("pmap"))
    val joined = docs.crossJoin(broadcast(parr))
    val ps = transform(col("toks"), t => coalesce(element_at(col("pmap"), t), lit(0.0)))
    val diff = joined
      .withColumn("st", NativeExpressions.lmScoreStats(col("toks"), col("pk"), col("pv")))
      .withColumn("ps", ps)
      .filter(size(col("toks")) > 0)
      .filter(element_at(col("st"), 1) =!=
          aggregate(col("ps"), lit(0.0), (a, x) => a + x) ||
        element_at(col("st"), 2) =!= array_min(col("ps")))
      .count()
    assert(diff == 0)
  }

  test("SortedLookupLongs == transform/element_at with OOV 0 on corpus + edges") {
    import spark.implicits._
    val docs = Tables.documents(spark, sf0001).select(col("text"))
      .unionAll(Seq("", "unseen zz", "a b a").toDF("text"))
      .select(graft.functions.TextFunctions.tokens(col("text")).as("toks"))
    val vocab = docs.select(explode(col("toks")).as("tok"))
      .groupBy(col("tok")).agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("tok")).limit(50)
      .select(col("tok"), row_number().over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("cnt").desc, col("tok"))).cast("long").as("rank"))
    val varr = vocab.agg(array_sort(collect_list(struct(col("tok"), col("rank")))).as("ents"))
      .select(transform(col("ents"), e => e.getField("tok")).as("vk"),
        transform(col("ents"), e => e.getField("rank")).as("vv"),
        map_from_entries(col("ents")).as("vmap"))
    val diff = docs.crossJoin(broadcast(varr))
      .select(
        NativeExpressions.sortedLookupLongs(col("toks"), col("vk"), col("vv")).as("native"),
        transform(col("toks"), t => coalesce(element_at(col("vmap"), t), lit(0L))).as("hof"))
      .filter(not(col("native") === col("hof"))).count()
    assert(diff == 0)
  }

  test("MaxAbs / ScaleRoundInt8 / DivArray == their HOF formulations") {
    // the exact quantize()/normalize formulations they replace, over the
    // embedding corpus plus sign/zero edges, and NaN/±Inf rows (a vector
    // holding ±Inf passes prepare's nrm > 0 filter on its way to quantize)
    val finite = Tables.embeddings(spark, sf0001)
      .select(col("embedding").cast("array<double>").as("v"))
      .unionAll(spark.sql(
        "SELECT CAST(array(-1.5, 0.0, 2.5, -0.49999, 126.5) AS array<double>) v"))
      .unionAll(spark.sql("SELECT CAST(array() AS array<double>) v"))
    val nonFiniteRows = Seq("array(1.5, CAST('NaN' AS DOUBLE), -2.0)",
      "array(0.5, CAST('Infinity' AS DOUBLE))", "array(CAST('-Infinity' AS DOUBLE), 3.0)")
      .map(a => spark.sql(s"SELECT $a v"))
    val nonFinite = nonFiniteRows.reduce(_ unionAll _)
    def scaled(e: org.apache.spark.sql.DataFrame) = {
      val qmHof = array_max(transform(col("v"), x => abs(x)))
      e.withColumn("qm", NativeExpressions.maxAbs(col("v")))
        .withColumn("qmh", qmHof)
        .withColumn("qscale",
          when(col("qmh") === 0.0, lit(0.0)).otherwise(lit(127.0) / col("qmh")))
        .withColumn("nrm", sqrt(NativeExpressions.dot(col("v"), col("v"))))
    }
    // defs: an expression instance keeps the ANSI mode it first ran under
    def native = NativeExpressions.scaleRoundInt8(col("v"), col("qscale"))
    def hof = transform(col("v"), x => round(x * col("qscale")).cast("tinyint"))
    def mismatches(e: org.apache.spark.sql.DataFrame, rounded: Boolean): Long =
      scaled(e)
        .filter(!(col("qm") <=> col("qmh")) ||
          (size(col("v")) > 0 && (
            (if (rounded) not(native === hof) else lit(false)) ||
            (col("nrm") > 0.0 &&
              not(NativeExpressions.divArray(col("v"), col("nrm")) ===
                transform(col("v"), x => x / col("nrm")))))))
        .count()
    val ansiKey = "spark.sql.ansi.enabled"
    val prior = spark.conf.get(ansiKey)
    try for (ansi <- Seq(false, true)) {
      spark.conf.set(ansiKey, ansi)
      assert(mismatches(finite, rounded = true) == 0, s"ansi=$ansi")
      if (!ansi) assert(mismatches(nonFinite, rounded = true) == 0)
      else {
        // the cast overflows on NaN: both arms raise CAST_OVERFLOW per row
        assert(mismatches(nonFinite, rounded = false) == 0)
        for (row <- nonFiniteRows; arm <- Seq(native, hof)) {
          val err = intercept[Exception](scaled(row).select(arm).collect())
          assert(String.valueOf(err.getMessage).contains("CAST_OVERFLOW"), err)
        }
      }
    } finally spark.conf.set(ansiKey, prior)
  }

  test("DsirScore == transform(pmod) + aggregate(element_at) fold") {
    import spark.implicits._
    val buckets = 64
    val ratios = (0 until buckets).map(j => math.cos(j) + 1.5)
    val ratioLit = array(ratios.map(lit): _*)
    val docs = Tables.documents(spark, sf0001).select(col("text"))
      .unionAll(Seq("", "one", "a b", "a b c d").toDF("text"))
    val sh = NativeExpressions.positionalShingleHashes(col("text"), 2)
    val fb = transform(sh, x => pmod(x, lit(buckets.toLong)))
    val diff = docs.select(
      NativeExpressions.dsirScore(sh, ratios, buckets.toLong).as("native"),
      aggregate(fb, lit(0.0),
        (a, b) => a + element_at(ratioLit, (b + 1).cast("int"))).as("hof"))
      .filter(col("native") =!= col("hof")).count()
    assert(diff == 0)
  }

  test("toDoubleArray cast == transform(_, cast) on embeddings (incl. null)") {
    val e = Tables.embeddings(spark, sf0001).select(col("embedding"))
      .unionAll(spark.sql("SELECT CAST(NULL AS array<float>) AS embedding"))
    val diff = e.select(
      graft.operators.Dedup.toDoubleArray(col("embedding")).as("native"),
      transform(col("embedding"), x => x.cast(DoubleType)).as("hof"))
      .filter(not(col("native") <=> col("hof"))).count()
    assert(diff == 0)
  }
}
