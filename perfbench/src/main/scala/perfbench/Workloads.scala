package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.functions.{NativeExpressions, TextFunctions}
import graft.operators.{CurationPipeline, Dedup, Packing, Similarity}
import graft.pu.{GradualReductionPULearnerConfig, LogisticRegressionConfig, TraditionalPULearnerConfig}
import graft.sources.Layouts

/** One timed call into graft, with its outcome. */
case class Op(kind: String, ms: Double, ok: Boolean)

/** What one pass of a workload did: its ops (work and gate checks), the
  * rows it counts for `rows_per_s`, its named quality ratios, in a traced
  * pass its workload-specific layer numbers, and the time it spent on
  * benchmark-side work (reading queries, checking outputs) that is not
  * part of the pass's wall. */
case class PassResult(ops: Seq[Op], rows: Long, quality: Seq[(String, Double)],
                      layers: Seq[(String, Double)], failures: Seq[String], untimedNs: Long)

/** Per-pass context: the session, the workload's input directory, in a
  * traced pass the [[Trace]] whose spans wrap every public call, and
  * whether the pass runs the costly checks (measured passes do; set-up
  * warm-up passes run only the cheap ones). */
final class Ctx(val spark: SparkSession, val dir: Path, val trace: Option[Trace],
                val fullCheck: Boolean) {
  def traced: Boolean = trace.isDefined

  private val ops = ArrayBuffer.empty[Op]
  private val failures = ArrayBuffer.empty[String]
  private var untimedNs = 0L

  /** Benchmark-side work, left out of the pass's wall. */
  def untimed[T](body: => T): T = {
    val t0 = System.nanoTime()
    try body finally untimedNs += System.nanoTime() - t0
  }

  def span[T](name: String)(body: => T): T = trace.fold(body)(_.span(name)(body))

  /** A timed op inside span `name`; a throw is recorded as a failed op
    * and rethrown (the pass is abandoned). */
  def op[T](kind: String, name: String)(body: => T): T = {
    val t0 = System.nanoTime()
    try {
      val out = span(name)(body)
      ops += Op(kind, (System.nanoTime() - t0) / 1e6, ok = true)
      out
    } catch {
      case e: Throwable =>
        ops += Op(kind, (System.nanoTime() - t0) / 1e6, ok = false)
        failures += s"$name: $e"
        throw e
    }
  }

  /** A stage boundary of a lazy chain. `persist` marks the outputs the
    * chain caches in every pass, as graft's own curation chain does.
    * Traced, every stage output is also persisted and counted inside its
    * span, so the layer gets its own time; [[release]] frees it once its
    * last consumer has been materialized. */
  def stage(name: String, persist: Boolean = false)(body: => DataFrame): DataFrame =
    span(name) {
      val out = if (persist || traced) body.persist(StorageLevel.MEMORY_AND_DISK) else body
      if (traced) out.count()
      out
    }

  /** Traced passes free stage outputs at their last use; untraced passes
    * keep the chain's caches until the pass ends. */
  def release(dfs: DataFrame*): Unit = if (traced) dfs.foreach(_.unpersist(blocking = false))

  /** Record gate checks as ops of kind "gate". */
  def gate(checks: Seq[Gates.Check]): Unit = checks.foreach { c =>
    ops += Op("gate", 0.0, c.ok)
    if (!c.ok) failures += s"gate ${c.detail}"
  }

  def result(rows: Long, quality: Seq[(String, Double)],
             layers: Seq[(String, Double)] = Nil): PassResult =
    PassResult(ops.toList, rows, quality, layers, failures.toList, untimedNs)

  def partial: PassResult = PassResult(ops.toList, 0L, Nil, Nil, failures.toList, untimedNs)
}

/** A benchmark workload: generated inputs plus a repeatable pass. */
trait Workload {
  def name: String
  /** The op kind whose latency is the workload's `op_p50_ms`/`op_p95_ms`. */
  def requestKind: String
  /** Write the inputs for `seed` under `dir` and keep the truth. */
  def generate(dir: Path, seed: Long): Unit
  def pass(ctx: Ctx): PassResult
  /** Spans whose jobs/tasks/CPU the traced run reports. */
  def spans: Seq[String]
  /** Traced-run extras measured once after the passes (kernel probes). */
  def probes(spark: SparkSession, dir: Path): Seq[(String, Double)] = Nil
}

object Workloads {
  val all: Seq[Workload] = Seq(new PuWeight, new CurateCorpus, new RetrieveMixed)
  def byName(n: String): Option[Workload] = all.find(_.name == n)

  /** Data files Spark wrote under `dir`. */
  def partFiles(dir: Path): Long =
    if (!Files.exists(dir)) 0L
    else Files.walk(dir).iterator().asScala.count(_.getFileName.toString.startsWith("part-"))
}

// ---------------------------------------------------------------------------
// pu_weight: the paper's verb, Traditional and PU-LEA with logistic regression
// ---------------------------------------------------------------------------

final class PuWeight extends Workload {
  val name = "pu_weight"
  val requestKind = "weight"
  val size = Gen.PuSize(rows = 4000, dim = 64)
  private var truth: Gen.PuTruth = _

  def generate(dir: Path, seed: Long): Unit = truth = Gen.pu(dir, seed, size)

  val spans = Seq("pu.zero_step", "pu.traditional", "pu.gradual")

  private def input(spark: SparkSession, dir: Path): DataFrame =
    spark.read.parquet(dir.resolve("pu").toString)
      .select(col("id"), col("pu_label"), array_to_vector(col("features")).as("features"))

  def pass(ctx: Ctx): PassResult = {
    val df = input(ctx.spark, ctx.dir)
    val learners = Seq(
      "pu.traditional" -> TraditionalPULearnerConfig(0.5, 3, LogisticRegressionConfig()).build(),
      "pu.gradual" -> GradualReductionPULearnerConfig(0.5, LogisticRegressionConfig()).build())
    val quality = learners.map { case (span, learner) =>
      val scores = ctx.op("weight", span) {
        learner.weight(df, "pu_label", "features", "score")
          .select(col("id"), col("score")).collect()
          .map(r => (r.getLong(0), r.getDouble(1)))
      }
      val checks = ctx.untimed(Gates.pu(span, truth, scores))
      ctx.gate(checks)
      s"${span.stripPrefix("pu.")}_auc" -> checks.last.value
    }
    if (ctx.traced)
      ctx.span("pu.zero_step") {
        // the first step of both learners, timed on its own: weight() runs
        // it inside the call, where it cannot be seen from outside
        new graft.pu.TraditionalPULearner(0.5, 3, LogisticRegressionConfig().build())
          .zeroStep(df, "pu_label", "features", "score").select("id", "score").count()
      }
    ctx.result(2L * size.rows, quality)
  }
}

// ---------------------------------------------------------------------------
// curate_corpus: the curation chain from quality filter to packed spans
// ---------------------------------------------------------------------------

final class CurateCorpus extends Workload {
  import Workloads.partFiles
  val name = "curate_corpus"
  val requestKind = "curate"
  val size = Gen.CorpusSize(docs = 1500)
  private var truth: Gen.CorpusTruth = _

  /** MinHash shingle width and the Jaccard floor a candidate pair must
    * reach to be merged. Planted near-duplicates sit near 0.64, unrelated
    * docs near 0. */
  val ShingleN = 3
  val MinJaccard = 0.4
  val PackTokens = 2048L
  val Shards = 4

  def generate(dir: Path, seed: Long): Unit = truth = Gen.corpus(dir, seed, size)

  val spans = Seq("curate.quality", "curate.paragraph", "dedup.signature", "dedup.lsh_pairs",
    "dedup.cc", "curate.semantic", "curate.decontam", "curate.pack", "curate.write")

  def pass(ctx: Ctx): PassResult = {
    var layers = Seq.empty[(String, Double)]
    val out = ctx.dir.resolve("curated")
    ctx.op("curate", "curate.pass") {
      val docs = ctx.spark.read.parquet(ctx.dir.resolve("documents").toString)
      val q = ctx.stage("curate.quality", persist = true)(CurationPipeline.qualitySurvivors(docs))
      val s2 = ctx.stage("curate.paragraph", persist = true) {
        q.join(CurationPipeline.paragraphSurvivors(CurationPipeline.paragraphAgg(q, wide = true))
          .select("doc_id"), "doc_id")
      }
      ctx.release(q)
      val sig = ctx.stage("dedup.signature", persist = true) {
        s2.select(col("doc_id"), TextFunctions.shingleHashes(col("text"), ShingleN).as("sh"))
          .withColumn("bands", Dedup.bandHashes(Dedup.minhashSignature(col("sh"))))
      }
      val cand = ctx.stage("dedup.lsh_pairs")(Dedup.lshCandidatePairs(sig, "doc_id", "bands"))
      if (ctx.traced) layers ++= ctx.untimed(pairLayers(cand))
      val pairs = ctx.stage("dedup.lsh_pairs") {
        val sh = sig.select(col("doc_id"), col("sh"))
        cand.join(sh.toDF("id_a", "sh_a"), "id_a").join(sh.toDF("id_b", "sh_b"), "id_b")
          .filter(Dedup.jaccard(col("sh_a"), col("sh_b")) >= MinJaccard)
          .select("id_a", "id_b")
      }
      ctx.release(sig, cand)
      val s3in = ctx.stage("dedup.cc", persist = true) {
        val (labels, rounds) = Dedup.connectedComponentsWithStats(pairs)
        layers :+= "dedup.cc_rounds" -> rounds.toDouble
        s2.join(labels.filter(col("id") =!= col("canonical_id")).select(col("id").as("doc_id")),
          Seq("doc_id"), "left_anti")
      }
      ctx.release(s2, pairs)
      val sem = ctx.stage("curate.semantic")(CurationPipeline.semanticSurvivors(s3in))
      val s4 = ctx.stage("curate.decontam", persist = true) {
        CurationPipeline.decontaminate(s3in.join(sem, "doc_id"),
          docs.filter(col("source") === Gen.EvalSource), wide = true)
      }
      ctx.release(s3in, sem)
      val packedSpans = ctx.stage("curate.pack") {
        Packing.packSpans(
          s4.select(col("doc_id"), TextFunctions.tokenCount(col("text")).cast("long").as("n_tokens")),
          "doc_id", "n_tokens", PackTokens)
      }
      ctx.release(s4)
      // the curated spans are the pass's output: training shards on disk
      ctx.span("curate.write") {
        Layouts.writePartitioned(
          packedSpans.withColumn("shard", pmod(col("pack_id"), lit(Shards))), out.toString, "shard")
      }
    }
    val packed = ctx.untimed(ctx.spark.read.parquet(out.toString)
      .groupBy("doc_id")
      .agg(sum(col("token_end") - col("token_start")).as("toks"), count(lit(1)).as("n"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))))
    if (ctx.traced) layers :+= "sources.files_written" -> ctx.untimed(partFiles(out).toDouble)
    val checks = ctx.untimed(Gates.curate(truth, packed))
    ctx.gate(checks)
    ctx.result(truth.docs.toLong,
      checks.filter(c => c.name.startsWith("dup_") && c.name != "dup_originals_kept")
        .map(c => c.name -> c.value),
      layers)
  }

  /** Candidate count and the share of candidates inside one planted
    * cluster (traced passes only: it collects the candidate ids). */
  private def pairLayers(cand: DataFrame): Seq[(String, Double)] = {
    val clusterOf = truth.dupClusters.zipWithIndex
      .flatMap { case (c, i) => c.map(_ -> i) }.toMap
    val pairs = cand.collect().map(r => (r.getLong(0), r.getLong(1)))
    val planted = pairs.count { case (a, b) =>
      clusterOf.get(a).exists(i => clusterOf.get(b).contains(i)) }
    Seq("dedup.candidate_pairs" -> pairs.length.toDouble,
      "dedup.pair_yield" -> (if (pairs.isEmpty) 0.0 else planted.toDouble / pairs.length))
  }

  /** Copies of the corpus in the kernel probe frame, so each timed
    * projection runs long enough to be measured. */
  val ProbeCopies = 48

  /** ns/row of six kernels, each a single projection over a cached
    * in-memory frame, minus the same scan without the projection (median
    * of three timings each). */
  override def probes(spark: SparkSession, dir: Path): Seq[(String, Double)] = {
    val docs = spark.read.parquet(dir.resolve("documents").toString)
      .crossJoin(spark.range(ProbeCopies).toDF("copy"))
      .select(col("text"),
        TextFunctions.shingleHashes(col("text"), ShingleN).as("sh"),
        NativeExpressions.hashEmbed(col("text"), CurationPipeline.SemDim).as("v"))
      .persist(StorageLevel.MEMORY_ONLY)
    val rows = docs.count()
    def nsRow(over: String, c: org.apache.spark.sql.Column): Double = {
      def time(x: org.apache.spark.sql.Column): Double = {
        val t0 = System.nanoTime()
        docs.select(x).write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0).toDouble
      }
      val diffs = (0 until 3).map(_ => time(c) - time(col(over))).sorted
      math.max(0.0, diffs(1)) / rows
    }
    try Seq(
      "functions.text_stats_ns_row" -> nsRow("text", NativeExpressions.textStats(col("text"))),
      "functions.repetition_stats_ns_row" -> nsRow("text", NativeExpressions.repetitionStats(col("text"))),
      "functions.shingle_hashes_ns_row" -> nsRow("text", TextFunctions.shingleHashes(col("text"), ShingleN)),
      "functions.minhash_signature_ns_row" -> nsRow("sh", Dedup.minhashSignature(col("sh"))),
      "functions.hash_embed_ns_row" -> nsRow("text", NativeExpressions.hashEmbed(col("text"), CurationPipeline.SemDim)),
      "functions.dot_ns_row" -> nsRow("v", NativeExpressions.dot(col("v"), col("v"))))
    finally docs.unpersist(blocking = true)
  }
}

// ---------------------------------------------------------------------------
// retrieve_mixed: an IVF index under appends, compactions and top-k probes
// ---------------------------------------------------------------------------

final class RetrieveMixed extends Workload {
  val name = "retrieve_mixed"
  val requestKind = "probe"
  val NCentroids = 32
  val size = Gen.RetrieveSize(base = 6000, dim = 64, appendRows = 500, appends = 3,
    queries = 256, sampleQueries = 48, anchors = NCentroids)
  private var truth: Gen.RetrieveTruth = _

  val NProbe = 8
  val NBuckets = 16
  val K = 10
  val ProbesPerRound = 3
  val QueriesPerProbe = 1
  val CompactEvery = 2

  def generate(dir: Path, seed: Long): Unit = truth = Gen.retrieve(dir, seed, size)

  val spans = Seq("sim.build", "sim.append", "sim.probe", "sim.compact")

  type Cents = Seq[(Long, Seq[Double], Double)]
  type Query = (Long, Seq[Double], Double)

  private def prepared(spark: SparkSession, paths: Seq[Path]): DataFrame =
    Similarity.prepare(spark.read.parquet(paths.map(_.toString): _*))

  private def write(df: DataFrame, cents: Cents, tbl: String, mode: String): Unit =
    Layouts.writeBucketed(Similarity.ivfAssignWith(df, cents), tbl, "cen_id", NBuckets,
      Seq("cen_id", "vec_id"), mode)

  /** Top-k for a batch of queries against the bucketed lists: probe ids
    * chosen by the centroid kernel and collected, then a bucket-pruned
    * scan joined with the broadcast probe rows and a bounded top-k. */
  private def probe(spark: SparkSession, tbl: String, cents: Cents,
                    batch: Seq[Query]): Map[Long, Seq[Long]] = {
    import spark.implicits._
    val probes = batch.toDF("query_id", "qv", "qnrm")
      .withColumn("cen_id", explode(
        NativeExpressions.topNCosineIds(col("qv"), col("qnrm"), cents, NProbe)))
      .collect()
      .map(r => (r.getLong(0), r.getSeq[Double](1), r.getDouble(2), r.getLong(3)))
      .toSeq
    val ids = probes.map(_._4).distinct.sorted
    val cand = spark.table(tbl)
      .filter(col("cen_id").isin(ids.map(Long.box): _*))
      .join(broadcast(probes.toDF("query_id", "qv", "qnrm", "cen_id")), "cen_id")
      .withColumn("cos", Dedup.cosine(col("qv"), col("v"), col("qnrm"), col("nrm")))
    Similarity.topKPerQuery(cand, K).select("query_id", "rank", "vec_id").collect()
      .groupBy(_.getLong(0))
      .map { case (q, rs) => q -> rs.sortBy(_.getLong(1)).map(_.getLong(2)).toSeq }
  }

  private def filesUnder(spark: SparkSession, tbl: String): Long =
    Workloads.partFiles(Path.of(java.net.URI.create(
      spark.sessionState.catalog.defaultTablePath(
        org.apache.spark.sql.catalyst.TableIdentifier(tbl)).toString)))

  def pass(ctx: Ctx): PassResult = {
    val spark = ctx.spark
    val dir = ctx.dir
    val appends = (0 until size.appends).map(b => dir.resolve(f"append_$b%03d"))
    val queries: IndexedSeq[Query] = ctx.untimed(prepared(spark, Seq(dir.resolve("queries")))
      .collect().map(r => (r.getLong(0), r.getSeq[Double](1), r.getDouble(2))).toIndexedSeq)
    var filesWritten = 0L
    def countFiles(tbl: String)(body: => Unit): Unit = {
      val before = if (ctx.traced) filesUnder(spark, tbl) else 0L
      body
      if (ctx.traced) filesWritten += filesUnder(spark, tbl) - before
    }
    var tbl = "pb_ivf_a"
    var answered = 0L
    try {
      val cents = ctx.op("build", "sim.build") {
        val base = prepared(spark, Seq(dir.resolve("base")))
        val cents = Similarity.collectCentroids(Similarity.centroids(base, NCentroids))
        countFiles(tbl)(write(base, cents, tbl, "overwrite"))
        cents
      }
      var next = 0
      for (round <- 0 until size.appends) {
        ctx.op("append", "sim.append") {
          countFiles(tbl)(write(prepared(spark, Seq(appends(round))), cents, tbl, "append"))
        }
        for (_ <- 0 until ProbesPerRound) {
          val batch = (0 until QueriesPerProbe).map(i => queries((next + i) % queries.size))
          next += QueriesPerProbe
          val got = ctx.op("probe", "sim.probe")(probe(spark, tbl, cents, batch))
          answered += batch.size
          ctx.gate(Seq(Gates.Check("probe_k", got.size, got.size == batch.size &&
            got.values.forall(_.size == K), s"probe returned ${got.size} queries")))
        }
        if ((round + 1) % CompactEvery == 0) {
          val to = if (tbl == "pb_ivf_a") "pb_ivf_b" else "pb_ivf_a"
          ctx.op("compact", "sim.compact") {
            countFiles(to)(Layouts.compactBucketed(spark, tbl, to, "cen_id", NBuckets,
              Seq("cen_id", "vec_id")))
            spark.sql(s"DROP TABLE $tbl")
          }
          tbl = to
        }
      }
      // recall against Similarity.bruteForceTopK on the sample queries, on
      // the index as the rounds left it
      val recall = if (!ctx.fullCheck) Nil else ctx.untimed {
        import spark.implicits._
        val sample = queries.filter(q => truth.sampleIds.contains(q._1))
        val corpus = prepared(spark, dir.resolve("base") +: appends)
        val bf = Similarity.bruteForceTopK(corpus, sample.toDF("vec_id", "v", "nrm"), K)
          .select("query_id", "rank", "vec_id").collect()
          .groupBy(_.getLong(0))
          .map { case (q, rs) => q -> rs.sortBy(_.getLong(1)).map(_.getLong(2)).toSeq }
        val checks = Gates.retrieve(truth, bf, probe(spark, tbl, cents, sample))
        ctx.gate(checks)
        Seq("recall_at_10" -> checks.last.value)
      }
      ctx.result(answered, recall, Seq("sources.files_written" -> filesWritten.toDouble))
    } finally {
      Seq("pb_ivf_a", "pb_ivf_b").foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
    }
  }
}
