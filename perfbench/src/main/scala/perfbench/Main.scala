package perfbench

import java.nio.file.{Files, Path}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** Runs one workload and prints its result.
  *
  *   --workload <name> --seed <n> --seconds <s> --trace <0|1> --work <dir>
  *
  * Spark runs `local[N]`, N the JVM's processor count (which `run.py` sets).
  *
  * Set-up (session start, input generation and one warm-up pass) is done
  * [[SetupReps]] times and its median is `setup_s`. Then passes run back to
  * back, one client, for `--seconds`. With `--trace 0` the passes are
  * untraced and the last stdout line carries the end-to-end metrics; with
  * `--trace 1` untraced and traced passes alternate and it carries the
  * per-layer metrics. */
object Main {
  val SetupReps = 3

  /** End-to-end metrics: (name, unit, better). No tail percentile: a run
    * makes 2-9 requests per pass, too few for any percentile above the
    * median to have ten samples beyond it. */
  val EndToEnd: Seq[(String, String, String)] = Seq(
    ("setup_s", "s", "lower"),
    ("wall_s", "s", "lower"),
    ("rows_per_s", "rows/s", "higher"),
    ("op_p50_ms", "ms", "lower"),
    ("peak_rss_mb", "MB", "lower"),
    ("ops_ok_frac", "ratio", "higher"),
    ("quality", "ratio", "higher"))

  private val spanNames: Seq[String] = Workloads.all.flatMap(_.spans).distinct

  /** Per-layer metrics of the traced run: (name, unit, better). Every
    * workload prints all of them; a layer a workload does not reach reads 0. */
  val PerLayer: Seq[(String, String, String)] = {
    def c(n: String) = (n, "count", "lower")
    def ms(n: String) = (n, "ms", "lower")
    def b(n: String) = (n, "bytes", "lower")
    Seq(c("sched.jobs"), c("sched.stages"), c("sched.tasks"), ms("sched.driver_gap_ms"),
      c("driver.collect_jobs"), b("driver.result_bytes"),
      c("pu.rounds"), c("pu.jobs_per_round"),
      ms("catalyst.analysis_ms"), ms("catalyst.optimization_ms"), ms("catalyst.planning_ms"),
      c("catalyst.executions"), c("catalyst.codegen_compiles"),
      ms("exec.cpu_ms"), ms("exec.gc_ms")) ++
    Seq("text_stats", "repetition_stats", "shingle_hashes", "minhash_signature", "hash_embed", "dot")
      .map(k => (s"functions.${k}_ns_row", "ns/row", "lower")) ++
    Seq(b("shuffle.write_bytes"), b("shuffle.read_bytes"), ms("shuffle.fetch_wait_ms"),
      b("spill.disk_bytes"), c("dedup.candidate_pairs"), ("dedup.pair_yield", "ratio", "higher"),
      c("dedup.cc_rounds"), ms("dedup.cc_ms"), b("storage.peak_cached_bytes")) ++
    Seq("quality", "paragraph", "semantic", "decontam", "pack").map(s => ms(s"curate.${s}_ms")) ++
    Seq(ms("dedup.signature_ms"), ms("dedup.lsh_pairs_ms"), ms("pu.zero_step_ms"), ms("pu.weight_ms")) ++
    Seq("build", "append", "compact", "probe").map(s => ms(s"sim.${s}_ms")) ++
    Seq(c("sim.probe_jobs"), c("sources.files_written"), ("trace.overhead_frac", "ratio", "lower")) ++
    spanNames.flatMap(s => Seq(c(s"span.$s.jobs"), c(s"span.$s.tasks"), ms(s"span.$s.cpu_ms")))
  }

  case class Args(workload: String, seed: Long, seconds: Int, trace: Boolean, work: Path)

  private def parse(args: Array[String]): Args = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val trace = need("trace")
    require(trace == "0" || trace == "1", s"--trace must be 0 or 1, got $trace")
    Args(need("workload"), need("seed").toLong, need("seconds").toInt, trace == "1",
      Path.of(m.getOrElse("work", "perfbench/work")).toAbsolutePath)
  }

  def main(argv: Array[String]): Unit = {
    if (argv.sameElements(Array("--list-metrics"))) {
      println(Json.render(Seq(
        "end_to_end" -> EndToEnd.map { case (n, u, b) => Seq("name" -> n, "unit" -> u, "better" -> b) },
        "per_layer" -> PerLayer.map { case (n, u, b) => Seq("name" -> n, "unit" -> u, "better" -> b) })))
      return
    }
    val a = parse(argv)
    val wl = Workloads.byName(a.workload).getOrElse(
      throw new IllegalArgumentException(s"unknown workload ${a.workload}; one of " +
        Workloads.all.map(_.name).mkString(", ")))
    run(a, wl)
    // Spark leaves non-daemon threads behind
    sys.exit(0)
  }

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))

  private def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile of `xs` (0 for no samples). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  private def peakRssMb(): Double =
    Files.readAllLines(Path.of("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

  /** JIT compile time (summed over compiler threads, as elapsed time) and
    * collector time of this JVM so far: a pass's share of either is
    * background work its wall competed with. Printed per pass on stderr. */
  private def jitMs(): Long =
    Option(java.lang.management.ManagementFactory.getCompilationMXBean)
      .filter(_.isCompilationTimeMonitoringSupported).map(_.getTotalCompilationTime).getOrElse(0L)

  /** Generated classes Spark compiled with Janino so far, i.e. misses of
    * its codegen cache. */
  private def codegenCompiles(): Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  private def gcMs(): Long =
    java.lang.management.ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum

  case class Timed(wallNs: Long, result: PassResult, record: Option[Trace.Record], codegenCompiles: Long)

  private def run(a: Args, wl: Workload): Unit = {
    val cores = Runtime.getRuntime.availableProcessors()
    val inputs = a.work.resolve(wl.name)
    deleteTree(a.work.resolve("warehouse"))
    deleteTree(inputs)
    Files.createDirectories(inputs)

    val all = ArrayBuffer.empty[PassResult]
    var spark: SparkSession = null
    var trace: Option[Trace] = None

    def onePass(traced: Boolean, measured: Boolean = true): Timed = {
      val tr = if (traced) trace else None
      tr.foreach(_.begin())
      // traced passes skip the costly checks, so their record holds only
      // the workload's own work
      val ctx = new Ctx(spark, inputs, tr, fullCheck = measured && !traced)
      val jit0 = jitMs()
      val gc0 = gcMs()
      val cg0 = codegenCompiles()
      val t0 = System.nanoTime()
      val res =
        try wl.pass(ctx)
        catch { case e: Exception => System.err.println(s"pass failed: $e"); ctx.partial }
        finally {
          spark.catalog.clearCache()
          graft.CheckpointUtil.releaseStragglers()
        }
      val wall = System.nanoTime() - t0 - res.untimedNs
      val compiles = codegenCompiles() - cg0
      all += res
      System.err.println(f"perfbench: ${if (traced) "traced" else "untraced"} pass ${wall / 1e9}%.2f s, " +
        s"${res.ops.count(_.kind != "gate")} ops, ${res.ops.count(!_.ok)} failed, " +
        s"JIT ${jitMs() - jit0} ms, GC ${gcMs() - gc0} ms, $compiles codegen compiles")
      res.failures.foreach(f => System.err.println(s"FAILED ${wl.name}: $f"))
      val rec = tr.map(_.end(wall + res.untimedNs))
      rec.foreach { r =>
        val sites = r.jobSite.values.groupBy(identity).toSeq.sortBy(-_._2.size)
        System.err.println("perfbench: traced jobs by call site: " +
          sites.map { case (site, js) => s"${js.size}x $site" }.mkString("; "))
      }
      Timed(wall, res, rec, compiles)
    }

    // ---- set-up, SetupReps times ----------------------------------------
    val setups = (1 to SetupReps).map { _ =>
      val t0 = System.nanoTime()
      if (spark != null) spark.stop()
      spark = graft.Tables.localSession(cores, "perfbench")
      spark.sparkContext.setLogLevel("ERROR")
      wl.generate(inputs, a.seed)
      onePass(traced = false, measured = false)
      val took = (System.nanoTime() - t0) / 1e9
      System.err.println(f"perfbench: set-up $took%.2f s")
      took
    }
    if (a.trace) trace = Some(new Trace(spark))

    // ---- measured passes ------------------------------------------------
    val untraced = ArrayBuffer.empty[Timed]
    val traced = ArrayBuffer.empty[Timed]
    val deadline = System.nanoTime() + a.seconds * 1000000000L
    while (System.nanoTime() < deadline || untraced.isEmpty || (a.trace && traced.isEmpty)) {
      if (a.trace && traced.size < untraced.size) traced += onePass(traced = true)
      else untraced += onePass(traced = false)
    }
    val probes = if (a.trace) wl.probes(spark, inputs) else Nil

    val env = environment(spark)
    trace.foreach(_.close())
    spark.stop()

    // ---- result -----------------------------------------------------------
    val attempted = all.map(_.ops.size).sum
    val failed = all.map(_.ops.count(!_.ok)).sum
    val correct = failed == 0 && all.forall(_.failures.isEmpty)
    val walls = untraced.map(_.wallNs / 1e9).toSeq
    val requests = untraced.flatMap(_.result.ops.filter(o => o.kind == wl.requestKind && o.ok).map(_.ms)).toSeq
    val qualities = untraced.map(t => t.result.quality.map(_._2).minOption.getOrElse(0.0)).toSeq
    val e2e: Map[String, Double] = Map(
      "setup_s" -> median(setups),
      "wall_s" -> median(walls),
      "rows_per_s" -> median(untraced.map(t => t.result.rows / (t.wallNs / 1e9)).toSeq),
      "op_p50_ms" -> quantile(requests, 0.5),
      "op_p95_ms" -> quantile(requests, 0.95),
      "peak_rss_mb" -> peakRssMb(),
      "ops_ok_frac" -> (1.0 - failed.toDouble / math.max(1, attempted)),
      "quality" -> median(qualities))

    println(s"perfbench ${wl.name} seed=${a.seed} seconds=${a.seconds} trace=${if (a.trace) 1 else 0}")
    println("env " + Json.render(env))
    println("named " + Json.render(named(wl, untraced.toSeq, e2e)))
    println(s"passes untraced=${untraced.size} traced=${traced.size} setup_reps=${setups.map(s => f"$s%.2f").mkString(",")}")
    val metrics: Seq[(String, String, Double)] =
      if (!a.trace) EndToEnd.map { case (n, u, _) => (n, u, e2e(n)) }
      else {
        val layers = layerMetrics(wl, traced.toSeq) ++ probes.toMap +
          ("trace.overhead_frac" -> (median(traced.map(_.wallNs / 1e9).toSeq) / median(walls) - 1.0))
        PerLayer.map { case (n, u, _) => (n, u, layers.getOrElse(n, 0.0)) }
      }
    val better = (EndToEnd ++ PerLayer).map(m => m._1 -> m._3).toMap
    metrics.foreach { case (n, u, v) => println(f"metric $n%-34s $v%16.4f $u%-7s ${better(n)}") }
    println(Json.render(Seq(
      "correct" -> correct,
      "attempted" -> attempted,
      "failed" -> failed,
      "metrics" -> metrics.map { case (n, u, v) => n -> Seq("value" -> v, "unit" -> u) })))
  }

  /** The workload-specific names of the end-to-end numbers, for reading. */
  private def named(wl: Workload, passes: Seq[Timed], e2e: Map[String, Double]): Seq[(String, Any)] = {
    def opsOf(kind: String) = passes.flatMap(_.result.ops.filter(o => o.kind == kind && o.ok).map(_.ms))
    val quality = passes.flatMap(_.result.quality).groupBy(_._1)
      .map { case (k, v) => k -> median(v.map(_._2)) }.withDefaultValue(0.0)
    val common = Seq(
      "setup_s" -> e2e("setup_s"), "wall_s" -> e2e("wall_s"), "rows_per_s" -> e2e("rows_per_s"),
      "peak_rss_mb" -> e2e("peak_rss_mb"), "ops_failed_frac" -> (1.0 - e2e("ops_ok_frac")))
    val specific: Seq[(String, Any)] = wl.name match {
      case "pu_weight" =>
        Seq("pu_auc" -> quality.values.minOption.getOrElse(0.0), "weight_p50_ms" -> e2e("op_p50_ms")) ++
          quality.toSeq.sortBy(_._1)
      case "curate_corpus" =>
        Seq("dup_precision" -> quality("dup_precision"), "dup_recall" -> quality("dup_recall"))
      case _ =>
        Seq("probe_p50_ms" -> e2e("op_p50_ms"), "probe_p95_ms" -> e2e("op_p95_ms"),
          "probe_samples" -> opsOf("probe").size,
          "append_p50_ms" -> median(opsOf("append")), "append_samples" -> opsOf("append").size,
          "recall_at_10" -> quality("recall_at_10"))
    }
    common ++ specific
  }

  /** Median over traced passes of every per-layer number. */
  private def layerMetrics(wl: Workload, passes: Seq[Timed]): Map[String, Double] = {
    val perPass = passes.flatMap(t => t.record.map(r =>
      layersOf(wl, r, t.result) + ("catalyst.codegen_compiles" -> t.codegenCompiles.toDouble)))
    perPass.flatMap(_.keys).distinct.map(k => k -> median(perPass.map(_.getOrElse(k, 0.0)))).toMap
  }

  private def layersOf(wl: Workload, r: Trace.Record, res: PassResult): Map[String, Double] = {
    val out = scala.collection.mutable.LinkedHashMap.empty[String, Double]
    out ++= r.sparkLayers
    out ++= res.layers
    for (s <- wl.spans) {
      val (jobs, tasks, cpu) = r.spanCounts(s)
      out(s"span.$s.jobs") = jobs
      out(s"span.$s.tasks") = tasks.toDouble
      out(s"span.$s.cpu_ms") = cpu
    }
    def mean(s: String) = if (r.count(s) == 0) 0.0 else r.totalMs(s) / r.count(s)
    wl.name match {
      case "pu_weight" =>
        // every logistic-regression fit starts with one summary job
        val weightJobs = r.jobSpan.filter { case (_, s) => s == "pu.traditional" || s == "pu.gradual" }.keys
        val fits = weightJobs.count(j => r.jobSite.getOrElse(j, "").contains("Summarizer") ||
          r.jobSite.getOrElse(j, "").contains("summary"))
        out("pu.rounds") = math.max(0, fits - 2)
        out("pu.jobs_per_round") = if (fits == 0) 0.0 else weightJobs.size.toDouble / fits
        out("pu.zero_step_ms") = r.totalMs("pu.zero_step")
        out("pu.weight_ms") = (r.totalMs("pu.traditional") + r.totalMs("pu.gradual")) / 2 - r.totalMs("pu.zero_step")
      case "curate_corpus" =>
        for (s <- Seq("quality", "paragraph", "semantic", "decontam", "pack"))
          out(s"curate.${s}_ms") = r.selfMs(s"curate.$s")
        out("dedup.signature_ms") = r.selfMs("dedup.signature")
        out("dedup.lsh_pairs_ms") = r.selfMs("dedup.lsh_pairs")
        out("dedup.cc_ms") = r.selfMs("dedup.cc")
      case _ =>
        for (s <- Seq("build", "append", "compact", "probe")) out(s"sim.${s}_ms") = mean(s"sim.$s")
        out("sim.probe_jobs") =
          if (r.count("sim.probe") == 0) 0.0 else r.jobSpan.values.count(_ == "sim.probe").toDouble / r.count("sim.probe")
    }
    out.toMap
  }

  /** Where and how the run was made: cores, heap, Spark, source and conf. */
  private def environment(spark: SparkSession): Seq[(String, Any)] = {
    val jvmArgs = java.lang.management.ManagementFactory.getRuntimeMXBean.getInputArguments.asScala
    val conf = (spark.sparkContext.getConf.getAll.toSeq ++ spark.conf.getAll.toSeq)
      .filterNot { case (k, _) => k.contains("app.id") || k.contains("driver.port") ||
        k.contains("app.startTime") || k.contains("executor.id") || k.contains("driver.host") }
      .toMap.toSeq.sortBy(_._1)
    Seq(
      "nproc" -> sys.props.get("perfbench.nproc").map(_.toInt)
        .getOrElse(Runtime.getRuntime.availableProcessors()),
      "jvm_flags" -> jvmArgs.filter(_.startsWith("-XX:")).mkString(" "),
      "master" -> spark.sparkContext.master,
      "driver_heap" -> jvmArgs.find(_.startsWith("-Xmx")).getOrElse("default"),
      "max_heap_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
      "spark_version" -> spark.version,
      "java_version" -> System.getProperty("java.version"),
      "source" -> sys.props.getOrElse("perfbench.source", "unknown"),
      "spark_conf" -> conf)
  }
}
