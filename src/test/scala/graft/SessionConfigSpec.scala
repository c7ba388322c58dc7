package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Pins the single-session-builder contract: `Tables.localSession` is the
  * only place under src/main that builds a SparkSession, so every main,
  * perfbench and the specs run under one engine config; likewise
  * `SessionMemo` is the only per-session memo, `CheckpointUtil.materialize`
  * the only checkpoint, and `Tables.scopedSession` the only conf write. Also pins what
  * that config must carry, and that the AQE keys it leaves alone really
  * resolve to Spark's stock defaults (the env knobs that used to override
  * them defaulted to exactly those values).
  */
class SessionConfigSpec extends SparkSuite {

  private def scalaFiles(root: String): Seq[Path] = {
    val s = Files.walk(Paths.get(root))
    try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
    finally s.close()
  }

  /** Source text with block and line comments removed, so a doc-comment
    * usage example does not count as a builder. */
  private def code(p: Path): String =
    Files.readString(p)
      .replaceAll("(?s)/\\*.*?\\*/", "")
      .replaceAll("//[^\n]*", "")

  // (pattern, the one src/main file allowed to use it, or None for no
  // file): one session builder, one hand-rolled per-session memo, one way
  // to store a generation, no library code changing a session's conf
  // (scoped settings go through Tables.scopedSession's child session), and
  // one home for codegen nodes (a new kernel goes through KernelCall or
  // sits beside the few classes that do per-row work around their call),
  // and one shim into Spark ML's internals (the one-task logistic
  // regression fit, which must replay Spark's own training code)
  for ((pattern, owner) <- Seq(
      "SparkSession.builder" -> Some("Tables.scala"),
      "WeakHashMap" -> Some("SessionMemo.scala"),
      "CompletableFuture" -> Some("SessionMemo.scala"),
      "localCheckpoint(" -> Some("CheckpointUtil.scala"),
      "conf.set(" -> Some("Tables.scala"),
      "conf.unset(" -> None,
      "doGenCode" -> Some("NativeExpressions.scala"),
      "package org.apache.spark.ml" -> Some("LocalLogisticFit.scala"),
      "BinaryLogisticBlockAggregator" -> Some("LocalLogisticFit.scala"),
      "InstanceBlock" -> Some("LocalLogisticFit.scala")))
    test(s"$pattern appears under src/main ${owner.fold("nowhere")("only in " + _)}") {
      val users = scalaFiles("src/main")
        .filter(p => code(p).contains(pattern))
        .map(_.getFileName.toString)
      assert(users == owner.toSeq, users)
    }

  test(".persist( appears in neither CurationPipeline.scala nor Dedup.scala") {
    // their intermediates are stored with materialize: a persisted frame
    // reprints its whole cached plan under every reference in AQE's plan
    // text, a materialized one is a one-line leaf
    val files = scalaFiles("src/main/scala/graft/operators")
      .filter(p => Set("CurationPipeline.scala", "Dedup.scala")(p.getFileName.toString))
    assert(files.size == 2, files)
    val users = files.filter(p => code(p).contains(".persist(")).map(_.getFileName.toString)
    assert(users.isEmpty, users)
  }

  test("the advisory partition size is read only by Spread's measured-size rule") {
    val readers = scalaFiles("src/main").filter { p =>
      val c = code(p)
      c.contains("ADVISORY_PARTITION_SIZE_IN_BYTES") || c.contains("advisoryPartitionSizeInBytes")
    }.map(_.getFileName.toString)
    assert(readers == Seq("Spread.scala"), readers)
    // the PU learners are narrowed by that rule, never by a coalesce of their own
    val puCoalesce = scalaFiles("src/main/scala/graft/pu")
      .filter(p => code(p).contains("coalesce(")).map(_.getFileName.toString)
    assert(puCoalesce.isEmpty, puCoalesce)
  }

  test("the retired AQE env knobs appear nowhere") {
    val knobs = Seq("MIN_COALESCED", "SHJ_THRESHOLD").map("SPARK_GRAFT_" + _)
    val texts = (scalaFiles("src") ++ Seq(Paths.get("README.md")))
      .map(p => p -> Files.readString(p))
    val hits = for ((p, t) <- texts; k <- knobs if t.contains(k)) yield s"$p: $k"
    assert(hits.isEmpty, hits)
  }

  test("localSession pins codegen fallback off, UTC and nanos-as-long") {
    assert(spark.conf.get("spark.sql.codegen.fallback") == "false")
    assert(spark.conf.get("spark.sql.session.timeZone") == "UTC")
    assert(spark.conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
  }

  test("localSession sizes the codegen class cache to 4096 entries") {
    val key = "spark.sql.codegen.cache.maxEntries"
    assert(spark.sparkContext.getConf.get(key) == "4096")
    assert(spark.conf.get(key) == "4096")
  }

  test("AQE keys localSession leaves alone resolve to SQLConf's defaults") {
    val stock = new org.apache.spark.sql.internal.SQLConf
    for (key <- Seq(
        "spark.sql.adaptive.enabled",
        "spark.sql.adaptive.coalescePartitions.minPartitionSize",
        "spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold")) {
      assert(!spark.sparkContext.getConf.contains(key), s"$key is set")
      assert(spark.conf.get(key) == stock.getConfString(key), key)
    }
  }
}
