package graft.operators

import org.apache.spark.sql.functions._

import graft.{SparkSuite, Tables}

/** Plan-shape assertions for the properties the 100 TB story depends on:
  * filters and projections must reach the parquet scan, small dimensions
  * must broadcast, and the per-row kernel pipelines must stay inside
  * whole-stage codegen. These are the properties `.explain` reviews check
  * by hand — pinned here so a regression (a cast blocking pushdown, a
  * broadcast threshold miss, a codegen fallback) fails the suite instead
  * of silently degrading the plan.
  */
class PlanShapeSpec extends SparkSuite
    with org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {

  private def executed(name: String): String =
    graft.SparkEntry.queries(name)(spark, sf0001)
      .queryExecution.executedPlan.toString

  test("filtered lineitem scan pushes the shipdate predicate into parquet") {
    val plan = executed("q_agg_pricing_summary")
    assert(plan.contains("PushedFilters: [IsNotNull(l_shipdate), LessThan(l_shipdate")
      || plan.contains("PushedFilters: [LessThan(l_shipdate"), plan)
  }

  test("projection pruning reaches the scan: pricing summary reads only the needed columns") {
    val plan = executed("q_agg_pricing_summary")
    // ReadSchema must not contain the unused join keys / comment-like columns
    val readSchema = plan.linesIterator.find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.nonEmpty, plan)
    assert(!readSchema.contains("l_orderkey") && !readSchema.contains("l_partkey"),
      readSchema)
  }

  test("revenue-by-nation joins broadcast the dimension tables, fact shuffles at most once") {
    val plan = executed("q_join_revenue_by_nation")
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("the text signature pipeline runs inside whole-stage codegen") {
    val spans = Tables.documents(spark, sf0001)
      .select(graft.functions.TextFunctions.shingleHashes(col("text"), 3).as("shh"))
      .queryExecution.executedPlan.collect {
        case w: org.apache.spark.sql.execution.WholeStageCodegenExec => w
      }
    assert(spans.nonEmpty)
  }

  test("global top-k compiles to TakeOrderedAndProject, not a full sort") {
    val plan = executed("q_topk_parts")
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("semantic dedup assigns centroids IN-SCAN: no join, no exchange below the argmax project") {
    // the assignment is materialized, so the query's own plan reads it as a
    // bare LogicalRDD leaf: check the plan of the job that stored it, as
    // every QueryExecutionListener sees it
    val stored = new java.util.concurrent.ConcurrentLinkedQueue[org.apache.spark.sql.execution.SparkPlan]()
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
        if (funcName == "localCheckpoint") stored.add(qe.executedPlan)
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    val plans = try {
      val plan = graft.SparkEntry.queries("dedup_semantic")(spark, sf0001)
        .queryExecution.executedPlan
      org.apache.spark.sql.GraftColumnBridge.waitForListeners(spark, 10000)
      plan +: stored.toArray(Array.empty[org.apache.spark.sql.execution.SparkPlan]).toSeq
    } finally spark.listenerManager.unregister(listener)
    val s = plans.mkString("\n")
    // assignment is a per-row kernel over constant centroids — the centroid
    // fan-out join (even a broadcast one) must be GONE, and the corpus must
    // only ever join on cen_id/vec_id
    assert(s.toLowerCase.contains("argmaxcosine"), s)
    assert(!s.contains("BroadcastNestedLoopJoin") && !s.contains("CartesianProduct"), s)
    val assigns = plans.flatMap(p => collectWithSubqueries(p) {
      case p: org.apache.spark.sql.execution.ProjectExec
          if p.projectList.exists(_.toString.toLowerCase.contains("argmaxcosine")) => p
    })
    assert(assigns.nonEmpty, s)
    // within the assignment's own plan segment there must be NO shuffle
    // between it and its scan/stored leaf: assignment is map work.
    // (prepare()'s documented one-off spreading repartition sits behind the
    // stored corpus leaf and is not part of assignment.)
    assigns.foreach { p =>
      val below = collectWithSubqueries(p) {
        case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeLike => e
      }
      assert(below.isEmpty, s"exchange below in-scan assignment:\n$p")
    }
    spark.catalog.clearCache()
  }

  test("similarity tiers select top-k with the bounded aggregate — no Window node anywhere") {
    for (name <- Seq("sim_topk_brute", "sim_topk_ivf", "sim_topk_ivf_kmeans",
        "sim_topk_ivf_fixed", "sim_topk_quantized", "sim_topk_pq", "sim_topk_ivfpq",
        "sim_topk_pq_trained", "sim_topk_ivfpq_trained",
        "sim_topk_lsh", "src_ivf_bucketed", "src_ivf_append")) {
      val plan = executed(name)
      // a window partition can't be split: one query's full candidate set
      // (the whole corpus, for brute force) would funnel through ONE task
      assert(!plan.contains("Window"), s"$name:\n$plan")
      assert(plan.contains("ObjectHashAggregate"), s"$name:\n$plan")
      spark.catalog.clearCache()
    }
  }

  test("bucketed IVF probe is a bucket-pruned read joined broadcast — the lists never shuffle") {
    val plan = executed("src_ivf_bucketed")
    // literal probe-list filter must reach the bucketed scan as bucket
    // pruning: only the buckets holding probed lists are read
    val m = "SelectedBucketsCount: (\\d+) out of (\\d+)".r.findFirstMatchIn(plan)
    assert(m.isDefined, plan)
    assert(m.get.group(1).toInt < m.get.group(2).toInt, m.get.matched)
    // probes broadcast into the list scan; the persisted lists are never
    // the shuffled side of anything
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
    spark.catalog.clearCache()
  }

  test("persisted IVF-PQ serving: coarse scan is bucket-pruned AND column-pruned to the m-byte codes") {
    val plan = executed("src_ivfpq_bucketed")
    // bucket pruning: only the buckets holding probed lists are read
    val m = "SelectedBucketsCount: (\\d+) out of (\\d+)".r.findFirstMatchIn(plan)
    assert(m.isDefined, plan)
    assert(m.get.group(1).toInt < m.get.group(2).toInt, m.get.matched)
    // column pruning: the coarse (ADC) read must NOT deserialize the full
    // vector column — some scan of the table reads codes WITHOUT v. The
    // rescore scan reads v (for survivors only), so assert per-line.
    val schemas = plan.linesIterator.filter(_.contains("ReadSchema")).toSeq
    assert(schemas.exists(l => l.contains("codes") && !l.contains("v:array")),
      schemas.mkString("\n"))
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
    assert(!plan.contains("Window"), plan)
    spark.catalog.clearCache()
  }

  test("upsert merge is a full-outer key join; delete filter does not re-shuffle the merged side") {
    val plan = executed("pipeline_upsert")
    assert(plan.contains("FullOuter"), plan)
    // the tiny delete set must broadcast into the anti join
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftAnti"), plan)
  }

  test("partition-layout roundtrip prunes at listing time: PartitionFilters carries the predicate") {
    val plan = executed("src_partition_prune")
    val scanLine = plan.linesIterator.find(_.contains("PartitionFilters")).getOrElse("")
    assert(scanLine.contains("event_type"), plan)
  }

  test("two-phase distinct plans as two aggregations with no Expand") {
    val plan = executed("q_distinct_twophase")
    assert(!plan.contains("Expand"), plan)
    assert("HashAggregate".r.findAllIn(plan).length >= 4, plan) // 2 stages x partial+final
  }

  test("delete propagation: dirty-set and repack joins broadcast, corpus never sort-merges") {
    val plan = executed("pipeline_delete_propagate")
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("soft dedup: the cluster map broadcasts into the corpus scan") {
    val plan = executed("dedup_soft_weight")
    assert(plan.contains("BroadcastHashJoin") && plan.contains("LeftOuter"), plan)
  }

  test("payload dedup: the shuffle carries feature scalars, never the binary payload") {
    val opt = graft.SparkEntry.queries("mm_payload_dedup")(spark, sf0001)
      .queryExecution.optimizedPlan.toString
    // the Aggregate above the decode must group on the three feature
    // columns; `data` may appear only below the deserializer, never in an
    // aggregate or exchange output
    val aggLines = opt.linesIterator.filter(_.contains("Aggregate")).toSeq
    assert(aggLines.nonEmpty && aggLines.forall(!_.contains("data#")), opt.take(4000))
  }

  test("inverted index: no distinct-Expand; df comes from the collected postings") {
    val plan = executed("text_inverted_index")
    assert(!plan.contains("Expand"), plan)
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("temperature mix: the derived rate table broadcasts; the corpus shuffles zero times") {
    val plan = executed("pipeline_mix_temperature")
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("boilerplate: the frequent-hash set broadcasts back; no distinct-Expand") {
    val plan = executed("pipeline_boilerplate")
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
    // the (h, doc) -> h two-step rollup, never a planner distinct-Expand
    assert(!plan.contains("Expand"), plan)
  }

  test("in-doc dedup is map-only: the sole exchange is the presentation sort") {
    val plan = graft.SparkEntry.queries("pipeline_indoc_dedup")(spark, sf0001)
      .queryExecution.executedPlan.toString
    val exchanges = "Exchange".r.findAllIn(plan).size -
      "BroadcastExchange".r.findAllIn(plan).size
    // one rangepartitioning exchange for the ORDER BY; Spread's gate adds
    // at most one scan-side repartition on the single-row-group fixture
    assert(exchanges <= 2, plan)
    assert(!plan.contains("SortMergeJoin") && !plan.contains("BroadcastHashJoin"), plan)
  }

  test("substring dedup: the ownership table broadcasts back into the positional stream") {
    val plan = executed("dedup_substring_spans")
    assert(plan.contains("BroadcastHashJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
    // min/max stands in for count-distinct: no Expand pass anywhere
    assert(!plan.contains("Expand"), plan)
  }

  test("DSIR scoring: no per-doc window; the ratio lookup is a scan-side literal") {
    val plan = executed("pipeline_dsir_weights")
    // ranking is the range-partition path, never a one-partition Window
    assert(!plan.contains("Window"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
  }

  test("shelf packing and epoch shuffle rank without a Window operator") {
    assert(!executed("pipeline_pack_shelf").contains("Window"))
    assert(!executed("pipeline_epoch_shuffle").contains("Window"))
  }

  test("interleave packs from metadata only: no binary column past the scan") {
    val opt = graft.SparkEntry.queries("mm_interleave")(spark, sf0001)
      .queryExecution.optimizedPlan.toString
    assert(!opt.contains("data#"), opt.take(4000))
    val plan = executed("mm_interleave")
    assert(!plan.contains("Window"), plan)
  }

  test("funnel: user-grain aggs only — no Window, no event-list aggregation") {
    val plan = executed("q_funnel")
    assert(!plan.contains("Window"), plan)
    assert(!plan.contains("collect_list"), plan)
  }

  test("bucketed aggregation: the groupBy on the bucket key plans zero hash exchanges") {
    val plan = executed("src_bucketed_agg")
    // only the presentation ORDER BY may exchange (range partitioning);
    // the agg itself must ride the bucket spec
    assert(!plan.contains("Exchange hashpartitioning"), plan)
  }
}
