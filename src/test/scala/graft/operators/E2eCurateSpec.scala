package graft.operators

import org.apache.spark.sql.functions._

import graft.{SparkSuite, Tables}

/** Composition guard for the 7-stage `pipeline_e2e_curate` chain. The
  * DuckDB oracle proves value equality; what it CANNOT prove is that the
  * stages do anything — two engines agree perfectly on a pipeline whose
  * every filter is vacuous. This spec pins, at fixture scale:
  *   - every dropping stage drops at least one doc (and none drops all);
  *   - the eval slice is gone from the output;
  *   - the packing/shard invariants hold on the final rows.
  */
class E2eCurateSpec extends SparkSuite {
  import CurationPipeline._

  private lazy val docs = Spread.ifNarrow(Tables.documents(spark, sf0001), col("doc_id"))

  test("the quality filter tokenizes each document once and keeps the Gopher survivors") {
    // the raw scan: no exchange, so the plan is not wrapped for AQE
    val docs = Tables.documents(spark, sf0001)
    val q = qualitySurvivors(docs)
    val gen = q.queryExecution.executedPlan.collect {
      case w: org.apache.spark.sql.execution.WholeStageCodegenExec => w.doCodeGen()._2.body
    }.mkString("\n")
    def calls(kernel: String) =
      gen.split(java.util.regex.Pattern.quote(s"NativeKernels.$kernel("), -1).length - 1
    assert(calls("textStats") == 1 && calls("repetitionStats") == 1,
      q.queryExecution.executedPlan.toString + gen)
    // the rules applied to the kernel calls directly select the same docs
    val st = graft.functions.NativeExpressions.textStats(col("text"))
    val rep = graft.functions.NativeExpressions.repetitionStats(col("text"))
    val direct = docs.filter(Gopher.keep(st, rep))
    assert(q.columns.toSeq == docs.columns.toSeq)
    assert(q.count() > 0 && q.exceptAll(direct).count() == 0 && direct.exceptAll(q).count() == 0)
  }

  test("each curation stage is non-vacuous at sf0.001") {
    val n0 = docs.count()
    val q = qualitySurvivors(docs).persist()
    val n1 = q.count()
    val s2 = paragraphSurvivors(paragraphAgg(q)).persist()
    val n2 = s2.count()
    val s3 = semanticSurvivors(q.join(s2.select("doc_id"), "doc_id")).persist()
    val n3 = s3.count()
    val s4 = decontaminate(q.join(s3, "doc_id"),
      docs.filter(col("source") === "src19"))
    val n4 = s4.count()
    assert(n0 > n1 && n1 > n2 && n2 > n3 && n3 > n4,
      s"some stage dropped nothing: $n0 -> $n1 -> $n2 -> $n3 -> $n4")
    assert(n4 > 0, "the chain dropped everything — downstream stages untested")
    // decontamination must catch CONTENT overlap beyond just the eval
    // slice itself (the 8-gram variant catches zero at fixture scale —
    // this pins that the 4-gram stage actually fires)
    val nEval = q.join(s3, "doc_id").filter(col("source") === "src19").count()
    assert(n3 - n4 > nEval, "no contaminated non-eval doc was dropped")
    spark.catalog.clearCache()
    graft.CheckpointUtil.releaseStragglers()
  }

  test("incremental curation == full rebuild restricted to the batch, in-engine") {
    // the DuckDB twin already proves this against the full-rebuild SQL;
    // this pins the SAME equivalence engine-internally: the incremental
    // query's survivors must equal the plain chain's stage-1-4 survivors
    // (recomputed here on the union) restricted to batch ids
    val maxId = docs.agg(max(col("doc_id"))).head().getLong(0)
    val boundary = maxId * 4 / 5
    val q = qualitySurvivors(docs).persist()
    val s2 = paragraphAgg(q).persist()
    val s2k = paragraphSurvivors(s2)
    val s3 = semanticSurvivors(q.join(s2k.select("doc_id"), "doc_id"))
    val s4 = decontaminate(q.join(s3, "doc_id"),
      docs.filter(col("source") === "src19"))
    val full = s4.join(s2, "doc_id")
      .filter(col("doc_id") > boundary)
      .select("doc_id", "n_paras", "n_dup", "cen_id")
    val inc = graft.SparkEntry.queries("pipeline_e2e_incremental")(spark, sf0001)
      .select("doc_id", "n_paras", "n_dup", "cen_id")
    assert(inc.count() > 0, "no batch doc survived — equivalence vacuous")
    assert(inc.exceptAll(full).count() == 0L && full.exceptAll(inc).count() == 0L,
      "batch-then-increment != full rebuild on the union")
    spark.catalog.clearCache()
    graft.CheckpointUtil.releaseStragglers()
  }

  test("decontamination's wide (64-bit) shingle arm agrees with the mod-P arm at fixture scale") {
    // survivors can only differ where mod-P falsely collides a corpus
    // shingle into the eval set — a false hit DROPS a clean doc, so the
    // wide arm's survivor set contains the mod-P arm's (and at fixture
    // scale, with zero measured 4-gram collisions, they are identical)
    val q = qualitySurvivors(docs).persist()
    val evalDocs = docs.filter(col("source") === "src19")
    val modP = decontaminate(q, evalDocs).select("doc_id")
    val wide = decontaminate(q, evalDocs, wide = true).select("doc_id")
    assert(modP.exceptAll(wide).count() == 0,
      "mod-P kept a doc the wide arm dropped — wide changed the semantics")
    val falseDrops = wide.exceptAll(modP).count()
    info(s"mod-P false drops at sf0.001: $falseDrops")
    assert(falseDrops == 0,
      s"$falseDrops docs falsely dropped by mod-P at fixture scale")
    spark.catalog.clearCache()
    graft.CheckpointUtil.releaseStragglers()
  }

  test("the PU-LEA gate is a live, distinct decision engine") {
    // the oracle proves value equality of pipeline_e2e_curate_pulea; this
    // pins what it can't: that the GradualReduction do-while actually RAN
    // (refits moved scores) and that the two reference algorithms make
    // genuinely different keep decisions over the same base.
    val lea = CurationPipeline.puLeaStubScores(spark, sf0001).persist()
    val trad = CurationPipeline.puStubScores(spark, sf0001).persist()
    // with delta=+0.125 any executed refit raises a non-saturated score
    // above its f0 base; the Traditional loop (delta=-0.125) lowers it —
    // a doc scored differently by the two is direct evidence both loops
    // refit (a 0-refit run would leave both at clamp(f0))
    val joined = lea.select(col("doc_id"), col("score").as("lea"))
      .join(trad.select(col("doc_id"), col("score").as("trad")), "doc_id")
      .persist()
    assert(joined.filter(col("lea") > col("trad")).count() > 0,
      "LEA and Traditional scores coincide everywhere — no loop refit ran")
    // the keep rule under each model: both non-empty, neither universal,
    // and the sets differ (the second algorithm is not a re-skin)
    def keeps(m: org.apache.spark.sql.DataFrame, tau: Double) =
      m.filter(col("pu_final") === 1 || col("score") >= tau).select("doc_id")
    val kl = keeps(lea, CurationPipeline.LeaKeepTau).persist()
    val kt = keeps(trad, 0.5).persist()
    val (nl, nt, n) = (kl.count(), kt.count(), lea.count())
    assert(nl > 0 && nl < n && nt > 0 && nt < n,
      s"degenerate keep sets: lea=$nl trad=$nt of $n")
    assert(kl.exceptAll(kt).count() > 0,
      "the LEA gate keeps exactly the Traditional set — distinct engine unproven")
    // and the composed chain is not a re-skin of the Gopher chain: the
    // learned stage-1 gate admits docs the hand rules reject (and vice
    // versa), so the two compositions curate different survivor sets
    val plain = graft.SparkEntry.queries("pipeline_e2e_curate")(spark, sf0001)
      .select("doc_id")
    val pulea = graft.SparkEntry.queries("pipeline_e2e_curate_pulea")(spark, sf0001)
      .select("doc_id")
    assert(pulea.exceptAll(plain).count() > 0 ||
      plain.exceptAll(pulea).count() > 0,
      "PU-LEA-gated chain output equals the Gopher chain — gate vacuous")
    spark.catalog.clearCache()
    graft.CheckpointUtil.releaseStragglers()
  }

  test("full-DAG tail (quota -> mix -> split -> pack) is non-vacuous and well-formed") {
    val out = graft.SparkEntry.queries("pipeline_e2e_full")(spark, sf0001).persist()
    assert(out.count() > 0, "no packs — tail dropped everything")
    // packs are contiguous from 0
    val packs = out.select("pack_id").orderBy("pack_id")
      .collect().map(_.getLong(0)).toSeq
    assert(packs.head == 0L && packs == (0L until packs.length).toSeq,
      s"pack ids not contiguous from 0: $packs")
    // recompute the survivor chain + tail at the sequence grain
    val q = qualitySurvivors(docs).persist()
    val s2k = paragraphSurvivors(paragraphAgg(q))
    val s3 = semanticSurvivors(q.join(s2k.select("doc_id"), "doc_id"))
    val s4 = decontaminate(q.join(s3, "doc_id"),
      docs.filter(col("source") === "src19")).persist()
    val tr = CurationPipeline.dagTrainSeqs(s4).persist()
    val nSurv = s4.count()
    val nTrainDocs = tr.select("doc_id").distinct().count()
    val nSeqsExpected = tr.count()
    // the tail DROPS docs (quota + mix + split each keep < 100%) ...
    assert(nTrainDocs > 0 && nTrainDocs < nSurv,
      s"tail dropped no docs: $nTrainDocs of $nSurv")
    // ... and the mix REPLICATES at least one en doc
    assert(nSeqsExpected > nTrainDocs,
      s"no doc was upsampled: $nSeqsExpected seqs over $nTrainDocs docs")
    // the manifest reconciles exactly with the sequence grain
    val nSeqs = out.agg(sum(col("n_seqs"))).head().getLong(0)
    val nToks = out.agg(sum(col("tokens_started"))).head().getLong(0)
    val nToksExpected = tr.agg(sum(col("n_tokens"))).head().getLong(0)
    assert(nSeqs == nSeqsExpected && nToks == nToksExpected,
      s"manifest totals drifted: $nSeqs/$nSeqsExpected seqs, $nToks/$nToksExpected tokens")
    spark.catalog.clearCache()
    graft.CheckpointUtil.releaseStragglers()
  }

  test("incremental curation: every runtime shuffle is batch-sized — the corpus crosses no wire") {
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    // the standing-corpus STATE build (inside the eager localCheckpoints)
    // legitimately shuffles the corpus once — that work happens during
    // query construction and is amortized state in production. What the
    // final executed plan must prove is that the PER-BATCH work never
    // shuffles anything corpus-sized.
    val df = graft.SparkEntry.queries("pipeline_e2e_incremental")(spark, sf0001)
    // collect, not a noop write: a write runs its own QueryExecution and
    // leaves THIS df's plan metrics untouched (all-zero = vacuous pass)
    assert(df.collect().nonEmpty)
    def shuffles(p: SparkPlan): Seq[ShuffleExchangeExec] = p match {
      case a: AdaptiveSparkPlanExec => shuffles(a.executedPlan)
      case q: QueryStageExec => shuffles(q.plan)
      case s: ShuffleExchangeExec =>
        s +: (s.children.flatMap(shuffles) ++ s.subqueries.flatMap(shuffles))
      case n => n.children.flatMap(shuffles) ++ n.subqueries.flatMap(shuffles)
    }
    val ex = shuffles(df.queryExecution.executedPlan)
    assert(ex.nonEmpty, "no shuffles found — the walk went wrong, not the plan")
    // corpus-sized would be >= the corpus's ~1,600 paragraph rows (400
    // docs x 4); the batch's largest legitimate shuffle is its own
    // paragraph set (~100 docs x 4 = 400 rows). Cap well between the two.
    val rows = ex.map { s =>
      val m = s.metrics.collectFirst {
        case (k, v) if k.toLowerCase.contains("records") => v.value
      }
      assert(m.isDefined, s"no records metric on $s — key drift, fix the probe")
      m.get
    }
    info(s"incremental runtime shuffles: ${rows.sorted.reverse.mkString(", ")} rows")
    assert(rows.max > 0, "all shuffle metrics zero — the plan didn't execute")
    assert(rows.max < 1000,
      s"a corpus-sized shuffle appeared in the per-batch plan: ${rows.max} rows")
    spark.catalog.clearCache()
    graft.CheckpointUtil.releaseStragglers()
  }

  test("decontamination's Bloom degrade agrees with the exact arm at fixture scale") {
    val q = qualitySurvivors(docs).persist()
    val eval = docs.filter(col("source") === "src19")
    val exact = CurationPipeline.decontaminate(q, eval)
      .select("doc_id").persist()
    // force the degrade: a zero budget can never fit the contaminated set
    val bloomed = CurationPipeline.decontaminate(q, eval, 0L)
      .select("doc_id").persist()
    val nExact = exact.count()
    assert(nExact > 0, "exact arm kept nothing — comparison vacuous")
    // overestimate-only: the degraded arm may only drop MORE, never keep a
    // doc the exact arm drops...
    assert(bloomed.exceptAll(exact).count() == 0L,
      "Bloom arm kept a doc the exact arm dropped — that's a leak")
    // ...and at fixture scale the sized-for-purpose sketch drops nothing
    // extra, so the arms are row-identical
    assert(exact.exceptAll(bloomed).count() == 0L,
      "Bloom false positive at fixture scale — resize DecontBloomBits")
    spark.catalog.clearCache()
    graft.CheckpointUtil.releaseStragglers()
  }

  test("train order: a curriculum permutation over exactly the DAG's train sequences") {
    val order = graft.SparkEntry.queries("pipeline_e2e_train_order")(spark, sf0001)
      .persist()
    val n = order.count()
    assert(n > 0)
    // a 1..n permutation
    val agg = order.agg(min("train_pos"), max("train_pos"),
      countDistinct("train_pos")).head
    assert(agg.getLong(0) == 1L && agg.getLong(1) == n && agg.getLong(2) == n)
    // best-quality-first: bin never increases along the training order
    val w = org.apache.spark.sql.expressions.Window.orderBy("train_pos")
    assert(order.withColumn("nb", lead(col("bin"), 1).over(w))
      .filter(col("nb").isNotNull && col("nb") > col("bin")).count() == 0)
    // sequence-count reconciliation with the manifest arm of the same DAG
    val manifest = graft.SparkEntry.queries("pipeline_e2e_full")(spark, sf0001)
    assert(manifest.agg(sum("n_seqs")).head.getLong(0) == n,
      "train-order rows != manifest sequence count")
    // every ordered sequence's doc survived the chain
    val survivors = graft.SparkEntry.queries("pipeline_e2e_curate")(spark, sf0001)
      .select("doc_id")
    assert(order.select("doc_id").distinct()
      .join(survivors, Seq("doc_id"), "left_anti").count() == 0,
      "train order contains a non-survivor doc")
    spark.catalog.clearCache()
    graft.CheckpointUtil.releaseStragglers()
  }

  test("final rows: eval slice gone, pack and shard invariants hold") {
    val out = graft.SparkEntry.queries("pipeline_e2e_curate")(spark, sf0001).persist()
    val evalIds = docs.filter(col("source") === "src19").select("doc_id")
    assert(out.join(evalIds, "doc_id").count() == 0L, "eval docs leaked into training output")
    assert(out.filter(col("n_pieces") <= 0 || col("n_tokens") <= 0).count() == 0L,
      "a surviving doc tokenized to nothing")
    assert(out.filter(col("pack_offset") < 0 ||
      col("pack_offset") >= TrainingDataQueries.PackTokens).count() == 0L)
    assert(out.filter(col("shard_id") < 0 ||
      col("shard_id") >= TrainingDataQueries.NShards).count() == 0L)
    // concat-and-cut: pack_id must be non-decreasing in doc_id order and
    // cover a contiguous range from 0
    val packs = out.select(col("pack_id")).distinct().orderBy("pack_id")
      .collect().map(_.getLong(0)).toSeq
    assert(packs.head == 0L && packs == (0L until packs.length).toSeq,
      s"pack ids not contiguous from 0: $packs")
    spark.catalog.clearCache()
    graft.CheckpointUtil.releaseStragglers()
  }
}
