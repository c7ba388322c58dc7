package graft.operators

/** Serving paths run forever: a per-query store that nothing releases
  * accumulates blocks until the executors evict working memory. This pins
  * the serving probe's storage budget — exactly the ONE deliberate corpus
  * store, never a second (the probe set enters the plan as a collected
  * local relation, not a stored DataFrame) — and that one straggler drain
  * releases everything every storing query stored.
  */
class CacheHygieneSpec extends graft.SparkSuite {

  test("bucketed ANN serving leaves only the corpus persist behind — no probe-set cache leak") {
    spark.catalog.clearCache()
    // drain OTHER suites' tracked localCheckpoint blocks too — they show
    // in getPersistentRDDs but catalog.clearCache never touches them, so
    // without this the assertion depends on suite order
    graft.CheckpointUtil.releaseStragglers()
    graft.SparkEntry.queries("src_ivf_bucketed")(spark, sf0001)
      .write.format("noop").mode("overwrite").save()
    val cached = spark.sparkContext.getPersistentRDDs
    assert(cached.size <= 1, s"leaked caches: ${cached.values.map(_.name)}")
    spark.catalog.clearCache()
  }

  /** Runs each query, drains once, and asserts that no RDD holds storage
    * and no frame is cached: no `clearCache()` anywhere. */
  private def assertOneDrainFrees(queries: Seq[String]): Unit = {
    val cacheManager = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .sharedState.cacheManager
    spark.catalog.clearCache() // other suites' own test-side caches
    graft.CheckpointUtil.releaseStragglers()
    for (q <- queries) {
      graft.SparkEntry.queries(q)(spark, sf0001)
        .write.format("noop").mode("overwrite").save()
      graft.CheckpointUtil.releaseStragglers()
      // released blocks drop asynchronously (unpersist(blocking=false));
      // what must be TRUE immediately is that nothing remains registered
      // as an active cache entry holding storage
      val leaked = spark.sparkContext.getPersistentRDDs
        .filter { case (_, rdd) => rdd.getStorageLevel.useMemory ||
          rdd.getStorageLevel.useDisk }
      assert(leaked.isEmpty,
        s"$q leaked ${leaked.size} stored RDDs: ${leaked.values.map(_.name)}")
      assert(cacheManager.isEmpty, s"$q cached a frame")
    }
  }

  test("e2e curation chains release every cache after one straggler drain") {
    // every CurationPipeline intermediate is CheckpointUtil-registered, so
    // a library caller's whole release story is ONE releaseStragglers()
    // call after materializing the result — pinned here over the heaviest
    // compositions end to end
    assertOneDrainFrees(Seq("pipeline_e2e_curate", "pipeline_e2e_full",
      "pipeline_e2e_incremental"))
  }

  test("every query that held a persist frees its storage after one drain") {
    // the queries whose intermediates were persist()ed before materialize
    // became the one storage verb
    assertOneDrainFrees(Seq(
      "dedup_canonical", "dedup_clusters", "dedup_containment", "dedup_cosine_pairs",
      "dedup_editdist_clusters", "dedup_editdist_incremental", "dedup_editdist_pairs",
      "dedup_incremental", "dedup_jaccard_blocked", "dedup_minhash_pairs", "dedup_oph_pairs",
      "dedup_paragraph", "dedup_semantic", "dedup_semantic_text", "dedup_simhash_pairs",
      "dedup_soft_weight", "dedup_srp_pairs", "dedup_substring_excise",
      "dedup_substring_spans", "mm_perceptual_dedup", "mm_perceptual_incremental",
      "pipeline_bloom", "pipeline_boilerplate", "pipeline_context_pack",
      "pipeline_corpus_prep", "pipeline_decontaminate_bloom", "pipeline_delete_propagate",
      "pipeline_domain_discover", "pipeline_e2e_retrieve_served", "pipeline_e2e_surgical",
      "pipeline_lm_partition", "pipeline_mix_temperature", "pipeline_ngram_novelty",
      "pipeline_retrieve_multi", "pipeline_split_leakproof", "pipeline_token_drift",
      "pipeline_weighted_sample", "sim_cluster_knn", "sim_join_ivf", "sim_join_ivf_salted",
      "sim_join_pq", "sim_join_pq_salted", "sim_knn_graph", "sim_knn_graph_incremental",
      "sim_label_prop", "sim_margin_pairs", "sim_maxsim_fidelity", "sim_maxsim_ivf",
      "sim_mmr_rerank", "sim_pca_power", "sim_range_join", "sim_range_search",
      "sim_retrieve_fidelity", "sim_topk_brute", "sim_topk_filtered", "sim_topk_ivf",
      "sim_topk_ivf_adaptive", "sim_topk_ivf_fixed", "sim_topk_ivf_kmeans",
      "sim_topk_ivf_lloyd", "sim_topk_ivfpq", "sim_topk_ivfpq_trained", "sim_topk_pq",
      "sim_topk_pq_lloyd", "sim_topk_pq_trained", "sim_topk_quantized", "sim_topk_srp",
      "sim_whiten_topdrop", "src_ivf_append", "src_ivf_bucketed", "src_ivf_compact",
      "src_ivfpq_append", "src_ivfpq_bucketed", "src_maxsim_bucketed", "src_maxsim_multi",
      "text_cms_counts", "text_keywords", "text_lm_score"))
  }
}
