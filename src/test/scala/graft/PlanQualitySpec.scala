package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

/** Physical-plan assertions: the scale claims in the query Scaladocs
  * (pushdown, pruned read schemas, broadcast joins, TakeOrdered top-k)
  * hold in the actual executed plans — not just in comments.
  */
class PlanQualitySpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private def planOf(df: DataFrame): String = {
    df.queryExecution.executedPlan.toString
  }

  test("q2: filter and projection push into the parquet scan") {
    val df = SparkEntry.queries("q2_filter_project")(spark, sf0001)
    val plan = planOf(df)
    assert(plan.contains("PushedFilters: [IsNotNull(o_totalprice), GreaterThan(o_totalprice,150000.0)]"),
      s"missing pushed filter in:\n$plan")
    // pruned read schema: only the 3 referenced columns are read
    assert(plan.contains("o_orderkey") && !plan.contains("o_custkey"),
      "read schema not pruned")
  }

  test("q4 freq-encode: the frequency join is broadcast, not sort-merge") {
    val df = SparkEntry.queries("q4_freq_encode")(spark, sf0001)
    df.collect() // finalize AQE
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), s"expected broadcast join:\n$plan")
    assert(!plan.contains("SortMergeJoin"))
  }

  test("q5 multi-join: both dimension joins broadcast") {
    val df = SparkEntry.queries("q5_join_multi")(spark, sf0001)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.split("BroadcastHashJoin").length >= 3,
      s"expected 2 broadcast joins:\n$plan")
  }

  test("q8 top-k plans as TakeOrderedAndProject (no global sort)") {
    val plan = planOf(SparkEntry.queries("q8_topk")(spark, sf0001))
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("q28 cosine top-k also avoids a global sort") {
    val plan = planOf(SparkEntry.queries("q28_cosine_topk")(spark, sf0001))
    assert(plan.contains("TakeOrderedAndProject"), plan)
  }

  test("q333 week-over-week self-join reuses the daily agg's exchange") {
    // exchange reuse is an AQE runtime decision — execute, then
    // inspect the FINAL adaptive plan for the reused stage
    val df = SparkEntry.queries("q333_reused_exchange")(spark, sf0001)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("ReusedExchange") ||
      plan.contains("ReusedQueryStage"), plan)
  }

  test("q388 AQE splits the skewed partition (SortMergeJoin skew=true)") {
    // skew handling is an AQE EXECUTION-time decision sized in bytes;
    // tighten the thresholds to the spec corpus, execute, and read the
    // final adaptive plan — the proof the hot key was split across
    // reducers instead of serializing one reducer (100 TB: the default
    // 256 MB threshold engages the same path)
    val confs = Seq(
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1.0",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes"
        -> "2KB",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "2KB",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      // the split adds a (harmless) extra shuffle before the grp agg;
      // without force, AQE's cost check vetoes it
      "spark.sql.adaptive.forceOptimizeSkewedJoin" -> "true")
    GraftSession.withConf(spark, confs: _*) {
      val df = SparkEntry.queries("q388_skew_join")(
        spark, "/root/testdata/sf0.01")
      df.collect()
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"), plan.take(4000))
    }
  }

  test("q338 injects a runtime Bloom filter on the fact scan side") {
    val plan =
      planOf(SparkEntry.queries("q338_runtime_bloom_join")(spark, sf0001))
    assert(plan.contains("might_contain"), plan)
  }

  test("q339 join hints pin ShuffledHashJoin and SortMergeJoin") {
    val plan =
      planOf(SparkEntry.queries("q339_join_hints")(spark, sf0001))
    assert(plan.contains("ShuffledHashJoin"), plan)
    assert(plan.contains("SortMergeJoin"), plan)
  }

  test("q1 agg does partial (map-side) aggregation before the shuffle") {
    val plan = planOf(SparkEntry.queries("q1_agg")(spark, sf0001))
    // partial_ functions appear in the pre-shuffle HashAggregate
    assert(plan.contains("partial_sum") || plan.contains("partial_count"), plan)
  }

  test("q10 semi join ships only keys (LeftSemi in plan)") {
    val df = SparkEntry.queries("q10_semi_join")(spark, sf0001)
    df.collect()
    assert(df.queryExecution.executedPlan.toString.contains("LeftSemi"))
  }

  // Queries that intentionally cross-join a broadcast side of ≤5 rows
  // (query vector, scalar N, 5-row dimension): a BroadcastNestedLoopJoin
  // against a handful of rows is O(n) work and fine at any scale.
  private val tinyBroadcastCross = Set(
    "q28_cosine_topk", "q44_cosine_expr", "q39_scalar_subquery",
    "q42_cross_join", "q62_tfidf_keywords",
    // q88/q96/q111/q112/q118/q127/q129 cross-join a broadcast 1-row
    // scalar (corpus totals / max day / unigram N+V / ECDF total / nDocs)
    "q88_doc_frequency", "q96_sliding_distinct", "q111_heavy_hitters",
    "q112_drift", "q117_bm25", "q118_unigram_logprob", "q127_ecdf",
    "q129_token_pmi",
    // q138/q139 cross-join a broadcast 1-row scalar (decile fences /
    // vocabulary size V); q141's pair matrix is a non-equi self-join of
    // the labels-sized (10-row) broadcast centroid frame
    "q138_psi_drift", "q139_bigram_logprob", "q141_centroid_separation",
    // q45 is an EXACT cosine-threshold join: all-pairs by definition
    // (the oracle verifies exact pairs). Its scale-path siblings are
    // the SRP-LSH bucketed join and IVF ANN in VectorOps.
    "q45_embedding_neardup",
    // q100/q101: broadcast of a small-by-construction side (the query
    // set / the ≤vocabSize vocab array) against one corpus pass
    "q100_batch_topk", "q101_vocab_encode", "q109_crossmodal",
    // q146's exact side is q100's broadcast-query batch kNN
    "q146_ann_recall",
    // q152 cross-joins three 1-row aggregates (nodes/edges/triangles)
    "q152_triangles",
    // q162/q163/q172 cross-join broadcast 1-row scalars (candidate
    // count / percentile fences / node count)
    "q162_threshold_curve", "q163_range_export", "q172_pagerank",
    // q175/q177 cross-join broadcast 1-row scalars (max-ts reference /
    // min-max bounds)
    "q175_decayed_counts", "q177_zorder",
    // q185's pair generation is a theta join (user_a < user_b) of a
    // 40-row broadcast side
    "q185_optimized_intersect",
    // q183 cross-joins broadcast 1-row scalars (decile fences, base rate)
    "q183_batch_inference",
    // q186 cross-joins broadcast 1-row scalars (corpus total, Z norm)
    "q186_mixture_weights",
    // q197 cross-joins broadcast 1-row fence frames (median, MAD)
    "q197_mad_anomaly",
    // q204 cross-joins the broadcast 1-row corpus-end scalar
    "q204_kaplan_meier",
    // q200's exact side is q96's rewrite (broadcast 1-row max-day scalar)
    "q200_hll_sliding",
    // q203/q268/q130 cross-join the broadcast 1-row percentile-fence
    // frame inside StatOps.shardedCumsum/shardedRank (q268 keeps its
    // OLS-scalar cross too; q130's constant group folds the fence join
    // to the same 1-row broadcast shape)
    "q203_global_seq", "q268_heaps_law", "q130_zipf",
    // q208 cross-joins two broadcast 1-row aggregates (observed
    // agreement, marginal-product sum)
    "q208_cohen_kappa",
    // q212 cross-joins the broadcast 1-row sketch-estimate frame
    "q212_hll_overlap",
    // q215/q216 cross-join broadcast 1-row scalars (corpus horizon /
    // distinct-user count)
    "q215_rfm_features", "q216_cooccur_lift",
    // q233 cross-joins the broadcast 1-row corpus-min-day anchor
    "q233_backtest_folds",
    // q293 cross-joins the broadcast 1-row corpus-horizon (max week)
    "q293_churn_labels",
    // q236 cross-joins the broadcast 1-row sketch frame (+ the
    // percentile-fence scalar inside exactPercentiles)
    "q236_quantile_sketch",
    // q237's BM25 side carries q117's broadcast 1-row df/N/avgdl scalar
    "q237_rrf_fusion",
    // q244 cross-joins the broadcast 1-row basket-count scalar
    "q244_assoc_rules",
    // q250 cross-joins the broadcast 1-row global quantile grid (+ the
    // percentile fences inside exactPercentiles)
    "q250_quantile_normalize",
    // q252's exactPercentiles carries its broadcast fence frames
    "q252_conformal",
    // q267 cross-joins the broadcast 1-row corpus-size scalar (the
    // hash-ring modulus)
    "q267_negative_sampling",
    // q270/q271 cross-join the broadcast 1-row µs-midpoint scalar
    "q270_cuped", "q271_did",
    // q275 cross-joins the broadcast 1-row observed-diff scalar
    "q275_randomization_test",
    // q281 cross-joins the broadcast 1-row sketch frame
    "q281_cms_heavy",
    // q283 cross-joins the broadcast 1-row stats (n/lo/IQR) frame
    "q283_auto_histogram",
    // q284 cross-joins the broadcast 1-row top-20 summary frame
    "q284_selfjoin_size",
    // q285 cross-joins the broadcast 1-row AMS-estimate frame
    "q285_ams_f2",
    // q292 cross-joins the broadcast 1-row µs-midpoint scalar
    "q292_markov_eval",
    // q296 cross-joins the broadcast 1-row percentile-fence frame
    "q296_capping_sensitivity",
    // q306 cross-joins broadcast 1-row frames (BM25 stats, IDCG)
    "q306_ndcg_eval",
    // q307 cross-joins the broadcast |vocab|-bounded dimension frame
    // to build the zero-filled source×token grid
    "q307_source_similarity",
    // q308 cross-joins the broadcast 8-row seed-centroid frame
    "q308_lloyd_step",
    // q310 cross-joins the broadcast 1-row tie-correction scalar
    "q310_kruskal_wallis",
    // q314 cross-joins the broadcast |classes|-row (5) model frame and
    // the 1-row vocab-size scalar
    "q314_naive_bayes",
    // q315 cross-joins the broadcast 3-row query-term frame (+ the
    // 1-row collection-size scalar inside it)
    "q315_ql_retrieval",
    // q322/q323 carry survivalDurations' broadcast 1-row corpus-end
    // scalar (q204's shape)
    "q322_log_rank", "q323_nelson_aalen",
    // q325 cross-joins the broadcast 1-row min-watermark cutoff scalar
    "q325_stream_outer_join",
    // q326 cross-joins the broadcast 1-row min/max frame and the
    // 20-row bin triangle side
    "q326_isotonic_calibration",
    // q327's pairwise Jaccard matrix is a broadcast self-cross of the
    // 8-row candidate frame
    "q327_mmr_diversify",
    // q328 cross-joins the broadcast 1-row method-of-moments prior
    "q328_eb_shrinkage",
    // q329 cross-joins three broadcast 1-row metric scalars
    "q329_blocking_eval",
    // q330 cross-joins the broadcast 1-row baseline-conversion scalar
    "q330_markov_attribution",
    // q331's coalition lattice is a 16×≤16 broadcast bitmask theta
    // join (v(S) subset-sum + the S→S∪{c} pairing)
    "q331_shapley_attribution",
    // q335's pair frame is a 3×3 broadcast theta self-join of the
    // per-group rank summary (+ the 1-row tie/N scalar)
    "q335_dunn_posthoc",
    // q342 cross-joins the broadcast 1-row sequence-count scalar
    "q342_prefixspan",
    // q344 cross-joins the broadcast 1-row min/max init scalar
    "q344_gmm_em_step",
    // q351 cross-joins the broadcast 1-row L2-norm scalars between
    // HITS half-steps
    "q351_hits",
    // q353 cross-joins the broadcast 1-row Newton-step beta frame
    "q353_logreg_newton",
    // q355 cross-joins the broadcast 1-row sample-size scalar
    "q355_cramer_von_mises",
    // q357 cross-joins three 1-row aggregates (q152's census shape)
    "q357_assortativity",
    // q358 carries survivalDurations' broadcast corpus-end scalar plus
    // the broadcast 1-row score frame
    "q358_cox_score",
    // q359 cross-joins the broadcast 1-row sample-size scalar
    "q359_wasserstein",
    // q360 cross-joins the broadcast 1-row best-pair frame twice
    "q360_bpe_merge",
    // q418 cross-joins a broadcast 1-row argmax frame per merge round
    // plus the final 1-row merge-table assembly
    "q418_bpe_train",
    // q362/q363 cross-join broadcast 1-row corpus-fence/sample-size
    // scalars
    "q362_ucb1", "q363_anderson_darling",
    // q373 cross-joins the broadcast 1-row sample-size scalar
    "q373_avg_precision",
    // q383 cross-joins the broadcast 1-row temporal-cutoff scalar
    "q383_pinball_loss",
    // q387 cross-joins the broadcast 1-row sketch-estimate/exact-count
    // scalars (KMV frames are k=128-bounded)
    "q387_kmv_intersect",
    // q390/q391/q394 cross-join broadcast 1-row scalars (global Theil
    // moments / standardization stats + assigned-count / seed count)
    "q390_theil_decomp", "q391_dbscan", "q394_personalized_pagerank",
    // q395 cross-joins the broadcast 1-row query vector (ADC anchor)
    "q395_product_quantization",
    // q397 cross-joins the broadcast 1-row solved-coefficients frame
    "q397_ridge_gram",
    // q399 cross-joins the broadcast k=4 centroid / 1-row DB-index
    // frames; q400 is q100's broadcast-query batch kNN over the
    // bounded scored set
    "q399_davies_bouldin", "q400_lof",
    // q402 cross-joins the broadcast 1-row nation-mean scalar
    "q402_fisher_exact",
    // q406/q407 cross-join broadcast 1-row IRLS/Weiszfeld iterate
    // frames between corpus passes
    "q406_huber_m", "q407_geometric_median",
    // q408 cross-joins the broadcast 1-row chosen-center frame per
    // greedy round (k=3)
    "q408_kcenter_coreset",
    // q410 cross-joins broadcast 1-row edge-mass and modularity-sum
    // scalars
    "q410_modularity",
    // q412 cross-joins the 26-row stump grid (weighted-error search)
    // and broadcast 1-row best-stump/accuracy frames
    "q412_adaboost",
    // q415 cross-joins broadcast 1-row pooled-median / margin-total /
    // chi2 scalars
    "q415_mood_median",
    // q411/q414 carry survivalDurations' broadcast corpus-end scalar
    // (q204/q358's shape)
    "q411_rmst", "q414_competing_risks",
    // q151's minCount threshold is a 1-row broadcast basket-count
    // scalar; the >= filter folds into the BNLJ condition (round 12)
    "q151_frequent_itemsets")

  test("no query plans a non-broadcast cartesian product") {
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      val plan = fn(spark, sf0001).queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"),
        s"$name plans a CartesianProduct:\n$plan")
      if (!tinyBroadcastCross(name))
        assert(!plan.contains("BroadcastNestedLoopJoin"),
          s"$name plans an unexpected BroadcastNestedLoopJoin:\n$plan")
    }
  }

  test("q185's naive intersect is rewritten to the native sorted merge") {
    val plan = SparkEntry.queries("q185_optimized_intersect")(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(plan.contains("sorted_intersect_count"),
      s"IntersectCountRewrite did not fire:\n$plan")
    assert(!plan.contains("array_intersect"),
      s"naive array_intersect survived the rewrite:\n$plan")
  }

  test("q18 fence keeps the JSON parse ABOVE the repartition") {
    val plan = planOf(SparkEntry.queries("q18_json_extract")(spark, sf0001))
    // tree prints root-first, so the scan/exchange sits BELOW (after)
    // the filter; an unfenced plan pushes the get_json_object filter
    // under the round-robin exchange onto the single scan task
    val parseAt = plan.indexOf("get_json_object")
    val exchangeAt = plan.indexOf("Exchange RoundRobinPartitioning")
    assert(parseAt >= 0 && exchangeAt >= 0, plan)
    assert(parseAt < exchangeAt,
      s"JSON parse was pushed below the repartition:\n$plan")
  }

  test("q132 partitioned-sink read-back prunes to one partition") {
    val plan = planOf(SparkEntry.queries("q132_partitioned_sink")(spark, sf0001))
    assert(plan.contains("PartitionFilters: ["), plan)
    assert(plan.contains("2024-01-15"),
      s"day filter should prune partitions, not scan them:\n$plan")
  }

  test("q201 fact scan carries a dynamicpruning partition filter") {
    val plan = planOf(SparkEntry.queries("q201_dpp_join")(spark, sf0001))
    assert(plan.contains("dynamicpruning"),
      s"the dim join should prune fact partitions at runtime:\n$plan")
  }

  test("chunkTokens is a pure generator projection — zero exchanges") {
    val docs = Tables.documents(spark, sf0001)
    val plan = planOf(graft.ops.CurationOps
      .chunkTokens(docs, "doc_id", "text", 32, 24))
    assert(plan.contains("Generate"), plan)
    assert(!plan.contains("Exchange"),
      s"chunking should not shuffle:\n$plan")
  }

  test("chunkDedupStats has no Window (min-struct keeper, map-side combine)") {
    val docs = Tables.documents(spark, sf0001)
    val df = graft.ops.CurationOps
      .chunkDedupStats(docs, "doc_id", "text", 32, 24)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"),
      s"keeper selection must not sort whole hash partitions:\n$plan")
    assert(plan.contains("partial_min") || plan.contains("partial_count"),
      s"expected map-side partial aggregation:\n$plan")
  }

  test("q100 batch kNN: broadcast query side, no sort-merge, no sort") {
    val df = SparkEntry.queries("q100_batch_topk")(spark, sf0001)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin"), plan)
    assert(!plan.contains("SortMergeJoin"), plan)
    // the k-bounded aggregate replaces any per-group sort of the
    // queries × corpus product; the only Sort allowed is the final
    // presentation orderBy of O(queries × k) rows
    assert(plan.contains("ObjectHashAggregate"), plan)
  }

  test("q135 bucketed join: no exchange and no sort inside the join") {
    import org.apache.spark.sql.execution.SortExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    val df = SparkEntry.queries("q135_bucketed_join")(spark, sf0001)
    df.collect() // finalize AQE
    val smj = collectFirst(df.queryExecution.executedPlan) {
      case j: SortMergeJoinExec => j
    }
    assert(smj.isDefined, df.queryExecution.executedPlan.toString)
    // bucketed layout on both sides: the shuffle was paid at write
    // time — the join subtree must be exchange-free. (A partition-
    // LOCAL Sort remains: since Spark 3.0 the bucketed scan does not
    // advertise per-file sort order — a bucket may span files — unless
    // spark.sql.legacy.bucketedTableScan.outputOrdering is set. The
    // sort is over already-sorted runs within one executor, not a
    // shuffle; the scale claim is the missing Exchange.)
    assert(smj.get.collect { case e: ShuffleExchangeLike => e }.isEmpty,
      s"bucketed join should not shuffle:\n${smj.get}")
    val sorts = smj.get.collect { case s: SortExec => s }
    assert(sorts.forall(!_.global),
      s"any residual sort must be partition-local:\n${smj.get}")
  }

  test("q149 reservoir sample: k-bounded aggregate, no Window sort") {
    val df = SparkEntry.queries("q149_reservoir_sample")(spark, sf0001)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("ObjectHashAggregate"), plan)
    assert(!plan.contains("Window"),
      s"the aggregate form must not sort rows under a window:\n$plan")
  }

  test("Tables.parallelize: no-op when input already has enough splits") {
    val target = spark.sparkContext.defaultParallelism
    // already-parallel input: returned untouched, no shuffle in the plan
    val wide = spark.range(0, 1000, 1, numPartitions = target)
      .toDF("id")
    val passthrough = graft.Tables.parallelize(wide)
    assert(passthrough.rdd.getNumPartitions == target)
    assert(!passthrough.queryExecution.executedPlan.toString
      .contains("Exchange"),
      "parallelize must not shuffle an already-parallel input")
    // starved input (single split, the local one-row-group case):
    // repartitioned up to defaultParallelism
    val narrow = spark.range(0, 1000, 1, numPartitions = 1).toDF("id")
    val widened = graft.Tables.parallelize(narrow)
    assert(widened.queryExecution.executedPlan.toString
      .contains("Exchange"),
      "parallelize must widen a single-split input")
  }

  test("q213 grid neighbor join is a shuffled equi-join on cells") {
    val df = SparkEntry.queries("q213_grid_neighbors")(spark, sf0001)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // the scale claim: candidate generation is an EQUI-join on the
    // (cx, cy) cell key — never a cross product over points
    assert(plan.contains("SortMergeJoin") ||
      plan.contains("ShuffledHashJoin") || plan.contains("BroadcastHashJoin"),
      s"expected an equi-join on cell keys:\n$plan")
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"grid join must not degrade to all-pairs:\n$plan")
  }

  test("q215 RFM features: no Expand — distinct counts stay one agg") {
    val df = SparkEntry.queries("q215_rfm_features")(spark, sf0001)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    // collect_set over bounded domains replaced count_distinct exactly
    // so the raw event scan is NOT tripled through an Expand
    assert(!plan.contains("Expand"),
      s"distinct-count Expand crept back into the RFM aggregation:\n$plan")
  }

  test("q210 shard stats: one aggregation pass, no join, no window") {
    val df = SparkEntry.queries("q210_shard_stats")(spark, sf0001)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("HashAggregate"), plan)
    assert(!plan.contains("Join") && !plan.contains("Window"),
      s"shard stats must be a single aggregation over the scan:\n$plan")
  }

  test("q211 rollup merge: raw data scanned once, merge reads state") {
    val df = SparkEntry.queries("q211_rollup_merge")(spark, sf0001)
    df.collect()
    // count scans in the FINAL plan only — AQE's toString appends an
    // "== Initial Plan ==" section that duplicates every node
    val plan = df.queryExecution.executedPlan.toString
      .split("== Initial Plan ==")(0)
    val scans = plan.split("FileScan").length - 1
    assert(scans == 1,
      s"rollup must merge daily STATE, not re-read raw data ($scans scans):\n$plan")
  }

  test("whole-stage codegen covers the q33 string-function pipeline") {
    val df = SparkEntry.queries("q33_string_funcs")(spark, sf0001)
    df.collect() // finalize AQE so codegen stages are annotated
    val plan = df.queryExecution.executedPlan.toString
    // "*(n)" prefixes mark whole-stage-codegen stages in the tree string
    assert(plan.contains("*(1)"), plan)
  }

  // ---- unpartitioned-window audit (round 10) -------------------------
  // An empty-partitionSpec Window moves EVERY input row into one task —
  // fine over a frame bounded by something other than the corpus
  // (value domain, calendar, groups, sketch buckets, shard count),
  // fatal over a corpus-proportional frame (each entry below names its
  // bound; graft.WindowVolumeProbe measured the actual single-partition
  // record counts at sf0.01 vs sf0.1 to classify every site —
  // PERF_NOTES R10.10). Corpus-proportional sites found by the audit
  // were FIXED, not whitelisted: q268/q293 (per-doc / per-user-week
  // frames), q221's unpruned top bucket, q321's grid-cell row_number,
  // and q355/q363/q373's distinct-value cumulatives now run through
  // StatOps.shardedCumsum / broadcast-scalar / min(struct) forms whose
  // only remaining global window is the nShards-row offset frame.
  private val boundedGlobalWindows: Map[String, String] = Map(
    "q123_concurrency" -> "per-day carry aggregates (calendar; 31 rows)",
    "q127_ecdf" -> "distinct l_quantity values (value domain, 50)",
    // (q130_zipf's offset frame left this list in round 11: the
    // vocabulary localCheckpoint makes the constant __g group key
    // non-foldable, so its nShards-row window is partitioned again)
    // q136/q138/q163/q329/q359 windows sit BEHIND localCheckpoints —
    // invisible until the checkpoint-aware audit (round 12) captured
    // construction-time plans; each carries the usual bounded frames.
    "q136_prefix_join" ->
      "adaptive vocab rank (<=4M rows by branch; bucketed form above)",
    "q138_psi_drift" -> "exactPercentiles bucket histogram (<=4096)",
    "q163_range_export" -> "exactPercentiles bucket histogram (<=4096)",
    "q329_blocking_eval" ->
      "adaptive vocab rank (<=4M rows by branch; bucketed form above)",
    "q359_wasserstein" -> "shardedCumsum offset frame (nShards=8)",
    "q183_batch_inference" -> "exactPercentiles bucket histogram (<=4096)",
    "q191_best_split" -> "candidate splits = distinct l_quantity (50)",
    "q198_mutual_info" -> "category-pair frame (|priorities|x|statuses|)",
    "q200_hll_sliding" -> "hourly sketch frame (calendar)",
    "q203_global_seq" -> "shardedCumsum offset frame (nShards=8)",
    "q204_kaplan_meier" -> "distinct duration days (study horizon)",
    "q221_skyline" -> ("bucket fences + per-bucket skyline union " +
      "(output-adjacent)"),
    "q227_calibration" -> "score bins (10)",
    "q236_quantile_sketch" -> "exactPercentiles bucket histogram (<=4096)",
    "q237_rrf_fusion" -> "top-k ranked lists (k-bounded)",
    "q238_funnel" -> "funnel steps",
    "q243_sprt" -> "per-day LLR frame (calendar)",
    "q250_quantile_normalize" -> ("exactPercentiles bucket histogram " +
      "(<=4096)"),
    "q251_stl_decompose" -> "per-day frame (calendar)",
    "q253_bitmap_retention" -> "weekly cohort frame (calendar)",
    "q260_state_occupancy" -> "per-event-type aggregates (~5)",
    "q263_star_schema" -> "dimension keys (dimension-bounded)",
    "q268_heaps_law" -> "shardedCumsum offset frame (nShards=8)",
    "q272_woe_iv" -> "feature bins",
    "q274_hill_tail" -> "top-k tail order statistics (k-bounded)",
    "q276_simpson" -> "strata",
    "q283_auto_histogram" -> "exactPercentiles bucket histogram (<=4096)",
    "q296_capping_sensitivity" -> ("exactPercentiles bucket histogram " +
      "(<=4096)"),
    "q277_bh_screen" -> "m hypotheses (category pairs)",
    "q279_jackknife_groups" -> "leave-one-out groups",
    "q297_anova" -> "groups",
    "q301_info_gain_ranking" -> "features and their bins",
    "q302_quota_allocation" -> "strata",
    "q306_ndcg_eval" -> "queries x k ranked rows",
    "q310_kruskal_wallis" -> "distinct l_quantity values (50)",
    "q313_neyman_allocation" -> "strata",
    "q314_naive_bayes" -> "classes (5)",
    "q322_log_rank" -> "distinct duration days",
    "q323_nelson_aalen" -> "distinct duration days",
    "q326_isotonic_calibration" -> "PAV score bins (20)",
    "q330_markov_attribution" -> "channels",
    "q331_shapley_attribution" -> "channels (coalitions pre-aggregated)",
    "q335_dunn_posthoc" -> "distinct l_quantity values (50)",
    "q355_cramer_von_mises" -> "shardedCumsum offset frame (nShards=8)",
    "q358_cox_score" -> "distinct event days",
    "q362_ucb1" -> "bandit arms",
    "q363_anderson_darling" -> "shardedCumsum offset frame (nShards=8)",
    "q373_avg_precision" -> "shardedCumsum offset frame (nShards=8)",
    "q411_rmst" -> "distinct duration days",
    "q414_competing_risks" -> "distinct duration days",
    // back on the list in round 12: removing the corpus-frame li
    // checkpoint (verdict item 6) lets the optimizer fold the constant
    // __all group key, so the bounded histogram window plans with an
    // EMPTY partitionSpec again (the q130_zipf mechanism in reverse)
    "q415_mood_median" -> "exactPercentiles bucket histogram (<=4096)")

  // ---- grouped single-task window audit (round 11) -------------------
  // The PARTITIONED cousin of the trap above (PERF_NOTES R10.13): a
  // Window partitioned ONLY by columns whose fixture cardinality is
  // <=10 puts each key's entire corpus slice into one task — n/5 rows
  // per task at any cluster size — unless its per-group frame is
  // bounded by something other than the corpus. R10.13 classified
  // these by hand from WindowVolumeProbe dumps; this lint makes the
  // screen executable. A Window is exempt if a WindowGroupLimit
  // bounds its input per group (the q392 shape after
  // DecorrelatedRankLimit); everything else flagged must carry a
  // documented non-corpus bound below, and stale entries fail.
  private val lowCardFixtureCols: Set[String] = Set(
    "l_returnflag", "l_linestatus", "l_linenumber", "l_tax",
    "o_orderstatus", "o_orderpriority", "event_type", "c_mktsegment",
    "p_type", "r_name", "r_regionkey", "n_regionkey", "lang", "label",
    // common manifest aliases of the above
    "pri", "flag", "status", "segment", "grp", "g")

  private def groupedLowCardWindows(
      plan: org.apache.spark.sql.execution.SparkPlan): Seq[String] = {
    import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}
    collectWithSubqueries(plan) {
      case w: WindowExec if w.partitionSpec.nonEmpty &&
          w.partitionSpec.forall(e => e.references.nonEmpty &&
            e.references.forall(a => lowCardFixtureCols.contains(a.name))) &&
          collectWithSubqueries(w.child) {
            case g: WindowGroupLimitExec => g
          }.isEmpty =>
        w.partitionSpec.flatMap(_.references.map(_.name)).distinct
          .sorted.mkString("+")
    }
  }

  /** Build a query's executed plan AND every plan eagerly executed
    * while constructing it. `localCheckpoint()` (and any other eager
    * action inside a query builder) runs during construction and
    * TRUNCATES the plan visible from the returned DataFrame — a Window
    * upstream of a checkpoint is invisible to a lint that only looks at
    * `fn(...).queryExecution.executedPlan` (round-11 verdict, blind
    * spot #2). Eager actions report their full pre-truncation
    * QueryExecution to ExecutionListenerManager, so capturing those
    * restores visibility without touching any call site. */
  private def capturePlans(build: => DataFrame)
      : Seq[org.apache.spark.sql.execution.SparkPlan] = {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    val captured =
      new java.util.concurrent.ConcurrentLinkedQueue[QueryExecution]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution,
          durationNs: Long): Unit = captured.add(qe)
      override def onFailure(funcName: String, qe: QueryExecution,
          exception: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      val main = build.queryExecution.executedPlan
      // listener delivery is async — drain the bus before reading
      org.apache.spark.GraftListenerBus.drain(spark.sparkContext)
      import scala.jdk.CollectionConverters._
      main +: captured.asScala.toVector.map(_.executedPlan)
    } finally spark.listenerManager.unregister(listener)
  }

  /** One plan-construction pass over the manifest shared by both
    * window lints (building 415 executed plans is the expensive part;
    * classification is cheap). Maps query name →
    * (has unpartitioned Window/GroupLimit, low-card-only partition
    * column signatures without a group limit) across the final plan
    * plus all construction-time (pre-checkpoint) plans. */
  private lazy val windowAudit: Map[String, (Boolean, Seq[String])] = {
    import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}
    SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      val plans = capturePlans(fn(spark, sf0001))
      val unpartitioned = plans.exists(p => collectWithSubqueries(p) {
        case w: WindowExec if w.partitionSpec.isEmpty => w
        case w: WindowGroupLimitExec if w.partitionSpec.isEmpty => w
      }.nonEmpty)
      name -> (unpartitioned, plans.flatMap(groupedLowCardWindows).distinct)
    }.toMap
  }

  test("the window audit sees through localCheckpoint truncation " +
    "(seeded corpus-proportional window behind a checkpoint)") {
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val seeded = capturePlans {
      spark.range(100).toDF("id")
        .withColumn("rk", row_number().over(Window.orderBy(col("id"))))
        .localCheckpoint()
        .groupBy().count()
    }
    val unpartitioned = seeded.exists(p => collectWithSubqueries(p) {
      case w: WindowExec if w.partitionSpec.isEmpty => w
    }.nonEmpty)
    assert(unpartitioned,
      "a global Window hidden behind localCheckpoint() escaped the " +
        "audit — the checkpoint blind spot is back")
  }

  test("every unpartitioned Window in the manifest has a documented " +
    "non-corpus bound (and the whitelist carries no stale entries)") {
    val flagged = windowAudit.collect {
      case (name, (unpartitioned, _)) if unpartitioned => name
    }.toSet
    val undocumented = flagged -- boundedGlobalWindows.keySet
    assert(undocumented.isEmpty,
      s"unpartitioned Window(s) without a documented bound: " +
        s"${undocumented.toSeq.sorted.mkString(", ")} — either state the " +
        "non-corpus bound here or distribute the frame " +
        "(StatOps.shardedCumsum / broadcast scalar / min-struct top-1)")
    val stale = boundedGlobalWindows.keySet -- flagged
    assert(stale.isEmpty,
      s"whitelist entries whose plans no longer carry an unpartitioned " +
        s"Window (prune them): ${stale.toSeq.sorted.mkString(", ")}")
  }

  // Each entry names the NON-CORPUS bound of the window's per-group
  // frame (what keeps one task's rows from growing with the corpus).
  // Three bounded families cover everything at HEAD: the sharded
  // offset frame (nShards rows per group — the price of the
  // distributed rewrite itself), the exactPercentiles bucket histogram
  // (<=4096 rows per group), and calendar-bounded per-day/per-hour
  // aggregate frames. Corpus-proportional sites found by this lint
  // were FIXED, not whitelisted: q87/q99 (per-lang budget cumsums →
  // shardedCumsumBy + tieCol), q195 (per-segment spend rank →
  // shardedRank), q259 (per-lang fractional ranks → value-histogram
  // mid-ranks), q318/q392 (decorrelated LATERAL rank filters →
  // DecorrelatedRankLimit's WindowGroupLimit).
  private val boundedGroupedWindows: Map[String, String] = Map(
    "q40_percentiles" -> "exactPercentiles bucket histogram (<=4096/group)",
    "q65_approx_percentiles" -> ("exactPercentiles bucket histogram " +
      "(<=4096/group)"),
    "q70_rank_dist" -> "shardedRank offset frame (nShards=8 rows/group)",
    "q87_token_budget" -> ("shardedCumsumBy offset frame " +
      "(nShards=8 rows/group)"),
    "q99_mixture_sample" -> ("shardedCumsumBy offset frame " +
      "(nShards=8 rows/group)"),
    "q102_norm_outliers" -> ("exactPercentiles bucket histogram " +
      "(<=4096/group)"),
    "q105_hourly_peaks" -> "hourly aggregate frame (calendar)",
    "q108_winsorize" -> "exactPercentiles bucket histogram (<=4096/group)",
    "q115_ks_drift" -> "shardedCumsumBy offset frame (nShards=8 rows/group)",
    "q119_robust_scale" -> ("exactPercentiles bucket histogram " +
      "(<=4096/group, 2 selections)"),
    "q126_equidepth_bins" -> ("exactPercentiles bucket histogram " +
      "(<=4096/group)"),
    "q153_target_encoding" -> "per-(priority, fold) aggregate frame (25 rows)",
    "q165_autocorr" -> "per-day aggregate frame (calendar)",
    "q182_ntile" -> "shardedRank offset frame (nShards=8 rows/group)",
    "q190_auc" -> "shardedCumsumBy offset frame (nShards=8 rows/group)",
    "q193_weighted_median" -> ("shardedCumsumBy offset frame " +
      "(nShards=8 rows/group)"),
    "q195_gini_lorenz" -> "shardedRank offset frame (nShards=8 rows/group)",
    "q206_cusum" -> "per-day aggregate frame (calendar)",
    "q214_strat_split" -> "shardedRank offset frame (nShards=8 rows/group)",
    // q231/q266 offset frames sit BEHIND their cums checkpoints —
    // surfaced by the round-12 checkpoint-aware audit
    "q231_burstiness" -> ("shardedCumsumBy offset frame " +
      "(nShards=8 rows/group)"),
    "q266_wasserstein" -> ("shardedCumsumBy offset frame " +
      "(nShards=8 rows/group)"),
    "q245_rolling_regression" -> "per-day aggregate frame (calendar)",
    "q250_quantile_normalize" -> ("exactPercentiles bucket histogram " +
      "(<=4096/group) + shardedRankTied block-start histogram " +
      "(per-(lang, token-count) value domain, ~90 rows/group)"),
    "q252_conformal" -> "exactPercentiles bucket histogram (<=4096/group)",
    "q259_spearman" -> ("shardedCumsumBy offset frame " +
      "(nShards=8 rows/group, 2 rank histograms)"),
    "q287_forecast_eval" -> "per-day aggregate frame (calendar)",
    "q294_cvar" -> "exactPercentiles bucket histogram (<=4096/group)",
    "q305_median_impute" -> ("exactPercentiles bucket histogram " +
      "(<=4096/group)"),
    "q311_brown_forsythe" -> ("exactPercentiles bucket histogram " +
      "(<=4096/group)"),
    "q376_mase" -> "per-day aggregate frame (calendar)",
    "q380_wilcoxon" -> ("distinct |paired-daily-count diffs| frame " +
      "(calendar-bounded)"),
    "q381_pacf" -> "per-day aggregate frame (calendar)",
    "q383_pinball_loss" -> ("exactPercentiles bucket histogram + per-day " +
      "frame (calendar)"),
    "q404_runs_test" -> "per-day aggregate frame (calendar)",
    "q416_hurst" -> "per-day aggregate frame (calendar)")

  test("every low-cardinality-partitioned Window has a documented " +
    "non-corpus frame bound (and the whitelist carries no stale entries)") {
    val flagged = windowAudit.collect {
      case (name, (_, grouped)) if grouped.nonEmpty => name
    }.toSet
    val undocumented = flagged -- boundedGroupedWindows.keySet
    assert(undocumented.isEmpty,
      s"Window(s) partitioned only by <=10-cardinality columns whose " +
        s"per-group frame has no documented non-corpus bound: " +
        undocumented.toSeq.sorted
          .map(n => s"$n(${windowAudit(n)._2.mkString(";")})")
          .mkString(", ") +
        " — distribute the frame (StatOps.shardedCumsumBy/shardedRank), " +
        "bound it with a window group limit, or state the bound here")
    val stale = boundedGroupedWindows.keySet -- flagged
    assert(stale.isEmpty,
      s"grouped-window whitelist entries whose plans no longer carry a " +
        s"low-card-partitioned Window (prune them): " +
        stale.toSeq.sorted.mkString(", "))
  }

  test("grouped-window lint flags a seeded corpus-proportional violation " +
    "and exempts group-limited windows") {
    import org.apache.spark.sql.expressions.{Window => W}
    import org.apache.spark.sql.functions._
    val orders = spark.read.parquet(s"$sf0001/orders.parquet")
    // seeded violation: per-priority rank over RAW corpus rows
    val bad = orders.withColumn("rk",
      row_number().over(W.partitionBy("o_orderpriority")
        .orderBy(col("o_totalprice").desc)))
    assert(groupedLowCardWindows(bad.queryExecution.executedPlan).nonEmpty,
      "lint failed to flag a raw per-priority window sort")
    // the fixed q392 shape (rank filter → group limit) is exempt
    val q392 = SparkEntry.queries("q392_sql_table_fn")(spark, sf0001)
    assert(groupedLowCardWindows(q392.queryExecution.executedPlan).isEmpty,
      "q392's group-limited window should not be flagged")
  }

  test("q392 SQL-UDTF rank filter plans map-side + final window group " +
    "limits (DecorrelatedRankLimit fired)") {
    import org.apache.spark.sql.execution.window.WindowGroupLimitExec
    val df = SparkEntry.queries("q392_sql_table_fn")(spark, sf0001)
    val limits = collectWithSubqueries(df.queryExecution.executedPlan) {
      case g: WindowGroupLimitExec => g.mode.toString
    }
    assert(limits.sorted == Seq("Final", "Partial"),
      s"expected one Partial (map-side) + one Final group limit, got " +
        s"$limits — the decorrelated LATERAL shape lost its group-limit " +
        "pushdown (see graft.plans.DecorrelatedRankLimit)")
  }

  test("q318 LATERAL ORDER BY+LIMIT plans a map-side group limit and " +
    "drops the whole-corpus global sort (DecorrelatedRankLimit shape 2)") {
    import org.apache.spark.sql.execution.SortExec
    import org.apache.spark.sql.execution.window.WindowGroupLimitExec
    val df = SparkEntry.queries("q318_lateral_topk")(spark, sf0001)
    val plan = df.queryExecution.executedPlan
    val modes = collectWithSubqueries(plan) {
      case g: WindowGroupLimitExec => g.mode.toString
    }
    assert(modes.contains("Partial"),
      s"expected a map-side (Partial) group limit, got $modes")
    // the decorrelated form's global customer sort must be gone: the
    // only global sort left is the 15-row output ORDER BY (on r_name)
    val globalSorts = collectWithSubqueries(plan) {
      case s: SortExec if s.global => s.sortOrder.map(_.child.toString)
    }
    assert(globalSorts.size == 1 &&
      globalSorts.head.exists(_.contains("r_name")),
      s"unexpected global sort(s) in q318 (the corpus range-sort is " +
        s"back?): $globalSorts")
  }

  test("DecorrelatedRankLimit REFUSES when a full-frame aggregate shares " +
    "the decorrelated window (a group limit would drop rows it observes)") {
    import org.apache.spark.sql.execution.window.WindowGroupLimitExec
    import org.apache.spark.sql.expressions.{Window => W}
    import org.apache.spark.sql.functions._
    // same LATERAL-UDTF construct as q392, but the body ALSO computes a
    // whole-partition sum sharing the rank's (partition, order) — after
    // decorrelation the Window node carries [passthrough key, rank,
    // full-frame sum], and pre-pruning rows below it would change the
    // sum. The rule's forall(rankLike || passthrough) must refuse; a
    // future loosening (e.g. "any aggregate is safe") breaks the result
    // check below, not just the plan shape.
    spark.read.parquet(s"$sf0001/orders.parquet")
      .createOrReplaceTempView("orders_dprl_neg")
    spark.sql(
      """CREATE OR REPLACE TEMPORARY FUNCTION topn_share_dprl(
        |    p STRING, n INT)
        |  RETURNS TABLE(o_orderkey BIGINT, share DOUBLE)
        |  RETURN SELECT o_orderkey, o_totalprice / tot AS share FROM (
        |    SELECT o_orderkey, o_totalprice, row_number() OVER (
        |        ORDER BY o_totalprice DESC, o_orderkey) AS rk,
        |      sum(o_totalprice) OVER (
        |        ORDER BY o_totalprice DESC, o_orderkey
        |        ROWS BETWEEN UNBOUNDED PRECEDING
        |          AND UNBOUNDED FOLLOWING) AS tot
        |    FROM orders_dprl_neg WHERE o_orderpriority = p)
        |  WHERE rk <= n""".stripMargin)
    val df = spark.sql(
      """SELECT pri, o_orderkey, share
        |FROM (SELECT DISTINCT o_orderpriority AS pri
        |      FROM orders_dprl_neg),
        |  LATERAL topn_share_dprl(pri, 3)
        |ORDER BY pri, o_orderkey""".stripMargin)
    val limits = collectWithSubqueries(df.queryExecution.executedPlan) {
      case g: WindowGroupLimitExec => g
    }
    assert(limits.isEmpty,
      "a WindowGroupLimit was inserted under a window whose full-frame " +
        "sum observes every group row — semantics-breaking rewrite")
    // result check: top-3 per priority with share = price / GROUP total
    // (the total over ALL group rows, not the 3 surviving ones)
    val orders = spark.read.parquet(s"$sf0001/orders.parquet")
    val expected = orders
      .withColumn("rk", row_number().over(
        W.partitionBy(col("o_orderpriority"))
          .orderBy(col("o_totalprice").desc, col("o_orderkey"))))
      .withColumn("share", col("o_totalprice") /
        sum(col("o_totalprice")).over(W.partitionBy(col("o_orderpriority"))))
      .filter(col("rk") <= 3)
      .select(col("o_orderpriority").as("pri"), col("o_orderkey"),
        col("share"))
      .orderBy(col("pri"), col("o_orderkey"))
      .collect().map(r => (r.getString(0), r.getLong(1),
        math.rint(r.getDouble(2) * 1e9)))
    val got = df.collect().map(r => (r.getString(0), r.getLong(1),
      math.rint(r.getDouble(2) * 1e9)))
    // shares rounded at 1e-9: the two plans may sum the group total in
    // different row orders (double addition is not associative)
    assert(got.toSeq == expected.toSeq)
  }

  test("DecorrelatedRankLimit honors the windowGroupLimitThreshold " +
    "kill switch (-1 disables the rewrite, like the built-in rule)") {
    import org.apache.spark.sql.execution.window.WindowGroupLimitExec
    GraftSession.withConf(spark,
        "spark.sql.optimizer.windowGroupLimitThreshold" -> "-1") {
      val df = SparkEntry.queries("q392_sql_table_fn")(spark, sf0001)
      val limits = collectWithSubqueries(df.queryExecution.executedPlan) {
        case g: WindowGroupLimitExec => g
      }
      assert(limits.isEmpty,
        "the injected rule must respect the same kill switch as " +
          "InferWindowGroupLimit")
    }
  }
}
