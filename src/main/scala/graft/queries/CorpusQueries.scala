package graft.queries

import graft.Tables
import graft.ops.{CurationOps, StatOps, VectorOps}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Round-3 corpus-construction manifest (SURVEY.md §2.13 X28-X34): the
  * sequence-level preprocessing stages after document curation —
  * context-window chunking, chunk-level dedup, mixture sampling to
  * target weights, bulk kNN retrieval, vocabulary encoding,
  * embedding-distribution outlier fences, and token-budget batch
  * packing. Each oracle-checked against DuckDB.
  */
object CorpusQueries {

  type Q = (SparkSession, String) => DataFrame

  private val (chunkSize, stride) = (32, 24)

  /** q97_chunk — context-window chunking (`CurationOps.chunkTokens`):
    * every doc → overlapping 32-token windows every 24 tokens, each
    * with its portable hash. Pure generator projection — the whole
    * fan-out runs in the scan stage at any scale.
    */
  def q97Chunk(s: SparkSession, dir: String): DataFrame =
    CurationOps.chunkTokens(
      Tables.parallelize(Tables.documents(s, dir)), "doc_id", "text",
      chunkSize, stride)
      .orderBy(col("doc_id"), col("chunk_idx"))

  /** q98_chunk_dedup — chunk-level global dedup
    * (`CurationOps.chunkDedupStats`): first occurrence corpus-wide of
    * each distinct chunk wins; per-doc surviving fraction drives
    * drop-or-trim. The keeper is a `min(struct)` aggregate, not a
    * window sort — partials collapse map-side.
    */
  def q98ChunkDedup(s: SparkSession, dir: String): DataFrame =
    CurationOps.chunkDedupStats(
      Tables.parallelize(Tables.documents(s, dir)), "doc_id", "text",
      chunkSize, stride)
      .orderBy(col("doc_id"))

  private[queries] val mixWeights = Map(
    "en" -> 0.4, "de" -> 0.15, "es" -> 0.15, "fr" -> 0.15, "zh" -> 0.15)
  private val mixBudget = 10000L

  /** q99_mixture_sample — data mixing to target language weights
    * (`CurationOps.mixtureSelect`): each lang gets weight × 10 000
    * tokens, filled in deterministic hash order. The step that turns
    * "40 % English" policy into an actual training subset.
    */
  def q99MixtureSample(s: SparkSession, dir: String): DataFrame =
    CurationOps.mixtureSelect(
      Tables.parallelize(Tables.documents(s, dir)),
      "lang", "doc_id", "text", mixWeights, mixBudget)
      .orderBy(col("lang"), col("doc_id"))

  /** q100_batch_topk — bulk exact kNN (`VectorOps.batchTopK`): top-5
    * cosine neighbors for every 100th vector in ONE corpus pass. The
    * query set broadcasts; the k-bounded TopKAgg keeps the exchange at
    * O(queries × k) — the kNN-graph / hard-negative-mining shape.
    */
  def q100BatchTopK(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val queries = emb.filter(col("vec_id") % 100 === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    VectorOps.batchTopK(emb, queries, k = 5)
      .orderBy(col("query_id"), col("rank"))
  }

  /** q400_lof — Local Outlier Factor (Breunig et al. 2000) over the
    * embedding corpus on cosine distance: from the exact k=5 kNN edge
    * list (q100's `batchTopK` — ONE corpus pass, k-bounded state) the
    * classic three-join chain ([[graft.ops.VectorOps.lofFromKnn]])
    * derives k-distance (each point's OWN k-th-NN distance — the kNN
    * relation is asymmetric, so grouping on the pointed-at endpoint
    * would both miscompute kdist and drop never-pointed-at outliers;
    * VectorOpsSpec pins this on a fixture), reachability
    * distance reach(p,o) = max(kdist(o), d(p,o)), local reachability
    * density lrd = k/Σreach, and LOF(p) = avg lrd(neighbor)/lrd(p) —
    * the DENSITY-relative outlier score that q102's global norm
    * fences cannot express (a point in a sparse region scores high
    * even if its norm is typical). Scale shape: the scored set is the
    * broadcast query batch (in production a bounded candidate subset,
    * here the whole 500-vector fixture); every downstream join is on
    * the O(n·k) edge list, never on pairs. Distances are the 4-dp
    * rounded cosine distances shared with the oracle, so the chain
    * replays to the digit; lrd guards the all-duplicate-neighbor
    * degenerate case with a 1e-12 floor (documented, replayed).
    */
  def q400Lof(s: SparkSession, dir: String): DataFrame = {
    val k = 5
    val emb = Tables.embeddings(s, dir)
    val knn = VectorOps.batchTopK(emb,
        emb.select(col("vec_id").as("query_id"),
          col("embedding").as("qv")), k = k)
      .select(col("query_id").as("p"), col("vec_id").as("o"),
        (lit(1.0) - col("cos_sim")).as("d"))
      .localCheckpoint() // read by kdist, reach, and lof passes
    VectorOps.lofFromKnn(knn, k)
      .select(col("vec_id"), round(col("lof"), 4).as("lof"),
        (round(col("lrd"), 4) + lit(0.0)).as("lrd"),
        round(col("kdist"), 4).as("kdist"))
      .orderBy(col("lof").desc, col("vec_id")).limit(15)
  }

  /** q101_vocab_encode — frequency-vocab build + id encoding
    * (`CurationOps.vocabEncode`): top-16 tokens by corpus count become
    * ids 0-15; docs encode to id sequences with -1 OOV and a per-doc
    * OOV rate. The tiny vocab broadcasts; the corpus never shuffles.
    */
  def q101VocabEncode(s: SparkSession, dir: String): DataFrame =
    CurationOps.vocabEncode(
      Tables.parallelize(Tables.documents(s, dir)), "doc_id", "text",
      vocabSize = 16)
      .orderBy(col("doc_id"))

  /** q102_norm_outliers — embedding-distribution outlier fences: per
    * label, Tukey fences (p25/p75 ± 1.5 IQR) on the L2 norm via the
    * distributed-selection `StatOps.exactPercentiles`, plus the count
    * outside them. The embedding-sanity screen before ANN indexing —
    * degenerate (near-zero / exploded) vectors show up here.
    * Norms and fences compare ROUNDED (4 dp) on both engines, so the
    * flag can't flip on a final-ulp double difference.
    */
  def q102NormOutliers(s: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftSparkExtensions.register(s)
    val n = Tables.embeddings(s, dir)
      .select(col("label"), col("vec_id"),
        VectorOps.normNative(col("embedding")).as("nrm"))
      .localCheckpoint()
    val pct = StatOps.exactPercentiles(n, "label", "nrm",
      Seq("p25" -> 0.25, "p75" -> 0.75))
    val lo = round(col("p25") - (col("p75") - col("p25")) * 1.5, 4)
    val hi = round(col("p75") + (col("p75") - col("p25")) * 1.5, 4)
    n.join(broadcast(pct), Seq("label"))
      .groupBy(col("label"), round(col("p25"), 4).as("p25"),
        round(col("p75"), 4).as("p75"), lo.as("lo"), hi.as("hi"))
      .agg(sum(when(round(col("nrm"), 4) < lo || round(col("nrm"), 4) > hi,
        1L).otherwise(0L)).as("n_outliers"))
      .orderBy(col("label"))
  }

  /** q103_pack_bins — token-budget batch packing
    * (`CurationOps.packBins`): shard-local deterministic order, bins of
    * ~2048 tokens by preceding-cumsum division. Per-shard windows keep
    * the packing parallel — no global order exists anywhere.
    */
  def q103PackBins(s: SparkSession, dir: String): DataFrame =
    CurationOps.packBins(
      Tables.parallelize(Tables.documents(s, dir)), "doc_id", "text",
      shards = 4, capacity = 2048L)
      .orderBy(col("shard"), col("bin"))

  /** q108_winsorize — percentile winsorization (feature clipping):
    * per-return-flag p05/p95 fences from the distributed-selection
    * percentiles, values clipped in one broadcast-join + projection
    * pass; reports clip counts and the mean shift. The standard
    * outlier-robust feature-prep step before model training.
    */
  def q108Winsorize(s: SparkSession, dir: String): DataFrame = {
    val v = Tables.lineitem(s, dir)
      .select(col("l_returnflag"), col("l_extendedprice").as("x"))
    val pct = StatOps.exactPercentiles(v, "l_returnflag", "x",
      Seq("p05" -> 0.05, "p95" -> 0.95))
    v.join(broadcast(pct), Seq("l_returnflag"))
      .withColumn("w", greatest(least(col("x"), col("p95")), col("p05")))
      .groupBy(col("l_returnflag"), round(col("p05"), 4).as("p05"),
        round(col("p95"), 4).as("p95"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("x") < col("p05"), 1L).otherwise(0L)).as("n_clip_lo"),
        sum(when(col("x") > col("p95"), 1L).otherwise(0L)).as("n_clip_hi"),
        round(avg(col("x")), 2).as("avg_raw"),
        round(avg(col("w")), 2).as("avg_winsorized"))
      .orderBy(col("l_returnflag"))
  }

  /** q109_crossmodal — retrieval composition: batch kNN over the
    * embedding corpus, then each hit enriched with its document's
    * lang/source metadata. The kNN output is O(queries × k) rows, so
    * the metadata attach is a broadcast join — the documents table is
    * only ever scanned, never shuffled.
    */
  def q109Crossmodal(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
    val queries = emb.filter(col("vec_id") % 200 === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("qv"))
    val hits = VectorOps.batchTopK(emb, queries, k = 3)
    val meta = Tables.documents(s, dir)
      .select(col("doc_id").as("vec_id"), col("lang"), col("source"))
    hits.join(meta, Seq("vec_id"))
      .select(col("query_id"), col("rank"), col("vec_id"), col("cos_sim"),
        col("lang"), col("source"))
      .orderBy(col("query_id"), col("rank"))
  }

  /** q110_weighted_sample — weighted sampling without replacement
    * (`BalanceOps.weightedSampleKPerGroup`, Efraimidis–Spirakis): five
    * orders per priority class, selection probability ∝ o_totalprice,
    * from a deterministic hash-derived uniform — reproducible across
    * engines, retries, and partitionings, unlike seeded rand().
    */
  def q110WeightedSample(s: SparkSession, dir: String): DataFrame =
    graft.ops.BalanceOps.weightedSampleKPerGroup(
      Tables.orders(s, dir)
        .select(col("o_orderpriority"), col("o_orderkey"), col("o_totalprice")),
      "o_orderpriority", "o_orderkey", col("o_totalprice"), k = 5)
      .orderBy(col("o_orderpriority"), col("o_orderkey"))

  /** q111_heavy_hitters — exact heavy hitters via Misra–Gries sketch +
    * candidate recount (`CurationOps.heavyHitters`,
    * `functions.MisraGries`): tokens with ≥ 2 % of all occurrences,
    * found with k-bounded buffers instead of a full-vocabulary shuffle.
    * The output is exact and deterministic even though the sketch's
    * internal candidate set is merge-order-dependent.
    */
  def q111HeavyHitters(s: SparkSession, dir: String): DataFrame =
    CurationOps.heavyHitters(
      Tables.parallelize(Tables.documents(s, dir)), "text",
      k = 64, minFrac = 0.02)
      .orderBy(col("cnt").desc, col("token"))

  /** q112_drift — language-distribution drift between two hash cohorts
    * of the corpus (the train/holdout or yesterday/today shape): per
    * lang, both shares, absolute gap, and the KL(A‖B) contribution.
    * One aggregation; the cohort totals ride as in-plan scalars.
    */
  def q112Drift(s: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(s, dir)
      .withColumn("cohort",
        pmod(graft.ops.TextOps.hash32(col("doc_id").cast("string"),
          seed = "drift:"), lit(2L)))
    val perLang = d.groupBy(col("lang"))
      .agg(sum(when(col("cohort") === 0, 1L).otherwise(0L)).as("n_a"),
        sum(when(col("cohort") === 1, 1L).otherwise(0L)).as("n_b"))
    val tot = perLang.agg(sum(col("n_a")).cast("double").as("t_a"),
      sum(col("n_b")).cast("double").as("t_b"))
    perLang.crossJoin(broadcast(tot))
      .select(col("lang"), col("n_a"), col("n_b"),
        (round(col("n_a") / col("t_a"), 4) + lit(0.0)).as("p_a"),
        (round(col("n_b") / col("t_b"), 4) + lit(0.0)).as("p_b"),
        (round(abs(col("n_a") / col("t_a") - col("n_b") / col("t_b")), 4) + lit(0.0))
          .as("abs_gap"),
        when(col("n_a") > 0 && col("n_b") > 0,
          (round((col("n_a") / col("t_a")) *
            log((col("n_a") / col("t_a")) / (col("n_b") / col("t_b"))), 6) + lit(0.0)))
          .otherwise(lit(null)).as("kl_term"))
      .orderBy(col("lang"))
  }

  /** q113_json_scan — the reference's signature ingest (S1,
    * `init.py:13`): line-delimited JSON read back through
    * `Ingest.readJson` (explicit schema, PERMISSIVE corrupt capture —
    * the one-pass scale form of the reference's inferred read), then a
    * typed aggregation. The JSON copy is produced in-query from the
    * events table (bounded to users 0-49) under target/tmp.
    */
  def q113JsonScan(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val path = "target/tmp/q113_json_" +
      graft.ops.Staging.corpusKey(dir)
    // default JSON timestampFormat truncates to milliseconds — pin a
    // microsecond format on BOTH sides of the round trip
    val tsFmt = "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX"
    Tables.events(s, dir).filter(col("user_id") < 50)
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("value"), col("ts"))
      .write.mode("overwrite").option("timestampFormat", tsFmt).json(path)
    val schema = StructType(Seq(
      StructField("event_id", LongType), StructField("user_id", LongType),
      StructField("event_type", StringType), StructField("value", DoubleType),
      StructField("ts", TimestampType)))
    graft.sources.Ingest.dropCorrupt(
      graft.sources.Ingest.readJson(s, path, schema,
        options = Map("timestampFormat" -> tsFmt)))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("total_value"),
        min(col("ts")).as("first_ts"))
      .orderBy(col("event_type"))
  }

  /** q115_ks_drift — two-sample Kolmogorov–Smirnov per order priority
    * (`StatOps.ksStatistic`): numeric-feature drift between two hash
    * cohorts of orders, on o_totalprice. ECDFs run over distinct
    * values after a map-side collapse — raw rows never hit the window.
    */
  def q115KsDrift(s: SparkSession, dir: String): DataFrame =
    StatOps.ksStatistic(
      Tables.orders(s, dir), "o_orderpriority", "o_totalprice",
      pmod(graft.ops.TextOps.hash32(col("o_orderkey").cast("string"),
        seed = "ks:"), lit(2L)))
      .orderBy(col("o_orderpriority"))

  /** q116_posting_lists — inverted-index build
    * (`RetrievalOps.postingLists`): token → df + first 10 doc ids.
    * The posting cap is applied in-plan, so stop-word rows can't blow
    * up a reducer.
    */
  def q116PostingLists(s: SparkSession, dir: String): DataFrame =
    graft.ops.RetrievalOps.postingLists(
      Tables.parallelize(Tables.documents(s, dir)), "doc_id", "text",
      cap = 10)
      .orderBy(col("token"))

  /** q117_bm25 — BM25 top-20 retrieval (`RetrievalOps.bm25TopK`,
    * Lucene idf variant, k1=1.2 b=0.75) for a 3-term query. Matched
    * (doc, term, tf) rows are the only shuffle; df/N/avgdl broadcast;
    * TakeOrdered top-k.
    */
  def q117Bm25(s: SparkSession, dir: String): DataFrame =
    graft.ops.RetrievalOps.bm25TopK(
      Tables.parallelize(Tables.documents(s, dir)), "doc_id", "text",
      Seq("spark", "sql", "hash"), k = 20)

  /** q118_unigram_logprob — unigram-LM quality scoring
    * (`CurationOps.unigramLogProb`): mean token log-probability under
    * the corpus's own smoothed unigram distribution — the cheap
    * perplexity screen before any model-based filter. The unigram
    * table is broadcast; N and V are in-plan scalars.
    */
  def q118UnigramLogprob(s: SparkSession, dir: String): DataFrame =
    CurationOps.unigramLogProb(
      Tables.parallelize(Tables.documents(s, dir)), "doc_id", "text")
      .orderBy(col("doc_id"))

  /** q119_robust_scale — median/MAD robust scaling parameters per
    * label: two chained distributed-selection percentile passes
    * (`StatOps.exactPercentiles` on norms, then on |norm − median|).
    * The outlier-insensitive alternative to mean/stddev normalization
    * for embedding post-processing.
    */
  def q119RobustScale(s: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftSparkExtensions.register(s)
    // norms materialize ONCE (localCheckpoint): seven downstream passes
    // (2 × 3-pass selection + count) reread a 3-column frame instead of
    // re-deriving the norm from the embedding array each time
    val n = Tables.embeddings(s, dir)
      .select(col("label"), col("vec_id"),
        VectorOps.normNative(col("embedding")).as("nrm"))
      .localCheckpoint()
    // med is |labels| rows but its distributed-selection DAG re-derives
    // on every consumer (dev + the final join); dev feeds the second
    // selection, whose 3 internal passes would each re-run the
    // norm-join — checkpoint both tiny frames so the MAD selection
    // reads a materialized 2-column input (guide §2.4 / R5.2 pattern)
    val med = StatOps.exactPercentiles(n, "label", "nrm", Seq("med" -> 0.5))
      .localCheckpoint()
    val dev = n.join(broadcast(med), Seq("label"))
      .select(col("label"), abs(col("nrm") - col("med")).as("dev"))
      .localCheckpoint()
    val mad = StatOps.exactPercentiles(dev, "label", "dev", Seq("mad" -> 0.5))
    val cnt = n.groupBy(col("label")).agg(count(lit(1)).as("n_vecs"))
    cnt.join(med, Seq("label")).join(mad, Seq("label"))
      .select(col("label"), col("n_vecs"),
        round(col("med"), 4).as("med"), round(col("mad"), 4).as("mad"))
      .orderBy(col("label"))
  }

  /** q226_feature_hash — hashing-trick term frequencies
    * (`CurationOps.featureHash`, dim=64): the vocab-free counterpart
    * of q101's vocab-build+encode — no dictionary pass, no broadcast,
    * fixed schema at any corpus size; the 100 TB default for
    * bag-of-words features. Sparse (doc, bucket, tf) triples hash
    * against the portable-md5 replay.
    */
  def q226FeatureHash(s: SparkSession, dir: String): DataFrame =
    CurationOps.featureHash(
      Tables.parallelize(Tables.documents(s, dir)), "doc_id", "text",
      dim = 64)
      .orderBy(col("doc_id"), col("bucket"))

  /** q232_label_noise — mislabel screening by k-NN label consensus,
    * the SCALE form: for every embedding, the fraction of its 10
    * nearest SAME-SRP-BUCKET neighbors (cosine) sharing its label;
    * per-label average agreement and the count of suspects (< 50%
    * consensus) — the training-data QC pass that surfaces mislabeled
    * examples before they poison a classifier.
    *
    * Neighbor candidates come from the q184 machinery — an EQUI
    * self-join on the deterministic SRP sign bucket (`srp_bucket`,
    * 4 bits here) with the k-bounded `TopKAgg` collapsing each
    * bucket's candidates map-side — so the plan is one shuffle on the
    * bucket key carrying O(n) rows and an O(queries × k) aggregate
    * exchange: NO broadcast of the corpus, NO BroadcastNestedLoopJoin,
    * no all-pairs product anywhere (the previous form broadcast the
    * whole corpus as `batchTopK`'s query set — an O(n²) compare that
    * dies at 100 TB). At real scale `bits` grows with log₂(n) to keep
    * bucket populations bounded, and the corpus is written bucketed so
    * the join co-locates. The SRP screen is approximate (neighbors
    * restricted to the query's bucket; singleton-bucket vectors drop
    * out) but fully DETERMINISTIC — the DuckDB oracle replays the
    * md5-plane bucketing exactly, so the output is hash-checked, not
    * tolerance-flagged; `LabelNoiseSpec` additionally bounds the
    * bucketed screen's consensus drift against the exact kNN form.
    */
  def q232LabelNoise(s: SparkSession, dir: String): DataFrame = {
    // the oracle replays exactly these 4 md5 planes. Bucket population
    // is n/2^bits and within-bucket pair work n²/2^bits, so holding
    // bits fixed across a 10× corpus growth costs ~100× pair work where
    // bits += log₂(10) ≈ 3-4 holds it constant (measured: PERF_NOTES
    // R10.4)
    val bits = 4
    graft.functions.GraftSparkExtensions.register(s)
    val emb = Tables.embeddings(s, dir)
      .withColumn("bucket", VectorOps.srpBucket(col("embedding"), 64, bits))
    val cand = emb.select(col("bucket"), col("vec_id"), col("label"),
      col("embedding"))
    val q = emb.select(col("bucket"), col("vec_id").as("query_id"),
      col("label").as("qlabel"), col("embedding").as("qv"))
    cand.join(q, Seq("bucket"))
      .filter(col("vec_id") =!= col("query_id"))
      .groupBy(col("query_id"), col("qlabel"))
      .agg(graft.functions.TopKAgg.topK(10)(
        VectorOps.cosineNative(col("embedding"), col("qv")),
        // the neighbor's label rides along packed into the heap key
        // (vec_id·16 + label, label ∈ 0..9 < 16) — no post-hoc
        // id→label decode join; cosine ties still break by vec_id ASC
        // (the pack is order-preserving: one key per vec_id), matching
        // the oracle's ORDER BY cos DESC, vec_id
        col("vec_id") * 16 + col("label")).as("__tk"))
      .select(col("query_id"), col("qlabel"),
        explode(col("__tk.ks")).as("__packed"))
      .groupBy(col("query_id"), col("qlabel"))
      .agg(avg((col("__packed").bitwiseAND(lit(15L)) ===
        col("qlabel").cast("long")).cast("double")).as("__agree"))
      .groupBy(col("qlabel").as("label"))
      .agg(count(lit(1)).as("n_vecs"),
        (round(avg(col("__agree")), 4) + lit(0.0)).as("avg_agreement"),
        count(when(col("__agree") < 0.5, 1)).as("n_suspect"))
      .orderBy(col("label"))
  }

  /** q213_grid_neighbors — all embedding pairs within Euclidean radius
    * 0.05 in the (dim0, dim1) projection, via grid-cell bucketing
    * (`VectorOps.gridNeighborJoin`): cell-hash both sides, explode the
    * probe's 3×3 neighborhood, shuffled EQUI-join on the cell — the
    * canonical scale path for distance joins (spatial join / geo-dedup
    * blocking), O(n·density) instead of the all-pairs cross product
    * the DuckDB oracle uses at sf0.01.
    */
  def q213GridNeighbors(s: SparkSession, dir: String): DataFrame =
    VectorOps.gridNeighborJoin(
      Tables.embeddings(s, dir).select(col("vec_id"),
        col("embedding").getItem(0).as("x"),
        col("embedding").getItem(1).as("y")),
      "vec_id", "x", "y", radius = 0.05)
      .orderBy(col("id_a"), col("id_b"))

  /** q314_naive_bayes — a COMPLETE trained classifier whose predictions
    * hash-match the oracle: multinomial Naive Bayes predicting each
    * document's `lang` from its token counts. Training is pure counting
    * (class-conditional token totals + Laplace smoothing + log priors),
    * so unlike gradient/tree models the fit is exactly replayable in
    * SQL — the one classical ML model where the full train→predict→
    * confusion-matrix loop is oracle-checkable bit-for-bit. Split is
    * a deterministic doc_id hash (80/20). The log-sum trick keeps the
    * plan sparse: unmatched (class, token) pairs contribute
    * log(0+1) = 0, so scoring is an INNER join of test term
    * frequencies against the class-token count table — never the
    * |classes|×|vocab| grid — plus a per-doc `− dl·log(tot_c + V)`
    * normalizer from a 5-row broadcast class frame. Scores are rounded
    * to 6 dp before the argmax so cross-engine last-bit sum
    * differences can't flip a prediction.
    */
  def q314NaiveBayes(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.TextOps
    val docs = Tables.parallelize(Tables.documents(s, dir))
      .select(col("doc_id"), col("lang"), col("text"),
        (pmod(TextOps.hash32(col("doc_id").cast("string"), "nb:"),
          lit(5)) === 0).as("__test"))
    val tf = docs
      .select(col("doc_id"), col("lang"), col("__test"),
        explode(TextOps.tokens(col("text"))).as("token"))
      .groupBy(col("doc_id"), col("lang"), col("__test"), col("token"))
      .agg(count(lit(1)).as("tf"))
    val classTok = tf.filter(!col("__test"))
      .groupBy(col("lang").as("__c"), col("token"))
      .agg(sum(col("tf")).as("__cnt"))
    val vocab = classTok.select(col("token")).distinct()
    val vsize = vocab.agg(count(lit(1)).as("__v"))
    val cls = docs.filter(!col("__test"))
      .groupBy(col("lang").as("__c")).agg(count(lit(1)).as("__nd"))
      .join(classTok.groupBy(col("__c")).agg(sum(col("__cnt")).as("__tot")),
        Seq("__c"))
      .crossJoin(broadcast(vsize))
      .withColumn("__ndt", sum(col("__nd")).over(
        org.apache.spark.sql.expressions.Window.partitionBy()))
      .select(col("__c"), log(col("__nd") / col("__ndt")).as("__lp"),
        log(col("__tot") + col("__v")).as("__lden"))
    val testTf = tf.filter(col("__test"))
    val matched = testTf.join(classTok, Seq("token"))
      .groupBy(col("doc_id"), col("__c"))
      .agg(sum(col("tf") * log(col("__cnt") + 1)).as("__msum"))
    val dl = testTf.join(vocab, Seq("token"), "left_semi")
      .groupBy(col("doc_id")).agg(sum(col("tf")).as("__dl"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("doc_id"))
      .orderBy(col("__r").desc, col("__c"))
    docs.filter(col("__test"))
      .select(col("doc_id"), col("lang").as("true_lang"))
      .join(dl, Seq("doc_id"), "left").na.fill(0L, Seq("__dl"))
      .crossJoin(broadcast(cls))
      .join(matched, Seq("doc_id", "__c"), "left")
      .na.fill(0.0, Seq("__msum"))
      .withColumn("__r", (round(
        col("__lp") - col("__dl") * col("__lden") + col("__msum"), 6) + lit(0.0)))
      .withColumn("__rk", row_number().over(w))
      .filter(col("__rk") === 1)
      .groupBy(col("true_lang"), col("__c").as("pred_lang"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("true_lang"), col("pred_lang"))
  }

  /** q315_ql_retrieval — query-likelihood retrieval with Dirichlet
    * smoothing (Zhai & Lafferty 2001, µ=2000), the language-modeling
    * alternative to X47's BM25: score(d) = Σ_q log((tf + µ·p(t|C)) /
    * (dl + µ)) with collection probabilities p(t|C) from global term
    * frequencies. Unlike BM25, unmatched query terms still contribute
    * (the smoothed background mass), so every document gets a score:
    * the plan is the per-doc length frame crossed with a 3-row
    * broadcast query-term frame (cf/|C| precomputed), LEFT-joined to
    * matched term frequencies — O(|docs|·|q|) rows, one corpus token
    * pass, no all-pairs anything. Top-10 pinned by 6-dp rounding +
    * doc_id tiebreak.
    */
  def q315QlRetrieval(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.TextOps
    val mu = 2000.0
    val qterms = Seq("spark", "sql", "hash")
    val tok = Tables.parallelize(Tables.documents(s, dir))
      .select(col("doc_id"), explode(TextOps.tokens(col("text")))
        .as("token"))
    val dl = tok.groupBy(col("doc_id")).agg(count(lit(1)).as("__dl"))
    val coll = tok.agg(count(lit(1)).as("__csz"))
    val cf = tok.filter(col("token").isInCollection(qterms))
      .groupBy(col("token")).agg(count(lit(1)).as("__cf"))
      .crossJoin(broadcast(coll))
      .select(col("token"),
        (col("__cf").cast("double") / col("__csz")).as("__p"))
    val tfq = tok.filter(col("token").isInCollection(qterms))
      .groupBy(col("doc_id"), col("token"))
      .agg(count(lit(1)).as("__tf"))
    dl.crossJoin(broadcast(cf))
      .join(tfq, Seq("doc_id", "token"), "left")
      .na.fill(0L, Seq("__tf"))
      .groupBy(col("doc_id"), col("__dl"))
      .agg(sum(log((col("__tf") + lit(mu) * col("__p")) /
        (col("__dl") + lit(mu)))).as("__score"))
      .select(col("doc_id"), col("__dl").as("n_tokens"),
        (round(col("__score"), 4) + lit(0.0)).as("ql_score"),
        (round(col("__score"), 6) + lit(0.0)).as("__key"))
      .orderBy(col("__key").desc, col("doc_id"))
      .limit(10)
      .drop("__key")
  }

  /** q327_mmr_diversify — Maximal Marginal Relevance re-ranking
    * (Carbonell & Goldstein 1998): greedily select 4 of the top-8 BM25
    * candidates maximizing λ·rel − (1−λ)·max-sim-to-selected (λ=0.7,
    * sim = token-set Jaccard) — the diversity step retrieval and
    * training-data selection pipelines run so near-duplicate hits
    * don't crowd the context window / batch. The greedy loop is 4
    * UNROLLED rounds over an 8-row checkpointed candidate frame with
    * its dense 8×8 Jaccard matrix — the corpus cost is the one BM25
    * pass (X47's plan); selection cost is O(k²·rounds) on the driver
    * plan, data-scale-free. Relevance enters pre-rounded (4 dp) and
    * each round's argmax key is 6-dp rounded + doc_id tiebreak, so the
    * greedy path is engine-exact.
    */
  def q327MmrDiversify(s: SparkSession, dir: String): DataFrame = {
    import graft.ops.TextOps
    val lam = 0.7
    val docs = Tables.parallelize(Tables.documents(s, dir))
    val cands = graft.ops.RetrievalOps
      .bm25TopK(docs, "doc_id", "text", Seq("spark", "sql", "hash"), 8)
      .select(col("doc_id"), col("score"))
      .localCheckpoint()
    val sets = cands.join(docs.select(col("doc_id"),
      TextOps.tokenSet(col("text")).as("__set")), Seq("doc_id"))
    val sims = sets.select(col("doc_id").as("__a"), col("__set").as("__sa"))
      .crossJoin(broadcast(
        sets.select(col("doc_id").as("__b"), col("__set").as("__sb"))))
      .filter(col("__a") =!= col("__b"))
      .select(col("__a"), col("__b"),
        (size(array_intersect(col("__sa"), col("__sb"))) /
          size(array_union(col("__sa"), col("__sb"))).cast("double"))
          .as("__jac"))
      .localCheckpoint()
    var result = cands
      .orderBy(col("score").desc, col("doc_id")).limit(1)
      .withColumn("rank", lit(1))
      .withColumn("mmr", (round(lit(lam) * col("score"), 6) + lit(0.0)))
    for (r <- 2 to 4) {
      val selIds = result.select(col("doc_id").as("__sid"))
      val next = cands
        .join(selIds, cands("doc_id") === selIds("__sid"), "left_anti")
        .join(sims, col("doc_id") === col("__a"))
        .join(result.select(col("doc_id").as("__sel")),
          col("__b") === col("__sel"))
        .groupBy(col("doc_id"), col("score"))
        .agg(max(col("__jac")).as("__ms"))
        .withColumn("mmr",
          (round(lit(lam) * col("score") - lit(0.3) * col("__ms"), 6) + lit(0.0)))
        .orderBy(col("mmr").desc, col("doc_id")).limit(1)
        .withColumn("rank", lit(r))
        .select(col("doc_id"), col("score"), col("rank"), col("mmr"))
      result = result.unionByName(next)
    }
    result.select(col("rank"), col("doc_id"), col("score"), col("mmr"))
      .orderBy(col("rank"))
  }


  /** q395_product_quantization — PQ (Jégou et al. 2011), the
    * compression layer real vector stores put UNDER the coarse index:
    * the 64-dim embedding splits into 4 subspaces × 16 dims, each with
    * a 16-entry codebook (deterministic init = the first 16 vectors'
    * subvectors, one seeded Lloyd step — q308's pattern — with empty
    * codes falling back to init), so every vector compresses to 4
    * bytes (256× smaller); queries scan CODES with an ADC lookup
    * table (4×16 precomputed sub-distances, one broadcast frame) and
    * the estimated-distance top-10 is scored against the exact
    * top-10. Complements q93/q343 (int8 = scalar quantization, 4×)
    * with the codebook form that makes 100 TB of vectors RAM-resident.
    * Engine-parity discipline: subspace distances are left-fold sums
    * of double-cast elements, argmins break ties on (6-dp distance,
    * code), centroid means are 6-dp rounded before encoding — the
    * oracle replays training, encoding, and ADC to the digit.
    */
  def q395ProductQuantization(s: SparkSession, dir: String): DataFrame = {
    val nSub = 4
    val subDim = 16
    val k = 16
    val emb = Tables.embeddings(s, dir)
      .select(col("vec_id"),
        expr("transform(embedding, x -> cast(x as double))").as("v"))
      .localCheckpoint() // read by init, assign, update, encode, exact
    // (vec, sub) subvectors
    val subs = emb.select(col("vec_id"), explode(expr(
      s"""transform(sequence(0, ${nSub - 1}), j ->
         |  named_struct('sub', j,
         |    'sv', slice(v, j * $subDim + 1, $subDim)))""".stripMargin))
      .as("__s"))
      .select(col("vec_id"), col("__s.sub").as("sub"),
        col("__s.sv").as("sv"))
      .localCheckpoint()
    val init = subs.filter(col("vec_id") < k)
      .select(col("sub"), col("vec_id").cast("int").as("code"),
        col("sv").as("cv"))
    def assignTo(centroids: DataFrame): DataFrame =
      subs.join(broadcast(centroids), Seq("sub"))
        .withColumn("__d", round(expr(
          """aggregate(zip_with(sv, cv, (a, b) -> (a - b) * (a - b)),
            |  cast(0.0 as double), (acc, x) -> acc + x)""".stripMargin),
          6))
        .groupBy(col("vec_id"), col("sub"))
        .agg(min(struct(col("__d"), col("code"))).as("__m"))
        .select(col("vec_id"), col("sub"), col("__m.code").as("code"))
    // one Lloyd step: assign to init, re-mean per (sub, code, dim)
    val upd = assignTo(init)
      .join(subs, Seq("vec_id", "sub"))
      .select(col("sub"), col("code"), posexplode(col("sv")))
      .groupBy(col("sub"), col("code"), col("pos"))
      .agg(round(avg(col("col")), 6).as("__c"))
      .groupBy(col("sub"), col("code"))
      .agg(expr("transform(sort_array(collect_list(" +
        "struct(pos, __c))), x -> x.__c)").as("cv"))
    // empty codes keep their init centroid
    val books = init.select(col("sub"), col("code"),
        col("cv").as("__icv"))
      .join(upd, Seq("sub", "code"), "left")
      .select(col("sub"), col("code"),
        coalesce(col("cv"), col("__icv")).as("cv"))
      .localCheckpoint()
    val codes = assignTo(books).localCheckpoint()
    // ADC lookup table for the query vector (vec_id 7)
    val lut = subs.filter(col("vec_id") === 7)
      .join(broadcast(books), Seq("sub"))
      .select(col("sub"), col("code"), expr(
        """aggregate(zip_with(sv, cv, (a, b) -> (a - b) * (a - b)),
          |  cast(0.0 as double), (acc, x) -> acc + x)""".stripMargin)
        .as("__qd"))
    val est = codes.join(broadcast(lut), Seq("sub", "code"))
      .groupBy(col("vec_id")).agg(sum(col("__qd")).as("__est"))
    val q = emb.filter(col("vec_id") === 7)
      .select(col("v").as("__qv"))
    val exact = emb.crossJoin(broadcast(q))
      .select(col("vec_id"), expr(
        """aggregate(zip_with(v, __qv, (a, b) -> (a - b) * (a - b)),
          |  cast(0.0 as double), (acc, x) -> acc + x)""".stripMargin)
        .as("__ex"))
    val exactTop = exact.filter(col("vec_id") =!= 7)
      .orderBy(round(col("__ex"), 6), col("vec_id")).limit(10)
      .select(col("vec_id"))
    est.filter(col("vec_id") =!= 7)
      .join(exact, Seq("vec_id"))
      .join(exactTop.withColumn("__hit", lit(true)), Seq("vec_id"),
        "left")
      .orderBy((round(col("__est"), 6) + lit(0.0)), col("vec_id")).limit(10)
      .select(col("vec_id"),
        (round(sqrt(col("__est")), 4) + lit(0.0)).as("pq_dist"),
        round(sqrt(col("__ex")), 4).as("exact_dist"),
        coalesce(col("__hit"), lit(false)).as("in_exact_top10"))
  }

  /** q408_kcenter_coreset — greedy farthest-point (Gonzalez) k-center
    * coreset over the embedding corpus, k=3: seed with the max-norm
    * vector, then twice pick the point FARTHEST from its nearest
    * chosen center; the final max-min distance is the coverage radius,
    * a 2-approximation of the optimal k-center cost. This is the
    * diversity-first corpus summarization primitive (pick exemplars
    * covering the space, the opposite of q327's query-relative MMR)
    * and the classic seeding for clustering/active-labeling at scale:
    * each round is ONE map-side-combinable argmax over the corpus
    * carrying the running min-distance — k passes total, O(n·k·d)
    * flops, no pairwise join anywhere. Distances compare after
    * round-6 (q399's convention) with vec_id as the total tie-break,
    * so the argmax is partition-order-proof.
    */
  def q408KcenterCoreset(s: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("embedding")).localCheckpoint()
    def sqd(center: String): Column = expr(
      s"aggregate(zip_with(embedding, $center, (x, y) -> " +
        "(double(x) - double(y)) * (double(x) - double(y))), 0D, " +
        "(acc, v) -> acc + v)")
    def argmax(df: DataFrame, dCol: String, idOut: String,
        embOut: String): DataFrame =
      df.agg(max_by(struct(col("vec_id"), col("embedding")),
          struct(round(col(dCol), 6), -col("vec_id"))).as("__c"))
        .select(col("__c.vec_id").as(idOut),
          col("__c.embedding").as(embOut))
    val n2 = emb.withColumn("__d", expr(
      "aggregate(zip_with(embedding, embedding, (x, y) -> " +
        "double(x) * double(y)), 0D, (acc, v) -> acc + v)"))
    val c1 = argmax(n2, "__d", "center1_id", "__c1")
    val d1 = emb.crossJoin(broadcast(c1))
      .withColumn("__d", sqd("__c1"))
    val c2 = argmax(d1, "__d", "center2_id", "__c2")
    val d2 = d1.crossJoin(broadcast(c2))
      .withColumn("__d", least(col("__d"), sqd("__c2")))
    val c3 = argmax(d2, "__d", "center3_id", "__c3")
    val d3 = d2.crossJoin(broadcast(c3))
      .withColumn("__d", least(col("__d"), sqd("__c3")))
    d3.agg(max(col("center1_id")).as("center1_id"),
        max(col("center2_id")).as("center2_id"),
        max(col("center3_id")).as("center3_id"),
        round(sqrt(max(round(col("__d"), 6))), 4)
          .as("coverage_radius"),
        count(lit(1)).as("n_points"))
  }

  val queries: Map[String, Q] = Map(
    "q408_kcenter_coreset" -> (q408KcenterCoreset _),
    "q395_product_quantization" -> (q395ProductQuantization _),
    "q327_mmr_diversify" -> (q327MmrDiversify _),
    "q314_naive_bayes" -> (q314NaiveBayes _),
    "q315_ql_retrieval" -> (q315QlRetrieval _),
    "q226_feature_hash" -> (q226FeatureHash _),
    "q232_label_noise" -> (q232LabelNoise _),
    "q213_grid_neighbors" -> (q213GridNeighbors _),
    "q118_unigram_logprob" -> (q118UnigramLogprob _),
    "q119_robust_scale" -> (q119RobustScale _),
    "q115_ks_drift" -> (q115KsDrift _),
    "q116_posting_lists" -> (q116PostingLists _),
    "q117_bm25" -> (q117Bm25 _),
    "q111_heavy_hitters" -> (q111HeavyHitters _),
    "q112_drift" -> (q112Drift _),
    "q113_json_scan" -> (q113JsonScan _),
    "q110_weighted_sample" -> (q110WeightedSample _),
    "q108_winsorize" -> (q108Winsorize _),
    "q109_crossmodal" -> (q109Crossmodal _),
    "q97_chunk" -> (q97Chunk _),
    "q98_chunk_dedup" -> (q98ChunkDedup _),
    "q99_mixture_sample" -> (q99MixtureSample _),
    "q100_batch_topk" -> (q100BatchTopK _),
    "q400_lof" -> (q400Lof _),
    "q101_vocab_encode" -> (q101VocabEncode _),
    "q102_norm_outliers" -> (q102NormOutliers _),
    "q103_pack_bins" -> (q103PackBins _),
  )

  import ExtensionQueries.{toksSql, tokSetSql}

  private def h32(expr: String, seed: String = ""): String =
    s"('0x' || substr(md5('$seed' || $expr), 1, 8))::BIGINT"

  /** Shared chunk CTE (mirrors CurationOps.chunkTokens 32/24). */
  private[queries] val chunksCte =
    s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
      |n AS (SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) > 0),
      |c AS (SELECT doc_id, toks,
      |    unnest(range(0, greatest((n - $chunkSize + $stride - 1) // $stride, 0) + 1)) AS chunk_idx
      |  FROM n),
      |ch AS (SELECT doc_id, chunk_idx::INT AS chunk_idx,
      |    len(list_slice(toks, chunk_idx * $stride + 1,
      |                   chunk_idx * $stride + $chunkSize))::BIGINT AS n_tokens,
      |    ${h32(s"array_to_string(list_slice(toks, chunk_idx * $stride + 1, chunk_idx * $stride + $chunkSize), ' ')")} AS chunk_hash
      |  FROM c)""".stripMargin

  private val mixCaseSql = mixWeights.toSeq.sortBy(_._1)
    .map { case (k, v) => s"WHEN '$k' THEN $v" }
    .mkString("CASE lang ", " ", " END")

  // one greedy MMR selection round: sel{r-1} -> s{r}/sel{r}
  private def mmrRound(r: Int): String =
    s"""s$r AS (SELECT t.doc_id, t.score, $r AS rank,
       |    (round(0.7 * t.score - 0.3 * max(sims.jac), 6) + 0.0) AS mmr
       |  FROM top t JOIN sims ON sims.sa = t.doc_id
       |    AND sims.sb IN (SELECT doc_id FROM sel${r - 1})
       |  WHERE t.doc_id NOT IN (SELECT doc_id FROM sel${r - 1})
       |  GROUP BY t.doc_id, t.score
       |  ORDER BY mmr DESC, t.doc_id LIMIT 1),
       |sel$r AS (SELECT doc_id FROM sel${r - 1}
       |  UNION ALL SELECT doc_id FROM s$r)""".stripMargin

  val oracle: Map[String, String] = Map(
    "q408_kcenter_coreset" ->
      """WITH e AS (SELECT vec_id, embedding FROM embeddings),
        |n2 AS (SELECT vec_id, embedding,
        |    list_sum(list_transform(embedding,
        |      x -> x::DOUBLE * x::DOUBLE)) AS d
        |  FROM e),
        |c1 AS (SELECT vec_id AS cid, embedding AS ce FROM n2
        |  ORDER BY (round(d, 6) + 0.0) DESC, vec_id LIMIT 1),
        |d1 AS (SELECT e.vec_id, e.embedding,
        |    list_sum(list_transform(range(1, 65), i ->
        |      (e.embedding[i]::DOUBLE - c1.ce[i]::DOUBLE) *
        |      (e.embedding[i]::DOUBLE - c1.ce[i]::DOUBLE))) AS d
        |  FROM e, c1),
        |c2 AS (SELECT vec_id AS cid, embedding AS ce FROM d1
        |  ORDER BY (round(d, 6) + 0.0) DESC, vec_id LIMIT 1),
        |d2 AS (SELECT d1.vec_id, d1.embedding, least(d1.d,
        |    list_sum(list_transform(range(1, 65), i ->
        |      (d1.embedding[i]::DOUBLE - c2.ce[i]::DOUBLE) *
        |      (d1.embedding[i]::DOUBLE - c2.ce[i]::DOUBLE)))) AS d
        |  FROM d1, c2),
        |c3 AS (SELECT vec_id AS cid, embedding AS ce FROM d2
        |  ORDER BY (round(d, 6) + 0.0) DESC, vec_id LIMIT 1),
        |d3 AS (SELECT least(d2.d,
        |    list_sum(list_transform(range(1, 65), i ->
        |      (d2.embedding[i]::DOUBLE - c3.ce[i]::DOUBLE) *
        |      (d2.embedding[i]::DOUBLE - c3.ce[i]::DOUBLE)))) AS d
        |  FROM d2, c3)
        |SELECT (SELECT cid FROM c1) AS center1_id,
        |  (SELECT cid FROM c2) AS center2_id,
        |  (SELECT cid FROM c3) AS center3_id,
        |  (round(sqrt(max((round(d, 6) + 0.0))), 4) + 0.0) AS coverage_radius,
        |  count(*)::BIGINT AS n_points
        |FROM d3""".stripMargin,
    "q395_product_quantization" ->
      """WITH v AS (SELECT vec_id,
        |    list_transform(embedding, x -> x::DOUBLE) AS v
        |  FROM embeddings),
        |subs AS (SELECT vec_id, j.j AS sub,
        |    v[j.j * 16 + 1 : j.j * 16 + 16] AS sv
        |  FROM v, (SELECT unnest(range(0, 4)) AS j) j),
        |ini AS (SELECT sub, vec_id::INT AS code, sv AS cv
        |  FROM subs WHERE vec_id < 16),
        |a0r AS (SELECT s.vec_id, s.sub, c.code,
        |    (round(list_sum(list_transform(range(1, 17),
        |      i -> (s.sv[i] - c.cv[i]) ^ 2)), 6) + 0.0) AS d
        |  FROM subs s JOIN ini c ON s.sub = c.sub),
        |a0 AS (SELECT vec_id, sub, code FROM (SELECT *, row_number()
        |    OVER (PARTITION BY vec_id, sub ORDER BY d, code) AS rk
        |  FROM a0r) WHERE rk = 1),
        |upd AS (SELECT a0.sub, a0.code, i.i AS pos,
        |    round(avg(s.sv[i.i]), 6) AS c
        |  FROM a0 JOIN subs s USING (vec_id, sub),
        |    (SELECT unnest(range(1, 17)) AS i) i
        |  GROUP BY 1, 2, 3),
        |updv AS (SELECT sub, code, list(c ORDER BY pos) AS cv
        |  FROM upd GROUP BY 1, 2),
        |books AS (SELECT i.sub, i.code, coalesce(u.cv, i.cv) AS cv
        |  FROM ini i LEFT JOIN updv u USING (sub, code)),
        |encr AS (SELECT s.vec_id, s.sub, c.code,
        |    (round(list_sum(list_transform(range(1, 17),
        |      i -> (s.sv[i] - c.cv[i]) ^ 2)), 6) + 0.0) AS d
        |  FROM subs s JOIN books c ON s.sub = c.sub),
        |enc AS (SELECT vec_id, sub, code FROM (SELECT *, row_number()
        |    OVER (PARTITION BY vec_id, sub ORDER BY d, code) AS rk
        |  FROM encr) WHERE rk = 1),
        |lut AS (SELECT b.sub, b.code,
        |    list_sum(list_transform(range(1, 17),
        |      i -> (q.sv[i] - b.cv[i]) ^ 2)) AS qd
        |  FROM books b JOIN (SELECT sub, sv FROM subs
        |    WHERE vec_id = 7) q ON q.sub = b.sub),
        |est AS (SELECT e.vec_id, sum(l.qd) AS est
        |  FROM enc e JOIN lut l USING (sub, code) GROUP BY 1),
        |qv AS (SELECT v AS q FROM v WHERE vec_id = 7),
        |ex AS (SELECT v.vec_id, list_sum(list_transform(range(1, 65),
        |    i -> (v.v[i] - qv.q[i]) ^ 2)) AS ex FROM v, qv),
        |ext AS (SELECT vec_id FROM ex WHERE vec_id <> 7
        |  ORDER BY (round(ex, 6) + 0.0), vec_id LIMIT 10)
        |SELECT e.vec_id, (round(sqrt(e.est), 4) + 0.0) AS pq_dist,
        |  (round(sqrt(x.ex), 4) + 0.0) AS exact_dist,
        |  e.vec_id IN (SELECT vec_id FROM ext) AS in_exact_top10
        |FROM est e JOIN ex x USING (vec_id) WHERE e.vec_id <> 7
        |ORDER BY (round(e.est, 6) + 0.0), e.vec_id LIMIT 10""".stripMargin,
    "q327_mmr_diversify" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
        |d AS (SELECT doc_id, len(toks)::DOUBLE AS dl,
        |    unnest(toks) AS token FROM t),
        |mtc AS (SELECT * FROM d
        |  WHERE token IN ('spark', 'sql', 'hash')),
        |tf AS (SELECT doc_id, dl, token, count(*)::DOUBLE AS tf
        |  FROM mtc GROUP BY 1, 2, 3),
        |st AS (SELECT count(*)::DOUBLE AS n_docs,
        |    avg(len(toks)) AS avgdl FROM t),
        |fr AS (SELECT token, count(DISTINCT doc_id)::DOUBLE AS df
        |  FROM mtc GROUP BY token),
        |sc AS (SELECT tf.doc_id,
        |    ln((st.n_docs - fr.df + 0.5) / (fr.df + 0.5) + 1) * tf.tf *
        |      (1.2 + 1) / (tf.tf + 1.2 *
        |        (1 - 0.75 + 0.75 * tf.dl / st.avgdl)) AS sterm
        |  FROM tf, fr, st WHERE tf.token = fr.token),
        |r AS (SELECT doc_id, sum(sterm) AS raw FROM sc GROUP BY 1),
        |top AS (SELECT doc_id, (round(raw, 4) + 0.0) AS score FROM r
        |  ORDER BY raw DESC, doc_id LIMIT 8),
        |sets AS (SELECT top.doc_id, list_distinct(t.toks) AS s
        |  FROM top JOIN t ON top.doc_id = t.doc_id),
        |sims AS (SELECT a.doc_id AS sa, b.doc_id AS sb,
        |    len(list_intersect(a.s, b.s)) /
        |      len(list_distinct(a.s || b.s))::DOUBLE AS jac
        |  FROM sets a JOIN sets b ON a.doc_id <> b.doc_id),
        |s1 AS (SELECT doc_id, score, 1 AS rank,
        |    (round(0.7 * score, 6) + 0.0) AS mmr
        |  FROM top ORDER BY score DESC, doc_id LIMIT 1),
        |sel1 AS (SELECT doc_id FROM s1),
        |${(2 to 4).map(mmrRound).mkString(",\n")}
        |SELECT rank, doc_id, score, mmr FROM s1
        |UNION ALL SELECT rank, doc_id, score, mmr FROM s2
        |UNION ALL SELECT rank, doc_id, score, mmr FROM s3
        |UNION ALL SELECT rank, doc_id, score, mmr FROM s4
        |ORDER BY rank""".stripMargin,
    "q314_naive_bayes" ->
      s"""WITH d AS (SELECT doc_id, lang, $toksSql AS toks,
        |    ('0x' || substr(md5('nb:' || doc_id::VARCHAR), 1, 8))
        |      ::BIGINT % 5 = 0 AS test FROM documents),
        |tfc AS (SELECT doc_id, lang, test, token,
        |    count(*)::BIGINT AS tf
        |  FROM (SELECT doc_id, lang, test, unnest(toks) AS token
        |    FROM d) GROUP BY 1, 2, 3, 4),
        |ct AS (SELECT lang AS c, token, sum(tf)::BIGINT AS cnt
        |  FROM tfc WHERE NOT test GROUP BY 1, 2),
        |voc AS (SELECT DISTINCT token FROM ct),
        |v AS (SELECT count(*)::BIGINT AS v FROM voc),
        |pri AS (SELECT lang AS c, count(*)::BIGINT AS nd FROM d
        |  WHERE NOT test GROUP BY 1),
        |tot AS (SELECT c, sum(cnt)::BIGINT AS tot FROM ct GROUP BY 1),
        |cls AS (SELECT pri.c,
        |    ln(nd / (sum(nd) OVER ())::DOUBLE) AS lp,
        |    ln(tot + v.v) AS lden
        |  FROM pri JOIN tot ON pri.c = tot.c CROSS JOIN v),
        |mt AS (SELECT tfc.doc_id, ct.c,
        |    sum(tfc.tf * ln(ct.cnt + 1)) AS msum
        |  FROM tfc JOIN ct ON tfc.token = ct.token
        |  WHERE tfc.test GROUP BY 1, 2),
        |dlv AS (SELECT doc_id, sum(tf)::BIGINT AS dl FROM tfc
        |  WHERE test AND token IN (SELECT token FROM voc)
        |  GROUP BY 1),
        |sc AS (SELECT b.doc_id, b.lang AS true_lang, cls.c,
        |    (round(cls.lp - coalesce(dlv.dl, 0) * cls.lden +
        |      coalesce(mt.msum, 0.0), 6) + 0.0) AS r
        |  FROM (SELECT doc_id, lang FROM d WHERE test) b
        |  CROSS JOIN cls
        |  LEFT JOIN dlv ON dlv.doc_id = b.doc_id
        |  LEFT JOIN mt ON mt.doc_id = b.doc_id AND mt.c = cls.c),
        |pred AS (SELECT doc_id, true_lang, c, row_number() OVER
        |    (PARTITION BY doc_id ORDER BY r DESC, c) AS rk FROM sc)
        |SELECT true_lang, c AS pred_lang, count(*)::BIGINT AS n
        |FROM pred WHERE rk = 1 GROUP BY 1, 2 ORDER BY 1, 2"""
        .stripMargin,
    "q315_ql_retrieval" ->
      s"""WITH tok AS (SELECT doc_id, unnest($toksSql) AS token
        |  FROM documents),
        |dl AS (SELECT doc_id, count(*)::BIGINT AS dl FROM tok
        |  GROUP BY 1),
        |coll AS (SELECT count(*)::BIGINT AS csz FROM tok),
        |cf AS (SELECT token,
        |    count(*)::DOUBLE / (SELECT csz FROM coll) AS p
        |  FROM tok WHERE token IN ('spark', 'sql', 'hash')
        |  GROUP BY 1),
        |tfq AS (SELECT doc_id, token, count(*)::BIGINT AS tf
        |  FROM tok WHERE token IN ('spark', 'sql', 'hash')
        |  GROUP BY 1, 2),
        |sc AS (SELECT dl.doc_id, dl.dl,
        |    sum(ln((coalesce(tfq.tf, 0) + 2000.0 * cf.p) /
        |      (dl.dl + 2000.0))) AS score
        |  FROM dl CROSS JOIN cf
        |  LEFT JOIN tfq ON tfq.doc_id = dl.doc_id
        |    AND tfq.token = cf.token
        |  GROUP BY 1, 2)
        |SELECT doc_id, dl AS n_tokens, (round(score, 4) + 0.0) AS ql_score
        |FROM sc ORDER BY (round(score, 6) + 0.0) DESC, doc_id LIMIT 10"""
        .stripMargin,
    "q232_label_noise" ->
      s"""${StructuralQueries.srpBucketCte},
        |p AS (
        |  SELECT q.vec_id AS query_id, q.label AS qlabel, e.vec_id,
        |    e.label,
        |    list_cosine_similarity(e.embedding::DOUBLE[],
        |      q.embedding::DOUBLE[]) AS cos
        |  FROM b e JOIN b q
        |    ON e.bucket = q.bucket AND e.vec_id <> q.vec_id),
        |r AS (
        |  SELECT query_id, qlabel, label,
        |    row_number() OVER (PARTITION BY query_id
        |      ORDER BY cos DESC, vec_id) AS rn
        |  FROM p),
        |a AS (
        |  SELECT query_id, qlabel,
        |    avg(CASE WHEN label = qlabel THEN 1.0 ELSE 0.0 END) AS agree
        |  FROM r WHERE rn <= 10 GROUP BY 1, 2)
        |SELECT qlabel AS label, count(*) AS n_vecs,
        |  (round(avg(agree), 4) + 0.0) AS avg_agreement,
        |  count(CASE WHEN agree < 0.5 THEN 1 END) AS n_suspect
        |FROM a GROUP BY 1 ORDER BY 1""".stripMargin,
    "q226_feature_hash" ->
      s"""WITH tok AS (
         |  SELECT doc_id, unnest($toksSql) AS token FROM documents)
         |SELECT doc_id,
         |  (('0x' || substr(md5('fh:' || token), 1, 8))::BIGINT % 64)
         |    AS bucket,
         |  count(*) AS tf
         |FROM tok GROUP BY 1, 2 ORDER BY doc_id, bucket""".stripMargin,
    "q213_grid_neighbors" ->
      """WITH p AS (
        |  SELECT vec_id, embedding[1]::DOUBLE AS x,
        |    embedding[2]::DOUBLE AS y
        |  FROM embeddings)
        |SELECT a.vec_id AS id_a, b.vec_id AS id_b,
        |  round(sqrt((a.x - b.x) * (a.x - b.x) +
        |    (a.y - b.y) * (a.y - b.y)), 4) AS dist
        |FROM p a JOIN p b ON a.vec_id < b.vec_id
        |WHERE sqrt((a.x - b.x) * (a.x - b.x) +
        |  (a.y - b.y) * (a.y - b.y)) < 0.05
        |ORDER BY 1, 2""".stripMargin,
    "q118_unigram_logprob" ->
      s"""WITH tok AS (SELECT doc_id, unnest($toksSql) AS token FROM documents),
        |c AS (SELECT token, count(*) AS c FROM tok GROUP BY token),
        |s AS (SELECT sum(c)::DOUBLE AS n, count(*)::DOUBLE AS v FROM c)
        |SELECT doc_id, count(*) AS n_tokens,
        |  (round(sum(ln((c.c + 1) / (s.n + s.v))) / count(*), 4) + 0.0) AS logprob
        |FROM tok JOIN c USING (token), s
        |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q119_robust_scale" ->
      """WITH n AS (SELECT label,
        |    sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
        |      AS nrm
        |  FROM embeddings),
        |m AS (SELECT label, quantile_cont(nrm, 0.5) AS med FROM n
        |      GROUP BY label),
        |d AS (SELECT n.label, abs(n.nrm - m.med) AS dev
        |      FROM n JOIN m USING (label)),
        |md AS (SELECT label, quantile_cont(dev, 0.5) AS mad FROM d
        |       GROUP BY label),
        |c AS (SELECT label, count(*) AS n_vecs FROM n GROUP BY label)
        |SELECT c.label, c.n_vecs, round(m.med, 4) AS med,
        |  round(md.mad, 4) AS mad
        |FROM c JOIN m USING (label) JOIN md USING (label)
        |ORDER BY label""".stripMargin,
    "q115_ks_drift" ->
      s"""WITH v AS (SELECT o_orderpriority AS g, o_totalprice::DOUBLE AS x,
        |    ${h32("o_orderkey::VARCHAR", "ks:")} % 2 AS c
        |  FROM orders WHERE o_totalprice IS NOT NULL),
        |bv AS (SELECT g, x,
        |    count(CASE WHEN c = 0 THEN 1 END) AS na,
        |    count(CASE WHEN c = 1 THEN 1 END) AS nb
        |  FROM v GROUP BY g, x),
        |cw AS (SELECT g,
        |    sum(na) OVER (PARTITION BY g ORDER BY x
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ca,
        |    sum(nb) OVER (PARTITION BY g ORDER BY x
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cb,
        |    sum(na) OVER (PARTITION BY g) AS ta,
        |    sum(nb) OVER (PARTITION BY g) AS tb
        |  FROM bv)
        |SELECT g AS o_orderpriority, min(ta)::BIGINT AS n_a,
        |  min(tb)::BIGINT AS n_b,
        |  round(max(abs(ca::DOUBLE / ta - cb::DOUBLE / tb)), 4) AS ks
        |FROM cw GROUP BY g ORDER BY o_orderpriority""".stripMargin,
    "q116_posting_lists" ->
      s"""WITH tok AS (SELECT doc_id, unnest($tokSetSql) AS token FROM documents)
        |SELECT token, count(*) AS df,
        |  array_to_string(list(doc_id ORDER BY doc_id)[1:10], ' ') AS postings
        |FROM tok GROUP BY token ORDER BY token""".stripMargin,
    "q117_bm25" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
        |d AS (SELECT doc_id, len(toks)::DOUBLE AS dl, unnest(toks) AS token
        |      FROM t),
        |m AS (SELECT * FROM d WHERE token IN ('spark', 'sql', 'hash')),
        |tf AS (SELECT doc_id, dl, token, count(*)::DOUBLE AS tf
        |       FROM m GROUP BY 1, 2, 3),
        |s AS (SELECT count(*)::DOUBLE AS n_docs, avg(len(toks)) AS avgdl
        |      FROM t),
        |fr AS (SELECT token, count(DISTINCT doc_id)::DOUBLE AS df
        |       FROM m GROUP BY token),
        |sc AS (SELECT tf.doc_id,
        |    ln((s.n_docs - fr.df + 0.5) / (fr.df + 0.5) + 1) * tf.tf * (1.2 + 1)
        |      / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * tf.dl / s.avgdl)) AS sterm
        |  FROM tf, fr, s WHERE tf.token = fr.token),
        |r AS (SELECT doc_id, count(*) AS n_terms, sum(sterm) AS score
        |      FROM sc GROUP BY doc_id)
        |SELECT doc_id, n_terms, (round(score, 4) + 0.0) AS score
        |FROM r ORDER BY score DESC, doc_id LIMIT 20""".stripMargin,
    "q111_heavy_hitters" ->
      s"""WITH tok AS (SELECT unnest($toksSql) AS token FROM documents),
        |tot AS (SELECT count(*)::DOUBLE AS n FROM tok)
        |SELECT token, count(*) AS cnt,
        |  round(count(*) / (SELECT n FROM tot), 4) AS frac
        |FROM tok GROUP BY token
        |HAVING count(*) >= 0.02 * (SELECT n FROM tot)
        |ORDER BY cnt DESC, token""".stripMargin,
    "q112_drift" ->
      s"""WITH d AS (SELECT lang,
        |    ${h32("doc_id::VARCHAR", "drift:")} % 2 AS cohort
        |  FROM documents),
        |g AS (SELECT lang,
        |    count(CASE WHEN cohort = 0 THEN 1 END) AS n_a,
        |    count(CASE WHEN cohort = 1 THEN 1 END) AS n_b
        |  FROM d GROUP BY lang),
        |t AS (SELECT sum(n_a)::DOUBLE AS t_a, sum(n_b)::DOUBLE AS t_b FROM g)
        |SELECT lang, n_a, n_b,
        |  (round(n_a / t_a, 4) + 0.0) AS p_a, (round(n_b / t_b, 4) + 0.0) AS p_b,
        |  (round(abs(n_a / t_a - n_b / t_b), 4) + 0.0) AS abs_gap,
        |  CASE WHEN n_a > 0 AND n_b > 0
        |       THEN (round((n_a / t_a) * ln((n_a / t_a) / (n_b / t_b)), 6) + 0.0)
        |       ELSE NULL END AS kl_term
        |FROM g, t ORDER BY lang""".stripMargin,
    "q113_json_scan" ->
      """SELECT event_type, count(*) AS n,
        |  round(sum(value), 2) AS total_value, min(ts) AS first_ts
        |FROM events WHERE user_id < 50
        |GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q110_weighted_sample" ->
      """WITH w AS (SELECT o_orderpriority, o_orderkey, o_totalprice,
        |    ln(((('0x' || substr(md5('ws:' || o_orderkey::VARCHAR), 1, 8))::BIGINT
        |         + 0.5) / 4294967296.0)) / o_totalprice AS es
        |  FROM orders WHERE o_totalprice > 0),
        |r AS (SELECT *, row_number() OVER (PARTITION BY o_orderpriority
        |                                   ORDER BY es DESC, o_orderkey) AS rn
        |  FROM w)
        |SELECT o_orderpriority, o_orderkey, o_totalprice
        |FROM r WHERE rn <= 5
        |ORDER BY o_orderpriority, o_orderkey""".stripMargin,
    "q108_winsorize" ->
      """WITH v AS (SELECT l_returnflag, l_extendedprice::DOUBLE AS x
        |           FROM lineitem WHERE l_extendedprice IS NOT NULL),
        |q AS (SELECT l_returnflag, quantile_cont(x, 0.05) AS p05,
        |    quantile_cont(x, 0.95) AS p95
        |  FROM v GROUP BY 1)
        |SELECT v.l_returnflag, round(q.p05, 4) AS p05, round(q.p95, 4) AS p95,
        |  count(*) AS n,
        |  count(CASE WHEN x < p05 THEN 1 END) AS n_clip_lo,
        |  count(CASE WHEN x > p95 THEN 1 END) AS n_clip_hi,
        |  round(avg(x), 2) AS avg_raw,
        |  round(avg(greatest(least(x, p95), p05)), 2) AS avg_winsorized
        |FROM v JOIN q USING (l_returnflag)
        |GROUP BY v.l_returnflag, q.p05, q.p95
        |ORDER BY l_returnflag""".stripMargin,
    "q109_crossmodal" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qv
        |           FROM embeddings WHERE vec_id % 200 = 0),
        |p AS (SELECT q.query_id, e.vec_id,
        |    list_cosine_similarity(e.embedding::DOUBLE[], q.qv::DOUBLE[]) AS cos
        |  FROM embeddings e, q WHERE e.vec_id <> q.query_id),
        |r AS (SELECT query_id, vec_id, cos,
        |    row_number() OVER (PARTITION BY query_id
        |                       ORDER BY cos DESC, vec_id) AS rn
        |  FROM p)
        |SELECT r.query_id, r.rn::INT AS rank, r.vec_id,
        |  round(r.cos, 4) AS cos_sim, d.lang, d.source
        |FROM r JOIN documents d ON d.doc_id = r.vec_id
        |WHERE r.rn <= 3 ORDER BY r.query_id, r.rn""".stripMargin,
    "q97_chunk" ->
      s"""$chunksCte
        |SELECT doc_id, chunk_idx, n_tokens, chunk_hash
        |FROM ch ORDER BY doc_id, chunk_idx""".stripMargin,
    "q98_chunk_dedup" ->
      s"""$chunksCte,
        |r AS (SELECT doc_id, chunk_idx,
        |    row_number() OVER (PARTITION BY chunk_hash
        |                       ORDER BY doc_id, chunk_idx) AS rn
        |  FROM ch)
        |SELECT doc_id, count(*) AS n_chunks,
        |  sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END)::BIGINT AS n_kept,
        |  round(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END)::DOUBLE / count(*), 4)
        |    AS kept_frac
        |FROM r GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q99_mixture_sample" ->
      s"""WITH d AS (SELECT lang, doc_id, $toksSql AS toks FROM documents),
        |w AS (SELECT lang, doc_id, len(toks)::BIGINT AS n_tokens,
        |    ${h32("doc_id::VARCHAR", "mix:")} AS h,
        |    $mixCaseSql AS wt
        |  FROM d),
        |c AS (SELECT lang, doc_id, n_tokens,
        |    floor(wt * $mixBudget)::BIGINT AS grp_budget,
        |    (sum(n_tokens) OVER (PARTITION BY lang ORDER BY h, doc_id
        |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT
        |      AS cum_tokens
        |  FROM w WHERE wt IS NOT NULL)
        |SELECT lang, doc_id, n_tokens, cum_tokens, grp_budget
        |FROM c WHERE cum_tokens <= grp_budget
        |ORDER BY lang, doc_id""".stripMargin,
    "q400_lof" ->
      """WITH p AS (SELECT q.vec_id AS p, e.vec_id AS o,
        |    list_cosine_similarity(e.embedding::DOUBLE[],
        |      q.embedding::DOUBLE[]) AS cos
        |  FROM embeddings e, embeddings q WHERE e.vec_id <> q.vec_id),
        |knn AS (SELECT p, o, 1.0 - round(cos, 4) AS d
        |  FROM (SELECT *, row_number() OVER (PARTITION BY p
        |      ORDER BY cos DESC, o) AS rn FROM p)
        |  WHERE rn <= 5),
        |kd AS (SELECT p AS vec_id, max(d) AS kdist FROM knn GROUP BY 1),
        |lrd AS (SELECT knn.p,
        |    5.0 / greatest(sum(greatest(kd.kdist, knn.d)), 1e-12) AS lrd
        |  FROM knn JOIN kd ON knn.o = kd.vec_id GROUP BY 1),
        |lof AS (SELECT knn.p, avg(ol.lrd) AS avg_olrd
        |  FROM knn JOIN lrd ol ON knn.o = ol.p GROUP BY 1)
        |SELECT f.p AS vec_id, (round(f.avg_olrd / l.lrd, 4) + 0.0) AS lof,
        |  (round(l.lrd, 4) + 0.0) AS lrd, round(k.kdist, 4) AS kdist
        |FROM lof f JOIN lrd l ON f.p = l.p JOIN kd k ON f.p = k.vec_id
        |ORDER BY lof DESC, vec_id LIMIT 15""".stripMargin,
    "q100_batch_topk" ->
      """WITH q AS (SELECT vec_id AS query_id, embedding AS qv
        |           FROM embeddings WHERE vec_id % 100 = 0),
        |p AS (SELECT q.query_id, e.vec_id,
        |    list_cosine_similarity(e.embedding::DOUBLE[], q.qv::DOUBLE[]) AS cos
        |  FROM embeddings e, q WHERE e.vec_id <> q.query_id),
        |r AS (SELECT query_id, vec_id, cos,
        |    row_number() OVER (PARTITION BY query_id
        |                       ORDER BY cos DESC, vec_id) AS rn
        |  FROM p)
        |SELECT query_id, rn::INT AS rank, vec_id, round(cos, 4) AS cos_sim
        |FROM r WHERE rn <= 5 ORDER BY query_id, rank""".stripMargin,
    "q101_vocab_encode" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
        |vc AS (SELECT tok, count(*) AS c
        |  FROM (SELECT unnest(toks) AS tok FROM t)
        |  GROUP BY tok ORDER BY c DESC, tok LIMIT 16),
        |vl AS (SELECT list(tok ORDER BY c DESC, tok) AS l FROM vc),
        |e AS (SELECT doc_id, len(toks)::BIGINT AS n_tokens,
        |    list_transform(toks,
        |      x -> coalesce(list_position(l, x), 0) - 1) AS ids
        |  FROM t, vl)
        |SELECT doc_id, n_tokens,
        |  len(list_filter(ids, i -> i = -1))::BIGINT AS n_oov,
        |  (round(len(list_filter(ids, i -> i = -1))::DOUBLE
        |        / greatest(n_tokens, 1), 4) + 0.0) AS oov_rate,
        |  array_to_string(ids, ' ') AS ids
        |FROM e ORDER BY doc_id""".stripMargin,
    "q102_norm_outliers" ->
      """WITH n AS (SELECT label, vec_id,
        |    sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))
        |      AS nrm
        |  FROM embeddings),
        |q AS (SELECT label,
        |    quantile_cont(nrm, 0.25) AS p25, quantile_cont(nrm, 0.75) AS p75
        |  FROM n GROUP BY label),
        |f AS (SELECT label, round(p25, 4) AS p25, round(p75, 4) AS p75,
        |    round(p25 - (p75 - p25) * 1.5, 4) AS lo,
        |    round(p75 + (p75 - p25) * 1.5, 4) AS hi
        |  FROM q)
        |SELECT f.label, f.p25, f.p75, f.lo, f.hi,
        |  (SELECT count(*) FROM n
        |   WHERE n.label = f.label
        |     AND (round(n.nrm, 4) < f.lo OR round(n.nrm, 4) > f.hi))
        |    AS n_outliers
        |FROM f ORDER BY f.label""".stripMargin,
    "q103_pack_bins" ->
      s"""WITH d AS (SELECT doc_id, $toksSql AS toks FROM documents),
        |w AS (SELECT doc_id, len(toks)::BIGINT AS n_tokens,
        |    ${h32("doc_id::VARCHAR", "pack:")} AS h
        |  FROM d),
        |s AS (SELECT *, h % 4 AS shard FROM w),
        |c AS (SELECT shard, doc_id, n_tokens,
        |    sum(n_tokens) OVER (PARTITION BY shard ORDER BY h, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_tokens
        |      AS prev
        |  FROM s)
        |SELECT shard, (prev // 2048)::BIGINT AS bin,
        |  count(*) AS n_docs, sum(n_tokens)::BIGINT AS n_tokens
        |FROM c GROUP BY 1, 2 ORDER BY shard, bin""".stripMargin,
  )
}
