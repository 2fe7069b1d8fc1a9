package graft

import org.apache.spark.sql.SparkSession

/** Every session-level decision graft makes, in one place:
  *
  *  - [[create]] builds the local session every graft main and the test
  *    suite run on, from the one conf list [[confs]];
  *  - [[withConf]] scopes a conf override to a block and restores the
  *    previous state afterwards (an unset key is unset again);
  *  - [[loopParts]] sizes the shuffle fan-out of an iterative graph loop
  *    from its materialized row count.
  *
  * No other file in `src/main` builds a session or sets a conf
  * (GraftSessionLintSpec keeps it so, and checks that perfbench's copied
  * session carries the same list).
  */
object GraftSession {

  /** The sort-based fallback threshold [[confs]] sets for
    * ObjectHashAggregate (see the rationale there). */
  val FallbackThreshold = 1048576

  /** Local core count: `SPARK_GRAFT_CPUS`, else the JVM's available
    * processors. */
  def defaultCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  /** The session confs graft's operators assume on a `local[cpus]`
    * master. */
  def confs(cpus: Int): Seq[(String, String)] = Seq(
    "spark.sql.shuffle.partitions" -> cpus.toString,
    "spark.sql.session.timeZone" -> "UTC",
    // native functions and the optimizer/planner rules; injected rules
    // apply only at session build, so this cannot be set later
    "spark.sql.extensions" -> "graft.functions.GraftSparkExtensions",
    // parallelismFirst stays at its default TRUE: the byte-advisory
    // alternative (parallelismFirst=false) was A/B'd in round 4 and
    // LOST 156 -> 240 s — small-byte/high-CPU reduce stages (the
    // md5/intersection verify joins: q95 3.7 -> 22.7 s) coalesce to
    // ~1 partition and serialize. Bytes are a bad proxy for work in
    // compute-dense stages; see PERF_NOTES R4.3.
    "spark.sql.adaptive.coalescePartitions.minPartitionSize" -> "16k",
    // events.parquet carries TIMESTAMP(NANOS); see Tables.events
    "spark.sql.legacy.parquet.nanosAsLong" -> "true",
    // ObjectHashAggregate's sort-based fallback fires at 128 DISTINCT
    // KEYS per partition and then writes every remaining input row to
    // disk as its own (key, buffer) pair — for the k-bounded TopKAgg
    // family that silently turns O(groups × k) map-side combine into
    // an O(rows) external sort (q400's sf1 cross product spilled
    // >80 GB). Raised far above any manifest group count; bounded
    // buffers (~300 B) keep the worst-case map at ~300 MB. See
    // TopKAgg scaladoc + PERF_NOTES R10.5 for the sizing rule;
    // GraftSparkExtensions warns on a session that lacks it.
    "spark.sql.objectHashAggregate.sortBased.fallbackThreshold" ->
      FallbackThreshold.toString,
    // the generated-class cache defaults to 100 entries — a 415-query
    // manifest evicts everything between a query's two pass
    // executions, so every run would pay full Janino compilation
    // (~0.2-0.7 s uniform additive cost, measured: pass structure
    // without this conf ran a 1.5x slower bench). Sized to hold the
    // whole manifest: pass 1 compiles, pass 2 measures warm.
    "spark.sql.codegen.cache.maxEntries" -> "10000",
    "spark.ui.enabled" -> "false")

  /** The graft session on `local[cpus]`, at log level WARN and with the
    * ICU case-mapping tables already loaded. `warehouseDir` overrides
    * Spark's default `./spark-warehouse`. */
  def create(cpus: Int = defaultCpus,
             warehouseDir: Option[String] = None): SparkSession = {
    val builder = (confs(cpus) ++
      warehouseDir.map("spark.sql.warehouse.dir" -> _))
      .foldLeft(SparkSession.builder().master(s"local[$cpus]")) {
        case (b, (k, v)) => b.config(k, v)
      }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // any lower() evaluated on the interpreted path (i.e. inside a
    // CodegenFallback higher-order function) dispatches through
    // CollationSupport→CollationAwareUTF8String, whose static init
    // builds ICU case-mapping tables — tens of seconds of CPU when the
    // JIT is cold/saturated, serialized under the class-init monitor.
    // Trigger it once here so no query pays it.
    spark.range(1).select(org.apache.spark.sql.functions.expr(
      "filter(array(lower('Warm Up')), x -> x != '')")).collect()
    spark
  }

  /** Runs `body` with the given confs set on `s`, then puts each key
    * back as it was: a key that was set gets its value back, a key that
    * was unset is unset again (not pinned to its default), also when
    * `body` throws. The override is session-wide while `body` runs, so
    * it is for plan compilation and eager jobs inside one query. */
  def withConf[T](s: SparkSession, kvs: (String, String)*)(body: => T): T = {
    // getAll holds only the keys set on the session (RuntimeConfig's
    // contains is not public); get would return a default
    val set = s.conf.getAll
    val prev = kvs.map { case (k, _) => k -> set.get(k) }
    kvs.foreach { case (k, v) => s.conf.set(k, v) }
    try body
    finally prev.reverse.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }
  }

  /** Shuffle fan-out for an iterative loop over `nRows` materialized
    * rows (connected components, label propagation, k-core peeling).
    * Every round pays per-task fixed costs, so the core count is the
    * wrong width for a small graph: a 166 k-edge graph ran 2.4× slower
    * at local[32] than at local[8]. Small inputs get a latency floor of
    * at most 8 partitions (1 partition would serialize the join
    * compute, the R3 negative result); large ones grow one partition
    * per 2 M rows. */
  def loopParts(s: SparkSession, nRows: Long): Int =
    math.max(math.min(s.sparkContext.defaultParallelism, 8),
      (nRows / 2000000L).toInt + 1)
}
