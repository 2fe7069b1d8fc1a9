package graft

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** Central table loaders for the driver testdata (TESTDATA.md).
  *
  * All tables are parquet; reading through here keeps scans uniform so
  * Catalyst sees plain `FileSourceScanExec` nodes with pushdown-capable
  * filters (cf. reference `init.py:13`, which reads schema-inferred JSON —
  * we read parquet with its embedded schema: row-group pruning, column
  * pruning, no data scan to find the schema).
  *
  * Reading the embedded schema is NOT free, though: a plain
  * `spark.read.parquet(path)` launches one Spark job that opens the
  * footer(s) to infer the schema, every time it is called. At fixture
  * scale a query is bound by how many jobs it launches, and these
  * footer jobs were 9 of the 21 construction jobs of a perfbench
  * `sql_short` pass (PERF_NOTES R13.1). [[parquet]] therefore caches
  * the inferred schema and serves every later read as
  * `spark.read.schema(cached).parquet(path)`, which only lists the
  * files and runs no job. The cache key is everything that can change
  * the read schema:
  *  - the qualified path;
  *  - the (name, size, mtime) of every leaf file under it
  *    ([[graft.ops.Staging.fingerprint]]), so a file or part directory
  *    rewritten in place misses;
  *  - the session's value of each conf in [[schemaConfs]] (e.g.
  *    `nanosAsLong` decides whether `events.ts` reads as LongType).
  * Only local-filesystem paths are cached (the fingerprint walks
  * java.nio paths); any other scheme reads uncached.
  */
object Tables {
  def table(spark: SparkSession, sfDir: String, name: String): DataFrame =
    parquet(spark, s"$sfDir/$name.parquet")

  /** Session confs that change the schema Spark infers from a parquet
    * footer — part of every [[SchemaKey]]. */
  private[graft] val schemaConfs = Seq(
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema")

  private[graft] final case class SchemaKey(path: String,
      fingerprint: String, confs: Seq[String])

  // a handful of tables and staged artifacts per corpus; the cap only
  // bounds a long-lived JVM that reads many short-lived paths
  private val MaxSchemas = 1024
  private val schemas = new ConcurrentHashMap[SchemaKey, StructType]()

  /** The cache key of a parquet read, or None for a path the cache
    * does not cover (not on the local filesystem, or missing — the
    * uncached read then raises Spark's own error). */
  private[graft] def schemaKey(spark: SparkSession,
      path: String): Option[SchemaKey] = {
    val hp = new org.apache.hadoop.fs.Path(path)
    val qualified = hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .makeQualified(hp)
    val local = Option(qualified.toUri).filter(_.getScheme == "file")
      .map(Paths.get(_)).filter(Files.exists(_))
    local.map(p => SchemaKey(qualified.toString,
      graft.ops.Staging.fingerprint(p),
      schemaConfs.map(k => s"$k=${spark.conf.getOption(k).orNull}")))
  }

  /** `spark.read.parquet(path)` with the inferred schema cached (see
    * the object scaladoc): only the first read of a file under a given
    * conf runs the footer-inference job. The inference runs OUTSIDE the
    * map (get, infer, putIfAbsent) so no map lock is held for the
    * length of a Spark job; two racing first reads both infer and store
    * the same schema. */
  def parquet(spark: SparkSession, path: String): DataFrame =
    schemaKey(spark, path) match {
      case None => spark.read.parquet(path)
      case Some(key) =>
        val cached = schemas.get(key)
        if (cached != null) spark.read.schema(cached).parquet(path)
        else {
          val df = spark.read.parquet(path)
          if (schemas.size >= MaxSchemas) schemas.clear()
          schemas.putIfAbsent(key, df.schema)
          df
        }
    }

  /** Restore scan parallelism for compute-heavy pipelines.
    *
    * The testdata parquet files are written as ONE row group, and a row
    * group is Spark's minimum split unit — so every scan here is a
    * single task and everything computed before the first exchange runs
    * on one core of local[32]. This is the classic "one big
    * unsplittable file" ingest problem at any scale. The cure is one
    * explicit round-robin shuffle of the (small) raw columns BEFORE the
    * expensive per-row work; downstream projections then run with full
    * parallelism. Keep heavy expressions in projections ABOVE this call
    * — Catalyst pushes deterministic FILTERS below a repartition, but
    * leaves projections in place.
    *
    * The shuffle is CONDITIONAL on the scan actually being starved:
    * when the source already yields >= defaultParallelism splits (the
    * normal case at 100 TB — thousands of row groups), the input is
    * returned untouched, so production plans carry no gratuitous
    * full-shuffle of raw text. The split count comes from the physical
    * plan's partitioning (`df.rdd.getNumPartitions`): driver-side file
    * listing only — backed by the session's cached FileIndex — no job
    * is triggered.
    */
  def parallelize(df: DataFrame): DataFrame = {
    // the split-count probe (df.rdd.getNumPartitions) is only job-free
    // for exchange-free plans; behind a shuffle, AQE would MATERIALIZE
    // upstream stages to plan the probe — running the expensive part
    // twice. A post-shuffle frame already has parallelism, so for any
    // plan with an exchange-introducing node just pass through.
    import org.apache.spark.sql.catalyst.plans.logical._
    val hasExchange = df.queryExecution.analyzed.collectFirst {
      case _: Aggregate | _: Join | _: Window | _: Sort |
           _: RepartitionOperation | _: Distinct | _: Deduplicate => ()
    }.isDefined
    if (hasExchange) return df
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions >= target) df
    else df.repartition(target)
  }

  /** Pushdown fence for filters whose predicate is EXPENSIVE (JSON
    * parse, tokenization): OR-in an always-false nondeterministic term
    * so the filter evaluates where it stands — Catalyst refuses to push
    * nondeterministic conditions — instead of being pushed below a
    * [[parallelize]] repartition into the single-file scan task.
    * Semantically a no-op: [[graft.functions.PushdownBarrier]] is a
    * structurally-nondeterministic constant `false` (codegens to a bare
    * literal), so no future constant-folding of `rand()` comparisons
    * can collapse the fence (the previous `rand() < -1` spelling's
    * risk). TableFenceSpec pins the not-pushed-below-repartition
    * behavior.
    */
  def fence(cond: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    cond || org.apache.spark.sql.graftbridge.GraftDatasetBridge.column(
      graft.functions.PushdownBarrier())

  def region(s: SparkSession, d: String): DataFrame = table(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame = table(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = table(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = table(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame = table(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame = table(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = table(s, d, "lineitem")
  /** The events table's `ts` column has shipped in two physical forms
    * across testdata generations: parquet TIMESTAMP(NANOS) — which
    * Spark reads as a raw int64 of nanos under
    * `spark.sql.legacy.parquet.nanosAsLong=true` — and plain
    * TIMESTAMP(MICROS), which reads as a native timestamp type. Adapt
    * to whichever the file carries instead of assuming one: for the
    * nanos-as-long form rebuild a micros timestamp with INTEGER
    * division (`div`; a double detour would lose sub-millisecond
    * digits at 2024-epoch magnitudes ~1.7e18 ns), matching DuckDB's
    * ns→us truncation bit-for-bit. For a native timestamp (with or
    * without timezone) normalize to session-TZ TIMESTAMP so downstream
    * window/date functions behave uniformly. The branch is decided
    * from the DataFrame schema (embedded parquet footer — no data
    * scan), so this costs nothing at 100 TB.
    */
  def events(s: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    val raw =
      try table(s, d, "events")
      catch {
        case e: Throwable
            if String.valueOf(e.getMessage).contains("ILLEGAL_PARQUET_TYPE") =>
          throw new IllegalStateException(
            "events.parquet carries TIMESTAMP(NANOS), which Spark's " +
              "vectorized reader rejects — set " +
              "spark.sql.legacy.parquet.nanosAsLong=true AT SESSION BUILD " +
              "(Bench/Verify/RunOne/SparkSpec all do)", e)
      }
    eventsNormalize(raw)
  }

  /** The ts-normalization half of [[events]], usable on ANY frame with
    * the events schema — in particular a `readStream` source over the
    * same parquet (q194), which cannot go through the batch loader.
    * Schema-only decision: no data scan, streaming-safe.
    */
  def eventsNormalize(raw: DataFrame): DataFrame = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    raw.schema("ts").dataType match {
      // a LongType ts can only be the nanosAsLong escape hatch reading
      // TIMESTAMP(NANOS): a plain-int64 ts would ALSO surface as
      // LongType and be misread here as nanos (1000x too small). If a
      // future generation ships unannotated int64, the TESTDATA.md
      // dtype table must be updated and this branch re-keyed on the
      // parquet logical type, not the Spark surface type.
      case LongType =>
        raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampType => raw
      case TimestampNTZType =>
        raw.withColumn("ts", col("ts").cast(TimestampType))
      case other =>
        throw new IllegalStateException(
          s"events.ts: unsupported physical type $other")
    }
  }
  def documents(s: SparkSession, d: String): DataFrame = table(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = table(s, d, "embeddings")
}
