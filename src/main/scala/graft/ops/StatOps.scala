package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed exact statistics (SURVEY.md §2.4 extension surface).
  *
  * Spark's built-in exact `percentile` aggregate accumulates a
  * value→count OpenHashMap per group: partial maps as large as the
  * group's distinct-value count are built per task, shipped, and merged
  * on as few reducers as there are groups — at 100 TB that is an OOM
  * (or a GC collapse; measured 3-23 s swings on 600 k rows locally).
  * A window-sort formulation (range-partition each group, row_number,
  * flag the straddling rows) is stable but puts every group's FULL row
  * set through one WindowExec buffer per window — for low-cardinality
  * groups over huge data the whole table is buffered on a handful of
  * tasks.
  *
  * [[exactPercentiles]] is a one-round distributed selection instead
  * (the classic histogram-select shape): equi-width bucket counts per
  * group locate which bucket holds each target rank, and only those
  * buckets' rows — a ~1/`buckets` fraction of the data — are ever
  * sorted. Every heavy pass is a codegen'd hash aggregate; no window
  * touches more than `groups × buckets` rows.
  */
object StatOps {

  /** Exact linear-interpolated percentiles (SQL percentile_cont
    * semantics, bit-identical to Spark's `percentile` and DuckDB's
    * `quantile_cont`) per group.
    *
    * NULL values (including non-castable inputs) are skipped, matching
    * both oracles. One divergence remains by construction: a group whose
    * values are ALL null is absent from the output, where the built-in
    * aggregate would emit (group, null). NaN values are not supported
    * (undefined ordering vs the built-in's).
    *
    * Algorithm (3 passes, all parallel):
    *   1. per-group n/min/max (hash agg);
    *   2. per-(group, equi-width bucket) counts (hash agg) + running
    *      cumulative count over the tiny histogram → which bucket holds
    *      each straddling rank floor(q·(n−1))+1 / ceil(q·(n−1))+1;
    *   3. sort ONLY the target buckets' rows (row_number over
    *      (group, bucket) partitions — each ≈ n/buckets rows) and join
    *      the in-bucket rank.
    * Interpolation then uses the built-in `Percentile.getPercentile`
    * arithmetic bit-for-bit. Skewed data degrades gracefully: a hot
    * bucket only grows the one bucket-local sort, never a whole-group
    * buffer. Group-cardinality regime: this shape targets FEW groups ×
    * MANY rows (the regime that kills both built-in and window forms);
    * the per-group stats frame is broadcast, so at millions of groups
    * prefer the built-in aggregate (groups are then individually small).
    *
    * @param qs (outputColumn, quantile) pairs, e.g. Seq("p50" -> 0.5)
    * @return one row per group: groupCol, then one double per q
    */
  def exactPercentiles(df: DataFrame, groupCol: String, valCol: String,
                       qs: Seq[(String, Double)], buckets: Int = 4096): DataFrame = {
    val g = col(groupCol)
    val vals = df.select(g, col(valCol).cast("double").as("__v"))
      .filter(col("__v").isNotNull)
    val stats = vals.groupBy(g)
      .agg(count(lit(1)).as("__n"), min("__v").as("__mn"), max("__v").as("__mx"))

    // target ranks: for each quantile, the two straddling 1-based ranks
    // and their interpolation weights. Bit-identity with the built-in
    // demands its EXACT arithmetic: 0-based position q*(n-1) (adding
    // 1.0 first would perturb the fraction's low bits), and both
    // weights computed directly as (higher-pos) / (pos-lower) — not
    // derived as 1-frac, which rounds differently. At an exact position
    // both targets share a rank and the weights are (1, 0).
    val targetRows = qs.flatMap { case (nm, q) =>
      val pos = lit(q) * (col("__n") - 1).cast("double")
      Seq(
        struct(lit(nm).as("nm"), (floor(pos) + 1).as("rk"),
          ((floor(pos) + lit(1.0)) - pos).as("w")),
        struct(lit(nm).as("nm"), (ceil(pos) + 1).as("rk"),
          (pos - floor(pos)).as("w")))
    }
    val targets = stats
      .select(g, col("__mn"), col("__mx"), explode(array(targetRows: _*)).as("t"))
      .select(g, col("__mn"), col("__mx"),
        col("t.nm").as("__nm"), col("t.rk").as("__rk"), col("t.w").as("__w"))

    // pass 2: equi-width histogram. Same value → same bucket, so a
    // bucket is a contiguous value range and global rank rk maps to
    // in-bucket rank rk - cum_before; row_number ties between equal
    // values stay harmless (tied rows carry equal values).
    val bucketOf = when(col("__mx") === col("__mn"), lit(1)).otherwise(
      least(floor((col("__v") - col("__mn")) / (col("__mx") - col("__mn"))
        * buckets).cast("int") + 1, lit(buckets)))
    val bucketed = vals.join(broadcast(stats.select(g, col("__mn"), col("__mx"))), Seq(groupCol))
      .withColumn("__b", bucketOf)
    val hist = bucketed.groupBy(g, col("__b")).agg(count(lit(1)).as("__c"))
      .withColumn("__cum", sum("__c").over(
        Window.partitionBy(g).orderBy(col("__b"))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    // which bucket holds each target rank (histogram is groups×buckets
    // rows — broadcast both sides of this tiny join)
    val located = broadcast(targets).join(broadcast(hist), Seq(groupCol))
      .filter(col("__rk") > col("__cum") - col("__c") && col("__rk") <= col("__cum"))
      .select(g, col("__nm"), col("__w"), col("__b"),
        (col("__rk") - (col("__cum") - col("__c"))).as("__lrk"))

    // pass 3: sort only the target buckets (≈ qs.size*2 buckets/group,
    // each ~n/buckets rows) and pick the in-bucket ranks
    val wanted = located.select(g, col("__b")).distinct()
    val ranked = bucketed.join(broadcast(wanted), Seq(groupCol, "__b"), "left_semi")
      .withColumn("__lrk", row_number().over(
        Window.partitionBy(g, col("__b")).orderBy(col("__v"))))
    val picked = ranked.join(broadcast(located), Seq(groupCol, "__b", "__lrk"))

    // (higher - pos) * lower + (pos - lower) * higher — two-term sum is
    // order-insensitive (IEEE addition is commutative), so the sum
    // aggregate reproduces Percentile.getPercentile bit-for-bit
    val outCols = qs.map { case (nm, _) =>
      sum(when(col("__nm") === nm, col("__w") * col("__v"))).as(nm)
    }
    picked.groupBy(g).agg(outCols.head, outCols.tail: _*)
  }

  /** One-pass table profile — per column: row count, non-null count,
    * exact distinct count, min/max (stringified). The DESCRIBE/SUMMARY
    * analog every engine ships, generalized to all column types.
    *
    * Single aggregation over the table: Spark plans the N exact
    * `countDistinct`s via one Expand (×N row blowup) + one shuffle —
    * the standard profiling shape. `exact = false` swaps in
    * `approx_count_distinct` (HLL): no Expand, plain single-pass agg —
    * the 100 TB default, where a ×N blowup of the scan is real money
    * and ±2 % on distinct counts is free.
    *
    * The wide 1-row aggregate is unpivoted to (column_name, stats) rows
    * in-plan via `stack` — no driver round trip.
    */
  /** Two-sample Kolmogorov–Smirnov statistic per group: the numeric
    * counterpart of categorical drift (q112) — max ECDF gap between two
    * cohorts of a value column. The feature-drift / A-B-shift test for
    * continuous features.
    *
    * Scale shape: raw rows collapse to per-(group, distinct value)
    * cohort counts FIRST (map-side combine), so the window cumulative
    * sums run over distinct values only, never raw rows. One shuffle.
    *
    * @param cohort expression evaluating to 0 (cohort A) / 1 (cohort B)
    * @return (groupCol, n_a, n_b, ks) — ks rounded to 4 dp
    */
  def ksStatistic(df: DataFrame, groupCol: String, valCol: String,
                  cohort: org.apache.spark.sql.Column): DataFrame = {
    val g = col(groupCol)
    val byVal = df
      .select(g, col(valCol).cast("double").as("__x"), cohort.as("__c"))
      .filter(col("__x").isNotNull)
      .groupBy(g, col("__x"))
      .agg(sum(when(col("__c") === 0, 1L).otherwise(0L)).as("__na"),
        sum(when(col("__c") === 1, 1L).otherwise(0L)).as("__nb"))
    // per-group CDFs over distinct VALUES — the group key is low-
    // cardinality (priorities ~5), so a plain partitionBy(g) window
    // holds each group's whole distinct-value frame (corpus-
    // proportional for continuous values) in ONE task; shardedCumsumBy
    // distributes it, and the per-group totals become a broadcast join
    // instead of a whole-partition window (round-10 audit)
    val cums = shardedCumsumBy(byVal, groupCol, "__x",
      Seq("__na" -> "__ca", "__nb" -> "__cb"))
    val tots = byVal.groupBy(g)
      .agg(sum(col("__na")).as("__ta"), sum(col("__nb")).as("__tb"))
    cums.join(broadcast(tots), Seq(groupCol))
      .groupBy(g)
      .agg(first(col("__ta")).as("n_a"), first(col("__tb")).as("n_b"),
        (round(max(abs(
          col("__ca").cast("double") / col("__ta") -
            col("__cb").cast("double") / col("__tb"))), 4) + lit(0.0)).as("ks"))
  }

  /** Distributed equi-width histogram per group: bucket bounds derive
    * from the group's own min/max (computed in-plan and broadcast —
    * no driver round trip), counts in one map-side-combined
    * aggregation. Empty buckets are absent from the output (at scale
    * the dense grid is groups × buckets rows — generate-and-left-join
    * it downstream if needed).
    *
    * bucket = floor((x − mn) · nb / (mx − mn)) clamped to nb−1, so the
    * max value closes the last bucket. A single-valued group (mx = mn)
    * puts everything in bucket 0. The arithmetic is plain IEEE double
    * ops in a fixed order — any engine (and the DuckDB oracle)
    * reproduces the exact bucket ids.
    *
    * Returns (groupCol, bucket, lo, hi, n) with lo/hi the bucket's
    * value range rounded to 4 dp for display.
    */
  def histogram(df: DataFrame, groupCol: String, valCol: String,
                buckets: Int): DataFrame = {
    require(buckets > 0)
    val g = col(groupCol)
    val vals = df.select(g, col(valCol).cast("double").as("__v"))
      .filter(col("__v").isNotNull)
    val stats = vals.groupBy(g).agg(min("__v").as("__mn"), max("__v").as("__mx"))
    val b = when(col("__mx") === col("__mn"), lit(0L))
      .otherwise(least(
        floor((col("__v") - col("__mn")) * buckets / (col("__mx") - col("__mn")))
          .cast("long"),
        lit(buckets - 1L)))
    vals.join(broadcast(stats), groupCol)
      .withColumn("bucket", b)
      .groupBy(g, col("bucket"), col("__mn"), col("__mx"))
      .agg(count(lit(1)).as("n"))
      .select(g, col("bucket"),
        round(col("__mn") + col("bucket") * (col("__mx") - col("__mn")) / buckets,
          4).as("lo"),
        round(col("__mn") + (col("bucket") + 1) * (col("__mx") - col("__mn")) / buckets,
          4).as("hi"),
        col("n"))
  }

  def profile(df: DataFrame, cols: Seq[String],
              exact: Boolean = true): DataFrame = {
    val aggs = cols.flatMap { c =>
      Seq(count(col(c)).as(s"__nn_$c"),
        (if (exact) countDistinct(col(c))
         else approx_count_distinct(col(c))).as(s"__nd_$c"),
        min(col(c)).cast("string").as(s"__mn_$c"),
        max(col(c)).cast("string").as(s"__mx_$c"))
    } :+ count(lit(1)).as("__n")
    val stackArgs = cols.map(c =>
      s"'$c', __n, `__nn_$c`, `__nd_$c`, `__mn_$c`, `__mx_$c`").mkString(", ")
    df.agg(aggs.head, aggs.tail: _*)
      .selectExpr(s"stack(${cols.size}, $stackArgs) AS " +
        "(column_name, n_rows, n_nonnull, n_distinct, min_s, max_s)")
  }

  /** Equi-depth (quantile) discretization: per group, cut the value range
    * at the q-quantile fences from [[exactPercentiles]] and report each
    * bin's population and value span. The feature-binning step of any
    * large-scale feature pipeline (QuantileDiscretizer's semantics, but
    * exact and engine-portable instead of sketch-approximate).
    *
    * Fences are bit-identical to `quantile_cont` on any engine, so bin
    * assignment (`v <= fence_i` first-match) is deterministic — no row
    * can flip bins on a ulp. Two passes over the data (fence selection +
    * binning); the fence frame broadcasts.
    *
    * @param qs interior fence quantiles, ascending (e.g. 0.25, 0.5, 0.75
    *           → 4 bins numbered 1..4)
    */
  def equiDepthBins(df: DataFrame, groupCol: String, valCol: String,
                    qs: Seq[Double]): DataFrame = {
    val g = col(groupCol)
    val fences = exactPercentiles(df, groupCol, valCol,
      qs.zipWithIndex.map { case (q, i) => s"__f$i" -> q })
    val vals = df.select(g, col(valCol).cast("double").as("__v"))
      .filter(col("__v").isNotNull)
    val bin = qs.indices.foldRight(lit(qs.size + 1): Column) { (i, els) =>
      when(col("__v") <= col(s"__f$i"), lit(i + 1)).otherwise(els)
    }
    vals.join(broadcast(fences), Seq(groupCol))
      .withColumn("bin", bin)
      .groupBy(g, col("bin"))
      .agg(count(lit(1)).as("n"), round(min(col("__v")), 4).as("lo"),
        round(max(col("__v")), 4).as("hi"))
  }

  /** Population Stability Index between a reference cohort and every
    * other cohort — the standard ML-monitoring drift score for NUMERIC
    * features (q112's KL covers categorical ones). Bins are the
    * reference cohort's own equi-depth quantile fences (so ref shares
    * are ~uniform by construction and the score is scale-free);
    * PSI = Σ_bins (cur_i − ref_i)·ln(cur_i/ref_i), with +0.5 Laplace
    * smoothing on counts so an empty bin contributes a finite term.
    *
    * Scale shape: one [[exactPercentiles]] selection pass over the
    * reference cohort (no sort), then ONE binning aggregation over all
    * rows against the broadcast fences. The bin grid is densified
    * in-plan (cohorts × nBins via `sequence` explode), so missing bins
    * appear with count 0 — no driver round trip, no fragile outer join
    * on observed bins. Returns one row per (cohort, bin):
    * (cohort, bin, ref_share, cur_share, psi_term) plus the per-cohort
    * total in `psi` (repeated per row), unrounded.
    */
  def psi(df: DataFrame, cohortCol: String, refCohort: String,
          valCol: String, nBins: Int): DataFrame = {
    require(nBins >= 2)
    val qs = (1 until nBins).map(i => s"__f${i - 1}" -> i.toDouble / nBins)
    val fences = exactPercentiles(
      df.filter(col(cohortCol) === refCohort).withColumn("__g", lit(1)),
      "__g", valCol, qs).drop("__g")
    val vals = df.select(col(cohortCol).as("cohort"),
        col(valCol).cast("double").as("__v"))
      .filter(col("__v").isNotNull)
    val bin = (0 until nBins - 1).foldRight(lit(nBins): Column) { (i, els) =>
      when(col("__v") <= col(s"__f$i"), lit(i + 1)).otherwise(els)
    }
    // counts is |cohorts|×|bins| rows but sits on the corpus binning
    // pass, and BOTH its consumers (the densify grid and the smoothing
    // join) re-evaluate it — which re-runs the fence-selection DAG too.
    // Checkpoint the tiny frame once (q119 pattern, guide §2.4).
    val counts = vals.crossJoin(broadcast(fences))
      .withColumn("bin", bin)
      .groupBy(col("cohort"), col("bin"))
      .agg(count(lit(1)).as("__c"))
      .localCheckpoint()
    // densify: every cohort × bin 1..nBins, zero-filled — smoothing
    // needs the ABSENT bins' terms too
    val grid = counts.groupBy(col("cohort"))
      .agg(sum(col("__c")).as("__tot"))
      .select(col("cohort"), col("__tot"),
        explode(sequence(lit(1), lit(nBins))).as("bin"))
    val share = (coalesce(col("__c"), lit(0L)) + 0.5) /
      (col("__tot") + 0.5 * nBins)
    val smoothed = grid.join(counts, Seq("cohort", "bin"), "left")
      .select(col("cohort"), col("bin"), share.as("__share"))
    val ref = smoothed.filter(col("cohort") === refCohort)
      .select(col("bin"), col("__share").as("ref_share"))
    smoothed.filter(col("cohort") =!= refCohort)
      .join(broadcast(ref), Seq("bin"))
      .withColumn("cur_share", col("__share"))
      .withColumn("psi_term",
        (col("cur_share") - col("ref_share")) *
          log(col("cur_share") / col("ref_share")))
      .withColumn("psi",
        sum(col("psi_term")).over(Window.partitionBy(col("cohort"))))
      .select(col("cohort"), col("bin"), col("ref_share"),
        col("cur_share"), col("psi_term"), col("psi"))
  }

  /** Exact empirical CDF over the DISTINCT values of a column: each
    * distinct value with its count and P(X <= v). The percentile-rank /
    * ECDF-normalization primitive.
    *
    * Scale shape: `cume_dist() OVER (ORDER BY v)` is a single-partition
    * sort of every ROW — dead at 100 TB. Collapsing to distinct values
    * first (a map-side-combining count agg) leaves the running sum a
    * window over |distinct| rows, which for real measure columns is
    * orders of magnitude smaller than the data; rows then look up their
    * value's ECDF by (broadcast) join when normalizing.
    */
  /** Lower weighted median per group: collapse to one row per
    * (group, value) with its weight sum, cumulative-weight window over
    * the sorted value frame, then the smallest value whose cumulative
    * weight reaches half the group total. Pre-aggregating by value makes
    * the result tie-order-independent (the cumulative weight at a value
    * includes its whole tie block) and shrinks the window input to
    * |distinct values| rows per group — the raw pass is one
    * map-side-combined shuffle, the scale shape of q40's exact
    * percentiles with per-row mass replaced by arbitrary weights.
    *
    * Weight domain: count/quantity-like magnitudes. The DECIMAL(30,8)
    * accumulator that makes the cumulative exact also pins the edges —
    * a weight below 5e-9 truncates to 0 (a group of all-tiny weights
    * degrades to min(value) with total_weight 0), and a group whose
    * weight SUM exceeds 10^22 overflows the decimal to NULL under
    * non-ANSI mode, which silently drops that group from the output
    * (the >= NULL/2 filter keeps nothing). Rescale such weights before
    * calling.
    */
  def weightedMedian(df: DataFrame, groupCol: String, valCol: String,
      weightCol: String): DataFrame = {
    // weights accumulate as DECIMAL(30,8): decimal addition is exact
    // and associative, so the shardedCumsumBy re-association can never
    // drift the cumulative (a double path could flip the >= total/2
    // median pick at an exact-half boundary for fractional weights —
    // round-10 ADVICE). Integral weights (q193's quantities) are
    // unchanged; fractional weights are pinned at 8 dp, which is the
    // op's documented weight resolution (WeightedMedianSpec exercises
    // an exact-half fractional boundary).
    val perV = df
      .groupBy(col(groupCol), col(valCol).cast("double").as("__value"))
      .agg(sum(col(weightCol).cast("decimal(30,8)")).as("__w"))
    // the group key is low-cardinality (return flags ~3), so a plain
    // partitionBy(g) cumulative window holds each group's whole
    // distinct-value frame in ONE task — distributed via
    // shardedCumsumBy (round-10 audit)
    val cums = shardedCumsumBy(perV, groupCol, "__value",
      Seq("__w" -> "__cw"))
    val tots = perV.groupBy(col(groupCol))
      .agg(sum(col("__w")).as("__tw"))
    cums.join(broadcast(tots), Seq(groupCol))
      .filter(col("__cw") >= col("__tw") / 2)
      .groupBy(col(groupCol))
      .agg(min(col("__value")).as("weighted_median"),
        (round(max(col("__tw")).cast("double"), 2) + lit(0.0))
          .as("total_weight"))
  }

  /** Shard-level data-skipping statistics — the min/max/null-count
    * manifest a lake writer (Delta/Iceberg-style) collects per file so
    * readers can prune shards from the predicate alone. One map-side-
    * combined aggregation over the shard key; output is |shards| rows
    * regardless of input size. A point/range predicate on any tracked
    * column can then be answered from this bounded frame as "which
    * shards might contain it" — O(shards) planning instead of O(rows)
    * scanning, which is the difference between touching 1 file and
    * 100 TB.
    */
  def shardStats(df: DataFrame, shard: Column, statCols: Seq[String])
      : DataFrame = {
    val aggs = statCols.flatMap { c =>
      Seq(min(col(c)).as(s"${c}_min"), max(col(c)).as(s"${c}_max"),
        count(when(col(c).isNull, 1)).as(s"${c}_nulls"))
    }
    df.groupBy(shard.as("shard"))
      .agg(count(lit(1)).as("n_rows"), aggs: _*)
  }

  /** Merge algebraic per-fine-bucket aggregate state into a coarser
    * rollup WITHOUT re-reading raw data: sums add, counts add, mins
    * min, maxes max; averages re-derive as merged-sum/merged-count.
    * This is the incremental-maintenance identity every pre-aggregated
    * reporting table at 100 TB relies on — the daily frame is the only
    * thing ever recomputed, the monthly/era rollup is a merge of
    * |days| rows. Input must carry columns `cnt`, `sum_v`, `min_v`,
    * `max_v` (the canonical state produced by [[dailyState]]).
    */
  def rollupMerge(state: DataFrame, mergeKeys: Seq[String]): DataFrame =
    state.groupBy(mergeKeys.map(col): _*)
      .agg(sum(col("cnt")).as("cnt"),
        sum(col("sum_v")).as("sum_v"),
        min(col("min_v")).as("min_v"),
        max(col("max_v")).as("max_v"))

  /** Shared scaffold of the three sharded window-replacement ops:
    * range-shard `df` on `orderCol` by approx-percentile fences
    * (computed globally, or per `groupCol` with a NULL-SAFE fence join
    * so a null group key keeps its rows, exactly as a partitionBy
    * window treats NULL as an ordinary partition). The fences only
    * balance the shards, so approximation is free — any split
    * preserves range order. Rows tied on a fence value always land in
    * one shard (equal values compare identically); rows whose order
    * key is NULL take shard 0, matching the window forms' default
    * ASC NULLS FIRST placement. One fix here fixes all three ops.
    */
  private def rangeSharded(df: DataFrame, groupCol: Option[String],
      orderCol: String, nShards: Int): DataFrame = {
    require(nShards >= 2, s"nShards must be >= 2, got $nShards")
    val qs = (1 until nShards).map(_.toDouble / nShards)
    val fence = percentile_approx(col(orderCol).cast("double"),
      typedlit(qs), lit(10000)).as("__fs")
    val ranged = (1 until nShards).reverse
      .foldLeft(lit(nShards)) { case (acc, i) =>
        when(col(orderCol).cast("double") <= element_at(col("__fs"), i), i)
          .otherwise(acc)
      }
    val shardExpr = when(col(orderCol).isNull, 0).otherwise(ranged)
    val joined = groupCol match {
      case None => df.crossJoin(broadcast(df.agg(fence)))
      case Some(g) =>
        val fences = df.groupBy(col(g)).agg(fence)
          .withColumnRenamed(g, "__fence_g")
        df.join(broadcast(fences), col(g) <=> col("__fence_g"))
          .drop("__fence_g")
    }
    joined.withColumn("__shard", shardExpr).drop("__fs")
  }

  private def cumsumOverShards(sharded: DataFrame,
      groupCols: Seq[String], orderCol: String,
      sums: Seq[(String, String)],
      tieCol: Option[String] = None): DataFrame = {
    val byShard = Window.partitionBy(groupCols.map(col): _*)
      .orderBy(col("__shard"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val totals = sums.map { case (in, out) =>
      sum(col(in)).as(s"__tot_$out") }
    val offsets = sharded
      .groupBy((groupCols :+ "__shard").map(col): _*)
      .agg(totals.head, totals.tail: _*)
      .select(groupCols.map(col) ++ (col("__shard") +:
        sums.map { case (_, out) =>
          coalesce(sum(col(s"__tot_$out")).over(byShard), lit(0L))
            .as(s"__off_$out") }): _*)
    val local = Window
      .partitionBy((groupCols :+ "__shard").map(col): _*)
      .orderBy((orderCol +: tieCol.toSeq).map(col): _*)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    // NULL-SAFE offsets attach: a USING join would silently drop the
    // NULL group's rows, which the window forms keep as an ordinary
    // partition (StatOpsSpec pins this)
    sums.foldLeft(joinOffsets(sharded, offsets, groupCols)) {
      case (acc, (in, out)) =>
        acc.withColumn(out, sum(col(in)).over(local) + col(s"__off_$out"))
    }.drop("__shard" +: sums.map { case (_, out) => s"__off_$out" }: _*)
  }

  /** Attach a broadcast per-(group, shard) offsets frame with NULL-SAFE
    * group equality (shared by the sharded cumsum/rank family). */
  private def joinOffsets(sharded: DataFrame, offsets: DataFrame,
      groupCols: Seq[String]): DataFrame = {
    val renamed = groupCols.zipWithIndex.foldLeft(
      offsets.withColumnRenamed("__shard", "__oshard")) {
      case (d, (c, i)) => d.withColumnRenamed(c, s"__og$i")
    }
    val cond = groupCols.zipWithIndex
      .map { case (c, i) => col(c) <=> col(s"__og$i") }
      .foldLeft(col("__shard") === col("__oshard"))(_ && _)
    sharded.join(broadcast(renamed), cond)
      .drop("__oshard" +: groupCols.indices.map(i => s"__og$i"): _*)
  }

  /** Distributed prefix sums over a totally-ordered frame — the q203
    * shard-offset pattern generalized (round-10 window audit: an
    * unpartitioned cumulative window puts EVERY row in one task, the
    * classic 100 TB single-task trap; WindowVolumeProbe measures which
    * manifest sites are corpus-proportional). For each `(in, out)`
    * pair this produces exactly
    * `sum(in).over(Window.orderBy(orderCol).rowsBetween(unboundedPreceding, currentRow))`
    * but distributed three ways:
    *
    *  1. range-shard on `orderCol` by approx-percentile fences
    *     ([[rangeSharded]]); one corpus pass;
    *  2. per-shard totals → an `nShards`-row running-offset frame
    *     (the only unpartitioned window left, bounded by nShards);
    *  3. shard-local cumulative window + broadcast offset join —
    *     O(n/nShards) rows per task.
    *
    * Bit-exactness: long/integer sums are associative, so the shard
    * decomposition reproduces the single-task cumulative exactly;
    * for double inputs the re-association can perturb low bits —
    * callers needing oracle parity should sum integral columns.
    * `orderCol` must be numeric and UNIQUE (a total order): rows tied
    * on a fence value stay in one shard, but cumulative values AT tied
    * rows are order-ambiguous in the unpartitioned form too —
    * uniqueness is what makes either form deterministic. NULL order
    * keys take shard 0 (the windows' ASC NULLS FIRST placement).
    * Passes over `df` several times — cache/checkpoint upstream if it
    * is derived from an expensive scan (the R5.2 lesson).
    */
  /** Debug-mode precondition check for the sharded window family: the
    * caller-supplied key set must TOTALLY ORDER each group, or the
    * cumulative values at duplicated keys are silently
    * nondeterministic (the scaladoc contract made executable — set
    * `spark.graft.assertShardedOrder=true` in a debug session to pay
    * one extra bounded aggregation per call; ShardedOrderSpec seeds a
    * violation). The collect is limit-1 — a scalar probe, not a
    * driver-side loop. */
  private def assertTotalOrder(df: DataFrame, groupCols: Seq[String],
      orderCols: Seq[String]): Unit = {
    val on = df.sparkSession.conf
      .getOption("spark.graft.assertShardedOrder").exists(_.toBoolean)
    if (on) {
      val keys = (groupCols ++ orderCols).map(col)
      val dup = df.groupBy(keys: _*).agg(count(lit(1)).as("__n"))
        .filter(col("__n") > 1).limit(1).collect()
      require(dup.isEmpty,
        s"sharded window op requires (${(groupCols ++ orderCols).mkString(", ")}) " +
          s"to totally order the frame; duplicate key: ${dup.headOption.orNull}")
    }
  }

  def shardedCumsum(df: DataFrame, orderCol: String,
      sums: Seq[(String, String)], nShards: Int = 8): DataFrame = {
    assertTotalOrder(df, Seq.empty, Seq(orderCol))
    cumsumOverShards(rangeSharded(df, None, orderCol, nShards),
      Seq.empty, orderCol, sums)
  }

  /** Grouped [[shardedCumsum]]: per-group inclusive prefix sums over
    * `orderCol` for each `(in, out)` pair — the fix for cumulative
    * windows `partitionBy(lowCardKey).orderBy(v)` whose PER-KEY
    * partitions are corpus-proportional (a ≤5-value key puts n/5 rows
    * in one task at any cluster size; round-10 audit, q115/q190/q193/
    * q266 family). Same machinery via [[rangeSharded]]: per-group
    * approx-percentile fences (null-safe join, so a NULL group keeps
    * its rows like any window partition), within-group range shards,
    * per-(group, shard) totals, broadcast running offsets, shard-local
    * windows. Bit-exact for integral sums; rows tied on `orderCol`
    * stay in one shard, and ties carry the same cumulative ambiguity
    * the single-task window has (callers aggregate per distinct
    * orderCol first, or accept rank-free cumulative semantics at ties —
    * or pass `tieCol`, below).
    *
    * `tieCol` (round 11): a tiebreak column completing the total order
    * when `orderCol` alone has duplicates — the shard-local window then
    * orders by `(orderCol, tieCol)`, reproducing
    * `partitionBy(group).orderBy(orderCol, tieCol)` exactly (fences
    * keep whole tie-blocks in one shard, so only the LOCAL order needs
    * the tiebreak; offsets are order-free sums). This is what lets
    * score-ordered selections (q87 token budget, q99 mixture) keep
    * their id-tiebreak determinism distributed.
    */
  def shardedCumsumBy(df: DataFrame, groupCol: String, orderCol: String,
      sums: Seq[(String, String)], nShards: Int = 8,
      tieCol: Option[String] = None): DataFrame = {
    assertTotalOrder(df, Seq(groupCol), orderCol +: tieCol.toSeq)
    cumsumOverShards(rangeSharded(df, Some(groupCol), orderCol, nShards),
      Seq(groupCol), orderCol, sums, tieCol)
  }

  /** Tie-averaged ("mid") ranks over a per-(group, value) HISTOGRAM:
    * appends `outCol` = cum − cnt + (cnt+1)/2 — the fractional rank
    * every row with that value gets under
    * `rank().over(partitionBy(group).orderBy(value)) + (ties−1)/2` —
    * with the cumulative from [[shardedCumsumBy]], so no task holds a
    * group's whole distinct-value frame. Exact: counts are longs, the
    * mid-rank an exact half-integer in doubles. `perValue` must already
    * be one row per (group, value) with the tie count in `cntCol` (the
    * caller's map-side-combined count agg). The shared decomposition
    * behind rankAuc's Mann-Whitney ranks (q190) and the Spearman
    * mid-ranks (q259).
    */
  def withMidRanks(perValue: DataFrame, groupCol: String, valueCol: String,
      cntCol: String, outCol: String): DataFrame =
    shardedCumsumBy(perValue, groupCol, valueCol, Seq(cntCol -> "__mr_cum"))
      .withColumn(outCol,
        col("__mr_cum") - col(cntCol) + (col(cntCol) + 1) / 2.0)
      .drop("__mr_cum")

  /** Grouped distributed RANKING — [[shardedCumsum]]'s sibling for
    * `row_number().over(partitionBy(group).orderBy(orderCol, tieCol))`
    * when the group column is LOW-CARDINALITY (lang ~10, event_type
    * ~5): Spark puts each group's ENTIRE partition in one task, so a
    * corpus-proportional group is the unpartitioned-window trap one
    * step removed (round-10 window audit, q250/q70/q182/q214/q231).
    * [[rangeSharded]] splits each group on `orderCol`; the within-
    * shard (orderCol, tieCol) order plus an (nShards per group)-row
    * broadcast offset table reproduces the global per-group
    * row_number exactly. `(orderCol, tieCol)` must totally order each
    * group (e.g. a unique id tiebreak) — the same requirement the
    * single-task window has for determinism. NULL group keys keep
    * their rows (null-safe fence join); NULL order keys rank first.
    * No stage sees more than ~|group|/nShards rows.
    */
  def shardedRank(df: DataFrame, groupCol: String, orderCol: String,
      tieCol: String, outCol: String, nShards: Int = 8): DataFrame = {
    assertTotalOrder(df, Seq(groupCol), Seq(orderCol, tieCol))
    val sharded = rangeSharded(df, Some(groupCol), orderCol, nShards)
    val byShard = Window.partitionBy(col(groupCol))
      .orderBy(col("__shard"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val offsets = sharded.groupBy(col(groupCol), col("__shard"))
      .agg(count(lit(1)).as("__cnt"))
      .select(col(groupCol), col("__shard"),
        coalesce(sum(col("__cnt")).over(byShard), lit(0L)).as("__off"))
    val local = Window.partitionBy(col(groupCol), col("__shard"))
      .orderBy(col(orderCol), col(tieCol))
    joinOffsets(sharded, offsets, Seq(groupCol))
      .withColumn(outCol, col("__off") + row_number().over(local))
      .drop("__shard", "__off")
  }

  /** Tie-dense sibling of [[shardedRank]] for order keys with a SMALL
    * distinct domain (token counts, term frequencies, star ratings).
    * [[rangeSharded]] fences on `orderCol` alone and keeps tie blocks
    * in one shard, so when the key has few distinct values the largest
    * block — modal-fraction × |group| rows, corpus-proportional — lands
    * in ONE task no matter how large `nShards` is (found by the
    * round-11 decade run on q250's ~90-value token-count key,
    * PERF_NOTES R11.3; a Zipf vocabulary's count-1 block is the extreme
    * case, ~half the vocabulary in one tie block).
    *
    * Decomposition: `row_number` over `(orderCol ASC, tieCol ASC)` per
    * group = the tie block's START offset + the row's number WITHIN its
    * block.
    *
    *  1. block starts come from the per-(group, orderCol) histogram —
    *     |value domain| rows per group, NOT corpus-proportional — via
    *     an exclusive prefix-sum window (bounded by the domain;
    *     whitelisted per site in PlanQualitySpec);
    *  2. within-block numbers are a [[shardedCumsumBy]] of `lit(1)`
    *     with the BLOCK (a `struct(group, orderCol)` key) as the group
    *     and `tieCol` as the order key — fences now cut on the tie
    *     column, so a giant block splits across shards;
    *  3. the domain-bounded starts frame broadcasts back onto the
    *     numbered rows (null-safe on both keys, so NULL groups and the
    *     NULLS-FIRST null-value block survive like any window
    *     partition).
    *
    * No task sees more than ~maxBlock/nShards rows and no frame
    * exceeds the value domain. `tieCol` must be NUMERIC (it becomes
    * the range-fence key) and `(orderCol, tieCol)` must totally order
    * each group — same contract as [[shardedRank]], checked under
    * `spark.graft.assertShardedOrder=true`. Prefer [[shardedRank]]
    * when `orderCol` is near-unique: it does the same work with one
    * fewer aggregation and no histogram join.
    */
  def shardedRankTied(df: DataFrame, groupCol: String, orderCol: String,
      tieCol: String, outCol: String, nShards: Int = 8): DataFrame = {
    assertTotalOrder(df, Seq(groupCol), Seq(orderCol, tieCol))
    val starts = df.groupBy(col(groupCol), col(orderCol))
      .agg(count(lit(1)).as("__bn"))
      .select(col(groupCol).as("__sg"), col(orderCol).as("__so"),
        coalesce(sum(col("__bn")).over(
          Window.partitionBy(col(groupCol)).orderBy(col(orderCol))
            .rowsBetween(Window.unboundedPreceding, -1)), lit(0L))
          .as("__bstart"))
    val numbered = shardedCumsumBy(
      df.withColumn("__blk", struct(col(groupCol), col(orderCol)))
        .withColumn("__one", lit(1L)),
      "__blk", tieCol, Seq("__one" -> "__wrn"), nShards)
    numbered
      .join(broadcast(starts),
        col(groupCol) <=> col("__sg") && col(orderCol) <=> col("__so"))
      .withColumn(outCol, col("__bstart") + col("__wrn"))
      .drop("__blk", "__one", "__wrn", "__sg", "__so", "__bstart")
  }

  /** The canonical algebraic aggregate state for [[rollupMerge]]:
    * count / sum / min / max of `valCol` per (group, bucket). */
  def dailyState(df: DataFrame, groupCols: Seq[Column], valCol: String)
      : DataFrame =
    df.groupBy(groupCols: _*)
      .agg(count(lit(1)).as("cnt"),
        sum(col(valCol)).as("sum_v"),
        min(col(valCol)).as("min_v"),
        max(col(valCol)).as("max_v"))

  /** 2-D skyline (Pareto frontier, both dimensions maximized): points
    * not dominated by any other (x' >= x ∧ y' >= y, one strict). The
    * "best tradeoff" miner (price vs quality, cost vs coverage).
    *
    * Scale shape: the classic sort-scan (order by x desc, keep rows
    * whose y exceeds the running max) needs a GLOBAL order — a single
    * sorted partition, the q203 problem. Three pruning stages keep the
    * global scan's input output-adjacent:
    *
    *  1. bucket FENCES: equi-width x-buckets, per-bucket max y
    *     (|buckets| rows); any point whose y ≤ the max-y of a strictly
    *     higher bucket is dominated (higher bucket ⇒ strictly larger
    *     x) and dropped map-side via a broadcast fence join. This
    *     cannot prune the TOP bucket (no higher fence exists) — the
    *     round-10 WindowVolumeProbe measured the top bucket growing
    *     linearly with the corpus (28,792 single-task rows at sf0.1),
    *     hence stage 2;
    *  2. per-bucket LOCAL skyline (window partitioned by bucket —
    *     distributed): the same lex (x desc, y desc) running-max sweep
    *     within each bucket. Skylines decompose over any partition of
    *     the data — a locally dominated point is globally dominated,
    *     and by transitivity every global dominator is represented by
    *     a local survivor — so dropping local non-skyline points
    *     preserves the global result exactly;
    *  3. the exact global sweep over Σ per-bucket skylines — bounded
    *     by the frontier's own size per bucket, not the corpus.
    *
    * Worst case (fully anti-correlated data) the frontier IS large
    * and no algorithm avoids enumerating its own output.
    */
  def skyline2d(df: DataFrame, xCol: String, yCol: String,
      bucketWidth: Double): DataFrame = {
    require(bucketWidth > 0, s"bucketWidth must be > 0, got $bucketWidth")
    val pts = df.select(col(xCol).cast("double").as("x"),
        col(yCol).cast("double").as("y"))
      .filter(col("x").isNotNull && col("y").isNotNull)
      .distinct()
      .withColumn("__b", floor(col("x") / bucketWidth).cast("long"))
    val wb = Window.orderBy(col("__b").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val fences = pts.groupBy(col("__b")).agg(max(col("y")).as("__by"))
      .withColumn("__hi", max(col("__by")).over(wb))
      .select(col("__b"), col("__hi"))
    val fenced = pts.join(broadcast(fences), Seq("__b"))
      .filter(col("__hi").isNull || col("y") > col("__hi"))
    val wLocal = Window.partitionBy(col("__b"))
      .orderBy(col("x").desc, col("y").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    val cand = fenced
      .withColumn("__ly", max(col("y")).over(wLocal))
      .filter(col("__ly").isNull || col("y") > col("__ly"))
    val w = Window.orderBy(col("x").desc, col("y").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    cand.withColumn("__my", max(col("y")).over(w))
      .filter(col("__my").isNull || col("y") > col("__my"))
      .select(col("x"), col("y"))
  }

  def ecdf(df: DataFrame, valCol: String): DataFrame = {
    val counts = df.select(col(valCol).cast("double").as("value"))
      .filter(col("value").isNotNull)
      .groupBy(col("value")).agg(count(lit(1)).as("n"))
    val w = Window.orderBy(col("value"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val total = counts.agg(sum(col("n")).as("__t"))
    counts
      .withColumn("__cum", sum(col("n")).over(w))
      .crossJoin(broadcast(total))
      .select(col("value"), col("n"),
        (round(col("__cum") / col("__t"), 6) + lit(0.0)).as("ecdf"))
  }
}
