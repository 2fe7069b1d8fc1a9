package graft

import org.apache.spark.sql.functions._

/** Measurement fixture generator (judge verdict r9 "Next round" #4):
  * an sf1-equivalent dataset — 10× the sf0.1 row count — for ONE more
  * decade of empirical scaling evidence on the heaviest non-degenerate
  * queries (q412 adaboost, q400 LOF, q151 FPGrowth, q193 weighted
  * median, q314 Naive Bayes). Staged under target/fixtures, never
  * touching the driver-owned /root/testdata (oracle hashes depend on
  * it); this exists only so PERF_NOTES can extend the R9.2 slope table
  * from sf0.001→sf0.1 to sf0.1→sf1.
  *
  * Only the tables those five queries scan are scaled — lineitem
  * (q412/q151/q193), embeddings (q400), documents (q314) — by
  * unioning 10 key-shifted copies: keys shift by a copy-indexed span
  * (10× distinct orders/docs/vectors, preserving per-key cardinality
  * so group sizes stay realistic rather than 10×-deep), and each
  * embedding copy is nudged by copy_index * 1e-3 per dimension so
  * kNN/LOF never sees exact duplicate points (k-distance 0 would make
  * the copies DEGENERATE, the opposite of the fixture's purpose).
  * Everything else rides along from sf0.1 as symlinks.
  *
  * Usage: sbt "runMain graft.Sf1Fixture [outDir [srcDir [copies [tables]]]]"
  * (default target/fixtures/sf1 from /root/testdata/sf0.1, 10 copies,
  * all scaled tables). `tables` is a comma list restricting which
  * tables are SCALED (the rest symlink from srcDir) — composing runs
  * stacks decades: src=target/fixtures/sf1 tables=events,orders gives
  * an sf10-equivalent of just the stream/order tables for the
  * sharded-window crossover measurement (PERF_NOTES R11.3) without
  * 1 GB of unused lineitem copies.
  */
object Sf1Fixture {
  def main(args: Array[String]): Unit = {
    val out = if (args.nonEmpty) args(0) else "target/fixtures/sf1"
    val src = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val copies = if (args.length > 2) args(2).toInt else 10
    val only: Set[String] =
      if (args.length > 3) args(3).split(",").toSet
      else Set("lineitem", "documents", "embeddings", "events", "orders")
    val spark = GraftSession.create(cpus = 16)
    import java.nio.file.{Files, Paths}
    val outPath = Paths.get(out)
    graft.ops.Staging.deleteRecursively(outPath)
    Files.createDirectories(outPath)

    def scaled(table: String, keyCols: Seq[String],
        perturb: Boolean = false,
        jitter: Map[String, Double] = Map.empty) = {
      val base = spark.read.parquet(s"$src/$table.parquet")
      // per-key span = source max + 1: copies never collide, and runs
      // COMPOSE (src may itself be a scaled fixture whose key range
      // already spans many source decades)
      val spans: Map[String, Long] = keyCols.map { k =>
        k -> (base.agg(max(col(k).cast("long"))).head.getLong(0) + 1L)
      }.toMap
      (0 until copies).map { i =>
        val shifted0 = keyCols.foldLeft(base) { case (df, k) =>
          df.withColumn(k, col(k) + lit(i * spans(k)))
        }
        // copy-indexed value jitter (round 11): identical copies leave
        // measure columns with the SAME distinct-value set, so a
        // distinct-value frame (q190's score histogram, q373's rank
        // offsets) would not grow with the decade — the opposite of
        // what the fixture measures. A sub-resolution shift (cents,
        // millis of value) multiplies distinct values by the copy
        // count without changing the distribution's shape.
        val shifted = jitter.foldLeft(shifted0) { case (df, (c, step)) =>
          df.withColumn(c, col(c) + lit(i * step))
        }
        if (perturb && i > 0)
          // dimension- and copy-indexed jitter: a CONSTANT shift would
          // leave all 10 copies of a vector directionally identical,
          // so they'd share every SRP/LSH bucket and within-bucket
          // pair counts would blow up 100x — fixture degeneracy, not
          // engine behavior. ±5%-scale sin jitter decorrelates copies'
          // directions while keeping the label-cluster structure.
          shifted.withColumn("embedding",
            transform(col("embedding"), (v, j) =>
              (v + sin((col("vec_id") % 97 + j * 7 + lit(i * 13))
                .cast("double")) * lit(0.05)).cast("float")))
        else shifted
      }.reduce(_ unionByName _)
    }

    // events + orders scaled since round 11 (the decade evidence for
    // the sharded-window rewrites reads them, PERF_NOTES R11.3): primary
    // keys shift, FK columns (user_id, o_custkey) stay — per-entity
    // cardinality grows 10x, the realistic "rate grows, horizon fixed"
    // shape for calendar-framed queries; measure columns get
    // sub-resolution jitter so distinct-value frames grow too.
    val specs: Seq[(String, () => org.apache.spark.sql.DataFrame)] = Seq(
      "lineitem" -> (() => scaled("lineitem", Seq("l_orderkey"))),
      "documents" -> (() => scaled("documents", Seq("doc_id"))),
      "embeddings" -> (() =>
        scaled("embeddings", Seq("vec_id"), perturb = true)),
      "events" -> (() => scaled("events", Seq("event_id"),
        jitter = Map("value" -> 0.001))),
      "orders" -> (() => scaled("orders", Seq("o_orderkey"),
        jitter = Map("o_totalprice" -> 0.01))))
    // a typo'd table name must fail loudly, not silently symlink the
    // UNSCALED table and hand a later decade probe a fixture that
    // never grew
    val unknownTables = only -- specs.map(_._1).toSet
    require(unknownTables.isEmpty,
      s"unknown scalable table(s): ${unknownTables.mkString(", ")} — " +
        s"scalable: ${specs.map(_._1).mkString(", ")}")
    val (build, link) = specs.map(_._1).partition(only.contains)
    build.foreach { t =>
      specs.toMap.apply(t)().write.mode("overwrite")
        .parquet(s"$out/$t.parquet")
    }
    (link ++ Seq("region", "nation", "customer", "supplier", "part"))
      .foreach { t =>
        Files.createSymbolicLink(outPath.resolve(s"$t.parquet"),
          Paths.get(src).resolve(s"$t.parquet").toAbsolutePath)
      }
    build.foreach { t =>
      val n = spark.read.parquet(s"$out/$t.parquet").count()
      println(s"[sf1-fixture] $t: $n rows")
    }
    spark.stop()
  }
}
