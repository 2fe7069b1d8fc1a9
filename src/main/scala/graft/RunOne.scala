package graft

/** Profiling harness: run ONE named query (default sf0.1) with the same
  * session config as Bench, fully materialized through noop, and print
  * per-run seconds. Usage:
  *   sbt "runMain graft.RunOne q40_percentiles [nRuns]"
  * Iterating on a single query's plan through this avoids the full
  * 80-query Bench cycle (and its JIT cross-pollution — PERF_NOTES §7).
  */
object RunOne {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val runs = if (args.length > 1) args(1).toInt else 3
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.create()
    val fn = SparkEntry.queries(name)
    (1 to runs).foreach { i =>
      val t0 = System.nanoTime()
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      println(f"[runone] $name run $i: ${(System.nanoTime() - t0) / 1e9}%.3f s")
    }
    if (sys.env.contains("GRAFT_EXPLAIN")) {
      val df = fn(spark, sfDir)
      df.write.format("noop").mode("overwrite").save() // finalize AQE
      println(df.queryExecution.executedPlan.toString)
    }
    if (sys.env.contains("GRAFT_EXPLAIN_LOGICAL")) {
      // the OPTIMIZED LOGICAL plan — what injected Rule[LogicalPlan]s
      // see (diagnosing why a rewrite did or did not fire)
      println(fn(spark, sfDir).queryExecution.optimizedPlan.treeString)
    }
    spark.stop()
  }
}
