package graft

/** Profiling harness: run SEVERAL named queries in one JVM with the
  * Bench session config, interleaved round-robin for `nPasses` passes
  * (pass 0 is an untimed warm-up), and print the per-query MIN — the
  * Bench protocol shape without the full 415-query cycle. Usage:
  *   sbt "runMain graft.RunMany 3 q145_dedup_pipeline q95_sketch_accuracy"
  * One JVM amortizes startup/JIT across the set; the round-robin
  * interleave means a transient host stall hits all queries equally
  * instead of biasing one (RunOne stays the fresh-JVM cross-check).
  */
object RunMany {
  def main(args: Array[String]): Unit = {
    val passes = args(0).toInt
    val names = args.drop(1).toSeq
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.create()
    val mins = scala.collection.mutable.Map[String, Double]()
    (0 to passes).foreach { pass =>
      names.foreach { name =>
        spark.sparkContext.setJobDescription(s"$name pass $pass")
        val t0 = System.nanoTime()
        SparkEntry.queries(name)(spark, sfDir)
          .write.format("noop").mode("overwrite").save()
        val sec = (System.nanoTime() - t0) / 1e9
        if (pass > 0) {
          mins(name) = math.min(mins.getOrElse(name, Double.MaxValue), sec)
          println(f"[runmany] $name pass $pass: $sec%.3f s")
        }
      }
    }
    names.foreach(n => println(f"[runmany] MIN $n: ${mins(n)}%.3f s"))
    spark.stop()
  }
}
