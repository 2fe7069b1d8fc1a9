package graft
import java.nio.file.{Files, Paths}
import org.apache.spark.sql.execution.ExplainMode

/** Plan-evidence dump (optimization-round deliverable): writes
  * `.explain("formatted")` output for named queries to
  * `<outDir>/<query>_<suffix>.txt`, using the same session config as
  * Bench so the dumped plan is the plan the bench actually runs
  * (extensions, shuffle partitions, AQE settings all match). Usage:
  *   sbt "runMain graft.ExplainDump <outDir> <suffix> q1_agg q2_... "
  *   sbt "runMain graft.ExplainDump plans/r11 after all"   (all queries)
  * The dump is the PRE-execution plan (AdaptiveSparkPlan initial) —
  * deterministic, judge-checkable without running the data.
  */
object ExplainDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val suffix = args(1)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.create()
    spark.sparkContext.setLogLevel("ERROR")
    Files.createDirectories(Paths.get(outDir))
    val names =
      if (args.drop(2).sameElements(Array("all"))) SparkEntry.queries.keys.toSeq.sorted
      else args.drop(2).toSeq
    var failures = 0
    names.foreach { name =>
      val out = Paths.get(outDir, s"${name}_$suffix.txt")
      try {
        val df = SparkEntry.queries(name)(spark, sfDir)
        val txt = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
        Files.write(out, txt.getBytes("UTF-8"))
        println(s"[explain] wrote $out")
      } catch {
        case e: Throwable =>
          failures += 1
          println(s"[explain] $name failed: ${e.getMessage}")
      }
    }
    spark.stop()
    // a silently-partial evidence dump must not read as success in
    // automation (r11 advice): any failed query fails the run
    if (failures > 0) {
      System.err.println(s"[explain] $failures dump(s) failed")
      sys.exit(1)
    }
  }
}
