package graft

import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}

/** Companion probe to [[ScaleAudit]]: for every manifest query whose
  * plan contains a Window, execute it and read the ACTUAL record count
  * entering each shuffle exchange, keyed by the exchange's output
  * partitioning. Run at two SFs and diff per site:
  *
  *  - a SinglePartition exchange (unpartitioned window — all rows in
  *    ONE task) whose records stay ~constant or saturate at a
  *    value-domain/calendar cap is bounded by construction; one whose
  *    records scale ~10x per 10x data is a single-task scale defect
  *    (fix: the StatOps.shardedCumsum shard-offset pattern);
  *  - a HashPartitioning exchange over a LOW-CARDINALITY key (e.g.
  *    event_type ~5, lang ~10) with data-proportional records is the
  *    same trap one step removed — per-key partitions grow with the
  *    corpus and land in single tasks regardless of cluster size.
  *
  * Usage: `runMain graft.WindowVolumeProbe <sfDir> <out.json> [query...]`
  * (trailing query names restrict the probe to those queries)
  */
object WindowVolumeProbe extends AdaptiveSparkPlanHelper {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val out = if (args.length > 1) args(1) else "target/window_volume.json"
    val only = args.drop(2).toSet
    val spark = GraftSession.create()
    try graft.ops.GraphOps.simhashDocEdges(spark, sfDir).count()
    catch { case _: Throwable => () }

    def esc(s: String): String =
      s.replace("\\", "\\\\").replace("\"", "\\\"")

    val rows = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.isEmpty || only(n) }
      .flatMap { case (name, fn) =>
      val probe = try {
        val pre = fn(spark, sfDir).queryExecution.executedPlan
        val hasWin = collectWithSubqueries(pre) {
          case w: WindowExec => 1
          case w: WindowGroupLimitExec => 1
        }.nonEmpty
        if (!hasWin) None
        else {
          // execute THIS DataFrame's own plan so its node metrics
          // populate (a noop write would execute a sibling plan)
          val qe = fn(spark, sfDir).queryExecution
          qe.toRdd.count()
          val exch = collectWithSubqueries(qe.executedPlan) {
            case e: ShuffleExchangeExec => e
          }
          val sites = exch.map { e =>
            val part = e.outputPartitioning match {
              case SinglePartition => "SINGLE"
              case p => p.toString.replaceAll("#\\d+L?", "")
                .take(80)
            }
            val recs = e.metrics.get("shuffleRecordsWritten")
              .map(_.value).getOrElse(-1L)
            (part, recs)
          }
          Some(sites)
        }
      } catch { case _: Throwable => Some(Seq(("ERROR", -2L))) }
      probe.map { sites =>
        val singles = sites.filter(_._1 == "SINGLE")
        println(s"[winvol] $name exchanges=${sites.size} " +
          s"singleRecords=${singles.map(_._2).mkString(",")}")
        val arr = sites.map { case (p, r) =>
          s"""{"part":"${esc(p)}","records":$r}""" }.mkString("[", ",", "]")
        s""""$name":$arr"""
      }
    }
    val json = rows.mkString(s"""{"sf":"$sfDir","queries":{""", ",", "}}\n")
    java.nio.file.Files.write(java.nio.file.Paths.get(out),
      json.getBytes("UTF-8"))
    println(s"[winvol] wrote $out")
    spark.stop()
  }
}
