package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.physical.SinglePartition
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}

/** Manifest-wide RESOURCE scaling audit (round 10): per-query shuffle
  * write bytes, spill bytes, input bytes and peak task memory from the
  * task-metrics stream, plus plan-shape flags for the two classic
  * single-task scale traps — an unpartitioned Window (every row in one
  * task) and a SinglePartition shuffle exchange.
  *
  * Why bytes and not seconds: BENCH_r09 showed wall-clock on a shared
  * VM carries up to 2x ambient contamination; shuffle/spill BYTES are
  * deterministic per execution, so a two-SF diff of this audit gives
  * clean per-query scaling slopes for the whole manifest — the 100 TB
  * question ("does this query's shuffle grow superlinearly?") answered
  * empirically per query, immune to load. Time slopes exist for the 15
  * heaviest queries (PERF_NOTES R9.2/R10.5); this closes the other 400.
  *
  * Usage: `sbt "runMain graft.ScaleAudit <sfDir> <out.json>"`, then diff
  * two SFs' outputs (tools/scale_slopes.py).
  */
object ScaleAudit extends AdaptiveSparkPlanHelper {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val out = if (args.length > 1) args(1) else "target/scale_audit.json"
    val spark = GraftSession.create()

    // Task-metrics accumulator: onTaskEnd carries the authoritative
    // per-task TaskMetrics (StageInfo aggregation is listener-timing
    // dependent; task events are not).
    object acc {
      var shuffle = 0L; var diskSpill = 0L; var memSpill = 0L
      var input = 0L; var peakTaskMem = 0L; var tasks = 0L
      def reset(): Unit = synchronized {
        shuffle = 0; diskSpill = 0; memSpill = 0
        input = 0; peakTaskMem = 0; tasks = 0
      }
      def snap(): (Long, Long, Long, Long, Long, Long) = synchronized {
        (shuffle, diskSpill, memSpill, input, peakTaskMem, tasks)
      }
    }
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onTaskEnd(te: SparkListenerTaskEnd): Unit = {
        val tm = te.taskMetrics
        if (tm != null) acc.synchronized {
          acc.shuffle += tm.shuffleWriteMetrics.bytesWritten
          acc.diskSpill += tm.diskBytesSpilled
          acc.memSpill += tm.memoryBytesSpilled
          acc.input += tm.inputMetrics.bytesRead
          acc.peakTaskMem = math.max(acc.peakTaskMem, tm.peakExecutionMemory)
          acc.tasks += 1
        }
      }
    })
    // listener delivery is async; LiveListenerBus.waitUntilEmpty() is
    // private[spark] (bytecode-public) — reflection keeps the probe in
    // the graft package without a shim object under org.apache.spark
    val bus = spark.sparkContext.getClass.getMethod("listenerBus")
      .invoke(spark.sparkContext)
    val waitEmpty = bus.getClass.getMethod("waitUntilEmpty")
    def drain(): Unit = waitEmpty.invoke(bus)

    def run(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Unit =
      fn(spark, sfDir).write.format("noop").mode("overwrite").save()

    // warm-up mirrors Bench: bytes are deterministic, but the staged
    // simhash edge list must be PRE-built or the first graph query's
    // numbers would include the one-off corpus-wide build
    try run(SparkEntry.queries("q4_freq_encode")) catch { case _: Throwable => () }
    try graft.ops.GraphOps.simhashDocEdges(spark, sfDir).count()
    catch { case _: Throwable => () }

    val sorted = SparkEntry.queries.toSeq.sortBy(_._1)
    val rows = sorted.map { case (name, fn) =>
      drain(); acc.reset()
      val ok = try { run(fn); true } catch { case _: Throwable => false }
      drain()
      val (sh, ds, ms, in, pk, nt) = acc.snap()
      // plan-shape flags from a fresh (unexecuted) physical plan: the
      // Window partitioning and exchange partitioning are decided at
      // planning time, so no execution is needed (and AQE re-planning
      // never introduces or removes a Window)
      val (unpartWin, singlePartEx, nShuffles) =
        try {
          val plan = fn(spark, sfDir).queryExecution.executedPlan
          val wins = collectWithSubqueries(plan) {
            case w: WindowExec if w.partitionSpec.isEmpty => 1
            case w: WindowGroupLimitExec if w.partitionSpec.isEmpty => 1
          }.size
          val exch = collectWithSubqueries(plan) {
            case e: ShuffleExchangeExec => e
          }
          (wins, exch.count(_.outputPartitioning == SinglePartition),
            exch.size)
        } catch { case _: Throwable => (-1, -1, -1) }
      println(f"[audit] $name ok=$ok shuffleMB=${sh / 1e6}%.1f " +
        f"spillMB=${(ds + ms) / 1e6}%.1f win0=$unpartWin ex1=$singlePartEx")
      s""""$name":{"ok":${ok},"shuffle_bytes":$sh,"disk_spill":$ds,""" +
        s""""mem_spill":$ms,"input_bytes":$in,"peak_task_mem":$pk,""" +
        s""""tasks":$nt,"unpartitioned_windows":$unpartWin,""" +
        s""""single_partition_exchanges":$singlePartEx,"shuffles":$nShuffles}"""
    }
    val json = rows.mkString(s"""{"sf":"$sfDir","queries":{""", ",", "}}\n")
    java.nio.file.Files.createDirectories(
      java.nio.file.Paths.get(out).toAbsolutePath.getParent)
    java.nio.file.Files.write(java.nio.file.Paths.get(out),
      json.getBytes("UTF-8"))
    println(s"[audit] wrote $out")
    spark.stop()
  }
}
