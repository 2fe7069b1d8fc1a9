package perfbench

import java.io.{File, PrintWriter}
import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The JVM side of perfbench: one client, one session, a closed loop.
  *
  * Runs the queries of one workload one after another, pass after pass,
  * and times each call into a layer from outside the program:
  *  - `construct`: the query function `fn(spark, dir)`, including any
  *    eager ML fits, checkpoints and streaming replays it starts;
  *  - `plan`: forcing `df.queryExecution.executedPlan` (graft.plans rules
  *    plus Catalyst);
  *  - `exec`: the sink write.
  *
  * Pass order: `check0` (untimed; writes each result as parquet for the
  * correctness check), a reading of the live heap, `--warm` untimed noop
  * passes (pass walls settle only after a few passes, while the JIT
  * compiles), timed noop passes until `--seconds` have elapsed (at least
  * three), each followed by a calibration, then `check1`, which
  * dumps every result again so that a query whose DuckDB oracle cannot be
  * used is compared across the run. With `--trace 1` the timed passes
  * alternate untraced / traced: a traced pass registers a
  * [[Tracer]], tags every job with `setJobGroup(query, phase)`, and is
  * preceded by a `tables` probe of direct `Tables` reads. The untraced
  * passes of the same run give the tracing overhead.
  *
  * Everything is kept in memory and written at the end as `profile.jsonl`
  * under `--out`: one row per span (pass, query, phase, tables read,
  * calibration, heap reading) with the counters the tracer attributed to
  * it, then one `summary` row.
  *
  * Args: --workload W --data DIR --out DIR --seconds S --warm N --trace 0|1 --cpus N
  */
object Harness {
  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val data = opt("data")
    val out = opt("out")
    val seconds = opt("seconds").toDouble
    val warm = opt("warm").toInt
    val traced = opt("trace") == "1"
    val cpus = opt("cpus").toInt
    val queries = Workloads.resolve(workload)
    val spark = session(cpus)
    val sc = spark.sparkContext
    val spans = new Spans
    val tracer = new Tracer(spans)

    /** A fixed job that runs no graft code: a pure-JVM part (hash map
      * build and probe, array sort) and a Spark part (small RDD shuffle
      * jobs, the per-job scheduling path). Its time follows the host's
      * speed, so the queries' times can be read against it. */
    def calibrate(label: String, index: Int): Unit = {
      val s = spans.open("calib", label, index, "", "")
      val keys = new java.util.HashMap[java.lang.Long, java.lang.Long]()
      val arr = new Array[Long](1 << 20)
      var x = 88172645463325252L
      var i = 0
      while (i < arr.length) {
        x ^= x << 13; x ^= x >>> 7; x ^= x << 17
        arr(i) = x
        if (i < 300000) keys.put(x >>> 44, x)
        i += 1
      }
      var hits = 0L
      i = 0
      while (i < 300000) { if (keys.containsKey(arr(i + 300000) >>> 44)) hits += 1; i += 1 }
      java.util.Arrays.sort(arr)
      val jvmS = (System.nanoTime() - s.startNs) / 1e9
      val n = (1 to 8).map { _ =>
        sc.parallelize(0 until 20000, cpus).map(k => (k % 101, k.toLong))
          .reduceByKey(_ + _, cpus).count()
      }.sum
      spans.close(s)
      s.put("jvm_s", jvmS)
      s.put("checksum", (hits ^ arr(arr.length / 2) ^ n).toDouble)
    }

    /** The heap the program retains: in use after a full GC, a pause in
      * which Spark's ContextCleaner drops the blocks of unreachable
      * broadcasts and shuffles, and a second full GC. */
    def liveHeap(index: Int): Unit = {
      System.gc()
      Thread.sleep(300)
      System.gc()
      val heap = java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage
      spans.open("heap", "check0", index, "", "").put("live_mb", heap.getUsed / 1048576.0)
    }

    val inputFiles = scala.collection.mutable.Set.empty[String] // files check0 read
    lazy val tableSet = inputFiles.toSeq
      .map(f => new File(new java.net.URI(f).getPath).getName.stripSuffix(".parquet"))
      .distinct.filter(Workloads.tables.contains).sorted

    def noop(q: String, df: DataFrame): Unit =
      df.write.format("noop").mode("overwrite").save()
    def dump(label: String)(q: String, df: DataFrame): Unit =
      df.coalesce(1).write.mode("overwrite").parquet(s"$out/results/$label/$q")

    /** One query: construct, plan, exec, each its own span. */
    def runQuery(pass: Span, name: String, fn: (SparkSession, String) => DataFrame,
                 sink: (String, DataFrame) => Unit): Boolean = {
      val qs = spans.open("query", pass.label, pass.index, name, "", pass.id)
      def phase[T](p: String)(body: => T): T = {
        if (pass.traced) sc.setJobGroup(name, p)
        val s = spans.open("phase", pass.label, pass.index, name, p, qs.id)
        try body finally spans.close(s)
      }
      val ok = try {
        val df = phase("construct")(fn(spark, data))
        phase("plan")(df.queryExecution.executedPlan)
        if (pass.label == "check0")
          inputFiles ++= scala.util.Try(df.inputFiles.toSeq).getOrElse(Nil)
        phase("exec")(sink(name, df))
        true
      } catch { case NonFatal(e) =>
        System.err.println(s"[perfbench] FAIL ${pass.label} pass ${pass.index} $name: " +
          String.valueOf(e.getMessage).linesIterator.take(3).mkString(" | "))
        false
      } finally {
        if (pass.traced) sc.clearJobGroup()
        spans.close(qs)
        System.err.println(f"[perfbench] ${pass.label} pass ${pass.index} $name ${qs.wallS}%.3f s")
      }
      qs.put("ok", if (ok) 1.0 else 0.0)
      ok
    }

    var passNo = 0
    def runPass(label: String, trace: Boolean, sink: (String, DataFrame) => Unit): Unit = {
      if (trace) {
        tracer.attach(spark)
        tablesProbe(spark, data, spans, passNo, tableSet)
      }
      val p = spans.open("pass", label, passNo, "", "")
      p.traced = trace
      queries.foreach { case (n, fn) => runQuery(p, n, fn, sink) }
      spans.close(p)
      if (trace) tracer.detach(spark)
      passNo += 1
    }

    calibrate("start", -1)
    runPass("check0", trace = false, dump("check0"))
    liveHeap(passNo - 1) // before the warm passes, which absorb its full GCs
    (1 to warm).foreach { _ =>
      runPass("warm", trace = false, noop)
      calibrate("warm", passNo - 1) // the calibration's own code warms too
    }

    val t0 = System.nanoTime()
    var timed = 0
    // traced runs alternate untraced and traced passes, starting and
    // ending untraced, so that warming does not favour either side
    while (timed < 3 || (System.nanoTime() - t0) / 1e9 < seconds ||
           (traced && timed % 2 == 0)) {
      runPass("timed", trace = traced && timed % 2 == 1, noop)
      calibrate("timed", passNo - 1)
      timed += 1
    }
    runPass("check1", trace = false, dump("check1"))
    calibrate("end", passNo)

    val summary = Map(
      "peak_rss_mb" -> vmHwmMb(), "cpus" -> cpus.toDouble,
      "tables" -> tableSet.mkString(" "), "workload" -> workload,
      "queries" -> queries.map(_._1).mkString(" "))
    spans.write(s"$out/profile.jsonl", summary)
    writeOracleSql(s"$out/oracle_sql.json", queries.map(_._1), graft.SparkEntry.oracleSql)
    spark.stop()
  }

  /** Session configured like graft.Bench's, with every local directory
    * under the working directory. Bench's separate warm-up queries are left
    * out: the untimed `check0` pass warms the same code. */
  def session(cpus: Int): SparkSession = {
    val local = new File("spark-local").getAbsolutePath
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.functions.GraftSparkExtensions")
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "16k")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.objectHashAggregate.sortBased.fallbackThreshold", "1048576")
      .config("spark.sql.codegen.cache.maxEntries", "10000")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", local)
      .config("spark.sql.warehouse.dir", new File("spark-warehouse").getAbsolutePath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Direct `Tables` reads of each table the workload reads, one span
    * each, outside the pass span (the tables layer on its own). */
  def tablesProbe(spark: SparkSession, data: String, spans: Spans, pass: Int,
                  tables: Seq[String]): Unit = tables.foreach { t =>
    spark.sparkContext.setJobGroup("tables", t)
    val s = spans.open("tables", "timed", pass, t, "read")
    try {
      if (t == "events") graft.Tables.events(spark, data)
      else graft.Tables.table(spark, data, t)
    } finally {
      spans.close(s)
      spark.sparkContext.clearJobGroup()
    }
  }

  /** The DuckDB oracle SQL of each workload query that has one, as JSON. */
  def writeOracleSql(path: String, names: Seq[String], oracle: Map[String, String]): Unit = {
    val json = names.filter(oracle.contains)
      .map(n => Spans.json(n) + ":" + Spans.json(oracle(n))).mkString("{", ",", "}")
    Files.writeString(Paths.get(path), json)
  }

  def vmHwmMb(): Double =
    try {
      val line = Files.readAllLines(Paths.get("/proc/self/status")).toArray
        .map(_.toString).find(_.startsWith("VmHWM:")).get
      line.split("\\s+")(1).toDouble / 1024.0
    } catch { case NonFatal(_) => -1.0 }
}

/** One span: a pass, a query, a phase, a tables read or a calibration.
  * `stats` holds the counters attributed to it. */
final class Span(val id: Int, val kind: String, val label: String, val index: Int,
                 val query: String, val phase: String, val parent: Int,
                 val startMs: Long, val startNs: Long) {
  var endMs = 0L
  var wallS = 0.0
  var traced = false
  val stats = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  def put(k: String, v: Double): Unit = stats(k) = v
  def add(k: String, v: Double): Unit = stats(k) = stats.getOrElse(k, 0.0) + v
}

final class Spans {
  val all = ArrayBuffer.empty[Span]
  def open(kind: String, label: String, index: Int, query: String, phase: String,
           parent: Int = -1): Span = synchronized {
    val s = new Span(all.size, kind, label, index, query, phase, parent,
      System.currentTimeMillis(), System.nanoTime())
    all += s
    s
  }
  def close(s: Span): Unit = {
    s.wallS = (System.nanoTime() - s.startNs) / 1e9
    s.endMs = System.currentTimeMillis()
  }

  def write(path: String, summary: Map[String, Any]): Unit = {
    import Spans.{json => js}
    def obj(kv: Seq[(String, Any)]): String =
      kv.map { case (k, v) => js(k) + ":" + js(v) }.mkString("{", ",", "}")
    val w = new PrintWriter(path, "UTF-8")
    try {
      all.foreach { s =>
        w.println(obj(Seq("kind" -> s.kind, "id" -> s.id, "parent" -> s.parent,
          "label" -> s.label, "pass" -> s.index, "traced" -> s.traced,
          "query" -> s.query, "phase" -> s.phase, "start_ms" -> s.startMs.toDouble,
          "end_ms" -> s.endMs.toDouble, "wall_s" -> s.wallS) ++ s.stats.toSeq))
      }
      w.println(obj(Seq("kind" -> "summary") ++ summary.toSeq))
    } finally w.close()
  }
}

object Spans {
  def json(v: Any): String = v match {
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case i: Int => i.toString
    case b: Boolean => b.toString
    case s => "\"" + s.toString.flatMap {
      case '"' => "\\\""; case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"; case c => c.toString
    } + "\""
  }
}
