package perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The queries of each perfbench workload, in run order. */
object Workloads {
  type Q = (SparkSession, String) => DataFrame

  val tables = Set("region", "nation", "customer", "supplier", "part", "orders",
    "lineitem", "events", "documents", "embeddings")

  // A warm pass takes 2-4 s at local[4], so that a whole run (JVM start,
  // cold and warm passes, timed passes, checks) takes about 45 s.

  /** Every eighth of the relational, function, statistics and quality
    * queries in name order: small plans whose time is fixed cost per
    * query and per job. */
  val sqlShortStride = 8

  /** Over the duplicated corpus: exact dedup, the operators whose cost
    * follows the duplicate share (q25 Jaccard pairs, q27 MinHash bands,
    * q95 sketch accuracy) and the corpus prep that fires dozens of jobs
    * while it is built (q68). */
  val llmCorpusDup = Seq(24, 25, 27, 68, 95)

  /** The CFPB frequency encoding and a classifier fit (q114), then
    * streaming replays with checkpoints: a stateful aggregation (q142) and
    * a foreachBatch sink that writes parquet (q334). */
  val eagerPipelines = Seq(4, 114, 142, 334)

  def resolve(workload: String): Seq[(String, Q)] = {
    val all = graft.SparkEntry.queries
    def byNumber(ns: Seq[Int]) = ns.map { n =>
      val hits = all.keys.filter(_.startsWith(s"q${n}_")).toSeq
      require(hits.size == 1, s"q$n matches ${hits.mkString(", ")}")
      hits.head -> all(hits.head)
    }
    workload match {
      case "sql_short" =>
        (graft.queries.RelationalQueries.queries ++ graft.queries.FunctionQueries.queries ++
          graft.queries.StatQueries.queries ++ graft.queries.QualityQueries.queries)
          .toSeq.sortBy(_._1).zipWithIndex.collect { case (q, i) if i % sqlShortStride == 0 => q }
      case "llm_corpus_dup" => byNumber(llmCorpusDup)
      case "eager_pipelines" => byNumber(eagerPipelines)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
  }
}
