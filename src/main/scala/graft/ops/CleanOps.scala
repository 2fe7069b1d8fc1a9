package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Cleaning / projection primitives (SURVEY.md §2.2-2.3).
  *
  * Re-expresses the reference's ingest-cleaning prologue
  * (`init.py:22-33`, `timely_LR.py:40-62`,
  * `random_forest_final_class_8.py:56-60`) as plan-preserving Catalyst
  * expressions: no RDD detours (the reference's `rdd.zipWithIndex` header
  * skip at `init.py:29` severs the logical plan and blocks pushdown — at
  * 100 TB that is a full materialization of the input; here every helper
  * stays a `Project`/`Filter` that Catalyst can push into the scan).
  */
object CleanOps {

  /** Blank string → replacement ("Not Available" in `init.py:32-33`). */
  def blankFill(c: Column, replacement: String = "Not Available"): Column =
    when(c === "", lit(replacement)).otherwise(c)

  /** Reference's notnull-and-nonblank predicate
    * (`random_forest_final_class_8.py:58-60`):
    * `~(isnull(c) | (trim(c) == ""))`.
    */
  def notNullNotBlank(c: Column): Column = !(c.isNull || trim(c) === "")

  /** Drop rows where any of the given string columns is null or blank. */
  def filterNotBlank(df: DataFrame, cols: String*): DataFrame =
    cols.foldLeft(df)((d, c) => d.filter(notNullNotBlank(col(c))))

  /** Add year/month/day parts from a timestamp column
    * (`timely_LR.py:60-62`, `complaints_narrative_LDA.py:37-39`).
    */
  def withDateParts(df: DataFrame, tsCol: String, prefix: String = ""): DataFrame =
    df.withColumn(s"${prefix}year", year(col(tsCol)))
      .withColumn(s"${prefix}month", month(col(tsCol)))
      .withColumn(s"${prefix}day", dayofmonth(col(tsCol)))

  /** P13 — drop the first `n` rows under a total ordering: the
    * plan-preserving form of the reference's header-skip detour
    * (`init.py:29`: `df.rdd.zipWithIndex().filter(idx > 0).map(...)
    * .toDF()`), which erases the logical plan — everything above it
    * re-plans from an opaque RDD scan and Catalyst can push nothing
    * through. A ranked window keeps the lineage intact. The global
    * window serializes onto one partition — correct for its purpose
    * (skipping a handful of header rows); at scale prefer reading with
    * proper options so no header row exists at all.
    */
  def dropFirstRows(df: DataFrame, n: Int,
                    order: Seq[Column]): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.orderBy(order: _*)
    df.withColumn("__rn", org.apache.spark.sql.functions.row_number().over(w))
      .filter(col("__rn") > n).drop("__rn")
  }
}
