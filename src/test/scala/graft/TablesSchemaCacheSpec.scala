package graft

import java.nio.file.{Files, Path, StandardCopyOption}
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.StructType
import scala.util.Try

/** Pins the [[Tables.parquet]] footer-schema cache: a repeat read of an
  * unchanged file runs no Spark job, a file rewritten in place (single
  * file or part directory) is re-inferred, and every conf that changes
  * the read schema is part of the key.
  */
class TablesSchemaCacheSpec extends SparkSpec {

  /** Jobs started by `body` on this thread, counted by a SparkListener
    * filtered on a job group unique to the call (other specs may share
    * the SparkContext). */
  private def jobsIn(body: => Any): Int = {
    val sc = spark.sparkContext
    val group = s"schema-cache-${java.util.UUID.randomUUID}"
    val jobs = new AtomicInteger
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties)
            .exists(_.getProperty("spark.jobGroup.id") == group))
          jobs.incrementAndGet()
    }
    sc.addSparkListener(listener)
    sc.setJobGroup(group, "TablesSchemaCacheSpec")
    try body
    finally {
      sc.clearJobGroup()
      org.apache.spark.GraftListenerBus.drain(sc)
      sc.removeSparkListener(listener)
    }
    jobs.get
  }

  /** Write `df` as ONE parquet file at `dst` (the testdata layout). */
  private def writeSingle(df: DataFrame, dst: Path): Unit = {
    val tmp = Files.createTempDirectory("schema_cache_build")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
    val part = Files.list(tmp).filter(_.toString.endsWith(".parquet"))
      .findFirst().get()
    Files.move(part, dst, StandardCopyOption.REPLACE_EXISTING)
    graft.ops.Staging.deleteRecursively(tmp)
  }

  test("a repeat Tables.table read of an unchanged file runs no job") {
    val dir = Files.createTempDirectory("schema_cache")
    writeSingle(spark.range(10).selectExpr("id", "id % 3 AS g"),
      dir.resolve("t.parquet"))
    val cold = jobsIn(Tables.table(spark, dir.toString, "t"))
    assert(cold >= 1, "the first read should infer the footer schema")
    var warm: DataFrame = null
    assert(jobsIn { warm = Tables.table(spark, dir.toString, "t") } === 0)
    assert(warm.schema === spark.read.parquet(s"$dir/t.parquet").schema)
    assert(warm.filter("g = 0").count() === 4)
  }

  test("a file rewritten in place with a new schema reads the new schema") {
    val dir = Files.createTempDirectory("schema_cache")
    val file = dir.resolve("t.parquet")
    writeSingle(spark.range(5).toDF("id"), file)
    assert(Tables.parquet(spark, file.toString).columns.toSeq === Seq("id"))
    writeSingle(spark.range(5).selectExpr("id", "id * 2 AS twice"), file)
    val after = Tables.parquet(spark, file.toString)
    assert(after.columns.toSeq === Seq("id", "twice"))
    assert(after.selectExpr("sum(twice)").head.getLong(0) === 20L)

    // a directory of part files is keyed by its leaf files too
    val parts = dir.resolve("parts").toString
    spark.range(5).toDF("id").write.parquet(parts)
    assert(Tables.parquet(spark, parts).columns.toSeq === Seq("id"))
    spark.range(5).selectExpr("cast(id AS string) AS name")
      .write.mode("overwrite").parquet(parts)
    assert(Tables.parquet(spark, parts).columns.toSeq === Seq("name"))
  }

  test("a key built under a different value of each schema conf misses") {
    // events.ts is a parquet timestamp whose Spark type depends on the
    // session: LongType under nanosAsLong for TIMESTAMP(NANOS),
    // TimestampNTZType or TimestampType by inferTimestampNTZ otherwise
    val events = s"$sf0001/events.parquet"
    val key = Tables.schemaKey(spark, events)
    assert(key.isDefined)
    val base = Tables.parquet(spark, events).schema
    val changing = Tables.schemaConfs.filter { k =>
      val child = spark.newSession()
      child.conf.set(k, (!child.conf.get(k).toBoolean).toString)
      assert(Tables.schemaKey(child, events) !== key, k)
      var cached: Try[StructType] = null
      assert(jobsIn {
        cached = Try(Tables.parquet(child, events).schema)
      } >= 1, s"$k: the read should miss and re-infer")
      assert(cached.toOption === Try(child.read.parquet(events).schema)
        .toOption, k)
      !cached.toOption.contains(base)
    }
    // at least one flip really changes events' schema, so the equality
    // above would have caught a cache that ignored the conf
    assert(changing.nonEmpty)
  }
}
