package graft

/** `GraftSession.withConf` puts every key back as it was — a set key
  * gets its value, an unset key is unset again, also when the body
  * throws — and `loopParts` follows its rule. The conf checks run on a
  * child session so the shared one is never touched. */
class GraftSessionSpec extends SparkSpec {

  private val setKey = "spark.sql.shuffle.partitions"
  private val unsetKey = "spark.sql.scripting.enabled"

  test("withConf restores a key that was set") {
    val s = spark.newSession()
    assert(s.sessionState.conf.contains(setKey))
    val before = s.conf.get(setKey)
    val inside = GraftSession.withConf(s, setKey -> "3")(s.conf.get(setKey))
    assert(inside == "3")
    assert(s.conf.get(setKey) == before)
  }

  test("withConf leaves an unset key unset, not pinned to its default") {
    val s = spark.newSession()
    assert(!s.sessionState.conf.contains(unsetKey))
    GraftSession.withConf(s, unsetKey -> "true") {
      assert(s.conf.get(unsetKey) == "true")
    }
    assert(!s.sessionState.conf.contains(unsetKey))
  }

  test("withConf restores when the body throws") {
    val s = spark.newSession()
    val before = s.conf.get(setKey)
    intercept[IllegalStateException] {
      GraftSession.withConf(s, setKey -> "3", unsetKey -> "true") {
        throw new IllegalStateException("body failed")
      }
    }
    assert(s.conf.get(setKey) == before)
    assert(!s.sessionState.conf.contains(unsetKey))
  }

  test("loopParts: a latency floor of min(defaultParallelism, 8), then " +
    "one partition per 2 M rows") {
    val floor = math.min(spark.sparkContext.defaultParallelism, 8)
    assert(GraftSession.loopParts(spark, 0L) == floor)
    assert(GraftSession.loopParts(spark, 2000000L) == math.max(floor, 2))
    assert(GraftSession.loopParts(spark, 4000001L) == math.max(floor, 3))
    assert(GraftSession.loopParts(spark, 100000000L) == 51)
  }

  test("a threshold below GraftSession's draws the fallback warning") {
    import graft.functions.GraftSparkExtensions.fallbackWarning
    assert(fallbackWarning(GraftSession.FallbackThreshold).isEmpty)
    val msg = fallbackWarning(128)
    assert(msg.nonEmpty)
    Seq("TopKAgg", "MisraGries", "CountMin", "KMV")
      .foreach(n => assert(msg.get.contains(n), msg))
  }

  test("sessions below the threshold log the warning once per JVM") {
    import org.apache.logging.log4j.LogManager
    import org.apache.logging.log4j.core.{LogEvent, Logger}
    import org.apache.logging.log4j.core.appender.AbstractAppender
    import org.apache.logging.log4j.core.config.Property
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val appender = new AbstractAppender("fallback-warning", null, null,
        true, Array.empty[Property]) {
      override def append(e: LogEvent): Unit =
        seen.add(e.getMessage.getFormattedMessage)
    }
    appender.start()
    val logger = LogManager.getLogger(
      classOf[graft.functions.GraftSparkExtensions]).asInstanceOf[Logger]
    logger.addAppender(appender)
    try {
      Seq(128, 256).foreach { threshold =>
        val s = spark.newSession()
        s.conf.set("spark.sql.objectHashAggregate.sortBased.fallbackThreshold",
          threshold.toString)
        s.range(3).collect()
      }
      assert(seen.size == 1, seen)
      assert(seen.peek.contains("is 128"), seen)
    } finally logger.removeAppender(appender)
  }
}
