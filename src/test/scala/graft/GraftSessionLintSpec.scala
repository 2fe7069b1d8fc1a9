package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Executable form of "one session factory": in `src/main`, only
  * `GraftSession.scala` builds a session, sets or unsets a conf, or
  * states the loop fan-out literal; and perfbench's copied session
  * (`Harness.session`, which the benchmark compiles on its own) carries
  * exactly `GraftSession.confs`, so the two cannot drift silently.
  *
  * Both checks are tested twice: a seeded violation must be flagged,
  * and HEAD must be clean.
  */
class GraftSessionLintSpec extends AnyFunSuite {

  private val owner = "GraftSession.scala"
  private val markers =
    Seq("SparkSession.builder", ".conf.set(", ".conf.unset(", "2000000L")
  // directory-scoped: these keys point at the caller's own files
  private val pathKeys = Set("spark.local.dir", "spark.sql.warehouse.dir")
  private val harnessPath = "perfbench/src/main/scala/perfbench/Harness.scala"

  /** `file:line: marker` for every marker outside [[owner]]. */
  private[graft] def strayMarkers(sources: Seq[(String, String)]): Seq[String] =
    for {
      (file, text) <- sources if !file.endsWith("/" + owner)
      (line, i) <- text.split("\n", -1).toSeq.zipWithIndex
      m <- markers if line.contains(m)
    } yield s"$file:${i + 1}: $m"

  /** The `.config("key", expr)` pairs of a session builder's source. */
  private[graft] def configPairs(text: String): Seq[(String, String)] =
    """(?m)^\s*\.config\(\s*"([^"]+)"\s*,\s*(.+)\)\s*$""".r
      .findAllMatchIn(text).map(m => m.group(1) -> m.group(2).trim).toSeq

  /** How `text`'s config pairs differ from `GraftSession.confs`, path
    * keys aside. A string literal must equal the factory's value; any
    * other expression is accepted only for a key whose factory value
    * depends on the core count. */
  private[graft] def drift(text: String): Seq[String] = {
    val one = GraftSession.confs(1).toMap
    val two = GraftSession.confs(2).toMap
    val pairs = configPairs(text).filterNot(p => pathKeys(p._1))
    val Literal = "\"(.*)\"".r
    val found = pairs.flatMap {
      case (k, _) if !one.contains(k) => Some(s"extra $k")
      case (k, Literal(v)) =>
        if (v == one(k) && one(k) == two(k)) None
        else Some(s"$k = $v, GraftSession has ${one(k)}")
      case (k, e) if one(k) == two(k) =>
        Some(s"$k = $e, GraftSession has the constant ${one(k)}")
      case _ => None
    }
    found ++ (one.keySet -- pairs.map(_._1)).toSeq.sorted.map(k => s"missing $k")
  }

  private lazy val mainSources: Seq[(String, String)] =
    Files.walk(Paths.get("src/main/scala")).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .map(p => p.toString -> new String(Files.readAllBytes(p), "UTF-8"))
      .toList

  private lazy val harness =
    new String(Files.readAllBytes(Paths.get(harnessPath)), "UTF-8")

  test("seeded: a session build, conf write or fan-out literal outside " +
    "GraftSession is flagged, each marker on its own") {
    val rogue = Seq(
      "val s = SparkSession.builder().getOrCreate()",
      "s.conf.set(\"spark.sql.shuffle.partitions\", \"8\")",
      "try body finally s.conf.unset(key)",
      "val parts = (n / 2000000L).toInt + 1")
    rogue.zip(markers).foreach { case (line, marker) =>
      assert(strayMarkers(Seq("src/main/scala/graft/ops/Rogue.scala" -> line)) ==
        Seq(s"src/main/scala/graft/ops/Rogue.scala:1: $marker"))
      assert(strayMarkers(
        Seq("src/main/scala/graft/GraftSession.scala" -> line)).isEmpty)
    }
  }

  test("HEAD: only GraftSession builds a session, sets a conf or states " +
    "the loop fan-out rule") {
    assert(mainSources.exists(_._1.endsWith("/" + owner)))
    val hits = strayMarkers(mainSources)
    assert(hits.isEmpty, s"use GraftSession.create / withConf / loopParts: $hits")
  }

  test("seeded: a changed, missing or extra conf in the harness session " +
    "is flagged") {
    val changed = harness.replace("\"16k\"", "\"1MB\"")
    assert(changed != harness)
    assert(drift(changed) == Seq(
      "spark.sql.adaptive.coalescePartitions.minPartitionSize = 1MB, " +
        "GraftSession has 16k"))
    val missing = harness.split("\n", -1)
      .filterNot(_.contains("\"spark.sql.codegen.cache.maxEntries\""))
      .mkString("\n")
    assert(drift(missing) == Seq("missing spark.sql.codegen.cache.maxEntries"))
    val extra = harness.replace(".config(\"spark.ui.enabled\", \"false\")",
      ".config(\"spark.ui.enabled\", \"false\")\n" +
        "      .config(\"spark.sql.ansi.enabled\", \"false\")")
    assert(drift(extra) == Seq("extra spark.sql.ansi.enabled"))
    val pinned = harness.replace("cpus.toString", "\"4\"")
    assert(drift(pinned).map(_.takeWhile(_ != ' ')) ==
      Seq("spark.sql.shuffle.partitions"))
  }

  test("HEAD: perfbench's harness session carries exactly " +
    "GraftSession.confs") {
    assert(configPairs(harness).nonEmpty, s"no .config pairs in $harnessPath")
    assert(drift(harness).isEmpty, drift(harness).mkString("; "))
  }
}
