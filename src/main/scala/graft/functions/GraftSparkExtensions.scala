package graft.functions

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

/** Engine extension entry point: register native functions into any
  * session via `.config("spark.sql.extensions",
  * "graft.functions.GraftSparkExtensions")` (or
  * `.withExtensions(new GraftSparkExtensions)`); they are then callable
  * from SQL and `call_function` on every executor without UDF
  * registration per session.
  */
class GraftSparkExtensions extends (SparkSessionExtensions => Unit) {

  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftSparkExtensions.all.foreach(ext.injectFunction)
    // optimizer extension: naive sorted-set intersection counts compile
    // to the native two-pointer merge (see IntersectCountRewrite)
    ext.injectOptimizerRule(_ => graft.plans.IntersectCountRewrite)
    // optimizer extension: reinstate the window group-limit under the
    // decorrelated LATERAL rank-filter shape that defeats Spark's own
    // InferWindowGroupLimit (see DecorrelatedRankLimit)
    ext.injectOptimizerRule(_ => graft.plans.DecorrelatedRankLimit)
    // planner extension: AsofJoinNode → AsofJoinExec (native sort-merge
    // as-of join, see graft.plans.AsofJoin)
    ext.injectPlannerStrategy(_ => graft.plans.AsofJoinStrategy)
    // reads the fallbackThreshold when a session's analyzer is built and
    // warns, once per JVM, if it is below what the k-bounded aggregates
    // assume; the rule itself checks no plan
    ext.injectCheckRule { session =>
      GraftSparkExtensions.fallbackWarning(
        session.sessionState.conf.objectAggSortBasedFallbackThreshold)
        .filter(_ => GraftSparkExtensions.fallbackWarned.compareAndSet(false, true))
        .foreach(org.slf4j.LoggerFactory
          .getLogger(classOf[GraftSparkExtensions]).warn(_))
      _ => ()
    }
  }
}

object GraftSparkExtensions {
  private val fallbackWarned = new java.util.concurrent.atomic.AtomicBoolean(false)

  /** The warning for a session whose ObjectHashAggregate sort-based
    * fallback threshold is below [[graft.GraftSession.FallbackThreshold]],
    * if it is. */
  def fallbackWarning(threshold: Int): Option[String] =
    if (threshold >= graft.GraftSession.FallbackThreshold) None
    else Some(s"spark.sql.objectHashAggregate.sortBased.fallbackThreshold " +
      s"is $threshold, below ${graft.GraftSession.FallbackThreshold}: " +
      "TopKAgg, MisraGries, CountMin and KMV fall back to an O(rows) " +
      "disk sort once a partition sees more groups than that " +
      "(build the session with graft.GraftSession)")

  type FnDef = (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)

  private def litInt(e: Expression, what: String): Int = {
    require(e.foldable, s"$what must be a literal")
    e.eval() match {
      case i: Int => i
      case l: Long => l.toInt
      case other => sys.error(s"$what must be an integer literal, got $other")
    }
  }

  val cosineSim: FnDef = (
    FunctionIdentifier("cosine_sim"),
    new ExpressionInfo(classOf[CosineSimilarity].getName, "cosine_sim"),
    (children: Seq[Expression]) => {
      require(children.length == 2, "cosine_sim takes exactly 2 arguments")
      CosineSimilarity(children.head, children(1))
    })

  val minhashSigs: FnDef = (
    FunctionIdentifier("minhash_sigs"),
    new ExpressionInfo(classOf[MinhashSigs].getName, "minhash_sigs"),
    (children: Seq[Expression]) => {
      require(children.length == 2, "minhash_sigs takes (tokens, n)")
      MinhashSigs(children.head, litInt(children(1), "minhash_sigs n"))
    })

  val simhash: FnDef = (
    FunctionIdentifier("simhash"),
    new ExpressionInfo(classOf[SimhashExpr].getName, "simhash"),
    (children: Seq[Expression]) => {
      require(children.length == 2, "simhash takes (tokens, bits)")
      SimhashExpr(children.head, litInt(children(1), "simhash bits"))
    })

  val srpBucket: FnDef = (
    FunctionIdentifier("srp_bucket"),
    new ExpressionInfo(classOf[SrpBucketExpr].getName, "srp_bucket"),
    (children: Seq[Expression]) => {
      require(children.length == 3, "srp_bucket takes (vec, dim, bits)")
      SrpBucketExpr(children.head, litInt(children(1), "srp_bucket dim"),
        litInt(children(2), "srp_bucket bits"))
    })

  val quantizeInt8: FnDef = (
    FunctionIdentifier("quantize_int8"),
    new ExpressionInfo(classOf[QuantizeInt8].getName, "quantize_int8"),
    (children: Seq[Expression]) => {
      require(children.length == 1, "quantize_int8 takes exactly 1 argument")
      QuantizeInt8(children.head)
    })

  val dotInt8: FnDef = (
    FunctionIdentifier("dot_int8"),
    new ExpressionInfo(classOf[DotInt8].getName, "dot_int8"),
    (children: Seq[Expression]) => {
      require(children.length == 2, "dot_int8 takes (a, b)")
      DotInt8(children.head, children(1))
    })

  val wordShingles: FnDef = (
    FunctionIdentifier("word_shingles"),
    new ExpressionInfo(classOf[WordShinglesExpr].getName, "word_shingles"),
    (children: Seq[Expression]) => {
      require(children.length == 2, "word_shingles takes (tokens, n)")
      WordShinglesExpr(children.head, litInt(children(1), "word_shingles n"))
    })

  val rollingHash: FnDef = (
    FunctionIdentifier("rolling_hash"),
    new ExpressionInfo(classOf[RollingHashExpr].getName, "rolling_hash"),
    (children: Seq[Expression]) => {
      require(children.length == 1, "rolling_hash takes (tokens)")
      RollingHashExpr(children.head)
    })

  val vecNorm: FnDef = (
    FunctionIdentifier("vec_norm"),
    new ExpressionInfo(classOf[VecNorm].getName, "vec_norm"),
    (children: Seq[Expression]) => {
      require(children.length == 1, "vec_norm takes exactly 1 argument")
      VecNorm(children.head)
    })

  val poissonDraw: FnDef = (
    FunctionIdentifier("poisson_draw"),
    new ExpressionInfo(classOf[PoissonDraw].getName, "poisson_draw"),
    (children: Seq[Expression]) => {
      require(children.length == 3, "poisson_draw takes (u, lambda, cap)")
      PoissonDraw(children.head, children(1), children(2))
    })

  val sortedIntersectCount: FnDef = (
    FunctionIdentifier("sorted_intersect_count"),
    new ExpressionInfo(classOf[SortedIntersectCount].getName,
      "sorted_intersect_count"),
    (children: Seq[Expression]) => {
      require(children.length == 2, "sorted_intersect_count takes (a, b)")
      SortedIntersectCount(children.head, children(1))
    })

  val jaroWinkler: FnDef = (
    FunctionIdentifier("jaro_winkler"),
    new ExpressionInfo(classOf[JaroWinkler].getName, "jaro_winkler"),
    (children: Seq[Expression]) => {
      require(children.length == 2, "jaro_winkler takes (a, b)")
      JaroWinkler(children.head, children(1))
    })

  val imageMeta: FnDef = (
    FunctionIdentifier("image_meta"),
    new ExpressionInfo(classOf[ImageMeta].getName, "image_meta"),
    (children: Seq[Expression]) => {
      require(children.length == 1, "image_meta takes exactly 1 argument")
      ImageMeta(children.head)
    })

  val audioMeta: FnDef = (
    FunctionIdentifier("audio_meta"),
    new ExpressionInfo(classOf[AudioMeta].getName, "audio_meta"),
    (children: Seq[Expression]) => {
      require(children.length == 1, "audio_meta takes exactly 1 argument")
      AudioMeta(children.head)
    })

  val videoMeta: FnDef = (
    FunctionIdentifier("video_meta"),
    new ExpressionInfo(classOf[VideoMeta].getName, "video_meta"),
    (children: Seq[Expression]) => {
      require(children.length == 1, "video_meta takes exactly 1 argument")
      VideoMeta(children.head)
    })

  val all: Seq[FnDef] =
    Seq(cosineSim, minhashSigs, simhash, srpBucket, quantizeInt8,
      dotInt8, wordShingles, rollingHash, vecNorm, poissonDraw,
      sortedIntersectCount, jaroWinkler, imageMeta, audioMeta,
      videoMeta)

  /** Register directly on an existing session (tests, notebooks). */
  def register(spark: org.apache.spark.sql.SparkSession): Unit = {
    all.foreach { case (id, info, builder) =>
      spark.sessionState.functionRegistry.registerFunction(id, info, builder)
    }
    // runtime path for the planner strategy (the config path is
    // injectPlannerStrategy above); idempotent
    if (!spark.experimental.extraStrategies.contains(graft.plans.AsofJoinStrategy))
      spark.experimental.extraStrategies =
        spark.experimental.extraStrategies :+ graft.plans.AsofJoinStrategy
    // runtime path for the optimizer rules (config path: injectOptimizerRule)
    val optRules = Seq(graft.plans.IntersectCountRewrite, graft.plans.DecorrelatedRankLimit)
    val missing = optRules.filterNot(spark.experimental.extraOptimizations.contains)
    if (missing.nonEmpty)
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations ++ missing
  }
}
