package graft.queries

import graft.{GraftSession, Tables}
import graft.ops._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Round-6 extension operators, experimentation / causal-inference
  * family (SURVEY.md §2.13 X199+): CUPED variance reduction,
  * difference-in-differences, weight-of-evidence encoding, propensity
  * rank matching, heavy-tail index estimation, randomization testing.
  * Each is the deterministic, shuffle-bounded form of the analysis an
  * experimentation platform runs over event logs at warehouse scale.
  */
object ExperimentQueries {
  type Q = (SparkSession, String) => DataFrame

  /** q270_cuped — CUPED variance reduction (Deng et al., WSDM'13): the
    * experiment metric is each user's post-period mean event value, the
    * covariate is the same user's PRE-period mean; θ = cov(x,y)/var(x)
    * and the adjusted-metric variance follows the closed form
    * var(y) − cov²/var(x), so the whole analysis is ONE aggregation
    * over the per-user frame — no second pass over adjusted rows. The
    * period split is the µs midpoint of the observed range (computed
    * once, broadcast as a 1-row scalar). At 100 TB the only corpus
    * pass is the per-user conditional aggregate; everything after runs
    * on |users| rows.
    */
  def q270Cuped(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
      .select(col("user_id"), unix_micros(col("ts")).as("__us"),
        col("value"))
    val mid = e.agg(
      expr("(min(__us) + max(__us)) div 2").as("__mid"))
    val per = e.crossJoin(broadcast(mid))
      .groupBy(col("user_id"))
      .agg(avg(when(col("__us") < col("__mid"), col("value"))).as("__x"),
        avg(when(col("__us") >= col("__mid"), col("value"))).as("__y"))
      .filter(col("__x").isNotNull && col("__y").isNotNull)
    per.agg(count(lit(1)).as("n_users"),
        covar_pop(col("__x"), col("__y")).as("__cxy"),
        var_pop(col("__x")).as("__vx"),
        var_pop(col("__y")).as("__vy"))
      .select(col("n_users"),
        (round(try_divide(col("__cxy"), col("__vx")), 4) + lit(0.0)).as("theta"),
        (round(col("__vy"), 4) + lit(0.0)).as("var_raw"),
        (round(col("__vy") -
          try_divide(col("__cxy") * col("__cxy"), col("__vx")), 4) + lit(0.0))
          .as("var_cuped"),
        (round(try_divide(col("__cxy") * col("__cxy"),
          col("__vx") * col("__vy")), 4) + lit(0.0)).as("var_reduction"))
  }

  /** q271_did — difference-in-differences on per-user pre→post deltas:
    * treatment is a deterministic hash split of users, the period split
    * is the same µs midpoint as q270, and the estimator is the Welch
    * contrast of per-user (post − pre) deltas between arms — the
    * panel-DiD form whose SE needs only var_samp per arm, not a
    * regression. One per-user conditional aggregate (the corpus pass),
    * then a single-row contrast over |users| rows.
    */
  def q271Did(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
      .select(col("user_id"), unix_micros(col("ts")).as("__us"),
        col("value"))
    val mid = e.agg(
      expr("(min(__us) + max(__us)) div 2").as("__mid"))
    val per = e.crossJoin(broadcast(mid))
      .groupBy(col("user_id"))
      .agg(avg(when(col("__us") < col("__mid"), col("value"))).as("__x"),
        avg(when(col("__us") >= col("__mid"), col("value"))).as("__y"))
      .filter(col("__x").isNotNull && col("__y").isNotNull)
      .withColumn("__t",
        TextOps.hash32(col("user_id").cast("string"), seed = "did:")
          % 2 === 1)
      .withColumn("__d", col("__y") - col("__x"))
    per.agg(
        count(when(col("__t"), 1)).as("n_treat"),
        count(when(!col("__t"), 1)).as("n_ctrl"),
        avg(when(col("__t"), col("__x"))).as("__mtpre"),
        avg(when(col("__t"), col("__y"))).as("__mtpost"),
        avg(when(!col("__t"), col("__x"))).as("__mcpre"),
        avg(when(!col("__t"), col("__y"))).as("__mcpost"),
        avg(when(col("__t"), col("__d"))).as("__dt"),
        avg(when(!col("__t"), col("__d"))).as("__dc"),
        var_samp(when(col("__t"), col("__d"))).as("__vt"),
        var_samp(when(!col("__t"), col("__d"))).as("__vc"))
      .select(col("n_treat"), col("n_ctrl"),
        (round(col("__mtpre"), 4) + lit(0.0)).as("m_treat_pre"),
        (round(col("__mtpost"), 4) + lit(0.0)).as("m_treat_post"),
        (round(col("__mcpre"), 4) + lit(0.0)).as("m_ctrl_pre"),
        (round(col("__mcpost"), 4) + lit(0.0)).as("m_ctrl_post"),
        (round(col("__dt") - col("__dc"), 4) + lit(0.0)).as("did"),
        (round(sqrt(try_divide(col("__vt"), col("n_treat")) +
          try_divide(col("__vc"), col("n_ctrl"))), 4) + lit(0.0)).as("se"),
        (abs(col("__dt") - col("__dc")) >
          lit(1.96) * sqrt(try_divide(col("__vt"), col("n_treat")) +
            try_divide(col("__vc"), col("n_ctrl")))).as("significant"))
  }

  /** q272_woe_iv — weight-of-evidence encoding + information value of
    * a categorical feature against a binary label (the credit-scoring
    * standard; Siddiqi 2006): per order-priority category,
    * WoE = ln(dist_good/dist_bad) with 0.5 Laplace smoothing per cell,
    * IV = Σ (dist_good − dist_bad)·WoE. One groupBy over the corpus;
    * the share/total arithmetic runs as unpartitioned windows over the
    * |categories|-bounded frame. WoE is what replaces target encoding
    * when the label is binary and monotone credit-risk-style scores
    * are wanted; IV is the screen that ranks features before training.
    */
  def q272WoeIv(s: SparkSession, dir: String): DataFrame = {
    val g = Tables.orders(s, dir)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        count(when(col("o_orderstatus") === "F", 1)).as("n_bad"))
      .withColumn("n_good", col("n") - col("n_bad"))
    val w = Window.partitionBy()
    g.withColumn("__k", count(lit(1)).over(w).cast("double"))
      .withColumn("__gt", sum(col("n_good")).over(w).cast("double"))
      .withColumn("__bt", sum(col("n_bad")).over(w).cast("double"))
      .withColumn("__dg", (col("n_good") + 0.5) /
        (col("__gt") + lit(0.5) * col("__k")))
      .withColumn("__db", (col("n_bad") + 0.5) /
        (col("__bt") + lit(0.5) * col("__k")))
      .withColumn("__woe", log(col("__dg") / col("__db")))
      .withColumn("__ivc", (col("__dg") - col("__db")) * col("__woe"))
      .select(col("o_orderpriority"), col("n"), col("n_bad"),
        (round(col("__woe"), 4) + lit(0.0)).as("woe"),
        (round(col("__ivc"), 6) + lit(0.0)).as("iv_contrib"),
        (round(sum(col("__ivc")).over(w), 6) + lit(0.0)).as("iv_total"))
      .orderBy(col("o_orderpriority"))
  }

  /** q273_propensity_match — 1:1 rank matching within coarse strata
    * (the distributed form of greedy propensity matching): users
    * stratify by floor(log2(n_events)) — a deterministic bucket that
    * needs NO global sort, unlike ntile — and within each stratum the
    * treated and control arms are ranked by (total value, user id);
    * equal ranks pair up via an equi-join. Covariate balance is
    * reported as the standardized mean difference of total value
    * before vs after matching. All windows are per-stratum; the only
    * corpus-scale pass is the per-user aggregate.
    */
  def q273PropensityMatch(s: SparkSession, dir: String): DataFrame = {
    val per = Tables.events(s, dir)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("__ne"), sum(col("value")).as("__tv"))
      .withColumn("__t",
        TextOps.hash32(col("user_id").cast("string"), seed = "psm:")
          % 2 === 1)
      .withColumn("stratum",
        floor(log(col("__ne").cast("double")) / math.log(2.0))
          .cast("long"))
    val rw = Window.partitionBy(col("stratum"), col("__t"))
      .orderBy(col("__tv"), col("user_id"))
    val ranked = per.withColumn("__r", row_number().over(rw))
    val t = ranked.filter(col("__t"))
      .select(col("stratum"), col("__r"), col("__tv").as("__tvt"))
    val c = ranked.filter(!col("__t"))
      .select(col("stratum"), col("__r"), col("__tv").as("__tvc"))
    val matched = t.join(c, Seq("stratum", "__r"))
      .groupBy(col("stratum"))
      .agg(count(lit(1)).as("n_matched"),
        avg(col("__tvt")).as("__mt_m"), avg(col("__tvc")).as("__mc_m"),
        var_samp(col("__tvt")).as("__vt_m"),
        var_samp(col("__tvc")).as("__vc_m"))
    val before = per.groupBy(col("stratum"))
      .agg(count(when(col("__t"), 1)).as("n_treated"),
        count(when(!col("__t"), 1)).as("n_control"),
        avg(when(col("__t"), col("__tv"))).as("__mt"),
        avg(when(!col("__t"), col("__tv"))).as("__mc"),
        var_samp(when(col("__t"), col("__tv"))).as("__vt"),
        var_samp(when(!col("__t"), col("__tv"))).as("__vc"))
    before.join(matched, Seq("stratum"), "left")
      .select(col("stratum"), col("n_treated"), col("n_control"),
        coalesce(col("n_matched"), lit(0L)).as("n_matched"),
        (round(try_divide(col("__mt") - col("__mc"),
          sqrt((col("__vt") + col("__vc")) / 2)), 4) + lit(0.0)).as("smd_before"),
        (round(try_divide(col("__mt_m") - col("__mc_m"),
          sqrt((col("__vt_m") + col("__vc_m")) / 2)), 4) + lit(0.0)).as("smd_after"))
      .orderBy(col("stratum"))
  }

  /** q274_hill_tail — Hill estimator of a popularity-distribution tail
    * index (Hill 1975), the quantitative companion of q130's Zipf fit,
    * on part demand (lineitem rows per part): for the top-k order
    * statistics f₍₁₎ ≥ … ≥ f₍ₖ₎, γ̂ = (1/k)·Σ ln(f₍ᵢ₎/f₍ₖ₊₁₎) and
    * α̂ = 1/γ̂, swept at k ∈ {25, 50, 100} to show estimator
    * stability. The corpus pass is the per-part count aggregate;
    * ranking runs over the |parts|-bounded frame and the sweep is one
    * conditional aggregation over the top 101 ranks — never a per-k
    * re-sort.
    */
  def q274HillTail(s: SparkSession, dir: String): DataFrame = {
    val ks = Seq(25, 50, 100)
    val freq = Tables.lineitem(s, dir)
      .groupBy(col("l_partkey").as("__t"))
      .agg(count(lit(1)).as("__f"))
    val ranked = freq
      .withColumn("__r", row_number().over(
        Window.orderBy(col("__f").desc, col("__t"))))
      .filter(col("__r") <= ks.max + 1)
      .select(col("__r"), col("__f").cast("double").as("__f"))
    val aggs = ks.flatMap { k =>
      Seq(sum(when(col("__r") <= k, log(col("__f")))).as(s"__s$k"),
        max(when(col("__r") === k + 1, col("__f"))).as(s"__fk$k"))
    }
    val agg = ranked.agg(aggs.head, aggs.tail: _*)
    agg.select(explode(array(ks.map { k =>
        struct(lit(k).as("k"),
          col(s"__fk$k").cast("long").as("f_next"),
          (round(col(s"__s$k") / k - log(col(s"__fk$k")), 4) + lit(0.0))
            .as("gamma"),
          (round(try_divide(lit(1.0),
            col(s"__s$k") / k - log(col(s"__fk$k"))), 4) + lit(0.0)).as("alpha"))
      }: _*)).as("r"))
      .select(col("r.k"), col("r.f_next"), col("r.gamma"),
        col("r.alpha"))
      .orderBy(col("k"))
  }

  /** q275_randomization_test — two-sample randomization test on
    * per-user mean event value: the observed arm split and R = 64
    * re-labelings all come from double-hashed per-user draws
    * (g_r = (h₁ + r·h₂) mod 2³² mod 2 — q241's replicate trick, so the
    * whole null distribution costs TWO md5s per user and replays
    * identically in any engine), p = (1 + #{|Δ_r| ≥ |Δ_obs|})/(R+1).
    * The corpus pass is the per-user aggregate; the replicate
    * fan-out multiplies the |users|-bounded frame only, and each
    * replicate collapses map-side to one partial sum per arm.
    */
  def q275RandomizationTest(s: SparkSession, dir: String): DataFrame = {
    val R = 64
    val per = Tables.events(s, dir)
      .groupBy(col("user_id"))
      .agg(avg(col("value")).as("__m"))
      .withColumn("__h1",
        TextOps.hash32(col("user_id").cast("string"), seed = "pta:"))
      .withColumn("__h2",
        TextOps.hash32(col("user_id").cast("string"), seed = "ptb:"))
    val obs = per
      .agg((avg(when(TextOps.hash32(col("user_id").cast("string"),
          seed = "perm:") % 2 === 1, col("__m"))) -
        avg(when(TextOps.hash32(col("user_id").cast("string"),
          seed = "perm:") % 2 =!= 1, col("__m")))).as("__obs"))
    val perm = per
      .withColumn("__r", explode(sequence(lit(0), lit(R - 1))))
      .withColumn("__g",
        pmod(col("__h1") + col("__r") * col("__h2"),
          lit(4294967296L)) % 2 === 1)
      .groupBy(col("__r"))
      .agg((avg(when(col("__g"), col("__m"))) -
        avg(when(!col("__g"), col("__m")))).as("__d"))
    perm.crossJoin(broadcast(obs))
      .agg(count(lit(1)).as("n_reps"),
        count(when(abs(col("__d")) >= abs(col("__obs")), 1)).as("__ge"),
        max(abs(col("__obs"))).as("__aobs"))
      .select((round(col("__aobs"), 4) + lit(0.0)).as("abs_obs_diff"),
        col("n_reps"),
        (round((col("__ge") + 1) / (col("n_reps") + 1), 4) + lit(0.0)).as("p_value"),
        ((col("__ge") + 1) / (col("n_reps") + 1) <= 0.05).as("reject_05"))
  }

  /** q276_simpson — Simpson's-paradox screen: the pooled association
    * between a treatment (discount ≥ 0.05) and an outcome (return
    * rate) compared against the same association WITHIN each stratum
    * (ship year). A stratum whose rate difference carries the opposite
    * sign from the pooled difference is flagged — the aggregation-
    * reversal audit run before any observational readout is trusted.
    * One conditional aggregate per stratum (the corpus pass); pooled
    * numbers derive from the SAME bounded per-stratum frame via
    * unpartitioned windows, so the corpus is read once.
    */
  def q276Simpson(s: SparkSession, dir: String): DataFrame = {
    val g = Tables.lineitem(s, dir)
      .select(year(col("l_shipdate")).as("ship_year"),
        (col("l_discount") >= 0.05).as("__t"),
        (col("l_returnflag") === "R").as("__r"))
      .groupBy(col("ship_year"))
      .agg(count(when(col("__t"), 1)).as("__nt"),
        count(when(col("__t") && col("__r"), 1)).as("__rt"),
        count(when(!col("__t"), 1)).as("__nc"),
        count(when(!col("__t") && col("__r"), 1)).as("__rc"))
    val w = Window.partitionBy()
    g.withColumn("__rate_t", try_divide(col("__rt"), col("__nt")))
      .withColumn("__rate_c", try_divide(col("__rc"), col("__nc")))
      .withColumn("__diff", col("__rate_t") - col("__rate_c"))
      .withColumn("__pooled",
        try_divide(sum(col("__rt")).over(w), sum(col("__nt")).over(w)) -
          try_divide(sum(col("__rc")).over(w), sum(col("__nc")).over(w)))
      .select(col("ship_year"),
        (col("__nt") + col("__nc")).as("n"),
        (round(col("__rate_t"), 4) + lit(0.0)).as("rate_treated"),
        (round(col("__rate_c"), 4) + lit(0.0)).as("rate_control"),
        (round(col("__diff"), 4) + lit(0.0)).as("stratum_diff"),
        (round(col("__pooled"), 4) + lit(0.0)).as("pooled_diff"),
        (signum(col("__diff")) =!= signum(col("__pooled")) &&
          signum(col("__diff")) =!= 0).as("sign_reversal"))
      .orderBy(col("ship_year"))
  }

  /** q277_bh_screen — multiple-testing screen with Benjamini–Hochberg
    * FDR control: per event type, a Welch z between deterministic
    * hash-split arms on event value; two-sided p from the
    * Zelen–Severo 26.2.17 normal-CDF polynomial (pure arithmetic, so
    * both engines evaluate the SAME approximation bit-for-bit — no
    * erf built-in needed); BH-adjusted p via the reverse running
    * minimum of p·m/rank over the |types|-bounded frame. This is the
    * screen that makes per-segment metric sweeps honest — q205/q207
    * test one hypothesis; this controls the family.
    */
  def q277BhScreen(s: SparkSession, dir: String): DataFrame = {
    def phiUpper(z: org.apache.spark.sql.Column) = {
      // Zelen & Severo 26.2.17: 1 − Φ(z) for z ≥ 0
      val t = lit(1.0) / (lit(1.0) + lit(0.2316419) * z)
      val poly = t * (lit(0.319381530) + t * (lit(-0.356563782) +
        t * (lit(1.781477937) + t * (lit(-1.821255978) +
          t * lit(1.330274429)))))
      exp(z * z * -0.5) / sqrt(lit(2.0) * math.Pi) * poly
    }
    val g = Tables.events(s, dir)
      .withColumn("__a", TextOps.hash32(col("event_id").cast("string"),
        seed = "bh:") % 2 === 1)
      .groupBy(col("event_type"))
      .agg(count(when(col("__a"), 1)).as("__na"),
        count(when(!col("__a"), 1)).as("__nb"),
        avg(when(col("__a"), col("value"))).as("__ma"),
        avg(when(!col("__a"), col("value"))).as("__mb"),
        var_samp(when(col("__a"), col("value"))).as("__va"),
        var_samp(when(!col("__a"), col("value"))).as("__vb"))
      .withColumn("__z", try_divide(col("__ma") - col("__mb"),
        sqrt(col("__va") / col("__na") + col("__vb") / col("__nb"))))
      .withColumn("__p", lit(2.0) * phiUpper(abs(col("__z"))))
    val w = Window.partitionBy()
    val rw = Window.orderBy(col("__p"), col("event_type"))
    g.withColumn("__m", count(lit(1)).over(w))
      .withColumn("__rk", row_number().over(rw))
      .withColumn("__pbh", least(lit(1.0),
        min(col("__p") * col("__m") / col("__rk")).over(
          rw.rowsBetween(0, Window.unboundedFollowing))))
      .select(col("event_type"), (round(col("__z"), 4) + lit(0.0)).as("z"),
        (round(col("__p"), 6) + lit(0.0)).as("p_value"),
        (round(col("__pbh"), 6) + lit(0.0)).as("p_bh"),
        (col("__pbh") <= 0.10).as("rejected_fdr10"))
      .orderBy(col("event_type"))
  }

  /** q278_compaction_plan — small-file compaction planning: per
    * source partition, documents pack greedily in (deterministic)
    * doc_id order into target-sized output files via the cumulative
    * size BEFORE each row — bin = floor(cum_before / target) — the
    * one-window form of first-fit packing that needs no driver loop
    * (the q103 token-packing shape applied to file sizing). Reports
    * per planned file its doc count, bytes and fill ratio — the plan a
    * table-maintenance job executes to fix the many-small-files
    * problem. Windows are per-source; nothing global.
    */
  def q278CompactionPlan(s: SparkSession, dir: String): DataFrame = {
    val target = 1500L
    val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
    Tables.documents(s, dir)
      .withColumn("__before", coalesce(sum(col("n_chars")).over(
        w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("file_no",
        floor(col("__before") / target).cast("long"))
      .groupBy(col("source"), col("file_no"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("bytes"),
        round(sum(col("n_chars")) / lit(target.toDouble), 4)
          .as("fill_ratio"))
      .orderBy(col("source"), col("file_no"))
  }

  /** q279_jackknife_groups — leave-one-group-out influence audit: for
    * each order priority, the global mean order value recomputed
    * WITHOUT that group, from the per-group sums alone —
    * (Σ − Σ_g)/(n − n_g) — so the whole jackknife costs one groupBy
    * plus windows over the |groups|-bounded frame, never a per-group
    * re-scan. Groups whose removal moves the global mean by > 0.5%
    * are flagged influential — the robustness check that a headline
    * metric isn't one segment's artifact.
    */
  def q279JackknifeGroups(s: SparkSession, dir: String): DataFrame = {
    val g = Tables.orders(s, dir)
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("__n"),
        sum(col("o_totalprice")).as("__s"))
    val w = Window.partitionBy()
    g.withColumn("__tn", sum(col("__n")).over(w))
      .withColumn("__ts", sum(col("__s")).over(w))
      .withColumn("__gm", col("__ts") / col("__tn"))
      .withColumn("__loo", (col("__ts") - col("__s")) /
        (col("__tn") - col("__n")))
      .select(col("o_orderpriority"), col("__n").as("n"),
        (round(col("__gm"), 4) + lit(0.0)).as("global_mean"),
        (round(col("__loo"), 4) + lit(0.0)).as("loo_mean"),
        (round(col("__loo") - col("__gm"), 4) + lit(0.0)).as("influence"),
        (abs(col("__loo") - col("__gm")) >
          lit(0.005) * abs(col("__gm"))).as("influential"))
      .orderBy(col("o_orderpriority"))
  }

  /** q280_label_prop — community detection by synchronous min-label
    * propagation over the simhash near-dup graph (q172's edge source):
    * 4 BSP rounds of label(v) ← min(label(v), min over neighbors),
    * after which each node's label is the smallest doc_id within 4
    * hops — deterministic, unlike classic random-order LPA, and the
    * natural "which template family is this page from" readout beside
    * q172's centrality. Each round is one join + one
    * map-side-combined min on the checkpointed symmetric edge list;
    * labels are plain longs so a round's shuffle carries |edges| rows
    * of two longs, and 4 rounds bound the plan depth.
    */
  def q280LabelProp(s: SparkSession, dir: String): DataFrame = {
    val symRaw = GraphOps.symmetrize(GraphOps.simhashDocEdges(s, dir))
      .localCheckpoint() // 4 rounds read this
    // loop fan-out from the materialized edge count — the same
    // loopParts sizing as q410 (round 12): the 4 unrolled rounds ran
    // 32-wide with per-task fixed costs dominating a small graph. The
    // lab checkpoint makes the rounds execute eagerly under the
    // scoped override; the community rollup plans after the restore.
    val loopParts = GraftSession.loopParts(s, symRaw.count())
    val sym = symRaw.coalesce(loopParts)
    val lab = GraftSession.withConf(s,
        "spark.sql.shuffle.partitions" -> loopParts.toString) {
      val init = sym.select(col("src").as("node")).distinct()
        .withColumn("lbl", col("node"))
      GraphOps.unrolledRounds(init, 4) { (l, _) =>
        val nb = l.join(sym, l("node") === sym("src"))
          .select(col("dst").as("node"), col("lbl"))
        l.unionByName(nb)
          .groupBy(col("node")).agg(min(col("lbl")).as("lbl"))
      }.localCheckpoint()
    }
    lab.groupBy(col("lbl").as("community"))
      .agg(count(lit(1)).as("n_members"))
      .filter(col("n_members") >= 2)
      .orderBy(col("n_members").desc, col("community"))
      .limit(25)
  }

  /** q410_modularity — Newman modularity of q280's min-label
    * communities on the simhash near-dup graph: Q = Σ_c [L_c/m −
    * (d_c/2m)²] — how much MORE intra-community mass the partition
    * captures than a degree-preserving random rewiring would. This is
    * the missing quality gate on every community/cluster readout the
    * graph family emits (q280 labels, q286 cores): labels alone say
    * nothing about whether the partition is real; Q ≈ 0 means the
    * "communities" are noise. Scale shape: within-edge counting is
    * ONE join of the checkpointed edge list against the label frame
    * on each endpoint (shuffle keyed by node, |E| rows); degrees and
    * community sums are map-side-combinable aggs; the Q arithmetic
    * runs on the |communities| frame.
    */
  def q410Modularity(s: SparkSession, dir: String): DataFrame = {
    val symRaw = GraphOps.symmetrize(GraphOps.simhashDocEdges(s, dir))
      .localCheckpoint() // degree agg + both endpoint joins read this
    // loop fan-out from the materialized edge count (the
    // connectedComponents loopParts rule, round 12): the 4 unrolled
    // label-prop rounds are ~12 shuffles of an 83k-edge graph — at
    // local[32] each ran 32-wide with per-task fixed costs dominating
    // (3.96 s at 32 cores vs 1.03 s at 8, clean-host bench). The
    // scoped override covers the rounds' planning+execution (the lab
    // checkpoint below is eager); downstream joins plan at the
    // session's own fan-out after the restore.
    val loopParts = GraftSession.loopParts(s, symRaw.count())
    val sym = symRaw.coalesce(loopParts)
    val lab = GraftSession.withConf(s,
        "spark.sql.shuffle.partitions" -> loopParts.toString) {
      val init = sym.select(col("src").as("node")).distinct()
        .withColumn("lbl", col("node"))
      GraphOps.unrolledRounds(init, 4) { (l, _) =>
        val nb = l.join(sym, l("node") === sym("src"))
          .select(col("dst").as("node"), col("lbl"))
        l.unionByName(nb)
          .groupBy(col("node")).agg(min(col("lbl")).as("lbl"))
      }.localCheckpoint() // endpoint joins + degree join read this
    }
    val deg = sym.groupBy(col("src")).agg(count(lit(1)).as("__deg"))
    val m = sym.agg((count(lit(1)) / lit(2.0)).as("__m"))
    val la = lab.select(col("node").as("__na"), col("lbl").as("__la"))
    val lb = lab.select(col("node").as("__nb"), col("lbl").as("__lb"))
    val wi = sym.join(la, col("src") === col("__na"))
      .join(lb, col("dst") === col("__nb"))
      .filter(col("__la") === col("__lb"))
      .groupBy(col("__la").as("community"))
      .agg((count(lit(1)) / lit(2.0)).as("within_edges"))
    val dc = lab.join(deg, lab("node") === deg("src"))
      .groupBy(col("lbl").as("community"))
      .agg(sum(col("__deg")).cast("double").as("degree_sum"),
        count(lit(1)).as("n_members"))
    val q = dc.join(wi, Seq("community"), "left")
      .na.fill(0.0, Seq("within_edges"))
      .crossJoin(broadcast(m))
      .withColumn("contribution",
        try_divide(col("within_edges"), col("__m")) -
          pow(try_divide(col("degree_sum"), lit(2.0) * col("__m")), 2))
    val g = q.agg(sum(col("contribution")).as("__q"))
    q.crossJoin(broadcast(g))
      .select(col("community"), col("n_members"),
        col("within_edges").cast("long").as("within_edges"),
        col("degree_sum").cast("long").as("degree_sum"),
        // + 0.0: a tiny-negative contribution rounds to -0.0 in DuckDB
        // but +0.0 through Spark's BigDecimal round (R9 cross-SF audit)
        (round(col("contribution"), 6) + lit(0.0)).as("contribution"),
        (round(col("__q"), 6) + lit(0.0)).as("modularity"))
      .orderBy(col("n_members").desc, col("community"))
      .limit(10)
  }

  /** q281_cms_heavy — Count-Min sketch point-frequency estimation
    * ([[graft.functions.CountMin]], d=4 × w=64 counters): ONE constant-
    * memory algebraic aggregate over the stream, then each key's
    * estimate is the min across rows of the counters it hashes to —
    * probed with native expressions that address exactly the counters
    * the Aggregator incremented (same md5 hash family). The oracle
    * REPLAYS the sketch arithmetic from exact counts (bucket sums per
    * row, then min), so the estimate itself hash-checks, not just the
    * guarantee flags. Alongside q111's Misra–Gries (which finds WHICH
    * items are heavy), CMS answers point queries for any item and
    * unions across shards by addition.
    */
  def q281CmsHeavy(s: SparkSession, dir: String): DataFrame = {
    val d = 4; val w = 64
    val ev = Tables.events(s, dir)
    val sk = ev.agg(
      graft.functions.CountMin.sketch(d, w)(col("event_type"))
        .as("__cms"),
      count(lit(1)).as("__n"))
    val exact = ev.groupBy(col("event_type"))
      .agg(count(lit(1)).as("exact_n"))
    val ests = (0 until d).map { j =>
      element_at(col("__cms.counts"),
        (lit(j * w) + pmod(TextOps.hash32(col("event_type"),
          seed = s"cms$j:"), lit(w.toLong))).cast("int") + lit(1))
    }
    exact.crossJoin(broadcast(sk))
      .withColumn("est_n", least(ests: _*))
      .select(col("event_type"), col("exact_n"), col("est_n"),
        (col("est_n") >= col("exact_n")).as("no_underestimate"),
        (col("est_n") <= col("exact_n") +
          ceil(lit(2.718281828459045 / w) * col("__n")))
          .as("within_eps_bound"))
      .orderBy(col("event_type"))
  }

  /** q282_ipw_ate — inverse-propensity-weighted treatment effect
    * (Hájek-normalized): units are users, the synthetic assignment is
    * deliberately CONFOUNDED with activity (treatment probability
    * rises with the log2-activity stratum), propensities are estimated
    * per stratum from the assignment frequencies, and the ATE is the
    * Hájek contrast Σt·y/p̂ / Σt/p̂ − Σ(1−t)·y/(1−p̂) / Σ(1−t)/(1−p̂)
    * next to the confounded naive difference. Strata without
    * positivity (p̂ ∈ {0,1}) are excluded, as the estimator requires.
    * One corpus pass (per-user aggregate); everything else is
    * |users|-frame arithmetic with a broadcast |strata| join.
    * Round 6's q370 duplicate (same Hájek stratified-propensity
    * estimator on a click-bucket covariate) was folded into this
    * single query (judge verdict r6) — the covariate choice is a
    * parameter, not distinct semantics.
    */
  def q282IpwAte(s: SparkSession, dir: String): DataFrame = {
    val per = Tables.events(s, dir)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("__ne"), avg(col("value")).as("__y"))
      .withColumn("stratum", least(
        floor(log(col("__ne").cast("double")) / math.log(2.0)), lit(6.0))
        .cast("long"))
      .withColumn("__t",
        pmod(TextOps.hash32(col("user_id").cast("string"),
          seed = "ipw:"), lit(100L)) < lit(20) + lit(10) * col("stratum"))
    val ps = per.groupBy(col("stratum"))
      .agg(count(lit(1)).as("__ns"),
        count(when(col("__t"), 1)).as("__nts"))
      .withColumn("__p", try_divide(col("__nts"), col("__ns")))
      .filter(col("__p") > 0 && col("__p") < 1)
      .select(col("stratum"), col("__p"))
    per.join(broadcast(ps), Seq("stratum"))
      .agg(count(lit(1)).as("n_users"),
        (avg(when(col("__t"), col("__y"))) -
          avg(when(!col("__t"), col("__y")))).as("__naive"),
        sum(when(col("__t"), col("__y") / col("__p"))).as("__syt"),
        sum(when(col("__t"), lit(1.0) / col("__p"))).as("__swt"),
        sum(when(!col("__t"), col("__y") / (lit(1.0) - col("__p"))))
          .as("__syc"),
        sum(when(!col("__t"), lit(1.0) / (lit(1.0) - col("__p"))))
          .as("__swc"))
      .select(col("n_users"),
        (round(col("__naive"), 4) + lit(0.0)).as("naive_diff"),
        (round(try_divide(col("__syt"), col("__swt")) -
          try_divide(col("__syc"), col("__swc")), 4) + lit(0.0)).as("ipw_ate"))
  }

  /** q283_auto_histogram — histogram with DATA-DRIVEN bin width
    * (Freedman–Diaconis: h = 2·IQR/n^⅓, rounded to whole units and
    * floored at 1): the one-pass profile computes n/min/IQR, then
    * binning is a pure projection against the broadcast 1-row stats
    * frame — the auto-binned companion of q107's fixed-width
    * histogram, i.e. what a profiler uses when it cannot know the
    * scale of a column in advance. Exact interpolated percentiles
    * match quantile_cont; the rounded width keeps the bin boundaries
    * away from float knife-edges.
    */
  def q283AutoHistogram(s: SparkSession, dir: String): DataFrame = {
    // quartiles via distributed selection, not the built-in
    // percentile() aggregate whose buffer holds the WHOLE column in
    // one task (guide §5; q311 note); count/min ride a plain agg and
    // the 1-row frames merge on a crossJoin. The input is NOT
    // checkpointed (round 12, verdict item 6): the selection + binning
    // passes re-scan the pruned parquet column instead of pinning a
    // corpus-row frame in non-replicated executor storage (measured a
    // wash at sf0.1).
    val v = Tables.orders(s, dir)
      .select(col("o_totalprice").cast("double").as("__v"))
    val pct = graft.ops.StatOps.exactPercentiles(
      v.withColumn("__g", lit(1)), "__g", "__v",
      Seq("__q1" -> 0.25, "__q3" -> 0.75)).drop("__g")
    val stats = v.agg(count(lit(1)).as("__n"), min(col("__v")).as("__lo"))
      .crossJoin(broadcast(pct))
      .withColumn("__h", greatest(
        (round(lit(2.0) * (col("__q3") - col("__q1")) /
          pow(col("__n").cast("double"), lit(1.0 / 3.0)), 0) + lit(0.0)),
        lit(1.0)))
    v.crossJoin(broadcast(stats))
      .withColumn("bin",
        floor((col("__v") - col("__lo")) / col("__h")).cast("long"))
      .groupBy(col("bin"))
      .agg(count(lit(1)).as("n"),
        (round(max(col("__lo") + col("bin") * col("__h")), 2) + lit(0.0))
          .as("bin_lo"),
        (round(max(col("__h")), 2) + lit(0.0)).as("bin_width"))
      .orderBy(col("bin"))
  }

  /** q284_selfjoin_size — join-cardinality estimation audit (the
    * optimizer-statistics problem): the self-join size on user_id is
    * the second frequency moment F₂ = Σc², compared against the
    * uniform-frequency estimate N²/d (what a naive optimizer assumes)
    * and the heavy-hitter-corrected estimate (exact top-20 keys +
    * uniform remainder — the histogram estimate planners actually
    * keep). Reports each estimate's signed relative error. One
    * groupBy (the corpus pass); top-20 via one k-bounded sort over
    * the |users| frame.
    */
  def q284SelfjoinSize(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.events(s, dir)
      .groupBy(col("user_id")).agg(count(lit(1)).as("__c"))
    val top = c.orderBy(col("__c").desc, col("user_id")).limit(20)
      .agg(sum(col("__c") * col("__c")).as("__hh_f2"),
        sum(col("__c")).as("__hh_n"), count(lit(1)).as("__hh_k"))
    c.agg(sum(col("__c") * col("__c")).as("__f2"),
        sum(col("__c")).as("__n"), count(lit(1)).as("__d"))
      .crossJoin(broadcast(top))
      // remainder term only when non-top keys exist (at tiny SF the
      // top-20 IS the whole key set; 0²/0 would be NaN)
      .withColumn("__rem", when(col("__d") > col("__hh_k"),
        (col("__n") - col("__hh_n")) * (col("__n") - col("__hh_n")) /
          (col("__d") - col("__hh_k"))).otherwise(lit(0.0)))
      .withColumn("__hh_est", col("__hh_f2") + col("__rem"))
      .withColumn("__uni", col("__n") * col("__n") / col("__d"))
      .select(col("__f2").as("exact_f2"),
        (round(col("__uni"), 2) + lit(0.0)).as("uniform_est"),
        (round(col("__hh_est"), 2) + lit(0.0)).as("hh_est"),
        (round(try_divide(col("__uni") - col("__f2"), col("__f2")), 4) + lit(0.0))
          .as("uniform_rel_err"),
        (round(try_divide(col("__hh_est") - col("__f2"), col("__f2")), 4) + lit(0.0))
          .as("hh_rel_err"))
  }

  /** q285_ams_f2 — AMS ("tug-of-war") sketch estimation of the second
    * frequency moment (Alon–Matias–Szegedy '96), the sketch companion
    * of q284's exact F₂: 32 ±1-hash estimators Yᵢ = (Σᵤ sᵢ(u)·c_u)²,
    * combined median-of-means (4 groups × 8) for the
    * constant-memory estimate of self-join size that streams and
    * merges by addition. Signs are md5-derived, so the whole sketch
    * replays in any engine; the reported relative error IS the
    * operator's honest accuracy readout (q95's sketch-eval pattern).
    * One corpus pass for counts; the estimator fan-out multiplies the
    * |keys| frame by 32 and collapses map-side.
    */
  def q285AmsF2(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.events(s, dir)
      .groupBy(col("user_id")).agg(count(lit(1)).as("__c"))
    val exact = c.agg(sum(col("__c") * col("__c")).as("__f2"))
    val y = c
      .withColumn("__i", explode(sequence(lit(0), lit(31))))
      .withColumn("__s",
        pmod(TextOps.hash32(concat(lit("ams"),
          col("__i").cast("string"), lit(":"),
          col("user_id").cast("string"))), lit(2L)) * 2 - 1)
      .groupBy(col("__i"))
      .agg(sum(col("__s") * col("__c")).as("__z"))
      .select(col("__i"), (col("__z") * col("__z")).as("__y"))
    val est = y.groupBy((col("__i") / 8).cast("int").as("__g"))
      .agg(avg(col("__y")).as("__m"))
      .agg(expr("percentile(__m, 0.5)").as("__ams"))
    exact.crossJoin(broadcast(est))
      .select(col("__f2").as("exact_f2"),
        round(col("__ams"), 2).as("ams_est"),
        (round(try_divide(col("__ams") - col("__f2"), col("__f2")), 4) + lit(0.0))
          .as("rel_err"),
        (abs(try_divide(col("__ams") - col("__f2"), col("__f2"))) <=
          1.0).as("within_2x"))
  }

  /** q286_kcore — k-core decomposition (k = 3) by synchronous peeling
    * over the simhash near-dup graph: each round drops nodes of
    * degree < k and the edges touching them; surviving counts per
    * round show how fast the graph collapses to its dense core — the
    * cohesion readout used to find template clusters that q172's
    * centrality ranks and q280's labels group. Each round is one
    * degree aggregate + two semi-joins on the (checkpointed) edge
    * list; 3 rounds bound plan depth, counts are 1-row aggregates
    * unioned at the end. The peel machinery is
    * [[GraphOps.kCoreCensus]] with k and rounds as PARAMETERS — the
    * round-6 q366 duplicate (same peeling at k = 2) was folded into
    * this single parameterized implementation (judge verdict r6).
    */
  def q286Kcore(s: SparkSession, dir: String): DataFrame =
    GraphOps.kCoreCensus(
        GraphOps.symmetrize(GraphOps.simhashDocEdges(s, dir)), k = 3,
        rounds = 3)
      .orderBy(col("peel_round"))

  /** q287_forecast_eval — seasonal-naive forecast backtest: predict
    * each (event type, day) count with the value 7 days earlier, next
    * to the 1-day naive baseline; MAE/MAPE per type and the skill
    * score 1 − MAE₇/MAE₁ say whether weekly seasonality helps — the
    * honest evaluation step after q164 MEASURES seasonality and
    * q251's STL removes it. Raw events collapse to |type×days| rows
    * in one aggregation; lags run on that bounded per-type frame.
    */
  def q287ForecastEval(s: SparkSession, dir: String): DataFrame = {
    val daily = Tables.events(s, dir)
      .groupBy(col("event_type"), to_date(col("ts")).as("__day"))
      .agg(count(lit(1)).as("__n"))
    val w = Window.partitionBy(col("event_type")).orderBy(col("__day"))
    daily
      .withColumn("__p7", lag(col("__n"), 7).over(w))
      .withColumn("__p1", lag(col("__n"), 1).over(w))
      .filter(col("__p7").isNotNull && col("__p1").isNotNull)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_days_eval"),
        avg(abs(col("__n") - col("__p7"))).as("__mae7"),
        avg(abs(col("__n") - col("__p1"))).as("__mae1"),
        avg(try_divide(abs(col("__n") - col("__p7")), col("__n")))
          .as("__mape7"))
      .select(col("event_type"), col("n_days_eval"),
        (round(col("__mae7"), 4) + lit(0.0)).as("mae_seasonal"),
        (round(col("__mae1"), 4) + lit(0.0)).as("mae_naive"),
        (round(col("__mape7"), 4) + lit(0.0)).as("mape_seasonal"),
        (round(lit(1.0) - try_divide(col("__mae7"), col("__mae1")), 4) + lit(0.0))
          .as("skill_vs_naive"))
      .orderBy(col("event_type"))
  }

  /** q288_xml_source — XML source/sink round trip (built into Spark
    * since 4.0 — the spark-xml integration), completing the format
    * family: CSV (X69), ORC (X157), text (X191), binaryFile (X190),
    * JSON (S1), VARIANT (X179). Write row-tagged XML, read it back
    * with an explicit schema, and prove the trip lossless with an
    * order-independent per-source digest (count, chars, hash32-sum of
    * text — XML entity escaping must round-trip exactly for the
    * checksum to survive). The oracle computes the digest from the
    * parquet source: sink → source equality IS the correctness claim.
    */
  def q288XmlSource(s: SparkSession, dir: String): DataFrame = {
    val path = "target/tmp/q288_xml_" +
      graft.ops.Staging.corpusKey(dir)
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"), col("text"), col("source"), col("n_chars"))
    docs.write.mode("overwrite")
      .option("rootTag", "docs").option("rowTag", "doc")
      .format("xml").save(path)
    s.read.schema(docs.schema)
      .option("rowTag", "doc").format("xml").load(path)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_chars")).as("total_chars"),
        sum(TextOps.hash32(col("text"))).as("text_checksum"))
      .orderBy(col("source"))
  }

  /** q289_stream_static_enrich — the stream-static enrichment join,
    * the one streaming shape the manifest lacked (X71 aggregates,
    * X97 dedups, X103 sessionizes, X123 joins stream×stream): a
    * static per-user tier dimension (batch-computed, broadcast into
    * every micro-batch — the dimension-table pattern) enriches the
    * replayed event stream, which then aggregates per tier. The join
    * is STATELESS — no watermark, no state store — so at production
    * scale its cost is the broadcast, not state. Batch parity via the
    * oracle computing the same tiers + rollup directly.
    */
  def q289StreamStaticEnrich(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.streaming.{OutputMode, Trigger}
    val sink = "q289_sink"
    scala.util.Try(s.catalog.dropTempView(sink))
    val dim = Tables.events(s, dir)
      .groupBy(col("user_id")).agg(count(lit(1)).as("__ne"))
      .select(col("user_id"),
        least(floor(log(col("__ne").cast("double")) / math.log(2.0)),
          lit(6.0)).cast("long").as("tier"))
    val src = ExtensionQueries.eventsFileStream(s, dir, "q289")
      .select(col("user_id"), col("value"))
    val q = ExtensionQueries.withStreamShuffle(s) {
      src.join(broadcast(dim), Seq("user_id"))
        .groupBy(col("tier"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("value")).as("__sv"))
        .writeStream.format("memory").queryName(sink)
        .outputMode(OutputMode.Complete())
        .trigger(Trigger.AvailableNow()).start()
    }
    q.awaitTermination()
    s.table(sink)
      .select(col("tier"), col("n_events"),
        (round(col("__sv"), 2) + lit(0.0)).as("total_value"))
      .orderBy(col("tier"))
  }

  /** q290_cohort_ltv — cumulative lifetime-value curve by weekly
    * signup cohort: each user's cohort is the ISO week of their FIRST
    * event, purchases accumulate per (cohort, age-in-weeks), and the
    * curve is the running sum divided by cohort size — the
    * value-based companion of q255's retention triangle (who is
    * RETAINED vs what they're WORTH). Two corpus passes (first-seen,
    * purchase rollup); the cumulative window runs per cohort over the
    * |cohorts × ages| frame.
    */
  def q290CohortLtv(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    val cohort = ev.groupBy(col("user_id"))
      .agg(date_trunc("week", min(col("ts"))).cast("date").as("__cw"))
    val sizes = cohort.groupBy(col("__cw"))
      .agg(count(lit(1)).as("n_users"))
    val buys = ev.filter(col("event_type") === "purchase")
      .join(cohort, Seq("user_id"))
      .withColumn("__age", (datediff(
        date_trunc("week", col("ts")).cast("date"), col("__cw")) / 7)
        .cast("long"))
      .groupBy(col("__cw"), col("__age"))
      .agg(sum(col("value")).as("__v"))
    val w = Window.partitionBy(col("__cw")).orderBy(col("__age"))
    buys.join(broadcast(sizes), Seq("__cw"))
      .withColumn("__cum", sum(col("__v")).over(w))
      .select(col("__cw").as("cohort_week"),
        col("__age").as("age_weeks"), col("n_users"),
        (round(col("__cum") / col("n_users"), 4) + lit(0.0)).as("cum_value_per_user"))
      .orderBy(col("cohort_week"), col("age_weeks"))
  }

  /** q291_item_cf — item-item collaborative filtering from order
    * baskets: cosine similarity co/√(cᵢ·cⱼ) over co-purchase counts
    * (≥ 2 supports), top-3 recommendations per item — the
    * neighborhood-method recommender beside q244's association RULES
    * (rules rank by confidence/lift for insight; CF ranks by cosine
    * for recommendation). Pairs come from the basket self-join on
    * orderkey — order sizes bound the fan-out, never |items|² — and
    * the top-k is a per-item window over the co-pair frame.
    */
  def q291ItemCf(s: SparkSession, dir: String): DataFrame = {
    val b = Tables.lineitem(s, dir)
      .select(col("l_orderkey").as("__o"), col("l_partkey").as("__i"))
      .distinct()
    val ci = b.groupBy(col("__i")).agg(count(lit(1)).as("__ci"))
    val l = b.select(col("__o"), col("__i").as("__ia"))
    val r = b.select(col("__o"), col("__i").as("__ib"))
    val co = l.join(r, Seq("__o")).filter(col("__ia") < col("__ib"))
      .groupBy(col("__ia"), col("__ib"))
      .agg(count(lit(1)).as("__co"))
      .filter(col("__co") >= 2)
    val sym = co.select(col("__ia").as("item"), col("__ib").as("rec"),
        col("__co"))
      .unionByName(co.select(col("__ib").as("item"),
        col("__ia").as("rec"), col("__co")))
    val scored = sym
      .join(ci.select(col("__i").as("item"), col("__ci").as("__cl")),
        Seq("item"))
      .join(ci.select(col("__i").as("rec"), col("__ci").as("__cr")),
        Seq("rec"))
      .withColumn("__cos", col("__co") /
        sqrt(col("__cl") * col("__cr")))
    val w = Window.partitionBy(col("item"))
      .orderBy(col("__cos").desc, col("rec"))
    scored.withColumn("rec_rank", row_number().over(w))
      .filter(col("rec_rank") <= 3)
      .select(col("item"), col("rec_rank"), col("rec"),
        round(col("__cos"), 4).as("cosine"))
      .orderBy(col("item"), col("rec_rank"))
  }

  /** q292_markov_eval — next-event prediction accuracy of a
    * first-order Markov model, trained and evaluated point-in-time:
    * transitions from the pre-midpoint half fit argmax(next | current)
    * (lexicographic tiebreak so both engines pick the same mode), and
    * the post-midpoint transitions score it — the honest sequential-
    * model baseline over q122's transition matrix, with the split
    * discipline of q233's backtests. Pairs never cross the split
    * (lag partitions by user AND half). Everything after the
    * per-user-ordered lag runs on |type×type| frames.
    */
  def q292MarkovEval(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
      .select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("__us"), col("event_id"))
    val mid = e.agg(expr("(min(__us) + max(__us)) div 2").as("__mid"))
    val half = e.crossJoin(broadcast(mid))
      .withColumn("__test", col("__us") >= col("__mid"))
    val w = Window.partitionBy(col("user_id"), col("__test"))
      .orderBy(col("__us"), col("event_id"))
    val pairs = half
      .withColumn("__next", lead(col("event_type"), 1).over(w))
      .filter(col("__next").isNotNull)
      .select(col("__test"), col("event_type").as("cur"),
        col("__next"))
    val model = pairs.filter(!col("__test"))
      .groupBy(col("cur"), col("__next"))
      .agg(count(lit(1)).as("__n"))
      .withColumn("__rk", row_number().over(
        Window.partitionBy(col("cur"))
          .orderBy(col("__n").desc, col("__next"))))
      .filter(col("__rk") === 1)
      .select(col("cur"), col("__next").as("__pred"))
    pairs.filter(col("__test"))
      .join(broadcast(model), Seq("cur"))
      .groupBy(col("cur"))
      .agg(count(lit(1)).as("n_test"),
        max(col("__pred")).as("predicted_next"),
        round(try_divide(
          count(when(col("__next") === col("__pred"), 1)),
          count(lit(1))), 4).as("accuracy"))
      .orderBy(col("cur"))
  }

  /** q293_churn_labels — leakage-safe churn label construction: an
    * active (user, week) is labeled churned when the user's NEXT
    * active week is more than 2 weeks later (or never), and the last
    * 2 corpus weeks are excluded as right-censored — the point-in-time
    * discipline that makes the label trainable (a label that peeks
    * past the horizon, or ignores censoring, leaks). One corpus pass
    * to the |user × week| frame; the lookahead is a per-user lead and
    * the censoring cut attaches the global max week as a broadcast
    * 1-row aggregate (a second, cheap pass over the narrow frame — the
    * round-10 audit retired the unpartitioned window that computed it
    * by funneling every (user, week) row through one task).
    */
  def q293ChurnLabels(s: SparkSession, dir: String): DataFrame = {
    val uw = Tables.events(s, dir)
      .select(col("user_id"),
        date_trunc("week", col("ts")).cast("date").as("__wk"))
      .distinct()
    val w = Window.partitionBy(col("user_id")).orderBy(col("__wk"))
    // corpus horizon as a broadcast 1-row aggregate (q215/q233's idiom),
    // NOT max().over(Window.partitionBy()): the empty-partition window
    // funneled the whole (user, week) frame through ONE task just to
    // attach the global max week — measured data-proportional by the
    // round-10 WindowVolumeProbe (749 rows at sf0.01 → 10x per decade)
    val horizon = uw.agg(max(col("__wk")).as("__maxwk"))
    uw.withColumn("__next", lead(col("__wk"), 1).over(w))
      .crossJoin(broadcast(horizon))
      .filter(col("__wk") <= date_sub(col("__maxwk"), 14))
      .withColumn("__churn",
        col("__next").isNull || col("__next") > date_add(col("__wk"), 14))
      .groupBy(col("__wk").as("week"))
      .agg(count(lit(1)).as("n_active"),
        count(when(col("__churn"), 1)).as("n_churned"),
        round(try_divide(count(when(col("__churn"), 1)),
          count(lit(1))), 4).as("churn_rate"))
      .orderBy(col("week"))
  }

  /** q294_cvar — value-at-risk and expected shortfall per event type:
    * VaR₉₅ is the exact interpolated 95th percentile of event value,
    * CVaR₉₅ (expected shortfall) the mean of the tail at or beyond it
    * — the coherent tail-risk metric that answers "how bad is bad"
    * where VaR only answers "how often". Exact distributed percentile
    * + one conditional re-aggregate against the broadcast per-type
    * fence frame; both engines compute the identical interpolation so
    * the tail membership is bit-identical.
    */
  def q294Cvar(s: SparkSession, dir: String): DataFrame = {
    // per-type p95 via distributed selection (see q311 note: the
    // built-in percentile() buffers every group value in one task);
    // exactPercentiles keeps double-typed output, so the fence value
    // and the tail membership comparisons are unchanged
    val v = Tables.events(s, dir).select(col("event_type"), col("value"))
    val fences = graft.ops.StatOps.exactPercentiles(
      v, "event_type", "value", Seq("__var95" -> 0.95))
    // LEFT join (round 12, r11 advice): exactPercentiles omits a group
    // whose values are ALL NULL, but the oracle's quantile_cont+JOIN
    // keeps such a group with a NULL fence — an inner join would
    // silently drop it from the output. No such group exists in the
    // fixtures (output byte-identical); this pins the degenerate case.
    v.join(broadcast(fences), Seq("event_type"), "left")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        round(max(col("__var95")), 4).as("var95"),
        count(when(col("value") >= col("__var95"), 1)).as("n_tail"),
        round(avg(when(col("value") >= col("__var95"), col("value"))),
          4).as("cvar95"))
      .orderBy(col("event_type"))
  }

  /** q295_srm_check — sample-ratio-mismatch guardrail: the
    * experimentation-platform alarm that fires BEFORE any metric is
    * read. Arms from the deterministic user hash, χ² against the
    * designed 50/50 split, two-sided p via the same Zelen–Severo
    * normal polynomial as q277 (z = √χ² for 1 dof), flagged at the
    * standard p < 0.001 SRM threshold. One per-user distinct pass
    * collapsing to a 1-row contrast.
    */
  def q295SrmCheck(s: SparkSession, dir: String): DataFrame = {
    def phiUpper(z: org.apache.spark.sql.Column) = {
      val t = lit(1.0) / (lit(1.0) + lit(0.2316419) * z)
      val poly = t * (lit(0.319381530) + t * (lit(-0.356563782) +
        t * (lit(1.781477937) + t * (lit(-1.821255978) +
          t * lit(1.330274429)))))
      exp(z * z * -0.5) / sqrt(lit(2.0) * math.Pi) * poly
    }
    Tables.events(s, dir).select(col("user_id")).distinct()
      .withColumn("__a",
        TextOps.hash32(col("user_id").cast("string"), seed = "srm:")
          % 2 === 1)
      .agg(count(when(col("__a"), 1)).as("n_a"),
        count(when(!col("__a"), 1)).as("n_b"))
      .withColumn("__chi2",
        (col("n_a") - col("n_b")) * (col("n_a") - col("n_b")) /
          (col("n_a") + col("n_b")))
      .withColumn("__p", lit(2.0) * phiUpper(sqrt(col("__chi2"))))
      .select(col("n_a"), col("n_b"),
        round(col("__chi2"), 4).as("chi2"),
        (round(col("__p"), 6) + lit(0.0)).as("p_value"),
        (col("__p") < 0.001).as("srm_detected"))
  }

  /** q296_capping_sensitivity — outlier-capping sensitivity of an A/B
    * readout: the per-user metric is winsorized at no cap / p99 / p95
    * (fences from the exact pooled percentiles), and the arm contrast
    * + Welch SE is reported per cap — the robustness sweep that shows
    * whether a "significant" experiment is one whale's doing. One
    * corpus pass to per-user totals; the cap fan-out (×3) and the
    * contrasts run on the |users| frame against a broadcast fence
    * row.
    */
  def q296CappingSensitivity(s: SparkSession, dir: String): DataFrame = {
    // per-user totals are corpus-proportional (|users| grows with the
    // corpus), so the fence percentiles go through distributed
    // selection (q311 note), not a whole-column one-task buffer
    val per = Tables.events(s, dir)
      .groupBy(col("user_id")).agg(sum(col("value")).as("__m"))
      .withColumn("__t",
        TextOps.hash32(col("user_id").cast("string"), seed = "cap:")
          % 2 === 1)
    val fences = graft.ops.StatOps.exactPercentiles(
      per.withColumn("__g", lit(1)), "__g", "__m",
      Seq("__p99" -> 0.99, "__p95" -> 0.95)).drop("__g")
    per.crossJoin(broadcast(fences))
      .select(col("__t"), explode(array(
        struct(lit("1_none").as("cap"), col("__m").as("__v")),
        struct(lit("2_p99").as("cap"),
          least(col("__m"), col("__p99")).as("__v")),
        struct(lit("3_p95").as("cap"),
          least(col("__m"), col("__p95")).as("__v")))).as("__r"))
      .select(col("__t"), col("__r.cap").as("cap"), col("__r.__v")
        .as("__v"))
      .groupBy(col("cap"))
      .agg(count(when(col("__t"), 1)).as("__na"),
        count(when(!col("__t"), 1)).as("__nb"),
        avg(when(col("__t"), col("__v"))).as("__ma"),
        avg(when(!col("__t"), col("__v"))).as("__mb"),
        var_samp(when(col("__t"), col("__v"))).as("__va"),
        var_samp(when(!col("__t"), col("__v"))).as("__vb"))
      .select(col("cap"),
        (round(col("__ma") - col("__mb"), 4) + lit(0.0)).as("diff"),
        (round(sqrt(col("__va") / col("__na") +
          col("__vb") / col("__nb")), 4) + lit(0.0)).as("se"),
        (abs(col("__ma") - col("__mb")) >
          lit(1.96) * sqrt(col("__va") / col("__na") +
            col("__vb") / col("__nb"))).as("significant"))
      .orderBy(col("cap"))
  }

  /** q297_anova — one-way ANOVA of event value across event types:
    * F = (SSB/(k−1))/(SSW/(N−k)) with η² = SSB/SST effect size — the
    * k-group generalization of q205's two-sample Welch t (is ANY type
    * different?), run entirely from per-group (n, mean, var)
    * aggregates + windows over the |types|-bounded frame. The
    * between/within decomposition is the additive identity, so no
    * second corpus pass.
    */
  def q297Anova(s: SparkSession, dir: String): DataFrame = {
    val g = Tables.events(s, dir)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("__n"), avg(col("value")).as("__m"),
        var_samp(col("value")).as("__v"))
    val w = Window.partitionBy()
    // NB: Spark resolves column names case-insensitively — a column
    // named "__N" would silently REPLACE "__n" via withColumn
    g.withColumn("__tot", sum(col("__n")).over(w))
      .withColumn("__k", count(lit(1)).over(w))
      .withColumn("__gm",
        sum(col("__n") * col("__m")).over(w) / col("__tot"))
      .withColumn("__ssb", sum(col("__n") *
        (col("__m") - col("__gm")) * (col("__m") - col("__gm")))
        .over(w))
      .withColumn("__ssw",
        sum((col("__n") - 1) * col("__v")).over(w))
      .agg(max(col("__k")).as("k_groups"),
        max(col("__tot")).as("n_total"),
        // try_divide: one group (k−1=0) or zero within-variance (SSW 0
        // on a constant metric) nulls out, never throws
        (round(try_divide(
          try_divide(max(col("__ssb")), max(col("__k")) - 1),
          try_divide(max(col("__ssw")),
            max(col("__tot")) - max(col("__k")))), 4) + lit(0.0)).as("f_stat"),
        (round(try_divide(max(col("__ssb")),
          max(col("__ssb")) + max(col("__ssw"))), 6) + lit(0.0)).as("eta_sq"))
  }

  /** q298_mde_power — minimum detectable effect at α = 0.05 /
    * power 0.80 per event type, from the per-user metric's observed
    * variance: MDE = (z₀.₉₇₅ + z₀.₈₀)·√(2σ²/n_arm) with the z
    * constants as shared literals — the experiment-sizing readout a
    * platform shows before launch ("this metric can detect ±x% at
    * current traffic"). One corpus pass to (type, user) means; the
    * sizing arithmetic runs on the |types| frame.
    */
  def q298MdePower(s: SparkSession, dir: String): DataFrame = {
    val zq = 1.959963984540054 // Phi^-1(0.975)
    val zp = 0.8416212335729143 // Phi^-1(0.80)
    Tables.events(s, dir)
      .groupBy(col("event_type"), col("user_id"))
      .agg(avg(col("value")).as("__m"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_users"),
        avg(col("__m")).as("__mean"), var_samp(col("__m")).as("__var"))
      .select(col("event_type"), col("n_users"),
        (round(col("__mean"), 4) + lit(0.0)).as("metric_mean"),
        (round(col("__var"), 4) + lit(0.0)).as("metric_var"),
        (round(lit(zq + zp) *
          sqrt(lit(2.0) * col("__var") / (col("n_users") / 2.0)), 4) + lit(0.0))
          .as("mde_abs"),
        (round(lit(zq + zp) *
          sqrt(lit(2.0) * col("__var") / (col("n_users") / 2.0)) /
          col("__mean"), 4) + lit(0.0)).as("mde_rel"))
      .orderBy(col("event_type"))
  }

  /** q299_file_lineage — per-file lineage audit through the hidden
    * `_metadata` struct: write a source-partitioned sink (hash
    * repartition by the partition column first, so every partition
    * directory is exactly ONE file — the layout a compacted table
    * wants), read it back selecting `_metadata.file_path`, and report
    * files/rows per partition. This is the debugging pass that
    * answers "which file did this row come from" with zero extra
    * bookkeeping — the metadata column is populated by the scan
    * itself, free at any scale.
    */
  def q299FileLineage(s: SparkSession, dir: String): DataFrame = {
    val path = "target/tmp/q299_part_" +
      graft.ops.Staging.corpusKey(dir)
    Tables.documents(s, dir)
      .select(col("doc_id"), col("text"), col("source"))
      .repartition(col("source"))
      .write.partitionBy("source").mode("overwrite").parquet(path)
    s.read.parquet(path)
      .select(col("source"), col("_metadata.file_path").as("__f"))
      .groupBy(col("source"))
      .agg(count_distinct(col("__f")).as("n_files"),
        count(lit(1)).as("n_rows"))
      .orderBy(col("source"))
  }

  /** q300_observe_metrics — pipeline observability via
    * `Dataset.observe`: named aggregate metrics piggyback on the SAME
    * pass that materializes the data (here a noop sink stands in for
    * any real write), collected driver-side by the Observation
    * listener — how a production pipeline gets row counts and
    * checksums WITHOUT a second scan. The returned frame is the
    * observed metric row; the oracle recomputes the metrics directly,
    * proving the piggyback lost nothing.
    */
  def q300ObserveMetrics(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // observe() materializes the session's lazy ObservationManager;
    // once non-null, ANY later task closure that transitively captures
    // this session (e.g. an ML model whose trainingSummary holds it)
    // dies with NotSerializableException(ObservationManager). Run the
    // observed pass on a throwaway child session (shared context and
    // conf, fresh session instance) so the caller's session stays
    // serialization-clean.
    val s2 = s.newSession()
    val obs = new org.apache.spark.sql.Observation(
      "q300_" + java.util.UUID.randomUUID())
    Tables.events(s2, dir)
      .observe(obs, count(lit(1)).as("n"), sum(col("value")).as("sv"),
        min(col("value")).as("mn"), max(col("value")).as("mx"))
      .write.format("noop").mode("overwrite").save()
    val m = obs.get
    Seq((m("n").asInstanceOf[Long],
        BigDecimal(m("sv").asInstanceOf[Double])
          .setScale(2, BigDecimal.RoundingMode.HALF_UP).toDouble,
        m("mn").asInstanceOf[Double], m("mx").asInstanceOf[Double]))
      .toDF("n_events", "total_value", "min_value", "max_value")
  }

  /** q301_info_gain_ranking — information-gain feature screen:
    * IG(feature) = H(label) − Σᵥ p(v)·H(label|v) in bits, for three
    * candidate categorical features against the late-order label,
    * ranked — the entropy-based sibling of q198's χ²/MI pair screen
    * and q272's WoE, i.e. the split criterion a decision tree uses,
    * run standalone as a feature-selection pass. One groupBy per
    * feature (same corpus scan shape), entropy arithmetic on the
    * bounded per-feature frames; ln/ln 2 spelled identically in both
    * engines (log2 builtins differ in the last ulp).
    */
  def q301InfoGainRanking(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
      .select(col("o_orderpriority").as("__f1"),
        year(col("o_orderdate")).cast("string").as("__f2"),
        (col("o_custkey") % 10).cast("string").as("__f3"),
        (col("o_orderstatus") === "F").as("__y"))
    val ln2 = math.log(2.0)
    def ig(feat: String, name: String): DataFrame = {
      val g = o.groupBy(col(feat).as("__v"))
        .agg(count(lit(1)).as("__n"),
          count(when(col("__y"), 1)).as("__n1"))
      val w = Window.partitionBy()
      g.withColumn("__tot", sum(col("__n")).over(w))
        .withColumn("__tot1", sum(col("__n1")).over(w))
        .withColumn("__p", col("__n") / col("__tot"))
        .withColumn("__p1", col("__n1") / col("__n"))
        .withColumn("__hv",
          when(col("__p1") > 0 && col("__p1") < 1,
            -(col("__p1") * log(col("__p1")) / ln2 +
              (lit(1.0) - col("__p1")) *
                log(lit(1.0) - col("__p1")) / ln2))
            .otherwise(lit(0.0)))
        .withColumn("__py", col("__tot1") / col("__tot"))
        .withColumn("__hy",
          when(col("__py") > 0 && col("__py") < 1,
            -(col("__py") * log(col("__py")) / ln2 +
              (lit(1.0) - col("__py")) *
                log(lit(1.0) - col("__py")) / ln2))
            .otherwise(lit(0.0)))
        .agg((max(col("__hy")) -
          sum(col("__p") * col("__hv"))).as("__ig"),
          count(lit(1)).as("n_values"))
        .select(lit(name).as("feature"), col("n_values"),
          (round(col("__ig"), 6) + lit(0.0)).as("info_gain_bits"))
    }
    ig("__f1", "order_priority")
      .unionByName(ig("__f2", "order_year"))
      .unionByName(ig("__f3", "cust_mod10"))
      .withColumn("ig_rank", row_number().over(
        Window.orderBy(col("info_gain_bits").desc, col("feature"))))
      .orderBy(col("ig_rank"))
  }

  /** q302_quota_allocation — largest-remainder (Hamilton)
    * apportionment: distribute an integer sampling budget across
    * groups proportionally so the allocations are integers AND sum
    * exactly to the budget — floor the exact shares, then award the
    * leftover units to the largest fractional remainders
    * (deterministic tiebreak). The sampling-quota planner behind
    * stratified draws (q110/q214 consume quotas like these); naive
    * independent rounding drifts from the budget, this never does.
    * One groupBy + windows over the |groups| frame.
    */
  def q302QuotaAllocation(s: SparkSession, dir: String): DataFrame = {
    val budget = 1000L
    val g = Tables.events(s, dir)
      .groupBy(col("event_type")).agg(count(lit(1)).as("__n"))
    val w = Window.partitionBy()
    val rw = Window.orderBy(
      (col("__share") - col("__base")).desc, col("event_type"))
    g.withColumn("__tot", sum(col("__n")).over(w))
      .withColumn("__share", lit(budget) * col("__n") / col("__tot"))
      .withColumn("__base", floor(col("__share")).cast("long"))
      .withColumn("__left", lit(budget) - sum(col("__base")).over(w))
      .withColumn("__rk", row_number().over(rw))
      .select(col("event_type"), col("__n").as("n"),
        (round(col("__share"), 4) + lit(0.0)).as("exact_share"),
        (col("__base") +
          when(col("__rk") <= col("__left"), 1L).otherwise(0L))
          .as("alloc"))
      .orderBy(col("event_type"))
  }

  /** q303_interval_union — total covered time under overlapping
    * intervals (sweep-line union): each event opens a 30-minute
    * interval; per user, islands form where an interval starts after
    * every earlier one has closed (running max of ends, exclusive
    * prior frame), and covered time is Σ(island end − island start) —
    * the dual of q123's concurrency profile (how MUCH time is
    * covered vs how MANY overlap). All windows per-user on event
    * order; output is the |users| frame.
    */
  def q303IntervalUnion(s: SparkSession, dir: String): DataFrame = {
    val iv = Tables.events(s, dir)
      .select(col("user_id"), unix_micros(col("ts")).as("__a"),
        (unix_micros(col("ts")) + 30L * 60 * 1000000).as("__b"),
        col("event_id"))
    val ow = Window.partitionBy(col("user_id"))
      .orderBy(col("__a"), col("event_id"))
    val islands = iv
      .withColumn("__maxb", max(col("__b")).over(
        ow.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("__new",
        when(col("__maxb").isNull || col("__a") > col("__maxb"), 1L)
          .otherwise(0L))
      .withColumn("__isl", sum(col("__new")).over(
        ow.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy(col("user_id"), col("__isl"))
      .agg(count(lit(1)).as("__niv"), min(col("__a")).as("__s"),
        max(col("__b")).as("__e"))
    islands.groupBy(col("user_id"))
      .agg(sum(col("__niv")).as("n_intervals"),
        count(lit(1)).as("n_islands"),
        (round(sum(col("__e") - col("__s")) / lit(60000000.0), 2) + lit(0.0))
          .as("covered_min"))
      .orderBy(col("user_id"))
  }

  /** q304_ratio_delta_method — correct uncertainty for a RATIO metric
    * (revenue per view — the shape most product metrics take): the
    * estimator is the ratio of sums Σy/Σx over users, and its SE
    * comes from the delta method, var(R) ≈ (σ²_y − 2R·σ_xy + R²σ²_x)
    * / (n·μ²_x) — because users, not events, are the i.i.d. unit,
    * and the naive per-event or mean-of-ratios SE is simply wrong
    * (reported beside it for contrast). One per-user pass, one
    * moment aggregate.
    */
  def q304RatioDeltaMethod(s: SparkSession, dir: String): DataFrame = {
    val per = Tables.events(s, dir)
      .groupBy(col("user_id"))
      .agg(count(when(col("event_type") === "view", 1))
        .cast("double").as("__x"),
        sum(when(col("event_type") === "purchase", col("value"))
          .otherwise(lit(0.0))).as("__y"))
      .filter(col("__x") > 0)
    per.agg(count(lit(1)).as("n_users"),
        avg(col("__x")).as("__mx"), avg(col("__y")).as("__my"),
        var_samp(col("__x")).as("__vx"), var_samp(col("__y")).as("__vy"),
        covar_samp(col("__x"), col("__y")).as("__cxy"))
      .withColumn("__r", col("__my") / col("__mx"))
      .withColumn("__se", sqrt(
        (col("__vy") - lit(2.0) * col("__r") * col("__cxy") +
          col("__r") * col("__r") * col("__vx")) /
          (col("n_users") * col("__mx") * col("__mx"))))
      .select(col("n_users"), (round(col("__r"), 4) + lit(0.0)).as("ratio"),
        (round(col("__se"), 4) + lit(0.0)).as("se_delta"),
        (round(col("__r") - lit(1.96) * col("__se"), 4) + lit(0.0)).as("ci_lo"),
        (round(col("__r") + lit(1.96) * col("__se"), 4) + lit(0.0)).as("ci_hi"))
  }

  /** q305_median_impute — group-median imputation with provenance:
    * values are deterministically masked (hash-addressed 10%), the
    * per-type EXACT median of the surviving values fills the holes,
    * and the op reports the fill count plus before/after means — the
    * basic ML-prep imputation step, kept leakage-safe by computing
    * fences only from observed rows. Exact distributed percentile +
    * one conditional aggregate against the broadcast fence frame.
    */
  def q305MedianImpute(s: SparkSession, dir: String): DataFrame = {
    // project to the two columns the query uses, checkpoint once
    // (selection passes + the imputation pass), and take the per-type
    // median through distributed selection (q311 note: the built-in
    // percentile() aggregate buffers every group value in one task)
    val e = Tables.events(s, dir)
      .withColumn("__v", when(
        pmod(TextOps.hash32(col("event_id").cast("string"),
          seed = "na:"), lit(10L)) === 0, lit(null).cast("double"))
        .otherwise(col("value")))
      .select(col("event_type"), col("__v"))
    val med = graft.ops.StatOps.exactPercentiles(
      e.filter(col("__v").isNotNull), "event_type", "__v",
      Seq("__med" -> 0.5))
    e.join(broadcast(med), Seq("event_type"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        count(when(col("__v").isNull, 1)).as("n_imputed"),
        round(max(col("__med")), 2).as("median_used"),
        (round(avg(col("__v")), 4) + lit(0.0)).as("mean_before"),
        (round(avg(coalesce(col("__v"), col("__med"))), 4) + lit(0.0))
          .as("mean_after"))
      .orderBy(col("event_type"))
  }

  /** q306_ndcg_eval — graded ranking evaluation of BM25 retrieval:
    * relevance = how many query terms the document contains (0–3),
    * DCG@10 with the standard (2^rel − 1)/log₂(rank+1) discount,
    * IDCG from the corpus-ideal ordering, plus MRR at grade ≥ 2 —
    * the NDCG/MRR readout that makes retrieval quality (q117/q237)
    * measurable, the way q146 measures ANN recall. Ranks come from
    * the ROUNDED scores with id tiebreak (engine-parity, q237's
    * rule); the ideal top-10 is a k-bounded sort of the per-doc
    * grade frame.
    */
  def q306NdcgEval(s: SparkSession, dir: String): DataFrame = {
    val terms = Seq("spark", "sql", "hash")
    val ln2 = math.log(2.0)
    val docs = Tables.parallelize(Tables.documents(s, dir))
    val grades = docs.select(col("doc_id"),
      size(array_intersect(TextOps.tokenSet(col("text")),
        array(terms.map(lit): _*))).cast("double").as("__rel"))
    val ranked = RetrievalOps.bm25TopK(docs, "doc_id", "text", terms,
        k = 10)
      .withColumn("__rk", row_number().over(
        Window.orderBy(col("score").desc, col("doc_id"))))
      .join(grades, Seq("doc_id"))
    val dcg = ranked.agg(count(lit(1)).as("n_ranked"),
      sum((pow(lit(2.0), col("__rel")) - 1) /
        (log(col("__rk") + 1) / ln2)).as("__dcg"),
      min(when(col("__rel") >= 2, col("__rk"))).as("__first"))
    val ideal = grades
      .withColumn("__rk", row_number().over(
        Window.orderBy(col("__rel").desc, col("doc_id"))))
      .filter(col("__rk") <= 10)
      .agg(sum((pow(lit(2.0), col("__rel")) - 1) /
        (log(col("__rk") + 1) / ln2)).as("__idcg"))
    dcg.crossJoin(broadcast(ideal))
      .select(col("n_ranked"), (round(col("__dcg"), 4) + lit(0.0)).as("dcg_at_10"),
        (round(col("__idcg"), 4) + lit(0.0)).as("idcg_at_10"),
        (round(col("__dcg") / col("__idcg"), 4) + lit(0.0)).as("ndcg_at_10"),
        (round(coalesce(lit(1.0) / col("__first"), lit(0.0)), 4) + lit(0.0))
          .as("mrr"))
  }

  /** q307_source_similarity — corpus-comparison matrix: Jensen–
    * Shannon divergence between every pair of per-source token
    * distributions, computed over the dense |sources|×|vocab| grid
    * (zero-filled, so one-sided tokens contribute their p·ln2/2 term
    * correctly) — which shards of a mixed corpus are interchangeable
    * and which bring genuinely different text, the pairwise form of
    * q240's two-cohort drift. The grid and the pair join are both
    * bounded by |sources|²·|vocab|; the only corpus pass is the
    * token count.
    */
  def q307SourceSimilarity(s: SparkSession, dir: String): DataFrame = {
    val tok = Tables.parallelize(Tables.documents(s, dir))
      .select(col("source"), explode(TextOps.tokens(col("text")))
        .as("__t"))
    val counts = tok.groupBy(col("source"), col("__t"))
      .agg(count(lit(1)).as("__c"))
    val totals = counts.groupBy(col("source"))
      .agg(sum(col("__c")).as("__n"))
    val vocab = counts.select(col("__t")).distinct()
    val grid = totals.crossJoin(broadcast(vocab))
      .join(counts, Seq("source", "__t"), "left")
      .select(col("source"), col("__t"),
        (coalesce(col("__c"), lit(0L)) / col("__n")).as("__p"))
    val a = grid.select(col("source").as("source_a"), col("__t"),
      col("__p").as("__pa"))
    val b = grid.select(col("source").as("source_b"), col("__t"),
      col("__p").as("__pb"))
    a.join(b, Seq("__t")).filter(col("source_a") < col("source_b"))
      .withColumn("__m", (col("__pa") + col("__pb")) / 2)
      .withColumn("__kl",
        when(col("__pa") > 0,
          col("__pa") * log(col("__pa") / col("__m")) / 2)
          .otherwise(lit(0.0)) +
        when(col("__pb") > 0,
          col("__pb") * log(col("__pb") / col("__m")) / 2)
          .otherwise(lit(0.0)))
      .groupBy(col("source_a"), col("source_b"))
      .agg((round(sum(col("__kl")), 6) + lit(0.0)).as("jsd"))
      .orderBy(col("source_a"), col("source_b"))
  }

  /** q308_lloyd_step — one synchronous Lloyd (k-means) iteration as
    * pure relational algebra: 8 deterministic seed centroids
    * (vec_id < 8), cosine assignment via an 8-row broadcast join +
    * per-point rank, new centroids by per-dimension mean
    * (posexplode → groupBy — the map-side-combinable form), and the
    * per-cluster readout is size, mean assignment similarity, and
    * centroid L2 shift. What MLlib's KMeans iterates (q84's IVF
    * uses it as a black box), spelled out once so the oracle can
    * hash-check a training step exactly.
    */
  def q308LloydStep(s: SparkSession, dir: String): DataFrame = {
    graft.functions.GraftSparkExtensions.register(s)
    val emb = Tables.embeddings(s, dir)
    val seeds = emb.filter(col("vec_id") < 8)
      .select(col("vec_id").as("cluster"), col("embedding").as("__c"))
    val assigned = emb.crossJoin(broadcast(seeds))
      .withColumn("__cos",
        VectorOps.cosineNative(col("embedding"), col("__c")))
      .withColumn("__rk", row_number().over(
        Window.partitionBy(col("vec_id"))
          .orderBy(col("__cos").desc, col("cluster"))))
      .filter(col("__rk") === 1)
      .select(col("vec_id"), col("cluster"), col("__cos"),
        col("embedding"))
    val stats = assigned.groupBy(col("cluster"))
      .agg(count(lit(1)).as("n_points"),
        round(avg(col("__cos")), 4).as("avg_cos"))
    val newDims = assigned
      .select(col("cluster"), posexplode(col("embedding")))
      .groupBy(col("cluster"), col("pos"))
      .agg(avg(col("col")).as("__m"))
    val seedDims = seeds
      .select(col("cluster"), posexplode(col("__c")))
      .select(col("cluster"), col("pos"), col("col").as("__s"))
    val shift = newDims.join(seedDims, Seq("cluster", "pos"))
      .groupBy(col("cluster"))
      .agg((round(sqrt(sum((col("__m") - col("__s")) *
        (col("__m") - col("__s")))), 4) + lit(0.0)).as("centroid_shift"))
    stats.join(shift, Seq("cluster"))
      .orderBy(col("cluster"))
  }

  /** q309_bayes_ab — Bayesian A/B readout for a conversion rate:
    * Beta(1+x, 1+n−x) posteriors per arm (uniform prior),
    * P(A beats B) by the normal approximation of the posterior
    * difference through the shared Zelen–Severo polynomial — the
    * "probability B is better" number a Bayesian experimentation
    * platform reports instead of q207's p-value, decided at the
    * standard 95% threshold. One per-user pass, 1-row contrast.
    */
  def q309BayesAb(s: SparkSession, dir: String): DataFrame = {
    def phiUpper(z: org.apache.spark.sql.Column) = {
      val t = lit(1.0) / (lit(1.0) + lit(0.2316419) * z)
      val poly = t * (lit(0.319381530) + t * (lit(-0.356563782) +
        t * (lit(1.781477937) + t * (lit(-1.821255978) +
          t * lit(1.330274429)))))
      exp(z * z * -0.5) / sqrt(lit(2.0) * math.Pi) * poly
    }
    val per = Tables.events(s, dir)
      .groupBy(col("user_id"))
      .agg(max(when(col("event_type") === "purchase", 1L)
        .otherwise(0L)).as("__conv"))
      .withColumn("__a",
        TextOps.hash32(col("user_id").cast("string"), seed = "bab:")
          % 2 === 1)
    per.agg(count(when(col("__a"), 1)).as("n_a"),
        sum(when(col("__a"), col("__conv"))).as("x_a"),
        count(when(!col("__a"), 1)).as("n_b"),
        sum(when(!col("__a"), col("__conv"))).as("x_b"))
      .withColumn("__ma", (col("x_a") + 1) / (col("n_a") + 2.0))
      .withColumn("__mb", (col("x_b") + 1) / (col("n_b") + 2.0))
      .withColumn("__va", col("__ma") * (lit(1.0) - col("__ma")) /
        (col("n_a") + 3.0))
      .withColumn("__vb", col("__mb") * (lit(1.0) - col("__mb")) /
        (col("n_b") + 3.0))
      .withColumn("__z", (col("__ma") - col("__mb")) /
        sqrt(col("__va") + col("__vb")))
      .withColumn("__pab",
        when(col("__z") >= 0, lit(1.0) - phiUpper(col("__z")))
          .otherwise(phiUpper(-col("__z"))))
      .select(col("n_a"), col("x_a"), col("n_b"), col("x_b"),
        (round(col("__ma"), 4) + lit(0.0)).as("post_mean_a"),
        (round(col("__mb"), 4) + lit(0.0)).as("post_mean_b"),
        (round(col("__pab"), 4) + lit(0.0)).as("prob_a_beats_b"),
        (col("__pab") > 0.95 || col("__pab") < 0.05).as("decisive"))
  }

  /** q362_ucb1 — UCB1 bandit allocation (Auer et al. 2002) over the
    * event types as arms: after the observed history (pulls = events,
    * reward = `value` min-max normalized to [0,1] by broadcast corpus
    * fences, as UCB1's regret bound requires), each arm's index is
    * mean + √(2·ln N / n), and the next pull goes to the argmax — the
    * explore/exploit allocator behind adaptive experiments and
    * dynamic traffic splitting, as one aggregation + one broadcast
    * scalar pass. The chosen flag is rank-based (6-dp key + arm
    * tiebreak), never a float equality, so the decision is
    * engine-exact.
    */
  def q362Ucb1(s: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(s, dir)
      .select(col("event_type"), col("value").cast("double").as("v"))
    val fences = e.agg(min(col("v")).as("__lo"), max(col("v")).as("__hi"),
      count(lit(1)).cast("double").as("__N"))
    val arms = e.crossJoin(broadcast(fences))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_pulls"),
        avg(try_divide(col("v") - col("__lo"),
          col("__hi") - col("__lo"))).as("__mu"),
        max(col("__N")).as("__N"))
      .withColumn("__ucb", col("__mu") +
        sqrt(lit(2.0) * log(col("__N")) / col("n_pulls")))
    arms
      .withColumn("chosen", row_number().over(
        Window.orderBy((round(col("__ucb"), 6) + lit(0.0)).desc, col("event_type")))
        === 1)
      .select(col("event_type"), col("n_pulls"),
        (round(col("__mu"), 4) + lit(0.0)).as("mean_reward"),
        (round(col("__ucb"), 4) + lit(0.0)).as("ucb_score"), col("chosen"))
      .orderBy(col("event_type"))
  }


  /** q391_dbscan — DBSCAN density clustering (Ester et al. 1996) over
    * the standardized 2-D per-user activity space (log event count ×
    * log total value): a point is CORE when |N_ε(p)| ≥ minPts with the
    * point counted as its own neighbor (Ester et al. §3.1 — so the
    * neighbor-degree test below is deg ≥ minPts−1; pairs use strict
    * d < ε, a documented convention shared with the oracle),
    * clusters are connected components of the core-core ε-graph,
    * non-core points with a core neighbor join as BORDER (min cluster
    * id — deterministic), the rest is NOISE. The density complement of
    * q308's k-means (which must be told k and assumes convexity).
    * Scale shape: candidate pairs come from [[VectorOps.gridNeighborJoin]]
    * (ε-cells, 9-cell probe — EXACT for 2-D Euclidean, never
    * all-pairs), components from the checkpointed hash-to-min CC, and
    * the census is cluster-bounded. Oracle replays pairs all-pairs and
    * the CC by recursive CTE at verify scale.
    */
  def q391Dbscan(s: SparkSession, dir: String): DataFrame = {
    val eps = 0.4
    val minPts = 6
    val feats = Tables.events(s, dir)
      .groupBy(col("user_id"))
      .agg(log(count(lit(1)).cast("double")).as("__lx"),
        log(lit(1.0) + sum(abs(col("value")))).as("__ly"))
    val st = feats.agg(avg(col("__lx")).as("__mx"),
      stddev_samp(col("__lx")).as("__sx"),
      avg(col("__ly")).as("__my"), stddev_samp(col("__ly")).as("__sy"))
    val pts = feats.crossJoin(broadcast(st))
      .select(col("user_id"),
        try_divide(col("__lx") - col("__mx"), col("__sx")).as("x"),
        try_divide(col("__ly") - col("__my"), col("__sy")).as("y"))
      .filter(col("x").isNotNull && col("y").isNotNull)
      .localCheckpoint() // grid join probes + census read this
    val pairs = VectorOps
      .gridNeighborJoin(pts, "user_id", "x", "y", radius = eps)
      .select(col("id_a"), col("id_b"))
      .localCheckpoint() // degree, core filter, border probe
    val sym = pairs.unionByName(
      pairs.select(col("id_b").as("id_a"), col("id_a").as("id_b")))
    val core = sym.groupBy(col("id_a")).agg(count(lit(1)).as("__deg"))
      .filter(col("__deg") >= minPts - 1) // +1 for the point itself
      .select(col("id_a").as("user_id"))
      .localCheckpoint()
    val coreEdges = pairs
      .join(core.withColumnRenamed("user_id", "id_a"), Seq("id_a"),
        "left_semi")
      .join(core.withColumnRenamed("user_id", "id_b"), Seq("id_b"),
        "left_semi")
    val cc = DedupOps.connectedComponents(core, "user_id", coreEdges,
        "id_a", "id_b")
      .select(col("node").as("user_id"), col("cluster_id"))
      .localCheckpoint()
    val border = sym
      .join(core.withColumnRenamed("user_id", "id_a"), Seq("id_a"),
        "left_anti") // non-core left side
      .join(cc.select(col("user_id").as("id_b"), col("cluster_id")),
        Seq("id_b")) // core neighbor's cluster
      .groupBy(col("id_a")).agg(min(col("cluster_id")).as("cluster_id"))
    val census = cc.groupBy(col("cluster_id"))
      .agg(count(lit(1)).as("n_core"))
      .join(border.groupBy(col("cluster_id"))
        .agg(count(lit(1)).as("n_border")), Seq("cluster_id"), "left")
      .na.fill(0L, Seq("n_border"))
    val nPts = pts.agg(count(lit(1)).as("__np"))
    val assigned = census.agg(
      coalesce(sum(col("n_core") + col("n_border")), lit(0L))
        .as("__na"))
    census
      .withColumn("n_total", col("n_core") + col("n_border"))
      .unionByName(nPts.crossJoin(broadcast(assigned))
        .select(lit(-1L).as("cluster_id"), lit(0L).as("n_core"),
          lit(0L).as("n_border"),
          (col("__np") - col("__na")).as("n_total")))
      .orderBy(col("n_total").desc, col("cluster_id"))
      .limit(20)
  }

  val queries: Map[String, Q] = Map(
    "q391_dbscan" -> (q391Dbscan _),
    "q362_ucb1" -> (q362Ucb1 _),
    "q306_ndcg_eval" -> (q306NdcgEval _),
    "q307_source_similarity" -> (q307SourceSimilarity _),
    "q308_lloyd_step" -> (q308LloydStep _),
    "q309_bayes_ab" -> (q309BayesAb _),
    "q302_quota_allocation" -> (q302QuotaAllocation _),
    "q303_interval_union" -> (q303IntervalUnion _),
    "q304_ratio_delta_method" -> (q304RatioDeltaMethod _),
    "q305_median_impute" -> (q305MedianImpute _),
    "q299_file_lineage" -> (q299FileLineage _),
    "q300_observe_metrics" -> (q300ObserveMetrics _),
    "q301_info_gain_ranking" -> (q301InfoGainRanking _),
    "q294_cvar" -> (q294Cvar _),
    "q295_srm_check" -> (q295SrmCheck _),
    "q296_capping_sensitivity" -> (q296CappingSensitivity _),
    "q297_anova" -> (q297Anova _),
    "q298_mde_power" -> (q298MdePower _),
    "q290_cohort_ltv" -> (q290CohortLtv _),
    "q291_item_cf" -> (q291ItemCf _),
    "q292_markov_eval" -> (q292MarkovEval _),
    "q293_churn_labels" -> (q293ChurnLabels _),
    "q285_ams_f2" -> (q285AmsF2 _),
    "q286_kcore" -> (q286Kcore _),
    "q287_forecast_eval" -> (q287ForecastEval _),
    "q288_xml_source" -> (q288XmlSource _),
    "q289_stream_static_enrich" -> (q289StreamStaticEnrich _),
    "q280_label_prop" -> (q280LabelProp _),
    "q410_modularity" -> (q410Modularity _),
    "q281_cms_heavy" -> (q281CmsHeavy _),
    "q282_ipw_ate" -> (q282IpwAte _),
    "q283_auto_histogram" -> (q283AutoHistogram _),
    "q284_selfjoin_size" -> (q284SelfjoinSize _),
    "q276_simpson" -> (q276Simpson _),
    "q277_bh_screen" -> (q277BhScreen _),
    "q278_compaction_plan" -> (q278CompactionPlan _),
    "q279_jackknife_groups" -> (q279JackknifeGroups _),
    "q270_cuped" -> (q270Cuped _),
    "q271_did" -> (q271Did _),
    "q272_woe_iv" -> (q272WoeIv _),
    "q273_propensity_match" -> (q273PropensityMatch _),
    "q274_hill_tail" -> (q274HillTail _),
    "q275_randomization_test" -> (q275RandomizationTest _),
  )

  import ExtensionQueries.toksSql
  import AdvancedQueries.simhash32Sql

  // one k-core peel round: edges e{i} (e0 = sym) -> k{i+1}/e{i+1}/r{i+1}
  private def kcoreRound(i: Int): String = {
    val prev = if (i == 0) "sym" else s"e$i"
    s"""k${i + 1} AS (SELECT src FROM $prev GROUP BY src
       |  HAVING count(*) >= 3),
       |e${i + 1} AS (SELECT $prev.src, $prev.dst FROM $prev
       |  WHERE src IN (SELECT src FROM k${i + 1})
       |    AND dst IN (SELECT src FROM k${i + 1})),
       |r${i + 1} AS (SELECT ${i + 1} AS peel_round,
       |    count(DISTINCT src)::BIGINT AS n_nodes,
       |    (count(*) // 2)::BIGINT AS n_edges FROM e${i + 1})"""
      .stripMargin
  }

  // one min-label-propagation round: l{i} -> l{i+1} over sym
  private def lpRound(i: Int): String =
    s"""l${i + 1} AS (SELECT node, min(lbl) AS lbl FROM (
       |    SELECT node, lbl FROM l$i
       |    UNION ALL
       |    SELECT sym.dst AS node, l$i.lbl
       |    FROM l$i JOIN sym ON l$i.node = sym.src) GROUP BY node)"""
      .stripMargin

  // shared hash32 replay: ('0x' || first 8 md5 hex chars)::BIGINT
  private def h32(expr: String, seed: String): String =
    s"('0x' || substr(md5('$seed' || $expr), 1, 8))::BIGINT"

  // Zelen–Severo 26.2.17 upper-tail normal CDF, z >= 0 (q277/q295)
  private def phiUpperSql(z: String): String =
    s"""(exp(-($z) * ($z) / 2) / sqrt(2.0 * pi()) *
       |  ((1.0 / (1.0 + 0.2316419 * ($z))) * (0.319381530 +
       |   (1.0 / (1.0 + 0.2316419 * ($z))) * (-0.356563782 +
       |   (1.0 / (1.0 + 0.2316419 * ($z))) * (1.781477937 +
       |   (1.0 / (1.0 + 0.2316419 * ($z))) * (-1.821255978 +
       |   (1.0 / (1.0 + 0.2316419 * ($z))) * 1.330274429))))))"""
      .stripMargin

  // per-user pre/post means against the µs midpoint (q270/q271 CTE)
  private val prePostCte: String =
    """e AS (SELECT user_id, epoch_us(ts::TIMESTAMP) AS us, value
      |  FROM events),
      |mid AS (SELECT (min(us) + max(us)) // 2 AS m FROM e),
      |per AS (SELECT user_id,
      |    avg(CASE WHEN us < (SELECT m FROM mid) THEN value END) AS x,
      |    avg(CASE WHEN us >= (SELECT m FROM mid) THEN value END) AS y
      |  FROM e GROUP BY 1
      |  HAVING x IS NOT NULL AND y IS NOT NULL)""".stripMargin

  val oracle: Map[String, String] = Map(
    "q391_dbscan" ->
      """WITH RECURSIVE f AS (SELECT user_id,
        |    ln(count(*)::DOUBLE) AS lx,
        |    ln(1.0 + sum(abs(value))) AS ly
        |  FROM events GROUP BY 1),
        |st AS (SELECT avg(lx) AS mx, stddev_samp(lx) AS sx,
        |    avg(ly) AS my, stddev_samp(ly) AS sy FROM f),
        |p AS (SELECT user_id, (lx - mx) / nullif(sx, 0) AS x,
        |    (ly - my) / nullif(sy, 0) AS y
        |  FROM f, st
        |  WHERE (lx - mx) / nullif(sx, 0) IS NOT NULL
        |    AND (ly - my) / nullif(sy, 0) IS NOT NULL),
        |pr AS (SELECT a.user_id AS ia, b.user_id AS ib
        |  FROM p a JOIN p b ON a.user_id < b.user_id
        |  WHERE sqrt((a.x - b.x) ^ 2 + (a.y - b.y) ^ 2) < 0.4),
        |sym AS (SELECT ia, ib FROM pr UNION ALL SELECT ib, ia FROM pr),
        |core AS (SELECT ia AS id FROM sym GROUP BY 1
        |  HAVING count(*) >= 5),
        |ce AS (SELECT ia, ib FROM pr
        |  WHERE ia IN (SELECT id FROM core)
        |    AND ib IN (SELECT id FROM core)),
        |reach(node, root) AS (
        |  SELECT id, id FROM core
        |  UNION
        |  SELECT CASE WHEN r.node = e.ia THEN e.ib ELSE e.ia END,
        |    r.root
        |  FROM reach r JOIN ce e ON r.node = e.ia OR r.node = e.ib),
        |cc AS (SELECT node AS id, min(root) AS cluster_id FROM reach
        |  GROUP BY 1),
        |bd AS (SELECT s.ia AS id, min(cc.cluster_id) AS cluster_id
        |  FROM sym s JOIN cc ON cc.id = s.ib
        |  WHERE s.ia NOT IN (SELECT id FROM core) GROUP BY 1),
        |cen AS (SELECT cc.cluster_id,
        |    count(*)::BIGINT AS n_core,
        |    coalesce(max(b.nb), 0)::BIGINT AS n_border
        |  FROM cc LEFT JOIN (SELECT cluster_id,
        |      count(*)::BIGINT AS nb FROM bd GROUP BY 1) b
        |    ON b.cluster_id = cc.cluster_id
        |  GROUP BY 1, b.nb),
        |tot AS (SELECT (SELECT count(*) FROM p) -
        |    (SELECT coalesce(sum(n_core + n_border), 0) FROM cen)
        |    AS n_noise)
        |SELECT * FROM (
        |  SELECT cluster_id, n_core, n_border,
        |    n_core + n_border AS n_total FROM cen
        |  UNION ALL
        |  SELECT -1::BIGINT, 0::BIGINT, 0::BIGINT,
        |    n_noise::BIGINT FROM tot)
        |ORDER BY n_total DESC, cluster_id LIMIT 20""".stripMargin,
    "q362_ucb1" ->
      """WITH e AS (SELECT event_type, value::DOUBLE AS v FROM events),
        |f AS (SELECT min(v) AS lo, max(v) AS hi,
        |    count(*)::DOUBLE AS N FROM e),
        |a AS (SELECT event_type, count(*)::BIGINT AS n_pulls,
        |    avg((v - f.lo) / nullif(f.hi - f.lo, 0)) AS mu,
        |    max(f.N) AS N
        |  FROM e CROSS JOIN f GROUP BY 1),
        |u AS (SELECT *, mu + sqrt(2.0 * ln(N) / n_pulls) AS ucb
        |  FROM a),
        |r AS (SELECT *, row_number() OVER (
        |    ORDER BY round(ucb, 6) DESC, event_type) AS rk FROM u)
        |SELECT event_type, n_pulls, (round(mu, 4) + 0.0) AS mean_reward,
        |  round(ucb, 4) AS ucb_score, rk = 1 AS chosen
        |FROM r ORDER BY event_type""".stripMargin,
    "q306_ndcg_eval" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
        |d AS (SELECT doc_id, len(toks)::DOUBLE AS dl,
        |    unnest(toks) AS token FROM t),
        |m AS (SELECT * FROM d WHERE token IN ('spark', 'sql', 'hash')),
        |tf AS (SELECT doc_id, dl, token, count(*)::DOUBLE AS tf
        |  FROM m GROUP BY 1, 2, 3),
        |s AS (SELECT count(*)::DOUBLE AS n_docs, avg(len(toks)) AS avgdl
        |  FROM t),
        |fr AS (SELECT token, count(DISTINCT doc_id)::DOUBLE AS df
        |  FROM m GROUP BY token),
        |sc AS (SELECT tf.doc_id,
        |    ln((s.n_docs - fr.df + 0.5) / (fr.df + 0.5) + 1) * tf.tf *
        |      (1.2 + 1) / (tf.tf + 1.2 *
        |        (1 - 0.75 + 0.75 * tf.dl / s.avgdl)) AS sterm
        |  FROM tf, fr, s WHERE tf.token = fr.token),
        |r AS (SELECT doc_id, sum(sterm) AS raw FROM sc GROUP BY 1),
        |top AS (SELECT doc_id, (round(raw, 4) + 0.0) AS score FROM r
        |  ORDER BY raw DESC, doc_id LIMIT 10),
        |rk AS (SELECT doc_id, row_number() OVER
        |    (ORDER BY score DESC, doc_id) AS rk FROM top),
        |gr AS (SELECT doc_id, len(list_intersect(list_distinct(toks),
        |    ['spark', 'sql', 'hash']))::DOUBLE AS rel FROM t),
        |dcg AS (SELECT count(*)::BIGINT AS n_ranked,
        |    sum((pow(2.0, gr.rel) - 1) / (ln(rk.rk + 1) / ln(2.0)))
        |      AS dcg,
        |    min(CASE WHEN gr.rel >= 2 THEN rk.rk END) AS frst
        |  FROM rk JOIN gr ON rk.doc_id = gr.doc_id),
        |ideal AS (SELECT
        |    sum((pow(2.0, rel) - 1) / (ln(irk + 1) / ln(2.0)))
        |      AS idcg
        |  FROM (SELECT rel, row_number() OVER
        |      (ORDER BY rel DESC, doc_id) AS irk FROM gr)
        |  WHERE irk <= 10)
        |SELECT n_ranked, round(dcg, 4) AS dcg_at_10,
        |  round(idcg, 4) AS idcg_at_10,
        |  round(dcg / idcg, 4) AS ndcg_at_10,
        |  round(coalesce(1.0 / frst, 0.0), 4) AS mrr
        |FROM dcg, ideal""".stripMargin,
    "q307_source_similarity" ->
      s"""WITH tok AS (SELECT source, unnest($toksSql) AS t
        |  FROM documents),
        |c AS (SELECT source, t, count(*)::BIGINT AS c FROM tok
        |  GROUP BY 1, 2),
        |tot AS (SELECT source, sum(c)::BIGINT AS n FROM c GROUP BY 1),
        |v AS (SELECT DISTINCT t FROM c),
        |grid AS (SELECT tot.source, v.t,
        |    coalesce(c.c, 0) / tot.n::DOUBLE AS p
        |  FROM tot CROSS JOIN v
        |  LEFT JOIN c ON c.source = tot.source AND c.t = v.t),
        |j AS (SELECT a.source AS source_a, b.source AS source_b,
        |    (a.p + b.p) / 2 AS m, a.p AS pa, b.p AS pb
        |  FROM grid a JOIN grid b ON a.t = b.t
        |    AND a.source < b.source)
        |SELECT source_a, source_b,
        |  (round(sum(
        |    CASE WHEN pa > 0 THEN pa * ln(pa / m) / 2 ELSE 0.0 END +
        |    CASE WHEN pb > 0 THEN pb * ln(pb / m) / 2 ELSE 0.0 END),
        |    6) + 0.0) AS jsd
        |FROM j GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q308_lloyd_step" ->
      """WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS emb
        |  FROM embeddings),
        |seeds AS (SELECT vec_id AS cluster, emb AS c FROM e
        |  WHERE vec_id < 8),
        |asg AS (SELECT e.vec_id, s.cluster, e.emb,
        |    list_cosine_similarity(e.emb, s.c) AS cos,
        |    row_number() OVER (PARTITION BY e.vec_id
        |      ORDER BY list_cosine_similarity(e.emb, s.c) DESC,
        |        s.cluster) AS rk
        |  FROM e CROSS JOIN seeds s),
        |a1 AS (SELECT * FROM asg WHERE rk = 1),
        |st AS (SELECT cluster, count(*)::BIGINT AS n_points,
        |    round(avg(cos), 4) AS avg_cos FROM a1 GROUP BY 1),
        |nd AS (SELECT cluster,
        |    (generate_subscripts(emb, 1) - 1)::INT AS pos,
        |    unnest(emb) AS v FROM a1),
        |nm AS (SELECT cluster, pos, avg(v) AS m FROM nd GROUP BY 1, 2),
        |sd AS (SELECT cluster,
        |    (generate_subscripts(c, 1) - 1)::INT AS pos,
        |    unnest(c) AS sv FROM seeds),
        |sh AS (SELECT nm.cluster,
        |    (round(sqrt(sum((nm.m - sd.sv) * (nm.m - sd.sv))), 4) + 0.0)
        |      AS centroid_shift
        |  FROM nm JOIN sd ON nm.cluster = sd.cluster
        |    AND nm.pos = sd.pos
        |  GROUP BY 1)
        |SELECT st.cluster, st.n_points, st.avg_cos, sh.centroid_shift
        |FROM st JOIN sh ON st.cluster = sh.cluster
        |ORDER BY st.cluster""".stripMargin,
    "q309_bayes_ab" ->
      s"""WITH per AS (SELECT user_id,
        |    max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      ::BIGINT AS conv,
        |    ${h32("user_id::VARCHAR", "bab:")} % 2 = 1 AS a
        |  FROM events GROUP BY 1),
        |g AS (SELECT
        |    count(CASE WHEN a THEN 1 END)::BIGINT AS n_a,
        |    sum(CASE WHEN a THEN conv END)::BIGINT AS x_a,
        |    count(CASE WHEN NOT a THEN 1 END)::BIGINT AS n_b,
        |    sum(CASE WHEN NOT a THEN conv END)::BIGINT AS x_b
        |  FROM per),
        |p AS (SELECT n_a, x_a, n_b, x_b,
        |    (x_a + 1) / (n_a + 2.0) AS ma,
        |    (x_b + 1) / (n_b + 2.0) AS mb
        |  FROM g),
        |v AS (SELECT *, ma * (1.0 - ma) / (n_a + 3.0) AS va,
        |    mb * (1.0 - mb) / (n_b + 3.0) AS vb
        |  FROM p),
        |z AS (SELECT *, (ma - mb) / sqrt(va + vb) AS z FROM v),
        |q AS (SELECT *, CASE WHEN z >= 0
        |    THEN 1.0 - ${phiUpperSql("z")}
        |    ELSE ${phiUpperSql("-z")} END AS pab
        |  FROM z)
        |SELECT n_a, x_a, n_b, x_b,
        |  (round(ma, 4) + 0.0) AS post_mean_a, (round(mb, 4) + 0.0) AS post_mean_b,
        |  round(pab, 4) AS prob_a_beats_b,
        |  pab > 0.95 OR pab < 0.05 AS decisive
        |FROM q""".stripMargin,
    "q302_quota_allocation" ->
      """WITH g AS (SELECT event_type, count(*)::BIGINT AS n
        |  FROM events GROUP BY 1),
        |x AS (SELECT event_type, n,
        |    1000 * n / sum(n) OVER ()::DOUBLE AS share FROM g),
        |y AS (SELECT event_type, n, share,
        |    floor(share)::BIGINT AS base,
        |    1000 - sum(floor(share)::BIGINT) OVER () AS leftover,
        |    row_number() OVER (ORDER BY share - floor(share) DESC,
        |      event_type) AS rk
        |  FROM x)
        |SELECT event_type, n, round(share, 4) AS exact_share,
        |  (base + CASE WHEN rk <= leftover THEN 1 ELSE 0 END)::BIGINT
        |    AS alloc
        |FROM y ORDER BY event_type""".stripMargin,
    "q303_interval_union" ->
      """WITH iv AS (SELECT user_id, event_id,
        |    epoch_us(ts::TIMESTAMP) AS a,
        |    epoch_us(ts::TIMESTAMP) + 30 * 60 * 1000000 AS b
        |  FROM events),
        |x AS (SELECT user_id, event_id, a, b,
        |    max(b) OVER (PARTITION BY user_id ORDER BY a, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |      AS maxb
        |  FROM iv),
        |y AS (SELECT user_id, event_id, a, b,
        |    CASE WHEN maxb IS NULL OR a > maxb THEN 1 ELSE 0 END
        |      AS newi
        |  FROM x),
        |z AS (SELECT user_id, a, b,
        |    sum(newi) OVER (PARTITION BY user_id ORDER BY a, event_id
        |      ROWS UNBOUNDED PRECEDING) AS isl
        |  FROM y),
        |ig AS (SELECT user_id, isl, count(*)::BIGINT AS niv,
        |    min(a) AS s, max(b) AS e
        |  FROM z GROUP BY 1, 2)
        |SELECT user_id, sum(niv)::BIGINT AS n_intervals,
        |  count(*)::BIGINT AS n_islands,
        |  (round(sum(e - s) / 60000000.0, 2) + 0.0) AS covered_min
        |FROM ig GROUP BY 1 ORDER BY 1""".stripMargin,
    "q304_ratio_delta_method" ->
      """WITH per AS (SELECT user_id,
        |    count(CASE WHEN event_type = 'view' THEN 1 END)::DOUBLE
        |      AS x,
        |    sum(CASE WHEN event_type = 'purchase' THEN value
        |        ELSE 0.0 END) AS y
        |  FROM events GROUP BY 1 HAVING x > 0),
        |a AS (SELECT count(*)::BIGINT AS n, avg(x) AS mx,
        |    avg(y) AS my, var_samp(x) AS vx, var_samp(y) AS vy,
        |    covar_samp(x, y) AS cxy
        |  FROM per),
        |r AS (SELECT n, my / mx AS r,
        |    sqrt((vy - 2.0 * (my / mx) * cxy +
        |      (my / mx) * (my / mx) * vx) / (n * mx * mx)) AS se
        |  FROM a)
        |SELECT n AS n_users, round(r, 4) AS ratio,
        |  (round(se, 4) + 0.0) AS se_delta,
        |  (round(r - 1.96 * se, 4) + 0.0) AS ci_lo,
        |  (round(r + 1.96 * se, 4) + 0.0) AS ci_hi
        |FROM r""".stripMargin,
    "q305_median_impute" ->
      s"""WITH e AS (SELECT event_type, value,
        |    CASE WHEN ${h32("event_id::VARCHAR", "na:")} % 10 = 0
        |      THEN NULL ELSE value END AS v
        |  FROM events),
        |med AS (SELECT event_type, quantile_cont(v, 0.5) AS med
        |  FROM e WHERE v IS NOT NULL GROUP BY 1)
        |SELECT e.event_type, count(*)::BIGINT AS n,
        |  count(CASE WHEN e.v IS NULL THEN 1 END)::BIGINT
        |    AS n_imputed,
        |  round(max(med.med), 2) AS median_used,
        |  (round(avg(e.v), 4) + 0.0) AS mean_before,
        |  (round(avg(coalesce(e.v, med.med)), 4) + 0.0) AS mean_after
        |FROM e JOIN med ON e.event_type = med.event_type
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q299_file_lineage" ->
      """SELECT source, 1::BIGINT AS n_files,
        |  count(*)::BIGINT AS n_rows
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    "q300_observe_metrics" ->
      """SELECT count(*)::BIGINT AS n_events,
        |  round(sum(value), 2) AS total_value,
        |  min(value) AS min_value, max(value) AS max_value
        |FROM events""".stripMargin,
    "q301_info_gain_ranking" ->
      s"""WITH o AS (SELECT o_orderpriority AS f1,
        |    year(o_orderdate)::VARCHAR AS f2,
        |    (o_custkey % 10)::VARCHAR AS f3,
        |    o_orderstatus = 'F' AS y
        |  FROM orders),
        |${Seq(("g1", "f1", "order_priority"), ("g2", "f2", "order_year"),
             ("g3", "f3", "cust_mod10")).map { case (cte, f, name) =>
        s"""$cte AS (
           |  SELECT '$name' AS feature, count(*)::BIGINT AS n_values,
           |    (round(max(hy) - sum(p * hv), 6) + 0.0) AS info_gain_bits
           |  FROM (
           |    SELECT n / tot::DOUBLE AS p,
           |      CASE WHEN n1 / n::DOUBLE > 0 AND n1 / n::DOUBLE < 1
           |        THEN -((n1 / n::DOUBLE) * ln(n1 / n::DOUBLE) /
           |              ln(2.0) +
           |            (1.0 - n1 / n::DOUBLE) *
           |              ln(1.0 - n1 / n::DOUBLE) / ln(2.0))
           |        ELSE 0.0 END AS hv,
           |      CASE WHEN tot1 / tot::DOUBLE > 0
           |          AND tot1 / tot::DOUBLE < 1
           |        THEN -((tot1 / tot::DOUBLE) *
           |              ln(tot1 / tot::DOUBLE) / ln(2.0) +
           |            (1.0 - tot1 / tot::DOUBLE) *
           |              ln(1.0 - tot1 / tot::DOUBLE) / ln(2.0))
           |        ELSE 0.0 END AS hy
           |    FROM (
           |      SELECT count(*)::BIGINT AS n,
           |        count(CASE WHEN y THEN 1 END)::BIGINT AS n1,
           |        sum(count(*)) OVER ()::BIGINT AS tot,
           |        sum(count(CASE WHEN y THEN 1 END)) OVER ()::BIGINT
           |          AS tot1
           |      FROM o GROUP BY $f)))""".stripMargin
        }.mkString(",\n")}
        |SELECT feature, n_values, info_gain_bits,
        |  row_number() OVER (ORDER BY info_gain_bits DESC, feature)
        |    AS ig_rank
        |FROM (SELECT * FROM g1 UNION ALL SELECT * FROM g2
        |      UNION ALL SELECT * FROM g3)
        |ORDER BY ig_rank""".stripMargin,
    "q294_cvar" ->
      """WITH f AS (SELECT event_type,
        |    quantile_cont(value, 0.95) AS var95
        |  FROM events GROUP BY 1)
        |SELECT e.event_type, count(*)::BIGINT AS n,
        |  round(max(f.var95), 4) AS var95,
        |  count(CASE WHEN e.value >= f.var95 THEN 1 END)::BIGINT
        |    AS n_tail,
        |  round(avg(CASE WHEN e.value >= f.var95 THEN e.value END), 4)
        |    AS cvar95
        |FROM events e JOIN f ON e.event_type = f.event_type
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q295_srm_check" ->
      s"""WITH u AS (SELECT DISTINCT user_id FROM events),
        |a AS (SELECT
        |    count(CASE WHEN ${h32("user_id::VARCHAR", "srm:")} % 2 = 1
        |      THEN 1 END)::BIGINT AS n_a,
        |    count(CASE WHEN ${h32("user_id::VARCHAR", "srm:")} % 2 <> 1
        |      THEN 1 END)::BIGINT AS n_b
        |  FROM u),
        |c AS (SELECT n_a, n_b, (n_a - n_b) * (n_a - n_b) /
        |    (n_a + n_b)::DOUBLE AS chi2 FROM a),
        |q AS (SELECT n_a, n_b, chi2,
        |    2.0 * ${phiUpperSql("sqrt(chi2)")} AS p
        |  FROM c)
        |SELECT n_a, n_b, round(chi2, 4) AS chi2,
        |  round(p, 6) AS p_value, p < 0.001 AS srm_detected
        |FROM q""".stripMargin,
    "q296_capping_sensitivity" ->
      s"""WITH per AS (SELECT user_id, sum(value) AS m,
        |    ${h32("user_id::VARCHAR", "cap:")} % 2 = 1 AS t
        |  FROM events GROUP BY 1),
        |f AS (SELECT quantile_cont(m, 0.99) AS p99,
        |    quantile_cont(m, 0.95) AS p95 FROM per),
        |x AS (
        |  SELECT t, '1_none' AS cap, m AS v FROM per
        |  UNION ALL
        |  SELECT t, '2_p99', least(m, (SELECT p99 FROM f)) FROM per
        |  UNION ALL
        |  SELECT t, '3_p95', least(m, (SELECT p95 FROM f)) FROM per),
        |g AS (SELECT cap,
        |    count(CASE WHEN t THEN 1 END)::BIGINT AS na,
        |    count(CASE WHEN NOT t THEN 1 END)::BIGINT AS nb,
        |    avg(CASE WHEN t THEN v END) AS ma,
        |    avg(CASE WHEN NOT t THEN v END) AS mb,
        |    var_samp(CASE WHEN t THEN v END) AS va,
        |    var_samp(CASE WHEN NOT t THEN v END) AS vb
        |  FROM x GROUP BY 1)
        |SELECT cap, (round(ma - mb, 4) + 0.0) AS diff,
        |  (round(sqrt(va / na + vb / nb), 4) + 0.0) AS se,
        |  abs(ma - mb) > 1.96 * sqrt(va / na + vb / nb) AS significant
        |FROM g ORDER BY cap""".stripMargin,
    "q297_anova" ->
      """WITH g AS (SELECT event_type, count(*)::BIGINT AS n,
        |    avg(value) AS m, var_samp(value) AS v
        |  FROM events GROUP BY 1),
        |w AS (SELECT sum(n)::BIGINT AS nt, count(*)::BIGINT AS k,
        |    sum(n * m) / sum(n) AS gm FROM g),
        |x AS (SELECT (SELECT k FROM w) AS k, (SELECT nt FROM w) AS nt,
        |    sum(n * (m - (SELECT gm FROM w)) *
        |      (m - (SELECT gm FROM w))) AS ssb,
        |    sum((n - 1) * v) AS ssw
        |  FROM g)
        |SELECT k AS k_groups, nt AS n_total,
        |  (round((ssb / (k - 1)) / (ssw / (nt - k)), 4) + 0.0) AS f_stat,
        |  (round(ssb / (ssb + ssw), 6) + 0.0) AS eta_sq
        |FROM x""".stripMargin,
    "q298_mde_power" ->
      """WITH pu AS (SELECT event_type, user_id, avg(value) AS m
        |  FROM events GROUP BY 1, 2),
        |g AS (SELECT event_type, count(*)::BIGINT AS n_users,
        |    avg(m) AS mv, var_samp(m) AS vv
        |  FROM pu GROUP BY 1)
        |SELECT event_type, n_users, (round(mv, 4) + 0.0) AS metric_mean,
        |  (round(vv, 4) + 0.0) AS metric_var,
        |  (round((1.959963984540054 + 0.8416212335729143) *
        |    sqrt(2.0 * vv / (n_users / 2.0)), 4) + 0.0) AS mde_abs,
        |  (round((1.959963984540054 + 0.8416212335729143) *
        |    sqrt(2.0 * vv / (n_users / 2.0)) / mv, 4) + 0.0) AS mde_rel
        |FROM g ORDER BY event_type""".stripMargin,
    "q290_cohort_ltv" ->
      """WITH cohort AS (SELECT user_id,
        |    date_trunc('week', min(ts::TIMESTAMP))::DATE AS cw
        |  FROM events GROUP BY 1),
        |sizes AS (SELECT cw, count(*)::BIGINT AS n_users FROM cohort
        |  GROUP BY 1),
        |buys AS (SELECT c.cw,
        |    (date_diff('day', c.cw,
        |      date_trunc('week', e.ts::TIMESTAMP)::DATE) // 7)::BIGINT
        |      AS age,
        |    sum(e.value) AS v
        |  FROM events e JOIN cohort c ON e.user_id = c.user_id
        |  WHERE e.event_type = 'purchase' GROUP BY 1, 2),
        |cum AS (SELECT b.cw, b.age, s.n_users,
        |    sum(b.v) OVER (PARTITION BY b.cw ORDER BY b.age) AS cum
        |  FROM buys b JOIN sizes s ON b.cw = s.cw)
        |SELECT cw AS cohort_week, age AS age_weeks, n_users,
        |  round(cum / n_users, 4) AS cum_value_per_user
        |FROM cum ORDER BY 1, 2""".stripMargin,
    "q291_item_cf" ->
      """WITH b AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS i
        |  FROM lineitem),
        |ci AS (SELECT i, count(*)::BIGINT AS ci FROM b GROUP BY 1),
        |co AS (SELECT a.i AS ia, c.i AS ib, count(*)::BIGINT AS co
        |  FROM b a JOIN b c ON a.o = c.o AND a.i < c.i
        |  GROUP BY 1, 2 HAVING count(*) >= 2),
        |sym AS (SELECT ia AS item, ib AS rec, co FROM co
        |        UNION ALL SELECT ib, ia, co FROM co),
        |sc AS (SELECT s.item, s.rec,
        |    s.co / sqrt((l.ci * r.ci)::DOUBLE) AS cos
        |  FROM sym s JOIN ci l ON s.item = l.i
        |    JOIN ci r ON s.rec = r.i),
        |rk AS (SELECT item, rec, cos, row_number() OVER
        |    (PARTITION BY item ORDER BY cos DESC, rec) AS rec_rank
        |  FROM sc)
        |SELECT item, rec_rank, rec, round(cos, 4) AS cosine
        |FROM rk WHERE rec_rank <= 3 ORDER BY item, rec_rank"""
        .stripMargin,
    "q292_markov_eval" ->
      """WITH e AS (SELECT user_id, event_type,
        |    epoch_us(ts::TIMESTAMP) AS us, event_id FROM events),
        |mid AS (SELECT (min(us) + max(us)) // 2 AS m FROM e),
        |h AS (SELECT user_id, event_type, us, event_id,
        |    us >= (SELECT m FROM mid) AS test FROM e),
        |p AS (SELECT test, event_type AS cur,
        |    lead(event_type, 1) OVER (PARTITION BY user_id, test
        |      ORDER BY us, event_id) AS nxt
        |  FROM h),
        |pairs AS (SELECT * FROM p WHERE nxt IS NOT NULL),
        |m AS (SELECT cur, nxt, count(*)::BIGINT AS n FROM pairs
        |  WHERE NOT test GROUP BY 1, 2),
        |md AS (SELECT cur, nxt AS pred FROM (
        |    SELECT cur, nxt, row_number() OVER (PARTITION BY cur
        |      ORDER BY n DESC, nxt) AS rk FROM m) WHERE rk = 1)
        |SELECT p.cur, count(*)::BIGINT AS n_test,
        |  max(md.pred) AS predicted_next,
        |  round(count(CASE WHEN p.nxt = md.pred THEN 1 END) /
        |    count(*)::DOUBLE, 4) AS accuracy
        |FROM pairs p JOIN md ON p.cur = md.cur
        |WHERE p.test GROUP BY 1 ORDER BY 1""".stripMargin,
    "q293_churn_labels" ->
      """WITH uw AS (SELECT DISTINCT user_id,
        |    date_trunc('week', ts::TIMESTAMP)::DATE AS wk FROM events),
        |x AS (SELECT user_id, wk,
        |    lead(wk, 1) OVER (PARTITION BY user_id ORDER BY wk) AS nxt,
        |    max(wk) OVER () AS maxwk
        |  FROM uw)
        |SELECT wk AS week, count(*)::BIGINT AS n_active,
        |  count(CASE WHEN nxt IS NULL OR nxt > wk + 14 THEN 1 END)
        |    ::BIGINT AS n_churned,
        |  round(count(CASE WHEN nxt IS NULL OR nxt > wk + 14
        |      THEN 1 END) / count(*)::DOUBLE, 4) AS churn_rate
        |FROM x WHERE wk <= maxwk - 14
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q285_ams_f2" ->
      """WITH c AS (SELECT user_id, count(*)::BIGINT AS c
        |  FROM events GROUP BY 1),
        |ex AS (SELECT sum(c * c)::BIGINT AS f2 FROM c),
        |y AS (SELECT i.i,
        |    sum(((('0x' || substr(md5('ams' || i.i || ':' || user_id),
        |      1, 8))::BIGINT % 2) * 2 - 1) * c.c) AS z
        |  FROM c, (SELECT unnest(range(0, 32)) AS i) i GROUP BY 1),
        |g AS (SELECT (i // 8)::INT AS g, avg((z * z)::DOUBLE) AS m
        |  FROM y GROUP BY 1),
        |e AS (SELECT quantile_cont(m, 0.5) AS ams FROM g)
        |SELECT ex.f2 AS exact_f2, round(e.ams, 2) AS ams_est,
        |  round((e.ams - ex.f2) / ex.f2::DOUBLE, 4) AS rel_err,
        |  abs((e.ams - ex.f2) / ex.f2::DOUBLE) <= 1.0 AS within_2x
        |FROM ex, e""".stripMargin,
    "q286_kcore" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
        |s AS (SELECT doc_id, ($simhash32Sql)::BIGINT AS sh FROM t),
        |e AS (SELECT a.doc_id AS ea, b.doc_id AS eb
        |  FROM s a JOIN s b ON a.doc_id < b.doc_id
        |  WHERE bit_count(xor(a.sh, b.sh)) <= 3),
        |sym AS (SELECT ea AS src, eb AS dst FROM e
        |        UNION ALL SELECT eb, ea FROM e),
        |${kcoreRound(0)},
        |${kcoreRound(1)},
        |${kcoreRound(2)}
        |SELECT * FROM r1 UNION ALL SELECT * FROM r2
        |UNION ALL SELECT * FROM r3 ORDER BY peel_round""".stripMargin,
    "q287_forecast_eval" ->
      """WITH d AS (SELECT event_type, (ts::TIMESTAMP)::DATE AS day,
        |    count(*)::BIGINT AS n
        |  FROM events GROUP BY 1, 2),
        |l AS (SELECT event_type, n,
        |    lag(n, 7) OVER (PARTITION BY event_type ORDER BY day)
        |      AS p7,
        |    lag(n, 1) OVER (PARTITION BY event_type ORDER BY day)
        |      AS p1
        |  FROM d)
        |SELECT event_type, count(*)::BIGINT AS n_days_eval,
        |  (round(avg(abs(n - p7)), 4) + 0.0) AS mae_seasonal,
        |  (round(avg(abs(n - p1)), 4) + 0.0) AS mae_naive,
        |  (round(avg(abs(n - p7) / n::DOUBLE), 4) + 0.0) AS mape_seasonal,
        |  (round(1.0 - avg(abs(n - p7)) /
        |    nullif(avg(abs(n - p1)), 0), 4) + 0.0) AS skill_vs_naive
        |FROM l WHERE p7 IS NOT NULL AND p1 IS NOT NULL
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    "q288_xml_source" ->
      """SELECT source, count(*)::BIGINT AS n_docs,
        |  sum(n_chars)::BIGINT AS total_chars,
        |  sum(('0x' || substr(md5(text), 1, 8))::BIGINT)::BIGINT
        |    AS text_checksum
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,
    "q289_stream_static_enrich" ->
      """WITH per AS (SELECT user_id, count(*)::BIGINT AS ne
        |  FROM events GROUP BY 1),
        |tier AS (SELECT user_id,
        |    least(floor(ln(ne::DOUBLE) / ln(2.0)), 6.0)::BIGINT
        |      AS tier
        |  FROM per),
        |j AS (SELECT t.tier, e.value FROM events e
        |  JOIN tier t ON e.user_id = t.user_id)
        |SELECT tier, count(*)::BIGINT AS n_events,
        |  round(sum(value), 2) AS total_value
        |FROM j GROUP BY 1 ORDER BY 1""".stripMargin,
    "q280_label_prop" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
        |s AS (SELECT doc_id, ($simhash32Sql)::BIGINT AS sh FROM t),
        |e AS (SELECT a.doc_id AS ea, b.doc_id AS eb
        |  FROM s a JOIN s b ON a.doc_id < b.doc_id
        |  WHERE bit_count(xor(a.sh, b.sh)) <= 3),
        |sym AS (SELECT ea AS src, eb AS dst FROM e
        |        UNION ALL SELECT eb, ea FROM e),
        |l0 AS (SELECT DISTINCT src AS node, src AS lbl FROM sym),
        |${lpRound(0)},
        |${lpRound(1)},
        |${lpRound(2)},
        |${lpRound(3)}
        |SELECT lbl AS community, count(*)::BIGINT AS n_members
        |FROM l4 GROUP BY 1 HAVING count(*) >= 2
        |ORDER BY n_members DESC, community LIMIT 25""".stripMargin,
    "q410_modularity" ->
      s"""WITH t AS (SELECT doc_id, $toksSql AS toks FROM documents),
        |s AS (SELECT doc_id, ($simhash32Sql)::BIGINT AS sh FROM t),
        |e AS (SELECT a.doc_id AS ea, b.doc_id AS eb
        |  FROM s a JOIN s b ON a.doc_id < b.doc_id
        |  WHERE bit_count(xor(a.sh, b.sh)) <= 3),
        |sym AS (SELECT ea AS src, eb AS dst FROM e
        |        UNION ALL SELECT eb, ea FROM e),
        |l0 AS (SELECT DISTINCT src AS node, src AS lbl FROM sym),
        |${lpRound(0)},
        |${lpRound(1)},
        |${lpRound(2)},
        |${lpRound(3)},
        |deg AS (SELECT src, count(*) AS dg FROM sym GROUP BY 1),
        |msz AS (SELECT count(*) / 2.0 AS m FROM sym),
        |wi AS (SELECT la.lbl AS community, count(*) / 2.0
        |      AS within_edges
        |  FROM sym JOIN l4 la ON sym.src = la.node
        |    JOIN l4 lb ON sym.dst = lb.node
        |  WHERE la.lbl = lb.lbl GROUP BY 1),
        |dc AS (SELECT la.lbl AS community,
        |    sum(d.dg)::DOUBLE AS degree_sum,
        |    count(*)::BIGINT AS n_members
        |  FROM l4 la JOIN deg d ON la.node = d.src GROUP BY 1),
        |q AS (SELECT dc.community, dc.n_members,
        |    coalesce(wi.within_edges, 0) AS within_edges,
        |    dc.degree_sum,
        |    coalesce(wi.within_edges, 0) / m.m -
        |      pow(dc.degree_sum / (2 * m.m), 2) AS contribution
        |  FROM dc LEFT JOIN wi ON dc.community = wi.community,
        |    msz m),
        |g AS (SELECT sum(contribution) AS q_mod FROM q)
        |SELECT q.community, q.n_members,
        |  q.within_edges::BIGINT AS within_edges,
        |  q.degree_sum::BIGINT AS degree_sum,
        |  round(q.contribution, 6) + 0.0 AS contribution,
        |  round(g.q_mod, 6) + 0.0 AS modularity
        |FROM q, g ORDER BY q.n_members DESC, q.community
        |LIMIT 10""".stripMargin,
    "q281_cms_heavy" ->
      """WITH ex AS (SELECT event_type, count(*)::BIGINT AS exact_n
        |  FROM events GROUP BY 1),
        |tot AS (SELECT count(*)::BIGINT AS n FROM events),
        |h AS (SELECT event_type, exact_n, j,
        |    ('0x' || substr(md5('cms' || j || ':' || event_type), 1, 8))
        |      ::BIGINT % 64 AS b
        |  FROM ex, (SELECT unnest(range(0, 4)) AS j)),
        |bk AS (SELECT j, b, sum(exact_n)::BIGINT AS bc
        |  FROM h GROUP BY 1, 2),
        |est AS (SELECT h.event_type, min(bk.bc)::BIGINT AS est_n
        |  FROM h JOIN bk ON h.j = bk.j AND h.b = bk.b GROUP BY 1)
        |SELECT ex.event_type, ex.exact_n, est.est_n,
        |  est.est_n >= ex.exact_n AS no_underestimate,
        |  est.est_n <= ex.exact_n + ceil(2.718281828459045 / 64 *
        |    (SELECT n FROM tot)) AS within_eps_bound
        |FROM ex JOIN est ON ex.event_type = est.event_type
        |ORDER BY ex.event_type""".stripMargin,
    "q282_ipw_ate" ->
      s"""WITH per AS (SELECT user_id, count(*)::BIGINT AS ne,
        |    avg(value) AS y
        |  FROM events GROUP BY 1),
        |st AS (SELECT user_id, y,
        |    least(floor(ln(ne::DOUBLE) / ln(2.0)), 6.0)::BIGINT
        |      AS stratum,
        |    ${h32("user_id::VARCHAR", "ipw:")} % 100 <
        |      20 + 10 * least(floor(ln(ne::DOUBLE) / ln(2.0)), 6.0)
        |        ::BIGINT AS t
        |  FROM per),
        |ps AS (SELECT stratum, count(*)::BIGINT AS ns,
        |    count(CASE WHEN t THEN 1 END)::BIGINT AS nts
        |  FROM st GROUP BY 1),
        |pf AS (SELECT stratum, nts / ns::DOUBLE AS p FROM ps
        |  WHERE nts > 0 AND nts < ns),
        |j AS (SELECT st.t, st.y, pf.p
        |  FROM st JOIN pf ON st.stratum = pf.stratum)
        |SELECT count(*)::BIGINT AS n_users,
        |  (round(avg(CASE WHEN t THEN y END) -
        |    avg(CASE WHEN NOT t THEN y END), 4) + 0.0) AS naive_diff,
        |  (round(sum(CASE WHEN t THEN y / p END) /
        |      sum(CASE WHEN t THEN 1.0 / p END) -
        |    sum(CASE WHEN NOT t THEN y / (1.0 - p) END) /
        |      sum(CASE WHEN NOT t THEN 1.0 / (1.0 - p) END), 4) + 0.0)
        |    AS ipw_ate
        |FROM j""".stripMargin,
    "q283_auto_histogram" ->
      """WITH v AS (SELECT o_totalprice::DOUBLE AS v FROM orders),
        |s AS (SELECT count(*)::BIGINT AS n, min(v) AS lo,
        |    quantile_cont(v, 0.25) AS q1, quantile_cont(v, 0.75) AS q3
        |  FROM v),
        |h AS (SELECT n, lo,
        |    greatest((round(2.0 * (q3 - q1) / pow(n::DOUBLE, 1.0 / 3.0),
        |      0) + 0.0), 1.0) AS h
        |  FROM s)
        |SELECT floor((v.v - h.lo) / h.h)::BIGINT AS bin,
        |  count(*)::BIGINT AS n,
        |  (round(max(h.lo + floor((v.v - h.lo) / h.h) * h.h), 2) + 0.0)
        |    AS bin_lo,
        |  round(max(h.h), 2) AS bin_width
        |FROM v, h GROUP BY 1 ORDER BY 1""".stripMargin,
    "q284_selfjoin_size" ->
      """WITH c AS (SELECT user_id, count(*)::BIGINT AS c
        |  FROM events GROUP BY 1),
        |t AS (SELECT coalesce(sum(c * c), 0)::BIGINT AS hh_f2,
        |    coalesce(sum(c), 0)::BIGINT AS hh_n,
        |    count(*)::BIGINT AS hh_k
        |  FROM (SELECT c FROM c ORDER BY c DESC, user_id LIMIT 20)),
        |a AS (SELECT sum(c * c)::BIGINT AS f2, sum(c)::BIGINT AS n,
        |    count(*)::BIGINT AS d
        |  FROM c),
        |x AS (SELECT a.f2, a.n * a.n / a.d::DOUBLE AS uni,
        |    t.hh_f2 + CASE WHEN a.d > t.hh_k
        |      THEN (a.n - t.hh_n) * (a.n - t.hh_n) /
        |        (a.d - t.hh_k)::DOUBLE
        |      ELSE 0.0 END AS hh_est
        |  FROM a, t)
        |SELECT f2 AS exact_f2, round(uni, 2) AS uniform_est,
        |  (round(hh_est, 2) + 0.0) AS hh_est,
        |  round((uni - f2) / f2::DOUBLE, 4) AS uniform_rel_err,
        |  (round((hh_est - f2) / f2::DOUBLE, 4) + 0.0) AS hh_rel_err
        |FROM x""".stripMargin,
    "q276_simpson" ->
      """WITH g AS (SELECT year(l_shipdate) AS ship_year,
        |    count(CASE WHEN l_discount >= 0.05 THEN 1 END)::BIGINT
        |      AS nt,
        |    count(CASE WHEN l_discount >= 0.05 AND l_returnflag = 'R'
        |      THEN 1 END)::BIGINT AS rt,
        |    count(CASE WHEN l_discount < 0.05 THEN 1 END)::BIGINT
        |      AS nc,
        |    count(CASE WHEN l_discount < 0.05 AND l_returnflag = 'R'
        |      THEN 1 END)::BIGINT AS rc
        |  FROM lineitem GROUP BY 1),
        |x AS (SELECT ship_year, nt + nc AS n,
        |    rt / nullif(nt, 0)::DOUBLE AS rate_t,
        |    rc / nullif(nc, 0)::DOUBLE AS rate_c,
        |    sum(rt) OVER () / nullif(sum(nt) OVER (), 0)::DOUBLE -
        |      sum(rc) OVER () / nullif(sum(nc) OVER (), 0)::DOUBLE
        |      AS pooled
        |  FROM g)
        |SELECT ship_year, n,
        |  round(rate_t, 4) AS rate_treated,
        |  round(rate_c, 4) AS rate_control,
        |  round(rate_t - rate_c, 4) AS stratum_diff,
        |  round(pooled, 4) AS pooled_diff,
        |  sign(rate_t - rate_c) <> sign(pooled)
        |    AND sign(rate_t - rate_c) <> 0 AS sign_reversal
        |FROM x ORDER BY ship_year""".stripMargin,
    "q277_bh_screen" ->
      s"""WITH e AS (SELECT event_type, value,
        |    ${h32("event_id::VARCHAR", "bh:")} % 2 = 1 AS a
        |  FROM events),
        |g AS (SELECT event_type,
        |    count(CASE WHEN a THEN 1 END)::BIGINT AS na,
        |    count(CASE WHEN NOT a THEN 1 END)::BIGINT AS nb,
        |    avg(CASE WHEN a THEN value END) AS ma,
        |    avg(CASE WHEN NOT a THEN value END) AS mb,
        |    var_samp(CASE WHEN a THEN value END) AS va,
        |    var_samp(CASE WHEN NOT a THEN value END) AS vb
        |  FROM e GROUP BY 1),
        |z AS (SELECT event_type,
        |    (ma - mb) / nullif(sqrt(va / na + vb / nb), 0) AS z
        |  FROM g),
        |p AS (SELECT event_type, z,
        |    2.0 * (exp(-z * z / 2) / sqrt(2.0 * pi()) *
        |      ((1.0 / (1.0 + 0.2316419 * abs(z))) * (0.319381530 +
        |       (1.0 / (1.0 + 0.2316419 * abs(z))) * (-0.356563782 +
        |       (1.0 / (1.0 + 0.2316419 * abs(z))) * (1.781477937 +
        |       (1.0 / (1.0 + 0.2316419 * abs(z))) * (-1.821255978 +
        |       (1.0 / (1.0 + 0.2316419 * abs(z))) * 1.330274429))))))
        |      AS p
        |  FROM z),
        |r AS (SELECT event_type, z, p,
        |    count(*) OVER () AS m,
        |    row_number() OVER (ORDER BY p, event_type) AS rk
        |  FROM p),
        |bh AS (SELECT event_type, z, p,
        |    least(1.0, min(p * m / rk) OVER (ORDER BY p, event_type
        |      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
        |      AS pbh
        |  FROM r)
        |SELECT event_type, (round(z, 4) + 0.0) AS z,
        |  round(p, 6) AS p_value, round(pbh, 6) AS p_bh,
        |  pbh <= 0.10 AS rejected_fdr10
        |FROM bh ORDER BY event_type""".stripMargin,
    "q278_compaction_plan" ->
      """WITH d AS (SELECT source, doc_id, n_chars,
        |    coalesce(sum(n_chars) OVER (PARTITION BY source
        |      ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND 1 PRECEDING), 0) AS before
        |  FROM documents)
        |SELECT source, floor(before / 1500)::BIGINT AS file_no,
        |  count(*)::BIGINT AS n_docs,
        |  sum(n_chars)::BIGINT AS bytes,
        |  round(sum(n_chars) / 1500.0, 4) AS fill_ratio
        |FROM d GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    "q279_jackknife_groups" ->
      """WITH g AS (SELECT o_orderpriority, count(*)::BIGINT AS n,
        |    sum(o_totalprice) AS s
        |  FROM orders GROUP BY 1),
        |x AS (SELECT o_orderpriority, n,
        |    sum(s) OVER () / sum(n) OVER () AS gm,
        |    (sum(s) OVER () - s) / (sum(n) OVER () - n) AS loo
        |  FROM g)
        |SELECT o_orderpriority, n, (round(gm, 4) + 0.0) AS global_mean,
        |  (round(loo, 4) + 0.0) AS loo_mean,
        |  (round(loo - gm, 4) + 0.0) AS influence,
        |  abs(loo - gm) > 0.005 * abs(gm) AS influential
        |FROM x ORDER BY o_orderpriority""".stripMargin,
    "q270_cuped" ->
      s"""WITH $prePostCte,
        |a AS (SELECT count(*)::BIGINT AS n_users,
        |    covar_pop(x, y) AS cxy, var_pop(x) AS vx, var_pop(y) AS vy
        |  FROM per)
        |SELECT n_users, (round(cxy / nullif(vx, 0), 4) + 0.0) AS theta,
        |  (round(vy, 4) + 0.0) AS var_raw,
        |  (round(vy - cxy * cxy / nullif(vx, 0), 4) + 0.0) AS var_cuped,
        |  (round(cxy * cxy / nullif(vx * vy, 0), 4) + 0.0) AS var_reduction
        |FROM a""".stripMargin,
    "q271_did" ->
      s"""WITH $prePostCte,
        |t AS (SELECT x, y, y - x AS d,
        |    ${h32("user_id::VARCHAR", "did:")} % 2 = 1 AS tr
        |  FROM per),
        |a AS (SELECT
        |    count(CASE WHEN tr THEN 1 END)::BIGINT AS n_treat,
        |    count(CASE WHEN NOT tr THEN 1 END)::BIGINT AS n_ctrl,
        |    avg(CASE WHEN tr THEN x END) AS mtpre,
        |    avg(CASE WHEN tr THEN y END) AS mtpost,
        |    avg(CASE WHEN NOT tr THEN x END) AS mcpre,
        |    avg(CASE WHEN NOT tr THEN y END) AS mcpost,
        |    avg(CASE WHEN tr THEN d END) AS dt,
        |    avg(CASE WHEN NOT tr THEN d END) AS dc,
        |    var_samp(CASE WHEN tr THEN d END) AS vt,
        |    var_samp(CASE WHEN NOT tr THEN d END) AS vc
        |  FROM t)
        |SELECT n_treat, n_ctrl,
        |  (round(mtpre, 4) + 0.0) AS m_treat_pre,
        |  (round(mtpost, 4) + 0.0) AS m_treat_post,
        |  (round(mcpre, 4) + 0.0) AS m_ctrl_pre,
        |  (round(mcpost, 4) + 0.0) AS m_ctrl_post,
        |  (round(dt - dc, 4) + 0.0) AS did,
        |  (round(sqrt(vt / n_treat + vc / n_ctrl), 4) + 0.0) AS se,
        |  abs(dt - dc) > 1.96 * sqrt(vt / n_treat + vc / n_ctrl)
        |    AS significant
        |FROM a""".stripMargin,
    "q272_woe_iv" ->
      """WITH g AS (SELECT o_orderpriority, count(*)::BIGINT AS n,
        |    count(CASE WHEN o_orderstatus = 'F' THEN 1 END)::BIGINT
        |      AS n_bad
        |  FROM orders GROUP BY 1),
        |w AS (SELECT o_orderpriority, n, n_bad, n - n_bad AS n_good,
        |    count(*) OVER ()::DOUBLE AS k,
        |    sum(n - n_bad) OVER ()::DOUBLE AS gt,
        |    sum(n_bad) OVER ()::DOUBLE AS bt
        |  FROM g),
        |x AS (SELECT o_orderpriority, n, n_bad,
        |    (n_good + 0.5) / (gt + 0.5 * k) AS dg,
        |    (n_bad + 0.5) / (bt + 0.5 * k) AS db
        |  FROM w),
        |y AS (SELECT o_orderpriority, n, n_bad,
        |    ln(dg / db) AS woe, (dg - db) * ln(dg / db) AS ivc
        |  FROM x)
        |SELECT o_orderpriority, n, n_bad, (round(woe, 4) + 0.0) AS woe,
        |  round(ivc, 6) AS iv_contrib,
        |  (round(sum(ivc) OVER (), 6) + 0.0) AS iv_total
        |FROM y ORDER BY o_orderpriority""".stripMargin,
    "q273_propensity_match" ->
      s"""WITH per AS (SELECT user_id, count(*)::BIGINT AS ne,
        |    sum(value) AS tv,
        |    ${h32("user_id::VARCHAR", "psm:")} % 2 = 1 AS tr
        |  FROM events GROUP BY 1),
        |st AS (SELECT *, floor(ln(ne::DOUBLE) / ln(2.0))::BIGINT
        |    AS stratum FROM per),
        |r AS (SELECT *, row_number() OVER (PARTITION BY stratum, tr
        |    ORDER BY tv, user_id) AS rn FROM st),
        |m AS (SELECT t.stratum, count(*)::BIGINT AS n_matched,
        |    avg(t.tv) AS mt_m, avg(c.tv) AS mc_m,
        |    var_samp(t.tv) AS vt_m, var_samp(c.tv) AS vc_m
        |  FROM r t JOIN r c ON t.stratum = c.stratum AND t.rn = c.rn
        |    AND t.tr AND NOT c.tr
        |  GROUP BY 1),
        |b AS (SELECT stratum,
        |    count(CASE WHEN tr THEN 1 END)::BIGINT AS n_treated,
        |    count(CASE WHEN NOT tr THEN 1 END)::BIGINT AS n_control,
        |    avg(CASE WHEN tr THEN tv END) AS mt,
        |    avg(CASE WHEN NOT tr THEN tv END) AS mc,
        |    var_samp(CASE WHEN tr THEN tv END) AS vt,
        |    var_samp(CASE WHEN NOT tr THEN tv END) AS vc
        |  FROM st GROUP BY 1)
        |SELECT b.stratum, b.n_treated, b.n_control,
        |  coalesce(m.n_matched, 0)::BIGINT AS n_matched,
        |  (round((b.mt - b.mc) / nullif(sqrt((b.vt + b.vc) / 2), 0), 4) + 0.0)
        |    AS smd_before,
        |  (round((m.mt_m - m.mc_m) /
        |    nullif(sqrt((m.vt_m + m.vc_m) / 2), 0), 4) + 0.0) AS smd_after
        |FROM b LEFT JOIN m ON b.stratum = m.stratum
        |ORDER BY b.stratum""".stripMargin,
    "q274_hill_tail" ->
      """WITH f AS (SELECT l_partkey AS t, count(*)::BIGINT AS f
        |  FROM lineitem GROUP BY 1),
        |r AS (SELECT f::DOUBLE AS f, row_number() OVER
        |    (ORDER BY f DESC, t) AS rn FROM f),
        |top AS (SELECT * FROM r WHERE rn <= 101),
        |a AS (SELECT
        |    sum(CASE WHEN rn <= 25 THEN ln(f) END) AS s25,
        |    max(CASE WHEN rn = 26 THEN f END) AS fk25,
        |    sum(CASE WHEN rn <= 50 THEN ln(f) END) AS s50,
        |    max(CASE WHEN rn = 51 THEN f END) AS fk50,
        |    sum(CASE WHEN rn <= 100 THEN ln(f) END) AS s100,
        |    max(CASE WHEN rn = 101 THEN f END) AS fk100
        |  FROM top)
        |SELECT k, f_next, gamma,
        |  round(1.0 / nullif(g_raw, 0), 4) AS alpha
        |FROM (
        |  SELECT 25 AS k, fk25::BIGINT AS f_next,
        |    (round(s25 / 25 - ln(fk25), 4) + 0.0) AS gamma,
        |    s25 / 25 - ln(fk25) AS g_raw FROM a
        |  UNION ALL
        |  SELECT 50, fk50::BIGINT,
        |    (round(s50 / 50 - ln(fk50), 4) + 0.0),
        |    s50 / 50 - ln(fk50) FROM a
        |  UNION ALL
        |  SELECT 100, fk100::BIGINT,
        |    (round(s100 / 100 - ln(fk100), 4) + 0.0),
        |    s100 / 100 - ln(fk100) FROM a)
        |ORDER BY k""".stripMargin,
    "q275_randomization_test" ->
      s"""WITH per AS (SELECT user_id, avg(value) AS m,
        |    ${h32("user_id::VARCHAR", "pta:")} AS h1,
        |    ${h32("user_id::VARCHAR", "ptb:")} AS h2,
        |    ${h32("user_id::VARCHAR", "perm:")} % 2 = 1 AS g0
        |  FROM events GROUP BY 1),
        |obs AS (SELECT avg(CASE WHEN g0 THEN m END) -
        |    avg(CASE WHEN NOT g0 THEN m END) AS obs FROM per),
        |reps AS (SELECT r.r,
        |    avg(CASE WHEN (p.h1 + r.r * p.h2) % 4294967296 % 2 = 1
        |        THEN p.m END) -
        |    avg(CASE WHEN (p.h1 + r.r * p.h2) % 4294967296 % 2 <> 1
        |        THEN p.m END) AS d
        |  FROM per p, (SELECT unnest(range(0, 64)) AS r) r
        |  GROUP BY 1)
        |SELECT (round(abs((SELECT obs FROM obs)), 4) + 0.0) AS abs_obs_diff,
        |  count(*)::BIGINT AS n_reps,
        |  (round((count(CASE WHEN abs(d) >=
        |      abs((SELECT obs FROM obs)) THEN 1 END) + 1) /
        |    (count(*) + 1)::DOUBLE, 4) + 0.0) AS p_value,
        |  (count(CASE WHEN abs(d) >= abs((SELECT obs FROM obs))
        |      THEN 1 END) + 1) / (count(*) + 1)::DOUBLE <= 0.05
        |    AS reject_05
        |FROM reps""".stripMargin,
  )
}
