package graft.metrics

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** A/B experiment analysis with CUPED variance reduction (Deng, Xu,
  * Kohavi & Walker, "Improving the Sensitivity of Online Controlled
  * Experiments by Utilizing Pre-Experiment Data", WSDM 2013) — the
  * standard large-scale experimentation readout: adjust each unit's
  * in-experiment metric y by its pre-experiment covariate x,
  * ŷ = y − θ·(x − x̄) with θ = cov(x,y)/var(x), which leaves the
  * treatment effect unbiased (randomization makes x independent of
  * assignment) while removing the between-unit variance x explains —
  * the same experiment reaches significance with a fraction of the
  * traffic. Significance via Welch's unequal-variance t-test.
  *
  * Scale shape: ONE pass over the unit frame for the pooled θ moments
  * (a single global aggregate — regr_slope), one grouped aggregate for
  * per-variant moments (two rows), then pure arithmetic on the tiny
  * frames: the adjusted mean and variance per variant come from the
  * moment identities  mean_adj = ȳ_v − θ(x̄_v − x̄)  and
  * s²_adj = s²_y − 2θ·s_xy + θ²·s²_x  — no second corpus pass, nothing
  * corpus-sized ever moves after the two aggregates.
  *
  * Determinism: every aggregate is rounded to `quantize` decimals at
  * the handoff and the Welch/CUPED arithmetic is computed from the
  * rounded pieces, so an independent engine replays the report exactly.
  */
object Experiment {

  /** @param df one row per experiment UNIT: variant ∈ {exactly 2
    *   values}, y the in-experiment metric, x the pre-experiment
    *   covariate (same metric over the pre-period, typically).
    * @return one row: (variant_a, variant_b, n_a, n_b, mean_a, mean_b,
    *   lift_raw, lift_cuped, theta, var_reduction, t_raw, t_cuped,
    *   df_cuped) — a/b in variant sort order, lift = b − a, both raw
    *   and adjusted; var_reduction is the pooled fraction of metric
    *   variance CUPED removed; df_cuped the Welch–Satterthwaite
    *   degrees of freedom of the adjusted test.
    */
  def cupedReport(df: DataFrame, variantCol: String, yCol: String,
      xCol: String, quantize: Int = 6): DataFrame = {
    val base = df.select(col(variantCol).cast("string").as("__v"),
      col(yCol).cast("double").as("__y"), col(xCol).cast("double").as("__x"))
    // pooled θ and global covariate mean: one 1-row aggregate.
    // θ = regr_slope(y, x); zero-variance x (no pre-period signal)
    // degrades to θ = 0 — CUPED becomes the raw test, documented.
    val glob = base.agg(
      coalesce(round(expr("regr_slope(__y, __x)"), quantize), lit(0.0))
        .as("__th"),
      round(avg("__x"), quantize).as("__mx"))
    val per = base.groupBy("__v").agg(
      count(lit(1)).as("__n"),
      round(avg("__y"), quantize).as("__my"),
      round(avg("__x"), quantize).as("__mxv"),
      round(var_samp("__y"), quantize).as("__vy"),
      round(var_samp("__x"), quantize).as("__vx"),
      round(covar_samp("__x", "__y"), quantize).as("__cxy"))
    val adj = per.crossJoin(broadcast(glob)).select(
      col("__v"), col("__n"), col("__my"),
      round(col("__my") - col("__th") * (col("__mxv") - col("__mx")),
        quantize).as("__ma"),
      col("__vy"),
      round(col("__vy") - lit(2.0) * col("__th") * col("__cxy")
        + col("__th") * col("__th") * col("__vx"), quantize).as("__va"),
      col("__th"))
    // two variant rows → one report row (min/max of the variant-keyed
    // struct over the 2-row frame; a non-2-variant input yields an
    // EMPTY report — the count guard below — never a wrong one)
    val a = adj.select(struct(col("__v"), col("__n"), col("__my"),
      col("__ma"), col("__vy"), col("__va"), col("__th")).as("__s"))
    val two = a.agg(count(lit(1)).as("__k"),
      min("__s").as("__a"), max("__s").as("__b"))
    def f(s: String, c: String) = col(s + "." + c)
    val q = quantize
    two.select(
        when(col("__k") === 2, lit(true)).as("__ok"),
        f("__a", "__v").as("variant_a"), f("__b", "__v").as("variant_b"),
        f("__a", "__n").as("n_a"), f("__b", "__n").as("n_b"),
        f("__a", "__my").as("mean_a"), f("__b", "__my").as("mean_b"),
        round(f("__b", "__my") - f("__a", "__my"), q).as("lift_raw"),
        round(f("__b", "__ma") - f("__a", "__ma"), q).as("lift_cuped"),
        f("__a", "__th").as("theta"),
        round(lit(1.0) - try_divide(
          (f("__a", "__n") - 1) * f("__a", "__va")
            + (f("__b", "__n") - 1) * f("__b", "__va"),
          (f("__a", "__n") - 1) * f("__a", "__vy")
            + (f("__b", "__n") - 1) * f("__b", "__vy")), q)
          .as("var_reduction"),
        welchT(f("__a", "__my"), f("__b", "__my"), f("__a", "__vy"),
          f("__b", "__vy"), f("__a", "__n"), f("__b", "__n"), q)
          .as("t_raw"),
        welchT(f("__a", "__ma"), f("__b", "__ma"), f("__a", "__va"),
          f("__b", "__va"), f("__a", "__n"), f("__b", "__n"), q)
          .as("t_cuped"),
        welchDf(f("__a", "__va"), f("__b", "__va"), f("__a", "__n"),
          f("__b", "__n"), q).as("df_cuped"))
      .where(col("__ok")).drop("__ok")
  }

  /** Difference-in-differences on the 2×2 (treated × post) design
    * (Card & Krueger 1994 form): did = (ȳ_T,post − ȳ_T,pre) −
    * (ȳ_C,post − ȳ_C,pre), with the unequal-cell OLS-interaction
    * standard error √(Σ s²_cell/n_cell). ONE grouped corpus aggregate
    * to the 4 cells, then arithmetic; cell stats rounded at the
    * handoff so the readout replays exactly.
    * @return one row: (n_/mean_ per cell: cpre cpost tpre tpost,
    *   did, se, t) — cells keyed by boolean-castable columns.
    */
  def diffInDiff(df: DataFrame, treatedCol: org.apache.spark.sql.Column,
      postCol: org.apache.spark.sql.Column, yCol: String,
      quantize: Int = 6): DataFrame = {
    val base = df.select(treatedCol.cast("boolean").as("__t"),
      postCol.cast("boolean").as("__p"), col(yCol).cast("double").as("__y"))
    val cells = base.groupBy("__t", "__p").agg(
      count(lit(1)).as("__n"),
      round(avg("__y"), quantize).as("__m"),
      round(var_samp("__y"), quantize).as("__s2"))
    def cell(t: Boolean, p: Boolean, c: String) =
      max(when(col("__t") === t && col("__p") === p, col(c)))
    val one = cells.agg(
      cell(false, false, "__n").as("n_cpre"), cell(false, false, "__m").as("mean_cpre"),
      cell(false, true, "__n").as("n_cpost"), cell(false, true, "__m").as("mean_cpost"),
      cell(true, false, "__n").as("n_tpre"), cell(true, false, "__m").as("mean_tpre"),
      cell(true, true, "__n").as("n_tpost"), cell(true, true, "__m").as("mean_tpost"),
      cell(false, false, "__s2").as("__v_cpre"), cell(false, true, "__s2").as("__v_cpost"),
      cell(true, false, "__s2").as("__v_tpre"), cell(true, true, "__s2").as("__v_tpost"))
    val did = (col("mean_tpost") - col("mean_tpre")) -
      (col("mean_cpost") - col("mean_cpre"))
    val se = sqrt(col("__v_tpost") / col("n_tpost")
      + col("__v_tpre") / col("n_tpre")
      + col("__v_cpost") / col("n_cpost")
      + col("__v_cpre") / col("n_cpre"))
    one.select(col("n_cpre"), col("mean_cpre"), col("n_cpost"),
      col("mean_cpost"), col("n_tpre"), col("mean_tpre"), col("n_tpost"),
      col("mean_tpost"), round(did, quantize).as("did"),
      round(se, quantize).as("se"),
      round(try_divide(did, se), quantize).as("t"))
  }

  /** Two-proportion z-test for conversion metrics: pooled-variance z
    * with absolute and relative lift. Counts stay integral, so
    * everything up to the fixed-order scalar arithmetic is exact.
    * @return one row: (variant_a, variant_b, n_a, n_b, conv_a, conv_b,
    *   rate_a, rate_b, lift_abs, lift_rel, z) — variants in sort order.
    */
  def proportionsZTest(df: DataFrame, variantCol: String,
      successCol: org.apache.spark.sql.Column,
      quantize: Int = 6): DataFrame = {
    val per = df.groupBy(col(variantCol).cast("string").as("__v")).agg(
      count(lit(1)).as("__n"),
      sum(successCol.cast("boolean").cast("long")).as("__c"))
    val two = per
      .select(struct(col("__v"), col("__n"), col("__c")).as("__s"))
      .agg(count(lit(1)).as("__k"), min("__s").as("__a"), max("__s").as("__b"))
    def f(s: String, c: String) = col(s + "." + c)
    val (na, nb) = (f("__a", "__n"), f("__b", "__n"))
    val (ca, cb) = (f("__a", "__c"), f("__b", "__c"))
    val pa = ca / na
    val pb = cb / nb
    val pp = (ca + cb) / (na + nb)
    val q = quantize
    two.select(
        when(col("__k") === 2, lit(true)).as("__ok"),
        f("__a", "__v").as("variant_a"), f("__b", "__v").as("variant_b"),
        na.as("n_a"), nb.as("n_b"), ca.as("conv_a"), cb.as("conv_b"),
        round(pa, q).as("rate_a"), round(pb, q).as("rate_b"),
        round(pb - pa, q).as("lift_abs"),
        round(try_divide(pb - pa, pa), q).as("lift_rel"),
        round(try_divide(pb - pa,
          sqrt(pp * (lit(1.0) - pp) * (lit(1.0) / na + lit(1.0) / nb))), q)
          .as("z"))
      .where(col("__ok")).drop("__ok")
  }

  /** Mann–Whitney U / Wilcoxon rank-sum test (Mann & Whitney 1947) —
    * the distribution-free A/B readout for skewed or ordinal metrics
    * where a t-test's normality assumption fails (revenue, counts,
    * latencies). Computed WITHOUT ranking the corpus: collapse to
    * VALUE-LEVEL counts per variant (one grouped aggregate; the frame
    * is ≤|distinct metric values| rows), then
    *
    *   U_b = Σ_v n_b(v)·(Σ_{w<v} n_a(w)) + n_b(v)·n_a(v)/2
    *
    * — each b-row beats every a-row with a smaller value and half-wins
    * ties, which is exactly the midrank U without any rank column.
    * Normal approximation with the tie correction:
    *
    *   μ_U = n_a·n_b/2
    *   σ_U = √( n_a·n_b/12 · (N+1 − Σ(t³−t)/(N(N−1))) )
    *   z   = (U_b − μ_U)/σ_U
    *
    * Count products evaluate in DOUBLE (BIGINT×BIGINT wraps past 2^63
    * at 100 TB row counts; exact below 2^53). The prefix sum runs over
    * the value frame only, range-partitioned ([[graft.core.Prefix]]).
    *
    * @param valueCol integral-valued metric expression (cast your
    *   metric to a stable integer grid first — ranks only need order).
    * @return one row: (variant_a, variant_b, n_a, n_b, u_b, mu_u,
    *   sigma_u, z) — a/b in variant sort order; z > 0 means b's values
    *   are stochastically larger.
    */
  def mannWhitneyU(df: DataFrame, variantCol: String,
      valueCol: org.apache.spark.sql.Column,
      quantize: Int = 6): DataFrame = {
    val base = df.select(col(variantCol).cast("string").as("__var"),
      valueCol.cast("long").as("__v"))
    // ONE corpus pass (r15): the old shape scanned the corpus twice —
    // once for the variant guard, once for the per-value counts. The
    // (value, variant) rollup subsumes both: the guard and the a/b
    // labels derive from the ≤ 2·|distinct values| frame, checkpointed
    // so its two consumers (the broadcast guard and the count pivot)
    // don't re-run the corpus rollup.
    val perVV = base.groupBy("__v", "__var")
      .agg(count(lit(1)).as("__n"))
      .localCheckpoint()
    // two-sample semantics: min/max as a/b is only sound with EXACTLY
    // two distinct variants — one variant would self-compare (every
    // row counted into both n_a and n_b), three+ would silently drop
    // middle variants from the counts but not the data. Fail the plan
    // instead (the GridDbscan raise_error precondition convention).
    val vs = perVV
      .agg(min("__var").as("__va"), max("__var").as("__vb"),
        count_distinct(col("__var")).as("__k"))
      .select(col("__va"), col("__vb"),
        when(col("__k") === 2, lit(true)).otherwise(raise_error(concat(
          lit("mannWhitneyU requires exactly 2 distinct variants, got "),
          col("__k").cast("string")))).as("__ok"))
    val perValue = perVV.crossJoin(broadcast(vs))
      .groupBy("__v")
      .agg(
        sum(when(col("__var") === col("__va"), col("__n")).otherwise(0L))
          .as("__na"),
        sum(when(col("__var") === col("__vb"), col("__n")).otherwise(0L))
          .as("__nb"))
    // per-value prefix sum — corpus-sized for near-unique metric
    // values, so it runs as a range-partitioned two-pass prefix sum
    // (guide §2, r15); long addend, regrouping exact
    val scored = graft.core.Prefix.cumSums(perValue, Seq(col("__v")),
        Seq((col("__na"), "__cuma", false)))
      .select(col("__na"), col("__nb"), col("__cuma"))
    val agg = scored.agg(
      sum("__na").as("__n_a"),
      sum("__nb").as("__n_b"),
      sum(col("__nb").cast("double") * col("__cuma")
        + col("__nb").cast("double") * col("__na") / 2.0).as("__u"),
      sum((col("__na") + col("__nb")).cast("double")
        * (col("__na") + col("__nb")) * (col("__na") + col("__nb"))
        - (col("__na") + col("__nb"))).as("__ties"))
    // the where on __ok keeps the guard column live through column
    // pruning so raise_error actually evaluates
    agg.crossJoin(broadcast(vs))
      .where(col("__ok"))
      .select(col("__va").as("variant_a"), col("__vb").as("variant_b"),
        col("__n_a").as("n_a"), col("__n_b").as("n_b"),
        round(col("__u"), quantize).as("u_b"),
        round(col("__n_a").cast("double") * col("__n_b") / 2.0, quantize)
          .as("mu_u"),
        round(sqrt(col("__n_a").cast("double") * col("__n_b") / 12.0
          * ((col("__n_a") + col("__n_b") + 1)
            - col("__ties") / ((col("__n_a") + col("__n_b")).cast("double")
              * (col("__n_a") + col("__n_b") - 1)))), quantize)
          .as("sigma_u"),
        round(try_divide(
          col("__u") - col("__n_a").cast("double") * col("__n_b") / 2.0,
          sqrt(col("__n_a").cast("double") * col("__n_b") / 12.0
            * ((col("__n_a") + col("__n_b") + 1)
              - col("__ties") / ((col("__n_a") + col("__n_b"))
                .cast("double") * (col("__n_a") + col("__n_b") - 1))))),
          quantize).as("z"))
  }

  /** Sample-ratio-mismatch check — the experimentation trust guardrail
    * run BEFORE any effect readout (Fabijan et al. KDD'19: a skewed
    * assignment invalidates the experiment regardless of the metric):
    * per-variant observed vs expected counts with chi-square terms.
    * One grouped count; everything else is arithmetic on ≤|variants|
    * integers.
    * @param expected variant → design ratio (must cover every observed
    *   variant — ENFORCED: an observed variant with no design ratio
    *   fails the plan via raise_error; ratios needn't sum to 1 —
    *   they're normalized)
    */
  def srmCheck(df: DataFrame, variantCol: String,
      expected: Map[String, Double], quantize: Int = 6): DataFrame = {
    require(expected.nonEmpty && expected.values.forall(_ > 0))
    val spark = df.sparkSession
    import spark.implicits._
    val norm = expected.values.sum
    val ratios = expected.map { case (k, v) => (k, v / norm) }.toSeq
      .toDF("variant", "ratio")
    val per = df.groupBy(col(variantCol).cast("string").as("variant"))
      .agg(count(lit(1)).as("n"))
    val tot = per.agg(sum("n").as("__nt"))
    // LEFT join + raise_error: a variant observed in the data but
    // absent from the design is exactly the assignment anomaly an SRM
    // guardrail exists to surface — an inner join would silently drop
    // it from the report (the mannWhitneyU raise_error convention)
    per.join(broadcast(ratios), Seq("variant"), "left")
      .withColumn("ratio",
        when(col("ratio").isNotNull, col("ratio"))
          .otherwise(raise_error(concat(
            lit("srmCheck: observed variant with no design ratio: "),
            col("variant"))).cast("double")))
      .join(broadcast(tot))
      .select(col("variant"), col("n"),
        round(col("ratio") * col("__nt"), quantize).as("expected_n"),
        round(pow(col("n") - col("ratio") * col("__nt"), 2)
          / (col("ratio") * col("__nt")), quantize).as("chi2_term"))
  }

  private def welchT(ma: org.apache.spark.sql.Column,
      mb: org.apache.spark.sql.Column, va: org.apache.spark.sql.Column,
      vb: org.apache.spark.sql.Column, na: org.apache.spark.sql.Column,
      nb: org.apache.spark.sql.Column, q: Int) =
    round(try_divide(mb - ma, sqrt(va / na + vb / nb)), q)

  /** Welch–Satterthwaite: (va/na + vb/nb)² /
    * ((va/na)²/(na−1) + (vb/nb)²/(nb−1)).
    */
  private def welchDf(va: org.apache.spark.sql.Column,
      vb: org.apache.spark.sql.Column, na: org.apache.spark.sql.Column,
      nb: org.apache.spark.sql.Column, q: Int) = {
    val sa = va / na
    val sb = vb / nb
    round(try_divide((sa + sb) * (sa + sb),
      sa * sa / (na - 1) + sb * sb / (nb - 1)), q)
  }

  /** Wald sequential probability ratio test on a daily binomial
    * metric (Wald, "Sequential Tests of Statistical Hypotheses",
    * AoMS 1945) — the always-valid monitor an experimentation
    * platform runs INSTEAD of peeking at a fixed-horizon test: after
    * each day d with n_d trials and x_d successes the cumulative
    * log-likelihood ratio of H1: p = p1 vs H0: p = p0,
    *
    *   Λ_D = Σ_{d≤D} [ x_d·ln(p1/p0) + (n_d−x_d)·ln((1−p1)/(1−p0)) ]
    *
    * is compared to Wald's boundaries ln(β/(1−α)) (accept H0) and
    * ln((1−β)/α) (accept H1); in between the experiment continues.
    *
    * Scale shape: ONE corpus rollup to per-day (n, x), then the
    * cumulative sum and decisions run strictly over the ≤|days|
    * frame — an ORDERED window fold, so the accumulation order is
    * pinned and the replay is engine-exact (the per-day LLR is
    * x·c1 + (n−x)·c2 with c1, c2 driver-computed literals). Decisions
    * compare the ROUNDED cumulative LLR to the literal boundaries —
    * single provenance on both engines.
    *
    * @return one row per day: (day, n, x, llr, cum_llr, decision ∈
    *   accept_h0 | accept_h1 | continue)
    */
  def sprtBinomial(df: DataFrame, dayCol: String, trialCol: String,
      successCol: String, p0: Double, p1: Double,
      alpha: Double = 0.05, beta: Double = 0.2): DataFrame = {
    require(p0 > 0 && p0 < 1 && p1 > 0 && p1 < 1 && p1 != p0,
      s"need distinct p0, p1 in (0,1), got $p0, $p1")
    require(alpha > 0 && alpha < 1 && beta > 0 && beta < 1,
      s"need alpha, beta in (0,1), got $alpha, $beta")
    val c1 = math.log(p1 / p0)
    val c2 = math.log((1 - p1) / (1 - p0))
    val lo = math.log(beta / (1 - alpha))
    val hi = math.log((1 - beta) / alpha)
    val per = df.groupBy(col(dayCol).as("day"))
      .agg(sum(col(trialCol).cast("long")).as("n"),
        sum(col(successCol).cast("long")).as("x"))
    val w = org.apache.spark.sql.expressions.Window.orderBy("day")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    per
      .withColumn("__llr",
        col("x") * lit(c1) + (col("n") - col("x")) * lit(c2))
      .withColumn("cum_llr", round(sum("__llr").over(w), 6))
      .select(col("day"), col("n"), col("x"),
        round(col("__llr"), 6).as("llr"), col("cum_llr"),
        when(col("cum_llr") >= lit(hi), lit("accept_h1"))
          .when(col("cum_llr") <= lit(lo), lit("accept_h0"))
          .otherwise(lit("continue")).as("decision"))
  }

  /** Inverse-propensity-weighted average treatment effect (Horvitz &
    * Thompson 1952; Hájek 1971 for the normalized form) — the
    * OBSERVATIONAL complement to the randomized A/B readouts above:
    * when assignment was not randomized, weight each treated unit by
    * 1/e(x) and each control by 1/(1−e(x)) so both groups reweight to
    * the covariate mix of the whole population.
    *
    * The propensity arrives as a COLUMN the caller scored (from the
    * trained logistic surface, a broadcast opaque model via
    * ParallelPostFit, or a literal design — the engine does not care),
    * clipped into [clip, 1−clip] first (the standard
    * positivity/overlap stabilization; unclipped tail weights make the
    * HT estimator explode). Reported:
    *
    *  - `ate_ht`   — Horvitz–Thompson: Σ(t·y/e)/N − Σ((1−t)·y/(1−e))/N
    *  - `ate_hajek`— Hájek: Σ(t·y/e)/Σ(t/e) − Σ((1−t)·y/(1−e))/Σ((1−t)/(1−e))
    *    (normalized weights; bounded, the production default)
    *  - per-arm counts and mean clipped weights (the overlap
    *    diagnostic a causal pipeline monitors)
    *
    * ONE corpus aggregate; everything after is arithmetic on the
    * 1-row moment frame, rounded at the output boundary only.
    */
  def ipwAte(df: DataFrame, outcomeCol: String, treatCol: String,
      propensityCol: String, clip: Double = 0.01): DataFrame = {
    require(clip >= 0 && clip < 0.5, s"need 0 <= clip < 0.5, got $clip")
    val e = least(greatest(col(propensityCol).cast("double"), lit(clip)),
      lit(1.0 - clip))
    val t = col(treatCol).cast("boolean")
    val y = col(outcomeCol).cast("double")
    val m = df.select(
      t.as("__t"), y.as("__y"), e.as("__e"))
      .agg(
        sum(when(col("__t"), 1L).otherwise(0L)).as("__nt"),
        sum(when(!col("__t"), 1L).otherwise(0L)).as("__nc"),
        count(lit(1)).as("__n"),
        sum(when(col("__t"), col("__y") / col("__e"))
          .otherwise(lit(0.0))).as("__syt"),
        sum(when(!col("__t"), col("__y") / (lit(1.0) - col("__e")))
          .otherwise(lit(0.0))).as("__syc"),
        sum(when(col("__t"), lit(1.0) / col("__e"))
          .otherwise(lit(0.0))).as("__swt"),
        sum(when(!col("__t"), lit(1.0) / (lit(1.0) - col("__e")))
          .otherwise(lit(0.0))).as("__swc"))
    m.select(
      col("__nt").as("n_treated"),
      col("__nc").as("n_control"),
      round(try_divide(col("__swt"), col("__nt")), 6).as("mean_w_treated"),
      round(try_divide(col("__swc"), col("__nc")), 6).as("mean_w_control"),
      round(col("__syt") / col("__n") - col("__syc") / col("__n"), 6)
        .as("ate_ht"),
      round(try_divide(col("__syt"), col("__swt"))
        - try_divide(col("__syc"), col("__swc")), 6).as("ate_hajek"))
  }

  /** Delta-method A/B readout for RATIO metrics (Deng, Knoblich & Lu,
    * "Applying the Delta method in metric analytics", KDD 2018) — the
    * reason naive per-event t-tests on CTR-style metrics are wrong:
    * the metric is a ratio of per-UNIT totals R = Σy/Σn and events
    * within a unit are correlated, so the variance must come from the
    * unit-level joint moments:
    *
    *   Var(R̂) ≈ [Var(y) − 2R·Cov(y,n) + R²·Var(n)] / (n̄²·N)
    *
    * (first-order Taylor of ȳ/n̄ around the means). Reported per
    * variant plus the difference z-test.
    *
    * Scale shape: `perUnit` is one row per unit (the caller's one
    * corpus rollup); this is then ONE 14-column aggregate — per-variant
    * counts and (Σy, Σn, Σy², Σn², Σyn) via conditional sums — and
    * 1-row arithmetic. Unrounded sums flow into the statistics
    * (single-provenance rule); every reported column rounds at the
    * output boundary.
    *
    * @param perUnit one row per unit: numerator total, denominator
    *   total, and a STRICTLY 0/1 variant column (the [[ipwAte]] treat
    *   contract) — rows whose variant is any other value belong to
    *   NEITHER arm's conditional sums and are silently excluded, so a
    *   mis-coded variant column truncates the arms; validate upstream.
    *   Each variant needs ≥ 2 units (the N−1 sample moments) and a
    *   nonzero denominator total — an empty arm nulls its columns
    *   rather than raising.
    */
  def ratioMetricDelta(perUnit: DataFrame, variantCol: String,
      numCol: String, denCol: String): DataFrame = {
    def arm(want: Long, suffix: String): Seq[Column] = {
      val in = col("__v") === want
      Seq(
        sum(when(in, 1L).otherwise(0L)).as(s"__c$suffix"),
        sum(when(in, col("__y")).otherwise(0.0)).as(s"__sy$suffix"),
        sum(when(in, col("__n")).otherwise(0.0)).as(s"__sn$suffix"),
        sum(when(in, col("__y") * col("__y")).otherwise(0.0))
          .as(s"__syy$suffix"),
        sum(when(in, col("__n") * col("__n")).otherwise(0.0))
          .as(s"__snn$suffix"),
        sum(when(in, col("__y") * col("__n")).otherwise(0.0))
          .as(s"__syn$suffix"))
    }
    val aggs = arm(0L, "a") ++ arm(1L, "b")
    val m = perUnit.select(col(variantCol).cast("long").as("__v"),
        col(numCol).cast("double").as("__y"),
        col(denCol).cast("double").as("__n"))
      .agg(aggs.head, aggs.tail: _*)
    // per-arm: R = Σy/Σn, n̄ = Σn/N, unbiased var/cov, delta variance
    def nD(s: String) = col(s"__c$s").cast("double")
    def r(s: String) = col(s"__sy$s") / col(s"__sn$s")
    def nbar(s: String) = col(s"__sn$s") / nD(s)
    def vy(s: String) = (col(s"__syy$s")
      - col(s"__sy$s") * col(s"__sy$s") / nD(s)) / (nD(s) - 1.0)
    def vn(s: String) = (col(s"__snn$s")
      - col(s"__sn$s") * col(s"__sn$s") / nD(s)) / (nD(s) - 1.0)
    def cyn(s: String) = (col(s"__syn$s")
      - col(s"__sy$s") * col(s"__sn$s") / nD(s)) / (nD(s) - 1.0)
    def varR(s: String) = (vy(s) - lit(2.0) * r(s) * cyn(s)
      + r(s) * r(s) * vn(s)) / (nbar(s) * nbar(s)) / nD(s)
    m.select(
      col("__ca").as("n_a"), col("__cb").as("n_b"),
      round(r("a"), 6).as("ratio_a"),
      round(r("b"), 6).as("ratio_b"),
      round(varR("a"), 6).as("var_a"),
      round(varR("b"), 6).as("var_b"),
      round(r("b") - r("a"), 6).as("diff"),
      round(sqrt(varR("a") + varR("b")), 6).as("se"),
      round((r("b") - r("a")) / sqrt(varR("a") + varR("b")), 6).as("z"))
  }

  /** Augmented-IPW (doubly-robust) average treatment effect (Robins,
    * Rotnitzky & Zhao, JASA 1994; the AIPW estimator surveyed by Glynn
    * & Quinn 2010) — the estimator a causal pipeline graduates to after
    * [[ipwAte]]: fit an outcome model per arm, weight only its
    * RESIDUALS by inverse propensity, and the result is consistent if
    * EITHER the outcome model OR the propensity model is right (double
    * robustness), with strictly smaller variance than IPW when the
    * outcome model explains anything.
    *
    *   τ̂ = mean[ μ̂₁(x) − μ̂₀(x) ]
    *        + mean[ t·(y − μ̂₁(x))/e(x) ]
    *        − mean[ (1−t)·(y − μ̂₀(x))/(1−e(x)) ]
    *
    * The outcome models here are per-arm simple OLS μ̂ₐ(x) = aₐ + bₐ·x
    * on ONE covariate column — and that is what makes the whole
    * estimator ONE corpus aggregate: every residual sum expands into
    * weighted moments (Σt·y/e − a₁·Σt/e − b₁·Σt·x/e), so the plan is a
    * single 16-column map-side-combined aggregate followed by 1-row
    * arithmetic. No second pass, no driver loop. (A multivariate
    * outcome model rides the same expansion with a normal-equation
    * frame — the [[graft.llmdata.Glove]] shape.)
    *
    * Exactness: the fitted coefficients and each reported component are
    * quantized round-6 at the 1-row boundary (the quantized-handoff
    * convention), and the composite τ̂ is assembled FROM the rounded
    * components — so the oracle replays bit-for-bit. Propensity arrives
    * as a caller-scored COLUMN ([[ipwAte]]'s contract), clipped into
    * [clip, 1−clip].
    *
    * Precondition: each arm needs ≥ 3 units and a covariate that VARIES
    * within it — a constant-x or ≤2-point arm makes the OLS normal
    * equation singular (det = nΣx² − (Σx)² = 0) and the coefficients
    * null out. Callers with near-constant covariates should fall back
    * to [[ipwAte]].
    */
  def aipwAte(df: DataFrame, outcomeCol: String, treatCol: String,
      propensityCol: String, covariateCol: String,
      clip: Double = 0.01): DataFrame = {
    require(clip >= 0 && clip < 0.5, s"need 0 <= clip < 0.5, got $clip")
    val e = least(greatest(col(propensityCol).cast("double"), lit(clip)),
      lit(1.0 - clip))
    val t = col(treatCol).cast("boolean")
    val y = col(outcomeCol).cast("double")
    val x = col(covariateCol).cast("double")
    val m = df.select(t.as("__t"), y.as("__y"), x.as("__x"), e.as("__e"))
      .agg(
        count(lit(1)).as("__n"),
        sum(col("__x")).as("__sx"),
        sum(when(col("__t"), 1L).otherwise(0L)).as("__nt"),
        sum(when(col("__t"), col("__x")).otherwise(0.0)).as("__sxt"),
        sum(when(col("__t"), col("__x") * col("__x")).otherwise(0.0)).as("__sxxt"),
        sum(when(col("__t"), col("__y")).otherwise(0.0)).as("__syt"),
        sum(when(col("__t"), col("__x") * col("__y")).otherwise(0.0)).as("__sxyt"),
        sum(when(col("__t"), lit(1.0) / col("__e")).otherwise(0.0)).as("__swt"),
        sum(when(col("__t"), col("__x") / col("__e")).otherwise(0.0)).as("__swxt"),
        sum(when(col("__t"), col("__y") / col("__e")).otherwise(0.0)).as("__swyt"),
        sum(when(!col("__t"), 1L).otherwise(0L)).as("__nc"),
        sum(when(!col("__t"), col("__x")).otherwise(0.0)).as("__sxc"),
        sum(when(!col("__t"), col("__x") * col("__x")).otherwise(0.0)).as("__sxxc"),
        sum(when(!col("__t"), col("__y")).otherwise(0.0)).as("__syc"),
        sum(when(!col("__t"), col("__x") * col("__y")).otherwise(0.0)).as("__sxyc"),
        sum(when(!col("__t"), lit(1.0) / (lit(1.0) - col("__e")))
          .otherwise(0.0)).as("__swc"),
        sum(when(!col("__t"), col("__x") / (lit(1.0) - col("__e")))
          .otherwise(0.0)).as("__swxc"),
        sum(when(!col("__t"), col("__y") / (lit(1.0) - col("__e")))
          .otherwise(0.0)).as("__swyc"))
    // per-arm OLS: b = (nΣxy − ΣxΣy)/(nΣxx − (Σx)²), a = (Σy − bΣx)/n —
    // each coefficient quantized at the handoff
    def bFit(n: Column, sx: Column, sxx: Column, sy: Column, sxy: Column) =
      round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6)
    def aFit(n: Column, sx: Column, sy: Column, b: Column) =
      round((sy - b * sx) / n, 6)
    val fit = m.select(col("*"),
      bFit(col("__nt").cast("double"), col("__sxt"), col("__sxxt"),
        col("__syt"), col("__sxyt")).as("__b1"),
      bFit(col("__nc").cast("double"), col("__sxc"), col("__sxxc"),
        col("__syc"), col("__sxyc")).as("__b0"))
    val fit2 = fit.select(col("*"),
      aFit(col("__nt").cast("double"), col("__sxt"), col("__syt"),
        col("__b1")).as("__a1"),
      aFit(col("__nc").cast("double"), col("__sxc"), col("__syc"),
        col("__b0")).as("__a0"))
    val comps = fit2.select(
      col("__nt"), col("__nc"),
      col("__a1"), col("__b1"), col("__a0"), col("__b0"),
      round((col("__a1") - col("__a0")) + (col("__b1") - col("__b0"))
        * (col("__sx") / col("__n")), 6).as("ate_outcome_model"),
      round((col("__swyt") - col("__a1") * col("__swt")
        - col("__b1") * col("__swxt")) / col("__n"), 6).as("resid_corr_treated"),
      round((col("__swyc") - col("__a0") * col("__swc")
        - col("__b0") * col("__swxc")) / col("__n"), 6).as("resid_corr_control"))
    comps.select(
      col("__nt").as("n_treated"), col("__nc").as("n_control"),
      col("__a1").as("mu1_intercept"), col("__b1").as("mu1_slope"),
      col("__a0").as("mu0_intercept"), col("__b0").as("mu0_slope"),
      col("ate_outcome_model"), col("resid_corr_treated"),
      col("resid_corr_control"),
      round(col("ate_outcome_model") + col("resid_corr_treated")
        - col("resid_corr_control"), 6).as("ate_aipw"))
  }
}
