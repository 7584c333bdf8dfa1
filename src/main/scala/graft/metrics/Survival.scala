package graft.metrics

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Kaplan–Meier survival estimation (Kaplan & Meier, "Nonparametric
  * estimation from incomplete observations", JASA 1958) — the
  * retention/churn curve read off any event log with right-censoring:
  * units still alive at the observation cutoff haven't "died", they've
  * just stopped being observed, and dropping OR counting them as dead
  * both bias the curve; KM handles them exactly:
  *
  *   S(t) = Π_{t_i ≤ t, d_i > 0} (1 − d_i / n_i)
  *
  * with d_i deaths at time t_i and n_i the units still AT RISK
  * (duration ≥ t_i, deaths and censored alike).
  *
  * Scale shape: one rollup of the corpus to per-duration counts
  * (≤ |distinct durations| rows — days, so hundreds), then every
  * window — the reverse cumulative risk set and the ordered survival
  * product — runs strictly over that tiny aggregate frame, never the
  * corpus. The survival product is an ORDERED fold (ascending time)
  * of per-step factors each rounded to 6, so an independent engine
  * replays S(t) exactly (DuckDB: product(f ORDER BY t) over the same
  * frame).
  */
object Survival {

  /** @param df one row per UNIT: duration (integral time units, e.g.
    *   days) + event flag (true = death/churn observed, false =
    *   right-censored at that duration).
    * @return one row per duration with observed deaths: (t, n_risk,
    *   n_events, n_censored_at, surv) — surv the KM estimate after t,
    *   rounded to 6.
    */
  def kaplanMeier(df: DataFrame, durationCol: String,
      eventCol: String): DataFrame = {
    val per = df.select(col(durationCol).cast("long").as("__t"),
        col(eventCol).cast("boolean").as("__e"))
      .groupBy("__t").agg(
        count(lit(1)).as("__m"),
        sum(when(col("__e"), 1L).otherwise(0L)).as("__d"))
    // risk set: units with duration >= t — a reverse cumulative sum,
    // computed as a range-partitioned two-pass prefix sum (guide §2,
    // r15: never a single-partition window over the per-duration
    // frame; __m is a long, so regrouped accumulation is exact)
    val wSurv = Window.orderBy(col("__t").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    graft.core.Prefix.cumSums(per, Seq(col("__t").desc),
        Seq((col("__m"), "__n", true)))
      .withColumn("__f",
        round(lit(1.0) - col("__d").cast("double") / col("__n"), 6))
      // event rows only BEFORE the ordered product: zero-death
      // durations have __f = 1 − 0/n = exactly 1.0, and x·1.0 ≡ x in
      // IEEE, so dropping them from the fold is bit-identical — the
      // sequential product then runs over the event-duration frame
      // (bounded by distinct durations with deaths; multiplication is
      // non-associative, so this fold stays order-pinned: the growing
      // frame updates one running product per row in ascending __t)
      .filter(col("__d") > 0)
      .withColumn("__surv", round(product(col("__f")).over(wSurv), 6))
      .select(col("__t").as("t"), col("__n").as("n_risk"),
        col("__d").as("n_events"),
        (col("__m") - col("__d")).as("n_censored_at"),
        col("__surv").as("surv"))
  }

  /** Per-unit duration + churn flag from a raw event log — the
    * standard retention framing: a unit's duration is last−first
    * activity in `unitMicros` granules (days for subscription-style
    * logs, hours for high-frequency ones); units whose last activity
    * is within `churnGapUnits` granules of the observation cutoff (the
    * corpus max timestamp) are CENSORED — they may still be active;
    * everyone else churned at their last event. One per-unit aggregate
    * + a broadcast 1-row cutoff.
    *
    * @return (unit, duration, churned)
    */
  def durations(events: DataFrame, unitCol: String, tsCol: String,
      churnGapUnits: Int,
      unitMicros: Long = 86400000000L): DataFrame = {
    require(churnGapUnits >= 0 && unitMicros > 0,
      s"bad gap/unit: $churnGapUnits / $unitMicros")
    val per = events.groupBy(col(unitCol).as("unit")).agg(
      min(unix_micros(col(tsCol))).as("__f"),
      max(unix_micros(col(tsCol))).as("__l"))
    val cut = per.agg(max("__l").as("__cut"))
    per.crossJoin(broadcast(cut))
      .select(col("unit"),
        floor((col("__l") - col("__f")) / lit(unitMicros.toDouble))
          .cast("long").as("duration"),
        (col("__l") < col("__cut") - lit(churnGapUnits * unitMicros))
          .as("churned"))
  }

  /** Two-sample log-rank test (Mantel 1966; Peto & Peto 1972) — "are
    * these two cohorts' survival curves the same?", the hypothesis
    * test that belongs next to the [[kaplanMeier]] curves. At each
    * event time t the observed group-A deaths d_{At} are compared to
    * the hypergeometric expectation under H0 (no group difference):
    *
    *   E_{At} = d_t · n_{At} / n_t
    *   V_t    = d_t · (n_{At}/n_t) · (1 − n_{At}/n_t) · (n_t − d_t)
    *              / (n_t − 1)        (0 when n_t = 1)
    *
    * and χ² = (O_A − E_A)² / ΣV_t  ~  χ²(1) under H0.
    *
    * Scale shape: ONE corpus rollup to per-duration counts (total and
    * group-A at-risk/deaths in the same pass), then the two reverse
    * cumulative risk sets and the Σ run strictly over the
    * ≤|distinct durations| frame — the [[kaplanMeier]] posture. Group
    * A is the lexicographically smaller label; exactly two distinct
    * labels are required (the Mann–Whitney two-sample contract).
    *
    * @return one row: (group_a, o_a, e_a, o_b, e_b, var_logrank,
    *   chi2) — e/var rounded 6 for display, χ² computed from the
    *   UNROUNDED sums (single-provenance rule) and NULL if ΣV = 0.
    */
  /** Cox proportional-hazards ONE-STEP estimator for a single covariate
    * (Cox, "Regression models and life-tables", JRSS-B 1972; the
    * one-step Newton / score statistic at β = 0, Breslow tie handling)
    * — the regression companion to [[logRank]]: "does this covariate
    * shift the hazard?", with an effect SIZE (log hazard ratio), not
    * just a test.
    *
    * At β = 0 the partial-likelihood score and information are risk-set
    * moments: with S0_t = |R_t|, S1_t = Σ_{R_t} x, S2_t = Σ_{R_t} x²,
    *
    *   U = Σ_events [ Σ_{deaths at t} x  −  d_t · S1_t/S0_t ]
    *   I = Σ_events d_t · (S2_t/S0_t − (S1_t/S0_t)²)
    *
    * β̂₁ = U/I is the one-step Newton estimate from 0 (the standard
    * large-sample first iterate) and U²/I the score test, which for a
    * 0/1 covariate with no ties IS the log-rank χ² — the spec asserts
    * that identity against [[logRank]].
    *
    * Scale shape — the [[kaplanMeier]] posture: ONE corpus rollup to
    * per-duration moment rows (m, d, Σx, Σx², Σx over deaths), then
    * the reverse cumulative risk-set sums and the two Σ run strictly
    * over the ≤|distinct durations| frame. Sums stay unrounded into
    * the final statistics (single-provenance rule); every reported
    * column rounds at the output boundary.
    *
    * Covariate contract: the covariate must be INTEGER-valued (a count,
    * a 0/1 flag), with Σ|x| and Σx² over the corpus below 2^53. The
    * risk-set sums S1/S2 are [[graft.core.Prefix]] sums of per-duration
    * double moments, exact only for integer addends; a fractional,
    * non-finite or too-large covariate fails the query with an
    * IllegalArgumentException naming `__s1`/`__s2` instead of returning
    * regrouping-dependent bits.
    */
  def coxOneStep(df: DataFrame, durationCol: String, eventCol: String,
      covariateCol: String): DataFrame = {
    val x = col(covariateCol).cast("double")
    val per = df.select(col(durationCol).cast("long").as("__t"),
        col(eventCol).cast("boolean").as("__e"), x.as("__x"))
      .groupBy("__t").agg(
        count(lit(1)).as("__m"),
        sum(when(col("__e"), 1L).otherwise(0L)).as("__d"),
        sum(col("__x")).as("__sx"),
        sum(col("__x") * col("__x")).as("__sxx"),
        sum(when(col("__e"), col("__x")).otherwise(0.0)).as("__sex"))
    val s0 = col("__s0").cast("double")
    val dD = col("__d").cast("double")
    val xbar = col("__s1") / s0
    // reverse cumulative risk-set moments as two-pass prefix sums
    // (guide §2). __sx/__sxx are double sums, exact under the
    // covariate contract above (the declared gate feeds an event
    // count); Prefix rejects a covariate that breaks it.
    val agg = graft.core.Prefix.cumSums(per, Seq(col("__t").desc),
        Seq((col("__m"), "__s0", true), (col("__sx"), "__s1", true),
          (col("__sxx"), "__s2", true)))
      .filter(col("__d") > 0)
      .select(col("__d"),
        (col("__sex") - dD * xbar).as("__u"),
        (dD * (col("__s2") / s0 - xbar * xbar)).as("__i"))
      .agg(sum("__d").as("__dt"), sum("__u").as("__ut"),
        sum("__i").as("__it"))
    agg.select(
      col("__dt").as("n_events"),
      round(col("__ut"), 6).as("u_score"),
      round(col("__it"), 6).as("information"),
      when(col("__it") > 0, round(col("__ut") / col("__it"), 6))
        .as("beta_onestep"),
      when(col("__it") > 0,
        round(col("__ut") * col("__ut") / col("__it"), 6))
        .as("score_chi2"))
  }

  def logRank(df: DataFrame, durationCol: String, eventCol: String,
      groupCol: String): DataFrame = {
    val groups = df.select(col(groupCol).cast("string").as("__g"))
      .distinct().orderBy("__g").collect().map(_.getString(0))
    require(groups.length == 2,
      s"log-rank is a two-sample test; got ${groups.length} groups")
    val ga = groups(0)
    val per = df.select(col(durationCol).cast("long").as("__t"),
        col(eventCol).cast("boolean").as("__e"),
        (col(groupCol).cast("string") === ga).as("__a"))
      .groupBy("__t").agg(
        count(lit(1)).as("__m"),
        sum(when(col("__a"), 1L).otherwise(0L)).as("__ma"),
        sum(when(col("__e"), 1L).otherwise(0L)).as("__d"),
        sum(when(col("__e") && col("__a"), 1L).otherwise(0L)).as("__da"))
    val nD = col("__n").cast("double")
    val naD = col("__na").cast("double")
    val dD = col("__d").cast("double")
    // reverse cumulative risk sets as two-pass prefix sums (guide §2,
    // r15); long addends, regrouping exact
    val agg = graft.core.Prefix.cumSums(per, Seq(col("__t").desc),
        Seq((col("__m"), "__n", true), (col("__ma"), "__na", true)))
      .filter(col("__d") > 0)
      .select(col("__da"), col("__d"),
        (dD * naD / nD).as("__ea"),
        when(col("__n") > 1,
          dD * (naD / nD) * (lit(1.0) - naD / nD)
            * (nD - dD) / (nD - lit(1.0)))
          .otherwise(lit(0.0)).as("__v"))
      .agg(sum("__da").as("__oa"), sum("__d").as("__dt"),
        sum("__ea").as("__eat"), sum("__v").as("__vt"))
    agg.select(lit(ga).as("group_a"),
      col("__oa").as("o_a"),
      round(col("__eat"), 6).as("e_a"),
      (col("__dt") - col("__oa")).as("o_b"),
      round(col("__dt").cast("double") - col("__eat"), 6).as("e_b"),
      round(col("__vt"), 6).as("var_logrank"),
      when(col("__vt") > 0,
        round((col("__oa").cast("double") - col("__eat"))
          * (col("__oa").cast("double") - col("__eat")) / col("__vt"), 6))
        .as("chi2"))
  }
}
