package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.CalendarColumns._
import graft.functions.GrowthRates._
import graft.functions.Num._

/** Reference-parity OLAP queries (SURVEY.md §2) over the payroll-
  * shaped monthly series ([[graft.Tables.monthlySeries]]). Each
  * query mirrors one analysis branch of
  * `/root/reference/dashboard_nfp.py` and follows the *executed
  * pandas* semantics where the reference's display SQL disagrees
  * (SURVEY.md §2.12).
  *
  * Every query ends in an explicit total order so the verify dump is
  * row-deterministic; every double output is rounded via r4 on both
  * engines.
  */
object Payroll {

  /** The two "pandemic-analog" years for the slice comparison —
    * first two full years in the corpus (reference compares
    * 2019/2020, `dashboard_nfp.py:113`). */
  private val CompareYears = Seq(1995, 1996)

  /** Shared monthly series through the S5 session result cache: one
    * lineitem scan+aggregate per (session, sf dir), not one per
    * query ([[graft.Tables.monthlySeriesCached]]). */
  private def series(s: SparkSession, dir: String): DataFrame =
    Tables.monthlySeriesCached(s, dir)

  private val wGlobal = Window.orderBy("month")

  // ---------------------------------------------------------------
  // Queries
  // ---------------------------------------------------------------

  /** Slice Q1 (A1, `dashboard_nfp.py:85-86`): average monthly level
    * per year. */
  def sliceYearlyAvg(s: SparkSession, dir: String): DataFrame =
    series(s, dir)
      .groupBy(yearOf(col("month")).as("year"))
      .agg(r4(avg("emp")).as("avg_employment"))
      .orderBy("year")

  /** Slice Q2 (F1∧F2∧F3, `dashboard_nfp.py:112-116`): two-year
    * comparison slice, months March..December, year as legend label. */
  def sliceYearCompare(s: SparkSession, dir: String): DataFrame =
    series(s, dir)
      .filter(year(col("month")).isin(CompareYears: _*) &&
        month(col("month")).between(3, 12))
      .select(col("month"), col("emp"),
        yearOf(col("month")).as("year"))
      .orderBy("month")

  /** Dice Q1 (W1+F4, `dashboard_nfp.py:152-153`): months with a MoM
    * drop steeper than −2%. Filter applies to the *unrounded* window
    * result (never pushed below the window; Catalyst keeps it above). */
  def diceMomDrop(s: SparkSession, dir: String): DataFrame =
    series(s, dir)
      .withColumn("mom_pct", pctChange(col("emp"), wGlobal))
      .filter(col("mom_pct") < -2)
      .select(col("month"), col("emp"), r4(col("mom_pct")).as("mom_pct"))
      .orderBy("month")

  /** Dice Q2 (W2, `dashboard_nfp.py:195-197`): Q4-only MoM change,
    * LAG partitioned **per year after the Q4 filter** (executed-pandas
    * semantics: October's change is null and dropped; only Nov, Dec
    * survive — SURVEY.md §2.12 #1). */
  def diceQ4Mom(s: SparkSession, dir: String): DataFrame = {
    val wYear = Window.partitionBy(year(col("month"))).orderBy("month")
    series(s, dir)
      .filter(month(col("month")).isin(10, 11, 12))
      .withColumn("mom_pct", pctChange(col("emp"), wYear))
      .na.drop(Seq("mom_pct"))
      .select(col("month"), monthName(col("month")).as("month_name"),
        r4(col("mom_pct")).as("mom_pct"))
      .orderBy("month")
  }

  /** Dice Q2 rollup (A2, `dashboard_nfp.py:225`): average Q4 MoM
    * change by month name. avg over doubles goes through the
    * deterministic decimal-sum path. */
  def diceQ4AvgByMonth(s: SparkSession, dir: String): DataFrame = {
    val wYear = Window.partitionBy(year(col("month"))).orderBy("month")
    series(s, dir)
      .filter(month(col("month")).isin(10, 11, 12))
      .withColumn("mom_pct", pctChange(col("emp"), wYear))
      .na.drop(Seq("mom_pct"))
      .groupBy(monthName(col("month")).as("month_name"))
      .agg(r4(davg(col("mom_pct"))).as("avg_mom_pct"))
      .orderBy("month_name")
  }

  /** Roll-up Q1a (A3+W3, `dashboard_nfp.py:246-248`): quarterly sums
    * with QoQ growth. */
  def rollupQuarterly(s: SparkSession, dir: String): DataFrame = {
    val w = Window.orderBy("year", "quarter")
    series(s, dir)
      .groupBy(yearOf(col("month")).as("year"),
        quarterOf(col("month")).as("quarter"))
      .agg(sum("emp").as("total_emp"))
      .withColumn("qoq_pct", r4(pctChange(col("total_emp"), w)))
      .orderBy("year", "quarter")
  }

  /** Roll-up Q1b (A4+W4, `dashboard_nfp.py:250-251`): yearly sums
    * with YoY growth. */
  def rollupYearly(s: SparkSession, dir: String): DataFrame = {
    val w = Window.orderBy("year")
    series(s, dir)
      .groupBy(yearOf(col("month")).as("year"))
      .agg(sum("emp").as("total_emp"))
      .withColumn("yoy_pct", r4(pctChange(col("total_emp"), w)))
      .orderBy("year")
  }

  /** T4 (`dashboard_nfp.py:295`): first five quarters of the QoQ
    * roll-up — pandas `head(5)` relies on insertion order; here the
    * order is explicit, so the limit is deterministic
    * (TakeOrderedAndProject, no full sort at scale). Includes the P6
    * quarter display label. */
  def rollupQuarterlyTop5(s: SparkSession, dir: String): DataFrame =
    rollupQuarterly(s, dir)
      .withColumn("quarter_label",
        concat(col("year").cast("string"), lit("-Q"), col("quarter").cast("string")))
      .orderBy("year", "quarter")
      .limit(5)

  /** Roll-up Q2 (A5+P9, `dashboard_nfp.py:300-301`): average level by
    * decade bucket (all-decades formula, not the display-SQL CASE). */
  def rollupDecade(s: SparkSession, dir: String): DataFrame =
    series(s, dir)
      .groupBy(decadeOf(col("month")).as("decade"))
      .agg(r4(avg("emp")).as("avg_employment"))
      .orderBy("decade")

  /** Idiomatic upgrade of A3+A4 (SURVEY.md §2.4 note): one-pass
    * ROLLUP(year, quarter) — month→quarter→year→grand-total hierarchy
    * in a single shuffle instead of one groupBy per grain. */
  def rollupHierarchy(s: SparkSession, dir: String): DataFrame =
    series(s, dir)
      .rollup(yearOf(col("month")).as("year"),
        quarterOf(col("month")).as("quarter"))
      .agg(sum("emp").as("total_emp"))
      .transform(byYearQuarter)

  /** CUBE over (year, quarter) — completes the grouping-set family
    * next to [[rollupHierarchy]]: all four aggregation levels
    * (detail, per-year, per-quarter-across-years, grand total) in ONE
    * pass over the series; Spark expands grouping sets before the
    * aggregate, so it stays a single partial+final exchange. */
  def cubeYearQuarter(s: SparkSession, dir: String): DataFrame =
    series(s, dir)
      .cube(yearOf(col("month")).as("year"),
        quarterOf(col("month")).as("quarter"))
      .agg(sum("emp").as("total_emp"))
      .transform(byYearQuarter)

  /** Explicit GROUPING SETS — the general member of the grouping-set
    * family next to [[rollupHierarchy]] (ROLLUP) and
    * [[cubeYearQuarter]] (CUBE): independent year-level and
    * quarter-level margins plus the grand total in ONE aggregation
    * pass (Spark expands the sets before a single partial+final
    * exchange), with a grouping-id column disambiguating grouping
    * NULLs from data NULLs. */
  def groupingSetsYearQuarter(s: SparkSession, dir: String): DataFrame = {
    val yq = series(s, dir).select(
      yearOf(col("month")).as("year"),
      quarterOf(col("month")).as("quarter"), col("emp"))
    yq.groupingSets(
        Seq(Seq(col("year")), Seq(col("quarter")), Seq.empty),
        col("year"), col("quarter"))
      .agg(
        (grouping(col("year")) * 2 + grouping(col("quarter")))
          .cast("long").as("gid"),
        sum("emp").as("total_emp"))
      .select("year", "quarter", "gid", "total_emp")
      .transform(byYearQuarter)
  }

  /** A grouping-set result ordered by (year, quarter), nulls first, on
    * one partition. `Expand` reports an unknown partitioning, so the
    * aggregate above it keeps its one exchange; its output is a few
    * rows per year, and sorting that on one partition spares the range
    * exchange (and its sampling job) a global sort would add. */
  private def byYearQuarter(df: DataFrame): DataFrame =
    df.coalesce(1).orderBy(col("year").asc_nulls_first, col("quarter").asc_nulls_first)

  /** Drill Q1 phase 1 (A4+W5+T1, `dashboard_nfp.py:338-342`): the
    * year with the highest absolute annual gain (argmax, deterministic
    * year tie-break). TakeOrderedAndProject, no full sort. */
  def drillTopGainYear(s: SparkSession, dir: String): DataFrame = {
    val w = Window.orderBy("year")
    series(s, dir)
      .groupBy(yearOf(col("month")).as("year"))
      .agg(sum("emp").as("total_emp"))
      .withColumn("annual_gain", absChange(col("total_emp"), w))
      .na.drop(Seq("annual_gain"))
      .orderBy(col("annual_gain").desc, col("year").asc)
      .limit(1)
  }

  /** Drill Q1 phase 2 (J2+F9, `dashboard_nfp.py:340-348`): monthly
    * breakdown of the top-gain year. Two-phase exactly like the
    * reference: the phase-1 scalar crosses the driver (`:342`) and is
    * pushed back down as a literal — which lets the month filter reach
    * the parquet scan as a pushed predicate. */
  def drillTopYearMonths(s: SparkSession, dir: String): DataFrame = {
    val topYear = drillTopGainYear(s, dir)
      .select("year").first().getLong(0)
    series(s, dir)
      .filter(year(col("month")) === lit(topYear))
      .select(col("month"), monthName(col("month")).as("month_name"),
        col("emp"))
      .orderBy("month")
  }

  /** Drill Q2 (W5+T2, `dashboard_nfp.py:398-399`): sharpest absolute
    * MoM drop (argmin; pandas idxmin takes first-in-date-order, so the
    * tie-break is month asc). */
  def drillSharpestDrop(s: SparkSession, dir: String): DataFrame =
    series(s, dir)
      .withColumn("mom_gain", absChange(col("emp"), wGlobal))
      .na.drop(Seq("mom_gain"))
      .select(col("month"), monthYearLabel(col("month")).as("month_label"),
        col("mom_gain"))
      .orderBy(col("mom_gain").asc, col("month").asc)
      .limit(1)

  /** W6 flagship (`dashboard_nfp.py:152-171`): peak-to-recovery,
    * set-based (SURVEY.md §2.11). The reference loops in Python,
    * rescanning the frame per drop (O(drops·N)); here it is one
    * window pass plus two broadcast range-joins:
    *
    *  - `prior_peak` — running max over strictly-earlier months (W7);
    *  - `recovery_month` — min month after the drop whose level
    *    regains the prior peak (theta join J1, drops side broadcast);
    *  - `prior_peak_month` — first earlier month at the peak (F8);
    *  - `months_to_recover` — `months_between` replaces the
    *    hand-rolled `12·Δy + Δm` of `:168`; null = never recovered
    *    (the reference silently skips these, `:166` — we keep them as
    *    nulls, strictly more information).
    *
    * Scale: drops ≪ series, so both joins broadcast the drops side —
    * BroadcastNestedLoop over #months·#drops pairs, never a shuffle of
    * the big side. At 100 TB the series input is already pre-reduced
    * to month grain upstream.
    */
  def recovery(s: SparkSession, dir: String): DataFrame =
    recoveryOf(series(s, dir))

  /** [[recovery]] over an arbitrary (month, emp) series — the NFP
    * fixture tests drive this directly. */
  def recoveryOf(series: DataFrame): DataFrame = {
    val s2 = series
      .withColumn("mom_pct", pctChange(col("emp"), wGlobal))
      .withColumn("prior_peak", priorPeak(col("emp"), wGlobal))
    val drops = s2.filter(col("mom_pct") < -2)
      .select(col("month").as("drop_month"), col("emp").as("drop_emp"),
        col("mom_pct"), col("prior_peak"))
    val ser = s2.select(col("month").as("s_month"), col("emp").as("s_emp"))

    val rec = ser
      .join(broadcast(drops),
        col("s_month") > col("drop_month") &&
          col("s_emp") >= col("prior_peak"))
      .groupBy("drop_month")
      .agg(min(col("s_month")).as("recovery_month"))
    val peakAt = ser
      .join(broadcast(drops),
        col("s_month") < col("drop_month") &&
          col("s_emp") === col("prior_peak"))
      .groupBy("drop_month")
      .agg(min(col("s_month")).as("prior_peak_month"))

    drops
      .join(peakAt, Seq("drop_month"), "left")
      .join(rec, Seq("drop_month"), "left")
      .select(
        col("drop_month"),
        col("drop_emp").as("emp"),
        r4(col("mom_pct")).as("mom_pct"),
        col("prior_peak"),
        col("prior_peak_month"),
        col("recovery_month"),
        months_between(col("recovery_month"), col("drop_month"))
          .cast("long").as("months_to_recover"))
      .orderBy("drop_month")
  }

  /** Rolling 3-month statistics over the monthly series — the moving-
    * average smoothing + z-score anomaly screen every time-series OLAP
    * dashboard layers on a `pct_change` view (the reference stops at
    * LAG-arithmetic; a rolling frame is the natural next window shape:
    * `ROWS BETWEEN 2 PRECEDING AND CURRENT ROW`).
    *
    * Determinism discipline: the window carries only EXACT integer
    * sums (Σx, Σx², n) and derives mean/stddev/z from them in double —
    * the same IEEE expression tree the oracle runs, so no
    * accumulation-order noise and no engine-specific Welford paths.
    * `sd3`/`z` are null until the frame is full (n = 3), mirroring
    * pandas `rolling(3).std()`. The window is global over the
    * pre-reduced calendar-grain series (lint-compliant — the frame is
    * ≤ #months rows at any corpus size). */
  def rollingStats(s: SparkSession, dir: String): DataFrame = {
    val w3 = wGlobal.rowsBetween(-2, Window.currentRow)
    val n  = count(lit(1)).over(w3)
    val s1 = sum(col("emp")).over(w3).cast("double")
    val s2 = sum(col("emp") * col("emp")).over(w3).cast("double")
    val ma = s1 / n
    val sd = sqrt(greatest((s2 - s1 * s1 / n) / (n - lit(1)), lit(0.0)))
    val z  = (col("emp") - ma) / sd
    series(s, dir)
      .withColumn("ma3", r4(ma))
      .withColumn("sd3", when(n === 3, r4(sd)))
      .withColumn("z", when(n === 3 && sd > 0, r4(z)))
      .withColumn("outlier", when(n === 3 && sd > 0, abs(z) > 1.5))
      .select("month", "emp", "ma3", "sd3", "z", "outlier")
      .orderBy("month")
  }

  /** EWMA smoothing coefficient. `EwmaBeta` is a literal (not
    * `1 - EwmaAlpha`): the doubles `0.3` and `0.7` are exact parses on
    * both engines, while `1 - 0.3` rounds to a DIFFERENT double than
    * the literal `0.7` — the oracle writes the same two literals. */
  private val EwmaAlpha = 0.3
  private val EwmaBeta  = 0.7

  /** Exponential smoothing (EWMA) of the monthly series — the
    * recursive filter `s_t = α·x_t + β·s_{t-1}`, `s_1 = x_1`, that
    * time-series dashboards layer next to the rolling mean (the
    * rolling frame weights the last 3 months equally; EWMA discounts
    * the whole history geometrically).
    *
    * The recursion is inherently sequential, so no window frame
    * expresses it. Instead the pre-reduced calendar-grain series
    * (≤ #months rows at ANY corpus size — the lint-compliant shape)
    * collapses to one sorted array and a higher-order `aggregate`
    * fold threads the state through it — the same codegen-friendly
    * fold the streaming funnel uses, zero UDFs. The oracle replays
    * the identical recursion as a recursive CTE; both engines
    * evaluate the same IEEE tree `α·x + β·s` left-to-right, so the
    * values are bit-equal before the final display rounding. */
  def ewma(s: SparkSession, dir: String): DataFrame = {
    val outType = "array<struct<month:date,emp:bigint,ewma:double>>"
    val zero = struct(lit(0.0).as("s"), lit(false).as("init"),
      array().cast(outType).as("out"))
    val folded = aggregate(
      col("ser"),
      zero,
      (acc, x) => {
        val sNew = when(acc("init"),
          lit(EwmaAlpha) * x("emp") + lit(EwmaBeta) * acc("s"))
          .otherwise(x("emp").cast("double"))
        struct(sNew.as("s"), lit(true).as("init"),
          concat(acc("out"), array(struct(
            x("month").as("month"), x("emp").as("emp"),
            sNew.as("ewma")))).as("out"))
      },
      acc => acc("out"))
    series(s, dir)
      .agg(sort_array(collect_list(struct(col("month"), col("emp"))))
        .as("ser"))
      .select(explode(folded).as("r"))
      .select(col("r.month").as("month"), col("r.emp").as("emp"),
        r4(col("r.ewma")).as("ewma"))
      .orderBy("month")
  }

  /** Holt coefficients — literals on both engines for the same
    * exact-parse reason as [[EwmaAlpha]]/[[EwmaBeta]]. */
  private val HoltAlpha  = 0.5
  private val HoltAlpha2 = 0.5
  private val HoltGamma  = 0.3
  private val HoltGamma2 = 0.7

  /** Holt double-exponential smoothing — EWMA's trend-aware upgrade
    * (EWMA lags a trending series by design; Holt carries an explicit
    * trend state and forecasts one step ahead):
    *
    *   l_t = α·x_t + (1−α)·(l_{t−1} + b_{t−1}),  l_1 = x_1
    *   b_t = γ·(l_t − l_{t−1}) + (1−γ)·b_{t−1},  b_1 = 0
    *
    * Same execution shape as [[ewma]]: the pre-reduced calendar-grain
    * series collapses to one sorted array and a higher-order
    * `aggregate` fold threads BOTH states (level, trend) through it —
    * no window expresses a coupled recursion, no UDF needed. The
    * trend update reuses the level update's EXPRESSION (both engines
    * evaluate the identical IEEE tree twice, so duplicating the
    * subexpression cannot fork the value); the oracle replays the
    * recursion as a recursive CTE with the same duplicated tree. */
  def holt(s: SparkSession, dir: String): DataFrame = {
    val outType =
      "array<struct<month:date,emp:bigint,level:double,trend:double>>"
    val zero = struct(lit(0.0).as("l"), lit(0.0).as("b"),
      lit(false).as("init"), array().cast(outType).as("out"))
    val folded = aggregate(
      col("ser"),
      zero,
      (acc, x) => {
        val lNew = when(acc("init"),
          lit(HoltAlpha) * x("emp") +
            lit(HoltAlpha2) * (acc("l") + acc("b")))
          .otherwise(x("emp").cast("double"))
        val bNew = when(acc("init"),
          lit(HoltGamma) * (lNew - acc("l")) + lit(HoltGamma2) * acc("b"))
          .otherwise(lit(0.0))
        struct(lNew.as("l"), bNew.as("b"), lit(true).as("init"),
          concat(acc("out"), array(struct(
            x("month").as("month"), x("emp").as("emp"),
            lNew.as("level"), bNew.as("trend")))).as("out"))
      },
      acc => acc("out"))
    series(s, dir)
      .agg(sort_array(collect_list(struct(col("month"), col("emp"))))
        .as("ser"))
      .select(explode(folded).as("r"))
      .select(col("r.month").as("month"), col("r.emp").as("emp"),
        r4(col("r.level")).as("level"), r4(col("r.trend")).as("trend"),
        r4(col("r.level") + col("r.trend")).as("forecast_next"))
      .orderBy("month")
  }

  /** Seasonality index — the month-of-year profile every calendar
    * roll-up dashboard adds after YoY: average level per calendar
    * month over the whole corpus, normalized by the global average
    * (index > 1 ⇒ seasonally high month). Two tiny aggregates over
    * the cached series; the 1-row global average joins by cross
    * (broadcast of one row). Means go through the exact decimal-sum
    * path, the ratio divides the unrounded doubles on both engines. */
  def seasonality(s: SparkSession, dir: String): DataFrame = {
    val byMonth = series(s, dir)
      .groupBy(monthOf(col("month")).as("month_num"))
      .agg(davg(col("emp")).as("avg_emp"))
    val global = series(s, dir).agg(davg(col("emp")).as("global_avg"))
    byMonth.crossJoin(global)
      .select(col("month_num"),
        r4(col("avg_emp")).as("avg_emp"),
        r4(col("avg_emp") / col("global_avg")).as("seasonal_index"))
      .orderBy("month_num")
  }

  /** Classical additive seasonal decomposition (trend + seasonal +
    * residual) — the step past [[seasonality]]'s raw index: the trend
    * is a centered 13-month moving average (full-window-only, so
    * edges are null like pandas `rolling(center=True)`), the seasonal
    * component is the per-calendar-month mean of the detrended
    * series, and the residual is what remains.
    *
    * Determinism: the trend divides an exact integer window sum; the
    * seasonal means go through the decimal-sum path (detrended values
    * round to 8 decimals inside the cast on both engines); the
    * residual re-derives through the identical `(emp − trend) −
    * seasonal` tree. The 12-row seasonal table joins back broadcast —
    * calendar-sized, never corpus-derived. */
  def decompose(s: SparkSession, dir: String): DataFrame = {
    val w13 = wGlobal.rowsBetween(-6, 6)
    val n  = count(lit(1)).over(w13)
    val s1 = sum(col("emp")).over(w13).cast("double")
    val det = series(s, dir)
      .withColumn("trend", when(n === 13, s1 / n))
      .withColumn("detr", col("emp") - col("trend"))
    val seas = det
      .groupBy(monthOf(col("month")).as("mn"))
      .agg(davg(col("detr")).as("seasonal"))
    det.join(broadcast(seas), monthOf(col("month")) === col("mn"))
      .select(col("month"), col("emp"),
        r4(col("trend")).as("trend"),
        r4(col("seasonal")).as("seasonal"),
        r4(col("detr") - col("seasonal")).as("residual"))
      .orderBy("month")
  }

  /** Calendar-spine gap fill with linear interpolation — the repair
    * pass every time-series OLAP load runs before window arithmetic:
    * a `LAG`-based growth rate silently computes across a missing
    * month unless the series is re-seated on a complete calendar
    * spine. The reference never hits this (FRED emits every month);
    * an engine must handle it.
    *
    * Synthetic-but-deterministic gaps: interior months whose md5
    * lands in bucket 0 of 5 are knocked out (first/last month are
    * kept as anchors), so both engines delete the identical rows. The
    * spine is `sequence(min, max, interval 1 month)`; missing months
    * re-enter by a left join and linearly interpolate between the
    * nearest real neighbors. Spark finds neighbors with
    * ignore-nulls `last`/`first` windows over the month-grain frame
    * (lint-compliant); the oracle states the same semantics with
    * correlated min/max subqueries. Both engines evaluate the
    * identical IEEE tree `prev + (next − prev) · (Δ/span)`. */
  def gapFill(s: SparkSession, dir: String): DataFrame = {
    val ser = series(s, dir)
    val bounds = ser.agg(min("month").as("mn"), max("month").as("mx"))
    val monthHash =
      graft.functions.Md5Hash60.md5Hash60(col("month").cast("string"))
    val gapped = ser.crossJoin(broadcast(bounds))
      .filter(col("month") === col("mn") || col("month") === col("mx") ||
        pmod(monthHash, lit(5)) =!= 0)
      .select("month", "emp")
    val spine = bounds
      .select(explode(expr("sequence(mn, mx, interval 1 month)")).as("month"))
    val wPast = wGlobal.rowsBetween(Window.unboundedPreceding, 0)
    val wFut  = wGlobal.rowsBetween(0, Window.unboundedFollowing)
    val frac = months_between(col("month"), col("pm")) /
      months_between(col("nm"), col("pm"))
    spine.join(gapped, Seq("month"), "left")
      .withColumn("pe", last(col("emp"), ignoreNulls = true).over(wPast))
      .withColumn("pm",
        last(when(col("emp").isNotNull, col("month")), ignoreNulls = true)
          .over(wPast))
      .withColumn("ne", first(col("emp"), ignoreNulls = true).over(wFut))
      .withColumn("nm",
        first(when(col("emp").isNotNull, col("month")), ignoreNulls = true)
          .over(wFut))
      .select(col("month"), col("emp"),
        r4(when(col("emp").isNotNull, col("emp").cast("double"))
          .otherwise(col("pe") + (col("ne") - col("pe")) * frac))
          .as("emp_filled"),
        col("emp").isNull.as("is_gap"))
      .orderBy("month")
  }

  /** CUSUM slack and alarm threshold in σ units — standard tabular
    * CUSUM tuning (k = σ/2 targets a 1σ mean shift, h = 4σ bounds
    * the false-alarm rate); literals so both engines parse the exact
    * same doubles. */
  private val CusumK = 0.5
  private val CusumH = 4.0

  /** Tabular CUSUM change-point detection — the sequential mean-shift
    * detector a payroll analyst runs to find WHEN the level moved
    * (recessions, recoveries), upgrading [[graft.streaming.Events]]'
    * pointwise z-score anomalies to drift that no single month
    * triggers:
    *
    *   S⁺_t = max(0, S⁺_{t−1} + (x_t − μ − kσ))
    *   S⁻_t = max(0, S⁻_{t−1} + (μ − x_t − kσ))
    *
    * The max(0, ·) recursion LOOKS sequential like [[ewma]], but has
    * a closed window form: S_t = P_t − min(0, min_{j≤t} P_j) where P
    * is the running sum of the increments — so it runs as two
    * window passes over the pre-reduced calendar-grain series, no
    * fold needed. Determinism: μ and σ derive from exact integer
    * sums (emp is a count) through one fixed double tree; increments
    * round to 8 decimals and prefix-sum in exact DECIMAL, so the
    * running min is order-independent; the alarm compares doubles
    * cast from those exact decimals against h·σ. */
  def cusum(s: SparkSession, dir: String): DataFrame = {
    val stats = series(s, dir).agg(
      count(lit(1)).as("n"),
      sum(col("emp")).cast("double").as("s1"),
      sum(col("emp") * col("emp")).cast("double").as("s2"))
    val D = "decimal(25,8)"
    val withStats = series(s, dir).crossJoin(broadcast(stats))
      .withColumn("mu", col("s1") / col("n"))
      .withColumn("sigma",
        sqrt(greatest(col("s2") / col("n") - (col("s1") / col("n")) *
          (col("s1") / col("n")), lit(0.0))))
      .withColumn("dp",
        round(col("emp") - col("mu") - lit(CusumK) * col("sigma"), 8).cast(D))
      .withColumn("dn",
        round(col("mu") - col("emp") - lit(CusumK) * col("sigma"), 8).cast(D))
    val wRun = wGlobal.rowsBetween(Window.unboundedPreceding, 0)
    val prefixed = withStats
      .withColumn("pp", sum(col("dp")).over(wRun))
      .withColumn("pn", sum(col("dn")).over(wRun))
    prefixed
      .withColumn("sp", col("pp").cast("double") -
        least(min(col("pp")).over(wRun).cast("double"), lit(0.0)))
      .withColumn("sn", col("pn").cast("double") -
        least(min(col("pn")).over(wRun).cast("double"), lit(0.0)))
      .select(col("month"), col("emp"),
        r4(col("sp")).as("cusum_pos"),
        r4(col("sn")).as("cusum_neg"),
        when(col("sp") > lit(CusumH) * col("sigma"), 1).otherwise(0)
          .as("alarm_up"),
        when(col("sn") > lit(CusumH) * col("sigma"), 1).otherwise(0)
          .as("alarm_down"))
      .orderBy("month")
  }

  /** Pivot (the OLAP cross-tab the dashboard renders as its month ×
    * year matrix): one row per year, one column per month. Explicit
    * pivot values skip Spark's extra distinct-discovery job; the
    * oracle is the equivalent CASE aggregation. */
  def pivotYearMonth(s: SparkSession, dir: String): DataFrame = {
    val wide = series(s, dir)
      .select(yearOf(col("month")).as("year"), month(col("month")).as("m"),
        col("emp"))
      .groupBy("year")
      .pivot("m", 1 to 12)
      .agg(sum("emp"))
    val renamed = (1 to 12).foldLeft(wide)((df, m) =>
      df.withColumnRenamed(m.toString, f"m$m%02d"))
    renamed.orderBy("year")
  }

  /** Same-calendar-month year-over-year growth — the seasonal-
    * comparison YoY (Jan vs last Jan), complementing the aggregate
    * YoY of [[rollupYearly]]: the pct-change window partitions by
    * month-of-year and orders by date, so each row compares against
    * the same month one year earlier (pandas `pct_change(12)` on a
    * month-indexed frame). Runs over the pre-reduced series; each
    * partition holds ≤ #years rows. First observation of each
    * calendar month drops (pandas NaN semantics). */
  def yoySameMonth(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("moy").orderBy("month")
    series(s, dir)
      .withColumn("moy", month(col("month")).cast("long"))
      .withColumn("yoy_pct", r4(pctChange(col("emp"), w)))
      .na.drop(Seq("yoy_pct"))
      .select(col("month"), col("emp"), col("moy"), col("yoy_pct"))
      .orderBy("month")
  }

  private val AcfMaxLag = 12

  /** Autocorrelation function of the monthly series at lags
    * 1..[[AcfMaxLag]] — the seasonality diagnostic behind
    * [[seasonality]]'s month profile (a 12-month ACF spike IS the
    * seasonal signal; a slow decay is trend). r_k = Σ(x_t−x̄)(x_{t−k}−x̄)
    * / Σ(x_t−x̄)², the standard biased sample ACF.
    *
    * Shape: everything downstream of the calendar-grain pre-reduction
    * is bounded by #months × #lags, so the mean/denominator are 1-row
    * broadcasts and the lagged pairing is a broadcast self-join on
    * `add_months` (calendar-shift semantics — a missing month drops
    * its pair rather than silently pairing across the gap, unlike a
    * positional `lag`). Determinism: centered products round to 8 dp
    * into exact DECIMAL before summing; mean and den derive through
    * the identical IEEE tree on both engines. */
  def autocorr(s: SparkSession, dir: String): DataFrame = {
    val D = "decimal(25,8)"
    val stats = series(s, dir).agg(
      graft.functions.Num.davg(col("emp")).as("mean"))
    val a = series(s, dir).crossJoin(broadcast(stats))
    val den = a.agg(
      sum(round((col("emp") - col("mean")) * (col("emp") - col("mean")), 8)
        .cast(D)).cast("double").as("den"))
    val lags = s.range(1, AcfMaxLag + 1).toDF("lag")
    val b = series(s, dir).toDF("bmonth", "bemp")
    val num = a.crossJoin(broadcast(lags))
      .join(broadcast(b),
        col("bmonth") === add_months(col("month"), -col("lag").cast("int")))
      .groupBy("lag")
      .agg(
        sum(round((col("emp") - col("mean")) * (col("bemp") - col("mean")), 8)
          .cast(D)).cast("double").as("num"),
        count(lit(1)).as("n_pairs"))
    num.crossJoin(broadcast(den))
      .select(col("lag"), col("n_pairs"), r4(col("num") / col("den")).as("acf"))
      .orderBy("lag")
  }

  /** Turning-point dating: strict local maxima (peaks) and minima
    * (troughs) of the monthly series — the NBER-style business-cycle
    * dating primitive [[recovery]] builds on (its "prior peak" is one
    * of these points). Strict comparisons: a flat-topped plateau
    * yields NO turning point, exactly replayed by the oracle. One
    * global lag+lead window over the pre-reduced calendar-grain
    * series (lint-compliant); endpoints never qualify (their missing
    * neighbor is null and null comparisons are not TRUE). */
  def turningPoints(s: SparkSession, dir: String): DataFrame = {
    val prev = lag("emp", 1).over(wGlobal)
    val next = lead("emp", 1).over(wGlobal)
    series(s, dir)
      .withColumn("kind",
        when(col("emp") > prev && col("emp") > next, lit("peak"))
          .when(col("emp") < prev && col("emp") < next, lit("trough")))
      .filter(col("kind").isNotNull)
      .select("month", "emp", "kind")
      .orderBy("month")
  }

  /** Drawdown curve: distance below the running peak at every month
    * — the severity-over-time view [[recovery]] reduces to episodes
    * (the max `dd_pct` row is the deepest contraction; `underwater`
    * FALSE marks full recoveries). One running-max window over the
    * pre-reduced series; exact integer gap, one double tree for the
    * percentage. */
  def drawdown(s: SparkSession, dir: String): DataFrame = {
    val peak = max(col("emp")).over(
      wGlobal.rowsBetween(Window.unboundedPreceding, Window.currentRow))
    series(s, dir)
      .withColumn("peak_to_date", peak)
      .withColumn("dd", col("peak_to_date") - col("emp"))
      .withColumn("dd_pct",
        r4(col("dd") / col("peak_to_date").cast("double") * 100))
      .withColumn("underwater", col("emp") < col("peak_to_date"))
      .select("month", "emp", "peak_to_date", "dd", "dd_pct", "underwater")
      .orderBy("month")
  }

  // ---------------------------------------------------------------
  // Registration
  // ---------------------------------------------------------------

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "payroll_yoy_same_month"      -> (yoySameMonth _),
    "payroll_autocorr"            -> (autocorr _),
    "payroll_turning_points"      -> (turningPoints _),
    "payroll_drawdown"            -> (drawdown _),
    "payroll_pivot_year_month"    -> (pivotYearMonth _),
    "payroll_slice_yearly_avg"    -> (sliceYearlyAvg _),
    "payroll_slice_year_compare"  -> (sliceYearCompare _),
    "payroll_dice_mom_drop"       -> (diceMomDrop _),
    "payroll_dice_q4_mom"         -> (diceQ4Mom _),
    "payroll_dice_q4_avg_by_month" -> (diceQ4AvgByMonth _),
    "payroll_rollup_quarterly"    -> (rollupQuarterly _),
    "payroll_rollup_yearly"       -> (rollupYearly _),
    "payroll_rollup_decade"       -> (rollupDecade _),
    "payroll_rollup_quarterly_top5" -> (rollupQuarterlyTop5 _),
    "payroll_rollup_hierarchy"    -> (rollupHierarchy _),
    "payroll_cube_year_quarter"   -> (cubeYearQuarter _),
    "payroll_grouping_sets"       -> (groupingSetsYearQuarter _),
    "payroll_drill_top_gain_year" -> (drillTopGainYear _),
    "payroll_drill_top_year_months" -> (drillTopYearMonths _),
    "payroll_drill_sharpest_drop" -> (drillSharpestDrop _),
    "payroll_recovery"            -> (recovery _),
    "payroll_rolling_stats"       -> (rollingStats _),
    "payroll_ewma"                -> (ewma _),
    "payroll_holt"                -> (holt _),
    "payroll_seasonality"         -> (seasonality _),
    "payroll_gap_fill"            -> (gapFill _),
    "payroll_decompose"           -> (decompose _),
    "payroll_cusum"               -> (cusum _),
  )

  private val S = Tables.monthlySeriesSql

  val oracleSql: Map[String, String] = Map(
    "payroll_drawdown" ->
      s"""WITH series AS ($S),
         |w AS (SELECT month, emp,
         |    max(emp) OVER (ORDER BY month
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
         |      AS peak_to_date
         |  FROM series)
         |SELECT month, emp, peak_to_date,
         |  peak_to_date - emp AS dd,
         |  round((peak_to_date - emp) / CAST(peak_to_date AS DOUBLE) * 100, 4)
         |    AS dd_pct,
         |  emp < peak_to_date AS underwater
         |FROM w ORDER BY month""".stripMargin,

    "payroll_turning_points" ->
      s"""WITH series AS ($S),
         |w AS (SELECT month, emp,
         |    lag(emp) OVER win AS p, lead(emp) OVER win AS n
         |  FROM series WINDOW win AS (ORDER BY month))
         |SELECT month, emp,
         |  CASE WHEN emp > p AND emp > n THEN 'peak'
         |       WHEN emp < p AND emp < n THEN 'trough' END AS kind
         |FROM w
         |WHERE (emp > p AND emp > n) OR (emp < p AND emp < n)
         |ORDER BY month""".stripMargin,

    // centered products round to 8 dp into exact DECIMAL before the
    // sums; the calendar-shift pairing replays add_months exactly
    "payroll_autocorr" ->
      s"""WITH series AS ($S),
         |st AS (SELECT ${graft.functions.Num.davgSql("emp")} AS mean FROM series),
         |den AS (SELECT CAST(SUM(CAST(round((emp - mean) * (emp - mean), 8)
         |    AS DECIMAL(25,8))) AS DOUBLE) AS den FROM series, st),
         |lags AS (SELECT CAST(l AS BIGINT) AS lag FROM range(1, ${AcfMaxLag + 1}) t(l)),
         |num AS (SELECT lg.lag,
         |    CAST(SUM(CAST(round((a.emp - st.mean) * (b.emp - st.mean), 8)
         |      AS DECIMAL(25,8))) AS DOUBLE) AS num,
         |    count(*) AS n_pairs
         |  FROM series a CROSS JOIN lags lg CROSS JOIN st
         |  JOIN series b
         |    ON b.month = CAST(a.month - INTERVAL (lg.lag) MONTH AS DATE)
         |  GROUP BY 1)
         |SELECT lag, n_pairs, round(num / den, 4) AS acf
         |FROM num, den ORDER BY lag""".stripMargin,

    "payroll_yoy_same_month" ->
      s"""WITH series AS ($S),
         |s2 AS (SELECT month, emp, CAST(month(month) AS BIGINT) AS moy,
         |  (emp - lag(emp) OVER w) / lag(emp) OVER w * 100 AS yoy
         |  FROM series WINDOW w AS (PARTITION BY month(month) ORDER BY month))
         |SELECT month, emp, moy, round(yoy, 4) AS yoy_pct
         |FROM s2 WHERE yoy IS NOT NULL ORDER BY month""".stripMargin,

    "payroll_pivot_year_month" ->
      s"""WITH series AS ($S)
         |SELECT year(month) AS year,
         |  ${(1 to 12).map(m => f"CAST(SUM(CASE WHEN month(month) = $m THEN emp END) AS BIGINT) AS m$m%02d").mkString(",\n  ")}
         |FROM series GROUP BY 1 ORDER BY 1""".stripMargin,

    "payroll_slice_yearly_avg" ->
      s"""WITH series AS ($S)
         |SELECT year(month) AS year, round(avg(emp), 4) AS avg_employment
         |FROM series GROUP BY 1 ORDER BY 1""".stripMargin,

    "payroll_slice_year_compare" ->
      s"""WITH series AS ($S)
         |SELECT month, emp, year(month) AS year FROM series
         |WHERE year(month) IN (${CompareYears.mkString(", ")})
         |  AND month(month) BETWEEN 3 AND 12
         |ORDER BY month""".stripMargin,

    // the window carries exact integer sums; mean/stddev/z re-derive in
    // double through the IDENTICAL expression tree as the Spark side
    "payroll_rolling_stats" ->
      s"""WITH series AS ($S),
         |w AS (SELECT month, emp,
         |  count(*) OVER win AS n,
         |  CAST(sum(emp) OVER win AS DOUBLE) AS s1,
         |  CAST(sum(emp * emp) OVER win AS DOUBLE) AS s2
         |  FROM series
         |  WINDOW win AS (ORDER BY month ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)),
         |d AS (SELECT month, emp, n, s1 / n AS ma,
         |  CASE WHEN n >= 2 THEN
         |    sqrt(greatest((s2 - s1 * s1 / n) / (n - 1), 0.0)) END AS sd
         |  FROM w)
         |SELECT month, emp, round(ma, 4) AS ma3,
         |  CASE WHEN n = 3 THEN round(sd, 4) END AS sd3,
         |  CASE WHEN n = 3 AND sd > 0 THEN round((emp - ma) / sd, 4) END AS z,
         |  CASE WHEN n = 3 AND sd > 0 THEN abs((emp - ma) / sd) > 1.5 END AS outlier
         |FROM d ORDER BY month""".stripMargin,

    "payroll_dice_mom_drop" ->
      s"""WITH series AS ($S),
         |s2 AS (SELECT month, emp,
         |  (emp - lag(emp) OVER w) / lag(emp) OVER w * 100 AS mom_pct
         |  FROM series WINDOW w AS (ORDER BY month))
         |SELECT month, emp, round(mom_pct, 4) AS mom_pct
         |FROM s2 WHERE mom_pct < -2 ORDER BY month""".stripMargin,

    "payroll_dice_q4_mom" ->
      s"""WITH series AS ($S),
         |q4 AS (SELECT month, emp FROM series WHERE month(month) IN (10, 11, 12)),
         |s2 AS (SELECT month, emp,
         |  (emp - lag(emp) OVER w) / lag(emp) OVER w * 100 AS mom_pct
         |  FROM q4 WINDOW w AS (PARTITION BY year(month) ORDER BY month))
         |SELECT month, CASE month(month) WHEN 1 THEN 'January' WHEN 2 THEN 'February' WHEN 3 THEN 'March' WHEN 4 THEN 'April' WHEN 5 THEN 'May' WHEN 6 THEN 'June' WHEN 7 THEN 'July' WHEN 8 THEN 'August' WHEN 9 THEN 'September' WHEN 10 THEN 'October' WHEN 11 THEN 'November' WHEN 12 THEN 'December' END AS month_name, round(mom_pct, 4) AS mom_pct
         |FROM s2 WHERE mom_pct IS NOT NULL ORDER BY month""".stripMargin,

    "payroll_dice_q4_avg_by_month" ->
      s"""WITH series AS ($S),
         |q4 AS (SELECT month, emp FROM series WHERE month(month) IN (10, 11, 12)),
         |s2 AS (SELECT month,
         |  (emp - lag(emp) OVER w) / lag(emp) OVER w * 100 AS mom_pct
         |  FROM q4 WINDOW w AS (PARTITION BY year(month) ORDER BY month))
         |SELECT CASE month(month) WHEN 1 THEN 'January' WHEN 2 THEN 'February' WHEN 3 THEN 'March' WHEN 4 THEN 'April' WHEN 5 THEN 'May' WHEN 6 THEN 'June' WHEN 7 THEN 'July' WHEN 8 THEN 'August' WHEN 9 THEN 'September' WHEN 10 THEN 'October' WHEN 11 THEN 'November' WHEN 12 THEN 'December' END AS month_name,
         |  round(${davgSql("mom_pct")}, 4) AS avg_mom_pct
         |FROM s2 WHERE mom_pct IS NOT NULL GROUP BY 1 ORDER BY 1""".stripMargin,

    "payroll_rollup_quarterly" ->
      s"""WITH series AS ($S),
         |q AS (SELECT year(month) AS year, quarter(month) AS quarter,
         |  CAST(sum(emp) AS BIGINT) AS total_emp FROM series GROUP BY 1, 2)
         |SELECT year, quarter, total_emp,
         |  round((total_emp - lag(total_emp) OVER w) / lag(total_emp) OVER w * 100, 4) AS qoq_pct
         |FROM q WINDOW w AS (ORDER BY year, quarter)
         |ORDER BY year, quarter""".stripMargin,

    "payroll_rollup_yearly" ->
      s"""WITH series AS ($S),
         |y AS (SELECT year(month) AS year, CAST(sum(emp) AS BIGINT) AS total_emp
         |  FROM series GROUP BY 1)
         |SELECT year, total_emp,
         |  round((total_emp - lag(total_emp) OVER w) / lag(total_emp) OVER w * 100, 4) AS yoy_pct
         |FROM y WINDOW w AS (ORDER BY year)
         |ORDER BY year""".stripMargin,

    "payroll_rollup_decade" ->
      s"""WITH series AS ($S)
         |SELECT CAST(CAST(floor(year(month) / 10) * 10 AS BIGINT) AS STRING) || 's' AS decade,
         |  round(avg(emp), 4) AS avg_employment
         |FROM series GROUP BY 1 ORDER BY 1""".stripMargin,

    "payroll_rollup_quarterly_top5" ->
      s"""WITH series AS ($S),
         |q AS (SELECT year(month) AS year, quarter(month) AS quarter,
         |  CAST(sum(emp) AS BIGINT) AS total_emp FROM series GROUP BY 1, 2),
         |g AS (SELECT year, quarter, total_emp,
         |  round((total_emp - lag(total_emp) OVER w) / lag(total_emp) OVER w * 100, 4) AS qoq_pct
         |  FROM q WINDOW w AS (ORDER BY year, quarter))
         |SELECT year, quarter, total_emp, qoq_pct,
         |  CAST(year AS STRING) || '-Q' || CAST(quarter AS STRING) AS quarter_label
         |FROM g ORDER BY year, quarter LIMIT 5""".stripMargin,

    "payroll_rollup_hierarchy" ->
      s"""WITH series AS ($S)
         |SELECT year(month) AS year, quarter(month) AS quarter,
         |  CAST(sum(emp) AS BIGINT) AS total_emp
         |FROM series GROUP BY ROLLUP(year(month), quarter(month))
         |ORDER BY year ASC NULLS FIRST, quarter ASC NULLS FIRST""".stripMargin,

    "payroll_cube_year_quarter" ->
      s"""WITH series AS ($S)
         |SELECT year(month) AS year, quarter(month) AS quarter,
         |  CAST(sum(emp) AS BIGINT) AS total_emp
         |FROM series GROUP BY CUBE(year(month), quarter(month))
         |ORDER BY year ASC NULLS FIRST, quarter ASC NULLS FIRST""".stripMargin,

    "payroll_grouping_sets" ->
      s"""WITH series AS ($S),
         |yq AS (SELECT year(month) AS year, quarter(month) AS quarter, emp
         |  FROM series)
         |SELECT year, quarter,
         |  CAST(2 * grouping(year) + grouping(quarter) AS BIGINT) AS gid,
         |  CAST(sum(emp) AS BIGINT) AS total_emp
         |FROM yq GROUP BY GROUPING SETS ((year), (quarter), ())
         |ORDER BY year ASC NULLS FIRST, quarter ASC NULLS FIRST""".stripMargin,

    "payroll_drill_top_gain_year" ->
      s"""WITH series AS ($S),
         |y AS (SELECT year(month) AS year, CAST(sum(emp) AS BIGINT) AS total_emp
         |  FROM series GROUP BY 1),
         |g AS (SELECT year, total_emp,
         |  CAST(total_emp - lag(total_emp) OVER (ORDER BY year) AS BIGINT) AS annual_gain FROM y)
         |SELECT year, total_emp, annual_gain FROM g
         |WHERE annual_gain IS NOT NULL
         |ORDER BY annual_gain DESC, year ASC LIMIT 1""".stripMargin,

    "payroll_drill_top_year_months" ->
      s"""WITH series AS ($S),
         |y AS (SELECT year(month) AS year, CAST(sum(emp) AS BIGINT) AS total_emp
         |  FROM series GROUP BY 1),
         |g AS (SELECT year, CAST(total_emp - lag(total_emp) OVER (ORDER BY year) AS BIGINT) AS annual_gain FROM y),
         |top AS (SELECT year FROM g WHERE annual_gain IS NOT NULL
         |  ORDER BY annual_gain DESC, year ASC LIMIT 1)
         |SELECT month, CASE month(month) WHEN 1 THEN 'January' WHEN 2 THEN 'February' WHEN 3 THEN 'March' WHEN 4 THEN 'April' WHEN 5 THEN 'May' WHEN 6 THEN 'June' WHEN 7 THEN 'July' WHEN 8 THEN 'August' WHEN 9 THEN 'September' WHEN 10 THEN 'October' WHEN 11 THEN 'November' WHEN 12 THEN 'December' END AS month_name, emp FROM series
         |WHERE year(month) = (SELECT year FROM top) ORDER BY month""".stripMargin,

    "payroll_drill_sharpest_drop" ->
      s"""WITH series AS ($S),
         |g AS (SELECT month, CAST(emp - lag(emp) OVER (ORDER BY month) AS BIGINT) AS mom_gain
         |  FROM series)
         |SELECT month, CASE month(month) WHEN 1 THEN 'January' WHEN 2 THEN 'February' WHEN 3 THEN 'March' WHEN 4 THEN 'April' WHEN 5 THEN 'May' WHEN 6 THEN 'June' WHEN 7 THEN 'July' WHEN 8 THEN 'August' WHEN 9 THEN 'September' WHEN 10 THEN 'October' WHEN 11 THEN 'November' WHEN 12 THEN 'December' END || ' ' || CAST(year(month) AS STRING) AS month_label, mom_gain
         |FROM g WHERE mom_gain IS NOT NULL
         |ORDER BY mom_gain ASC, month ASC LIMIT 1""".stripMargin,

    // the CASTs matter: a bare 0.3 literal is DECIMAL in DuckDB
    // (exact 3/10) but DOUBLE in Spark (0.29999…); casting the literal
    // pins both engines to the identical IEEE multiplier
    "payroll_ewma" ->
      s"""WITH RECURSIVE series AS ($S),
         |n AS (SELECT month, emp,
         |  row_number() OVER (ORDER BY month) AS rn FROM series),
         |r AS (
         |  SELECT rn, month, emp, CAST(emp AS DOUBLE) AS s
         |  FROM n WHERE rn = 1
         |  UNION ALL
         |  SELECT n.rn, n.month, n.emp,
         |    CAST($EwmaAlpha AS DOUBLE) * n.emp + CAST($EwmaBeta AS DOUBLE) * r.s
         |  FROM n JOIN r ON n.rn = r.rn + 1)
         |SELECT month, emp, round(s, 4) AS ewma FROM r ORDER BY month""".stripMargin,

    // the trend column repeats the level column's expression tree —
    // same-tree-twice is value-identical on both engines
    "payroll_holt" ->
      s"""WITH RECURSIVE series AS ($S),
         |n AS (SELECT month, emp,
         |  row_number() OVER (ORDER BY month) AS rn FROM series),
         |r AS (
         |  SELECT rn, month, emp, CAST(emp AS DOUBLE) AS l,
         |    CAST(0.0 AS DOUBLE) AS b
         |  FROM n WHERE rn = 1
         |  UNION ALL
         |  SELECT n.rn, n.month, n.emp,
         |    CAST($HoltAlpha AS DOUBLE) * n.emp +
         |      CAST($HoltAlpha2 AS DOUBLE) * (r.l + r.b),
         |    CAST($HoltGamma AS DOUBLE) * ((CAST($HoltAlpha AS DOUBLE) * n.emp +
         |        CAST($HoltAlpha2 AS DOUBLE) * (r.l + r.b)) - r.l) +
         |      CAST($HoltGamma2 AS DOUBLE) * r.b
         |  FROM n JOIN r ON n.rn = r.rn + 1)
         |SELECT month, emp, round(l, 4) AS level, round(b, 4) AS trend,
         |  round(l + b, 4) AS forecast_next
         |FROM r ORDER BY month""".stripMargin,

    "payroll_seasonality" ->
      s"""WITH series AS ($S),
         |m AS (SELECT month(month) AS month_num, ${davgSql("emp")} AS avg_emp
         |  FROM series GROUP BY 1),
         |g AS (SELECT ${davgSql("emp")} AS global_avg FROM series)
         |SELECT month_num, round(avg_emp, 4) AS avg_emp,
         |  round(avg_emp / global_avg, 4) AS seasonal_index
         |FROM m, g ORDER BY month_num""".stripMargin,

    // the same prefix-sum-minus-running-min closed form of the
    // max(0, ·) recursion; increments round to 8 dp into exact
    // DECIMAL, so both engines' running sums and mins are bit-equal
    "payroll_cusum" ->
      s"""WITH series AS ($S),
         |st AS (SELECT count(*) AS n, CAST(sum(emp) AS DOUBLE) AS s1,
         |    CAST(sum(emp * emp) AS DOUBLE) AS s2 FROM series),
         |p AS (SELECT month, emp, s1 / n AS mu,
         |    sqrt(greatest(s2 / n - (s1 / n) * (s1 / n), 0.0)) AS sigma
         |  FROM series, st),
         |d AS (SELECT month, emp, sigma,
         |    CAST(round(emp - mu - $CusumK * sigma, 8) AS DECIMAL(25,8)) AS dp,
         |    CAST(round(mu - emp - $CusumK * sigma, 8) AS DECIMAL(25,8)) AS dn
         |  FROM p),
         |pr AS (SELECT month, emp, sigma, sum(dp) OVER w AS pp,
         |    sum(dn) OVER w AS pn
         |  FROM d
         |  WINDOW w AS (ORDER BY month ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
         |sc AS (SELECT month, emp, sigma,
         |    CAST(pp AS DOUBLE) - least(CAST(min(pp) OVER w AS DOUBLE), 0.0) AS sp,
         |    CAST(pn AS DOUBLE) - least(CAST(min(pn) OVER w AS DOUBLE), 0.0) AS sn
         |  FROM pr
         |  WINDOW w AS (ORDER BY month ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
         |SELECT month, emp, round(sp, 4) AS cusum_pos, round(sn, 4) AS cusum_neg,
         |  CASE WHEN sp > $CusumH * sigma THEN 1 ELSE 0 END AS alarm_up,
         |  CASE WHEN sn > $CusumH * sigma THEN 1 ELSE 0 END AS alarm_down
         |FROM sc ORDER BY month""".stripMargin,

    "payroll_decompose" ->
      s"""WITH series AS ($S),
         |t AS (SELECT month, emp,
         |    count(*) OVER win AS n,
         |    CAST(sum(emp) OVER win AS DOUBLE) AS s1
         |  FROM series
         |  WINDOW win AS (ORDER BY month ROWS BETWEEN 6 PRECEDING AND 6 FOLLOWING)),
         |det AS (SELECT month, emp,
         |    CASE WHEN n = 13 THEN s1 / n END AS trend,
         |    emp - CASE WHEN n = 13 THEN s1 / n END AS detr
         |  FROM t),
         |seas AS (SELECT month(month) AS mn, ${davgSql("detr")} AS seasonal
         |  FROM det GROUP BY 1)
         |SELECT det.month, det.emp, round(trend, 4) AS trend,
         |  round(seasonal, 4) AS seasonal,
         |  round(detr - seasonal, 4) AS residual
         |FROM det JOIN seas ON month(det.month) = seas.mn
         |ORDER BY det.month""".stripMargin,

    // correlated subqueries state the nearest-real-neighbor semantics
    // the Spark side computes with ignore-nulls windows; both engines
    // drop the identical md5-bucketed months and interpolate through
    // the same expression tree
    "payroll_gap_fill" ->
      s"""WITH series AS ($S),
         |b AS (SELECT min(month) AS mn, max(month) AS mx FROM series),
         |gapped AS (SELECT s.month, s.emp FROM series s, b
         |  WHERE s.month = b.mn OR s.month = b.mx
         |    OR CAST(concat('0x', substr(md5(CAST(s.month AS VARCHAR)), 1, 15))
         |      AS BIGINT) % 5 <> 0),
         |spine AS (SELECT CAST(unnest(generate_series(
         |    CAST(mn AS TIMESTAMP), CAST(mx AS TIMESTAMP),
         |    INTERVAL 1 MONTH)) AS DATE) AS month FROM b),
         |f AS (SELECT sp.month, g.emp
         |  FROM spine sp LEFT JOIN gapped g USING (month)),
         |ctx AS (SELECT f.month, f.emp,
         |  (SELECT max(g.month) FROM gapped g WHERE g.month <= f.month) AS pm,
         |  (SELECT min(g.month) FROM gapped g WHERE g.month >= f.month) AS nm
         |  FROM f)
         |SELECT c.month, c.emp,
         |  round(CASE WHEN c.emp IS NOT NULL THEN CAST(c.emp AS DOUBLE)
         |    ELSE pg.emp + (ng.emp - pg.emp) *
         |      (CAST(date_diff('month', c.pm, c.month) AS DOUBLE) /
         |       CAST(date_diff('month', c.pm, c.nm) AS DOUBLE)) END, 4)
         |    AS emp_filled,
         |  c.emp IS NULL AS is_gap
         |FROM ctx c
         |LEFT JOIN gapped pg ON pg.month = c.pm
         |LEFT JOIN gapped ng ON ng.month = c.nm
         |ORDER BY c.month""".stripMargin,

    "payroll_recovery" ->
      s"""WITH series AS ($S),
         |s2 AS (SELECT month, emp,
         |  (emp - lag(emp) OVER w) / lag(emp) OVER w * 100 AS mom_pct,
         |  max(emp) OVER (ORDER BY month ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prior_peak
         |  FROM series WINDOW w AS (ORDER BY month)),
         |drops AS (SELECT * FROM s2 WHERE mom_pct < -2)
         |SELECT d.month AS drop_month, d.emp, round(d.mom_pct, 4) AS mom_pct,
         |  d.prior_peak,
         |  (SELECT min(s.month) FROM s2 s WHERE s.month < d.month AND s.emp = d.prior_peak) AS prior_peak_month,
         |  (SELECT min(s.month) FROM s2 s WHERE s.month > d.month AND s.emp >= d.prior_peak) AS recovery_month,
         |  CAST(date_diff('month', d.month,
         |    (SELECT min(s.month) FROM s2 s WHERE s.month > d.month AND s.emp >= d.prior_peak)) AS BIGINT) AS months_to_recover
         |FROM drops d ORDER BY drop_month""".stripMargin,
  )
}
