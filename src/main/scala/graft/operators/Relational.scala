package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.Num._
import graft.functions.{CalendarColumns => CalCols}

/** Relational engine surface over the TPC-H-ish star (TESTDATA.md):
  * multi-way joins, semi/anti joins, set ops, top-k, key-dedup upsert
  * semantics (SURVEY.md §2.1 S4, §2.7, §2.8). The reference itself is
  * single-table; this is the general surface a user of the engine
  * needs, designed scale-first: dimension sides broadcast, fact-side
  * aggregates pre-reduce before any shuffle, top-k runs as
  * TakeOrderedAndProject (no global sort).
  */
object Relational {

  /** TPC-H Q1-shaped pricing summary: the bench headline. One scan,
    * partial+final hash agg on a 2-value key; all double measures go
    * through the exact decimal-sum path for oracle determinism. */
  def pricingSummary(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .filter(col("l_shipdate") <= lit("2001-09-02"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        r4(dsum(col("l_quantity"))).as("sum_qty"),
        r4(dsum(col("l_extendedprice"))).as("sum_base_price"),
        r4(dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))))
          .as("sum_disc_price"),
        r4(dsum(col("l_extendedprice") * (lit(1) - col("l_discount")) *
          (lit(1) + col("l_tax")))).as("sum_charge"),
        r4(davg(col("l_quantity"))).as("avg_qty"),
        r4(davg(col("l_extendedprice"))).as("avg_price"),
        r4(davg(col("l_discount"))).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")

  /** Revenue by region: lineitem ⋈ orders ⋈ customer ⋈ nation ⋈
    * region. nation/region are tiny → explicit broadcast; the
    * lineitem→orders join is the only real shuffle, and AQE picks
    * broadcast for customer at small SF. */
  def revenueByRegion(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
      .select(col("l_orderkey"),
        (col("l_extendedprice") * (lit(1) - col("l_discount"))).as("rev"))
    val o = Tables.orders(s, dir).select("o_orderkey", "o_custkey")
    val c = Tables.customer(s, dir).select("c_custkey", "c_nationkey")
    val n = broadcast(Tables.nation(s, dir).select("n_nationkey", "n_regionkey"))
    val r = broadcast(Tables.region(s, dir).select("r_regionkey", "r_name"))
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(n, col("c_nationkey") === col("n_nationkey"))
      .join(r, col("n_regionkey") === col("r_regionkey"))
      .groupBy("r_name")
      .agg(r4(dsum(col("rev"))).as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy("r_name")
  }

  /** Top-10 customers by revenue (T1-style top-k over a join).
    * Pre-aggregates revenue per order key *before* joining up to
    * customer — the join input shrinks from |lineitem| to |orders|. */
  def topCustomers(s: SparkSession, dir: String): DataFrame = {
    val revByOrder = Tables.lineitem(s, dir)
      .groupBy("l_orderkey")
      .agg(dsumExact(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("rev"))
    val o = Tables.orders(s, dir).select("o_orderkey", "o_custkey")
    val c = Tables.customer(s, dir).select("c_custkey", "c_name")
    revByOrder
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_custkey")
      .agg(r4(sum("rev").cast("double")).as("revenue"), count(lit(1)).as("n_orders"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .select(col("c_custkey"), col("c_name"), col("revenue"), col("n_orders"))
      .orderBy(col("revenue").desc, col("c_custkey").asc)
      .limit(10)
  }

  /** Order counts by priority for orders that have at least one late
    * shipment — a left-semi (EXISTS) probe of lineitem. */
  def lateOrdersByPriority(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
    val li = Tables.lineitem(s, dir).select("l_orderkey", "l_shipdate")
    o.join(li,
        o("o_orderkey") === li("l_orderkey") &&
          li("l_shipdate") > o("o_orderdate"), "left_semi")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_orders"))
      .orderBy("o_orderpriority")
  }

  /** Set-op surface (§2.8): months in which items shipped but no
    * order was placed (the shipping tail) — EXCEPT of two distinct
    * month projections. Both sides pre-reduce to month grain in their
    * partial aggregates, so the EXCEPT shuffles #months rows, not
    * facts. */
  def shipOnlyMonths(s: SparkSession, dir: String): DataFrame = {
    val shipM = Tables.lineitem(s, dir)
      .select(CalCols.monthStart(col("l_shipdate")).as("m"))
    val orderM = Tables.orders(s, dir)
      .select(CalCols.monthStart(col("o_orderdate")).as("m"))
    shipM.except(orderM).orderBy("m")
  }

  /** Set-op surface, INTERSECT + UNION: calendar months that appear in
    * both the order and ship streams, unioned with the ship-only tail
    * and tagged. Each leg pre-reduces to month grain before the set
    * ops shuffle anything. */
  def monthCoverage(s: SparkSession, dir: String): DataFrame = {
    val shipM = Tables.lineitem(s, dir)
      .select(CalCols.monthStart(col("l_shipdate")).as("m"))
    val orderM = Tables.orders(s, dir)
      .select(CalCols.monthStart(col("o_orderdate")).as("m"))
    val both = shipM.intersect(orderM).withColumn("coverage", lit("both"))
    val shipOnly = shipM.except(orderM).withColumn("coverage", lit("ship_only"))
    both.union(shipOnly).orderBy("m")
  }

  /** S4 upsert semantics (`/root/reference/etl.py:66-71`): last-write-
    * wins per key. The reference upserts row-at-a-time over a wire
    * protocol; the engine expresses it as a single window-dedup —
    * latest order per customer, deterministic tie-break on key. */
  def latestOrderPerCustomer(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("o_orderdate").desc, col("o_orderkey").desc)
    Tables.orders(s, dir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
        col("o_totalprice"))
      .orderBy("o_custkey")
  }

  /** Churned customers — no orders on/after 2000-01-01 — per market
    * segment: the left-anti (NOT EXISTS) counterpart of the semi-join
    * probe above. The probe is date-filtered so the query returns rows
    * at every SF (every sf0.01 customer has *some* order, which made
    * the unfiltered form pass vacuously); the filter is pushed into
    * the probe-side scan before the anti join. Anti joins at scale
    * shuffle only the probe keys; here the recent-orderer set builds
    * map-side and the customer scan streams against it. */
  private val ChurnCutoff = "2000-01-01"

  def customersWithoutOrders(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(s, dir)
    val o = Tables.orders(s, dir)
      .filter(col("o_orderdate") >= lit(ChurnCutoff))
      .select("o_custkey")
    c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_customers"))
      .orderBy("c_mktsegment")
  }

  /** Per-segment customer-value quartiles (NTILE) — the "segment your
    * customers into value tiers" OLAP window. The NTILE window is
    * PARTITIONED by market segment: a global NTILE is one task
    * ranking every customer at 100 TB, the same trap as a global
    * running total. Revenue is an exact decimal sum, so the ranking
    * is order-independent; c_custkey breaks ties deterministically.
    * Only ordering customers (one row each, post-aggregate) — never
    * order lines — go through the window. */
  def customerValueQuartiles(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Num._
    val c = Tables.customer(s, dir).select("c_custkey", "c_mktsegment")
    val rev = Tables.orders(s, dir)
      .join(c, col("o_custkey") === col("c_custkey"))
      .groupBy("c_custkey", "c_mktsegment")
      .agg(dsumExact(col("o_totalprice")).as("revenue"))
    val w = Window.partitionBy("c_mktsegment")
      .orderBy(col("revenue").desc, col("c_custkey").asc)
    rev.withColumn("quartile", ntile(4).over(w).cast("long"))
      .groupBy("c_mktsegment", "quartile")
      .agg(count(lit(1)).as("n_customers"),
        r4(sum(col("revenue")).cast("double")).as("segment_revenue"))
      .orderBy("c_mktsegment", "quartile")
  }

  /** Per-group correlation + least-squares fit of extended price on
    * quantity — the "is this measure linear in that one" OLAP
    * diagnostic. Built from ONE-PASS sufficient statistics (n, Σx, Σy,
    * Σx², Σy², Σxy) rather than `corr`/`regr_slope` built-ins: the
    * built-ins accumulate co-moments in doubles, so their last ulps
    * depend on partition merge order and differ between engines; the
    * moment sums here go through the exact DECIMAL(25,8) path (order-
    * independent, identical in DuckDB) and the closed forms re-derive
    * corr/slope/intercept in double through the identical IEEE
    * expression tree on both sides. Plan shape: a single partial+final
    * hash aggregate over the fact scan — the same one-shuffle cost as
    * any [[pricingSummary]]-style aggregate, at any scale. */
  def priceRegression(s: SparkSession, dir: String): DataFrame = {
    val x = col("l_quantity")
    val y = col("l_extendedprice")
    val m = Tables.lineitem(s, dir)
      .groupBy("l_returnflag")
      .agg(
        count(lit(1)).as("n"),
        dsumExact(x).as("sx"), dsumExact(y).as("sy"),
        dsumExact(x * x).as("sxx"), dsumExact(y * y).as("syy"),
        dsumExact(x * y).as("sxy"))
    val nD = col("n").cast("double")
    def d(c: String) = col(c).cast("double")
    val covN  = nD * d("sxy") - d("sx") * d("sy")
    val varxN = nD * d("sxx") - d("sx") * d("sx")
    val varyN = nD * d("syy") - d("sy") * d("sy")
    val slope = covN / varxN
    m.select(
        col("l_returnflag"), col("n"),
        r4(covN / sqrt(varxN * varyN)).as("corr"),
        r4(slope).as("slope"),
        r4((d("sy") - slope * d("sx")) / nD).as("intercept"))
      .orderBy("l_returnflag")
  }

  /** Ranking-distribution window family (PERCENT_RANK + CUME_DIST) —
    * the reference uses no ranking functions (SURVEY.md §2.5 note);
    * this completes them next to NTILE. The window runs over the
    * PRE-REDUCED (returnflag, quantity) aggregate — ≤ #flags ×
    * #distinct-quantities rows at any corpus size — and is partitioned
    * by flag, so no global ranking task exists. Both rank measures are
    * exact rationals of integer counts: deterministic doubles on both
    * engines. */
  def quantityRankDist(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("l_returnflag").orderBy("l_quantity")
    Tables.lineitem(s, dir)
      .groupBy("l_returnflag", "l_quantity")
      .agg(count(lit(1)).as("n"))
      .withColumn("pct_rank", r4(percent_rank().over(w)))
      .withColumn("cume_dist", r4(cume_dist().over(w)))
      .orderBy("l_returnflag", "l_quantity")
  }

  /** TPC-H Q3-shaped shipping priority: top-10 unshipped-revenue
    * orders for one market segment as of a cutoff date. Scale shape:
    * both date filters push into the parquet scans (orders placed
    * before / lines shipping after the cutoff prune at the source);
    * the segment probe is a LEFT SEMI against only (c_custkey) — at
    * 100 TB customer is a fact-sized table, so the semi join
    * hash-partitions rather than broadcasts and carries one bigint
    * per qualifying customer; revenue pre-combines map-side in the
    * per-order aggregate; the top-10 runs as TakeOrderedAndProject
    * (no global sort). */
  private val ShipCutoff = "2000-03-15"

  def shippingPriority(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(s, dir)
      .filter(col("c_mktsegment") === "BUILDING")
      .select("c_custkey")
    val o = Tables.orders(s, dir)
      .filter(col("o_orderdate") < lit(ShipCutoff))
      .select("o_orderkey", "o_custkey", "o_orderdate")
      .join(c, col("o_custkey") === col("c_custkey"), "left_semi")
    val li = Tables.lineitem(s, dir)
      .filter(col("l_shipdate") > lit(ShipCutoff))
      .select(col("l_orderkey"),
        (col("l_extendedprice") * (lit(1) - col("l_discount"))).as("rev"))
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy("l_orderkey", "o_orderdate")
      .agg(r4(dsumExact(col("rev")).cast("double")).as("revenue"))
      .select("l_orderkey", "revenue", "o_orderdate")
      .orderBy(col("revenue").desc, col("l_orderkey").asc)
      .limit(10)
  }

  /** Yearly revenue share by supplier nation (TPC-H Q8's market-share
    * shape): the share-of-total window runs over the PRE-REDUCED
    * (year × nation) aggregate — ≤ #years · #nations rows at any
    * corpus size — partitioned by year, so no global ranking task
    * exists. The supplier join is left unhinted: AQE broadcasts it at
    * small SF, and at 100 TB (where supplier is 10⁹ rows) it
    * hash-partitions — either way the fact side pre-projects to two
    * columns. nation is a true constant-size dimension → explicit
    * broadcast. Shares are ratios of exact decimal sums, derived in
    * double through the identical expression tree as the oracle. */
  def nationMarketShare(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
      .select(col("l_suppkey"), CalCols.yearOf(col("l_shipdate")).as("yr"),
        (col("l_extendedprice") * (lit(1) - col("l_discount"))).as("rev"))
    val sup = Tables.supplier(s, dir).select("s_suppkey", "s_nationkey")
    val n = broadcast(Tables.nation(s, dir).select("n_nationkey", "n_name"))
    val agg = li.join(sup, col("l_suppkey") === col("s_suppkey"))
      .join(n, col("s_nationkey") === col("n_nationkey"))
      .groupBy("yr", "n_name")
      .agg(dsumExact(col("rev")).as("rev"))
    val w = Window.partitionBy("yr")
    agg
      .withColumn("share",
        r4(col("rev").cast("double") /
          sum(col("rev")).over(w).cast("double")))
      .select(col("yr"), col("n_name"),
        r4(col("rev").cast("double")).as("revenue"), col("share"))
      .orderBy("yr", "n_name")
  }

  /** Cumulative order backlog per month — the open-work running total
    * every operations dashboard carries: orders placed minus orders
    * completed (an order completes in the month of its LAST shipment),
    * cumulated over the month spine. The per-order completion date is
    * one fact-sized max-aggregate (map-side combined); both monthly
    * series pre-reduce to ≤ #months rows before the full-outer merge,
    * and the running total — a global window — runs strictly over
    * that calendar-grain frame (the lint-enforced W1 discipline).
    * Pure integer arithmetic end to end. */
  def orderBacklog(s: SparkSession, dir: String): DataFrame = {
    val placed = Tables.orders(s, dir)
      .select(CalCols.monthStart(col("o_orderdate")).as("m"))
      .groupBy("m").agg(count(lit(1)).as("placed"))
    val completed = Tables.lineitem(s, dir)
      .groupBy("l_orderkey").agg(max(col("l_shipdate")).as("done_ts"))
      .select(CalCols.monthStart(col("done_ts")).as("m"))
      .groupBy("m").agg(count(lit(1)).as("completed"))
    val w = Window.orderBy("m").rowsBetween(Window.unboundedPreceding, 0)
    placed.join(completed, Seq("m"), "full_outer")
      .select(col("m"),
        coalesce(col("placed"), lit(0L)).as("placed"),
        coalesce(col("completed"), lit(0L)).as("completed"))
      .withColumn("backlog",
        sum(col("placed") - col("completed")).over(w))
      .orderBy("m")
  }

  /** Cheapest supplier per part (TPC-H Q2's groupwise-min shape on
    * this schema): argmin-per-group as MIN-AGGREGATE + JOIN-BACK
    * rather than a per-part ranking window — the aggregate
    * pre-combines map-side and the join-back carries one (part,
    * min-price) row per part, so a part with a billion lines costs
    * its reducer one min, not a sort; ties break deterministically on
    * the smallest supplier key. The join-back is SHUFFLE-HASH: the
    * min-price table is corpus-derived (one row per part — part is
    * fact-scaled in TPC-H, no broadcast). Price equality is exact:
    * both sides compare the same stored double. */
  def cheapestSupplierPerPart(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
      .select("l_partkey", "l_suppkey", "l_extendedprice")
    val minP = li.groupBy("l_partkey")
      .agg(min("l_extendedprice").as("min_price"))
      .withColumnRenamed("l_partkey", "mp_partkey")
    li.join(minP.hint("shuffle_hash"),
        col("l_partkey") === col("mp_partkey") &&
          col("l_extendedprice") === col("min_price"))
      .groupBy("l_partkey", "min_price")
      .agg(min("l_suppkey").as("suppkey"))
      .select("l_partkey", "min_price", "suppkey")
      .orderBy("l_partkey")
  }

  /** Monthly promo-revenue share (TPC-H Q14's conditional-aggregate
    * shape, per month instead of one scalar): what fraction of each
    * month's revenue came from PROMO-type parts. Scale shape: part is
    * fact-scaled in TPC-H (|lineitem|/30), so the part join is
    * SHUFFLE-HASH on the part key with both sides pre-projected to
    * two columns — never a broadcast; the monthly aggregate then
    * pre-combines map-side. Both sums go through the exact decimal
    * path and the share is derived in double through the identical
    * expression tree as the oracle. */
  def promoShareMonthly(s: SparkSession, dir: String): DataFrame = {
    val p = Tables.part(s, dir)
      .select(col("p_partkey"), (col("p_type") === "PROMO").as("is_promo"))
    val li = Tables.lineitem(s, dir)
      .select(col("l_partkey"), CalCols.monthStart(col("l_shipdate")).as("m"),
        (col("l_extendedprice") * (lit(1) - col("l_discount"))).as("rev"))
    li.join(p.hint("shuffle_hash"), col("l_partkey") === col("p_partkey"))
      .groupBy("m")
      .agg(
        dsumExact(when(col("is_promo"), col("rev")).otherwise(lit(0)))
          .as("promo_rev"),
        dsumExact(col("rev")).as("total_rev"))
      .select(col("m"),
        r4(lit(100) * col("promo_rev").cast("double") /
          col("total_rev").cast("double")).as("promo_share"),
        r4(col("total_rev").cast("double")).as("total_revenue"))
      .orderBy("m")
  }

  /** Large-volume orders (TPC-H Q18): orders whose total quantity
    * exceeds a threshold, joined back up to their customer. The
    * HAVING filter runs on the PRE-REDUCED per-order aggregate — one
    * row per order before any join — so the two joins carry only
    * qualifying orders (204 at sf0.01, a vanishing fraction at any
    * SF). The aggregate pre-combines map-side; the top-20 runs as
    * TakeOrderedAndProject with a deterministic key tie-break. */
  private val VolumeThreshold = 250

  def largeVolumeCustomers(s: SparkSession, dir: String): DataFrame = {
    val qty = Tables.lineitem(s, dir)
      .groupBy("l_orderkey")
      .agg(dsumExact(col("l_quantity")).as("oq"))
      .filter(col("oq") > VolumeThreshold)
    val o = Tables.orders(s, dir)
      .select("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")
    val c = Tables.customer(s, dir).select("c_custkey", "c_name")
    qty.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
        col("o_orderdate"), col("o_totalprice"),
        r4(col("oq").cast("double")).as("total_qty"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      .limit(20)
  }

  /** Top supplier by quarterly revenue (TPC-H Q15's max-of-aggregate
    * shape): suppliers whose revenue over one ship-date quarter equals
    * the global maximum. The max is a ONE-ROW aggregate of the
    * per-supplier frame → explicit broadcast back onto that same
    * frame (never a shuffle); equality compares the exact DECIMAL
    * sums, so ties are exact, not ulp-dependent. The date filter
    * pushes into the parquet scan. */
  private val TopSupplierFrom = "1998-01-01"
  private val TopSupplierTo   = "1998-04-01"

  def topSupplierByRevenue(s: SparkSession, dir: String): DataFrame = {
    val rev = Tables.lineitem(s, dir)
      .filter(col("l_shipdate") >= lit(TopSupplierFrom) &&
        col("l_shipdate") < lit(TopSupplierTo))
      .groupBy("l_suppkey")
      .agg(dsumExact(col("l_extendedprice") * (lit(1) - col("l_discount")))
        .as("total_rev"))
    val maxRev = rev.agg(max(col("total_rev")).as("max_rev"))
    val sup = Tables.supplier(s, dir).select("s_suppkey", "s_name")
    rev.join(broadcast(maxRev), col("total_rev") === col("max_rev"))
      .join(sup, col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"),
        r4(col("total_rev").cast("double")).as("revenue"))
      .orderBy("s_suppkey")
  }

  /** Wealthy-but-inactive customers per segment (TPC-H Q22's shape):
    * customers whose balance beats the positive-balance average and
    * who placed no order since the churn cutoff. The average is a
    * ONE-ROW aggregate → broadcast threshold probe (no shuffle); the
    * anti join streams the customer scan against the map-side
    * recent-orderer set exactly as [[customersWithoutOrders]]. The
    * threshold double derives from the exact decimal sum through the
    * identical expression tree as the oracle, so the > comparison is
    * deterministic cross-engine. */
  def wealthyInactiveCustomers(s: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(s, dir)
    val thr = c.filter(col("c_acctbal") > 0)
      .agg(davg(col("c_acctbal")).as("avg_bal"))
    val recent = Tables.orders(s, dir)
      .filter(col("o_orderdate") >= lit(ChurnCutoff))
      .select("o_custkey")
    c.join(broadcast(thr))
      .filter(col("c_acctbal") > col("avg_bal"))
      .join(recent, col("c_custkey") === col("o_custkey"), "left_anti")
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_customers"),
        r4(dsum(col("c_acctbal"))).as("total_bal"))
      .orderBy("c_mktsegment")
  }

  /** Returned-item revenue per customer (TPC-H Q10): top-20 customers
    * by revenue on returned lines, with their nation. The returnflag
    * filter pushes into the scan; revenue pre-reduces to one row per
    * order BEFORE the orders join, then to one per customer before
    * customer/nation attach; the decimal re-sum at the customer level
    * stays exact. nation broadcasts; the top-20 runs as
    * TakeOrderedAndProject. */
  def returnedItemCustomers(s: SparkSession, dir: String): DataFrame = {
    val byOrder = Tables.lineitem(s, dir)
      .filter(col("l_returnflag") === "R")
      .groupBy("l_orderkey")
      .agg(dsumExact(col("l_extendedprice") * (lit(1) - col("l_discount")))
        .as("rev"))
    val o = Tables.orders(s, dir).select("o_orderkey", "o_custkey")
    val c = Tables.customer(s, dir)
      .select("c_custkey", "c_name", "c_nationkey")
    val n = broadcast(Tables.nation(s, dir).select("n_nationkey", "n_name"))
    byOrder.join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy("o_custkey")
      .agg(sum(col("rev")).as("rev"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(n, col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("c_name"), col("n_name"),
        r4(col("rev").cast("double")).as("revenue"))
      .orderBy(col("revenue").desc, col("c_custkey").asc)
      .limit(20)
  }

  private val SmallQtyBrand = "Brand#13"
  private val SmallQtyType  = "ECONOMY"

  /** Small-quantity-order revenue (TPC-H Q17's correlated-aggregate
    * shape): average yearly revenue lost if orders below 20% of their
    * part's average quantity were no longer taken, over one
    * brand+type part slice. The per-part correlated scalar subquery
    * decorrelates into a pre-combined per-part average joined back to
    * the same sliced fact — the standard Catalyst-friendly rewrite.
    *
    * Plan shape: the part slice broadcasts as a LEFT-SEMI prune of
    * the fact FIRST, so both the average and the final filter touch
    * only the slice's lineitems (a ~1/150 fraction at any SF); the
    * per-part average table re-joins SHUFFLE-HASH (it is fact-derived
    * and SF-proportional — broadcasting it is the at-scale OOM).
    * Sums ride the exact decimal path; the 0.2 threshold compares in
    * double through the identical tree on both engines. */
  def smallOrderRevenue(s: SparkSession, dir: String): DataFrame = {
    val pk = Tables.part(s, dir)
      .filter(col("p_brand") === SmallQtyBrand && col("p_type") === SmallQtyType)
      .select("p_partkey")
    val sliced = Tables.lineitem(s, dir)
      .select("l_partkey", "l_quantity", "l_extendedprice")
      .join(broadcast(pk), col("l_partkey") === col("p_partkey"), "left_semi")
    val avgq = sliced.groupBy("l_partkey")
      .agg(davg(col("l_quantity")).as("aq"))
      .toDF("ak", "aq")
    sliced.join(avgq.hint("shuffle_hash"), col("l_partkey") === col("ak"))
      .filter(col("l_quantity") < lit(0.2) * col("aq"))
      .agg(r4(dsumExact(col("l_extendedprice")).cast("double") / lit(7.0))
        .as("avg_yearly"))
  }

  private val WaitLagDays = 90

  /** Suppliers who alone held up multi-supplier orders (TPC-H Q21's
    * double-correlated EXISTS / NOT EXISTS shape, re-keyed to this
    * schema's columns: "late" = shipped more than [[WaitLagDays]]
    * after the order date, over finished orders). A supplier is
    * blamed for an order when its line shipped late, at least one
    * OTHER supplier fed the same order, and NO other supplier was
    * late — the sole-culprit condition.
    *
    * The two correlated subqueries decorrelate into grouped counts
    * over ONE per-(order, supplier) pre-reduction: the orders join is
    * hinted shuffle-hash (fact×fact — a broadcast would OOM at
    * scale), which leaves the stream hash-partitioned by order key,
    * so BOTH the (order, supplier) aggregate and the per-order window
    * reuse that single shuffle (HashPartitioning(orderkey) satisfies
    * the subset clustering requirement). Per-supplier counts then
    * shuffle once more on the supplier key; nation broadcasts; the
    * top-20 runs as TakeOrderedAndProject. The oracle keeps the
    * correlated EXISTS/NOT EXISTS form over the same pre-reduction,
    * proving the rewrite. */
  def waitingSuppliers(s: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(s, dir)
      .filter(col("o_orderstatus") === "F")
      .select("o_orderkey", "o_orderdate")
    val perSupp = Tables.lineitem(s, dir)
      .select("l_orderkey", "l_suppkey", "l_shipdate")
      .join(o.hint("shuffle_hash"), col("l_orderkey") === col("o_orderkey"))
      .select(col("l_orderkey"), col("l_suppkey"),
        when(col("l_shipdate") >
          col("o_orderdate") + expr(s"INTERVAL $WaitLagDays DAYS"), 1L)
          .otherwise(0L).as("late1"))
      .groupBy("l_orderkey", "l_suppkey")
      .agg(max(col("late1")).as("late"))
    val sup = Tables.supplier(s, dir).select("s_suppkey", "s_name", "s_nationkey")
    val n = broadcast(Tables.nation(s, dir).select("n_nationkey", "n_name"))
    soleLateCounts(perSupp)
      .join(sup, col("l_suppkey") === col("s_suppkey"))
      .join(n, col("s_nationkey") === col("n_nationkey"))
      .select(col("s_name"), col("n_name"), col("numwait"))
      .orderBy(col("numwait").desc, col("s_name").asc)
      .limit(20)
  }

  /** The decorrelated sole-culprit core over a (l_orderkey,
    * l_suppkey, late) pre-reduction: per-supplier counts of orders
    * where this supplier was late, another supplier participated,
    * and no other was late. */
  private[graft] def soleLateCounts(perSupp: DataFrame): DataFrame = {
    val wOrd = Window.partitionBy("l_orderkey")
    perSupp
      .withColumn("n_supp", count(lit(1)).over(wOrd))
      .withColumn("n_late", sum(col("late")).over(wOrd))
      .filter(col("late") === 1 && col("n_supp") >= 2 && col("n_late") === 1)
      .groupBy("l_suppkey").agg(count(lit(1)).as("numwait"))
  }

  /** Nation-to-nation trade volume by ship year (TPC-H Q7's shape,
    * all nation pairs): the one query that needs the nation dimension
    * attached TWICE — once through supplier, once through
    * orders→customer. Both nation copies broadcast under distinct
    * aliases; revenue pre-reduces to one row per (order, supplier
    * nation, year) BEFORE the orders join — co-keyed on the order key
    * so the big fact×fact shuffle carries pre-combined rows; the
    * final aggregate re-sums exact decimals. */
  def nationTrade(s: SparkSession, dir: String): DataFrame = {
    val sup = Tables.supplier(s, dir).select("s_suppkey", "s_nationkey")
    val n1 = broadcast(Tables.nation(s, dir)
      .select(col("n_nationkey").as("sn_key"), col("n_name").as("supp_nation")))
    val n2 = broadcast(Tables.nation(s, dir)
      .select(col("n_nationkey").as("cn_key"), col("n_name").as("cust_nation")))
    // r14: partition the fact stream by l_orderkey ONCE, before the
    // pre-aggregation — hash(l_orderkey) clusters every
    // (l_orderkey, supp_nation, ship_year) group, so the groupBy
    // adds no exchange of its own, and the orders join right after
    // probes the SAME partitioning. The r13 plan exchanged the
    // lineitem-grain stream twice back-to-back (once on the full
    // 3-column group key, once on l_orderkey for the join) although
    // the group key barely combines at this grain (guide §2.4 — two
    // operations keyed the same way share one exchange).
    val byOrder = Tables.lineitem(s, dir)
      .select(col("l_orderkey"), col("l_suppkey"),
        CalCols.yearOf(col("l_shipdate")).as("ship_year"),
        (col("l_extendedprice") * (lit(1) - col("l_discount"))).as("rev"))
      .join(sup, col("l_suppkey") === col("s_suppkey"))
      .join(n1, col("s_nationkey") === col("sn_key"))
      .repartition(col("l_orderkey"))
      .groupBy("l_orderkey", "supp_nation", "ship_year")
      .agg(dsumExact(col("rev")).as("rev"))
    val o = Tables.orders(s, dir).select("o_orderkey", "o_custkey")
    val c = Tables.customer(s, dir).select("c_custkey", "c_nationkey")
    byOrder.join(o.hint("shuffle_hash"), col("l_orderkey") === col("o_orderkey"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .join(n2, col("c_nationkey") === col("cn_key"))
      .filter(col("supp_nation") =!= col("cust_nation"))
      .groupBy("supp_nation", "cust_nation", "ship_year")
      .agg(r4(sum(col("rev")).cast("double")).as("revenue"))
      .orderBy("supp_nation", "cust_nation", "ship_year")
  }

  /** Customer order-count distribution (TPC-H Q13): how many
    * customers placed exactly k non-urgent orders, INCLUDING the
    * zero-order customers an inner join would drop. The classic form
    * is a left outer join with the priority filter in the ON clause;
    * the scale shape pre-reduces orders to per-customer counts FIRST
    * (the outer join then carries one row per customer key instead of
    * one per order), left-joins customer to the counts shuffle-hash
    * (count table is fact-derived), and coalesces the miss to 0. The
    * second aggregate is histogram-sized. */
  def orderCountDist(s: SparkSession, dir: String): DataFrame = {
    val cnt = Tables.orders(s, dir)
      .filter(col("o_orderpriority") =!= "1-URGENT")
      .groupBy("o_custkey").agg(count(lit(1)).as("n_orders"))
    Tables.customer(s, dir).select("c_custkey")
      .join(cnt.hint("shuffle_hash"),
        col("c_custkey") === col("o_custkey"), "left_outer")
      .select(coalesce(col("n_orders"), lit(0L)).as("c_count"))
      .groupBy("c_count").agg(count(lit(1)).as("custdist"))
      .orderBy(col("custdist").desc, col("c_count").desc)
  }

  /** Trailing 90-day spend per customer — the RANGE-frame interval
    * window (`RANGE BETWEEN 89 days PRECEDING AND CURRENT ROW`) the
    * ROWS-based rolling stats can't express: the frame is defined by
    * VALUE distance, so sparse/bursty order histories window
    * correctly (a customer with 3 orders in a week and none for a
    * year must not average across the gap). Partitioned per customer
    * — never a global ranking; sums ride the exact decimal path.
    * Same-day ties share one frame, so tied output rows are fully
    * identical (order-stable under the positional compare). */
  def trailing90dSpend(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey")
      .orderBy(col("days"))
      .rangeBetween(-89, 0)
    Tables.orders(s, dir)
      .select(col("o_custkey"), col("o_orderdate"), col("o_totalprice"))
      .withColumn("days",
        datediff(col("o_orderdate"), lit("1990-01-01")).cast("long"))
      .withColumn("spend_90d",
        r4(dsumExact(col("o_totalprice")).over(w).cast("double")))
      .select("o_custkey", "o_orderdate", "spend_90d")
      .orderBy("o_custkey", "o_orderdate")
  }

  private val Q6Year = 1995
  private val Q6MaxQty = 24

  /** Forecast-revenue-change (TPC-H Q6): one scan, three conjunctive
    * range predicates, one aggregate — the pushdown showcase. All
    * three predicates (ship year, discount band, quantity cap) reach
    * the parquet scan as `PushedFilters` (plan-asserted), so at 100 TB
    * row groups outside the year or discount band never decompress. */
  def forecastRevenue(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir)
      .filter(col("l_shipdate") >= lit(s"$Q6Year-01-01") &&
        col("l_shipdate") < lit(s"${Q6Year + 1}-01-01") &&
        col("l_discount").between(0.05, 0.07) &&
        col("l_quantity") < Q6MaxQty)
      .agg(r4(dsum(col("l_extendedprice") * col("l_discount")))
        .as("revenue"))

  /** Discounted-revenue under OR-of-ANDs (TPC-H Q19's shape): three
    * disjunct brand/size/quantity branches over the part join — the
    * optimizer stress test where a naive planner degrades to a
    * nested-loop because the join predicate "looks" non-equi.
    * Catalyst keeps the common `l_partkey = p_partkey` equi-key and
    * pushes the per-table halves of each disjunct down both scans
    * (part: brand ∧ size bands; lineitem: the quantity-range union) —
    * plan-asserted: a hash join, never BNLJ, with a disjunctive
    * PushedFilters on the part side. The filtered part slice
    * broadcasts (bounded by construction). */
  def disjunctiveRevenue(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
      .select(col("l_partkey"), col("l_quantity"),
        (col("l_extendedprice") * (lit(1) - col("l_discount"))).as("rev"))
    val p = Tables.part(s, dir).select("p_partkey", "p_brand", "p_size")
    val branch = (brand: String, szHi: Int, qLo: Int, qHi: Int) =>
      col("p_brand") === brand && col("p_size").between(1, szHi) &&
        col("l_quantity") >= qLo && col("l_quantity") <= qHi
    li.join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .filter(branch("Brand#11", 5, 1, 11) ||
        branch("Brand#22", 10, 10, 20) ||
        branch("Brand#33", 15, 20, 30))
      .agg(r4(dsum(col("rev"))).as("revenue"),
        count(lit(1)).as("n_lines"))
  }

  private val SessionGapDays = 90

  /** Gaps-and-islands sessionization of the ORDER history: a
    * customer's orders split into buying sessions wherever the gap to
    * the previous order exceeds [[SessionGapDays]] — the classic
    * islands pattern (cumulative sum over a lag-derived break flag),
    * the relational counterpart of the event family's
    * `session_window` (which needs a time column feeding streaming
    * machinery; this form runs on any ordered history). Two windows,
    * both per-customer partitioned — no global window, no join; at
    * 100 TB each customer's history sorts within its hash partition.
    * Output: one row per (customer, session) with order count, span,
    * and spend — spend through the exact decimal path. */
  def orderSessions(s: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey").orderBy("d", "o_orderkey")
    val flagged = Tables.orders(s, dir)
      .select(col("o_custkey"), col("o_orderkey"),
        to_date(col("o_orderdate")).as("d"), col("o_totalprice"))
      .withColumn("brk",
        when(datediff(col("d"), lag("d", 1).over(w)) > SessionGapDays, 1L)
          .otherwise(0L))
      .withColumn("session_id",
        sum("brk").over(w.rowsBetween(Window.unboundedPreceding,
          Window.currentRow)) + 1L)
    flagged.groupBy("o_custkey", "session_id")
      .agg(count(lit(1)).as("n_orders"),
        min("d").as("first_order"), max("d").as("last_order"),
        r4(dsum(col("o_totalprice"))).as("session_spend"))
      .withColumn("span_days",
        datediff(col("last_order"), col("first_order")).cast("long"))
      .select("o_custkey", "session_id", "n_orders", "first_order",
        "last_order", "span_days", "session_spend")
      .orderBy("o_custkey", "session_id")
  }

  private val BasketMinSupport = 3
  private val BasketTopK = 20

  /** Market-basket affinity: top part pairs by LIFT among pairs
    * co-ordered at least [[BasketMinSupport]] times —
    * `lift = P(a∧b)/(P(a)·P(b))` over the order universe, the
    * association-rule readout (lift > 1 = genuinely bought together,
    * not just both popular). Co-occurrence pairs come from a
    * self-join WITHIN each order — bounded by order SIZE (≤ 7 lines
    * in this schema), so pair volume is linear in orders; a
    * heavy-hitter basket regime caps or samples the per-order item
    * list before pairing (the standard A-Priori guard). Count joins
    * are shuffle-hash (part-cardinality sides), the order-universe
    * count is a 1-row broadcast, and the top-k is
    * TakeOrderedAndProject on the ROUNDED lift (6 dp — the
    * integer·integer/integer·integer double derives identically on
    * both engines) with (pa, pb) tie-break. */
  def marketBasket(s: SparkSession, dir: String): DataFrame = {
    val op = Tables.lineitem(s, dir)
      .select(col("l_orderkey").as("o"), col("l_partkey").as("p")).distinct()
    // Population-scaled partitioning (the arrayJoinPartitions
    // discipline, r11): the basket self-join's build side carries the
    // whole (order, part) incidence and the pair aggregation's key
    // space is Σ n(n−1)/2 over baskets — both grow linearly with the
    // corpus, and at a FIXED 32-partition count the per-task build
    // relation + aggregation map grow with them (the 100×-scale leg
    // OOMed an 8 GiB heap here; the recurring fixed-width disease).
    // Join-build sizing comes from the parquet METADATA count (~free
    // at any scale): incidence ≤ lineitem rows. Pair-space sizing is
    // the SECOND MOMENT Σ n·(n−1)/2 over per-order line counts — the
    // r11 first-moment proxy rows·avg-basket is, by Cauchy–Schwarz,
    // the MINIMUM of the true pair count, so under basket-size skew
    // (the heavy-hitter regime) it undershoots by orders of magnitude
    // and re-exposes the aggregation-state OOM this sizing exists to
    // prevent. The stats job is one partial-aggregating pass over the
    // single-column orderkey projection (map-side combine ships at
    // most one (order, n) row per order — far below the full-incidence
    // shuffle the join itself is about to pay), computed over RAW
    // lines (≥ the distinct incidence's baskets), so it only ever
    // overestimates — which only adds partitions. Both counts are
    // memoized per (session, dir), so only the first build pays them.
    val liRows = Tables.rowCount(s, dir, "lineitem")
    val pairEst = graft.SessionMemo.once(s, s"basket_pairs:$dir") {
      val pairRow = Tables.lineitem(s, dir)
        .select(col("l_orderkey").as("o")).groupBy("o")
        .agg(count(lit(1)).as("n"))
        .agg(sum((col("n") * (col("n") - 1) / 2).cast("long")).as("pairs"))
        .head()
      if (pairRow.isNullAt(0)) 1L else math.max(pairRow.getLong(0), 1L)
    }(_ => ())
    val par = s.sparkContext.defaultParallelism
    val nJoin = graft.ext.Dedup.arrayJoinPartitions(liRows, 0L, par)
    val nPair = graft.ext.Dedup.arrayJoinPartitions(pairEst, 0L, par)
    val nOrders = op.agg(countDistinct("o").as("n_orders"))
    val perPart = op.groupBy("p").agg(count(lit(1)).as("n_p"))
    // both sides repartition to the same HashPartitioning — the join
    // adds no further exchange; the pair stream then re-keys onto the
    // pair-space partitioning so the counting aggregation's per-task
    // state is ~[[graft.ext.Dedup.arrayJoinPartitions]]-target-sized
    // at any corpus size
    val opJ = op.repartition(nJoin, col("o"))
    val joined = opJ.toDF("o", "pa")
      .join(opJ.toDF("o", "pb").hint("shuffle_hash"), Seq("o"))
      .filter(col("pa") < col("pb"))
    // the explicit pair-space repartition trades map-side combine for
    // bounded final-aggregation state — only worth it once the pair
    // space clearly outgrows the session's default partitioning (at
    // gate scales the plain partial+final aggregate is both safe and
    // ~2× cheaper)
    val keyed =
      if (nPair > 2 * par) joined.repartition(nPair, col("pa"), col("pb"))
      else joined
    val pairs = keyed
      .groupBy("pa", "pb").agg(count(lit(1)).as("n_ab"))
      .filter(col("n_ab") >= BasketMinSupport)
    pairs
      .join(perPart.toDF("pa", "n_a").hint("shuffle_hash"), Seq("pa"))
      .join(perPart.toDF("pb", "n_b").hint("shuffle_hash"), Seq("pb"))
      .crossJoin(broadcast(nOrders))
      .select(col("pa"), col("pb"), col("n_ab"), col("n_a"), col("n_b"),
        round((col("n_ab") * col("n_orders")) / (col("n_a") * col("n_b")), 6)
          .as("lift"))
      .orderBy(col("lift").desc, col("pa").asc, col("pb").asc)
      .limit(BasketTopK)
  }

  private val IdleSince = "1999-01-01"

  /** Customers with above-average wealth and NO RECENT orders — the
    * TPC-H Q22 shape, the remaining classic decorrelation pattern: a
    * GLOBAL scalar aggregate subquery (average positive balance)
    * feeding a filter, composed with a NOT EXISTS anti-join (no order
    * since [[IdleSince]] — Q22's "past 7 years" window; this
    * generator gives every customer SOME order, so plain
    * no-orders-ever is vacuous), rolled up by nation. Decorrelated
    * scale-first: the average is a 1-row broadcast off a pre-reduced
    * exact-decimal aggregate (never a per-row subquery); the NOT
    * EXISTS becomes a LEFT ANTI join with the date filter pushed into
    * the fact scan and the fact side hinted shuffle-hash (orders are
    * corpus-scale — a broadcast build is the at-scale job-killer);
    * the nation dimension broadcasts. The oracle keeps the faithful
    * nested scalar-subquery + NOT EXISTS form. */
  def idleRichCustomers(s: SparkSession, dir: String): DataFrame = {
    val cust = Tables.customer(s, dir)
      .select("c_custkey", "c_nationkey", "c_acctbal")
    val avgBal = cust.filter(col("c_acctbal") > 0)
      .agg(davg(col("c_acctbal")).as("avg_bal"))
    val rich = cust.crossJoin(broadcast(avgBal))
      .filter(col("c_acctbal") > col("avg_bal"))
    val noOrders = rich.join(
      Tables.orders(s, dir)
        .filter(col("o_orderdate") >= lit(IdleSince).cast("timestamp"))
        .select(col("o_custkey")).hint("shuffle_hash"),
      col("c_custkey") === col("o_custkey"), "left_anti")
    noOrders
      .join(broadcast(Tables.nation(s, dir)),
        col("c_nationkey") === col("n_nationkey"))
      .groupBy("n_name")
      .agg(count(lit(1)).as("n_custs"),
        r4(dsum(col("c_acctbal"))).as("total_acctbal"))
      .orderBy("n_name")
  }

  /** Revenue-concentration screen — the TPC-H Q11 shape on this
    * schema: parts whose total revenue exceeds a fixed fraction
    * (1/1000) of GLOBAL revenue, i.e. a grouped aggregate HAVING a
    * scalar-subquery threshold — here "part revenue above 1.5× the
    * MEAN part revenue", a scale-free criterion (Q11's fixed global
    * fraction degenerates as the part count grows). One pre-reduced
    * per-part exact-decimal revenue aggregate; the global total AND
    * part count re-aggregate the SAME partials (decimal addition is
    * associative — no second fact scan) and broadcast as one row; the
    * threshold comparison multiplies through
    * (`2·n_parts·rev > 3·total`) so it stays exact DECIMAL/integer on
    * both engines — no fraction literal in float. Precision is sized
    * so NEITHER engine loses scale mid-multiply: `rev` (which Spark's
    * sum already widened to DECIMAL(35,8)) pre-casts BACK to
    * DECIMAL(25,8) — per-part revenue fits with 9 digits to spare —
    * and `2·n_parts` pre-casts to DECIMAL(12,0) (exact to 5·10¹¹
    * parts — beyond any real catalog), so `(25,8) × (12,0)` lands
    * exactly on Spark's 38-digit cap with scale 8 intact; `total`
    * pre-casts to DECIMAL(30,8) before `× 3` for the same reason.
    * Without the rev re-narrow, `sum`'s (35,8) × (12,0) = (48,8)
    * trips Spark's precision-loss rule down to scale 6 while DuckDB
    * keeps scale 8 — a part within 1e-6 of the threshold would
    * classify differently across engines.
    * Output ranks by the rounded value with a key tie-break. */
  def stockConcentration(s: SparkSession, dir: String): DataFrame = {
    val rev = Tables.lineitem(s, dir)
      .groupBy("l_partkey")
      .agg(dsumExact(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
        .as("rev"))
    val total = rev.agg(sum(col("rev")).as("total"), count(lit(1)).as("n_parts"))
    rev.crossJoin(broadcast(total))
      .filter(col("rev").cast("decimal(25,8)") *
          (col("n_parts") * 2).cast("decimal(12,0)") >
        col("total").cast("decimal(30,8)") * lit(java.math.BigDecimal.valueOf(3)))
      .select(col("l_partkey"), r4(col("rev").cast("double")).as("part_value"))
      .orderBy(col("part_value").desc, col("l_partkey").asc)
  }

  private val JcmsD = 4    // CMS depth (independent hash rows)
  private val JcmsW = 512  // CMS width (buckets per row)

  /** Sketch-based equi-join cardinality estimation — the
    * cost-based-optimizer statistic next to the profiler: estimate
    * `|lineitem ⋈ orders|` on the order key WITHOUT running the join,
    * via the count-min inner product (Cormode & Muthukrishnan 2005:
    * for per-key frequency vectors a, b, `min_d Σ_w cmsA[d][w] ·
    * cmsB[d][w]` never underestimates `Σ_k a_k·b_k` and overshoots by
    * at most (e/W)·|A|·|B| with high probability). Each side's sketch
    * is ONE pre-combined aggregate to [[JcmsD]]×[[JcmsW]] counters —
    * mergeable, map-side-combined, kilobytes at any corpus size — so
    * a planner can size every candidate join order from sketches
    * built in one pass per table.
    *
    * Everything is keyed-md5 + integer arithmetic: both engines land
    * on the identical sketch, estimate, and certification booleans —
    * the output carries the exact join count (computed here as the
    * certification term, dropped at 100 TB exactly like the certified
    * profiler's exact ndv) and `within_bound`, with the upper bound
    * stated in pure integers (`3·|A|·|B| / W` ≥ the e/W bound). */
  /** CMS bucket-count sketches of every column of a key frame, in ONE
    * scan: each key lands in [[JcmsD]] (key index, depth, md5-bucket)
    * cells per column; the bucket counts are the count-min rows the
    * join-cardinality inner product reads. md5-seeded, so DuckDB
    * replays the identical cells; the seed never involves the
    * column's NAME or index, so a key's cells are the same whether it
    * is sketched alone or beside others. r12 collected `l_orderkey`
    * and `l_partkey` as two separate lineitem aggregates, so the
    * statistics pass cost 2× the fact I/O it exists to optimize.
    *
    * ONE md5 per key value, not one per depth (r13): the [[JcmsD]]
    * depth buckets are DISJOINT 9-bit windows of the single 60-bit
    * hash (`(h >> 9d) mod 512`, 36 of 60 bits used) — the
    * Kirsch–Mitzenmacher trick of deriving a hash family from one
    * strong hash. The per-depth-seeded form computed [[JcmsD]]
    * string-concats + md5 digests per input row, which made the
    * statistics pass — not the joins it prices — the dominant term of
    * `rel_cbo_join_order` at sf10. */
  private[graft] def cmsKeySketch(df: DataFrame): DataFrame = {
    val keys = df.columns.indices
    df.select(keys.map(ki => graft.functions.Md5Hash60.md5Hash60(
        concat(lit("jcms:"), col(df.columns(ki)).cast("string"))).as(s"h$ki")): _*)
      .select(explode(array((for {
        ki <- keys; d <- 0 until JcmsD
      } yield struct(lit(ki).as("ki"), lit(d).as("d"),
        pmod(shiftright(col(s"h$ki"), 9 * d), lit(JcmsW)).as("b"))): _*)).as("kdb"))
      .groupBy(col("kdb.ki").as("ki"), col("kdb.d").as("d"),
        col("kdb.b").as("b"))
      .agg(count(lit(1)).as("c"))
  }

  /** The [[cmsKeySketch]] of each column of `df`, collected to the
    * driver — ≤ [[JcmsD]]·[[JcmsW]] (d, bucket, count) cells per
    * column, the J2 bounded-driver-data pattern: ONE scan yields every
    * statistic the CBO reads (join-cardinality inner products against
    * any other sketch, and each side's own row count), exactly how a
    * planner holds per-table sketch state at 100 TB. */
  private[graft] def cmsCollect(df: DataFrame): IndexedSeq[Array[(Int, Long, Long)]] = {
    val cells = cmsKeySketch(df).collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getLong(2), r.getLong(3)))
    df.columns.indices.map(ki => cells.collect { case (`ki`, d, b, c) => (d, b, c) })
  }

  /** The CMS join-cardinality estimate from two collected sketches:
    * min over depths of Σ_b ca·cb (Alon–Matias–Szegedy style inner
    * product — an upper bound in expectation 3·|A|·|B|/W above the
    * truth). Empty side → 0. */
  private[graft] def cmsJoinRowsEst(a: Array[(Int, Long, Long)],
      b: Array[(Int, Long, Long)]): Long = {
    val bm = b.map { case (d, bk, c) => (d, bk) -> c }.toMap
    val ips = (0 until JcmsD).map { d =>
      a.iterator.filter(_._1 == d)
        .map { case (_, bk, ca) => ca * bm.getOrElse((d, bk), 0L) }.sum
    }
    if (ips.isEmpty || a.isEmpty || b.isEmpty) 0L else ips.min
  }

  /** A side's row count read off its own sketch — the depth-0 bucket
    * counts partition the side's rows exactly (every key lands in one
    * bucket per depth), so Σ_b c at d = 0 IS |side|, with no second
    * scan: the same sketch state prices both the join orders and the
    * build sides. */
  private[graft] def cmsSideRows(a: Array[(Int, Long, Long)]): Long =
    a.iterator.filter(_._1 == 0).map(_._3).sum

  private val CmsEps = 0.001   // over-estimate ≤ ε·N with prob 1−δ
  private val CmsConf = 0.99   // 1−δ
  private val CmsSeed = 42

  /** One-pass count–min sketch of a one-column key frame — a fixed d×w
    * counter grid built by `treeAggregate` (map-side partials merge
    * pairwise; the driver holds kilobytes, never the key universe).
    * Linear: per-batch sketches merged with `mergeInPlace` equal the
    * one-shot sketch exactly. */
  private[graft] def countMin(keys: DataFrame): org.apache.spark.util.sketch.CountMinSketch =
    keys.stat.countMinSketch(keys.columns.head, CmsEps, CmsConf, CmsSeed)

  /** Count–min heavy hitters CERTIFIED in-plan: `top` holds the exact
    * top-k (key, n) of the one-column key frame `keys`, and for each
    * row the [[countMin]] point estimate must satisfy the one-sided
    * guarantee exact ≤ est ≤ exact + ε·N (a count-min sketch never
    * under-counts; it over-counts by at most ε·N at the declared
    * confidence). Output (key, n, within_bound): the oracle expects
    * TRUE, so a broken sketch hash-mismatches, and the estimates
    * themselves, which are engine-specific, stay out. The collect is
    * bounded by k, not the key universe. */
  private[graft] def cmsCertifiedTop[K: scala.reflect.runtime.universe.TypeTag](
      keys: DataFrame, top: DataFrame): DataFrame = {
    val k = keys.columns.head
    val cms = countMin(keys)
    val est = top.select(k).collect()
      .map(r => r.getAs[K](0) -> cms.estimateCount(r.get(0))).toMap
    val slack = math.ceil(CmsEps * cms.totalCount()).toLong
    top
      .withColumn("est", element_at(typedlit(est), col(k)))
      .withColumn("within_bound",
        col("est") >= col("n") && col("est") <= col("n") + lit(slack))
      .select(col(k), col("n"), col("within_bound"))
  }

  /** Above this `lineitem` population [[joinSizeEst]]'s EXACT join —
    * the certification term, a full two-sided shuffle that grows with
    * the corpus while the sketch stays one map-combine pass per side
    * (9.3 s of the query's sf10 wall) — restricts to a deterministic
    * md5 KEY cohort ([[Tables.certSample]] on the join key: the same
    * keep set on both sides, so the cohort join is the true join
    * restricted to kept keys). The certification then compares
    * cohort-exact to cohort-CMS (sketches of the same cohort frames —
    * like with like, the `events_wau_sketch` discipline), while
    * `n_left`/`n_right`/`est_join_rows` stay full-population
    * readouts; `cert_sampled` states the regime in-row. */
  private val JoinEstGateRows = 1000000L

  def joinSizeEst(s: SparkSession, dir: String): DataFrame =
    joinSizeEstGated(s, dir, JoinEstGateRows)

  private[graft] def joinSizeEstGated(s: SparkSession, dir: String,
      gateRows: Long): DataFrame = {
    val li = Tables.lineitem(s, dir).select(col("l_orderkey").as("k"))
    val or = Tables.orders(s, dir).select(col("o_orderkey").as("k"))
    val skL = cmsCollect(li).head
    val skR = cmsCollect(or).head
    val population = cmsSideRows(skL)
    val gated = population > gateRows
    val (liC, orC) =
      if (gated)
        (Tables.certSample(li, col("k"), population, gateRows),
          Tables.certSample(or, col("k"), population, gateRows))
      else (li, or)
    // certification terms: below the gate these ARE the full sketches
    // (zero extra work); above it, cohort sketches of the same frames
    // the cohort join reads
    val (skLc, skRc) = if (gated) (cmsCollect(liC).head, cmsCollect(orC).head)
      else (skL, skR)
    val estC = cmsJoinRowsEst(skLc, skRc)
    val exact = liC.join(orC.hint("shuffle_hash"), Seq("k"))
      .agg(count(lit(1)).as("exact_join_rows"))
    exact.select(
      lit(population).as("n_left"),
      lit(cmsSideRows(skR)).as("n_right"),
      col("exact_join_rows"),
      lit(cmsJoinRowsEst(skL, skR)).as("est_join_rows"),
      // stated multiplied-through so the arithmetic stays integer
      // on both engines (Spark's `/` on longs is double division);
      // the bound term runs in DECIMAL so `3·n_left·n_right` cannot
      // silently wrap negative in non-ANSI BIGINT once
      // |A|·|B| > 2^63/3 (~sf300) — scale-0 decimals are exact to
      // 38 digits on both engines. Cohort-side counts bound the
      // cohort certification; below the gate they equal n_left/n_right
      (col("exact_join_rows") <= lit(estC) &&
        (lit(estC) - col("exact_join_rows")).cast("decimal(20,0)") *
          lit(java.math.BigDecimal.valueOf(JcmsW.toLong)) <=
          lit(java.math.BigDecimal.valueOf(3)) *
            lit(cmsSideRows(skLc)).cast("decimal(18,0)") *
            lit(cmsSideRows(skRc)).cast("decimal(18,0)"))
        .as("within_bound"),
      lit(gated).as("cert_sampled"))
  }

  /** The CMS estimate ACTING as a cost-based optimizer — r11 chose the
    * JOIN ORDER; r12 extends the same sketch state to the shuffle-hash
    * BUILD SIDE of each join; r13 closes the loop to PHYSICAL LAYOUT,
    * deriving each join's shuffle-partition width from the estimated
    * build-side bytes (`parts_first`/`parts_second` — the
    * statistics → partitioning step a 100 TB planner runs): a 3-table
    * star (lineitem ⋈ urgent orders ⋈ small parts) where (a) the
    * smaller estimated first-join runs first, so the second
    * (costlier) join sees the reduced intermediate, and (b) each join
    * BUILDS its hash relation on the smaller estimated side — the
    * dimension when its sketch row count undercuts the fact side, the
    * fact/intermediate when the selectivities reverse. The second
    * join's fact-side estimate is the FIRST join's CMS output
    * cardinality — the sketch pipeline a real CBO runs. All choices
    * are driver-side scalar compares over collected sketches (≤ D·W
    * cells per side, the J2 pattern; the side row counts come off the
    * SAME sketches at depth 0 — and r13 folds BOTH fact-key sketches
    * into ONE lineitem scan, so the statistics pass reads the fact
    * exactly once) and all are REPLAYED by the oracle: DuckDB
    * recomputes both md5-seeded estimates, the side counts, and the
    * integer width arithmetic, and states identical
    * `first_join`/`build_first`/`build_second`/`parts_*` —
    * an engine mis-choice flips a column and fails the hash gate. The
    * final aggregate is order- and build-invariant, so correctness
    * never depends on the optimizer being right — only the plan shape
    * does (`PlanSpec` asserts the chosen dimension joins below the
    * other AND the chosen build side, and that both FLIP with
    * reversed estimates). Every side is corpus-derived → shuffle-hash,
    * never broadcast. */
  def cboJoinOrder(s: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(s, dir)
    val ordersF = Tables.orders(s, dir)
      .filter(col("o_orderpriority") === CboPriority)
    val partF = Tables.part(s, dir).filter(col("p_size") <= CboMaxSize)
    val Seq(skLiO, skLiP) = cmsCollect(li.select("l_orderkey", "l_partkey"))
    val skO = cmsCollect(ordersF.select("o_orderkey")).head
    val skP = cmsCollect(partF.select("p_partkey")).head
    cboJoinOrderOf(li, ordersF, partF,
      cmsJoinRowsEst(skLiO, skO), cmsJoinRowsEst(skLiP, skP),
      cmsSideRows(skLiO), cmsSideRows(skO), cmsSideRows(skP))
  }

  private val CboPriority = "1-URGENT"
  private val CboMaxSize = 10
  /** Per-task build bytes the CBO join width targets — 32 MB, the
    * figure the oracle's `parts_*` columns replay. Not the array
    * joins' 16 MB target, which is halved for a reason specific to
    * array payloads. */
  private val CboBuildTarget = 32L << 20

  /** The order- and build-choosing join tree itself,
    * estimate-parameterized so `PlanSpec` can drive every choice both
    * ways on synthetic frames. `nLi`/`nOrders`/`nPart` are the sides'
    * sketch-derived row counts; the second join's left side is priced
    * at the first join's estimated cardinality. */
  private[graft] def cboJoinOrderOf(li: DataFrame, ordersF: DataFrame,
      partF: DataFrame, estOrders: Long, estPart: Long,
      nLi: Long, nOrders: Long, nPart: Long): DataFrame = {
    import graft.functions.Num._
    val ordersFirst = estOrders <= estPart
    val buildDim1 = (if (ordersFirst) nOrders else nPart) <= nLi
    val buildDim2 =
      if (ordersFirst) nPart <= estOrders else nOrders <= estPart
    // Third CBO knob (r13): each join's shuffle WIDTH from the same
    // sketch state — the estimated BUILD side's bytes (48 B/row, the
    // fixed-row term of the array joins' sizing; no array payloads
    // here) over the [[CboBuildTarget]] per-task build target.
    // `parts_*` is the pure estimate-derived width (floor 1 — what
    // the statistics contribute, and what the oracle replays
    // arithmetically); the PHYSICAL exchange floors it at the
    // session's shuffle parallelism, the engine-runtime term no
    // estimate can know. This closes the statistics → physical-layout
    // loop: a mis-estimate now mis-sizes a stated column AND the
    // exchange width `PlanSpec` reads.
    val buildRows1 =
      if (buildDim1) (if (ordersFirst) nOrders else nPart) else nLi
    val buildRows2 =
      if (buildDim2) (if (ordersFirst) nPart else nOrders)
      else (if (ordersFirst) estOrders else estPart)
    def parts(rows: Long): Int =
      math.max(1L, (48L * rows + CboBuildTarget - 1) / CboBuildTarget).toInt
    val parts1 = parts(buildRows1)
    val parts2 = parts(buildRows2)
    val sessionPar =
      li.sparkSession.conf.get("spark.sql.shuffle.partitions").toInt
    val w1 = math.max(sessionPar, parts1)
    val w2 = math.max(sessionPar, parts2)
    // hint exactly the side the estimates elect to build, at exactly
    // the width the estimates price — both sides repartition on their
    // join key so the SHJ reuses the co-partitioned exchanges
    def shj(l: DataFrame, lk: String, r: DataFrame, rk: String,
        w: Int, buildRight: Boolean): DataFrame = {
      val lw = l.repartition(w, col(lk))
      val rw = r.repartition(w, col(rk))
      if (buildRight) lw.join(rw.hint("shuffle_hash"), col(lk) === col(rk))
      else lw.hint("shuffle_hash").join(rw, col(lk) === col(rk))
    }
    val joined =
      if (ordersFirst)
        shj(shj(li, "l_orderkey", ordersF, "o_orderkey", w1, buildDim1),
          "l_partkey", partF, "p_partkey", w2, buildDim2)
      else
        shj(shj(li, "l_partkey", partF, "p_partkey", w1, buildDim1),
          "l_orderkey", ordersF, "o_orderkey", w2, buildDim2)
    joined.agg(
        count(lit(1)).as("n_rows"),
        r4(dsum(col("l_extendedprice") * (lit(1) - col("l_discount"))))
          .as("revenue"))
      .select(lit(estOrders).as("est_orders_rows"),
        lit(estPart).as("est_part_rows"),
        lit(if (ordersFirst) "orders" else "part").as("first_join"),
        lit(if (buildDim1) (if (ordersFirst) "orders" else "part")
            else "lineitem").as("build_first"),
        lit(if (buildDim2) (if (ordersFirst) "part" else "orders")
            else "mid").as("build_second"),
        lit(parts1).as("parts_first"),
        lit(parts2).as("parts_second"),
        col("n_rows"), col("revenue"))
  }

  private val LocalRegion = "ASIA"        // Q5's region slice
  private val LocalYearLo = "1997-01-01"  // Q5's one-year window
  private val LocalYearHi = "1998-01-01"

  /** Local-supplier volume — the TPC-H Q5 shape, whose distinguishing
    * feature is the CROSS-DIMENSION equality `c_nationkey =
    * s_nationkey`: revenue counts only when the ordering customer and
    * the line's supplier sit in the same nation (of one region, one
    * order year). That predicate can't prune either fact scan; it
    * lives in the join graph, which makes Q5 the classic join-ORDER
    * test.
    *
    * Scale-first ordering: orders carries the only selective fact
    * predicate (the year window — pushed to its scan), so orders
    * joins customer FIRST (pre-pruned by the region's nations,
    * broadcast LEFT SEMI via the nation filter) to pin each order's
    * customer nation; lineitem then joins that reduced order set on
    * the natural key — the single fact-fact shuffle; supplier
    * (dimension-sized) broadcasts, and the same-nation equality
    * applies AT that join (`l_suppkey = s_suppkey AND s_nationkey =
    * cust_nation`), so mismatched rows die inside the join instead of
    * surviving to a filter. Nation/region prune broadcast-side. */
  def localSupplierVolume(s: SparkSession, dir: String): DataFrame = {
    val nr = Tables.nation(s, dir)
      .join(broadcast(Tables.region(s, dir)
        .filter(col("r_name") === LocalRegion)),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey"), col("n_name"))
    val o = Tables.orders(s, dir)
      .filter(col("o_orderdate") >= lit(LocalYearLo) &&
        col("o_orderdate") < lit(LocalYearHi))
      .select("o_orderkey", "o_custkey")
    val c = Tables.customer(s, dir).select("c_custkey", "c_nationkey")
      .join(broadcast(nr), col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("c_nationkey").as("cust_nation"))
    val oc = o.join(c, col("o_custkey") === col("c_custkey"))
      .select("o_orderkey", "cust_nation")
    val sup = broadcast(Tables.supplier(s, dir)
      .select(col("s_suppkey"), col("s_nationkey")))
    val li = Tables.lineitem(s, dir)
      .select(col("l_orderkey"), col("l_suppkey"),
        (col("l_extendedprice") * (lit(1) - col("l_discount"))).as("rev"))
    li.join(oc, col("l_orderkey") === col("o_orderkey"))
      .join(sup, col("l_suppkey") === col("s_suppkey") &&
        col("s_nationkey") === col("cust_nation"))
      .join(broadcast(nr.select(col("n_nationkey").as("nk"), col("n_name"))),
        col("cust_nation") === col("nk"))
      .groupBy("n_name")
      .agg(r4(dsum(col("rev"))).as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy(col("revenue").desc, col("n_name").asc)
  }

  private val ProfitPattern = "%bolt%"  // Q9's p_name LIKE predicate

  /** Product-profit by supplier nation and year — the TPC-H Q9 shape,
    * the widest classic join tree (part ⋈ lineitem ⋈ supplier ⋈
    * nation ⋈ orders): profit per line = revenue − supply cost ×
    * quantity, grouped by the supplying nation and the order year.
    * This schema has no partsupp table, so `ps_supplycost` derives
    * deterministically from the (part, supplier) key — the
    * [[excessStock]] ledger device (`cost = (100 + (p·13 + s·7) mod
    * 900) / 100`, pure integer arithmetic then one exact divide, so
    * both engines replay it bit-identically).
    *
    * Join order, scale-first: the `p_name` pattern is the only
    * selective predicate, so the pruned part-key set joins lineitem
    * FIRST as a broadcast LEFT-SEMI-shaped prune — every later join
    * sees ~pattern-selectivity × |lineitem| rows; supplier⋈nation
    * pre-joins dimension-side and broadcasts as one unit; the
    * lineitem→orders equi-join is the single fact-fact shuffle in
    * the plan (on the key both sides are naturally keyed by), and
    * the final aggregate is #nations × #years rows with map-side
    * combine. Profit amounts sum through exact DECIMAL. */
  def profitByNationYear(s: SparkSession, dir: String): DataFrame = {
    val p = Tables.part(s, dir)
      .filter(col("p_name").like(ProfitPattern))
      .select("p_partkey")
    val sn = broadcast(Tables.supplier(s, dir)
      .join(broadcast(Tables.nation(s, dir)),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_suppkey"), col("n_name")))
    val cost = (lit(100L) +
      pmod(col("l_partkey") * 13 + col("l_suppkey") * 7, lit(900L)))
      .cast("double") / lit(100.0)
    val li = Tables.lineitem(s, dir)
      .join(broadcast(p), col("l_partkey") === col("p_partkey"))
      .select(col("l_orderkey"), col("l_suppkey"),
        (col("l_extendedprice") * (lit(1) - col("l_discount"))
          - cost * col("l_quantity")).as("amount"))
    val o = Tables.orders(s, dir)
      .select(col("o_orderkey"), CalCols.yearOf(col("o_orderdate")).as("o_year"))
    li.join(o, col("l_orderkey") === col("o_orderkey"))
      .join(sn, col("l_suppkey") === col("s_suppkey"))
      .groupBy(col("n_name"), col("o_year"))
      .agg(r4(dsum(col("amount"))).as("sum_profit"))
      .orderBy(col("n_name").asc, col("o_year").desc)
  }

  private val StockPattern = "small%"   // Q20's p_name LIKE predicate
  private val StockNation  = "NATION_7"
  private val StockYearLo  = "1996-01-01"
  private val StockYearHi  = "1997-01-01"

  /** Suppliers holding excess stock of pattern-matched parts — the
    * TPC-H Q20 nested-semi shape, the last classic correlated pattern
    * of the `rel_*` decorrelation family: a supplier qualifies when
    * SOME of its (part, supplier) positions has availability above
    * half that pair's one-year lineitem demand (`availqty >
    * 0.5·demand`, i.e. a scalar subquery correlated on TWO keys under
    * two nested IN-subqueries). This schema has no partsupp table, so
    * the stock ledger derives deterministically from the observed
    * (part, supplier) pairs (`availqty = 50 + (p·31 + s·17) mod 200`
    * — pure integer arithmetic both engines replay).
    *
    * Decorrelation, scale-first: the per-pair scalar subquery becomes
    * ONE pre-reduced demand aggregate (exact DECIMAL quantity sums)
    * joined SHUFFLE-HASH back to the ledger on the (part, supplier)
    * key — never per-pair re-scans, never a broadcast of the
    * fact-derived side; the `p_name` pattern prunes BOTH fact reads
    * via a broadcast LEFT SEMI before either aggregate; the
    * qualifying pairs reach `supplier` as a LEFT SEMI probe (hinted
    * shuffle-hash — qualifying pairs are fact-derived); the nation
    * dimension broadcasts. Pairs with no in-window demand are
    * excluded, exactly as Q20's NULL-comparing scalar subquery
    * excludes them. The comparison runs as `2·availqty > demand` on
    * exact types — no 0.5 float on either engine. */
  def excessStock(s: SparkSession, dir: String): DataFrame = {
    val pk = Tables.part(s, dir)
      .filter(col("p_name").like(StockPattern))
      .select("p_partkey")
    val sliced = Tables.lineitem(s, dir)
      .select("l_partkey", "l_suppkey", "l_quantity", "l_shipdate")
      .join(broadcast(pk), col("l_partkey") === col("p_partkey"), "left_semi")
    val ledger = sliced
      .select("l_partkey", "l_suppkey").distinct()
      .withColumn("availqty",
        lit(50L) + (col("l_partkey") * 31 + col("l_suppkey") * 17) % 200)
    val demand = sliced
      .filter(col("l_shipdate") >= lit(StockYearLo).cast("timestamp") &&
        col("l_shipdate") < lit(StockYearHi).cast("timestamp"))
      .groupBy("l_partkey", "l_suppkey")
      .agg(dsumExact(col("l_quantity")).as("demand"))
    val qualifying = ledger
      .join(demand.hint("shuffle_hash"), Seq("l_partkey", "l_suppkey"))
      .filter(lit(2) * col("availqty") > col("demand"))
      .select("l_suppkey")
    Tables.supplier(s, dir)
      .join(qualifying.hint("shuffle_hash"),
        col("s_suppkey") === col("l_suppkey"), "left_semi")
      .join(broadcast(Tables.nation(s, dir)
        .filter(col("n_name") === StockNation)),
        col("s_nationkey") === col("n_nationkey"))
      .select(col("s_name"), r4(col("s_acctbal")).as("s_acctbal"))
      .orderBy("s_name")
  }

  private val PsExclBrand = "Brand#13"
  private val PsSizes = Seq(1, 4, 9, 14, 23, 36, 45, 49)

  /** Distinct-supplier counts per part attribute group — the TPC-H
    * Q16 shape, completing the classic sweep (every Q expressible on
    * this schema is now covered; Q12 alone is not — it needs
    * shipmode/commitdate/receiptdate columns the corpus lacks): a
    * grouped COUNT(DISTINCT) whose counting set is first reduced by a
    * NOT-IN anti-join. Q16 excludes complained-about suppliers via a
    * comment LIKE; this schema has no comments, so the audit set is
    * the deterministic `s_suppkey % 4 = 0` — integer arithmetic both
    * engines replay. Part→supplier association comes from the
    * observed lineitem (part, supplier) pairs (no partsupp table —
    * the Q9/Q20 ledger device).
    *
    * Scale shape: the attribute filter prunes `part` dimension-side
    * and BROADCASTS into the fact scan (pushing brand/type/size into
    * the join, fact rows die at the mapper); the audit exclusion is a
    * broadcast LEFT ANTI (dimension-derived, bounded); the
    * distinct-agg shuffles (group keys + suppkey) ONCE with map-side
    * partial dedup — Spark's native two-phase distinct aggregate, no
    * Expand, no second fact scan. */
  def partSupplierCounts(s: SparkSession, dir: String): DataFrame = {
    val pk = Tables.part(s, dir)
      .filter(col("p_brand") =!= PsExclBrand &&
        !col("p_type").startsWith("PROMO") &&
        col("p_size").isin(PsSizes: _*))
      .select("p_partkey", "p_brand", "p_type", "p_size")
    val audited = Tables.supplier(s, dir)
      .filter(col("s_suppkey") % 4 === 0).select("s_suppkey")
    Tables.lineitem(s, dir).select("l_partkey", "l_suppkey")
      .join(broadcast(pk), col("l_partkey") === col("p_partkey"))
      .join(broadcast(audited),
        col("l_suppkey") === col("s_suppkey"), "left_anti")
      .groupBy("p_brand", "p_type", "p_size")
      .agg(countDistinct(col("l_suppkey")).as("supplier_cnt"))
      .orderBy(col("supplier_cnt").desc,
        col("p_brand").asc, col("p_type").asc, col("p_size").asc)
  }

  /** Exact powers of ten (longs, so the double conversion is exact —
    * 10^15 < 2^53) shared by the Spark and SQL leading-digit
    * cascades. */
  private val BenfordPow10: IndexedSeq[Long] =
    (0 to 15).map(m => (0 until m).foldLeft(1L)((acc, _) => acc * 10))

  /** Leading decimal digit of a positive double via an exact
    * magnitude-threshold cascade: power-of-ten literals are exactly
    * representable doubles, so every comparison and the single
    * divide/multiply are the same IEEE ops on both engines. The
    * `floor(log10 p)` form this replaces is only 1-ulp-accurate away
    * from exact powers of ten — a price at/near a power boundary
    * could bucket differently across libms. */
  private def leadingDigit(p: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
    val whole = (15 to 0 by -1).map { m =>
      val d = lit(BenfordPow10(m).toDouble)
      (p >= d, floor(p / d))
    }
    // sub-1 magnitudes compare the exact product (p·10^m ≥ 1), never
    // an inexact 0.1/0.01 literal
    val frac = (1 to 4).map { m =>
      val d = lit(BenfordPow10(m).toDouble)
      (p * d >= lit(1.0), floor(p * d))
    }
    (whole ++ frac).foldRight(lit(null).cast("double")) {
      case ((c, v), acc) => when(c, v).otherwise(acc)
    }
  }

  /** The DuckDB replay of [[leadingDigit]] — generated from the same
    * power-of-ten longs so the two cascades cannot drift. */
  private[graft] def leadingDigitSql(p: String): String = {
    val whole = (15 to 0 by -1).map { m =>
      val d = s"${BenfordPow10(m)}.0"
      s"WHEN $p >= $d THEN floor($p / $d)"
    }
    val frac = (1 to 4).map { m =>
      val d = s"${BenfordPow10(m)}.0"
      s"WHEN $p * $d >= 1.0 THEN floor($p * $d)"
    }
    (whole ++ frac).mkString("CASE ", " ", " ELSE NULL END")
  }

  /** Benford's-law audit of the price column — the forensic
    * data-quality screen for numeric corpora (natural multi-scale
    * amounts follow P(d) = log10(1+1/d); fabricated or truncated
    * data does not). One map-side digit extraction + a 9-row
    * aggregate; the leading digit derives arithmetically
    * ([[leadingDigit]]'s exact threshold cascade), never from
    * double→string formatting (engines render differently) nor from
    * `log10` (1-ulp libm drift could bucket a boundary price
    * differently). Output: per-digit counts, observed vs expected
    * share, and the digit's χ² contribution — all through the shared
    * rounding discipline. */
  def benfordPrices(s: SparkSession, dir: String): DataFrame = {
    val p = col("l_extendedprice")
    val digit = leadingDigit(p).cast("long")
    val counts = Tables.lineitem(s, dir)
      .filter(p > 0)
      .select(digit.as("digit"))
      .groupBy("digit").agg(count(lit(1)).as("n"))
    val total = counts.agg(sum("n").as("n_total"))
    counts.crossJoin(broadcast(total))
      .withColumn("expected", round(log10(lit(1.0) + lit(1.0) / col("digit")), 8))
      .select(col("digit"), col("n"),
        r4(col("n") / col("n_total")).as("obs_share"),
        r4(col("expected")).as("exp_share"),
        r4((col("n") - col("expected") * col("n_total"))
          * (col("n") - col("expected") * col("n_total"))
          / (col("expected") * col("n_total"))).as("chi2_term"))
      .orderBy("digit")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    "rel_benford_prices" -> (benfordPrices _),
    "rel_excess_stock" -> (excessStock _),
    "rel_profit_by_nation_year" -> (profitByNationYear _),
    "rel_local_supplier_volume" -> (localSupplierVolume _),
    "rel_join_size_est" -> (joinSizeEst _),
    "rel_cbo_join_order" -> (cboJoinOrder _),
    "rel_idle_rich_customers" -> (idleRichCustomers _),
    "rel_stock_concentration" -> (stockConcentration _),
    "rel_part_supplier_counts" -> (partSupplierCounts _),
    "rel_market_basket" -> (marketBasket _),
    "rel_order_sessions" -> (orderSessions _),
    "rel_disjunctive_revenue" -> (disjunctiveRevenue _),
    "rel_trailing_90d_spend" -> (trailing90dSpend _),
    "rel_forecast_revenue" -> (forecastRevenue _),
    "rel_waiting_suppliers" -> (waitingSuppliers _),
    "rel_nation_trade" -> (nationTrade _),
    "rel_order_count_dist" -> (orderCountDist _),
    "rel_small_order_revenue" -> (smallOrderRevenue _),
    "rel_promo_share_monthly" -> (promoShareMonthly _),
    "rel_large_volume_customers" -> (largeVolumeCustomers _),
    "rel_top_supplier" -> (topSupplierByRevenue _),
    "rel_wealthy_inactive" -> (wealthyInactiveCustomers _),
    "rel_returned_item_customers" -> (returnedItemCustomers _),
    "rel_cheapest_supplier_per_part" -> (cheapestSupplierPerPart _),
    "rel_order_backlog" -> (orderBacklog _),
    "rel_shipping_priority" -> (shippingPriority _),
    "rel_nation_market_share" -> (nationMarketShare _),
    "rel_quantity_rank_dist" -> (quantityRankDist _),
    "rel_price_regression" -> (priceRegression _),
    "rel_customer_value_ntile" -> (customerValueQuartiles _),
    "rel_customers_without_orders" -> (customersWithoutOrders _),
    "rel_pricing_summary"     -> (pricingSummary _),
    "rel_revenue_by_region"   -> (revenueByRegion _),
    "rel_top_customers"       -> (topCustomers _),
    "rel_late_orders_by_priority" -> (lateOrdersByPriority _),
    "rel_ship_only_months" -> (shipOnlyMonths _),
    "rel_month_coverage"   -> (monthCoverage _),
    "rel_latest_order_per_customer" -> (latestOrderPerCustomer _),
  )

  val oracleSql: Map[String, String] = Map(
    // faithful nested form: global scalar subquery + NOT EXISTS
    "rel_idle_rich_customers" ->
      s"""SELECT n_name, CAST(count(*) AS BIGINT) AS n_custs,
        |  round(CAST(SUM(CAST(c_acctbal AS DECIMAL(25,8))) AS DOUBLE), 4)
        |    AS total_acctbal
        |FROM customer JOIN nation ON c_nationkey = n_nationkey
        |WHERE c_acctbal > (
        |    SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(25,8))) AS DOUBLE)
        |      / COUNT(c_acctbal)
        |    FROM customer WHERE c_acctbal > 0)
        |  AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
        |    AND o_orderdate >= TIMESTAMP '$IdleSince')
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // grouped HAVING over a scalar-subquery threshold, multiplied
    // through so the comparison stays exact DECIMAL
    "rel_stock_concentration" ->
      """WITH r AS (SELECT l_partkey,
        |    SUM(CAST(l_extendedprice * (1.0 - l_discount)
        |      AS DECIMAL(25,8))) AS rev
        |  FROM lineitem GROUP BY 1),
        |t AS (SELECT SUM(rev) AS total, count(*) AS n_parts FROM r)
        |SELECT l_partkey, round(CAST(rev AS DOUBLE), 4) AS part_value
        |FROM r CROSS JOIN t
        |WHERE CAST(rev AS DECIMAL(25,8)) * CAST(2 * n_parts AS DECIMAL(12,0))
        |  > CAST(total AS DECIMAL(30,8)) * CAST(3 AS DECIMAL(3,0))
        |ORDER BY part_value DESC, l_partkey ASC""".stripMargin,

    // the flat Q16 form: NOT IN restated as the same deterministic
    // audit predicate, grouped count(DISTINCT)
    "rel_part_supplier_counts" ->
      s"""SELECT p_brand, p_type, p_size,
         |  CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
         |FROM lineitem
         |JOIN part ON p_partkey = l_partkey
         |WHERE p_brand <> '$PsExclBrand'
         |  AND p_type NOT LIKE 'PROMO%'
         |  AND p_size IN (${PsSizes.mkString(", ")})
         |  AND l_suppkey NOT IN (
         |    SELECT s_suppkey FROM supplier WHERE s_suppkey % 4 = 0)
         |GROUP BY 1, 2, 3
         |ORDER BY supplier_cnt DESC, p_brand ASC, p_type ASC, p_size ASC""".stripMargin,

    // identical keyed-md5 sketches, integer inner product, integer
    // bound: both engines compute the same estimate and booleans
    "rel_join_size_est" ->
      s"""WITH la AS (SELECT l_orderkey AS k FROM lineitem),
         |ob AS (SELECT o_orderkey AS k FROM orders),
         |sa AS (SELECT d, (CAST(concat('0x', substr(md5('jcms:' || k),
         |      1, 15)) AS BIGINT) >> (9 * d)) % $JcmsW AS b, count(*) AS ca
         |  FROM la CROSS JOIN range(0, $JcmsD) dd(d) GROUP BY 1, 2),
         |sb AS (SELECT d, (CAST(concat('0x', substr(md5('jcms:' || k),
         |      1, 15)) AS BIGINT) >> (9 * d)) % $JcmsW AS b, count(*) AS cb
         |  FROM ob CROSS JOIN range(0, $JcmsD) dd(d) GROUP BY 1, 2),
         |ipd AS (SELECT sa.d, sum(ca * cb) AS ip FROM sa JOIN sb USING (d, b)
         |  GROUP BY 1),
         |est AS (SELECT CAST(min(ip) AS BIGINT) AS est_join_rows FROM ipd),
         |ex AS (SELECT count(*) AS exact_join_rows FROM la JOIN ob USING (k)),
         |n AS (SELECT (SELECT count(*) FROM la) AS n_left,
         |    (SELECT count(*) FROM ob) AS n_right)
         |SELECT CAST(n_left AS BIGINT) AS n_left,
         |  CAST(n_right AS BIGINT) AS n_right,
         |  CAST(exact_join_rows AS BIGINT) AS exact_join_rows,
         |  est_join_rows,
         |  (exact_join_rows <= est_join_rows AND
         |   CAST(est_join_rows - exact_join_rows AS DECIMAL(20,0))
         |     * CAST($JcmsW AS DECIMAL(4,0))
         |   <= CAST(3 AS DECIMAL(1,0)) * CAST(n_left AS DECIMAL(18,0))
         |     * CAST(n_right AS DECIMAL(18,0)))
         |    AS within_bound,
         |  (SELECT count(*) FROM la) > $JoinEstGateRows AS cert_sampled
         |FROM n, est, ex""".stripMargin,

    // the oracle replays BOTH md5-seeded CMS estimates plus the three
    // side counts (the sketches' depth-0 row totals are exactly
    // count(*)), states the identical order AND build-side choices,
    // and computes the order-invariant aggregate flat — an engine
    // mis-choice flips a stated column
    "rel_cbo_join_order" ->
      s"""WITH lo AS (SELECT l_orderkey AS k FROM lineitem),
         |ofk AS (SELECT o_orderkey AS k FROM orders
         |  WHERE o_orderpriority = '$CboPriority'),
         |lp AS (SELECT l_partkey AS k FROM lineitem),
         |pfk AS (SELECT p_partkey AS k FROM part WHERE p_size <= $CboMaxSize),
         |sa1 AS (SELECT d, (CAST(concat('0x', substr(md5('jcms:' || k),
         |      1, 15)) AS BIGINT) >> (9 * d)) % $JcmsW AS b, count(*) AS ca
         |  FROM lo CROSS JOIN range(0, $JcmsD) dd(d) GROUP BY 1, 2),
         |sb1 AS (SELECT d, (CAST(concat('0x', substr(md5('jcms:' || k),
         |      1, 15)) AS BIGINT) >> (9 * d)) % $JcmsW AS b, count(*) AS cb
         |  FROM ofk CROSS JOIN range(0, $JcmsD) dd(d) GROUP BY 1, 2),
         |e1 AS (SELECT CAST(coalesce(min(ip), 0) AS BIGINT) AS est_orders_rows
         |  FROM (SELECT sa1.d, sum(ca * cb) AS ip FROM sa1 JOIN sb1 USING (d, b)
         |        GROUP BY 1)),
         |sa2 AS (SELECT d, (CAST(concat('0x', substr(md5('jcms:' || k),
         |      1, 15)) AS BIGINT) >> (9 * d)) % $JcmsW AS b, count(*) AS ca
         |  FROM lp CROSS JOIN range(0, $JcmsD) dd(d) GROUP BY 1, 2),
         |sb2 AS (SELECT d, (CAST(concat('0x', substr(md5('jcms:' || k),
         |      1, 15)) AS BIGINT) >> (9 * d)) % $JcmsW AS b, count(*) AS cb
         |  FROM pfk CROSS JOIN range(0, $JcmsD) dd(d) GROUP BY 1, 2),
         |e2 AS (SELECT CAST(coalesce(min(ip), 0) AS BIGINT) AS est_part_rows
         |  FROM (SELECT sa2.d, sum(ca * cb) AS ip FROM sa2 JOIN sb2 USING (d, b)
         |        GROUP BY 1)),
         |agg AS (SELECT CAST(count(*) AS BIGINT) AS n_rows,
         |    round(${dsumSql("l_extendedprice * (1 - l_discount)")}, 4)
         |      AS revenue
         |  FROM lineitem
         |    JOIN orders ON l_orderkey = o_orderkey
         |    JOIN part ON l_partkey = p_partkey
         |  WHERE o_orderpriority = '$CboPriority' AND p_size <= $CboMaxSize),
         |ns AS (SELECT (SELECT count(*) FROM lineitem) AS n_li,
         |    (SELECT count(*) FROM ofk) AS n_o,
         |    (SELECT count(*) FROM pfk) AS n_p)
         |SELECT est_orders_rows, est_part_rows,
         |  CASE WHEN est_orders_rows <= est_part_rows THEN 'orders'
         |       ELSE 'part' END AS first_join,
         |  CASE WHEN est_orders_rows <= est_part_rows
         |       THEN CASE WHEN n_o <= n_li THEN 'orders' ELSE 'lineitem' END
         |       ELSE CASE WHEN n_p <= n_li THEN 'part' ELSE 'lineitem' END
         |  END AS build_first,
         |  CASE WHEN est_orders_rows <= est_part_rows
         |       THEN CASE WHEN n_p <= est_orders_rows THEN 'part'
         |            ELSE 'mid' END
         |       ELSE CASE WHEN n_o <= est_part_rows THEN 'orders'
         |            ELSE 'mid' END
         |  END AS build_second,
         |  CAST(GREATEST(1, (48 * (CASE WHEN est_orders_rows <= est_part_rows
         |      THEN CASE WHEN n_o <= n_li THEN n_o ELSE n_li END
         |      ELSE CASE WHEN n_p <= n_li THEN n_p ELSE n_li END END)
         |    + 33554431) // 33554432) AS INTEGER) AS parts_first,
         |  CAST(GREATEST(1, (48 * (CASE WHEN est_orders_rows <= est_part_rows
         |      THEN CASE WHEN n_p <= est_orders_rows THEN n_p
         |           ELSE est_orders_rows END
         |      ELSE CASE WHEN n_o <= est_part_rows THEN n_o
         |           ELSE est_part_rows END END)
         |    + 33554431) // 33554432) AS INTEGER) AS parts_second,
         |  n_rows, revenue
         |FROM e1, e2, agg, ns""".stripMargin,

    // the oracle keeps Q5's flat form with the same-nation equality
    // in the WHERE clause; the engine runs the join-graph placement
    "rel_local_supplier_volume" ->
      s"""SELECT n_name,
         |  round(${dsumSql("l_extendedprice * (1 - l_discount)")}, 4)
         |    AS revenue,
         |  CAST(count(*) AS BIGINT) AS n_items
         |FROM customer
         |  JOIN orders ON c_custkey = o_custkey
         |  JOIN lineitem ON l_orderkey = o_orderkey
         |  JOIN supplier ON l_suppkey = s_suppkey
         |  JOIN nation ON s_nationkey = n_nationkey
         |  JOIN region ON n_regionkey = r_regionkey
         |WHERE c_nationkey = s_nationkey
         |  AND r_name = '$LocalRegion'
         |  AND o_orderdate >= TIMESTAMP '$LocalYearLo'
         |  AND o_orderdate < TIMESTAMP '$LocalYearHi'
         |GROUP BY 1 ORDER BY revenue DESC, n_name ASC""".stripMargin,

    // the oracle keeps Q9's flat join form; the supply-cost ledger is
    // the same integer arithmetic both engines replay exactly
    "rel_profit_by_nation_year" ->
      s"""SELECT n_name, CAST(year(o_orderdate) AS BIGINT) AS o_year,
         |  round(${dsumSql("l_extendedprice * (1 - l_discount) - " +
           "((100 + (l_partkey * 13 + l_suppkey * 7) % 900) / 100.0) " +
           "* l_quantity")}, 4) AS sum_profit
         |FROM lineitem
         |  JOIN part ON l_partkey = p_partkey
         |  JOIN supplier ON l_suppkey = s_suppkey
         |  JOIN nation ON s_nationkey = n_nationkey
         |  JOIN orders ON l_orderkey = o_orderkey
         |WHERE p_name LIKE '$ProfitPattern'
         |GROUP BY 1, 2 ORDER BY n_name ASC, o_year DESC""".stripMargin,

    // the oracle keeps Q20's nested IN-subquery + correlated scalar
    // form over the same deterministic ledger, proving the
    // decorrelated rewrite
    "rel_excess_stock" ->
      s"""WITH pk AS (SELECT p_partkey FROM part WHERE p_name LIKE '$StockPattern'),
         |cat AS (SELECT DISTINCT l_partkey, l_suppkey FROM lineitem
         |  WHERE l_partkey IN (SELECT p_partkey FROM pk)),
         |ledger AS (SELECT l_partkey, l_suppkey,
         |    50 + (l_partkey * 31 + l_suppkey * 17) % 200 AS availqty
         |  FROM cat),
         |q AS (SELECT DISTINCT l_suppkey FROM ledger g
         |  WHERE 2 * availqty > (
         |    SELECT SUM(CAST(l_quantity AS DECIMAL(25,8))) FROM lineitem l
         |    WHERE l.l_partkey = g.l_partkey AND l.l_suppkey = g.l_suppkey
         |      AND l.l_shipdate >= TIMESTAMP '$StockYearLo'
         |      AND l.l_shipdate < TIMESTAMP '$StockYearHi'))
         |SELECT s_name, round(s_acctbal, 4) AS s_acctbal
         |FROM supplier JOIN nation ON s_nationkey = n_nationkey
         |WHERE n_name = '$StockNation'
         |  AND s_suppkey IN (SELECT l_suppkey FROM q)
         |ORDER BY s_name""".stripMargin,

    // leading digit derives arithmetically (no double->string render);
    // the 9 expected shares round to 8 dp before the chi2 arithmetic
    "rel_benford_prices" ->
      s"""WITH d AS (SELECT CAST(${leadingDigitSql("l_extendedprice")}
        |      AS BIGINT) AS digit
        |  FROM lineitem WHERE l_extendedprice > 0),
        |c AS (SELECT digit, count(*) AS n FROM d GROUP BY 1),
        |t AS (SELECT CAST(sum(n) AS BIGINT) AS n_total FROM c),
        |e AS (SELECT digit, n, n_total,
        |    round(log10(1.0 + 1.0 / digit), 8) AS expected
        |  FROM c CROSS JOIN t)
        |SELECT digit, n, round(n / n_total, 4) AS obs_share,
        |  round(expected, 4) AS exp_share,
        |  round((n - expected * n_total) * (n - expected * n_total)
        |    / (expected * n_total), 4) AS chi2_term
        |FROM e ORDER BY digit""".stripMargin,

    "rel_market_basket" ->
      s"""WITH op AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
         |  FROM lineitem),
         |n AS (SELECT count(DISTINCT o) AS n_orders FROM op),
         |pp AS (SELECT p, count(*) AS n_p FROM op GROUP BY 1),
         |pr AS (SELECT a.p AS pa, b.p AS pb, count(*) AS n_ab
         |  FROM op a JOIN op b ON a.o = b.o AND a.p < b.p
         |  GROUP BY 1, 2 HAVING count(*) >= $BasketMinSupport)
         |SELECT pa, pb, n_ab, x.n_p AS n_a, y.n_p AS n_b,
         |  round((n_ab * n_orders) / (x.n_p * y.n_p), 6) AS lift
         |FROM pr JOIN pp x ON x.p = pa JOIN pp y ON y.p = pb CROSS JOIN n
         |ORDER BY lift DESC, pa ASC, pb ASC LIMIT $BasketTopK""".stripMargin,

    // gaps-and-islands: identical break flag + running-sum session ids
    "rel_order_sessions" ->
      s"""WITH o AS (SELECT o_custkey, o_orderkey,
         |    CAST(o_orderdate AS DATE) AS d, o_totalprice FROM orders),
         |f AS (SELECT *, CASE WHEN d - lag(d) OVER w > $SessionGapDays
         |    THEN 1 ELSE 0 END AS brk
         |  FROM o WINDOW w AS (PARTITION BY o_custkey ORDER BY d, o_orderkey)),
         |sess AS (SELECT *, sum(brk) OVER (PARTITION BY o_custkey
         |    ORDER BY d, o_orderkey
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) + 1 AS session_id
         |  FROM f)
         |SELECT o_custkey, CAST(session_id AS BIGINT) AS session_id,
         |  count(*) AS n_orders, min(d) AS first_order, max(d) AS last_order,
         |  CAST(max(d) - min(d) AS BIGINT) AS span_days,
         |  round(${dsumSql("o_totalprice")}, 4) AS session_spend
         |FROM sess GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "rel_disjunctive_revenue" ->
      s"""SELECT round(${dsumSql("l_extendedprice * (1 - l_discount)")}, 4)
         |    AS revenue,
         |  count(*) AS n_lines
         |FROM lineitem JOIN part ON l_partkey = p_partkey
         |WHERE (p_brand = 'Brand#11' AND p_size BETWEEN 1 AND 5
         |    AND l_quantity BETWEEN 1 AND 11)
         |  OR (p_brand = 'Brand#22' AND p_size BETWEEN 1 AND 10
         |    AND l_quantity BETWEEN 10 AND 20)
         |  OR (p_brand = 'Brand#33' AND p_size BETWEEN 1 AND 15
         |    AND l_quantity BETWEEN 20 AND 30)""".stripMargin,

    // the interval RANGE frame stated natively; day-grain peers are
    // identical rows, so positional compare is tie-stable
    "rel_trailing_90d_spend" ->
      """SELECT o_custkey, o_orderdate,
        |  round(CAST(sum(CAST(o_totalprice AS DECIMAL(25,8))) OVER (
        |    PARTITION BY o_custkey ORDER BY o_orderdate
        |    RANGE BETWEEN INTERVAL 89 DAY PRECEDING AND CURRENT ROW)
        |    AS DOUBLE), 4) AS spend_90d
        |FROM orders ORDER BY o_custkey, o_orderdate""".stripMargin,

    "rel_forecast_revenue" ->
      s"""SELECT round(${dsumSql("l_extendedprice * l_discount")}, 4) AS revenue
         |FROM lineitem
         |WHERE l_shipdate >= TIMESTAMP '$Q6Year-01-01 00:00:00'
         |  AND l_shipdate < TIMESTAMP '${Q6Year + 1}-01-01 00:00:00'
         |  AND l_discount BETWEEN 0.05 AND 0.07
         |  AND l_quantity < $Q6MaxQty""".stripMargin,

    // the correlated EXISTS / NOT EXISTS pair over the identical
    // per-(order, supplier) pre-reduction — what the window counts
    // decorrelate
    "rel_waiting_suppliers" ->
      s"""WITH ls AS (SELECT l_orderkey, l_suppkey,
         |    max(CASE WHEN l_shipdate > o_orderdate + INTERVAL $WaitLagDays DAY
         |      THEN 1 ELSE 0 END) AS late
         |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |  WHERE o_orderstatus = 'F' GROUP BY 1, 2)
         |SELECT s_name, n_name, count(*) AS numwait
         |FROM ls l1
         |  JOIN supplier ON s_suppkey = l1.l_suppkey
         |  JOIN nation ON s_nationkey = n_nationkey
         |WHERE l1.late = 1
         |  AND EXISTS (SELECT 1 FROM ls l2
         |    WHERE l2.l_orderkey = l1.l_orderkey
         |      AND l2.l_suppkey <> l1.l_suppkey)
         |  AND NOT EXISTS (SELECT 1 FROM ls l3
         |    WHERE l3.l_orderkey = l1.l_orderkey
         |      AND l3.l_suppkey <> l1.l_suppkey AND l3.late = 1)
         |GROUP BY 1, 2
         |ORDER BY numwait DESC, s_name LIMIT 20""".stripMargin,

    "rel_nation_trade" ->
      s"""SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         |  year(l_shipdate) AS ship_year,
         |  round(${dsumSql("l_extendedprice * (1 - l_discount)")}, 4) AS revenue
         |FROM lineitem
         |  JOIN supplier ON l_suppkey = s_suppkey
         |  JOIN nation n1 ON s_nationkey = n1.n_nationkey
         |  JOIN orders ON l_orderkey = o_orderkey
         |  JOIN customer ON o_custkey = c_custkey
         |  JOIN nation n2 ON c_nationkey = n2.n_nationkey
         |WHERE n1.n_name <> n2.n_name
         |GROUP BY 1, 2, 3 ORDER BY 1, 2, 3""".stripMargin,

    // the classic ON-clause-filtered left outer join form; the engine
    // runs the pre-reduced-counts rewrite of the same semantics
    "rel_order_count_dist" ->
      """WITH co AS (SELECT c_custkey, count(o_orderkey) AS c_count
        |  FROM customer LEFT JOIN orders
        |    ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
        |  GROUP BY 1)
        |SELECT c_count, count(*) AS custdist
        |FROM co GROUP BY 1
        |ORDER BY custdist DESC, c_count DESC""".stripMargin,
    // the correlated form decorrelates to the identical grouped
    // average; sums ride the shared exact-decimal path
    "rel_small_order_revenue" ->
      s"""WITH pk AS (SELECT p_partkey FROM part
         |  WHERE p_brand = '$SmallQtyBrand' AND p_type = '$SmallQtyType'),
         |sl AS (SELECT l_partkey, l_quantity, l_extendedprice
         |  FROM lineitem JOIN pk ON l_partkey = p_partkey),
         |aq AS (SELECT l_partkey AS ak, ${davgSql("l_quantity")} AS aq
         |  FROM sl GROUP BY 1)
         |SELECT round(${dsumSql("l_extendedprice")} / 7.0, 4) AS avg_yearly
         |FROM sl JOIN aq ON l_partkey = ak
         |WHERE l_quantity < 0.2 * aq""".stripMargin,
    "rel_promo_share_monthly" ->
      s"""SELECT CAST(date_trunc('month', l_shipdate) AS DATE) AS m,
         |  round(100 * CAST(${dsumExactSql(
                "CASE WHEN p_type = 'PROMO' THEN l_extendedprice * (1 - l_discount) ELSE 0 END")}
         |      AS DOUBLE) /
         |    CAST(${dsumExactSql("l_extendedprice * (1 - l_discount)")}
         |      AS DOUBLE), 4) AS promo_share,
         |  round(CAST(${dsumExactSql("l_extendedprice * (1 - l_discount)")}
         |    AS DOUBLE), 4) AS total_revenue
         |FROM lineitem JOIN part ON l_partkey = p_partkey
         |GROUP BY 1 ORDER BY 1""".stripMargin,

    "rel_large_volume_customers" ->
      s"""WITH q AS (SELECT l_orderkey, ${dsumExactSql("l_quantity")} AS oq
         |  FROM lineitem GROUP BY 1)
         |SELECT c_custkey, c_name, o_orderkey, o_orderdate, o_totalprice,
         |  round(CAST(oq AS DOUBLE), 4) AS total_qty
         |FROM q JOIN orders ON l_orderkey = o_orderkey
         |  JOIN customer ON o_custkey = c_custkey
         |WHERE oq > $VolumeThreshold
         |ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 20""".stripMargin,

    "rel_top_supplier" ->
      s"""WITH r AS (SELECT l_suppkey,
         |    ${dsumExactSql("l_extendedprice * (1 - l_discount)")} AS total_rev
         |  FROM lineitem
         |  WHERE l_shipdate >= TIMESTAMP '$TopSupplierFrom 00:00:00'
         |    AND l_shipdate < TIMESTAMP '$TopSupplierTo 00:00:00'
         |  GROUP BY 1)
         |SELECT s_suppkey, s_name, round(CAST(total_rev AS DOUBLE), 4) AS revenue
         |FROM r JOIN supplier ON l_suppkey = s_suppkey
         |WHERE total_rev = (SELECT max(total_rev) FROM r)
         |ORDER BY s_suppkey""".stripMargin,

    "rel_wealthy_inactive" ->
      s"""SELECT c_mktsegment, count(*) AS n_customers,
         |  round(${dsumSql("c_acctbal")}, 4) AS total_bal
         |FROM customer c
         |WHERE c_acctbal > (SELECT ${davgSql("c_acctbal")}
         |    FROM customer WHERE c_acctbal > 0)
         |  AND NOT EXISTS (SELECT 1 FROM orders o
         |    WHERE o.o_custkey = c.c_custkey
         |      AND o.o_orderdate >= TIMESTAMP '$ChurnCutoff 00:00:00')
         |GROUP BY 1 ORDER BY 1""".stripMargin,

    "rel_returned_item_customers" ->
      s"""WITH ro AS (SELECT l_orderkey,
         |    ${dsumExactSql("l_extendedprice * (1 - l_discount)")} AS rev
         |  FROM lineitem WHERE l_returnflag = 'R' GROUP BY 1),
         |rc AS (SELECT o_custkey, sum(rev) AS rev
         |  FROM ro JOIN orders ON l_orderkey = o_orderkey GROUP BY 1)
         |SELECT c_custkey, c_name, n_name, round(CAST(rev AS DOUBLE), 4) AS revenue
         |FROM rc JOIN customer ON o_custkey = c_custkey
         |  JOIN nation ON c_nationkey = n_nationkey
         |ORDER BY revenue DESC, c_custkey ASC LIMIT 20""".stripMargin,

    "rel_cheapest_supplier_per_part" ->
      """WITH mp AS (SELECT l_partkey, min(l_extendedprice) AS min_price
        |  FROM lineitem GROUP BY 1)
        |SELECT l.l_partkey, mp.min_price,
        |  CAST(min(l_suppkey) AS BIGINT) AS suppkey
        |FROM lineitem l JOIN mp ON l.l_partkey = mp.l_partkey
        |  AND l.l_extendedprice = mp.min_price
        |GROUP BY 1, 2 ORDER BY 1""".stripMargin,

    "rel_order_backlog" ->
      """WITH placed AS (SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS m,
        |    count(*) AS placed FROM orders GROUP BY 1),
        |per_order AS (SELECT l_orderkey, max(l_shipdate) AS done_ts
        |  FROM lineitem GROUP BY 1),
        |done AS (SELECT CAST(date_trunc('month', done_ts) AS DATE) AS m,
        |    count(*) AS completed FROM per_order GROUP BY 1),
        |j AS (SELECT coalesce(placed.m, done.m) AS m,
        |    coalesce(placed, 0) AS placed, coalesce(completed, 0) AS completed
        |  FROM placed FULL JOIN done ON placed.m = done.m)
        |SELECT m, placed, completed,
        |  CAST(sum(placed - completed) OVER (ORDER BY m
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |    AS backlog
        |FROM j ORDER BY m""".stripMargin,

    "rel_shipping_priority" ->
      s"""SELECT l_orderkey,
         |  round(CAST(${dsumExactSql("l_extendedprice * (1 - l_discount)")}
         |    AS DOUBLE), 4) AS revenue,
         |  o_orderdate
         |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |WHERE o_orderdate < TIMESTAMP '$ShipCutoff 00:00:00'
         |  AND l_shipdate > TIMESTAMP '$ShipCutoff 00:00:00'
         |  AND EXISTS (SELECT 1 FROM customer
         |    WHERE c_custkey = o_custkey AND c_mktsegment = 'BUILDING')
         |GROUP BY l_orderkey, o_orderdate
         |ORDER BY revenue DESC, l_orderkey ASC LIMIT 10""".stripMargin,

    "rel_nation_market_share" ->
      s"""WITH agg AS (
         |  SELECT CAST(year(l_shipdate) AS BIGINT) AS yr, n_name,
         |    ${dsumExactSql("l_extendedprice * (1 - l_discount)")} AS rev
         |  FROM lineitem
         |  JOIN supplier ON l_suppkey = s_suppkey
         |  JOIN nation ON s_nationkey = n_nationkey
         |  GROUP BY 1, 2)
         |SELECT yr, n_name, round(CAST(rev AS DOUBLE), 4) AS revenue,
         |  round(CAST(rev AS DOUBLE) /
         |    CAST(sum(rev) OVER (PARTITION BY yr) AS DOUBLE), 4) AS share
         |FROM agg ORDER BY yr, n_name""".stripMargin,

    "rel_quantity_rank_dist" ->
      """WITH q AS (SELECT l_returnflag, l_quantity, count(*) AS n
        |  FROM lineitem GROUP BY 1, 2)
        |SELECT l_returnflag, l_quantity, n,
        |  round(percent_rank() OVER w, 4) AS pct_rank,
        |  round(cume_dist() OVER w, 4) AS cume_dist
        |FROM q WINDOW w AS (PARTITION BY l_returnflag ORDER BY l_quantity)
        |ORDER BY l_returnflag, l_quantity""".stripMargin,

    // exact decimal moment sums; corr/slope/intercept re-derived in
    // double through the IDENTICAL expression tree as the Spark side
    "rel_price_regression" ->
      s"""WITH m AS (SELECT l_returnflag, count(*) AS n,
         |    ${dsumExactSql("l_quantity")} AS sx,
         |    ${dsumExactSql("l_extendedprice")} AS sy,
         |    ${dsumExactSql("l_quantity * l_quantity")} AS sxx,
         |    ${dsumExactSql("l_extendedprice * l_extendedprice")} AS syy,
         |    ${dsumExactSql("l_quantity * l_extendedprice")} AS sxy
         |  FROM lineitem GROUP BY 1),
         |d AS (SELECT l_returnflag, n,
         |    CAST(n AS DOUBLE) AS nd, CAST(sx AS DOUBLE) AS sxd,
         |    CAST(sy AS DOUBLE) AS syd, CAST(sxx AS DOUBLE) AS sxxd,
         |    CAST(syy AS DOUBLE) AS syyd, CAST(sxy AS DOUBLE) AS sxyd
         |  FROM m)
         |SELECT l_returnflag, n,
         |  round((nd * sxyd - sxd * syd) /
         |    sqrt((nd * sxxd - sxd * sxd) * (nd * syyd - syd * syd)), 4) AS corr,
         |  round((nd * sxyd - sxd * syd) / (nd * sxxd - sxd * sxd), 4) AS slope,
         |  round((syd - (nd * sxyd - sxd * syd) / (nd * sxxd - sxd * sxd) * sxd)
         |    / nd, 4) AS intercept
         |FROM d ORDER BY l_returnflag""".stripMargin,

    "rel_customer_value_ntile" ->
      s"""WITH rev AS (SELECT c_custkey, c_mktsegment,
         |    ${graft.functions.Num.dsumExactSql("o_totalprice")} AS revenue
         |  FROM orders JOIN customer ON o_custkey = c_custkey GROUP BY 1, 2),
         |q AS (SELECT c_mktsegment, revenue,
         |    ntile(4) OVER (PARTITION BY c_mktsegment
         |      ORDER BY revenue DESC, c_custkey ASC) AS quartile
         |  FROM rev)
         |SELECT c_mktsegment, quartile, count(*) AS n_customers,
         |  round(CAST(sum(revenue) AS DOUBLE), 4) AS segment_revenue
         |FROM q GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "rel_customers_without_orders" ->
      s"""SELECT c_mktsegment, count(*) AS n_customers
        |FROM customer c
        |WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey
        |  AND o.o_orderdate >= TIMESTAMP '$ChurnCutoff 00:00:00')
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    "rel_pricing_summary" ->
      s"""SELECT l_returnflag, l_linestatus,
         |  round(${dsumSql("l_quantity")}, 4) AS sum_qty,
         |  round(${dsumSql("l_extendedprice")}, 4) AS sum_base_price,
         |  round(${dsumSql("l_extendedprice * (1 - l_discount)")}, 4) AS sum_disc_price,
         |  round(${dsumSql("l_extendedprice * (1 - l_discount) * (1 + l_tax)")}, 4) AS sum_charge,
         |  round(${davgSql("l_quantity")}, 4) AS avg_qty,
         |  round(${davgSql("l_extendedprice")}, 4) AS avg_price,
         |  round(${davgSql("l_discount")}, 4) AS avg_disc,
         |  count(*) AS count_order
         |FROM lineitem
         |WHERE l_shipdate <= TIMESTAMP '2001-09-02 00:00:00'
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "rel_revenue_by_region" ->
      s"""SELECT r_name,
         |  round(${dsumSql("l_extendedprice * (1 - l_discount)")}, 4) AS revenue,
         |  count(*) AS n_items
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN customer ON o_custkey = c_custkey
         |JOIN nation ON c_nationkey = n_nationkey
         |JOIN region ON n_regionkey = r_regionkey
         |GROUP BY 1 ORDER BY 1""".stripMargin,

    "rel_top_customers" ->
      s"""WITH ro AS (
         |  SELECT l_orderkey, ${dsumExactSql("l_extendedprice * (1 - l_discount)")} AS rev
         |  FROM lineitem GROUP BY 1),
         |rc AS (
         |  SELECT o_custkey, round(CAST(sum(rev) AS DOUBLE), 4) AS revenue, count(*) AS n_orders
         |  FROM ro JOIN orders ON l_orderkey = o_orderkey GROUP BY 1)
         |SELECT c_custkey, c_name, revenue, n_orders
         |FROM rc JOIN customer ON o_custkey = c_custkey
         |ORDER BY revenue DESC, c_custkey ASC LIMIT 10""".stripMargin,

    "rel_late_orders_by_priority" ->
      s"""SELECT o_orderpriority, count(*) AS n_orders
         |FROM orders
         |WHERE EXISTS (SELECT 1 FROM lineitem
         |  WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
         |GROUP BY 1 ORDER BY 1""".stripMargin,

    "rel_ship_only_months" ->
      s"""SELECT CAST(date_trunc('month', l_shipdate) AS DATE) AS m FROM lineitem
         |EXCEPT
         |SELECT CAST(date_trunc('month', o_orderdate) AS DATE) FROM orders
         |ORDER BY m""".stripMargin,

    "rel_month_coverage" ->
      s"""WITH shipm AS (SELECT CAST(date_trunc('month', l_shipdate) AS DATE) AS m FROM lineitem),
         |orderm AS (SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS m FROM orders),
         |mboth AS (SELECT m, 'both' AS coverage FROM (SELECT m FROM shipm INTERSECT SELECT m FROM orderm)),
         |shiponly AS (SELECT m, 'ship_only' AS coverage FROM (SELECT m FROM shipm EXCEPT SELECT m FROM orderm))
         |SELECT * FROM mboth UNION ALL SELECT * FROM shiponly ORDER BY m""".stripMargin,

    "rel_latest_order_per_customer" ->
      s"""SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice
         |FROM (SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice,
         |  row_number() OVER (PARTITION BY o_custkey
         |    ORDER BY o_orderdate DESC, o_orderkey DESC) AS rn
         |  FROM orders)
         |WHERE rn = 1 ORDER BY o_custkey""".stripMargin,
  )
}
