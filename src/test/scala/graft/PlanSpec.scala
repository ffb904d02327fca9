package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

/** Physical-plan regression guards: the scale properties the engine
  * promises (pushdown, pruning, broadcast shapes, top-k without full
  * sort) asserted on the optimized plans — a plan that silently loses
  * one of these still passes correctness but dies at 100 TB. */
class PlanSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  private def executed(df: DataFrame) = {
    df.queryExecution.executedPlan
  }

  test("pricing summary: shipdate filter is pushed to the parquet scan") {
    val plan = executed(operators.Relational.pricingSummary(spark, sf0001))
    val s = plan.toString
    assert(s.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"),
      s"filter not pushed:\n$s")
  }

  test("monthly series: scan reads only l_shipdate (column pruning)") {
    val plan = executed(operators.Payroll.sliceYearlyAvg(spark, sf0001))
    val s = plan.toString
    assert(s.contains("ReadSchema: struct<l_shipdate:timestamp"), s)
    assert(!s.contains("l_extendedprice"), "pruning lost: reads extra columns")
  }

  test("revenue by region: every join is a broadcast hash join") {
    val df = operators.Relational.revenueByRegion(spark, sf0001)
    df.collect() // let AQE finalize
    val s = df.queryExecution.executedPlan.toString
    assert(!s.contains("SortMergeJoin"),
      s"dimension join degraded to sort-merge:\n$s")
    assert(s.contains("BroadcastHashJoin"), s)
  }

  test("top-k queries plan as TakeOrderedAndProject (no global sort)") {
    val s = executed(operators.Relational.topCustomers(spark, sf0001)).toString
    assert(s.contains("TakeOrderedAndProject"), s)
    val sp = executed(operators.Relational.shippingPriority(spark, sf0001)).toString
    assert(sp.contains("TakeOrderedAndProject"),
      s"shipping priority lost its top-k shape:\n$sp")
    // both date filters must reach the parquet scans
    assert(sp.contains("PushedFilters: [IsNotNull(o_orderdate), LessThan(o_orderdate"),
      s"order-date filter not pushed:\n$sp")
    assert(sp.contains("PushedFilters: [IsNotNull(l_shipdate), GreaterThan(l_shipdate"),
      s"ship-date filter not pushed:\n$sp")
  }

  test("recovery: drops side broadcasts into the range joins") {
    val s = executed(operators.Payroll.recovery(spark, sf0001)).toString
    assert(s.contains("BroadcastNestedLoopJoin"),
      s"range join lost its broadcast:\n$s")
  }

  test("embedding near-dups: candidates via equi-join, never an all-pairs scan") {
    import org.apache.spark.sql.execution.LocalTableScanExec
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
    val plan = executed(ext.Similarity.buildNearDupPairs(spark, sf0001))
    val s = plan.toString
    assert(!s.contains("CartesianProduct"),
      s"near-dup pair generation degraded to an all-pairs join:\n$s")
    // the only broadcast allowed is the n×k centroid scoring — its
    // build side must be the driver-built model (a LocalTableScan),
    // never a corpus-derived scan
    val bx = collectWithSubqueries(plan) { case b: BroadcastExchangeExec => b }
    bx.foreach { b =>
      assert(b.collectLeaves().forall(_.isInstanceOf[LocalTableScanExec]),
        s"near-dup pairs broadcast a corpus-derived side:\n$plan")
    }
  }

  test("image dedup: banded Hamming join is shuffle-hash, never a broadcast") {
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
    import org.apache.spark.sql.execution.joins.ShuffledHashJoinExec
    // the band join's both sides are the (corpus-sized) hash table —
    // a BroadcastExchange here is a driver OOM at 100 TB. Assert on
    // the uncached builder (the declared query memoizes it — S5).
    val plan = executed(ext.Multimodal.buildImagePairs(spark, sf0001))
    val bx = collectWithSubqueries(plan) { case b: BroadcastExchangeExec => b }
    assert(bx.isEmpty, s"image band join broadcasts a corpus-derived side:\n$plan")
    val shj = collectWithSubqueries(plan) { case j: ShuffledHashJoinExec => j }
    assert(shj.nonEmpty, s"image band join lost its shuffle-hash shape:\n$plan")
  }

  test("cbo join order + build side: the sketch estimates flip both plan knobs") {
    import org.apache.spark.sql.execution.joins.ShuffledHashJoinExec
    import org.apache.spark.sql.functions.col
    val li = Tables.lineitem(spark, sf0001)
    val oF = Tables.orders(spark, sf0001)
      .filter(col("o_orderpriority") === "1-URGENT")
    val pF = Tables.part(spark, sf0001).filter(col("p_size") <= 10)
    // pre-order collect: head is the SECOND join executed (top of the
    // tree), last the first
    def joins(df: org.apache.spark.sql.DataFrame): Seq[ShuffledHashJoinExec] = {
      val shj = collectWithSubqueries(executed(df)) {
        case j: ShuffledHashJoinExec => j }
      assert(shj.size == 2, s"expected 2 shuffle-hash joins, got ${shj.size}")
      shj
    }
    def q(estO: Long, estP: Long, nLi: Long, nO: Long, nP: Long) =
      operators.Relational.cboJoinOrderOf(li, oF, pF, estO, estP, nLi, nO, nP)
    // estimates say orders first → part join sits on top; and vice
    // versa — the ORDER flips with the sketch
    val dimBuilds = q(10L, 20L, 1000L, 10L, 10L)
    assert(joins(dimBuilds).head.leftKeys.map(_.sql).mkString(",")
      .contains("l_partkey"), "orders-first plan must top out at the part join")
    assert(joins(q(20L, 10L, 1000L, 10L, 10L)).head
      .leftKeys.map(_.sql).mkString(",")
      .contains("l_orderkey"), "part-first plan must top out at the orders join")
    // BUILD side: dims are always the RIGHT side of each join, so
    // small dim estimates build right; a fact side priced below the
    // dims builds left — the knob flips with the same sketch state
    assert(joins(dimBuilds).forall(_.buildSide.toString == "BuildRight"),
      "small-dim estimates must build the dimension (right) side")
    val factBuilds = q(10L, 20L, 1L, 1000L, 1000L)
    assert(joins(factBuilds).forall(_.buildSide.toString == "BuildLeft"),
      "fact-priced-below-dims estimates must build the fact (left) side")
    // THIRD knob (r13): the shuffle WIDTH moves with the same sketch
    // state — a build side priced above the 32 MB per-task target
    // widens the exchange; PlanSpec reads the physical partitioning.
    // 10M build rows → ceil(48·10M / 32MB) = 15 target; the physical
    // width floors at the session parallelism, so drive the estimate
    // far enough above it to see the knob move.
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val sessionPar =
      spark.conf.get("spark.sql.shuffle.partitions").toInt
    def widths(df: org.apache.spark.sql.DataFrame): Seq[Int] =
      collectWithSubqueries(executed(df)) {
        case e: ShuffleExchangeExec => e.outputPartitioning.numPartitions }
    val bigBuild = 100L * 1000 * 1000
    // orders-first, nO > nLi → join 1 builds lineitem priced at 100M
    // rows → parts_first = ceil(48·100M / 32MB) = 144 > the floor
    val wFact = q(10L, 20L, bigBuild, bigBuild + 1, 10L)
    val expTarget = ((48L * bigBuild + (32L << 20) - 1) / (32L << 20)).toInt
    assert(widths(wFact).contains(math.max(sessionPar, expTarget)),
      s"estimate-driven width $expTarget not in exchanges: ${widths(wFact)}")
    assert(!widths(q(10L, 20L, 1000L, 10L, 10L))
      .exists(_ > sessionPar),
      "small estimates must keep every exchange at the session floor")
    // the declared query's stated choices are consistent with its
    // estimates (columns: est_o, est_p, first_join, build_first,
    // build_second, parts_first, parts_second, n_rows, revenue)
    val r = operators.Relational.cboJoinOrder(spark, sf0001).head()
    assert(r.getString(2) ==
      (if (r.getLong(0) <= r.getLong(1)) "orders" else "part"),
      s"first_join inconsistent with estimates: $r")
    assert(Set("orders", "part", "lineitem").contains(r.getString(3)) &&
      Set("orders", "part", "mid").contains(r.getString(4)),
      s"build columns out of domain: $r")
    assert(r.getInt(5) >= 1 && r.getInt(6) >= 1,
      s"degenerate stated widths: $r")
    assert(r.getLong(7) > 0, s"empty join result: $r")
  }

  test("cbo statistics pass: both fact-key sketches fold into ONE scan") {
    import org.apache.spark.sql.functions.col
    val li = Tables.lineitem(spark, sf0001)
    val both = operators.Relational.cmsKeySketch(
      li.select(col("l_orderkey"), col("l_partkey")))
    val s = executed(both).toString
    assert(s.linesIterator.count(_.contains("Scan parquet")) == 1,
      s"two-key sketch reads more than one scan:\n$s")
    // the folded cells equal the two separate single-key collections
    val Seq(sO, sP) = operators.Relational.cmsCollect(
      li.select(col("l_orderkey"), col("l_partkey")))
    val oneO = operators.Relational.cmsCollect(li.select(col("l_orderkey"))).head
    val oneP = operators.Relational.cmsCollect(li.select(col("l_partkey"))).head
    assert(sO.sorted.sameElements(oneO.sorted) &&
      sP.sorted.sameElements(oneP.sorted),
      "folded sketches drifted from the single-key collections")
  }

  test("Q16 shape: broadcast prune + anti-join, one distinct aggregate, no Expand") {
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    val plan = executed(operators.Relational.partSupplierCounts(spark, sf0001))
    val s = plan.toString
    // count(DISTINCT) over one grouping set plans as the two-phase
    // distinct aggregate — an Expand here would be a multi-set rewrite
    // scanning the fact rows per grouping combination
    assert(!s.contains("Expand"),
      s"Q16 distinct aggregate degraded to an Expand plan:\n$s")
    val bhj = collectWithSubqueries(plan) { case j: BroadcastHashJoinExec => j }
    assert(bhj.exists(_.joinType.sql == "LEFT ANTI"),
      s"audit exclusion must be a broadcast LEFT ANTI:\n$s")
    assert(bhj.exists(_.joinType.sql == "INNER"),
      s"part attribute prune must broadcast into the fact scan:\n$s")
  }

  test("IVF persisted layout: probe scan is partition-pruned to probed cells") {
    // the celled parquet table partitions on the cell id; the probe
    // join must inject a dynamic-pruning subquery into the fact scan
    // so unprobed cell directories never become input splits
    val df = ext.Similarity.ivfPrunedTopK(spark, sf0001)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("dynamicpruning"),
      s"celled fact scan must carry a dynamic partition-pruning filter:\n$plan")
    // and the layout changes only the scan: results are bit-identical
    // to the in-memory IVF probe
    val viaLayout = df.collect().map(_.toSeq)
    val viaMemory = ext.Similarity.ivfTopK(spark, sf0001).collect().map(_.toSeq)
    assert(viaLayout.sameElements(viaMemory),
      "persisted-layout probe diverged from the in-memory IVF result")
  }

  test("series source: month-range filter prunes splits at planning time") {
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    // the declared query's 2010-2014 predicate must plan exactly 1 of
    // the 8 splits an unfiltered 480-month read would (pushdown
    // happens at planning — pruned splits never become tasks)
    val pruned = executed(sources.v2.SeriesQueries.seriesSourceScan(spark, sf0001))
    val scans = collectWithSubqueries(pruned) { case b: BatchScanExec => b }
    assert(scans.size == 1, s"expected one DSv2 scan:\n$pruned")
    assert(scans.head.inputPartitions.size == 1,
      s"month-range predicate should plan 1 of 8 splits, " +
        s"planned ${scans.head.inputPartitions.size}:\n$pruned")
    val full = executed(spark.read.format("graft-series")
      .option("months", 480L).option("monthsPerSplit", 60L).load())
    val fullScans = collectWithSubqueries(full) { case b: BatchScanExec => b }
    assert(fullScans.head.inputPartitions.size == 8,
      "unfiltered read should plan all 8 splits")
  }

  test("pair verify lives in the join condition, behind the cheap cuts") {
    // The fused pair queries author their exact-verify threshold into
    // the join condition AFTER the O(1) id/length conjuncts: left as
    // a Filter above the join, the optimizer pushes it in at the
    // FRONT and the O(n)-per-pair verify runs on every raw bucket
    // pair (profiled 2.5× slower). Guard both properties: the verify
    // expression sits inside the ShuffledHashJoin line (not a
    // separate Filter), and the doc-id cut precedes it there.
    def joinLine(df: org.apache.spark.sql.DataFrame, fn: String): String = {
      val lines = executed(df).toString.linesIterator
        .filter(_.contains("ShuffledHashJoin")).toSeq
      val hit = lines.filter(_.contains(fn))
      assert(hit.nonEmpty, s"$fn not in any ShuffledHashJoin condition:\n$lines")
      hit.head
    }
    val j = joinLine(ext.Dedup.jaccardPairs(spark, sf0001), "sortedintersectsize")
    assert(j.indexOf("doc_a") < j.indexOf("sortedintersectsize"),
      s"verify precedes the cheap cuts in the jaccard join condition:\n$j")
    // containment verifies with the minimal-witness form (r12)
    val c = joinLine(ext.Dedup.containmentTop(spark, sf0001),
      "sortedcontainminimal")
    // containment's cheap cut is the positional least(...) cap
    assert(c.indexOf("least(") < c.indexOf("sortedcontainminimal"),
      s"verify precedes the cheap cuts in the containment join condition:\n$c")
    val m = joinLine(ext.Dedup.minhashLsh(spark, sf0001), "arrayagreecount")
    assert(m.indexOf("doc_a") < m.indexOf("arrayagreecount"),
      s"verify precedes the cheap cuts in the minhash join condition:\n$m")
    val e = joinLine(
      ext.Similarity.buildNearDupPairs(spark, sf0001), "dotproduct")
    assert(e.indexOf("vec_a") < e.indexOf("dotproduct"),
      s"verify precedes the cheap cuts in the embedding join condition:\n$e")
  }

  test("excess stock (Q20 shape): SHJ demand join, LEFT SEMI probe, broadcast part prune") {
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, ShuffledHashJoinExec}
    val plan = executed(operators.Relational.excessStock(spark, sf0001))
    val shj = collectWithSubqueries(plan) { case j: ShuffledHashJoinExec => j }
    // the pre-reduced demand aggregate and the qualifying-pair probe
    // are fact-derived: both must join shuffle-hash, and the supplier
    // probe must be the LEFT SEMI (no pair multiplicity reaches it)
    assert(shj.size >= 2, s"fact-derived joins lost shuffle-hash:\n$plan")
    assert(shj.exists(_.joinType.sql == "LEFT SEMI"),
      s"supplier probe lost its LEFT SEMI shape:\n$plan")
    // the p_name pattern prunes the fact scans via broadcast semi
    val bhj = collectWithSubqueries(plan) { case j: BroadcastHashJoinExec => j }
    assert(bhj.exists(_.joinType.sql == "LEFT SEMI"),
      s"part-pattern prune lost its broadcast semi:\n$plan")
  }

  test("sketch profiler: one scan, one map-combine pass, no Expand") {
    // pipeline_profile's exact countDistinct plans an Expand + a
    // full-width distinct-mode shuffle; the sketch form must not —
    // that is its entire reason to exist at 100 TB
    val plan = executed(ext.Curation.profileColumnsSketch(spark, sf0001))
    val s = plan.toString
    assert(!s.contains("Expand"),
      s"sketch profiler regressed to a distinct-mode aggregate:\n$s")
    assert(s.linesIterator.count(_.contains("Scan parquet")) == 1,
      s"sketch profiler reads more than one scan:\n$s")
    assert(s.contains("kmv_sketch") && s.contains("ObjectHashAggregate"),
      s"KMV aggregate lost its one-pass ObjectHashAggregate shape:\n$s")
  }

  test("vocab coverage: no Window anywhere, thresholds via TakeOrderedAndProject") {
    // a global row_number over the vocabulary would sort billions of
    // types (Heaps' law) on ONE reducer at 100 TB; the rewrite keeps
    // only a top-k (TakeOrderedAndProject) plus conditional sums
    val s = executed(ext.Text.vocabCoverage(spark, sf0001)).toString
    assert(!s.contains("Window"),
      s"vocab coverage regressed to a global rank window:\n$s")
    assert(s.contains("TakeOrderedAndProject"),
      s"threshold top-k lost its TakeOrderedAndProject shape:\n$s")
  }

  test("jaccard: no Window operator (parallel ordinal assignment)") {
    val s = executed(ext.Dedup.jaccardPairs(spark, sf0001)).toString
    assert(!s.contains("Window"),
      s"vocabulary ordinal fell back to a global window:\n$s")
  }

  test("minhash signatures build in one pass (ObjectHashAggregate, no perm explode)") {
    val s = executed(ext.Dedup.minhashLsh(spark, sf0001)).toString
    assert(s.contains("ObjectHashAggregate"), s)
    assert(s.contains("minhash_sketch"), s)
  }

  test("pivot plans as one aggregate pass (no per-column aggregates)") {
    import org.apache.spark.sql.execution.aggregate.HashAggregateExec
    val plan = executed(operators.Payroll.pivotYearMonth(spark, sf0001))
    // Spark pivots in two aggregate pairs: pre-reduce on (year, m),
    // then ONE pivotfirst carrying all 12 columns — never an
    // aggregate per output column (which would be 24+)
    val aggs = collectWithSubqueries(plan) { case h: HashAggregateExec => h }
    assert(aggs.size <= 4, s"pivot fragmented into ${aggs.size} aggregates:\n$plan")
    assert(plan.toString.contains("pivotfirst"), s"no pivot aggregate:\n$plan")
  }

  test("session memo: same frame instance per key, cleared on demand") {
    val a = Tables.monthlySeriesCached(spark, sf0001)
    val b = Tables.monthlySeriesCached(spark, sf0001)
    assert(a eq b, "memo must return the identical cached frame")
    SessionMemo.clear(spark)
    val c = Tables.monthlySeriesCached(spark, sf0001)
    assert(!(a eq c), "clear() must drop the session's entries")
    assert(c.count() > 0)
  }

  test("payroll queries over the one-partition series plan no shuffle exchange") {
    import org.apache.spark.sql.execution.ExpandExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val payroll = SparkEntry.queries.toSeq.filter(_._1.startsWith("payroll_")).sortBy(_._1)
    assert(payroll.nonEmpty)
    val shuffled = payroll.flatMap { case (name, fn) =>
      val df = fn(spark, sf0001)
      df.collect() // let AQE finalize the plan
      val ex = collectWithSubqueries(df.queryExecution.executedPlan) {
        case e: ShuffleExchangeExec => e }
      // the one exchange a grouping-set aggregate needs: Expand
      // reports an unknown partitioning whatever its input's
      val expands = collectWithSubqueries(df.queryExecution.executedPlan) {
        case e: ExpandExec => e }
      val allowed = if (expands.isEmpty) 0 else 1
      if (ex.size > allowed) Seq(s"$name: ${ex.size}") else Nil
    }
    assert(shuffled.isEmpty, s"payroll plans with a shuffle exchange: $shuffled")
  }

  test("no declared query plans a global window over raw input (lint sweep)") {
    SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      // plan only, no run
      val flags = graft.plans.GlobalWindowLint.findings(
        fn(spark, sf0001).queryExecution.optimizedPlan)
      assert(flags.isEmpty,
        s"$name planned a raw-input global window: ${flags}")
    }
  }

  test("pair-verify joins: shuffle-hash, zero corpus-derived broadcasts") {
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
    import org.apache.spark.sql.execution.joins.ShuffledHashJoinExec
    // Clear the session memo: the CacheManager substitutes any
    // matching cached fragment (e.g. the memoized pair table) into a
    // freshly built plan, which would hide the join shapes under an
    // InMemoryRelation leaf.
    SessionMemo.clear(spark)
    // These four plans join corpus-sized tables only (candidates ×
    // per-doc arrays/signatures/vectors): a BroadcastExchange anywhere
    // is a forced broadcast of a corpus-derived side — a driver OOM /
    // 8 GB hard-limit job kill at 100 TB. The verify stage must build
    // per-partition hash tables instead (ShuffledHashJoin).
    val corpusOnly = Seq(
      "dedup_jaccard_pairs"   -> ext.Dedup.jaccardPairs(spark, sf0001),
      "dedup_minhash_lsh"     -> ext.Dedup.minhashLsh(spark, sf0001),
      "dedup_shingle_jaccard" -> ext.Dedup.shingleJaccardPairs(spark, sf0001),
      // r8: the span-excision anchor join (dup-gram table is
      // corpus-derived) and the BPE-encode vocabulary join (the
      // trained forms table grows with the vocabulary — Heaps' law,
      // unbounded at 100 TB)
      "dedup_span_scrub"      -> ext.Dedup.spanScrubOf(
        Tables.documents(spark, sf0001)),
      "text_bpe_encode"       -> ext.Text.bpeEncode(spark, sf0001),
      // r9: the incremental probe's index side is the corpus-so-far —
      // the one table the incremental design exists to never broadcast
      "dedup_incremental_lsh" -> ext.Dedup.incrementalLsh(spark, sf0001))
    corpusOnly.foreach { case (name, df) =>
      val plan = executed(df)
      val bx = collectWithSubqueries(plan) { case b: BroadcastExchangeExec => b }
      assert(bx.isEmpty, s"$name broadcasts a corpus-derived table:\n$plan")
      val shj = collectWithSubqueries(plan) { case j: ShuffledHashJoinExec => j }
      assert(shj.nonEmpty, s"$name verify join lost its shuffle-hash shape:\n$plan")
    }
    // the embedding pair pipeline is session-memoized (S5); assert on
    // the builder that fills the cache — same code, visible plan. Its
    // centroid scoring legitimately broadcasts the driver-built model
    // (a LocalTableScan, k rows), so broadcasts are allowed ONLY over
    // local relations; the cell join itself must stay shuffle-hash.
    locally {
      import org.apache.spark.sql.execution.LocalTableScanExec
      val plan = executed(ext.Similarity.buildNearDupPairs(spark, sf0001))
      val bx = collectWithSubqueries(plan) { case b: BroadcastExchangeExec => b }
      bx.foreach(b =>
        assert(b.collectLeaves().forall(_.isInstanceOf[LocalTableScanExec]),
          s"dedup_embedding_pairs broadcasts a corpus-derived table:\n$plan"))
      val shj = collectWithSubqueries(plan) { case j: ShuffledHashJoinExec => j }
      assert(shj.nonEmpty,
        s"dedup_embedding_pairs verify join lost its shuffle-hash shape:\n$plan")
    }
    // lshAnn re-ranks with one query-side broadcast (bounded by the
    // `< NQueries` filter, which must sit INSIDE the broadcast) while
    // the corpus vector side stays shuffle-hash.
    val plan = executed(ext.Similarity.lshAnn(spark, sf0001))
    val bx = collectWithSubqueries(plan) { case b: BroadcastExchangeExec => b }
    assert(bx.nonEmpty, "query side should still broadcast")
    bx.foreach { b =>
      assert(b.toString.contains("< 10"),
        s"lshAnn broadcast is not the filtered query side:\n$b")
    }
    val shj = collectWithSubqueries(plan) { case j: ShuffledHashJoinExec => j }
    assert(shj.nonEmpty, s"lshAnn corpus re-rank lost its shuffle-hash shape:\n$plan")
  }

  test("tfidf: vocabulary df joins shuffle-hash; only the 1-row count broadcasts") {
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
    import org.apache.spark.sql.execution.joins.ShuffledHashJoinExec
    val plan = executed(ext.Text.tfidfTop(spark, sf0001))
    val bx = collectWithSubqueries(plan) { case b: BroadcastExchangeExec => b }
    assert(bx.size == 1, s"expected exactly the n_docs broadcast:\n$plan")
    assert(bx.head.toString.contains("n_docs"),
      s"the broadcast is not the 1-row corpus count:\n${bx.head}")
    val shj = collectWithSubqueries(plan) { case j: ShuffledHashJoinExec => j }
    assert(shj.nonEmpty, s"vocabulary df join lost its shuffle-hash shape:\n$plan")
  }

  test("pagerank: only the 1-row node count broadcasts; contribution joins shuffle-hash") {
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
    import org.apache.spark.sql.execution.joins.ShuffledHashJoinExec
    SessionMemo.clear(spark)
    // r13: the production loop localCheckpoints per round (the plan
    // had snowballed to ~480 KB), which truncates the final plan to
    // Scan ExistingRDD leaves — audit ONE checkpoint-free round via
    // the builder instead (the embedding-pair-builder device).
    val plan = executed(ext.Dedup.pagerankRoundForAudit(spark, sf0001))
    val bx = collectWithSubqueries(plan) { case b: BroadcastExchangeExec => b }
    // the only broadcast is the 1-row count frame (node base rejoin)
    assert(bx.nonEmpty && bx.forall(_.toString.contains("count(1)")),
      s"a corpus-derived side broadcast in pagerank:\n$plan")
    assert(collectWithSubqueries(plan) {
      case j: ShuffledHashJoinExec => j }.nonEmpty,
      s"pagerank contribution joins lost their shuffle-hash shape:\n$plan")
  }

  test("knn graph builder: per-vector top-k is the bounded aggregate, never a window") {
    import org.apache.spark.sql.execution.aggregate.ObjectHashAggregateExec
    import org.apache.spark.sql.execution.window.WindowExec
    SessionMemo.clear(spark)
    // assert on the BUILDER, not the memoized query (whose plan is a
    // cache scan) — the pagerankRoundForAudit device (r13 verdict #7)
    val plan = executed(ext.Similarity.buildKnnEdges(spark, sf0001))
    val topks = collectWithSubqueries(plan) {
      case a: ObjectHashAggregateExec
        if a.aggregateExpressions.exists(
          _.aggregateFunction.isInstanceOf[functions.TopKByScore]) => a
    }
    // partial + final pair: the map-side combine is the whole point
    assert(topks.size >= 2,
      s"top_k_by_score lost its partial/final ObjectHashAggregate pair:\n$plan")
    assert(topks.exists(_.aggregateExpressions.exists(_.mode ==
        org.apache.spark.sql.catalyst.expressions.aggregate.Partial)),
      s"top_k_by_score has no map-side partial aggregate:\n$plan")
    // and no Window over the symmetric candidate PAIR stream (the
    // shape the r13 aggregate replaced — row_number over `cos`).
    // The model-probe windows (ccos/scos rank over ≤ k2 centroid
    // rows, WindowGroupLimit-bounded) are part of the two-level
    // assignment and stay.
    val pairWindows = collectWithSubqueries(plan) {
      case w: WindowExec
        if w.orderSpec.exists(_.child.references.exists(_.name == "cos")) => w
    }
    assert(pairWindows.isEmpty,
      s"knn edge builder regressed to a window over the pair stream:\n$plan")
  }

  test("lm-score model join and decontamination shingle join stay shuffle-hash") {
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
    import org.apache.spark.sql.execution.joins.ShuffledHashJoinExec
    // lm_score: the log-prob model table IS the vocabulary (corpus-
    // derived, unbounded) — only the 1-row totals frame may broadcast
    val lm = executed(ext.Text.lmScore(spark, sf0001))
    val lmBx = collectWithSubqueries(lm) { case b: BroadcastExchangeExec => b }
    assert(lmBx.size == 1, s"expected exactly the totals broadcast:\n$lm")
    assert(lmBx.head.toString.contains("n_corpus"),
      s"the broadcast is not the 1-row totals frame:\n${lmBx.head}")
    assert(collectWithSubqueries(lm) {
      case j: ShuffledHashJoinExec => j }.nonEmpty,
      s"lm model join lost its shuffle-hash shape:\n$lm")
    // decontaminate: the eval n-gram set is corpus-derived in the
    // driver harness — no broadcast anywhere in the plan
    val dc = executed(ext.Curation.decontaminate(spark, sf0001))
    assert(collectWithSubqueries(dc) {
      case b: BroadcastExchangeExec => b }.isEmpty,
      s"decontamination broadcasts a corpus-derived side:\n$dc")
    assert(collectWithSubqueries(dc) {
      case j: ShuffledHashJoinExec => j }.nonEmpty,
      s"decontamination shingle join lost its shuffle-hash shape:\n$dc")
  }

  test("bucketed co-located join: zero shuffle below the join") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    val plan = executed(sources.Ingest.bucketedColocatedJoin(spark, sf0001))
    val smj = collectWithSubqueries(plan) { case j: SortMergeJoinExec => j }
    assert(smj.nonEmpty, s"expected a sort-merge join of bucketed tables:\n$plan")
    val shufflesBelow = smj.flatMap(_.collect { case e: ShuffleExchangeExec => e })
    assert(shufflesBelow.isEmpty,
      s"bucketed join still shuffles its inputs:\n$plan")
  }

  test("salted join widens the shuffle key and stays shuffle-hash") {
    import org.apache.spark.sql.execution.joins.ShuffledHashJoinExec
    val plan = executed(streaming.Events.enrichedDailySalted(spark, sf0001))
    val shj = collectWithSubqueries(plan) { case j: ShuffledHashJoinExec => j }
    assert(shj.nonEmpty, s"salted join lost its shuffle-hash shape:\n$plan")
    assert(shj.exists(_.leftKeys.size == 2),
      s"salt column missing from the join key:\n$plan")
  }

  test("runtime bloom filter prunes the fact side of a selective shuffle join") {
    import org.apache.spark.sql.functions.col
    // Sessions.builder enables runtime bloom-filter join pruning; at
    // real scale the default size thresholds admit any fact-dim shuffle
    // join — at toy scale we lower them (and suppress broadcast, which
    // already prunes) to prove the injection fires under our config.
    val saved = Seq(
      "spark.sql.autoBroadcastJoinThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.enabled",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold")
      .map(k => k -> spark.conf.getOption(k)).toMap
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "100MB")
      spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      val o = Tables.orders(spark, sf0001)
        .filter(col("o_orderpriority") === "1-URGENT")
        .select("o_orderkey", "o_orderpriority")
      val li = Tables.lineitem(spark, sf0001).select("l_orderkey", "l_quantity")
      val j = li.join(o, col("l_orderkey") === col("o_orderkey"))
      val s = j.queryExecution.optimizedPlan.toString
      assert(s.contains("might_contain"),
        s"no bloom filter injected into the fact side:\n$s")
    } finally saved.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _))
    }
  }

  test("Q9 profit: part prune and dimensions broadcast; lineitem scan pruned") {
    val df = operators.Relational.profitByNationYear(spark, sf0001)
    df.collect() // let AQE finalize
    val s = df.queryExecution.executedPlan.toString
    assert(!s.contains("CartesianProduct"), s)
    assert("BroadcastHashJoin".r.findAllIn(s).size >= 2,
      s"part prune and supplier⋈nation must broadcast:\n$s")
    // the fact scan reads exactly the six lineitem columns used (the
    // plan string truncates ReadSchema, so match its stable prefix)
    val read = "ReadSchema: struct<l_orderkey:bigint,l_partkey:bigint," +
      "l_suppkey:bigint,l_quantity:double"
    assert(s.contains(read), s"lineitem scan not pruned:\n$s")
    assert(s.contains("StringContains(p_name,bolt)"),
      s"p_name pattern not pushed to the part scan:\n$s")
  }

  test("Q5 local-supplier: year window pushed, same-nation check inside a broadcast join") {
    val df = operators.Relational.localSupplierVolume(spark, sf0001)
    df.collect()
    val s = df.queryExecution.executedPlan.toString
    assert(s.contains("PushedFilters: [IsNotNull(o_orderdate), GreaterThanOrEqual(o_orderdate"),
      s"order-year window not pushed to the orders scan:\n$s")
    assert(!s.contains("SortMergeJoin") && !s.contains("CartesianProduct"), s)
    // the cross-dimension equality must ride a hash join's condition,
    // not survive into a post-join filter over the wide product
    assert(!s.toLowerCase.contains("cartesian"), s)
    assert(s.contains("BroadcastHashJoin"), s)
  }

  test("stats prune: stats and certification fold into one fact pass (two scans total)") {
    val df = sources.Layout.statsPrune(spark, sf0001)
    val s = executed(df).toString
    val scans = "FileScan parquet \\[l_partkey".r.findAllIn(s).size
    assert(scans == 2,
      s"expected bounds + stats scans only, found $scans lineitem scans:\n$s")
  }

  test("hashed linear classifier is map-only: weights come from the hash") {
    val plan = ext.Text.qualityLinear(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("hashpartitioning"),
      s"model inference must not shuffle:\n$plan")
    assert(!plan.contains("BroadcastExchange"),
      s"hashing trick means no weight-table join:\n$plan")
    assert(!plan.contains("Generate"),
      s"per-doc score must fold the token array, not explode it:\n$plan")
  }

  test("random projection: matrix is a plan literal, moments pre-combine") {
    val df = ext.Similarity.randomProjection(spark, sf0001)
    val s = df.queryExecution.executedPlan.toString
    assert(!s.contains("BroadcastExchange") && !s.contains("SortMergeJoin"),
      s"projection must not join a matrix table:\n$s")
    // partial aggregate before the 16-group exchange: the shuffle
    // carries ≤ #dims rows per map task, not #vectors·#dims
    assert(s.contains("HashAggregate") && s.contains("hashpartitioning"),
      s"per-dim moments should pre-combine map-side:\n$s")
  }

  test("temperature mixture: rate table broadcasts, sampling pass map-side") {
    val df = ext.Curation.temperatureMixture(spark, sf0001)
    df.collect()
    val s = df.queryExecution.executedPlan.toString
    assert(s.contains("BroadcastHashJoin"),
      s"≤#langs rate table must broadcast back onto the corpus:\n$s")
    assert(!s.contains("SortMergeJoin"),
      s"corpus must never shuffle on lang for the rate join:\n$s")
  }

  test("waiting suppliers: per-order aggregate and window reuse the join shuffle") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.ShuffledHashJoinExec
    val plan = executed(operators.Relational.waitingSuppliers(spark, sf0001))
    val shj = collectWithSubqueries(plan) { case j: ShuffledHashJoinExec => j }
    assert(shj.nonEmpty, s"orders join lost its shuffle-hash shape:\n$plan")
    // HashPartitioning(l_orderkey) from the join must satisfy both
    // the (l_orderkey, l_suppkey) aggregate and the per-order window:
    // exactly ONE exchange keyed on the lineitem order key (the
    // join's own), none added after it
    val ex = collectWithSubqueries(plan) { case e: ShuffleExchangeExec => e }
    val onOrderKey = ex.filter(
      _.outputPartitioning.toString.contains("l_orderkey"))
    assert(onOrderKey.size == 1,
      s"expected 1 order-key exchange (the join's), got ${onOrderKey.size}:\n$plan")
  }

  test("order-count distribution: the outer join carries pre-reduced counts, not orders") {
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
    import org.apache.spark.sql.execution.joins.ShuffledHashJoinExec
    val plan = executed(operators.Relational.orderCountDist(spark, sf0001))
    val bx = collectWithSubqueries(plan) { case b: BroadcastExchangeExec => b }
    assert(bx.isEmpty,
      s"fact-derived count table must not broadcast:\n$plan")
    val shj = collectWithSubqueries(plan) { case j: ShuffledHashJoinExec => j }
    assert(shj.nonEmpty, s"customer left join lost shuffle-hash:\n$plan")
    // the aggregate below the join pre-reduces orders to one row per
    // customer key BEFORE the outer join
    val aggBelowJoin = shj.exists(_.right.toString.contains("HashAggregate"))
    assert(aggBelowJoin, s"orders not pre-reduced below the join:\n$plan")
  }

  test("forecast revenue: all three Q6 predicates push to the parquet scan") {
    val s = operators.Relational.forecastRevenue(spark, sf0001)
      .queryExecution.executedPlan.toString
    assert(s.contains("PushedFilters"), s.take(800))
    Seq("l_shipdate", "l_discount", "l_quantity").foreach { c =>
      val pushed = s.linesIterator.filter(_.contains("PushedFilters"))
        .exists(_.contains(c))
      assert(pushed, s"$c not in PushedFilters:\n${s.take(1200)}")
    }
  }

  test("disjunctive Q19 predicate keeps the hash equi-join and pushes the OR filter") {
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, BroadcastNestedLoopJoinExec}
    val df = operators.Relational.disjunctiveRevenue(spark, sf0001)
    val plan = executed(df)
    val bnl = collectWithSubqueries(plan) { case j: BroadcastNestedLoopJoinExec => j }
    assert(bnl.isEmpty, s"OR-of-ANDs degraded to a nested loop:\n$plan")
    val hj = collectWithSubqueries(plan) { case j: BroadcastHashJoinExec => j }
    assert(hj.nonEmpty, s"expected the common equi-key hash join:\n$plan")
    // the part-only half of the disjunction reaches the part scan
    val s = plan.toString
    val pushedOnPart = s.linesIterator
      .filter(_.contains("PushedFilters")).exists(l =>
        l.contains("p_brand") && l.contains("Or"))
    assert(pushedOnPart, s"disjunctive part filter not pushed:\n${s.take(1500)}")
  }

  test("DSIR: the token-scoring join is shuffle-hash; only totals broadcast") {
    val s = executed(ext.Curation.dsirSample(spark, sf0001)).toString
    assert(s.contains("ShuffledHashJoin"), s"model join must be SHJ:\n$s")
    // the single allowed broadcast is the 1-row totals aggregate
    val bhj = "BroadcastHashJoin".r.findAllIn(s).length
    val bnl = "BroadcastNestedLoopJoin".r.findAllIn(s).length
    assert(bhj == 0 && bnl <= 1,
      s"corpus-derived side broadcast ($bhj BHJ / $bnl BNLJ):\n$s")
  }

  test("market basket: pair self-join is SHJ, top-k is TakeOrderedAndProject") {
    val s = executed(operators.Relational.marketBasket(spark, sf0001)).toString
    assert(s.contains("ShuffledHashJoin"), s"co-order join must be SHJ:\n$s")
    assert(s.contains("TakeOrderedAndProject"),
      s"lift top-k must not globally sort:\n$s")
  }

  test("epoch shuffle: rank window is bucket-partitioned, never global") {
    val s = executed(ext.Curation.epochShuffle(spark, sf0001)).toString
    val windows = "windowspecdefinition\\(([^)]*)".r
      .findAllMatchIn(s).map(_.group(1)).toSeq
    assert(windows.nonEmpty)
    windows.foreach(w => assert(w.contains("epoch") && w.contains("bucket"),
      s"window not (epoch, bucket)-partitioned: $w\n$s"))
  }

  test("whole-stage codegen covers the pricing aggregate") {
    // AQE defers physical planning, so codegen subtrees only appear
    // with it off (execution behavior is identical per-stage)
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val s = operators.Relational.pricingSummary(spark, sf0001)
        .queryExecution.explainString(
          org.apache.spark.sql.execution.ExplainMode.fromString("codegen"))
      assert(s.contains("WholeStageCodegen subtrees"), s.take(500))
      assert(!s.startsWith("Found 0 WholeStageCodegen"), s.take(500))
    } finally spark.conf.set("spark.sql.adaptive.enabled", "true")
  }
}
