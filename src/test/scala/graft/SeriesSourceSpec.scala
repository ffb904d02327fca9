package graft

import org.apache.spark.sql.functions._

import graft.sources.v2.SeriesSource

/** DataSource V2 connector surface: generator correctness, planning-
  * time split pruning from pushed month-range filters, and column
  * pruning down to the custom scan. */
class SeriesSourceSpec extends SparkSpec {

  private def read(months: Long, perSplit: Long = 120L) =
    spark.read.format("graft-series")
      .option("months", months).option("monthsPerSplit", perSplit)
      .load()

  /** Input partitions the scan of `df`'s executed plan planned. */
  private def plannedSplits(df: org.apache.spark.sql.DataFrame): Int = {
    import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
    val scans = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
      .collectWithSubqueries(df.queryExecution.executedPlan) {
        case b: BatchScanExec => b.inputPartitions.size
      }
    assert(scans.size == 1, s"expected one batch scan:\n${df.queryExecution.executedPlan}")
    scans.head
  }

  test("generator rows match the driver-side formula (short name resolves)") {
    val got = read(500).orderBy("month").collect()
    assert(got.length == 500)
    val start = java.time.LocalDate.parse("1990-01-01")
    (0 until 500).foreach { i =>
      assert(got(i).getDate(0).toLocalDate == start.plusMonths(i.toLong),
        s"month at $i")
      assert(got(i).getLong(1) == SeriesSource.empAt(i.toLong), s"emp at $i")
    }
  }

  test("month-range filters prune generator splits at planning time") {
    val all = read(1200, perSplit = 100)
    assert(all.count() == 1200)
    assert(plannedSplits(all) == 12, "unfiltered scan plans all splits")

    // 1200 months from 1990-01 end in 2089-12; keep 2080-01 onward =
    // the last 120 months = 2 splits of 100 (one partial)
    val tail = read(1200, perSplit = 100)
      .filter(col("month") >= lit(java.sql.Date.valueOf("2080-01-01")))
    assert(tail.count() == 120)
    assert(plannedSplits(tail) == 2,
      s"pushed lower bound should prune to 2 splits, planned ${plannedSplits(tail)}")

    val band = read(1200, perSplit = 100)
      .filter(col("month") >= lit(java.sql.Date.valueOf("2000-01-01")) &&
        col("month") < lit(java.sql.Date.valueOf("2010-01-01")))
    assert(band.count() == 120)
    assert(plannedSplits(band) <= 3,
      s"band should plan <= 3 splits, planned ${plannedSplits(band)}")
    // residual re-application keeps exact semantics at split edges
    val bounds = band.agg(min("month"), max("month")).head()
    assert(bounds.getDate(0) == java.sql.Date.valueOf("2000-01-01"))
    assert(bounds.getDate(1) == java.sql.Date.valueOf("2009-12-01"))
  }

  test("column pruning reaches the custom scan") {
    val sums = read(240).select("emp")
    assert(sums.queryExecution.executedPlan.toString.contains("cols=emp"),
      "scan description should show the pruned column set")
    val s = sums.agg(sum("emp")).head().getLong(0)
    assert(s == (0L until 240L).map(SeriesSource.empAt).sum)
  }

  test("streaming face: micro-batches admit monthsPerBatch at a time, total equals batch") {
    val q = spark.readStream.format("graft-series")
      .option("months", 300).option("monthsPerBatch", 100)
      .load()
      .writeStream.outputMode("append")
      .format("memory").queryName("series_stream_out")
      .start()
    try {
      q.processAllAvailable()
      val got = spark.table("series_stream_out").orderBy("month").collect()
      assert(got.length == 300)
      val batches = q.recentProgress.count(_.numInputRows > 0)
      assert(batches >= 3, s"expected >= 3 micro-batches, got $batches")
      val batch = read(300).orderBy("month").collect()
      assert(got.map(_.toSeq).toSeq == batch.map(_.toSeq).toSeq,
        "stream total must equal the batch read")
    } finally q.stop()
  }

  test("reported statistics make a small generated slice broadcast") {
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    // 24 generated rows join the lineitem-derived series: without
    // SupportsReportStatistics the source sizes as defaultSizeInBytes
    // (never broadcast); with it the planner picks BHJ
    val dim = read(24).withColumnRenamed("emp", "gen_emp")
    val fact = Tables.monthlySeriesCached(spark, sf0001)
    val joined = fact.join(dim, Seq("month"))
    val plan = joined.queryExecution.executedPlan
    val bhj = new org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {}
      .collectWithSubqueries(plan) { case j: BroadcastHashJoinExec => j }
    assert(bhj.nonEmpty, s"expected a broadcast join from reported stats:\n$plan")
    assert(joined.count() <= 24)
  }

  test("the generated series drives the engine's window operators") {
    // the source composes with ordinary plans: a MoM growth over the
    // generated series (what a scale benchmark would do at any sf)
    val w = org.apache.spark.sql.expressions.Window.orderBy("month")
    val mom = read(24)
      .withColumn("prev", lag("emp", 1).over(w))
      .filter(col("prev").isNotNull)
    assert(mom.count() == 23)
  }
}
