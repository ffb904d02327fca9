package graft

import graft.streaming.Events

/** Structured Streaming surface: the same transform verified in batch
  * (DuckDB oracle) must produce identical results when driven through
  * readStream → memory sink. */
class EventsStreamSpec extends SparkSpec {

  test("streaming hourly agg == batch hourly agg (complete mode)") {
    val batch = Events.hourlyByType(spark, sf0001).collect().map(_.toSeq).toSet

    val q = Events.hourlyStream(spark, sf0001)
      .writeStream.outputMode("complete")
      .format("memory").queryName("hourly_out")
      .start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("hourly_out")
        .collect().map(_.toSeq).toSet
      assert(streamed == batch)
    } finally q.stop()
  }

  test("streaming sliding windows == batch sliding windows (complete mode)") {
    val batch = Events.slidingHourly(spark, sf0001).collect().map(_.toSeq).toSet
    // sanity: the slide really overlaps — 4x as many windows as hours
    val hours = Events.hourlyByType(spark, sf0001)
      .select("hour_start").distinct().count()
    assert(batch.size > 2 * hours,
      s"${batch.size} sliding windows for $hours hours — slide not overlapping?")

    val q = Events.slidingStream(spark, sf0001)
      .writeStream.outputMode("complete")
      .format("memory").queryName("sliding_out")
      .start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("sliding_out")
        .collect().map(_.toSeq).toSet
      assert(streamed == batch)
    } finally q.stop()
  }

  test("stream-stream LEFT OUTER interval join == batch (outer rows flush via watermark)") {
    import org.apache.spark.sql.functions._
    // batch truth: outer pair level, null view_id for unattributed
    val ev = Tables.events(spark, sf0001)
    val batch = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("ts").as("purchase_ts"))
      .join(
        ev.filter(col("event_type") === "view")
          .select(col("event_id").as("view_id"),
            col("user_id").as("v_user_id"), col("ts").as("view_ts")),
        col("user_id") === col("v_user_id") &&
          col("view_ts") >= col("purchase_ts") - expr("interval 1 hour") &&
          col("view_ts") <= col("purchase_ts"),
        "left_outer")
      .select("purchase_id", "view_id").collect()
      .map(r => (r.getLong(0), Option(r.get(1)))).toSet
    assert(batch.exists(_._2.isEmpty), "fixture has no unattributed purchase")

    // stage the corpus plus two far-future sentinel events (one per
    // join side, impossible user ids) so BOTH watermarks advance past
    // every real purchase and the trailing outer rows flush
    val tmp = tempDir("pv_outer")
    val raw = spark.read.parquet(s"$sf0001/events.parquet")
    raw.write.parquet(s"$tmp/events.parquet")
    // sentinel ts = max(ts) + 10 days, derived from the corpus rows
    // themselves so the sentinel file's ts physical type always
    // matches the corpus file (the stream reads both under one
    // schema). The arithmetic branches on the arrived dtype: int64
    // nanos adds 10 days of nanos (Long + interval is a type
    // mismatch); timestamp variants add the interval.
    val tsPlus10d = raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        col("ts") + lit(10L * 24L * 3600L * 1000000000L)
      case _ => col("ts") + expr("interval 10 days")
    }
    def sentinel(id: Long, et: String) =
      raw.orderBy(col("ts").desc).limit(1)
        .select(lit(id).as("event_id"),
          tsPlus10d.as("ts"),
          lit(id).as("user_id"), lit(et).as("event_type"),
          lit(0.0).as("value"), lit("{}").as("props"))
    sentinel(-1L, "purchase").union(sentinel(-2L, "view"))
      .write.parquet(s"$tmp/events_sentinel.parquet")

    val q = Events.purchaseConversionStream(spark, tmp)
      .writeStream.outputMode("append")
      .format("memory").queryName("pv_outer_out")
      .start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("pv_outer_out")
        .filter(col("user_id") >= 0)
        .select("purchase_id", "view_id").collect()
        .map(r => (r.getLong(0), Option(r.get(1)))).toSet
      assert(streamed == batch,
        s"stream ${streamed.size} pairs != batch ${batch.size}; " +
          s"missing=${(batch -- streamed).take(3)} extra=${(streamed -- batch).take(3)}")
    } finally q.stop()
  }

  test("streaming tolerance as-of == batch as-of (join + chained event-time argmax)") {
    import org.apache.spark.sql.functions._
    // batch truth: the declared custom-operator query (backward as-of,
    // 1 h tolerance) — the stream must reproduce it row for row
    val batch = graft.operators.AsOf.purchaseAttributionRecent(spark, sf0001)
      .collect()
      .map(r => (r.getLong(0), Option(r.get(3)), Option(r.get(5)))).toSet
    assert(batch.exists(_._2.isEmpty), "fixture has no out-of-window purchase")

    // same sentinel staging as the outer-join test: both watermarks
    // must advance past every real purchase so trailing rows flush
    val tmp = tempDir("asof_stream")
    val raw = spark.read.parquet(s"$sf0001/events.parquet")
    raw.write.parquet(s"$tmp/events.parquet")
    val tsPlus10d = raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        col("ts") + lit(10L * 24L * 3600L * 1000000000L)
      case _ => col("ts") + expr("interval 10 days")
    }
    def sentinel(id: Long, et: String) =
      raw.orderBy(col("ts").desc).limit(1)
        .select(lit(id).as("event_id"),
          tsPlus10d.as("ts"),
          lit(id).as("user_id"), lit(et).as("event_type"),
          lit(0.0).as("value"), lit("{}").as("props"))
    sentinel(-1L, "purchase").union(sentinel(-2L, "view"))
      .write.parquet(s"$tmp/events_sentinel.parquet")

    val q = Events.asofLastTouchStream(spark, tmp)
      .writeStream.outputMode("append")
      .format("memory").queryName("asof_stream_out")
      .start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("asof_stream_out")
        .filter(col("user_id") >= 0)
        .collect()
        .map(r => (r.getLong(0), Option(r.get(3)), Option(r.get(5)))).toSet
      assert(streamed == batch,
        s"stream ${streamed.size} rows != batch ${batch.size}; " +
          s"missing=${(batch -- streamed).take(3)} extra=${(streamed -- batch).take(3)}")
    } finally q.stop()
  }

  test("micro-batch partial CMS sketches merge to the one-shot batch sketch exactly") {
    import org.apache.spark.sql.functions._
    // CMS is linear: counters add, so merged per-batch partials must be
    // BIT-EQUAL to the single-pass build (same seed/depth/width)
    val batchSketch = Events.userCms(
      Tables.events(spark, sf0001).select("user_id"))
    var merged: org.apache.spark.util.sketch.CountMinSketch = null
    val q = spark.readStream.schema(Events.rawSchema(spark, sf0001))
      .option("maxFilesPerTrigger", "1") // force multiple micro-batches
      .parquet(s"$sf0001/events*.parquet")
      .select("user_id")
      .writeStream.outputMode("append").foreachBatch {
        (b: org.apache.spark.sql.DataFrame, _: Long) =>
          val part = Events.userCms(b)
          if (merged == null) merged = part else merged.mergeInPlace(part)
          ()
      }.start()
    try q.processAllAvailable() finally q.stop()
    assert(merged != null)
    assert(merged.totalCount() == batchSketch.totalCount())
    val users = Tables.events(spark, sf0001).select("user_id").distinct()
      .collect().map(_.getLong(0))
    users.foreach { u =>
      val boxed = java.lang.Long.valueOf(u)
      assert(merged.estimateCount(boxed) == batchSketch.estimateCount(boxed),
        s"user $u: merged estimate != batch estimate — sketch merge broken")
    }
    // and the declared query's certification holds (top-k capped by
    // the distinct-user count on this tiny corpus)
    val rows = Events.cmsHeavyUsers(spark, sf0001).collect()
    assert(rows.length == math.min(20, users.length))
    assert(rows.forall(_.getBoolean(2)),
      "a CMS estimate escaped [exact, exact + eps*N] — sketch broken")
  }

  test("approx quantiles: certified in-plan AND within rank bound vs raw data") {
    import org.apache.spark.sql.functions._
    // the declared query's self-certification must hold everywhere
    val flags = Events.valueQuantilesApprox(spark, sf0001).collect()
    assert(flags.nonEmpty && flags.length % 3 == 0)
    assert(flags.forall(_.getAs[Boolean]("approx_within_bound")),
      "percentile_approx violated its rank-error bound")
    // independent check: recompute the rank of each approx value from
    // the raw rows in memory and compare to the target percentile
    val pcts = Seq(0.5, 0.95, 0.99)
    val acc = 1000
    val apx = Tables.events(spark, sf0001)
      .groupBy("event_type")
      .agg(percentile_approx(col("value"), typedlit(pcts), lit(acc)).as("apxs"))
      .collect().map(r => r.getString(0) -> r.getSeq[Double](1)).toMap
    val byType = Tables.events(spark, sf0001)
      .select("event_type", "value").collect()
      .map(r => r.getString(0) -> r.getDouble(1))
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted).toMap
    for ((tpe, vals) <- byType; (p, a) <- pcts.zip(apx(tpe))) {
      val n = vals.length.toDouble
      val lo = vals.count(_ < a) / n
      val hi = vals.count(_ <= a) / n
      val eps = 2.0 / acc + 1e-9 // GK invariant g+Δ ≤ 2εn
      assert(p >= lo - eps && p <= hi + eps,
        f"$tpe p=$p: approx $a has rank range [$lo%.4f, $hi%.4f], outside ±$eps")
    }
  }

  test("stateful per-user totals converge to the batch aggregate") {
    import org.apache.spark.sql.functions._
    val batch = Tables.events(spark, sf0001)
      .groupBy("user_id").agg(count(lit(1)).as("n")).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap

    val q = Events.userTotalsStream(spark, sf0001)
      .writeStream.outputMode("update")
      .format("memory").queryName("user_totals")
      .start()
    try {
      q.processAllAvailable()
      // update mode: last row per user is the final state
      val streamed = spark.table("user_totals")
        .groupBy("user_id")
        .agg(max("n_events").as("n")).collect()
        .map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(streamed == batch)
    } finally q.stop()
  }

  test("stream-static enrichment == batch enrichment (complete mode)") {
    val batch = Events.enrichedDaily(spark, sf0001).collect().map(_.toSeq).toSet
    val q = Events.enrichedStream(spark, sf0001)
      .writeStream.outputMode("complete")
      .format("memory").queryName("enrich_out")
      .start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("enrich_out").collect().map(_.toSeq).toSet
      assert(streamed == batch)
    } finally q.stop()
  }

  test("SALTED stream-static enrichment == batch enrichment (complete mode)") {
    val batch = Events.enrichedDaily(spark, sf0001).collect().map(_.toSeq).toSet
    val q = Events.enrichedStreamSalted(spark, sf0001)
      .writeStream.outputMode("complete")
      .format("memory").queryName("enrich_salted_out")
      .start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("enrich_salted_out").collect().map(_.toSeq).toSet
      assert(streamed == batch)
    } finally q.stop()
  }

  test("streaming funnel states reproduce the batch funnel counts") {
    import org.apache.spark.sql.functions._
    val batch = Events.funnelCounts(spark, sf0001).head()
    val expect = Seq(batch.getLong(0), batch.getLong(1),
      batch.getLong(2), batch.getLong(3))

    val q = Events.funnelStream(spark, sf0001)
      .writeStream.outputMode("update")
      .format("memory").queryName("funnel_out")
      .start()
    try {
      q.processAllAvailable()
      // update mode: the last emitted row per user is the final state;
      // stage timestamps only ever advance, so max picks it
      val fin = spark.table("funnel_out")
        .groupBy("user_id")
        .agg(max("t1").as("t1"), max("t2").as("t2"),
          max("t3").as("t3"), max("t4").as("t4"))
      val got = fin.agg(count("t1"), count("t2"), count("t3"), count("t4"))
        .head()
      assert(Seq(got.getLong(0), got.getLong(1), got.getLong(2),
        got.getLong(3)) == expect)
    } finally q.stop()
  }

  test("streaming rate limiter reproduces the batch ledger per user") {
    import org.apache.spark.sql.functions._
    val batch = Events.rateLimit(spark, sf0001).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
      .toMap
    // some throttling must actually occur or the test proves nothing
    assert(batch.values.exists(_._2 > 0), "fixture never throttles")

    val q = Events.rateLimitStream(spark, sf0001)
      .writeStream.outputMode("update")
      .format("memory").queryName("rate_out")
      .start()
    try {
      q.processAllAvailable()
      // update mode: totals only grow — max per user is the final state
      val fin = spark.table("rate_out").groupBy("user_id")
        .agg(max("n_events").as("e"), max("n_throttled").as("t"),
          max("n_days").as("d"))
        .collect()
        .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2), r.getLong(3)))
        .toMap
      assert(fin == batch,
        s"stream != batch, e.g. ${fin.toSeq.diff(batch.toSeq).take(3)}")
    } finally q.stop()
  }

  test("stream-stream interval join == batch interval join (pair level)") {
    import org.apache.spark.sql.functions._
    // batch truth: raw purchase×view pairs within the 1h lookback
    val ev = Tables.events(spark, sf0001)
    val batch = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("ts").as("purchase_ts"))
      .join(
        ev.filter(col("event_type") === "view")
          .select(col("event_id").as("view_id"),
            col("user_id").as("v_user_id"), col("ts").as("view_ts")),
        col("user_id") === col("v_user_id") &&
          col("view_ts") >= col("purchase_ts") - expr("interval 1 hour") &&
          col("view_ts") <= col("purchase_ts"))
      .select("purchase_id", "view_id").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet

    val q = streaming.Events.purchaseViewStream(spark, sf0001)
      .writeStream.outputMode("append")
      .format("memory").queryName("pv_join_out")
      .start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("pv_join_out")
        .select("purchase_id", "view_id").collect()
        .map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(streamed == batch,
        s"stream pairs ${streamed.size} != batch pairs ${batch.size}")
      assert(batch.nonEmpty, "fixture has no purchase-view pairs")
    } finally q.stop()
  }

  test("streaming attribution == batch as-of join") {
    val batch = graft.operators.AsOf.purchaseAttribution(spark, sf0001)
      .select("purchase_id", "view_id").collect()
      .map(r => r.getLong(0) ->
        (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap

    val q = Events.attributionStream(spark, sf0001)
      .writeStream.outputMode("append")
      .format("memory").queryName("attr_out")
      .start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("attr_out")
        .select("purchase_id", "view_id").collect()
        .map(r => r.getLong(0) ->
          (if (r.isNullAt(1)) None else Some(r.getLong(1)))).toMap
      assert(streamed == batch)
    } finally q.stop()
  }

  test("watermarked replay dedup == batch replay dedup (bounded state)") {
    // stage the corpus twice — an honest at-least-once redelivery:
    // the stream glob picks up both files, the batch twin models the
    // same duplication as corpus ∪ corpus
    val tmp = tempDir("replay_dedup")
    val raw = spark.read.parquet(s"$sf0001/events.parquet")
    raw.write.parquet(s"$tmp/events.parquet")
    raw.write.parquet(s"$tmp/events_replay.parquet")
    val batch = Events.dedupReplay(spark, tmp).collect().map(_.toSeq).toSet
    val q = Events.dedupReplayStream(spark, tmp)
      .writeStream.outputMode("append")
      .format("memory").queryName("replay_dedup_out")
      .start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("replay_dedup_out")
        .collect().map(_.toSeq).toSet
      assert(streamed == batch,
        s"stream ${streamed.size} rows != batch ${batch.size}")
    } finally q.stop()
  }

  test("streaming dedup emits each event_id once") {
    val q = Events.dedupStream(spark, sf0001)
      .writeStream.outputMode("append")
      .format("memory").queryName("dedup_out")
      .start()
    try {
      q.processAllAvailable()
      val n = spark.table("dedup_out").count()
      val distinct = spark.table("dedup_out")
        .select("event_id").distinct().count()
      assert(n == distinct && n > 0)
    } finally q.stop()
  }

  test("streaming session windows == batch sessions (append mode, watermark close)") {
    import org.apache.spark.sql.functions._
    val batch = Events.sessionize(spark, sf0001).collect().map(_.toSeq).toSet
    // sanity: sessions actually merge events (gap logic does work)
    assert(batch.exists(_(3).asInstanceOf[Long] > 1L),
      "fixture has no multi-event session")

    // corpus + one far-future sentinel event (impossible user id) so
    // the watermark passes every real session's gap-extended end and
    // append mode flushes them all
    val tmp = tempDir("sess_stream")
    val raw = spark.read.parquet(s"$sf0001/events.parquet")
    raw.write.parquet(s"$tmp/events.parquet")
    val tsPlus10d = raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        col("ts") + lit(10L * 24L * 3600L * 1000000000L)
      case _ => col("ts") + expr("interval 10 days")
    }
    raw.orderBy(col("ts").desc).limit(1)
      .select(lit(-1L).as("event_id"), tsPlus10d.as("ts"),
        lit(-1L).as("user_id"), lit("view").as("event_type"),
        lit(0.0).as("value"), lit("{}").as("props"))
      .write.parquet(s"$tmp/events_sentinel.parquet")

    val q = Events.sessionizeStream(spark, tmp)
      .writeStream.outputMode("append")
      .format("memory").queryName("sessions_out")
      .start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("sessions_out")
        .filter(col("user_id") >= 0)
        .collect().map(_.toSeq).toSet
      assert(streamed == batch,
        s"stream ${streamed.size} sessions != batch ${batch.size}; " +
          s"missing=${(batch -- streamed).take(3)} extra=${(streamed -- batch).take(3)}")
    } finally q.stop()
  }
}
