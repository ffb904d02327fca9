package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.Tables
import graft.functions.Num._

/** Event-stream operators over `events` (TESTDATA.md). Each exists in
  * two forms: a batch query (DuckDB-oracled, the correctness gate)
  * and a Structured Streaming builder over the same transform so the
  * semantics are verified once and reused on `readStream` (tested via
  * file-source → memory-sink in `EventsStreamSpec`).
  */
object Events {

  /** File-source schema for the events stream: a stream can't infer
    * its schema, so take the batch footer's (resolved once per session
    * by [[graft.Tables.schema]]) and declare `ts` as whatever physical
    * type the corpus actually has — raw int64 nanos or a typed
    * timestamp (see [[graft.Tables.normalizeTs]] for why both exist). */
  def rawSchema(s: SparkSession, dir: String): StructType = {
    val tsType = Tables.schema(s, dir, "events")("ts").dataType
    StructType(Seq(
      StructField("event_id", LongType), StructField("ts", tsType),
      StructField("user_id", LongType), StructField("event_type", StringType),
      StructField("value", DoubleType), StructField("props", StringType)))
  }

  /** `readStream` over the events corpus with `ts` normalized — the
    * single entry every streaming builder goes through, sharing the
    * schema-branching normalizer with the batch reader so stream and
    * batch can never diverge on the ts type again. */
  private[graft] def streamEvents(s: SparkSession, dir: String): DataFrame =
    Tables.normalizeTs(
      s.readStream.schema(rawSchema(s, dir)).parquet(s"$dir/events*.parquet"))

  private val propsSchema = StructType(Seq(StructField("k", LongType)))

  /** Tumbling 1-hour windows per event type — the shared transform.
    * Works on a batch or streaming input identically. */
  def hourlyTransform(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 hour").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"), r4(dsum(col("value"))).as("sum_value"))
      .select(col("w.start").as("hour_start"), col("event_type"),
        col("n_events"), col("sum_value"))

  /** Batch form (oracled). */
  def hourlyByType(s: SparkSession, dir: String): DataFrame =
    hourlyTransform(Tables.events(s, dir)).orderBy("hour_start", "event_type")

  /** SLIDING 1-hour windows every 15 minutes — the overlapping-window
    * rate monitor tumbling windows can't express (a burst straddling
    * an hour boundary halves into two tumbling buckets; the slide
    * sees it whole at 15-minute latency). Each event lands in exactly
    * duration/slide = 4 windows — the shuffle carries 4× (window,
    * partial) rows per map task after pre-aggregation, never 4× the
    * events. Works on a batch or streaming input identically;
    * distinct aggregates are deliberately absent (unsupported in
    * streaming aggregation — the HLL sketch is the swap-in). */
  def slidingTransform(events: DataFrame): DataFrame =
    events
      .groupBy(window(col("ts"), "1 hour", "15 minutes").as("w"))
      .agg(count(lit(1)).as("n_events"), r4(dsum(col("value"))).as("sum_value"))
      .select(col("w.start").as("window_start"),
        col("n_events"), col("sum_value"))

  /** Batch form (oracled): the oracle replays the slide by exploding
    * each event into its 4 member windows off `time_bucket` (both
    * engines align sub-day buckets on minute-zero origins, so the
    * window frontiers agree exactly). */
  def slidingHourly(s: SparkSession, dir: String): DataFrame =
    slidingTransform(Tables.events(s, dir)).orderBy("window_start")

  /** Streaming twin: watermark bounds how long a slide's state waits
    * for stragglers; stream ≡ batch asserted in EventsStreamSpec. */
  def slidingStream(s: SparkSession, dir: String): DataFrame =
    slidingTransform(streamEvents(s, dir).withWatermark("ts", "2 hours"))

  /** Streaming form: file-source → watermark → windowed agg. Late
    * data beyond 2 h is dropped and state is bounded — the shape that
    * runs unbounded at 100 TB/day. */
  def hourlyStream(s: SparkSession, dir: String): DataFrame =
    hourlyTransform(streamEvents(s, dir).withWatermark("ts", "2 hours"))

  /** JSON property extraction (`props` is a JSON string): typed
    * `from_json` parse, then per-type stats on the extracted field.
    * At scale the parse is a codegen'd expression per row — no
    * shuffle beyond the final small agg. */
  def jsonKv(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .withColumn("k", from_json(col("props"), propsSchema).getField("k"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"), r4(avg("k")).as("avg_k"),
        max("k").as("max_k"))
      .orderBy("event_type")

  /** 30-minute-gap session windows per user — the shared transform
    * ([[hourlyTransform]] discipline): identical over a batch or a
    * watermarked streaming input. */
  private def sessionTransform(events: DataFrame): DataFrame =
    events
      .groupBy(session_window(col("ts"), "30 minutes").as("w"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), r4(dsum(col("value"))).as("sum_value"))
      .select(col("user_id"), col("w.start").as("session_start"),
        col("w.end").as("session_end"), col("n_events"), col("sum_value"))

  /** Sessionization, batch form (oracled). */
  def sessionize(s: SparkSession, dir: String): DataFrame =
    sessionTransform(Tables.events(s, dir))
      .orderBy("user_id", "session_start")

  /** Streaming face of [[sessionize]]: the same `session_window`
    * aggregate over the watermarked stream. Session MERGING is the
    * stateful part (a late event can glue two open sessions), so the
    * state store holds only OPEN sessions per user; a session closes
    * — and emits, append mode — once the watermark passes its
    * gap-extended end. Bounded state: open sessions of
    * watermark-recent users only, at any stream length
    * (`EventsStreamSpec` asserts stream ≡ batch through a sentinel
    * that flushes the trailing sessions). */
  def sessionizeStream(s: SparkSession, dir: String): DataFrame =
    sessionTransform(streamEvents(s, dir).withWatermark("ts", "30 minutes"))

  /** Streaming dedup-by-key (S4 upsert semantics on a stream):
    * watermarked `dropDuplicates` on event_id — bounded state. */
  case class UserState(n_events: Long, total_value: Double)
  case class UserCounts(user_id: Long, n_events: Long, total_value: Double)

  /** Custom streaming state (`mapGroupsWithState`): per-user running
    * event count + value total. The state store holds one tiny record
    * per user — the pattern for arbitrary per-key accumulators that
    * windowed aggregation can't express. Update mode emits the state
    * after every batch. */
  def userTotalsStream(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.streaming.GroupStateTimeout
    streamEvents(s, dir)
      .select(col("user_id"), col("value"))
      .as[(Long, Double)]
      .groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[(Long, Double)],
         state: org.apache.spark.sql.streaming.GroupState[UserState]) =>
          val prev = state.getOption.getOrElse(UserState(0L, 0.0))
          var n = prev.n_events
          var t = prev.total_value
          rows.foreach { r => n += 1; t += r._2 }
          state.update(UserState(n, t))
          UserCounts(user, n, t)
      }
      .toDF()
  }

  def dedupStream(s: SparkSession, dir: String): DataFrame =
    streamEvents(s, dir)
      .withWatermark("ts", "2 hours")
      .dropDuplicates("event_id")

  case class AttrEvent(event_id: Long, user_id: Long, ts: java.sql.Timestamp,
      event_type: String)
  case class LastView(view_id: Long, view_ts: java.sql.Timestamp)
  case class Attribution(purchase_id: Long, user_id: Long,
      purchase_ts: java.sql.Timestamp, view_id: Option[Long],
      view_ts: Option[java.sql.Timestamp])

  /** Streaming last-touch attribution — the stream analog of the
    * batch [[graft.operators.AsOf]] join: per-user state holds only
    * the latest `view` seen; each `purchase` emits joined to it.
    * Within a micro-batch the group's rows are sorted by (ts,
    * event_id) before the state fold (the iterator carries no order
    * guarantee); state is one tiny record per user.
    * `AsOfJoinSpec`/`EventsStreamSpec` assert stream ≡ the batch
    * as-of query. */
  def attributionStream(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
    streamEvents(s, dir)
      .filter(col("event_type").isin("purchase", "view"))
      .select(col("event_id"), col("user_id"), col("ts"), col("event_type"))
      .as[AttrEvent]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[LastView, Attribution](
        org.apache.spark.sql.streaming.OutputMode.Append(),
        GroupStateTimeout.NoTimeout()) {
        (user: Long, rows: Iterator[AttrEvent], state: GroupState[LastView]) =>
          var last = state.getOption
          val out = Seq.newBuilder[Attribution]
          rows.toSeq.sortBy(e => (e.ts.getTime, e.ts.getNanos, e.event_id))
            .foreach { e =>
              if (e.event_type == "view") last = Some(LastView(e.event_id, e.ts))
              else out += Attribution(e.event_id, user, e.ts,
                last.map(_.view_id), last.map(_.view_ts))
            }
          last.foreach(state.update)
          out.result().iterator
      }
      .toDF()
  }

  /** Exact value quantiles per event type (p50/p95/p99) — the latency
    * /-distribution readout of every event pipeline. Spark's exact
    * `percentile` and DuckDB's `quantile_cont` share the same
    * (n−1)·p linear-interpolation definition, so the result
    * hash-matches. At 100 TB swap in `percentile_approx` (t-digest,
    * one pass, mergeable) — same query shape, bounded memory; this
    * exact face is its certification twin, and above [[GateRows]]
    * (the largest oracle scale is well below it) the exact
    * percentiles run on the deterministic gate-sized row sample
    * ([[Tables.certSample]]) so the per-group sort stays gate-cost at
    * any corpus size. */
  def valueQuantiles(s: SparkSession, dir: String): DataFrame =
    valueQuantilesGated(s, dir, GateRows)

  private[graft] def valueQuantilesGated(s: SparkSession, dir: String,
      gateRows: Long): DataFrame = {
    val ev = Tables.events(s, dir)
    val population = Tables.rowCount(s, dir, "events")
    // cert_sampled states WHICH REGIME produced the row (r12, advisor
    // ask): above the gate the quantiles are sample-based under the
    // same column names, and a consumer must not need to know the
    // corpus size and the gate constant to tell.
    Tables.certSample(ev, col("event_id"), population, gateRows)
      .groupBy("event_type")
      .agg(
        r4(percentile(col("value"), lit(0.5))).as("p50"),
        r4(percentile(col("value"), lit(0.95))).as("p95"),
        r4(percentile(col("value"), lit(0.99))).as("p99"))
      .withColumn("cert_sampled", lit(population > gateRows))
      .orderBy("event_type")
  }

  /** Above this `events` population the exact-certification faces
    * ([[valueQuantiles]], [[dauWau]], [[wauSketch]]'s exact side,
    * [[hllIntersection]] — r12) restrict to the gate-sized
    * deterministic sample/cohort, and each states the regime in its
    * `cert_sampled` output column. The
    * largest oracle scale (sf0.1) is 100 k rows — the gate binds only
    * the never-oracled headroom legs and real deployments, where the
    * full-population readout is the sketch face's job. */
  private val GateRows = 150000L

  /** Purchase←view pairs within a 1-hour lookback: the shared
    * transform of the batch interval join and the stream-stream join.
    * Equi-join on user_id carrying the time-range predicate — at
    * scale both sides shuffle once on the user key and the range
    * filter runs inside the join, never as a post-join explosion. */
  private def viewPurchasePairs(purchases: DataFrame, views: DataFrame,
      joinType: String = "inner"): DataFrame =
    purchases.join(views,
      purchases("user_id") === views("v_user_id") &&
        col("view_ts") >= col("purchase_ts") - expr("interval 1 hour") &&
        col("view_ts") <= col("purchase_ts"),
      joinType)

  private def purchasesOf(ev: DataFrame): DataFrame =
    ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("ts").as("purchase_ts"))

  private def viewsOf(ev: DataFrame): DataFrame =
    ev.filter(col("event_type") === "view")
      .select(col("event_id").as("view_id"), col("user_id").as("v_user_id"),
        col("ts").as("view_ts"))

  /** Batch form (oracled): per purchase, how many views the user made
    * in the preceding hour and when the last one was. */
  def purchaseViewJoin(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    viewPurchasePairs(purchasesOf(ev), viewsOf(ev))
      .groupBy("purchase_id", "user_id", "purchase_ts")
      .agg(count(lit(1)).as("n_views_1h"), max("view_ts").as("last_view_ts"))
      .orderBy("purchase_id")
  }

  /** Stream-stream interval join: both sides watermarked, the range
    * condition bounds how long each side's state lives (a view can
    * only match purchases up to 1 h later, so the store evicts it at
    * watermark − 1 h) — the canonical unbounded-join-with-bounded-
    * state shape. Emits the raw joined pairs in append mode;
    * `EventsStreamSpec` asserts they equal the batch pairs. */
  /** Batch form (oracled): purchase conversion attribution INCLUDING
    * the view-less purchases [[purchaseViewJoin]]'s inner join drops —
    * the left-outer variant every funnel report needs (the
    * unattributed count IS the headline number). `count(view_id)`
    * counts matches only, so no-view purchases carry 0 and a null
    * last-view timestamp. */
  def purchaseConversion(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    viewPurchasePairs(purchasesOf(ev), viewsOf(ev), "left_outer")
      .groupBy("purchase_id", "user_id", "purchase_ts")
      .agg(count(col("view_id")).as("n_views_1h"),
        max("view_ts").as("last_view_ts"))
      .select(col("purchase_id"), col("user_id"), col("purchase_ts"),
        col("n_views_1h"),
        when(col("n_views_1h") > 0, 1).otherwise(0).as("attributed"),
        col("last_view_ts"))
      .orderBy("purchase_id")
  }

  /** Streaming left-outer interval join: same pair semantics, but
    * unmatched purchases emit their null-view row only once BOTH
    * watermarks pass the purchase's join window — the state-cleanup
    * contract that bounds the join buffer at scale. Stream ≡ batch
    * asserted in `EventsStreamSpec` (with sentinel rows advancing
    * the watermarks so trailing outer rows flush). */
  def purchaseConversionStream(s: SparkSession, dir: String): DataFrame = {
    def raw() = streamEvents(s, dir)
    val p = purchasesOf(raw()).withWatermark("purchase_ts", "2 hours")
    val v = viewsOf(raw()).withWatermark("view_ts", "2 hours")
    viewPurchasePairs(p, v, "left_outer")
      .select("purchase_id", "view_id", "user_id", "purchase_ts", "view_ts")
  }

  def purchaseViewStream(s: SparkSession, dir: String): DataFrame = {
    def raw() = streamEvents(s, dir)
    val p = purchasesOf(raw()).withWatermark("purchase_ts", "2 hours")
    val v = viewsOf(raw()).withWatermark("view_ts", "2 hours")
    viewPurchasePairs(p, v)
      .select("purchase_id", "view_id", "user_id", "purchase_ts", "view_ts")
  }

  /** Streaming AS-OF — the watermarked stream-stream twin of the
    * custom merge-scan operator's tolerance face
    * (`events_asof_last_touch_1h`, [[graft.operators.AsOf]]). A
    * stream cannot wait forever for "the latest prior row", but WITH
    * a tolerance the backward as-of is exactly "latest in-window
    * match": tolerance-bounded interval LEFT OUTER join (the range
    * condition bounds both sides' state, as in
    * [[purchaseConversionStream]]) chained into an event-time
    * aggregation (Spark's multiple-stateful-operator support) whose
    * `max(struct(view_ts, view_id))` reduces each purchase's
    * in-window views to the LATEST — emitted, append mode, once the
    * propagated watermark closes the purchase; purchases with no
    * in-window view emit their null-view row when both watermarks
    * pass. State: join buffer bounded by the 1 h window + watermark,
    * aggregation one row per open purchase. Stream ≡ batch asserted
    * in `EventsStreamSpec` against the declared oracled query — and
    * holds by CONSTRUCTION even under duplicate (user, ts) views:
    * the batch operator pins the same max-id tie-break
    * (`AsOf.join(tieBreak = "view_id")`) that `max(struct(view_ts,
    * view_id))` computes here. */
  def asofLastTouchStream(s: SparkSession, dir: String): DataFrame = {
    def raw() = streamEvents(s, dir)
    val p = purchasesOf(raw()).withWatermark("purchase_ts", "2 hours")
    val v = viewsOf(raw()).withWatermark("view_ts", "2 hours")
    viewPurchasePairs(p, v, "left_outer")
      .groupBy(col("purchase_id"), col("user_id"), col("purchase_ts"))
      .agg(max(struct(col("view_ts"), col("view_id"))).as("m"))
      .select(col("purchase_id"), col("user_id"), col("purchase_ts"),
        col("m.view_id").as("view_id"), col("m.view_ts").as("view_ts"),
        (unix_micros(col("purchase_ts")) - unix_micros(col("m.view_ts")))
          .as("micros_since_view"))
  }

  private val ApproxPcts = Seq(0.5, 0.95, 0.99)
  private val ApproxAcc = 1000

  /** Approximate value quantiles — the 100 TB form of
    * [[valueQuantiles]]: `percentile_approx` (Greenwald-Khanna sketch;
    * one pass, mergeable partials, bounded memory) instead of the
    * exact `percentile`, which buffers every value of a group. The
    * sketch is engine-specific, so its values can't be replayed by
    * the DuckDB oracle; instead the query CERTIFIES itself in-plan:
    * a second counted pass computes each approx value's true rank
    * range and emits `approx_within_bound` = whether the target
    * percentile falls inside it ± the Greenwald-Khanna guarantee of
    * 2/accuracy (the sketch maintains g+Δ ≤ 2εn; measured errors on
    * this data sit at ~1.0ε, i.e. right at the tighter single-sided
    * bound, occasionally a hair over — 2ε is the provable envelope).
    * The oracle expects literal TRUE — if the sketch ever violates
    * its guarantee, the hash gate fails. Both passes are scale-safe:
    * the quantile table is percentiles × types (tiny, broadcast), the
    * rank pass is one map-side-combined aggregation over events.
    * `EventsStreamSpec` additionally bounds the approx values against
    * the exact anchor query. */
  def valueQuantilesApprox(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir).select("event_type", "value")
    val apx = ev.groupBy("event_type")
      .agg(
        percentile_approx(col("value"),
          typedlit(ApproxPcts), lit(ApproxAcc)).as("apxs"),
        count(lit(1)).as("n_values"))
      .select(col("event_type"), col("n_values"),
        posexplode(col("apxs")).as(Seq("i", "apx")))
      .select(col("event_type"), col("n_values"),
        element_at(typedlit(ApproxPcts), col("i") + 1).as("pctl"), col("apx"))
    val eps = 2.0 / ApproxAcc
    ev.join(broadcast(apx), Seq("event_type"))
      .groupBy("event_type", "pctl", "n_values")
      .agg(
        avg(when(col("value") < col("apx"), 1.0).otherwise(0.0)).as("lo"),
        avg(when(col("value") <= col("apx"), 1.0).otherwise(0.0)).as("hi"))
      .withColumn("approx_within_bound",
        col("pctl") >= col("lo") - lit(eps) && col("pctl") <= col("hi") + lit(eps))
      .select("event_type", "pctl", "n_values", "approx_within_bound")
      .orderBy("event_type", "pctl")
  }

  private val HistW = 50.0  // bucket width; values land in [0, 500)
  private val HistBins = 10

  /** Equi-width value histogram per event type — the binning
    * companion of the quantile queries (a dashboard's latency/value
    * distribution panel). Expressed as pure floor arithmetic
    * (portable to any engine, unlike `width_bucket`); the aggregate
    * is map-side combinable, so the shuffle carries one row per
    * (type, bucket) — bins × types, never events. */
  def valueHistogram(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .select(col("event_type"),
        least(floor(col("value") / HistW), lit(HistBins - 1L)).as("bucket"))
      .groupBy("event_type", "bucket")
      .agg(count(lit(1)).as("n"))
      .select(col("event_type"), col("bucket"),
        (col("bucket") * HistW).as("lo"),
        ((col("bucket") + 1) * HistW).as("hi"), col("n"))
      .orderBy("event_type", "bucket")

  private val TopUsers = 20

  /** One-pass count–min sketch over the user key
    * ([[graft.operators.Relational.countMin]]). */
  private[graft] def userCms(df: DataFrame): org.apache.spark.util.sketch.CountMinSketch =
    graft.operators.Relational.countMin(df.select("user_id"))

  /** Count–min heavy hitters over the event stream's user key,
    * certified in-plan like [[valueQuantilesApprox]]: every exact
    * top-20 user count must satisfy exact ≤ est ≤ exact + ε·N
    * ([[graft.operators.Relational.cmsCertifiedTop]]).
    *
    * This is also the STREAMING sketch story: CMS is linear (counters
    * add), so per-micro-batch partial sketches merged with
    * `mergeInPlace` equal the one-shot batch sketch EXACTLY (same
    * seed/depth/width) — `EventsStreamSpec` asserts bit-equal
    * estimates between the micro-batch merge and this batch build.
    * At 100 TB/day the sketch is the only heavy-hitter state a
    * streaming job needs to keep. */
  def cmsHeavyUsers(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir).select("user_id")
    val top = ev.groupBy("user_id").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("user_id").asc).limit(TopUsers)
    graft.operators.Relational.cmsCertifiedTop[Long](ev, top)
  }

  case class FunnelState(t1: Option[java.sql.Timestamp],
      t2: Option[java.sql.Timestamp], t3: Option[java.sql.Timestamp],
      t4: Option[java.sql.Timestamp])
  case class FunnelRow(user_id: Long, t1: Option[java.sql.Timestamp],
      t2: Option[java.sql.Timestamp], t3: Option[java.sql.Timestamp],
      t4: Option[java.sql.Timestamp])

  /** The funnel's strict-after stage transition — shared by the batch
    * fold ([[funnelCounts]]) and the streaming state machine
    * ([[funnelStream]]), so stream ≡ batch holds by construction for
    * in-order input. */
  private def funnelAdvance(st: FunnelState, ts: java.sql.Timestamp,
      et: String): FunnelState = et match {
    case "signup" if st.t1.isEmpty => st.copy(t1 = Some(ts))
    case "view" if st.t2.isEmpty &&
      st.t1.exists(ts.compareTo(_) > 0) => st.copy(t2 = Some(ts))
    case "click" if st.t3.isEmpty &&
      st.t2.exists(ts.compareTo(_) > 0) => st.copy(t3 = Some(ts))
    case "purchase" if st.t4.isEmpty &&
      st.t3.exists(ts.compareTo(_) > 0) => st.copy(t4 = Some(ts))
    case _ => st
  }

  /** Streaming funnel: per-user stage timestamps as
    * `mapGroupsWithState` state — one tiny record per user, updated
    * through [[funnelAdvance]] with each batch's rows sorted by
    * event time first. Update mode re-emits a user's row when their
    * funnel advances. A funnel state machine needs per-user
    * event-time order; across micro-batches that means in-order
    * arrival (or a watermark-delayed sort upstream) — in-batch
    * disorder is handled by the sort. `EventsStreamSpec` asserts the
    * final states reproduce the batch [[funnelCounts]]. */
  def funnelStream(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.streaming.GroupStateTimeout
    streamEvents(s, dir)
      .select(col("user_id"), col("ts"), col("event_type"))
      .as[(Long, java.sql.Timestamp, String)]
      .groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[(Long, java.sql.Timestamp, String)],
         state: org.apache.spark.sql.streaming.GroupState[FunnelState]) =>
          var st = state.getOption
            .getOrElse(FunnelState(None, None, None, None))
          rows.toSeq.sortBy(r => (r._2.getTime, r._2.getNanos, r._3))
            .foreach { case (_, ts, et) => st = funnelAdvance(st, ts, et) }
          state.update(st)
          FunnelRow(user, st.t1, st.t2, st.t3, st.t4)
      }
      .toDF()
  }

  /** Ordered conversion funnel (signup → view → click → purchase):
    * how many users reach each stage, where a stage counts only if it
    * happens STRICTLY AFTER the previous one — the event-analytics
    * query every product dashboard leads with, and one a naive
    * GROUP BY cannot express (stage k's filter depends on stage
    * k−1's timestamp).
    *
    * Plan: ONE shuffle (groupBy user) collects each user's events
    * into a ts-sorted array, then a higher-order `aggregate` fold
    * walks it once carrying the four stage timestamps — the set-based
    * replacement for the 3-join chain (4 shuffles) the relational
    * formulation needs. Per-user arrays are bounded by per-user
    * activity, not corpus size. Tie discipline: an event at exactly
    * the previous stage's timestamp does NOT advance the funnel
    * (strict `>`), so equal-ts array order cannot matter. The oracle
    * states the same semantics as chained relational CTEs. */
  def funnelCounts(s: SparkSession, dir: String): DataFrame =
    funnelOf(Tables.events(s, dir))

  /** [[funnelCounts]] over an arbitrary (user_id, ts, event_type)
    * frame — property tests drive this directly. */
  def funnelOf(events: DataFrame): DataFrame = {
    val nullTs = lit(null).cast("timestamp")
    def t(acc: org.apache.spark.sql.Column, f: String) = acc.getField(f)
    val zero = struct(nullTs.as("t1"), nullTs.as("t2"),
      nullTs.as("t3"), nullTs.as("t4"))
    def step(prev: org.apache.spark.sql.Column,
        cur: org.apache.spark.sql.Column, stage: String,
        e: org.apache.spark.sql.Column) =
      when(cur.isNull && prev.isNotNull &&
        e.getField("et") === stage && e.getField("ts") > prev,
        e.getField("ts")).otherwise(cur)
    val folded = aggregate(col("evs"), zero, (acc, e) => struct(
      when(t(acc, "t1").isNull && e.getField("et") === "signup",
        e.getField("ts")).otherwise(t(acc, "t1")).as("t1"),
      step(t(acc, "t1"), t(acc, "t2"), "view", e).as("t2"),
      step(t(acc, "t2"), t(acc, "t3"), "click", e).as("t3"),
      step(t(acc, "t3"), t(acc, "t4"), "purchase", e).as("t4")))
    events
      .groupBy("user_id")
      .agg(sort_array(collect_list(
        struct(col("ts"), col("event_type").as("et")))).as("evs"))
      .select(folded.as("f"))
      .agg(
        count(col("f.t1")).as("signup_users"),
        count(col("f.t2")).as("view_users"),
        count(col("f.t3")).as("click_users"),
        count(col("f.t4")).as("purchase_users"))
  }

  /** Retention cohorts: users grouped by first-seen day, counted on
    * each later active day — the second marquee event-analytics
    * query. (user, day) pre-distincts (map-side combine), the cohort
    * map is corpus-derived → joins SHUFFLE-HASH on the already-
    * co-partitioned user key, and the final aggregate is
    * (cohort, offset)-sized. */
  def retentionCohorts(s: SparkSession, dir: String): DataFrame = {
    val days = Tables.events(s, dir)
      .select(col("user_id"), to_date(col("ts")).as("day")).distinct()
    val cohort = days.groupBy("user_id").agg(min("day").as("cohort_day"))
    days.join(cohort.hint("shuffle_hash"), Seq("user_id"))
      .groupBy(col("cohort_day"),
        datediff(col("day"), col("cohort_day")).as("day_offset"))
      .agg(count(lit(1)).as("n_users"))
      .orderBy("cohort_day", "day_offset")
  }

  /** Per-type weight dimension (mean event value via the exact
    * decimal path) — the STATIC side of the stream-static join. */
  private[graft] def typeWeights(events: DataFrame): DataFrame =
    events.groupBy("event_type")
      .agg(davg(col("value")).as("type_weight"))

  /** Shared transform for the stream-static enrichment: join each
    * event to its type's static weight (dimension side broadcasts —
    * the canonical enrichment shape), then daily weighted totals. */
  private def enrichedTransform(events: DataFrame, dim: DataFrame): DataFrame =
    events.join(broadcast(dim), Seq("event_type"))
      .groupBy(window(col("ts"), "1 day").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        r4(dsum(col("value") * col("type_weight"))).as("weighted_value"))
      .select(col("w.start").as("day_start"), col("event_type"),
        col("n_events"), col("weighted_value"))

  /** Batch form (oracled). */
  def enrichedDaily(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    enrichedTransform(ev, typeWeights(ev)).orderBy("day_start", "event_type")
  }

  /** Stream-static join — the Structured Streaming join shape the
    * surface hadn't covered (stream-stream interval join exists):
    * an unbounded stream enriched against a bounded dimension
    * snapshot, re-read per micro-batch, dimension side broadcast.
    * `EventsStreamSpec` asserts stream ≡ batch. */
  def enrichedStream(s: SparkSession, dir: String): DataFrame = {
    val stream = streamEvents(s, dir).withWatermark("ts", "2 hours")
    enrichedTransform(stream, typeWeights(Tables.events(s, dir)))
  }

  /** Per-user activity intervals — the SCD-2 (slowly-changing-
    * dimension) shape: each event opens a validity interval that the
    * user's NEXT event closes (`lead`, the one window primitive the
    * surface hadn't exercised; null valid_to = current state). The
    * window partitions by user — bounded rows per task at any corpus
    * size — with (ts, event_id) ordering for tie determinism. */
  def typeIntervals(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("valid_from", "event_id")
    Tables.events(s, dir)
      .select(col("user_id"), col("event_id"), col("event_type"),
        col("ts").as("valid_from"))
      .withColumn("valid_to", lead(col("valid_from"), 1).over(w))
      .orderBy("user_id", "valid_from", "event_id")
  }

  /** Distinct users per event type, exact + HLL-certified — completes
    * the sketch family (GK quantiles, CMS counts, HLL cardinality):
    * at 100 TB the exact two-phase `COUNT(DISTINCT)` shuffle swaps
    * for the constant-memory mergeable HLL sketch; here the sketch
    * estimate is CERTIFIED in-plan against the exact count (generous
    * 3σ envelope for rsd 0.05) and the oracle expects TRUE, so a
    * broken sketch hash-mismatches. */
  def hllUsersPerType(s: SparkSession, dir: String): DataFrame =
    Tables.events(s, dir)
      .groupBy("event_type")
      .agg(countDistinct(col("user_id")).as("exact_users"),
        approx_count_distinct(col("user_id"), 0.05).as("approx"))
      .withColumn("within_bound",
        abs(col("approx") - col("exact_users")) <=
          greatest(lit(3L), (col("exact_users") * 0.15).cast("long")))
      .select(col("event_type"), col("exact_users"), col("within_bound"))
      .orderBy("event_type")

  private val BotMinEvents = 10
  private val BotTopK = 20

  /** Bot-likeness by inter-event REGULARITY: per user, the
    * coefficient of variation of consecutive event gaps — humans are
    * bursty (CV ≈ 1 for Poisson arrivals, higher with sessions),
    * schedulers are metronomes (CV → 0). The abuse-detection pass an
    * event pipeline runs before engagement stats. Returns the
    * [[BotTopK]] most-regular users with ≥ [[BotMinEvents]] events.
    *
    * Shape: one user-partitioned lag for gaps, then per-user
    * aggregates carrying EXACT sums only — Σgap as long, Σgap² through
    * DECIMAL(38,0) (a 30-day micro gap squares to ~7·10²⁴, past
    * long) — so shuffle order cannot move a bit; mean/σ/CV re-derive
    * in double through one fixed IEEE tree (n·Σx² − (Σx)² form) on
    * both engines, rank on the ROUNDED CV with user tie-break, top-k
    * as TakeOrderedAndProject. */
  private val DecayHalflifeUs = 8.64e10 // 24 h in microseconds

  /** Exponentially TIME-DECAYED event counts per type — the trending
    * readout a feed/monitoring pipeline keeps next to plain counts:
    * each event contributes `2^(−Δt/halflife)` toward its type, Δt
    * measured back from the corpus horizon (max ts), so a type whose
    * volume is recent out-scores an equal-volume type whose traffic
    * is stale (`recency_score` = decayed/raw makes that contrast
    * explicit). The half-life form is the batch face of the classic
    * streaming decayed counter (Cormode et al. forward/backward
    * decay): the decayed sum is MERGEABLE (partials decay-shift by
    * their own horizons), so map-side combine applies exactly as for
    * a plain count.
    *
    * Scale shape: one scan, one 1-row horizon broadcast (no driver
    * action), one pre-combined groupBy on the type key. Determinism:
    * the per-event `pow` rounds to 8 dp into exact DECIMAL before the
    * sum (the repo's libm-ulp discipline), output rounds to 4 dp. */
  def decayCounts(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
      .select(col("event_type"), unix_micros(col("ts")).as("tsu"))
    val horizon = ev.agg(max("tsu").as("h"))
    val contrib = round(
      pow(lit(2.0),
        -(col("h") - col("tsu")).cast("double") / lit(DecayHalflifeUs)), 8)
      .cast("decimal(25,8)")
    ev.crossJoin(broadcast(horizon))
      .select(col("event_type"), contrib.as("c"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_events"), sum(col("c")).as("ds"))
      .select(col("event_type"), col("n_events"),
        round(col("ds").cast("double"), 4).as("decayed_count"),
        round(col("ds").cast("double") / col("n_events"), 4)
          .as("recency_score"))
      .orderBy(col("decayed_count").desc, col("event_type").asc)
  }

  def botScores(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy("tsu", "event_id")
    val gaps = Tables.events(s, dir)
      .select(col("user_id"), col("event_id"), unix_micros(col("ts")).as("tsu"))
      .withColumn("gap", col("tsu") - lag("tsu", 1).over(w))
      .filter(col("gap").isNotNull)
    gaps.groupBy("user_id")
      .agg(count(lit(1)).as("n_gaps"),
        sum("gap").as("s1"),
        sum(col("gap").cast("decimal(38,0)") * col("gap")).as("s2"))
      .filter(col("n_gaps") >= BotMinEvents - 1)
      .withColumn("mean_gap_s",
        col("s1").cast("double") / col("n_gaps") / lit(1e6))
      .withColumn("cv", r4(
        sqrt(greatest(
          (col("n_gaps") * col("s2").cast("double")
            - col("s1").cast("double") * col("s1").cast("double"))
            / (col("n_gaps") * col("n_gaps")).cast("double"),
          lit(0.0))) / (col("s1").cast("double") / col("n_gaps"))))
      .select(col("user_id"), col("n_gaps"),
        r4(col("mean_gap_s")).as("mean_gap_s"), col("cv"))
      .orderBy(col("cv").asc, col("user_id").asc)
      .limit(BotTopK)
  }

  /** Sketch SET ALGEBRA: the daily overlap of view-users and
    * purchase-users by inclusion-exclusion over mergeable HLL
    * sketches — est|A∩B| = est A + est B − est(A∪B), the union
    * coming from `hll_union_agg` of the two per-day sketches. This
    * is the audience-overlap query COUNT(DISTINCT) cannot serve
    * from pre-aggregated state (distinct counts don't intersect;
    * sketches do, from the same per-(day, type) sketch table the
    * rollup family already maintains). Exact overlap computed
    * alongside (one (day, user) pre-distinct, flags both types);
    * the estimate certifies in-plan against it — bound 15% of
    * |A|+|B| (inclusion-exclusion COMPOUNDS the three estimates'
    * error, so the honest bound is on the input magnitudes, not the
    * small difference) — and the oracle expects TRUE. Days lacking
    * either type drop (no overlap to estimate). */
  def hllIntersection(s: SparkSession, dir: String): DataFrame =
    hllIntersectionGated(s, dir, GateRows)

  private[graft] def hllIntersectionGated(s: SparkSession, dir: String,
      gateRows: Long): DataFrame = {
    // r12 gate-bound (the certSample discipline): the exact per-day
    // view/purchase/both distinct counts exist to certify the
    // inclusion–exclusion sketch estimate, and they re-shuffle the
    // user-day stream — the one term that grows with the corpus.
    // Above the gate BOTH sides (exact and sketch) restrict to the
    // same deterministic md5 USER cohort (per-day counts stay exact
    // for kept users), so the certification compares like with like
    // at gate-pinned cost; cert_sampled states the regime in-row.
    val evAll = Tables.events(s, dir)
    val population = Tables.rowCount(s, dir, "events")
    val ev = Tables.certSample(evAll, col("user_id"), population, gateRows)
      .filter(col("event_type").isin("view", "purchase"))
      .select(to_date(col("ts")).as("day"), col("event_type"), col("user_id"))
    val sk = ev.groupBy("day", "event_type")
      .agg(hll_sketch_agg(col("user_id")).as("sk"),
        countDistinct(col("user_id")).as("ex"))
      .withColumn("est", hll_sketch_estimate(col("sk")))
    val byDay = sk.groupBy("day").agg(
      max(when(col("event_type") === "view", col("ex"))).as("exact_view"),
      max(when(col("event_type") === "purchase", col("ex"))).as("exact_purchase"),
      max(when(col("event_type") === "view", col("est"))).as("est_view"),
      max(when(col("event_type") === "purchase", col("est"))).as("est_purchase"),
      hll_sketch_estimate(hll_union_agg(col("sk"))).as("est_union"))
    val both = ev.select("day", "event_type", "user_id").distinct()
      .groupBy("day", "user_id")
      .agg(count(lit(1)).as("nt"))
      .filter(col("nt") === 2)
      .groupBy("day").agg(count(lit(1)).as("exact_both"))
    byDay
      .filter(col("exact_view").isNotNull && col("exact_purchase").isNotNull)
      .join(both, Seq("day"), "left_outer")
      .na.fill(0L, Seq("exact_both"))
      .withColumn("est_both",
        greatest(col("est_view") + col("est_purchase") - col("est_union"), lit(0L)))
      .select(col("day"), col("exact_view"), col("exact_purchase"),
        col("exact_both"),
        (abs(col("est_both") - col("exact_both")) <=
          greatest(lit(5L),
            ((col("exact_view") + col("exact_purchase")) * 0.15).cast("long")))
          .as("certified"),
        lit(population > gateRows).as("cert_sampled"))
      .orderBy("day")
  }

  /** Mergeable-sketch ROLLUP — the re-aggregation property that makes
    * sketches the 100 TB cube currency: the monthly distinct-user
    * estimate derives ONLY from unioning the per-day Datasketches HLL
    * sketches ([[org.apache.spark.sql.functions.hll_union_agg]]) —
    * the raw events are never rescanned at the coarser grain, which
    * is exactly how an OLAP cube serves COUNT(DISTINCT) at every
    * hierarchy level from one pass. `countDistinct` cannot do this
    * (distinct counts don't add); [[hllUsersPerType]]'s
    * `approx_count_distinct` can't either (it exposes no sketch to
    * re-union). Certified in-plan against the exact monthly count, so the
    * oracle expects TRUE and any estimate drift breaks the gate. */
  def hllRollup(s: SparkSession, dir: String): DataFrame = {
    val ud = Tables.events(s, dir)
      .select(to_date(col("ts")).as("day"), col("user_id"))
    val daily = ud.groupBy("day")
      .agg(hll_sketch_agg(col("user_id")).as("sk"))
    val monthly = daily
      .groupBy(graft.functions.CalendarColumns.monthStart(col("day"))
        .as("month"))
      .agg(count(lit(1)).as("n_days"),
        hll_sketch_estimate(hll_union_agg(col("sk"))).as("approx"))
    val exact = ud.distinct()
      .groupBy(graft.functions.CalendarColumns.monthStart(col("day"))
        .as("month"))
      .agg(countDistinct(col("user_id")).as("exact_users"))
    monthly.join(exact, Seq("month"))
      .select(col("month"), col("n_days"), col("exact_users"),
        (abs(col("approx") - col("exact_users")) <=
          greatest(lit(3L), (col("exact_users") * 0.05).cast("long")))
          .as("certified"))
      .orderBy("month")
  }

  /** DAU / rolling-7-day WAU / stickiness per day — the
    * product-analytics staple that needs a DISTINCT over a sliding
    * window, which no window function expresses: the scalable shape
    * is the (day, user) pre-distinct joined against the calendar-
    * sized day spine (a ≤ 7× bounded expansion of user-days), then a
    * per-day distinct count. The spine side broadcasts — it is
    * calendar-derived, never corpus-sized. At 100 TB the per-day
    * exact distinct swaps for mergeable HLL sketches unioned over the
    * trailing window (the [[hllUsersPerType]] pattern); this exact
    * form is its recall oracle. Stickiness divides two exact integers
    * — deterministic on both engines. Above [[GateRows]] the exact
    * face runs on a deterministic md5-keyed USER cohort (cohort, not
    * rows: per-day distinct counts stay exact for the kept users), so
    * its cost is pinned at gate scale while [[wauSketch]] carries the
    * full-population readout. */
  def dauWau(s: SparkSession, dir: String): DataFrame =
    dauWauGated(s, dir, GateRows)

  private[graft] def dauWauGated(s: SparkSession, dir: String,
      gateRows: Long): DataFrame = {
    val ev = Tables.events(s, dir)
    val population = Tables.rowCount(s, dir, "events")
    val ud = Tables.certSample(ev, col("user_id"), population, gateRows)
      .select(to_date(col("ts")).as("day"), col("user_id"))
      .distinct()
    val days = ud.select("day").distinct()
    val dau = ud.groupBy("day").agg(count(lit(1)).as("dau"))
    val wau = ud.toDF("uday", "user_id")
      .join(broadcast(days),
        col("uday").between(date_sub(col("day"), 6), col("day")))
      .groupBy("day")
      .agg(countDistinct(col("user_id")).as("wau"))
    dau.join(wau, Seq("day"))
      .select(col("day"), col("dau"), col("wau"),
        graft.functions.Num.r4(col("dau").cast("double") / col("wau"))
          .as("stickiness"),
        // regime indicator (r12): above the gate dau/wau are COHORT
        // counts under the same names — state it in the row
        lit(population > gateRows).as("cert_sampled"))
      .orderBy("day")
  }

  /** [[dauWau]]'s 100 TB form — the sketch path it documents: per-day
    * HLL sketches of the user set (`hll_sketch_agg`, the mergeable
    * Apache DataSketches HLL), unioned over each trailing 7-day
    * window (`hll_union_agg`) and estimated. The trailing union
    * shuffles #days × ~KB sketches — constant per day — where the
    * exact path re-shuffles user-days into every window it covers.
    * Certified in-plan like the other sketch queries: the estimate
    * must land within a generous envelope of the exact WAU (HLL
    * lgConfigK=12 ⇒ rsd ≈ 1.6%; the bound allows 15% or ±3), the
    * oracle expects TRUE, and only exact values are output. Above
    * [[GateRows]] BOTH sides (sketch and exact) run on the same
    * deterministic user cohort: the certification compares like with
    * like at gate-pinned cost — the exact side's 7× user-day
    * re-shuffle is the term that grows with the corpus, and it only
    * exists to certify the sketch. */
  def wauSketch(s: SparkSession, dir: String): DataFrame =
    wauSketchGated(s, dir, GateRows)

  private[graft] def wauSketchGated(s: SparkSession, dir: String,
      gateRows: Long): DataFrame = {
    val ev = Tables.events(s, dir)
    val population = Tables.rowCount(s, dir, "events")
    val ud = Tables.certSample(ev, col("user_id"), population, gateRows)
      .select(to_date(col("ts")).as("day"), col("user_id"))
      .distinct()
    val days = ud.select("day").distinct()
    val daySketch = ud.groupBy("day")
      .agg(hll_sketch_agg(col("user_id")).as("sk"))
    val approx = daySketch.toDF("sday", "sk")
      .join(broadcast(days),
        col("sday").between(date_sub(col("day"), 6), col("day")))
      .groupBy("day")
      .agg(hll_sketch_estimate(hll_union_agg(col("sk"))).as("approx"))
    val exact = ud.toDF("uday", "user_id")
      .join(broadcast(days),
        col("uday").between(date_sub(col("day"), 6), col("day")))
      .groupBy("day")
      .agg(countDistinct(col("user_id")).as("wau"))
    exact.join(approx, Seq("day"))
      .withColumn("within_bound",
        abs(col("approx") - col("wau")) <=
          greatest(lit(3L), (col("wau") * 0.15).cast("long")))
      .select(col("day"), col("wau"), col("within_bound"),
        // regime indicator (r12): above the gate wau is the COHORT
        // count and the certification compares cohort-to-cohort
        lit(population > gateRows).as("cert_sampled"))
      .orderBy("day")
  }

  /** First-order type-transition matrix over each user's event
    * sequence — the Markov-chain view of user behavior (what follows
    * what): consecutive-pair counts via `lead` over the per-user
    * window (bounded rows per task at any corpus size; (ts, event_id)
    * ordering for tie determinism), then transition probabilities
    * row-normalized by a window over the PRE-REDUCED #types² matrix.
    * Probabilities are exact bigint ratios derived in double through
    * the identical expression tree on both engines. */
  def typeTransitions(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val pairs = Tables.events(s, dir)
      .select(col("user_id"), col("event_type"), col("ts"), col("event_id"))
      .withColumn("next_type", lead(col("event_type"), 1).over(w))
      .filter(col("next_type").isNotNull)
      .groupBy("event_type", "next_type")
      .agg(count(lit(1)).as("n"))
    val wt = Window.partitionBy("event_type")
    pairs
      .withColumn("p", r4(col("n").cast("double") /
        sum(col("n")).over(wt).cast("double")))
      .orderBy("event_type", "next_type")
  }

  /** [[enrichedDaily]] through the salted-join path
    * ([[graft.operators.SkewJoin]]): event_type is the textbook skewed
    * key — a handful of values over the whole fact table — and the
    * dimension here stands in for a build side too large to
    * broadcast. The salt spreads each hot type over 8 reducers; the
    * oracle is the plain enrichment SQL, so the salted plan must be
    * row-for-row identical to the broadcast plan. */
  private def dailyWeightedAgg(joined: DataFrame): DataFrame =
    joined
      .groupBy(window(col("ts"), "1 day").as("w"), col("event_type"))
      .agg(count(lit(1)).as("n_events"),
        r4(dsum(col("value") * col("type_weight"))).as("weighted_value"))
      .select(col("w.start").as("day_start"), col("event_type"),
        col("n_events"), col("weighted_value"))

  def enrichedDailySalted(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    dailyWeightedAgg(graft.operators.SkewJoin.saltedEquiJoin(
        ev, typeWeights(ev), "event_type", col("event_id"), salts = 8))
      .orderBy("day_start", "event_type")
  }

  /** The salted join on an unbounded stream — where salting earns its
    * keep: AQE's skew-join splitting cannot rewrite a STREAMING
    * stream-static join, so a hot key's micro-batch rows land on one
    * task forever unless the key is widened at plan time. Same
    * builder, same oracle-checked semantics ([[enrichedDailySalted]]);
    * `EventsStreamSpec` asserts stream ≡ batch. */
  def enrichedStreamSalted(s: SparkSession, dir: String): DataFrame = {
    val stream = streamEvents(s, dir).withWatermark("ts", "2 hours")
    dailyWeightedAgg(graft.operators.SkewJoin.saltedEquiJoin(
      stream, typeWeights(Tables.events(s, dir)),
      "event_type", col("event_id"), salts = 8))
  }

  /** Trailing-window z-score anomaly detection over daily event
    * counts — the monitoring query a pipeline runs over its own
    * ingest volumes: each (type, day) count is scored against the
    * mean/σ of the 7 preceding days of that type. The window runs
    * over the PRE-REDUCED daily aggregate (≤ #types × #days rows at
    * any corpus size), partitioned by type — never over raw events.
    *
    * Determinism: the trailing mean/variance derive from integer
    * window sums (Σx, Σx² of bigint counts — exact on both engines
    * regardless of accumulation order) through the closed form
    * n·Σx²−(Σx)², rather than the built-in `stddev` whose double
    * co-moment accumulation is merge-order-dependent. Days with a
    * constant trailing week (σ = 0) yield a null z-score and are
    * never flagged. */
  private val AnomalyZ = 3.0

  def anomalyDaily(s: SparkSession, dir: String): DataFrame =
    anomalyScore(Tables.events(s, dir)
      .groupBy(col("event_type"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n")))

  /** The scoring stage of [[anomalyDaily]] over a pre-aggregated
    * (event_type, day, n) frame — separated so tests can drive the
    * σ = 0 (constant trailing week) branch with a synthetic series. */
  private[graft] def anomalyScore(daily: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("event_type").orderBy("day")
      .rowsBetween(-7, -1)
    // n·Σx²−(Σx)² in pure bigint — exact, order-independent — then
    // one double derivation shared verbatim with the oracle
    val varN = col("cnt") * col("s2") - col("s1") * col("s1")
    val mean = col("s1").cast("double") / col("cnt").cast("double")
    val sd = sqrt(varN.cast("double") /
      (col("cnt") * (col("cnt") - 1L)).cast("double"))
    val z = (col("n").cast("double") - mean) / sd
    daily
      .withColumn("cnt", count(lit(1)).over(w))
      .withColumn("s1", sum(col("n")).over(w))
      .withColumn("s2", sum(col("n") * col("n")).over(w))
      .filter(col("cnt") === 7)
      .select(col("event_type"), col("day"), col("n"),
        r4(mean).as("trail_mean"),
        r4(sd).as("trail_sd"),
        when(varN > 0, r4(z)).as("zscore"),
        (varN > 0 && abs(z) > AnomalyZ).as("anomaly"))
      .orderBy("event_type", "day")
  }

  /** Top-3 event types per day by volume — the per-window leaderboard
    * every analytics dashboard carries. The ranking window runs over
    * the PRE-REDUCED (day × type) aggregate — ≤ #days · #types rows
    * at any corpus size — and is partitioned by day, so no global
    * ranking task exists; the aggregate itself pre-combines map-side.
    * Ties break deterministically on the type name. */
  def dailyTopTypes(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val agg = Tables.events(s, dir)
      .groupBy(col("ts").cast("date").as("d"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
    val w = Window.partitionBy("d")
      .orderBy(col("n_events").desc, col("event_type").asc)
    agg.withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= 3)
      .orderBy("d", "rk")
  }

  /** At-least-once replay dedup — the idempotent-ingestion operator
    * every event pipeline needs at the front door: upstream delivery
    * (Kafka consumers, retried file loads) hands the same event more
    * than once, and exactly one row per `event_id` must survive. The
    * replayed input is modeled honestly as the corpus unioned with
    * itself (every event delivered twice); the dedup is a keyed
    * `dropDuplicates` — a partial+final aggregate on the 16-byte key,
    * so each map task pre-dedups its partition before the one
    * key-hash shuffle, and no task ever holds more than its share of
    * DISTINCT keys. Duplicate deliveries are byte-identical (as
    * replays are), so keyed dedup ≡ `SELECT DISTINCT *` — the form
    * the oracle states. Streaming form: [[dedupReplayStream]]. */
  def dedupReplay(s: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(s, dir)
    ev.unionAll(ev)
      .dropDuplicates("event_id")
      .orderBy("event_id")
  }

  /** Streaming form of [[dedupReplay]]:
    * `dropDuplicatesWithinWatermark` keyed on `event_id` under a 1 h
    * event-time watermark — state holds only keys younger than the
    * watermark, so an unbounded at-least-once stream dedups with
    * BOUNDED state (plain `dropDuplicates` on a stream retains every
    * key forever). Correct whenever the redelivery gap is under the
    * watermark delay — the Kafka-replay regime. Stream ≡ batch is
    * asserted in `EventsStreamSpec`. */
  def dedupReplayStream(s: SparkSession, dir: String): DataFrame =
    streamEvents(s, dir)
      .withWatermark("ts", "1 hour")
      .dropDuplicatesWithinWatermark("event_id")

  private val RateLimitPerDay = 3

  /** Per-user rate limiting — the admission-control / abuse-throttle
    * pass an event pipeline runs before aggregation: each user may
    * emit [[RateLimitPerDay]] events per UTC day; later events in the
    * day (event-time order, event_id tie-break) are THROTTLED. The
    * declared query reports each user's ledger: events seen, events
    * throttled, active days — the audit a quota system must produce.
    *
    * Batch form: one (user, day)-partitioned `row_number` over the
    * pre-projected stream — day-bounded partitions, never a global
    * window. The streaming twin ([[rateLimitStream]]) holds ONE
    * (current-day, count-in-day) pair per user in
    * `mapGroupsWithState` — bounded state regardless of history
    * length, the token-bucket shape — and `EventsStreamSpec` asserts
    * stream ≡ batch. */
  def rateLimit(s: SparkSession, dir: String): DataFrame =
    rateLimitOf(Tables.events(s, dir))

  private[graft] def rateLimitOf(events: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id", "day")
      .orderBy(col("ts").asc, col("event_id").asc)
    events
      .select(col("user_id"), col("event_id"), col("ts"),
        to_date(col("ts")).as("day"))
      .withColumn("rk", row_number().over(w))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("rk") > RateLimitPerDay, 1L).otherwise(0L))
          .as("n_throttled"),
        countDistinct(col("day")).as("n_days"))
      .orderBy("user_id")
  }

  case class RateState(day: Long, inDay: Long, total: Long,
      throttled: Long, days: Long)
  case class RateRow(user_id: Long, n_events: Long, n_throttled: Long,
      n_days: Long)

  /** Streaming twin of [[rateLimit]]: per-user token-bucket state —
    * (current epoch-day, count-in-day, running totals), one tiny
    * record per user, batch rows sorted by (ts, event_id) first
    * (the [[funnelStream]] in-order discipline). Update mode re-emits
    * a user's ledger as it advances. */
  def rateLimitStream(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    import org.apache.spark.sql.streaming.GroupStateTimeout
    streamEvents(s, dir)
      .select(col("user_id"), col("event_id"), col("ts"),
        datediff(to_date(col("ts")), lit("1970-01-01").cast("date"))
          .cast("long").as("day"))
      .as[(Long, Long, java.sql.Timestamp, Long)]
      .groupByKey(_._1)
      .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
        (user: Long, rows: Iterator[(Long, Long, java.sql.Timestamp, Long)],
         state: org.apache.spark.sql.streaming.GroupState[RateState]) =>
          var st = state.getOption.getOrElse(RateState(Long.MinValue, 0, 0, 0, 0))
          rows.toSeq.sortBy(r => (r._3.getTime, r._2)).foreach {
            case (_, _, _, day) =>
              if (day != st.day)
                st = st.copy(day = day, inDay = 0, days = st.days + 1)
              val throttle = if (st.inDay >= RateLimitPerDay) 1L else 0L
              st = st.copy(inDay = st.inDay + 1, total = st.total + 1,
                throttled = st.throttled + throttle)
          }
          state.update(st)
          RateRow(user, st.total, st.throttled, st.days)
      }
      .toDF()
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "events_rate_limit" -> (rateLimit _),
    "events_dedup_replay"   -> (dedupReplay _),
    "events_daily_top_types" -> (dailyTopTypes _),
    "events_anomaly_daily"  -> (anomalyDaily _),
    "events_wau_sketch"     -> (wauSketch _),
    "events_type_transitions" -> (typeTransitions _),
    "events_enriched_salted" -> (enrichedDailySalted _),
    "events_dau_wau"        -> (dauWau _),
    "events_funnel"         -> (funnelCounts _),
    "events_type_intervals" -> (typeIntervals _),
    "events_enriched_daily" -> (enrichedDaily _),
    "events_retention_cohorts" -> (retentionCohorts _),
    "events_hll_users"      -> (hllUsersPerType _),
    "events_hourly_by_type" -> (hourlyByType _),
    "events_sliding_hourly" -> (slidingHourly _),
    "events_hll_intersection" -> (hllIntersection _),
    "events_bot_scores"     -> (botScores _),
    "events_decay_counts"   -> (decayCounts _),
    "events_json_kv"        -> (jsonKv _),
    "events_sessionize"     -> (sessionize _),
    "events_value_quantiles" -> (valueQuantiles _),
    "events_value_quantiles_approx" -> (valueQuantilesApprox _),
    "events_value_histogram" -> (valueHistogram _),
    "events_cms_heavy_users" -> (cmsHeavyUsers _),
    "events_purchase_view_join" -> (purchaseViewJoin _),
    "events_purchase_conversion" -> (purchaseConversion _),
    "events_hll_rollup" -> (hllRollup _),
  )

  val oracleSql: Map[String, String] = Map(
    // day-partitioned rank with the identical (ts, event_id) order
    "events_rate_limit" ->
      s"""WITH r AS (SELECT user_id, CAST(ts AS DATE) AS day,
         |    row_number() OVER (PARTITION BY user_id, CAST(ts AS DATE)
         |      ORDER BY ts ASC, event_id ASC) AS rk
         |  FROM events)
         |SELECT user_id, CAST(count(*) AS BIGINT) AS n_events,
         |  CAST(sum(CASE WHEN rk > $RateLimitPerDay THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_throttled,
         |  CAST(count(DISTINCT day) AS BIGINT) AS n_days
         |FROM r GROUP BY 1 ORDER BY 1""".stripMargin,

    // duplicate deliveries are byte-identical, so keyed dedup on the
    // unique event_id equals full-row DISTINCT — the oracle states
    // the set semantics directly
    "events_dedup_replay" ->
      """SELECT DISTINCT event_id, ts, user_id, event_type, value, props
        |FROM (SELECT * FROM events UNION ALL SELECT * FROM events)
        |ORDER BY event_id""".stripMargin,

    "events_daily_top_types" ->
      """WITH agg AS (SELECT CAST(ts AS DATE) AS d, event_type,
        |    count(*) AS n_events
        |  FROM events GROUP BY 1, 2)
        |, r AS (SELECT d, event_type, n_events,
        |    CAST(row_number() OVER (PARTITION BY d
        |      ORDER BY n_events DESC, event_type ASC) AS BIGINT) AS rk
        |  FROM agg)
        |SELECT d, event_type, n_events, rk FROM r
        |WHERE rk <= 3 ORDER BY d, rk""".stripMargin,

    // the estimate is engine-specific; the oracle checks exact WAU
    // and that the sketch union landed inside the certified envelope
    "events_wau_sketch" ->
      s"""WITH ud AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id
         |  FROM events),
         |days AS (SELECT DISTINCT day FROM ud)
         |SELECT d.day, count(DISTINCT u.user_id) AS wau,
         |  TRUE AS within_bound,
         |  (SELECT count(*) FROM events) > $GateRows AS cert_sampled
         |FROM days d JOIN ud u ON u.day BETWEEN d.day - 6 AND d.day
         |GROUP BY 1 ORDER BY 1""".stripMargin,

    "events_type_transitions" ->
      """WITH nx AS (SELECT event_type, lead(event_type) OVER
        |    (PARTITION BY user_id ORDER BY ts, event_id) AS next_type
        |  FROM events),
        |c AS (SELECT event_type, next_type, count(*) AS n FROM nx
        |  WHERE next_type IS NOT NULL GROUP BY 1, 2)
        |SELECT event_type, next_type, n,
        |  round(CAST(n AS DOUBLE) /
        |    CAST(sum(n) OVER (PARTITION BY event_type) AS DOUBLE), 4) AS p
        |FROM c ORDER BY event_type, next_type""".stripMargin,

    // the salted plan must reproduce the plain enrichment exactly
    "events_enriched_salted" ->
      s"""WITH dim AS (SELECT event_type,
         |    ${davgSql("value")} AS type_weight
         |  FROM events GROUP BY 1)
         |SELECT date_trunc('day', ts) AS day_start, e.event_type,
         |  count(*) AS n_events,
         |  round(${dsumSql("value * type_weight")}, 4) AS weighted_value
         |FROM events e JOIN dim USING (event_type)
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // trailing mean/σ from pure-bigint window sums (n·Σx²−(Σx)²),
    // derived in double through the identical expression tree as the
    // Spark side; σ=0 weeks yield NULL z and are never flagged
    "events_anomaly_daily" ->
      s"""WITH daily AS (SELECT event_type, CAST(ts AS DATE) AS day,
         |    count(*) AS n
         |  FROM events GROUP BY 1, 2),
         |wins AS (SELECT *,
         |    count(*) OVER w AS cnt,
         |    sum(n) OVER w AS s1,
         |    sum(n * n) OVER w AS s2
         |  FROM daily WINDOW w AS (PARTITION BY event_type ORDER BY day
         |    ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)),
         |sc AS (SELECT event_type, day, n,
         |    cnt * s2 - s1 * s1 AS varn,
         |    CAST(s1 AS DOUBLE) / CAST(cnt AS DOUBLE) AS mean,
         |    sqrt(CAST(cnt * s2 - s1 * s1 AS DOUBLE) /
         |      CAST(cnt * (cnt - 1) AS DOUBLE)) AS sd
         |  FROM wins WHERE cnt = 7)
         |SELECT event_type, day, n,
         |  round(mean, 4) AS trail_mean,
         |  round(sd, 4) AS trail_sd,
         |  CASE WHEN varn > 0
         |    THEN round((CAST(n AS DOUBLE) - mean) / sd, 4) END AS zscore,
         |  (varn > 0 AND abs((CAST(n AS DOUBLE) - mean) / sd) > $AnomalyZ)
         |    AS anomaly
         |FROM sc ORDER BY event_type, day""".stripMargin,

    "events_dau_wau" ->
      s"""WITH ud AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id
        |  FROM events),
        |days AS (SELECT DISTINCT day FROM ud),
        |dau AS (SELECT day, count(*) AS dau FROM ud GROUP BY 1),
        |wau AS (SELECT d.day, count(DISTINCT u.user_id) AS wau
        |  FROM days d JOIN ud u ON u.day BETWEEN d.day - 6 AND d.day
        |  GROUP BY 1)
         |SELECT dau.day, dau.dau, wau.wau,
         |  round(CAST(dau.dau AS DOUBLE) / wau.wau, 4) AS stickiness,
         |  (SELECT count(*) FROM events) > $GateRows AS cert_sampled
        |FROM dau JOIN wau ON wau.day = dau.day
        |ORDER BY dau.day""".stripMargin,

    // same strict-ordering semantics as the Spark-side fold, stated
    // as chained relational CTEs (stage k joins stage k-1's timestamp)
    "events_funnel" ->
      """WITH t1 AS (SELECT user_id, min(ts) AS t1 FROM events
        |  WHERE event_type = 'signup' GROUP BY 1),
        |t2 AS (SELECT e.user_id, min(ts) AS t2 FROM events e
        |  JOIN t1 USING (user_id)
        |  WHERE event_type = 'view' AND ts > t1 GROUP BY 1),
        |t3 AS (SELECT e.user_id, min(ts) AS t3 FROM events e
        |  JOIN t2 USING (user_id)
        |  WHERE event_type = 'click' AND ts > t2 GROUP BY 1),
        |t4 AS (SELECT e.user_id, min(ts) AS t4 FROM events e
        |  JOIN t3 USING (user_id)
        |  WHERE event_type = 'purchase' AND ts > t3 GROUP BY 1)
        |SELECT (SELECT count(*) FROM t1) AS signup_users,
        |  (SELECT count(*) FROM t2) AS view_users,
        |  (SELECT count(*) FROM t3) AS click_users,
        |  (SELECT count(*) FROM t4) AS purchase_users""".stripMargin,

    "events_enriched_daily" ->
      s"""WITH dim AS (SELECT event_type,
         |    ${davgSql("value")} AS type_weight
         |  FROM events GROUP BY 1)
         |SELECT date_trunc('day', ts) AS day_start, e.event_type,
         |  count(*) AS n_events,
         |  round(${dsumSql("value * type_weight")}, 4) AS weighted_value
         |FROM events e JOIN dim USING (event_type)
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "events_type_intervals" ->
      """SELECT user_id, event_id, event_type, ts AS valid_from,
        |  lead(ts) OVER (PARTITION BY user_id
        |    ORDER BY ts, event_id) AS valid_to
        |FROM events
        |ORDER BY user_id, valid_from, event_id""".stripMargin,

    "events_retention_cohorts" ->
      """WITH days AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS day
        |  FROM events),
        |cohort AS (SELECT user_id, min(day) AS cohort_day
        |  FROM days GROUP BY 1)
        |SELECT cohort_day, day - cohort_day AS day_offset,
        |  count(*) AS n_users
        |FROM days JOIN cohort USING (user_id)
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // the sketch estimate is engine-specific; the oracle checks the
    // exact counts and that the estimate certified inside its bound
    // the estimate is sketch-derived on the Spark side; the oracle
    // pins the exact counts and expects the in-plan certification
    "events_hll_rollup" ->
      """WITH ud AS (SELECT DISTINCT CAST(ts AS DATE) AS day, user_id
        |  FROM events)
        |SELECT CAST(date_trunc('month', day) AS DATE) AS month,
        |  CAST(count(DISTINCT day) AS BIGINT) AS n_days,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
        |  TRUE AS certified
        |FROM ud GROUP BY 1 ORDER BY 1""".stripMargin,
    "events_hll_users" ->
      """SELECT event_type,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
        |  TRUE AS within_bound
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    "events_hourly_by_type" ->
      s"""SELECT date_trunc('hour', ts) AS hour_start, event_type,
         |  count(*) AS n_events, round(${dsumSql("value")}, 4) AS sum_value
         |FROM events GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // identical exponent tree (exact-long delta / the same literal),
    // per-event pow rounded 8 dp into exact DECIMAL before the sum
    "events_decay_counts" ->
      s"""WITH e AS (SELECT event_type, epoch_us(ts) AS tsu FROM events),
         |h AS (SELECT max(tsu) AS h FROM e),
         |c AS (SELECT event_type, CAST(round(
         |    pow(2.0, -CAST(h.h - tsu AS DOUBLE) / 8.64e10), 8)
         |    AS DECIMAL(25,8)) AS c FROM e, h)
         |SELECT event_type, CAST(count(*) AS BIGINT) AS n_events,
         |  round(CAST(sum(c) AS DOUBLE), 4) AS decayed_count,
         |  round(CAST(sum(c) AS DOUBLE) / count(*), 4) AS recency_score
         |FROM c GROUP BY 1
         |ORDER BY decayed_count DESC, event_type ASC""".stripMargin,

    // exact integer sums (gap^2 through HUGEINT/DECIMAL), then the
    // identical n*S2 - S1^2 double tree and rounded-CV ranking
    "events_bot_scores" ->
      s"""WITH g AS (SELECT user_id,
         |    epoch_us(ts) - lag(epoch_us(ts)) OVER
         |      (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS gap
         |  FROM events),
         |st AS (SELECT user_id, count(*) AS n_gaps,
         |    CAST(sum(gap) AS BIGINT) AS s1,
         |    CAST(sum(CAST(gap AS HUGEINT) * gap) AS DOUBLE) AS s2d
         |  FROM g WHERE gap IS NOT NULL GROUP BY 1
         |  HAVING count(*) >= ${BotMinEvents - 1}),
         |d AS (SELECT user_id, n_gaps,
         |    round(CAST(s1 AS DOUBLE) / n_gaps / 1e6, 4) AS mean_gap_s,
         |    round(sqrt(greatest(
         |      (n_gaps * s2d - CAST(s1 AS DOUBLE) * CAST(s1 AS DOUBLE))
         |        / CAST(n_gaps * n_gaps AS DOUBLE), 0.0))
         |      / (CAST(s1 AS DOUBLE) / n_gaps), 4) AS cv
         |  FROM st)
         |SELECT user_id, n_gaps, mean_gap_s, cv
         |FROM d ORDER BY cv ASC, user_id ASC LIMIT $BotTopK""".stripMargin,

    // exact overlap restated relationally; the estimate is engine-
    // specific, so the oracle checks the exact columns + TRUE
    "events_hll_intersection" ->
      s"""WITH e AS (SELECT DISTINCT CAST(ts AS DATE) AS day, event_type, user_id
        |  FROM events WHERE event_type IN ('view', 'purchase')),
        |d AS (SELECT day,
        |    count(DISTINCT CASE WHEN event_type = 'view' THEN user_id END)
        |      AS exact_view,
        |    count(DISTINCT CASE WHEN event_type = 'purchase' THEN user_id END)
        |      AS exact_purchase
        |  FROM e GROUP BY 1),
        |b AS (SELECT day, count(*) AS exact_both FROM (
        |    SELECT day, user_id FROM e GROUP BY 1, 2 HAVING count(*) = 2)
        |  GROUP BY 1)
        |SELECT d.day, CAST(exact_view AS BIGINT) AS exact_view,
        |  CAST(exact_purchase AS BIGINT) AS exact_purchase,
         |  CAST(coalesce(exact_both, 0) AS BIGINT) AS exact_both,
         |  TRUE AS certified,
         |  (SELECT count(*) FROM events) > $GateRows AS cert_sampled
        |FROM d LEFT JOIN b ON b.day = d.day
        |WHERE exact_view > 0 AND exact_purchase > 0
        |ORDER BY d.day""".stripMargin,

    // each event explodes into its 4 member windows: starts
    // time_bucket_15(ts) - k*15min, k in 0..3 (exactly the epoch-
    // aligned starts w with w <= ts < w + 1h)
    "events_sliding_hourly" ->
      s"""WITH w AS (SELECT
         |    time_bucket(INTERVAL '15 minutes', ts)
         |      - kk.k * INTERVAL '15 minutes' AS window_start, value
         |  FROM events CROSS JOIN range(0, 4) kk(k))
         |SELECT window_start, count(*) AS n_events,
         |  round(${dsumSql("value")}, 4) AS sum_value
         |FROM w GROUP BY 1 ORDER BY 1""".stripMargin,

    "events_json_kv" ->
      """SELECT event_type, count(*) AS n_events,
        |  round(avg(CAST(json_extract_string(props, '$.k') AS BIGINT)), 4) AS avg_k,
        |  max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    "events_sessionize" ->
      s"""WITH g AS (SELECT user_id, ts, value,
         |    CASE WHEN lag(ts) OVER w IS NULL
         |         OR ts - lag(ts) OVER w >= INTERVAL '30 minutes'
         |      THEN 1 ELSE 0 END AS new_s
         |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
         |s AS (SELECT *, sum(new_s) OVER (PARTITION BY user_id ORDER BY ts
         |    ROWS UNBOUNDED PRECEDING) AS sid FROM g)
         |SELECT user_id, min(ts) AS session_start,
         |  max(ts) + INTERVAL '30 minutes' AS session_end,
         |  count(*) AS n_events, round(${dsumSql("value")}, 4) AS sum_value
         |FROM s GROUP BY user_id, sid ORDER BY user_id, session_start""".stripMargin,

    "events_value_histogram" ->
      """SELECT event_type,
        |  CAST(least(floor(value / 50.0), 9) AS BIGINT) AS bucket,
        |  CAST(least(floor(value / 50.0), 9) * 50.0 AS DOUBLE) AS lo,
        |  CAST((least(floor(value / 50.0), 9) + 1) * 50.0 AS DOUBLE) AS hi,
        |  count(*) AS n
        |FROM events GROUP BY 1, 2, 3, 4 ORDER BY 1, 2""".stripMargin,

    // sketch estimates are engine-specific; the oracle checks the exact
    // counts and that every estimate landed inside the CMS guarantee
    "events_cms_heavy_users" ->
      """SELECT user_id, count(*) AS n, TRUE AS within_bound
        |FROM events GROUP BY 1 ORDER BY n DESC, user_id ASC LIMIT 20""".stripMargin,

    "events_value_quantiles" ->
      s"""SELECT event_type,
         |  round(quantile_cont(value, 0.5), 4) AS p50,
         |  round(quantile_cont(value, 0.95), 4) AS p95,
         |  round(quantile_cont(value, 0.99), 4) AS p99,
         |  (SELECT count(*) FROM events) > $GateRows AS cert_sampled
         |FROM events GROUP BY 1 ORDER BY 1""".stripMargin,

    // The sketch values are engine-specific; the oracle checks the
    // certification columns — every approx MUST land within its
    // documented rank-error bound, or the Spark side emits FALSE and
    // the hash mismatches.
    "events_value_quantiles_approx" ->
      s"""SELECT event_type, p.pctl, n_values, TRUE AS approx_within_bound
         |FROM (SELECT event_type, count(*) AS n_values FROM events GROUP BY 1)
         |CROSS JOIN (VALUES (CAST(0.5 AS DOUBLE)), (0.95), (0.99)) p(pctl)
         |ORDER BY event_type, pctl""".stripMargin,

    "events_purchase_conversion" ->
      """SELECT p.event_id AS purchase_id, p.user_id, p.ts AS purchase_ts,
        |  count(v.event_id) AS n_views_1h,
        |  CASE WHEN count(v.event_id) > 0 THEN 1 ELSE 0 END AS attributed,
        |  max(v.ts) AS last_view_ts
        |FROM events p
        |LEFT JOIN events v ON v.user_id = p.user_id AND v.event_type = 'view'
        |  AND v.ts >= p.ts - INTERVAL '1 hour' AND v.ts <= p.ts
        |WHERE p.event_type = 'purchase'
        |GROUP BY 1, 2, 3 ORDER BY 1""".stripMargin,
    "events_purchase_view_join" ->
      """SELECT p.event_id AS purchase_id, p.user_id, p.ts AS purchase_ts,
        |  count(*) AS n_views_1h, max(v.ts) AS last_view_ts
        |FROM events p
        |JOIN events v ON v.user_id = p.user_id AND v.event_type = 'view'
        |  AND v.ts >= p.ts - INTERVAL '1 hour' AND v.ts <= p.ts
        |WHERE p.event_type = 'purchase'
        |GROUP BY 1, 2, 3 ORDER BY 1""".stripMargin,
  )
}
