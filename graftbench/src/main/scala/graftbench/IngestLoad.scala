package graftbench

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.time.{LocalDate, LocalDateTime}
import java.util.SplittableRandom

import scala.collection.mutable
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.types._

/** The only writing workload: a closed loop of one client. Its ticks
  * have the shape of the reference's refresh (`BASELINE.md`,
  * `SURVEY.md` S4): each payroll release appends the newest month to a
  * series of about [[SeriesMonths]] months and revises the
  * [[RevisedReleases]] months before it, and the ETL upserts the
  * changed rows by key. Here one tick is one release over the orders
  * table: it appends 1/[[SeriesMonths]] of the base orders as new keys
  * and revises every key the previous [[RevisedReleases]] ticks
  * appended. The snapshot is range-partitioned on the key (new keys are
  * the highest, as new months are the latest), into [[SnapParts]]
  * partitions over the base keys, so a tick's merge touches one or two
  * partitions and leaves the rest unopened.
  *
  * Each tick lands its order changes into the stream feeding
  * `Ingest.upsertSink`, and the next slice of events into the stream
  * feeding `Events.sessionizeStream`; the tick's write is done when
  * both streams have processed their file. `Ingest.compactSnapshot`
  * runs every [[CompactEvery]] ticks. The tick ends with the reads the
  * reference's dashboard makes after a refresh: the whole series
  * rolled up, a year of it, and a single month, each checked against
  * an in-harness last-write-wins fold of everything landed. */
object IngestLoad extends Workload {
  /** Months in the reference's series (2019-01 to 2025-10). */
  val SeriesMonths = 85
  /** Months each release revises before the one it appends. */
  val RevisedReleases = 2
  /** The engine's default snapshot partition count. */
  val SnapParts = 16
  /** Ticks per pass; the pass is what `batch_s` times. */
  val Ticks = 9
  /** Untimed ticks at the end of set-up: a session's first writes run
    * up to twice as slow while the JVM compiles the write and read
    * paths. They take the place of the query warm-up (join, window and
    * aggregate bring-up), which warms little of what a tick runs. */
  val WarmUpTicks = 1
  val CompactEvery = 3
  private val Statuses = Vector("F", "O", "P")
  private val ChangeSchema = StructType(Seq(StructField("o_orderkey", LongType),
    StructField("o_custkey", LongType), StructField("o_orderstatus", StringType),
    StructField("o_totalprice", DoubleType), StructField("o_orderdate", DateType),
    StructField("version", LongType)))

  final case class Order(key: Long, cust: Long, status: String, price: Double,
      date: LocalDate, version: Long) {
    def row: Row = Row(key, cust, status, price, java.sql.Date.valueOf(date), version)
  }

  /** Per-session state, built by [[prepare]]. */
  private final class State(val c: Ctx) {
    val spark: SparkSession = c.spark
    val snap = s"${c.run}/snapshot"
    val landOrders = s"${c.run}/land_orders"
    val landEvents = s"${c.run}/land_events"
    val fold = mutable.HashMap.empty[Long, Order]
    /** keys one release appends, and the width of one partition */
    var perRelease, partWidth = 1L
    /** keys appended by the latest releases, newest last */
    val releases = ArrayBuffer.empty[Seq[Long]]
    var nextKey = 0L
    var nextVersion = 1L
    var eventsPerTick = 1
    var nextEventId = 0L
    var maxEventTs: LocalDateTime = Corpus.EventsStart
    var landedBytes, landedRows, writtenBytes = 0L
    val eventFiles = ArrayBuffer.empty[String]
    var snapFiles = Map.empty[String, Long]
    var upsert: StreamingQuery = _
    var sessions: StreamingQuery = _
    val progress = new java.util.concurrent.ConcurrentLinkedQueue[(String, StreamingQueryProgress)]
    var users = 1
    var liveBytes = 0L
    /** the warm-up ticks' ops: untimed, but checked and counted */
    var warmUpOps = Seq.empty[Op]

    /** Write `rows` as one parquet file and move it into `dir` whole,
      * so a stream never lists a half-written file. */
    def land(dir: String, name: String, schema: StructType, rows: Seq[Row]): Path = {
      val stage = s"${c.run}/stage/$name"
      spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)
        .coalesce(1).write.mode("overwrite").parquet(stage)
      val part = Files.list(Paths.get(stage)).iterator().asScala
        .find(_.getFileName.toString.endsWith(".parquet")).get
      Files.createDirectories(Paths.get(dir))
      val dst = Paths.get(dir, name)
      Files.move(part, dst, StandardCopyOption.ATOMIC_MOVE)
      Main.deleteTree(Paths.get(stage))
      dst
    }

    /** Parquet files under the snapshot, path -> bytes. */
    def listSnapshot(): Map[String, Long] = {
      val root = Paths.get(snap)
      if (!Files.exists(root)) Map.empty
      else {
        val s = Files.walk(root)
        try s.iterator().asScala.filter(p => Files.isRegularFile(p) &&
          p.getFileName.toString.endsWith(".parquet"))
          .map(p => p.toString -> Files.size(p)).toMap
        finally s.close()
      }
    }

    /** Adds the bytes of snapshot files that appeared since the last
      * call to `writtenBytes`; returns the share of the snapshot's
      * partitions that hold such a file. */
    def noteWrites(): Double = {
      val now = listSnapshot()
      val fresh = now.keySet -- snapFiles.keySet
      writtenBytes += fresh.toSeq.map(now).sum
      snapFiles = now
      def part(f: String) = Paths.get(f).getParent.toString
      fresh.map(part).size.toDouble / math.max(1, now.keySet.map(part).size)
    }

    def awaitBoth(): Unit = { upsert.processAllAvailable(); sessions.processAllAvailable() }
  }

  private var st: State = _

  override def warmUp(c: Ctx): Unit = ()

  override def prepare(c: Ctx): Unit = {
    val s = new State(c)
    st = s
    val spark = c.spark
    val z = Corpus.sizes(c.sf)
    s.users = z.users
    // base snapshot: the corpus orders at version 0
    val base = Corpus.orders(c.sf).map(r => Order(r.getLong(0), r.getLong(1),
      r.getString(2), r.getDouble(3), r.getAs[LocalDateTime](4).toLocalDate, 0L))
    base.foreach(o => s.fold(o.key) = o)
    s.nextKey = base.map(_.key).max + 1
    s.perRelease = math.max(1L, math.round(base.size.toDouble / SeriesMonths))
    s.partWidth = (base.size + SnapParts - 1) / SnapParts
    s.eventsPerTick = math.max(1, math.round(z.events.toDouble / SeriesMonths).toInt)
    // the base's newest keys stand for the releases before the first tick
    (RevisedReleases to 1 by -1).foreach(i =>
      s.releases += (s.nextKey - i * s.perRelease until s.nextKey - (i - 1) * s.perRelease))
    s.land(s.landOrders, "orders_base.parquet", ChangeSchema, base.map(_.row).toSeq)
    // base events: the corpus events file, named as the reader expects
    Files.createDirectories(Paths.get(s.landEvents))
    Files.copy(Paths.get(c.corpus, "events.parquet"), Paths.get(s.landEvents, "events.parquet"))
    s.eventFiles += s"${s.landEvents}/events.parquet"
    val last = spark.read.parquet(s"${c.corpus}/events.parquet")
      .agg(max("ts"), max("event_id")).head()
    s.maxEventTs = last.getAs[LocalDateTime](0)
    s.nextEventId = last.getLong(1) + 1
    if (c.trace.isDefined) spark.streams.addListener(new StreamingQueryListener {
      def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        s.progress.add(e.progress.name -> e.progress)
    })
    val width = s.partWidth
    val orders = spark.readStream.schema(ChangeSchema).parquet(s.landOrders)
    s.upsert = graft.sources.Ingest.upsertSink(orders, s.snap, "o_orderkey", "version",
        (k: Column) => floor(k / lit(width)))
      .option("checkpointLocation", s"${c.run}/ckpt_upsert")
      .queryName("ingest_upsert").start()
    s.sessions = graft.streaming.Events.sessionizeStream(spark, s.landEvents)
      .writeStream.outputMode("append").format("memory")
      .option("checkpointLocation", s"${c.run}/ckpt_sessions")
      .queryName("ingest_sessions").start()
    s.awaitBoth()
    s.noteWrites()
    s.warmUpOps = (0 until WarmUpTicks).flatMap(t => runTick(c, s, t, ArrayBuffer.empty))
    s.writtenBytes = 0L
    s.landedBytes = 0L
    s.landedRows = 0L
  }

  private def newOrder(s: State, r: SplittableRandom, key: Long, cust: Long): Order = {
    val o = Order(key, cust, Statuses(r.nextInt(3)),
      math.round((1000 + r.nextDouble() * 499000) * 100) / 100.0,
      LocalDate.of(1995, 1, 1).plusDays(r.nextInt(2404).toLong), s.nextVersion)
    s.nextVersion += 1
    o
  }

  /** One release: new values for every key of the previous
    * [[RevisedReleases]] releases, then [[State.perRelease]] new keys. */
  private def release(s: State, r: SplittableRandom): Seq[Order] = {
    val revised = s.releases.takeRight(RevisedReleases).flatten.map(k =>
      newOrder(s, r, k, s.fold(k).cust))
    val appended = (s.nextKey until s.nextKey + s.perRelease).map(k =>
      newOrder(s, r, k, r.nextInt(1000).toLong))
    s.nextKey += s.perRelease
    s.releases += appended.map(_.key)
    if (s.releases.size > RevisedReleases) s.releases.remove(0)
    revised.toSeq ++ appended
  }

  /** One tick's events: the next slice of the corpus's own arrival
    * process (same mean gap, [[State.eventsPerTick]] rows). The stream
    * must also take rows that arrive out of order: one row in twenty
    * carries a time up to 20 minutes before the latest one already
    * landed, inside the sessionizer's 30-minute watermark. The
    * reference has no event stream, so this share and delay are this
    * workload's choice. */
  private def events(s: State, r: SplittableRandom, n: Int): Seq[Row] = {
    val meanGapS = Corpus.EventsSpanSeconds.toDouble / Corpus.sizes(s.c.sf).events
    val prevMax = s.maxEventTs
    var t = prevMax
    (0 until n).map { _ =>
      val ts = if (r.nextInt(20) == 0) prevMax.minusSeconds(r.nextInt(1200).toLong)
        else { t = t.plusNanos((-math.log(1 - r.nextDouble()) * meanGapS * 1e9).toLong + 1000); t }
      if (ts.isAfter(s.maxEventTs)) s.maxEventTs = ts
      s.nextEventId += 1
      Corpus.eventRow(r, s.nextEventId - 1, ts.withNano(ts.getNano / 1000 * 1000), s.users)
    }
  }

  private def readOp(c: Ctx, id: String, name: String, stopNs: Long)(f: => Option[String]): Op = {
    c.spark.sparkContext.setJobGroup(id, name, interruptOnCancel = true)
    c.watchdog.arm(id, Watchdog.deadline(stopNs))
    val t0 = System.nanoTime()
    val err = timed(c, id, try f catch { case e: Throwable => Some(e.toString.take(300)) })
    c.spark.sparkContext.clearJobGroup()
    val t1 = System.nanoTime()
    err.foreach(e => System.err.println(s"[graftbench] $id failed: $e"))
    c.trace.foreach(_.spans.add(Span("ingest.read", id, "", t0, t1)))
    Op(id, name, "read", t0, t1, err, wrong = err.exists(_.startsWith("mismatch")))
  }

  /** `err` of an op the watchdog armed for, or a timeout if the
    * watchdog fired first (a late success still counts as failed). */
  private def timed(c: Ctx, id: String, err: Option[String]): Option[String] =
    if (c.watchdog.disarm(id)) err else err.orElse(Some("timed out"))

  private def snapshotRows(s: State, filter: Column) =
    s.spark.read.parquet(s.snap).filter(filter)

  private def orderOf(r: Row): Order = Order(r.getLong(0), r.getLong(1), r.getString(2),
    r.getDouble(3), r.getDate(4).toLocalDate, r.getLong(5))

  /** Row count, version sum and price sum (in cents) of `keys`' rows,
    * from the snapshot and from the fold. */
  private def rollUp(s: State, id: String, keys: Column, want: Iterable[Order]): Option[String] = {
    val row = snapshotRows(s, keys)
      .agg(count(lit(1)), coalesce(sum("version"), lit(0L)),
        coalesce(sum(round(col("o_totalprice") * 100).cast("long")), lit(0L)))
      .head()
    val w = (want.size.toLong, want.map(_.version).sum, want.map(o => math.round(o.price * 100)).sum)
    if ((row.getLong(0), row.getLong(1), row.getLong(2)) == w) None
    else Some(s"mismatch in $id: $row vs $w")
  }

  def measure(c: Ctx): Measured = {
    val s = st
    val ops = ArrayBuffer.empty[Op]
    val passes = ArrayBuffer.empty[Double]
    val compactMs = ArrayBuffer.empty[Double]
    val touched = ArrayBuffer.empty[Double]
    var compacted = 0L
    s.progress.clear()
    val t0 = System.nanoTime()
    val deadline = t0 + (c.seconds * 1e9).toLong
    var tick = 0
    while (System.nanoTime() < math.min(deadline, c.hardStopNs)) {
      val ps = System.nanoTime()
      for (_ <- 0 until Ticks if System.nanoTime() < c.hardStopNs) {
        ops ++= runTick(c, s, WarmUpTicks + tick, touched)
        tick += 1
        if (tick % CompactEvery == 0 && System.nanoTime() < c.hardStopNs) {
          val cid = s"ingest-compact$tick"
          c.spark.sparkContext.setJobGroup(cid, "compact", interruptOnCancel = true)
          c.watchdog.arm(cid, Watchdog.deadline(c.hardStopNs))
          val k0 = System.nanoTime()
          val cerr = timed(c, cid,
            try { compacted += graft.sources.Ingest.compactSnapshot(c.spark, s.snap); None }
            catch { case e: Throwable => Some(e.toString.take(300)) })
          c.spark.sparkContext.clearJobGroup()
          val k1 = System.nanoTime()
          compactMs += (k1 - k0) / 1e6
          c.trace.foreach(_.spans.add(Span("ingest.compact", cid, "", k0, k1)))
          ops += Op(cid, "compact", "compact", k0, k1, cerr)
          s.noteWrites()
        }
      }
      passes += (System.nanoTime() - ps) / 1e9
    }
    val wallS = (System.nanoTime() - t0) / 1e9
    val writes = ops.filter(_.kind == "write").map(_.ms)
    val reads = ops.filter(_.kind == "read").map(_.ms)
    val snapshot = s.listSnapshot()
    val extra = Map(
      "ingest.write_p50_ms" -> Stats.quantile(writes.toSeq, 0.5),
      "ingest.write_p95_ms" -> Stats.quantile(writes.toSeq, 0.95),
      "ingest.read_p50_ms" -> Stats.quantile(reads.toSeq, 0.5),
      "ingest.rows_per_s" -> s.landedRows / wallS,
      "ingest.write_amp" -> s.writtenBytes.toDouble / math.max(1L, s.landedBytes),
      "ingest.bytes_written_mb" -> s.writtenBytes / 1e6 / math.max(1, tick),
      "ingest.touched_part_share" -> Stats.mean(touched.toSeq),
      "ingest.snapshot_files" -> snapshot.size.toDouble,
      "ingest.snapshot_mb" -> snapshot.values.sum / 1e6,
      "ingest.compact_ms" -> Stats.mean(compactMs.toSeq),
      "ingest.partitions_compacted" -> compacted.toDouble / math.max(1, compactMs.size),
      "ingest.ticks" -> tick.toDouble) ++ progressMetrics(s)
    // the user-facing latencies are the writes and the reads
    Measured(ops.toSeq, (writes ++ reads).toSeq, passes.toSeq, wallS, extra)
  }

  /** One release: land it, wait for both streams, then read. */
  private def runTick(c: Ctx, s: State, tick: Int, touched: ArrayBuffer[Double]): Seq[Op] = {
    val ops = ArrayBuffer.empty[Op]
    val r = Seeds.rng(c.seed, tick)
    val batch = release(s, r)
    val evRows = events(s, r, s.eventsPerTick)
    // stage both files, then land them together and time to visible
    val stageO = s.land(s"${c.run}/ready", f"orders_$tick%06d.parquet", ChangeSchema, batch.map(_.row))
    val stageE = s.land(s"${c.run}/ready", f"events_$tick%06d.parquet", Corpus.EventSchema, evRows)
    s.landedBytes += Files.size(stageO)
    s.landedRows += batch.size + evRows.size
    val id = s"ingest-w$tick"
    c.watchdog.arm(id, Watchdog.deadline(c.hardStopNs), () => { s.upsert.stop(); s.sessions.stop() })
    val w0 = System.nanoTime()
    Files.move(stageO, Paths.get(s.landOrders, stageO.getFileName.toString), StandardCopyOption.ATOMIC_MOVE)
    Files.move(stageE, Paths.get(s.landEvents, stageE.getFileName.toString), StandardCopyOption.ATOMIC_MOVE)
    val err = timed(c, id,
      try { s.awaitBoth(); None } catch { case e: Throwable => Some(e.toString.take(300)) })
    val w1 = System.nanoTime()
    err.foreach(e => System.err.println(s"[graftbench] $id failed: $e"))
    c.trace.foreach(_.spans.add(Span("ingest.write", id, "", w0, w1)))
    ops += Op(id, "write", "write", w0, w1, err)
    s.eventFiles += s"${s.landEvents}/${stageE.getFileName}"
    batch.foreach(o => s.fold(o.key) = o)
    touched += s.noteWrites()

    // the dashboard after a refresh: the whole series, a year, a month;
    // none starts past the hard stop
    def read(id: String, name: String)(f: => Option[String]): Unit =
      if (System.nanoTime() < c.hardStopNs) ops += readOp(c, id, name, c.hardStopNs)(f)
    read(s"ingest-r$tick-all", "series_read") {
      rollUp(s, "the whole snapshot", lit(true), s.fold.values)
    }
    val year = 12 * s.perRelease
    val lo = r.nextLong(math.max(1L, s.nextKey - year))
    read(s"ingest-r$tick-year", "range_read") {
      rollUp(s, s"[$lo, ${lo + year})", col("o_orderkey").between(lo, lo + year - 1),
        (lo until lo + year).flatMap(s.fold.get))
    }
    // a month just revised or just appended
    val month = Seq(s.releases.head, s.releases.last)(r.nextInt(2))
    val k = month(r.nextInt(month.size))
    read(s"ingest-r$tick-month", "point_read") {
      val got = snapshotRows(s, col("o_orderkey") === k)
        .select(ChangeSchema.fieldNames.map(col).toIndexedSeq: _*).collect()
        .map(orderOf).toSeq
      if (got == s.fold.get(k).toSeq) None else Some(s"mismatch at key $k: $got")
    }
    ops.toSeq
  }

  private def progressMetrics(s: State): Map[String, Double] = {
    val ps = s.progress.asScala.toSeq
    def dur(q: String, k: String) = Stats.mean(ps.collect {
      case (`q`, p) if p.numInputRows > 0 && p.durationMs.containsKey(k) =>
        p.durationMs.get(k).doubleValue })
    val sess = ps.collect { case ("ingest_sessions", p) => p }
    val lastState = sess.lastOption.flatMap(_.stateOperators.headOption)
    Map(
      "ingest.trigger_ms" -> dur("ingest_upsert", "triggerExecution"),
      "ingest.add_batch_ms" -> dur("ingest_upsert", "addBatch"),
      "ingest.plan_ms" -> dur("ingest_upsert", "queryPlanning"),
      "streaming.batch_ms" -> dur("ingest_sessions", "triggerExecution"),
      "streaming.state_rows" -> lastState.map(_.numRowsTotal.toDouble).getOrElse(0.0),
      "streaming.state_mb" -> lastState.map(_.memoryUsedBytes / 1e6).getOrElse(0.0),
      "streaming.late_rows_dropped" -> sess.flatMap(_.stateOperators)
        .map(_.numRowsDroppedByWatermark.toDouble).sum)
  }

  /** After the window: flush the sessionizer with a far-future
    * sentinel, then check the emitted sessions against the batch
    * sessionizer over the same events, and the whole snapshot against
    * the fold. Also measures the snapshot's space amplification. */
  override def finish(c: Ctx): (Seq[Op], Map[String, Double]) = {
    val s = st
    val spark = c.spark
    val sentinel = Row(-1L, s.maxEventTs.plusDays(10), -1L, "view", 0.0, "{}")
    val ops = ArrayBuffer.empty[Op] ++ s.warmUpOps
    ops += readOp(c, "ingest-check-sessions", "check_sessions", c.checkStopNs) {
      val p = s.land(s"${c.run}/ready", "events_zz_sentinel.parquet", Corpus.EventSchema, Seq(sentinel))
      Files.move(p, Paths.get(s.landEvents, p.getFileName.toString), StandardCopyOption.ATOMIC_MOVE)
      s.sessions.processAllAvailable()
      val streamed = spark.table("ingest_sessions").filter(col("user_id") >= 0)
        .collect().map(_.toSeq).toSet
      val all = spark.read.schema(Corpus.EventSchema).parquet(s.eventFiles.toSeq: _*)
      all.coalesce(1).write.mode("overwrite").parquet(s"${c.run}/check/events.parquet")
      val batch = graft.streaming.Events.sessionize(spark, s"${c.run}/check")
        .collect().map(_.toSeq).toSet
      if (streamed == batch && batch.nonEmpty) None
      else Some(s"mismatch: ${streamed.size} streamed sessions vs ${batch.size} batch; " +
        s"missing ${(batch -- streamed).take(2)} extra ${(streamed -- batch).take(2)}")
    }
    ops += readOp(c, "ingest-check-snapshot", "check_snapshot", c.checkStopNs) {
      val got = spark.read.parquet(s.snap).select(ChangeSchema.fieldNames.map(col).toIndexedSeq: _*)
        .collect().map(orderOf)
      val byKey = got.groupBy(_.key)
      val dups = byKey.count(_._2.length > 1)
      val diff = s.fold.count { case (k, o) => !byKey.get(k).exists(_.toSeq == Seq(o)) }
      s.liveBytes = liveBytes(s)
      if (dups == 0 && diff == 0 && byKey.size == s.fold.size) None
      else Some(s"mismatch: snapshot ${byKey.size} keys ($dups duplicated), fold ${s.fold.size}, $diff differ")
    }
    (ops.toSeq, Map("ingest.space_amp" ->
      s.listSnapshot().values.sum.toDouble / math.max(1L, s.liveBytes)))
  }

  /** Bytes of the snapshot's live rows written once as compact parquet. */
  private def liveBytes(s: State): Long = {
    val c = s.c
    val dir = s"${c.run}/compact_live"
    c.spark.createDataFrame(c.spark.sparkContext.parallelize(s.fold.values.map(_.row).toSeq, 1),
      ChangeSchema).coalesce(1).write.mode("overwrite").parquet(dir)
    Files.list(Paths.get(dir)).iterator().asScala
      .filter(_.getFileName.toString.endsWith(".parquet")).map(Files.size).sum
  }

  override def teardown(): Unit = if (st != null) {
    Seq(st.upsert, st.sessions).filter(_ != null).foreach(q =>
      try q.stop() catch { case _: Throwable => () })
  }
}
