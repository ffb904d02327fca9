package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The session lifetime manager — the S5 "session result cache"
  * primitive. Everything a session builds once and releases when it
  * ends (cached frames, k-means models, checkpointed graphs, physical
  * layouts on disk) is a [[once]] entry keyed by (session, key);
  * per-call state that is not a memo (a query's checkpointed result)
  * hangs off [[onClear]], and iterative operators run their rounds on
  * [[iterate]]. Entries are keyed by session, so a stopped
  * session's entries are inert (never reused, never re-materialized);
  * [[clear]] is the one hygiene entry point a long-lived process
  * calls between tenants. */
object SessionMemo {
  /** One (session, key) slot. The build runs under the slot's
    * monitor, so concurrent first callers wait for ONE build instead
    * of racing their own: a racing loser's cached frame or checkpoint
    * leaks unreleased, and a racing layout write overwrites files the
    * winner is already reading. `dead` marks a slot [[clear]] took out
    * of the map, so a caller that fetched it just before retries on a
    * fresh slot instead of building into one nobody will release. */
  private final class Entry(val release: Any => Unit) {
    var value: Any = _
    var built = false
    var dead = false
  }

  private val entries = scala.collection.concurrent.TrieMap
    .empty[(SparkSession, String), Entry]

  private val hooks = new java.util.concurrent
    .ConcurrentLinkedQueue[(SparkSession, () => Unit)]

  /** `build` at most once per (session, key) and return the value;
    * [[clear]] hands it to `release`. A build that throws leaves the
    * slot unbuilt, so the next call retries. Records one attribution
    * event per call: `built = true` with the build's wall seconds for
    * the call that ran it (eager builds — model fits, checkpointed
    * graphs, layout writes — are timed whole; lazy ones only their
    * plan construction, since they materialize inside the consumer's
    * own measured action), `built = false` for every reuse. */
  @annotation.tailrec
  def once[T](s: SparkSession, key: String)(build: => T)
      (release: T => Unit): T = {
    val mine = new Entry(v => release(v.asInstanceOf[T]))
    val e = entries.putIfAbsent((s, key), mine).getOrElse(mine)
    val got = e.synchronized {
      if (e.dead) None
      else if (e.built) { note(key, built = false, 0.0); Some(e.value) }
      else {
        val t0 = System.nanoTime()
        e.value = build
        e.built = true
        note(key, built = true, (System.nanoTime() - t0) / 1e9)
        Some(e.value)
      }
    }
    got match {
      case Some(v) => v.asInstanceOf[T]
      case None    => once(s, key)(build)(release)
    }
  }

  /** The cached frame memo: one `.cache()`d frame per (session, sf
    * dir, name), unpersisted on [[clear]]. */
  def cached(s: SparkSession, dir: String, name: String)
      (build: => DataFrame): DataFrame =
    once(s, s"$name:$dir")(build.cache())(_.unpersist())

  /** Has (session, key) a built [[once]] entry? A test probe. */
  private[graft] def isBuilt(s: SparkSession, key: String): Boolean =
    entries.get((s, key)).exists(e => e.synchronized(e.built))

  /** Run `f` on the next [[clear]] of `s` — for per-call state that is
    * not a memo, such as a query's checkpointed result, whose blocks
    * must outlive every consumer but not the session. Not a build: it
    * records no attribution event. */
  def onClear(s: SparkSession)(f: => Unit): Unit = {
    hooks.add((s, () => f)); ()
  }

  /** `localCheckpoint` + the persistent-RDD ids it pinned, so callers
    * can [[release]] exactly those blocks once a successor
    * materializes (a checkpointed frame's lineage is truncated — its
    * blocks must outlive every consumer, but not the whole session).
    *
    * The ids come from the checkpointed dataset's own `LogicalRDD` —
    * NOT from diffing `getPersistentRDDs` around the call. The diff
    * races: executing the checkpoint materializes every upstream
    * `InMemoryRelation` that wasn't touched yet, and a session-
    * memoized cache registering its RDD inside the window would be
    * captured — and later UNPERSISTED — by the caller's release
    * (this silently dropped the memoized embedding-pair cache, so
    * every later pair query re-ran the whole candidate build). */
  private[graft] def checkpointTracked(df: DataFrame): (DataFrame, Set[Int]) = {
    val cp = df.localCheckpoint()
    val ids = cp.queryExecution.analyzed.collect {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd.id
    }.toSet
    assert(ids.nonEmpty, "localCheckpoint produced no LogicalRDD to track")
    (cp, ids)
  }

  /** Unpersist the RDDs a [[checkpointTracked]] call pinned. Releasing
    * ids twice is harmless. */
  private[graft] def release(s: SparkSession, ids: Set[Int]): Unit =
    ids.foreach(id => s.sparkContext.getPersistentRDDs.get(id)
      .foreach(_.unpersist(blocking = false)))

  /** What [[iterate]] ran: the last round's frame and the RDD ids it
    * pins, the rounds run, and whether `done` held on that frame. */
  private[graft] final case class Rounds(frame: DataFrame, ids: Set[Int],
      rounds: Int, done: Boolean)

  /** The checkpointed-round driver every iterative operator runs on:
    * probe `done` on `init`, then while it fails and fewer than
    * `maxRounds` rounds ran, `step(frame, round)` (round counts from 1)
    * and probe again. `initIds` are the blocks `init` pins, if it is a
    * [[checkpointTracked]] frame; the driver owns them from here.
    *
    * Every round's output is checkpointed: a round's frame feeds the
    * next round more than once (a join and a fallback, or an anti-join,
    * a penalty join and a union), so unrolled lineage re-executes or
    * re-plans geometrically in the round count — unrolled, three
    * PageRank rounds planned to ~480 KB / 824 Exchange nodes, and the
    * MMR selection to ~1.3 MB with ~5 s of driver planning per run.
    *
    * A round's predecessor is released only after the round's own
    * (eager) checkpoint has materialized, since computing it reads the
    * predecessor's blocks; executor storage is O(1) in the round count.
    * The last round's blocks are released on [[clear]] (a caller done
    * with them sooner may [[release]] them itself); if a step or probe
    * throws, the live round is released before the exception leaves. */
  private[graft] def iterate(init: DataFrame, initIds: Set[Int], maxRounds: Int)
      (done: DataFrame => Boolean)(step: (DataFrame, Int) => DataFrame): Rounds = {
    val s = init.sparkSession
    var frame = init
    var ids = initIds
    var rounds = 0
    try {
      var fin = done(frame)
      while (!fin && rounds < maxRounds) {
        val (next, nextIds) = checkpointTracked(step(frame, rounds + 1))
        release(s, ids)
        frame = next
        ids = nextIds
        rounds += 1
        fin = done(frame)
      }
      val last = ids
      onClear(s)(release(s, last))
      Rounds(frame, last, rounds, fin)
    } catch {
      case e: Throwable => release(s, ids); throw e
    }
  }

  // ── Build attribution ──────────────────────────────────────────
  // Which consumer (bench query) built vs reused which memoized
  // family — the accounting that explains why ONE query in a bench
  // pass carries its whole family's one-time cost. Zero overhead
  // unless a consumer label is set (Bench sets it; Verify and
  // library use don't).

  private val attributionLog = new java.util.concurrent
    .ConcurrentLinkedQueue[(String, String, Boolean, Double)]
  // ThreadLocal, saved/restored around f: a nested or concurrent
  // consumer must not clobber (or null out) an enclosing one's label
  private val currentConsumer = new ThreadLocal[String]

  /** Run `f` with memo events attributed to `consumer`. */
  def attributing[T](consumer: String)(f: => T): T = {
    val prev = currentConsumer.get()
    currentConsumer.set(consumer)
    try f finally currentConsumer.set(prev)
  }

  /** The current consumer label, if any — lets an operator that
    * fans independent builds onto worker threads (guide §2.6)
    * re-establish attribution on each thread, so the bench artifact
    * keeps itemizing which query paid which build. */
  def currentAttribution: Option[String] = Option(currentConsumer.get())

  private def note(key: String, built: Boolean, secs: Double): Unit = {
    val c = currentConsumer.get()
    if (c != null) { attributionLog.add((c, key, built, secs)); () }
  }

  /** Drain recorded (consumer, memo key, built?, build seconds)
    * events. */
  def drainAttribution(): Seq[(String, String, Boolean, Double)] = {
    val b = Seq.newBuilder[(String, String, Boolean, Double)]
    while (!attributionLog.isEmpty) b += attributionLog.poll()
    b.result()
  }

  /** Release and forget every [[once]] entry belonging to `s` (only
    * entries whose build ran — releasing never forces a build; an
    * entry mid-build is released once its build finishes), then run
    * and drop every [[onClear]] hook registered against `s`, and last
    * delete the session's scratch directory. After this the session
    * holds no graft-cached frames, models, checkpoints or layout
    * files. A release or hook that throws does not stop the others:
    * every one runs, then the first failure is rethrown with the later
    * ones added as suppressed. */
  def clear(s: SparkSession): Unit = {
    var first: Throwable = null
    def attempt(f: => Unit): Unit =
      try f catch {
        case e: Throwable =>
          if (first == null) first = e
          else if (e ne first) first.addSuppressed(e)
      }
    entries.keys.filter(_._1 eq s).foreach { k =>
      entries.remove(k).foreach(e => e.synchronized {
        e.dead = true
        if (e.built) attempt(e.release(e.value))
      })
    }
    hooks.forEach { h =>
      if ((h._1 eq s) && hooks.remove(h)) attempt(h._2())
    }
    attempt(graft.sources.SnapshotFs.dropSession(s))
    if (first != null) throw first
  }
}
