package graft

import java.util.concurrent.{Callable, CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

class SessionMemoSpec extends SparkSpec {
  /** `n` threads released together through one latch, so every call
    * arrives while the first build is still running. */
  private def racing[T](n: Int)(f: Int => T): Seq[T] = {
    val pool = Executors.newFixedThreadPool(n)
    val go = new CountDownLatch(1)
    try {
      val futures = (0 until n).map(i =>
        pool.submit(new Callable[T] { def call(): T = { go.await(); f(i) } }))
      go.countDown()
      futures.map(_.get(5, TimeUnit.MINUTES))
    } finally { pool.shutdownNow(); () }
  }

  private def uniqueKey(name: String): String = s"spec_$name:${System.nanoTime()}"

  test("once: concurrent first callers share ONE build and ONE built event") {
    val key = uniqueKey("race")
    val builds = new AtomicInteger(0)
    SessionMemo.drainAttribution()
    val values = racing(8) { i =>
      SessionMemo.attributing(s"caller$i") {
        SessionMemo.once(spark, key) {
          builds.incrementAndGet()
          Thread.sleep(200) // hold the build open while the others arrive
          new Object
        }(_ => ())
      }
    }
    assert(builds.get == 1, s"build ran ${builds.get} times")
    assert(values.forall(_ eq values.head), "every caller must get the same value")
    val events = SessionMemo.drainAttribution().filter(_._2 == key)
    assert(events.size == 8, s"one event per call, got $events")
    assert(events.count(_._3) == 1, s"exactly one built=true event, got $events")
    assert(events.find(_._3).exists(_._4 >= 0.2), "the build event carries its wall time")
    SessionMemo.clear(spark)
  }

  test("once: a build that throws is not memoized; the next call retries") {
    val key = uniqueKey("throws")
    var attempts = 0
    def get(fail: Boolean): String = SessionMemo.once(spark, key) {
      attempts += 1
      if (fail) throw new IllegalStateException("boom")
      "ok"
    }(_ => ())
    intercept[IllegalStateException](get(fail = true))
    assert(!SessionMemo.isBuilt(spark, key))
    assert(get(fail = false) == "ok")
    assert(get(fail = true) == "ok", "a built entry is reused, not rebuilt")
    assert(attempts == 2)
    SessionMemo.clear(spark)
  }

  test("clear releases each built entry exactly once and never forces an unbuilt one") {
    val built = uniqueKey("built")
    val failed = uniqueKey("failed")
    val released = new AtomicInteger(0)
    var failedBuilds = 0
    var failedReleases = 0
    assert(SessionMemo.once(spark, built)(41 + 1)(_ => { released.incrementAndGet(); () }) == 42)
    intercept[RuntimeException](SessionMemo.once[Int](spark, failed) {
      failedBuilds += 1; throw new RuntimeException("boom")
    }(_ => failedReleases += 1))
    SessionMemo.clear(spark)
    assert(released.get == 1)
    assert(failedBuilds == 1 && failedReleases == 0,
      "clear must neither run nor release a build that never finished")
    SessionMemo.clear(spark)
    assert(released.get == 1, "a second clear must not release again")
    assert(!SessionMemo.isBuilt(spark, built))
  }

  test("clear runs every release and hook, then rethrows the first failure") {
    SessionMemo.clear(spark)
    val keys = (1 to 3).map(i => uniqueKey(s"rel$i"))
    val released = new AtomicInteger(0)
    val hookRan = new AtomicInteger(0)
    keys.foreach(k => SessionMemo.once(spark, k)(k) { v =>
      released.incrementAndGet()
      if (v == keys(1)) throw new IllegalStateException("release failed")
    })
    SessionMemo.onClear(spark)(throw new IllegalArgumentException("hook failed"))
    SessionMemo.onClear(spark)(hookRan.incrementAndGet())
    val e = intercept[RuntimeException](SessionMemo.clear(spark))
    assert(released.get == 3, "a failing release must not skip the others")
    assert(hookRan.get == 1, "a failing hook must not skip the others")
    val all = (e +: e.getSuppressed.toSeq).map(_.getMessage).toSet
    assert(all == Set("release failed", "hook failed"), s"surfaced: $all")
    assert(keys.forall(!SessionMemo.isBuilt(spark, _)), "every entry is forgotten")
    SessionMemo.clear(spark) // nothing left to fail
  }

  test("onClear hooks run on clear of their own session, once") {
    val other = spark.newSession()
    val ran = new AtomicInteger(0)
    val otherRan = new AtomicInteger(0)
    SessionMemo.onClear(spark)(ran.incrementAndGet())
    SessionMemo.onClear(spark)(ran.incrementAndGet())
    SessionMemo.onClear(other)(otherRan.incrementAndGet())
    SessionMemo.clear(spark)
    assert(ran.get == 2)
    assert(otherRan.get == 0, "another session's hooks must not run")
    SessionMemo.clear(spark)
    assert(ran.get == 2, "hooks run once")
    SessionMemo.clear(other)
    assert(otherRan.get == 1)
  }

  test("Similarity.kmeansModel from 4 threads after clear records one ivf_kmeans build") {
    SessionMemo.clear(spark)
    SessionMemo.drainAttribution()
    val models = racing(4) { i =>
      SessionMemo.attributing(s"km$i")(ext.Similarity.kmeansModel(spark, sf0001))
    }
    assert(models.forall(_._1 eq models.head._1), "one shared assignment frame")
    val builds = SessionMemo.drainAttribution()
      .filter(e => e._3 && e._2.startsWith("ivf_kmeans:"))
    assert(builds.size == 1, s"expected one ivf_kmeans build, got $builds")
  }

  private def persistentIds: Set[Int] =
    spark.sparkContext.getPersistentRDDs.keySet.toSet

  /** `n` stepped once per round, from a checkpointed 8-row start. */
  private def counting(maxRounds: Int)(done: org.apache.spark.sql.DataFrame => Boolean)
      (onRound: Int => Unit): SessionMemo.Rounds = {
    import org.apache.spark.sql.functions.col
    val (init, initIds) = SessionMemo.checkpointTracked(spark.range(8).toDF("n"))
    SessionMemo.iterate(init, initIds, maxRounds)(done) { (f, round) =>
      onRound(round)
      f.select((col("n") + 1).as("n"))
    }
  }

  test("iterate: stops on done, keeps only the last round pinned until clear") {
    SessionMemo.clear(spark)
    val before = persistentIds
    import org.apache.spark.sql.functions.min
    val r = counting(10)(_.agg(min("n")).head.getLong(0) >= 3)(_ => ())
    assert(r.rounds == 3 && r.done)
    assert(r.frame.collect().map(_.getLong(0)).sorted.toSeq == (3L to 10L))
    assert(persistentIds -- before == r.ids, "only the last round stays pinned")
    SessionMemo.clear(spark)
    assert((persistentIds -- before).isEmpty, "clear releases the last round")
    val capped = counting(2)(_ => false)(_ => ())
    assert(capped.rounds == 2 && !capped.done)
    SessionMemo.clear(spark)
  }

  test("iterate: a step that throws releases the live round") {
    SessionMemo.clear(spark)
    val before = persistentIds
    val e = intercept[IllegalStateException](counting(5)(_ => false) { round =>
      if (round == 2) throw new IllegalStateException("boom")
    })
    assert(e.getMessage == "boom")
    assert(persistentIds == before, s"pinned after the throw: ${persistentIds -- before}")
  }

  test("iterate: a done probe that throws releases the live round") {
    SessionMemo.clear(spark)
    val before = persistentIds
    var probes = 0
    val e = intercept[IllegalStateException](counting(5) { _ =>
      probes += 1
      if (probes == 2) throw new IllegalStateException("probe")
      false
    }(_ => ()))
    assert(e.getMessage == "probe")
    assert(persistentIds == before, s"pinned after the throw: ${persistentIds -- before}")
  }

  test("iterative operators pin at most their last round, and clear releases it") {
    import spark.implicits._
    val calls: Seq[(String, () => Unit)] = Seq(
      "labelProp" -> (() => { ext.Dedup.labelProp(spark, sf0001).collect(); () }),
      "pagerank" -> (() => { ext.Dedup.pagerank(spark, sf0001).collect(); () }),
      "mmrRerank" -> (() => { ext.Similarity.mmrRerank(spark, sf0001).collect(); () }),
      "trainBpeOn" -> (() => {
        ext.Text.trainBpeOn(TextSpec.wideVocab.toSeq.toDF("word", "cnt"), 12); () }))
    val leaks = calls.flatMap { case (name, call) =>
      call() // warm: the call's session memos are built here
      val before = persistentIds
      call()
      val created = persistentIds -- before
      SessionMemo.clear(spark)
      val left = created & persistentIds
      (if (created.size > 1) Seq(s"$name pinned ${created.size} RDDs") else Nil) ++
        (if (left.nonEmpty) Seq(s"$name kept $left after clear") else Nil)
    }
    assert(leaks.isEmpty, leaks.mkString("; "))
  }

  /** Source files under `tree`, other than `owner`, whose text
    * contains `needle`. */
  private def sourcesContaining(needle: String,
      owner: String = "SessionMemo.scala",
      tree: String = "src/main/scala/graft"): List[java.nio.file.Path] = {
    val root = java.nio.file.Paths.get(tree)
    assert(java.nio.file.Files.isDirectory(root),
      s"source tree not found from ${new java.io.File(".").getAbsolutePath}")
    val ownerPath = root.resolve(owner)
    val walk = java.nio.file.Files.walk(root)
    try {
      import scala.jdk.CollectionConverters._
      walk.iterator().asScala
        .filter(p => p.toString.endsWith(".scala") && p != ownerPath)
        .filter(p => new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
          .contains(needle))
        .toList
    } finally walk.close()
  }

  test("only SessionMemo declares a concurrent.TrieMap under src/main/scala/graft") {
    // memo lifetimes are decided in one module: a private TrieMap
    // elsewhere is a memo that clear() does not know about
    val offenders = sourcesContaining("TrieMap")
    assert(offenders.isEmpty, s"TrieMap declared outside SessionMemo: $offenders")
  }

  test("only SessionMemo calls localCheckpoint under src/main/scala/graft") {
    // a bare checkpoint elsewhere pins blocks nothing releases; loops
    // run on SessionMemo.iterate, one-off frames use checkpointTracked
    val offenders = sourcesContaining("localCheckpoint(")
    assert(offenders.isEmpty, s"localCheckpoint called outside SessionMemo: $offenders")
  }

  test("only the shared Lloyd centroid step explodes vectors under src/main/scala/graft") {
    // the k-means builds share Similarity.centroidMeans; a second
    // posexplode of `v` is a hand-copied centroid step
    val needle = "posexplode(col(\"v\"))"
    val sites = sourcesContaining(needle, owner = "").map { p =>
      val text = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
      p.getFileName.toString -> text.sliding(needle.length).count(_ == needle)
    }
    assert(sites == List("Similarity.scala" -> 1), s"$needle sites: $sites")
  }

  test("Ingest resolves last-write-wins in one row_number window") {
    // upsert and upsertWithTombstones share one newest-per-key step;
    // a second window is a hand-copied resolve (the oracle SQL strings
    // write `row_number() OVER` and do not count)
    val needle = "row_number().over("
    val path = java.nio.file.Paths.get("src/main/scala/graft/sources/Ingest.scala")
    val text = new String(java.nio.file.Files.readAllBytes(path), "UTF-8")
    val n = text.sliding(needle.length).count(_ == needle)
    assert(n == 1, s"$needle calls in $path: $n")
  }

  test("only Sessions sets session conf under src/main/scala/graft") {
    // a per-call conf.set mutates conf every concurrent client of the
    // session shares; engine-wide settings belong in Sessions.builder
    val offenders = sourcesContaining("conf.set(", owner = "Sessions.scala")
    assert(offenders.isEmpty, s"conf.set called outside Sessions: $offenders")
  }

  test("no test allocates its own temp directory under src/test/scala/graft") {
    // a test's files go under the process's scratch root (SparkSpec.tempDir),
    // which its shutdown hook deletes; a bare temp directory outlives the run
    val offenders = sourcesContaining("createTempDirectory",
      owner = "SessionMemoSpec.scala", tree = "src/test/scala/graft")
    assert(offenders.isEmpty, s"createTempDirectory called in: $offenders")
  }
}
