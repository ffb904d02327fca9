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

  test("only SessionMemo declares a concurrent.TrieMap under src/main/scala/graft") {
    // memo lifetimes are decided in one module: a private TrieMap
    // elsewhere is a memo that clear() does not know about
    val root = java.nio.file.Paths.get("src/main/scala/graft")
    assert(java.nio.file.Files.isDirectory(root),
      s"source tree not found from ${new java.io.File(".").getAbsolutePath}")
    val owner = root.resolve("SessionMemo.scala")
    val walk = java.nio.file.Files.walk(root)
    val offenders = try {
      import scala.jdk.CollectionConverters._
      walk.iterator().asScala
        .filter(p => p.toString.endsWith(".scala") && p != owner)
        .filter(p => new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
          .contains("TrieMap"))
        .toList
    } finally walk.close()
    assert(offenders.isEmpty, s"TrieMap declared outside SessionMemo: $offenders")
  }
}
