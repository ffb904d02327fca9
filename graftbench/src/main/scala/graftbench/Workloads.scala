package graftbench

import java.util.SplittableRandom

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** A workload's measured phase: the ops it attempted, the latency
  * samples its users see (ms), and the wall time of each complete pass
  * over its op set (`batch_s`). */
final case class Measured(ops: Seq[Op], latenciesMs: Seq[Double],
    passes: Seq[Double], wallS: Double, extra: Map[String, Double] = Map.empty)

/** Everything a workload needs from the harness. No op starts after
  * `hardStopNs`, and one still running then is cancelled and counted
  * as failed; the checks after the window end by `checkStopNs`. Both
  * lie inside the time the wrapper gives the JVM. */
final case class Ctx(spark: SparkSession, corpus: String, run: String,
    seed: Long, seconds: Double, cores: Int, sf: Double, runner: QueryRunner,
    watchdog: Watchdog, trace: Option[Trace], hardStopNs: Long, checkStopNs: Long)

trait Workload {
  /** Query-path bring-up before [[prepare]], timed as part of
    * `setup_s`: the warm-up `graft.Bench` runs. */
  def warmUp(c: Ctx): Unit = Main.warmUp(c.spark, c.corpus)
  /** Seeded per-session preparation; timed as part of `setup_s`. */
  def prepare(c: Ctx): Unit = ()
  def measure(c: Ctx): Measured
  /** Untimed checks after the window: the check ops, and figures
    * measured after the window. */
  def finish(c: Ctx): (Seq[Op], Map[String, Double]) = (Nil, Map.empty)
  def teardown(): Unit = ()
}

object Seeds {
  /** Stable per-(seed, parts...) stream: SplitMix-style mixing so
    * neighbouring seeds give unrelated sequences. */
  def rng(seed: Long, parts: Long*): SplittableRandom = {
    var h = seed * 0x9E3779B97F4A7C15L
    parts.foreach { p => h = java.lang.Long.rotateLeft(h ^ (p * 0xC2B2AE3D27D4EB4FL), 29) * 0x9E3779B97F4A7C15L }
    new SplittableRandom(h)
  }

  def shuffle[T](xs: Seq[T], r: SplittableRandom): Seq[T] = {
    val a = xs.toArray[Any]
    for (i <- a.length - 1 to 1 by -1) {
      val j = r.nextInt(i + 1); val t = a(i); a(i) = a(j); a(j) = t
    }
    a.toSeq.asInstanceOf[Seq[T]]
  }
}

/** The read side: an analyst's interactive OLAP traffic beside a
  * training-data curation job, on one session.
  *
  * One client runs the curation batch in a seeded order: one or two
  * queries from each `ext` module, with the LSH and pair queries
  * sharing the minhash family build and the IVF query building its
  * k-means. Of the 19 curation queries it leaves out the
  * connected-components ones (each several seconds) and those that
  * repeat a kernel already in the batch, so that a run stays near half
  * a minute. The session is fresh, so the first batch pays its family
  * builds; later ones, in a window longer than a batch, reuse them.
  *
  * Two analyst clients work through rounds of a fixed set of 28
  * dashboard queries (every other payroll query, every sixth relational
  * query, the three as-of queries and every ninth other batch-event
  * query, and `series_source_scan`: 50/25/21% payroll/rel/events),
  * each round dealt between them in a seeded order, until the batch is
  * done. So every curation query runs beside the same load, whatever
  * the order.
  *
  * The seed changes only the order and the pairing of concurrent
  * queries, never what a round or a batch runs. The users' latencies
  * are the analysts'; the curation job's user sees the batch
  * (`batch_s`), because which query pays a shared family build depends
  * on the order. */
object Analytics extends Workload {
  private def names(prefix: String): Seq[String] =
    graft.SparkEntry.queries.keys.filter(_.startsWith(prefix)).toSeq.sorted
  private def every[T](xs: Seq[T], k: Int): Seq[T] =
    xs.zipWithIndex.collect { case (x, i) if i % k == 0 => x }
  lazy val dashboard: Seq[String] = {
    val (asOf, other) = names("events_").partition(_.startsWith("events_asof_"))
    every(names("payroll_"), 2) ++ every(names("rel_"), 6) ++ asOf ++ every(other, 9) :+
      "series_source_scan"
  }
  val curation: Seq[String] = Seq("dedup_minhash_lsh", "dedup_jaccard_pairs",
    "sim_topk_bruteforce", "sim_topk_ivf", "text_quality", "pack_token_shards",
    "graph_pagerank")
  def all: Seq[String] = dashboard ++ curation
  val Analysts = 2

  def measure(c: Ctx): Measured = {
    val ops = new java.util.concurrent.ConcurrentLinkedQueue[Op]
    val batches = new java.util.concurrent.ConcurrentLinkedQueue[Double]
    val t0 = System.nanoTime()
    val deadline = t0 + (c.seconds * 1e9).toLong
    def open = System.nanoTime() < math.min(deadline, c.hardStopNs)
    def live = System.nanoTime() < c.hardStopNs
    // the curation client takes a core of its own
    val analysts = math.max(1, math.min(Analysts, c.cores - 1))
    @volatile var curating = true
    val curator = new Thread(() => {
      var b = 0
      try while (open) {
        val bs = System.nanoTime()
        for (name <- Seeds.shuffle(curation, Seeds.rng(c.seed, b, 1)) if live)
          ops.add(c.runner.run(s"curation-b$b-$name", name, "curation"))
        batches.add((System.nanoTime() - bs) / 1e9)
        b += 1
      } finally curating = false
    }, "graftbench-curator")
    def analyst(client: Int) = new Thread(() => {
      var round = 0
      while (curating && live) {
        val deal = Seeds.shuffle(dashboard, Seeds.rng(c.seed, round))
        for ((name, i) <- deal.zipWithIndex if i % analysts == client && curating && live)
          ops.add(c.runner.run(s"dashboard-c$client-r$round-$name", name, "dashboard"))
        round += 1
      }
    }, s"graftbench-analyst-$client")
    val clients = (0 until analysts).map(analyst) :+ curator
    clients.foreach(_.start())
    clients.foreach(_.join())
    import scala.jdk.CollectionConverters._
    val done = ops.asScala.toSeq
    Measured(done, done.filter(_.kind == "dashboard").map(_.ms), batches.asScala.toSeq,
      (System.nanoTime() - t0) / 1e9)
  }
}
