package graftbench

import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}

/** What the harness records for every attempted operation. */
final case class Op(id: String, name: String, kind: String, startNs: Long,
    endNs: Long, error: Option[String], wrong: Boolean = false, resultRows: Long = 0,
    constructNs: Long = 0, memoBuilt: Int = 0, memoReused: Int = 0,
    memoBuildS: Double = 0, memoInConstructS: Double = 0) {
  def ms: Double = (endNs - startNs) / 1e6
  def ok: Boolean = error.isEmpty
}

object Watchdog {
  /** Longest any one op may run. */
  val OpTimeoutNs: Long = 60L * 1000000000L

  /** Deadline of an op starting now: its own timeout, but never past
    * `stopNs`, so a hung op is cancelled (and counted) while the run
    * still has time to check and report. */
  def deadline(stopNs: Long): Long = math.min(System.nanoTime() + OpTimeoutNs, stopNs)
}

/** Cancels an op that outlives its deadline: a timed-out op counts as
  * failed and its Spark jobs are cancelled, so one hung query cannot
  * stall the run. */
final class Watchdog(spark: SparkSession) extends AutoCloseable {
  private val armed = new ConcurrentHashMap[String, (Long, () => Unit)]
  private val thread = new Thread(() => {
    try while (true) {
      Thread.sleep(200)
      val now = System.nanoTime()
      armed.asScala.foreach { case (g, (deadline, onExpire)) =>
        if (now > deadline && armed.remove(g) != null) {
          System.err.println(s"[graftbench] op $g timed out; cancelling")
          spark.sparkContext.cancelJobGroup(g)
          onExpire()
        }
      }
    } catch { case _: InterruptedException => () }
  }, "graftbench-watchdog")
  thread.setDaemon(true)
  thread.start()

  def arm(group: String, deadlineNs: Long, onExpire: () => Unit = () => ()): Unit = {
    armed.put(group, (deadlineNs, onExpire)); ()
  }
  def disarm(group: String): Boolean = armed.remove(group) != null
  def close(): Unit = thread.interrupt()
}

/** `SessionMemo`'s attribution log is one process-wide queue; ops on
  * concurrent clients each take only their own events from it. */
object MemoLog {
  private val pending = new ConcurrentHashMap[String, Vector[(String, String, Boolean, Double)]]

  def take(consumer: String): Seq[(String, String, Boolean, Double)] = synchronized {
    graft.SessionMemo.drainAttribution().foreach(e =>
      pending.merge(e._1, Vector(e), (a, b) => a ++ b))
    Option(pending.remove(consumer)).getOrElse(Vector.empty)
  }
}

/** Runs declared queries as benchmark ops: construct through
  * `SparkEntry.queries`, materialize through the `noop` sink with the
  * result digest observed in the same pass, check the digest. */
final class QueryRunner(spark: SparkSession, corpus: String,
    expected: Map[String, String], trace: Option[Trace], watchdog: Watchdog,
    hardStopNs: Long) {
  private val queries = graft.SparkEntry.queries

  /** The digest of one query's result, unchecked (the digest-refresh
    * mode writes these to `expected/digests.json`). */
  def digestOf(name: String): String = {
    val obs = Observation(s"digest-$name")
    Digest.observed(queries(name)(spark, corpus), obs)
      .write.mode("overwrite").format("noop").save()
    Digest.read(obs)
  }

  def run(id: String, name: String, kind: String): Op = {
    val sc = spark.sparkContext
    sc.setJobGroup(id, name, interruptOnCancel = true)
    watchdog.arm(id, Watchdog.deadline(hardStopNs))
    val t0 = System.nanoTime()
    var tc = t0
    var rows = 0L
    var wrong = false
    var early = Seq.empty[(String, String, Boolean, Double)]
    val outcome = try {
      graft.SessionMemo.attributing(id) {
        val df: DataFrame = queries(name)(spark, corpus)
        tc = System.nanoTime()
        early = MemoLog.take(id)
        val obs = Observation(id)
        Digest.observed(df, obs).write.mode("overwrite").format("noop").save()
        val got = Digest.read(obs)
        rows = Digest.rows(got)
        expected.get(name) match {
          case Some(want) if want == got => None
          case other =>
            wrong = true
            Some(s"digest $got, expected ${other.getOrElse("none")}")
        }
      }
    } catch {
      case e: Throwable => Some(e.getClass.getSimpleName + ": " +
        Option(e.getMessage).getOrElse("").linesIterator.take(1).mkString)
    } finally sc.clearJobGroup()
    // a result that came after the watchdog fired still counts as failed
    val result = if (watchdog.disarm(id)) outcome else outcome.orElse(Some("timed out"))
    val t1 = System.nanoTime()
    result.foreach(e => System.err.println(s"[graftbench] $name failed: ${e.take(300)}"))
    val memo = early ++ MemoLog.take(id)
    val built = memo.filter(_._3)
    def buildS(es: Seq[(String, String, Boolean, Double)]) =
      es.filter(_._3).groupBy(_._2).values.map(_.map(_._4).max).sum
    trace.foreach { t =>
      t.spans.add(Span(name, id, "", t0, t1))
      t.spans.add(Span("operators.construct", id, name, t0, tc))
      t.spans.add(Span("action", id, name, tc, t1))
    }
    Op(id, name, kind, t0, t1, result, wrong, rows, tc - t0,
      built.map(_._2).distinct.size,
      memo.filterNot(_._3).map(_._2).distinct.size,
      buildS(memo), buildS(early))
  }
}
