package graftbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

object Stats {
  /** Linear-interpolation quantile (numpy's default); 0 for no data. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val i = pos.toInt
      if (i + 1 >= s.size) s.last else s(i) + (pos - i) * (s(i + 1) - s(i))
    }
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}

/** Entry point of one benchmark run (see `README.md`):
  *
  * {{{
  * graftbench.Main --workload analytics|ingest --seed N
  *   --seconds S --trace 0|1 --work DIR --cores N --sf F
  *   --expected FILE --baseline FILE --deadline-ms EPOCH_MS --out FILE
  * }}}
  *
  * `--mode corpus --corpus-key K` writes the corpus the runs read, or,
  * to refresh and validate the committed digests,
  * `--mode digests` (prints every analytics query's digest) and
  * `--mode dump --dump DIR` (writes those results and their oracle SQL
  * for `tools/check.py`). */
object Main {
  /** Time kept back from the wrapper's deadline: ops stop this long
    * before it, and the checks after the window end [[CheckReserveS]]
    * before it, leaving time to report and stop the session. */
  val OpReserveS = 25
  val CheckReserveS = 8

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists) finally s.close()
  }

  private def dirBytes(p: Path): Long = if (!Files.exists(p)) 0L else {
    val s = Files.walk(p)
    try s.iterator().asScala.filter(Files.isRegularFile(_)).map(Files.size).sum
    finally s.close()
  }

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val work = a("work")
    val cores = a("cores").toInt
    val sf = a("sf").toDouble
    val corpus = s"$work/corpus"
    a.getOrElse("mode", "run") match {
      case "corpus" => writeCorpus(work, cores, sf, a("corpus-key"))
      case "digests" => digests(session(work, cores), corpus, a("out"))
      case "dump" => dump(session(work, cores), corpus, a("dump"))
      case _ => run(a, work, corpus, cores, sf)
    }
    SparkSession.getActiveSession.foreach(_.stop())
  }

  /** The corpus is a fixed fixture, written once per work directory and
    * again only when the generator or the scale changed (`_KEY`). */
  private def writeCorpus(work: String, cores: Int, sf: Double, key: String): Unit = {
    val corpus = s"$work/corpus"
    val keyFile = Paths.get(corpus, "_KEY")
    if (!Files.exists(keyFile) || new String(Files.readAllBytes(keyFile), UTF_8) != key) {
      val tg = System.nanoTime()
      deleteTree(Paths.get(corpus))
      Corpus.write(session(work, cores), corpus, sf)
      Files.write(keyFile, key.getBytes(UTF_8))
      System.err.println(f"[graftbench] corpus sf$sf written in ${(System.nanoTime() - tg) / 1e9}%.2f s")
    }
  }

  /** A fresh engine session as `Sessions.builder` configures it, with
    * every scratch path inside the run's work directory. */
  def session(work: String, cores: Int): SparkSession = {
    SparkSession.getActiveSession.foreach(_.stop())
    val s = graft.Sessions.builder(cores)
      .config("spark.sql.warehouse.dir", Paths.get(work, "warehouse").toAbsolutePath.toString)
      .config("spark.local.dir", Paths.get(work, "spark-local").toAbsolutePath.toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** The untimed warm-up `graft.Bench` runs: parquet reader, broadcast
    * join, window, decimal aggregate and shuffled-hash join bring-up on
    * a 1k-row slice. */
  def warmUp(spark: SparkSession, corpus: String): Unit = {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val n = graft.Tables.nation(spark, corpus)
    val li = graft.Tables.lineitem(spark, corpus).limit(1000)
    li.join(broadcast(n), li("l_suppkey") % 25 === n("n_nationkey"))
      .withColumn("rn", row_number().over(Window.partitionBy("n_regionkey").orderBy("l_orderkey")))
      .groupBy("n_name")
      .agg(sum(col("l_extendedprice").cast("decimal(25,8)")), count(lit(1)))
      .write.mode("overwrite").format("noop").save()
    val k = li.select((col("l_orderkey") % 97).as("k"), col("l_partkey"))
    k.join(k.hint("shuffle_hash"), Seq("k")).groupBy("k").agg(count(lit(1)))
      .write.mode("overwrite").format("noop").save()
  }

  private def loadExpected(path: String): Map[String, String] = {
    val txt = new String(Files.readAllBytes(Paths.get(path)), UTF_8)
    "\"([^\"]+)\"\\s*:\\s*\"([^\"]+)\"".r.findAllMatchIn(txt)
      .map(m => m.group(1) -> m.group(2)).toMap
  }

  private def benchQueries: Seq[String] = Analytics.all

  private def digests(spark: SparkSession, corpus: String, out: String): Unit = {
    val runner = new QueryRunner(spark, corpus, Map.empty, None, new Watchdog(spark), Long.MaxValue)
    val lines = benchQueries.sorted.map { n =>
      graft.SessionMemo.clear(spark)
      s"""  "$n": "${runner.digestOf(n)}""""
    }
    Files.write(Paths.get(out), lines.mkString("{\n", ",\n", "\n}\n").getBytes(UTF_8))
  }

  private def dump(spark: SparkSession, corpus: String, dir: String): Unit = {
    val oracle = graft.SparkEntry.oracleSql
    benchQueries.foreach { n =>
      graft.SparkEntry.queries(n)(spark, corpus).coalesce(1)
        .write.mode("overwrite").parquet(s"$dir/$n")
    }
    val json = benchQueries.filter(oracle.contains).map(n =>
      Json.str(n) + ": " + Json.str(oracle(n))).mkString("{", ",\n", "}")
    Files.write(Paths.get(dir, "oracle_sql.json"), json.getBytes(UTF_8))
  }

  private def peakRssMb(): Double = {
    val st = new String(Files.readAllBytes(Paths.get("/proc/self/status")), UTF_8)
    st.linesIterator.find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024).getOrElse(0.0)
  }

  private def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum / 1e3

  private def heapAfterGcMb(): Double =
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(_.getType == java.lang.management.MemoryType.HEAP)
      .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1e6

  private def run(a: Map[String, String], work: String,
      corpus: String, cores: Int, sf: Double): Unit = {
    val name = a("workload")
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val traced = a("trace") == "1"
    val workload: Workload = name match {
      case "analytics" => Analytics
      case "ingest" => IngestLoad
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    require(Files.exists(Paths.get(corpus, "_KEY")), s"no corpus in $corpus (run --mode corpus)")
    val expected = loadExpected(a("expected"))
    val runDir = Paths.get(work, "run").toAbsolutePath.toString
    val trace = if (traced) Some(new Trace) else None

    // the wrapper's deadline, as this JVM's clock
    val deadlineNs = System.nanoTime() +
      (a("deadline-ms").toLong - System.currentTimeMillis()) * 1000000L
    val hardStopNs = deadlineNs - OpReserveS * 1000000000L
    val checkStopNs = deadlineNs - CheckReserveS * 1000000000L

    // set-up: fresh session, hygiene, warm-up, seeded inputs
    deleteTree(Paths.get(runDir))
    val spark = session(work, cores)
    graft.SessionMemo.clear(spark)
    graft.sources.Ingest.dropBucketedTables(spark)
    val watchdog = new Watchdog(spark)
    trace.foreach { t =>
      spark.sparkContext.addSparkListener(t)
      spark.listenerManager.register(t)
    }
    val runner = new QueryRunner(spark, corpus, expected, trace, watchdog, hardStopNs)
    val c = Ctx(spark, corpus, runDir, seed, seconds, cores, sf, runner, watchdog, trace,
      hardStopNs, checkStopNs)
    def sinceStart = (System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3
    System.err.println(f"[graftbench] session up at $sinceStart%.3f s since JVM start")
    workload.warmUp(c)
    workload.prepare(c)
    // from the JVM's start, so class loading and JIT warm-up count
    val setupS = sinceStart
    System.err.println(f"[graftbench] set-up $setupS%.3f s")

    graft.SessionMemo.drainAttribution()
    trace.foreach { t => t.clearCounts(); t.spans.clear() }
    val gc0 = gcSeconds()
    val m = workload.measure(c)
    val gcS = gcSeconds() - gc0
    val (checks, after) = workload.finish(c)
    val extra = m.extra ++ after
    workload.teardown()
    watchdog.close()
    System.err.println(f"[graftbench] window ${m.wallS}%.1f s, checks done at " +
      f"${(System.currentTimeMillis() - ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3}%.1f s since JVM start")

    val ops = m.ops ++ checks
    val timed = m.latenciesMs
    val attempted = ops.size
    val failed = ops.count(!_.ok)
    val e2e = Map(
      "setup_s" -> setupS,
      "latency_mean_ms" -> Stats.mean(timed),
      "throughput_qps" -> m.ops.count(_.ok) / m.wallS,
      "batch_s" -> Stats.quantile(m.passes, 0.5))

    val peakRss = peakRssMb()
    val baseline = Paths.get(a("baseline"))
    val metrics = trace.map(t => perLayer(t, c, m, gcS, e2e, e2eBaseline(baseline)) ++
      PerLayer.workloadNames.map(k => k -> extra.getOrElse(k, 0.0)) +
      ("jvm.peak_rss_mb" -> peakRss)).getOrElse(e2e)

    // provenance + the full per-workload report, then the result line
    val report = Json.obj(Seq(
      "workload" -> Json.str(name), "seed" -> seed.toString,
      "seconds" -> Json.num(seconds), "trace" -> Json.str(if (traced) "1" else "0"),
      "nproc" -> cores.toString, "sf" -> Json.num(sf),
      "corpus_dir" -> Json.str(corpus),
      "spark_conf" -> Json.obj(c.spark.conf.getAll.toSeq.sortBy(_._1)
        .filter(kv => kv._1.startsWith("spark.sql.") || kv._1 == "spark.master")
        .map { case (k, v) => k -> Json.str(v) }),
      "latency_ms" -> Json.obj(Seq(0.5, 0.9, 0.95).map(q =>
        s"p${(q * 100).round}" -> Json.num(Stats.quantile(timed, q)))),
      "samples" -> Json.obj(Seq("ops" -> m.ops.size.toString,
        "latencies" -> m.latenciesMs.size.toString, "passes" -> m.passes.size.toString)),
      "window_s" -> Json.num(m.wallS),
      "peak_rss_mb" -> Json.num(peakRss),
      "error_rate" -> Json.num(failed.toDouble / math.max(1, attempted)),
      "failures" -> Json.obj(ops.filterNot(_.ok).take(20).map(o =>
        o.id -> Json.str(o.error.getOrElse("")))),
      "workload_metrics" -> Json.obj(extra.toSeq.sortBy(_._1)
        .map { case (k, v) => k -> Json.num(v) }),
      "tmpdir_bytes" -> dirBytes(Paths.get(System.getProperty("java.io.tmpdir"))).toString,
      "warehouse_bytes" -> dirBytes(Paths.get(work, "warehouse")).toString))
    val result = Json.obj(Seq(
      "correct" -> (!ops.exists(_.wrong)).toString,
      "attempted" -> attempted.toString,
      "failed" -> failed.toString,
      "metrics" -> Json.obj(metrics.toSeq.sortBy(_._1).map { case (k, v) =>
        val unit = PerLayer.unit(k)
        k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(unit)))
      })))
    trace.foreach { t =>
      Files.write(Paths.get(work, s"trace_$name.jsonl"),
        (t.spanLines.mkString("\n") + "\n").getBytes(UTF_8))
    }
    if (!traced) Files.write(baseline,
      e2e.map { case (k, v) => s"$k=$v" }.mkString("\n").getBytes(UTF_8))
    // whole or absent: the wrapper may kill this JVM once it is written
    val out = Paths.get(a("out"))
    val tmp = Paths.get(a("out") + ".tmp")
    Files.write(tmp, (report + "\n" + result + "\n").getBytes(UTF_8))
    Files.move(tmp, out, java.nio.file.StandardCopyOption.ATOMIC_MOVE)
  }

  /** The traced run's per-layer table. Times and counts are per op
    * (mean) unless named as a ratio; `ext.*` are seconds per batch. */
  private def perLayer(t: Trace, c: Ctx, m: Measured, gcS: Double,
      e2e: Map[String, Double], untraced: Map[String, Double]): Map[String, Double] = {
    val ops = m.ops
    val n = math.max(1, ops.size).toDouble
    val ids = ops.map(_.id).toSet
    val all = t.total(_ => true)
    val planMs = ops.map(o => Option(t.planMs.get(o.id)).map(_.doubleValue).getOrElse(0.0))
    val actionMs = ops.map(o => (o.endNs - o.startNs - o.constructNs) / 1e6)
    val resultRows = ops.map(_.resultRows).sum
    val built = ops.map(_.memoBuilt).sum
    val reused = ops.map(_.memoReused).sum
    val batches = math.max(1, m.passes.size).toDouble
    def extS(prefixes: String*) = ops.filter(o => prefixes.exists(o.name.startsWith))
      .map(_.ms / 1e3).sum / batches
    Map(
      "operators.construct_ms" -> ops.map(_.constructNs / 1e6).sum / n,
      "operators.self_ms" -> ops.map(o => math.max(0.0, o.constructNs / 1e6 - o.memoInConstructS * 1e3)).sum / n,
      "plans.plan_ms" -> planMs.sum / n,
      "exec.run_ms" -> (actionMs.sum - planMs.sum) / n,
      "exec.jobs" -> all.jobs / n, "exec.stages" -> all.stages / n,
      "exec.tasks" -> all.tasks / n,
      "exec.task_run_s" -> all.runMs / 1e3 / n,
      "exec.task_cpu_s" -> all.cpuNs / 1e9 / n,
      "exec.core_busy_ratio" -> all.runMs / 1e3 / (c.cores * m.wallS),
      "exec.shuffle_write_mb" -> all.shuffleWrite / 1e6 / n,
      "exec.shuffle_read_mb" -> all.shuffleRead / 1e6 / n,
      "exec.spill_mb" -> all.spill / 1e6 / n,
      "exec.gc_s" -> gcS / n,
      "exec.unattributed_jobs" -> t.total(g => !ids.contains(g)).jobs.toDouble,
      "jvm.heap_after_gc_mb" -> heapAfterGcMb(),
      "sources.input_mb" -> all.inputBytes / 1e6 / n,
      "sources.input_rows" -> all.inputRows / n,
      "sources.rows_per_result" -> all.inputRows.toDouble / math.max(1L, resultRows),
      "memo.built" -> built / n, "memo.reused" -> reused / n,
      "memo.hit_ratio" -> (if (built + reused == 0) 0.0 else reused.toDouble / (built + reused)),
      "memo.build_s" -> ops.map(_.memoBuildS).sum / n,
      "ext.dedup_s" -> extS("dedup_"), "ext.sim_s" -> extS("sim_"),
      "ext.text_s" -> extS("text_"),
      "ext.pipeline_s" -> extS("pipeline_", "pack_", "sample_"),
      "ext.graph_s" -> extS("graph_")) ++
      // traced minus untraced, as a percentage of the untraced value
      Seq("latency_mean_ms", "throughput_qps", "batch_s").map { k =>
        s"trace.overhead_pct.$k" -> untraced.get(k).filter(_ != 0)
          .map(b => (e2e(k) - b) / b * 100).getOrElse(0.0)
      }
  }

  /** The end-to-end figures of the untraced run of the same workload,
    * seed and build. */
  private def e2eBaseline(p: Path): Map[String, Double] =
    if (!Files.exists(p)) Map.empty
    else new String(Files.readAllBytes(p), UTF_8).linesIterator
      .map(_.split("=")).collect { case Array(k, v) => k -> v.toDouble }.toMap
}

object PerLayer {
  /** Per-layer figures only the ingest workload produces; 0 elsewhere. */
  val workloadNames: Seq[String] = Seq("ingest.trigger_ms", "ingest.add_batch_ms",
    "ingest.plan_ms", "ingest.bytes_written_mb", "ingest.touched_part_share",
    "ingest.snapshot_files",
    "ingest.snapshot_mb", "ingest.compact_ms", "ingest.partitions_compacted",
    "ingest.write_p50_ms", "ingest.write_p95_ms", "ingest.read_p50_ms",
    "ingest.rows_per_s", "ingest.write_amp", "ingest.space_amp",
    "streaming.batch_ms", "streaming.state_rows", "streaming.state_mb",
    "streaming.late_rows_dropped")

  def unit(k: String): String =
    if (k.startsWith("trace.overhead_pct")) "%"
    else if (k == "throughput_qps") "1/s"
    else if (k.endsWith("_per_s")) "1/s"
    else if (k.endsWith("_ms")) "ms"
    else if (k.endsWith("_s")) "s"
    else if (k.endsWith("_mb")) "MB"
    else if (k.endsWith("_ratio") || k.endsWith("_amp") || k.endsWith("_share") ||
      k.endsWith("per_result")) "ratio"
    else "count"
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case ch if ch < ' ' => f"\\u${ch.toInt}%04x"
    case ch => ch.toString
  } + "\""
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "0" else java.math.BigDecimal.valueOf(v).toPlainString
  def obj(kvs: Seq[(String, String)]): String =
    kvs.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}
