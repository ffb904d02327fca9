package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main (driver contract): runs every declared query on
  * `SPARK_GRAFT_SF_DIR`, prints ONE JSON line
  * `{"metric":"total","value":N,"unit":"sec","queries":{...},"sf":...}`.
  *
  * Each query is fully materialized through the `noop` sink (count()
  * can elide column decode on scan-shaped plans; noop cannot). One
  * untimed warm-up action runs first so the first measured query does
  * not absorb session/codegen bring-up.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    // Optional name-prefix filter (comma-separated), e.g.
    // SPARK_GRAFT_ONLY=dedup_,sim_,graph_ — the scale-headroom legs
    // at 100× bench scale run the worst-growing families only; the
    // driver never sets this.
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
    def included(name: String): Boolean =
      only.forall(_.exists(name.startsWith))
    val spark = Sessions.builder(cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    // Untimed warm-up: session bring-up, parquet reader, whole-stage
    // codegen, BroadcastExchange thread pools, WindowExec — the paths
    // every measured query reuses. Runs on a 1k-row slice so the work
    // itself is negligible. Skipped when the corpus lacks the warm-up
    // tables: the fifth-decade probe legs scale ONE family's tables
    // (`ScaleCorpus` subset arg) where the full corpus no longer fits
    // the disk, and the probed queries there run minutes — bring-up
    // noise is irrelevant at that grain.
    if (java.nio.file.Files.exists(
        java.nio.file.Paths.get(sfDir, "lineitem.parquet"))) {
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.functions._
      val n = Tables.nation(spark, sfDir)
      val li = Tables.lineitem(spark, sfDir).limit(1000)
      li.join(broadcast(n), li("l_suppkey") % 25 === n("n_nationkey"))
        .withColumn("rn", row_number().over(
          Window.partitionBy("n_regionkey").orderBy("l_orderkey")))
        .groupBy("n_name")
        .agg(sum(col("l_extendedprice").cast("decimal(25,8)")), count(lit(1)))
        .write.mode("overwrite").format("noop").save()
      // Shuffled-hash join bring-up (codegen + shuffle write/read
      // machinery): the pair-verify family runs on SHJ, not broadcast.
      val k = li.select((col("l_orderkey") % 97).as("k"), col("l_partkey"))
      k.join(k.hint("shuffle_hash"), Seq("k"))
        .groupBy("k").agg(count(lit(1)))
        .write.mode("overwrite").format("noop").save()
    }

    val passes = sys.env.getOrElse("SPARK_GRAFT_PASSES", "2").toInt

    def runPass(): Seq[(String, Double, Option[String])] =
      SparkEntry.queries.toSeq.filter(q => included(q._1))
        .sortBy(_._1).map { case (name, fn) =>
        val t0 = System.nanoTime()
        val err = try {
          SessionMemo.attributing(name) {
            fn(spark, sfDir).write.mode("overwrite").format("noop").save()
          }
          None
        } catch { case e: Throwable =>
          System.err.println(s"[bench] $name failed: ${e.getMessage}")
          Some(Option(e.getMessage).getOrElse(e.getClass.getName))
        }
        // Probe legs (PASSES=1 — minutes-long queries at 1000× bench
        // scale): GC between queries, OUTSIDE the timed region, so
        // the ContextCleaner reclaims the finished query's dead
        // shuffle files before the next query starts spilling — the
        // first sf100 probe run died on a full disk carrying two
        // predecessors' dead shuffle state (Sessions' 2-min periodic
        // GC bounds the same exposure mid-query). Not done on the
        // 2-pass legs: their per-query grain is seconds, and a
        // forced full GC per query would add comparable wall.
        val dt = (System.nanoTime() - t0) / 1e9
        if (passes == 1) System.gc()
        (name, dt, err)
      }

    // Two full passes, per-query MIN: this host stalls 100-200 s at a
    // time (external probe), which can inflate any single measurement
    // 5-20x; the min of two independent passes measures the engine,
    // not the stall. SessionMemo.clear between passes drops every
    // memoized family build (signatures, verified pairs, k-means
    // model, bucketed layout tables), so pass 2 repays the same
    // one-time costs pass 1 did — min-of-2 compares two HONEST runs
    // rather than a cold run against a memo-warm echo.
    // SPARK_GRAFT_PASSES=1 (probe legs only — 1000× bench scale,
    // where a second full pass costs more wall than it buys
    // stall-immunity) skips pass 2; the artifact's "passes" field
    // says which protocol produced it.
    val pass1 = runPass()
    val attr1 = SessionMemo.drainAttribution()
    SessionMemo.clear(spark)
    val pass2 = if (passes >= 2) runPass() else pass1
    val attr2 = if (passes >= 2) SessionMemo.drainAttribution() else Nil
    val byName2 = pass2.map(r => r._1 -> r).toMap
    val results = pass1.map { case (name, t1, e1) =>
      val (_, t2, e2) = byName2(name)
      (e1, e2) match {
        case (None, None)    => (name, math.min(t1, t2), None)
        case (Some(_), None) => (name, t2, None) // one clean pass counts
        case (None, Some(_)) => (name, t1, None)
        case (Some(m), _)    => (name, math.min(t1, t2), Some(m))
      }
    }
    // The driver captures only the TAIL of the run's output; at 136
    // queries the line is ~4 KB and the capture keeps ~2.2 KB, so the
    // HEAD of the line is what gets cut. Field order is therefore
    // load-bearing: the expendable per-query map leads the line and
    // the fields the driver must see ("metric", "errors", "value",
    // "unit", "sf") END it — a head-truncated line still carries them.
    // Times round to 3 decimals (ms grain — nothing here is sub-ms
    // meaningful) and error strings truncate to their first 120 chars
    // (the exception class + headline; full text already on stderr).
    // %.3f is locale-pinned: a comma-decimal default locale (de_DE)
    // would otherwise emit `1,500` and break the JSON.
    def r3(v: Double): String =
      "%.3f".formatLocal(java.util.Locale.ROOT, v)
    def jstr(s: String): String = "\"" + s.take(120).flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => " " // any control char breaks the JSON line
      case c => c.toString
    } + "\""
    val qs = results.map { case (k, v, _) => "\"" + k + "\":" + r3(v) }
      .mkString("{", ",", "}")
    val total = results.map(_._2).sum
    // A failed query must not read as a (fast) success: its partial
    // wall-time still counts, and an "errors" map names it so the
    // bench JSON carries the failure (exit stays 0 — the driver
    // parses the JSON line regardless).
    val errs = results.collect { case (k, _, Some(m)) => jstr(k) + ":" + jstr(m) }
    val errJson = if (errs.isEmpty) """"errors":{},"""
      else errs.mkString(""""errors":{""", ",", "},")
    // Both raw pass totals ride the (kept) TAIL of the line: when the
    // min-of-2 "value" and a pass total disagree wildly, the artifact
    // itself shows the host stall that a single-number bench would
    // hide (the r8 driver run's +37% mystery was exactly this).
    val p1t = pass1.map(_._2).sum
    val p2t = pass2.map(_._2).sum
    val line =
      s"""{"queries":$qs,$errJson"metric":"total","unit":"sec","passes":$passes,"pass1":${r3(p1t)},"pass2":${r3(p2t)},"value":${r3(total)},"sf":"$sfDir"}"""
    // The full JSON always lands on disk too — per-query times AND the
    // per-query (pass1, pass2) raw pairs — so stalls are attributable
    // to individual queries even when the captured line was truncated.
    val byName1 = pass1.map(r => r._1 -> r._2).toMap
    val passPairs = results.map { case (k, _, _) =>
      "\"" + k + "\":[" + r3(byName1(k)) + "," + r3(byName2(k)._2) + "]"
    }.mkString("{", ",", "}")
    // Memo-build attribution: which memoized family each query BUILT
    // (paying the one-time cost) vs merely reused, per pass — the
    // accounting that explains why e.g. the first crossmodal query in
    // a pass carries ~90% family-build time. "built" maps each key to
    // its build wall seconds (the one `SessionMemo.once` build event
    // per key; max over events should a key build twice in a pass), so
    // layout builds are separable from query cost in the artifact.
    // Keys sorted, reused events deduped.
    def attrJson(attr: Seq[(String, String, Boolean, Double)]): String =
      attr.groupBy(_._1).toSeq.sortBy(_._1).map { case (q, evs) =>
        val built = evs.filter(_._3).groupBy(_._2).toSeq.sortBy(_._1)
          .map { case (key, es) =>
            "\"" + key + "\":" + r3(es.map(_._4).max) }
          .mkString("{", ",", "}")
        val reused = evs.collect { case (_, key, b, _) if !b => "\"" + key + "\"" }
          .distinct.sorted.mkString("[", ",", "]")
        "\"" + q + "\":{\"built\":" + built + ",\"reused\":" + reused + "}"
      }.mkString("{", ",", "}")
    val full = line.dropRight(1) +
      s""","pass_pairs":$passPairs,"memo_pass1":${attrJson(attr1)},"memo_pass2":${attrJson(attr2)}}"""
    val out = java.nio.file.Paths.get("target", "bench_full.json")
    java.nio.file.Files.createDirectories(out.getParent)
    java.nio.file.Files.write(out,
      full.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    // The JSON line is the LAST thing this main writes to stdout,
    // after the session is already stopped and flushed explicitly —
    // the r12 driver artifact went dark because its captured line was
    // truncated mid-object; nothing of ours may follow it (r13
    // verdict #6). The driver contract (one JSON line on stdout) is
    // unchanged.
    spark.stop()
    println(line)
    System.out.flush()
  }
}
