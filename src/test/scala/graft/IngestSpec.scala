package graft

import java.nio.file.Files
import java.sql.Date
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.sources.{Ingest, SnapshotFs}

class IngestSpec extends SparkSpec {
  import spark.implicits._

  private def series(vs: (String, Long, Long)*) =
    vs.map { case (m, v, ver) => (Date.valueOf(m), v, ver) }
      .toDF("month", "emp", "ingest_v")

  test("upsert is last-write-wins per key (S4 semantics)") {
    val existing = series(("2020-01-01", 100L, 1L), ("2020-02-01", 200L, 1L))
    val incoming = series(("2020-02-01", 250L, 2L), ("2020-03-01", 300L, 2L))
    val merged = Ingest.upsert(existing, incoming, "month", "ingest_v")
      .orderBy("month").select("month", "emp").as[(Date, Long)].collect()
    assert(merged.toSeq == Seq(
      (Date.valueOf("2020-01-01"), 100L),
      (Date.valueOf("2020-02-01"), 250L),
      (Date.valueOf("2020-03-01"), 300L)))
  }

  test("upsert is idempotent (re-running the same batch changes nothing)") {
    val existing = series(("2020-01-01", 100L, 1L))
    val batch = series(("2020-01-01", 150L, 2L), ("2020-02-01", 200L, 2L))
    val once = Ingest.upsert(existing, batch, "month", "ingest_v")
    val twice = Ingest.upsert(once, batch, "month", "ingest_v")
    assert(once.orderBy("month").collect().toSeq ==
      twice.orderBy("month").collect().toSeq)
  }

  test("upsert round-trip query: every 10th key carries the update") {
    val r = Ingest.upsertRoundtrip(spark, sf0001)
    val rows = r.collect()
    val base = Tables.orders(spark, sf0001).count()
    assert(rows.length == base, "round trip must preserve one row per key")
    rows.foreach { row =>
      val k = row.getAs[Long]("o_orderkey")
      val st = row.getAs[String]("o_orderstatus")
      if (k % 10 == 0) assert(st == "R", s"key $k missing the upserted update")
    }
  }

  test("tombstone merge: newest version wins, deletes at equal version outrank data") {
    val existing = series(("2020-01-01", 100L, 1L), ("2020-02-01", 200L, 1L),
      ("2020-03-01", 300L, 1L))
    val incoming = Seq(
      (Date.valueOf("2020-01-01"), 150L, 2L, false), // plain update
      (Date.valueOf("2020-02-01"), 0L, 2L, true),    // later tombstone: key gone
      (Date.valueOf("2020-03-01"), 0L, 1L, true))    // SAME version tombstone: still wins
      .toDF("month", "emp", "ingest_v", "deleted")
    val merged = Ingest.upsertWithTombstones(
        existing, incoming, "month", "ingest_v", "deleted")
      .orderBy("month").select("month", "emp").as[(Date, Long)].collect()
    assert(merged.toSeq == Seq((Date.valueOf("2020-01-01"), 150L)),
      s"got ${merged.toSeq}")
    // idempotent: replaying the same batch over the result changes nothing
    val once = Ingest.upsertWithTombstones(
      existing, incoming, "month", "ingest_v", "deleted")
    val twice = Ingest.upsertWithTombstones(
      once, incoming, "month", "ingest_v", "deleted")
    assert(once.orderBy("month").collect().toSeq ==
      twice.orderBy("month").collect().toSeq)
  }

  test("tombstone round-trip query: deleted keys vanish, updates survive") {
    val rows = Ingest.deleteTombstones(spark, sf0001).collect()
    assert(rows.nonEmpty)
    rows.foreach { row =>
      val k = row.getAs[Long]("o_orderkey")
      assert(k % 7 != 0, s"tombstoned key $k survived the round trip")
      assert(k % 10 == 0, s"untouched key $k leaked past the touched-key filter")
      assert(row.getAs[String]("o_orderstatus") == "R",
        s"key $k missing its update")
    }
    // every touched-but-not-deleted key is present exactly once
    val want = Tables.orders(spark, sf0001)
      .filter(col("o_orderkey") % 10 === 0 && col("o_orderkey") % 7 =!= 0)
      .count()
    assert(rows.length.toLong == want,
      s"${rows.length} survivors, expected $want")
  }

  test("snapshot diff classifies insert/update/delete and skips unchanged keys") {
    val prev = series(("2020-01-01", 100L, 1L), ("2020-02-01", 200L, 1L),
      ("2020-03-01", 300L, 1L))
    val next = series(("2020-01-01", 100L, 1L),  // unchanged -> no row
      ("2020-02-01", 250L, 1L),                  // update
      ("2020-04-01", 400L, 1L))                  // insert; 2020-03 deleted
    val diff = Ingest.snapshotDiff(prev, next, "month", Seq("emp"))
      .orderBy("month").collect()
      .map(r => (r.getString(0), r.getDate(1).toString, r.getLong(2)))
    assert(diff.toSeq == Seq(
      ("U", "2020-02-01", 250L),
      ("D", "2020-03-01", 300L),   // delete carries the prev image
      ("I", "2020-04-01", 400L)), s"got ${diff.toSeq}")
    // applying the feed to prev reproduces next exactly
    val applied = Ingest.snapshotDiff(prev, next, "month", Seq("emp"))
    val ins = applied.filter(col("op") =!= "D").drop("op")
    val dels = applied.filter(col("op") === "D").select("month")
    val rebuilt = prev.select("month", "emp")
      .join(dels.unionByName(ins.select("month")), Seq("month"), "left_anti")
      .unionByName(ins.select("month", "emp"))
    assert(rebuilt.orderBy("month").collect().toSeq ==
      next.select("month", "emp").orderBy("month").collect().toSeq)
  }

  test("snapshot diff query: change feed covers exactly the touched keys") {
    val rows = Ingest.snapshotDiffQuery(spark, sf0001).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val op = r.getString(0); val k = r.getLong(1)
      op match {
        case "I" => assert(k >= 100000000L, s"insert key $k not minted")
        case "D" => assert(k % 7 == 0, s"deleted key $k was not a %7 key")
        case "U" => assert(k % 10 == 0 && k % 7 != 0, s"updated key $k")
        case other => fail(s"unexpected op $other")
      }
    }
    assert(rows.count(_.getString(0) == "D").toLong ==
      Tables.orders(spark, sf0001)
        .filter(col("o_orderkey") % 7 === 0).count())
    assert(rows.count(_.getString(0) == "I").toLong ==
      Tables.orders(spark, sf0001)
        .filter(col("o_orderkey") % 13 === 0).count())
  }

  test("schema evolution: pre-evolution rows carry null for the new column") {
    val rows = Ingest.schemaEvolution(spark, sf0001).collect()
    assert(rows.length == 2)
    val b1 = rows.find(_.getLong(0) == 1L).get
    val b2 = rows.find(_.getLong(0) == 2L).get
    assert(b1.getLong(1) == b1.getLong(2),
      "every pre-evolution row must surface the evolved column as null")
    assert(b2.getLong(2) == 0L, "post-evolution rows must keep their values")
    assert(b1.getLong(1) + b2.getLong(1) ==
      Tables.orders(spark, sf0001).count(), "merged read dropped rows")
  }

  test("streaming foreachBatch upsert sink converges to the batch merge") {
    import graft.streaming.Events
    val path = tempDir("graft_upsert_sink") + "/snap"
    // stream the events files; last-write-wins per user keyed by the
    // (unique) event_id as the version — the final snapshot must hold
    // each user's max-event_id row
    val stream = spark.readStream.schema(Events.rawSchema(spark, sf0001))
      .option("maxFilesPerTrigger", "1") // force multiple micro-batches
      .parquet(s"$sf0001/events*.parquet")
      .select("user_id", "event_id", "value")
    val q = Ingest.upsertSink(stream, path, "user_id", "event_id").start()
    try q.processAllAvailable() finally q.stop()

    val snap = spark.read.parquet(path)
      .select("user_id", "event_id", "value").collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val batch = Tables.events(spark, sf0001)
      .groupBy("user_id")
      .agg(max(struct(col("event_id"), col("value"))).as("m"))
      .select(col("user_id"), col("m.event_id"), col("m.value")).collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(snap == batch, s"sink snapshot (${snap.size} users) != batch merge (${batch.size})")
  }

  private def snapRows(path: String) =
    spark.read.parquet(path).orderBy("month")
      .select("month", "emp").as[(Date, Long)].collect().toSeq

  private def partFiles(path: String, part: String) =
    new java.io.File(path, part).listFiles.filter(_.getName.endsWith(".parquet"))
      .map(f => (f.getName, f.length, f.lastModified)).toSeq.sorted

  test("merge rewrites only the year partitions the batch touches") {
    val snap = tempDir("graft_inc") + "/snap"
    val byYear = (c: org.apache.spark.sql.Column) => year(c)
    Ingest.mergeBatch(series(("2020-01-01", 1L, 1L), ("2021-01-01", 2L, 1L)),
      snap, "month", "ingest_v", byYear)
    val before2020 = partFiles(snap, "__part=2020")
    val before2021 = partFiles(snap, "__part=2021")
    Thread.sleep(5) // make an mtime-equal rewrite detectable
    Ingest.mergeBatch(series(("2021-01-01", 22L, 2L), ("2021-02-01", 30L, 2L)),
      snap, "month", "ingest_v", byYear)
    assert(partFiles(snap, "__part=2020") == before2020,
      "untouched partition files must be byte-identical (same name/length/mtime)")
    assert(partFiles(snap, "__part=2021") != before2021,
      "touched partition must have been rewritten")
    assert(snapRows(snap) == Seq(
      (Date.valueOf("2020-01-01"), 1L),
      (Date.valueOf("2021-01-01"), 22L),
      (Date.valueOf("2021-02-01"), 30L)))
  }

  test("compaction merges small files per partition and leaves right-sized ones alone") {
    val snap = tempDir("graft_cmp") + "/snap"
    val byYear = (c: org.apache.spark.sql.Column) => year(c)
    // 12 micro-rows across two years, written with forced parallelism
    // so each partition holds many small files
    val rows = (1 to 6).map(m => (f"2020-$m%02d-01", m.toLong, 1L)) ++
      (1 to 6).map(m => (f"2021-$m%02d-01", 10L + m, 1L))
    // write the snapshot with forced parallelism so each year
    // partition holds several small files (the shape a long-lived
    // streaming sink accumulates)
    series(rows: _*).withColumn("__part", year(col("month")))
      .repartition(6, col("month"))
      .write.partitionBy("__part").parquet(snap)
    assert(partFiles(snap, "__part=2020").size > 1, "fixture needs small files")
    val before = snapRows(snap)
    val n = Ingest.compactSnapshot(spark, snap)
    assert(n == 2, s"both partitions should compact, got $n")
    assert(partFiles(snap, "__part=2020").size == 1)
    assert(partFiles(snap, "__part=2021").size == 1)
    assert(snapRows(snap) == before, "compaction must not change content")
    // second pass: nothing left to do, files untouched
    val stable = partFiles(snap, "__part=2020")
    assert(Ingest.compactSnapshot(spark, snap) == 0)
    assert(partFiles(snap, "__part=2020") == stable,
      "a no-op compaction must not rewrite files")
    // the sink keeps merging into the compacted snapshot
    Ingest.mergeBatch(series(("2021-01-01", 99L, 2L)), snap, "month",
      "ingest_v", byYear)
    assert(snapRows(snap).contains((Date.valueOf("2021-01-01"), 99L)))
  }

  test("compaction leaves right-sized partitions byte-identical while rewriting fragmented ones") {
    val snap = tempDir("graft_cmp_mix") + "/snap"
    // 2020 fragmented (6 files via forced parallelism); 2021 already
    // right-sized (a single file from a coalesced append)
    series((1 to 6).map(m => (f"2020-$m%02d-01", m.toLong, 1L)): _*)
      .withColumn("__part", year(col("month")))
      .repartition(6, col("month"))
      .write.partitionBy("__part").parquet(snap)
    series(("2021-01-01", 50L, 1L), ("2021-02-01", 60L, 1L))
      .withColumn("__part", year(col("month"))).coalesce(1)
      .write.mode("append").partitionBy("__part").parquet(snap)
    assert(partFiles(snap, "__part=2020").size > 1, "fixture needs small files")
    assert(partFiles(snap, "__part=2021").size == 1, "fixture needs a right-sized partition")
    val right = partFiles(snap, "__part=2021")
    val before = snapRows(snap)
    Thread.sleep(5) // make an mtime-equal rewrite detectable
    assert(Ingest.compactSnapshot(spark, snap) == 1,
      "only the fragmented partition should compact")
    assert(partFiles(snap, "__part=2020").size == 1)
    assert(partFiles(snap, "__part=2021") == right,
      "right-sized partition must stay byte-identical (same name/length/mtime)")
    assert(snapRows(snap) == before, "compaction must not change content")
  }

  test("snapshot swap survives a crash between the two renames") {
    val snap = tempDir("graft_crash") + "/snap"
    val byYear = (c: org.apache.spark.sql.Column) => year(c)
    Ingest.mergeBatch(series(("2020-01-01", 1L, 1L), ("2021-01-01", 2L, 1L)),
      snap, "month", "ingest_v", byYear)
    // stage a second batch that touches only 2021, then simulate the
    // worst crash point: the live partition is displaced into .old but
    // the staged replacement was never renamed in — no live 2021 copy
    assert(Ingest.stageMerge(series(("2021-01-01", 22L, 2L)),
      snap, "month", "ingest_v", byYear))
    val oldDir = new java.io.File(snap + ".old"); oldDir.mkdirs()
    Files.move(new java.io.File(snap, "__part=2021").toPath,
      new java.io.File(oldDir, "__part=2021").toPath)
    Ingest.recoverSnapshot(snap) // what the next batch (or restart) runs first
    assert(snapRows(snap) == Seq(
      (Date.valueOf("2020-01-01"), 1L),
      (Date.valueOf("2021-01-01"), 22L)),
      "recovery must promote the complete staged merge")
    assert(!new java.io.File(snap + ".next").exists)
    assert(!new java.io.File(snap + ".old").exists)
  }

  test("an incomplete stage is discarded and a displaced partition restored") {
    val snap = tempDir("graft_rollback") + "/snap"
    val byYear = (c: org.apache.spark.sql.Column) => year(c)
    Ingest.mergeBatch(series(("2020-01-01", 1L, 1L), ("2021-01-01", 2L, 1L)),
      snap, "month", "ingest_v", byYear)
    // fake a crash mid-write: a .next with no _SUCCESS marker, plus a
    // partition displaced into .old with no live copy
    val next = new java.io.File(snap + ".next", "__part=2021"); next.mkdirs()
    Files.write(new java.io.File(next, "part-junk.parquet").toPath, Array[Byte](1, 2))
    val oldDir = new java.io.File(snap + ".old"); oldDir.mkdirs()
    Files.move(new java.io.File(snap, "__part=2020").toPath,
      new java.io.File(oldDir, "__part=2020").toPath)
    Ingest.recoverSnapshot(snap)
    assert(snapRows(snap) == Seq(
      (Date.valueOf("2020-01-01"), 1L),
      (Date.valueOf("2021-01-01"), 2L)),
      "recovery must restore the displaced partition and drop the junk stage")
    assert(!new java.io.File(snap + ".next").exists)
    assert(!new java.io.File(snap + ".old").exists)
  }

  test("recovery is idempotent and the sink keeps merging afterwards") {
    val snap = tempDir("graft_idem") + "/snap"
    val byYear = (c: org.apache.spark.sql.Column) => year(c)
    Ingest.mergeBatch(series(("2020-01-01", 1L, 1L), ("2021-01-01", 2L, 1L)),
      snap, "month", "ingest_v", byYear)
    // crash right after staging (nothing promoted)
    assert(Ingest.stageMerge(series(("2021-01-01", 22L, 2L)),
      snap, "month", "ingest_v", byYear))
    Ingest.recoverSnapshot(snap)
    Ingest.recoverSnapshot(snap) // second recovery must be a no-op
    assert(snapRows(snap) == Seq(
      (Date.valueOf("2020-01-01"), 1L),
      (Date.valueOf("2021-01-01"), 22L)))
    // the sink continues normally on the recovered snapshot
    Ingest.mergeBatch(series(("2022-01-01", 5L, 3L)),
      snap, "month", "ingest_v", byYear)
    assert(snapRows(snap) == Seq(
      (Date.valueOf("2020-01-01"), 1L),
      (Date.valueOf("2021-01-01"), 22L),
      (Date.valueOf("2022-01-01"), 5L)))
  }

  test("jdbc wrapper wires the partitioned reader (driver lookup path)") {
    val e = intercept[Exception] {
      Tables.jdbc(spark, "jdbc:postgresql://nohost/db", "tbl",
        partitionColumn = Some("id"), lowerBound = 0L, upperBound = 100L,
        numPartitions = 4)
    }
    // resolution fails at driver lookup — proves the reader path runs
    assert(e.getMessage != null)
  }

  test("jdbc round-trip through embedded Derby matches the parquet path") {
    // the reference's actual source is a Postgres table
    // (dashboard_nfp.py:59-68); Derby ships with Spark, so the SAME
    // reader code path executes end-to-end here
    System.setProperty("derby.stream.error.file", "/tmp/derby.log")
    val url = s"jdbc:derby:memory:graft_${ProcessHandle.current().pid()};create=true"
    val src = Tables.monthlySeries(spark, sf0001)
    src.write.format("jdbc")
      .option("url", url).option("dbtable", "series").save()
    val expected = src.orderBy("month")
      .as[(Date, Long)].collect().toSeq
    val plain = Tables.jdbc(spark, url, "series")
      .orderBy("month").as[(Date, Long)].collect().toSeq
    assert(plain == expected, "unpartitioned JDBC read must match the aggregate")
    // partitioned range read: 4 parallel connections, same rows
    val (lo, hi) = (expected.map(_._2).min, expected.map(_._2).max)
    val ranged = Tables.jdbc(spark, url, "series",
      partitionColumn = Some("emp"), lowerBound = lo, upperBound = hi + 1,
      numPartitions = 4)
    assert(ranged.rdd.getNumPartitions == 4)
    assert(ranged.orderBy("month").as[(Date, Long)].collect().toSeq == expected,
      "partitioned JDBC read must return exactly the same rows")
  }

  test("bucketed layout tables drop on clear and stale dirs are swept") {
    val r1 = Ingest.bucketedColocatedJoin(spark, sf0001).collect()
    assert(r1.nonEmpty)
    val mine = spark.catalog.listTables().collect().map(_.name)
      .filter(_.startsWith("graft_b_"))
    assert(mine.length == 2, s"expected the two layout tables, got ${mine.toSeq}")
    val dirs = Seq("graft_b_orders", "graft_b_customer").map(SnapshotFs.scratch(spark, _, sf0001))
    assert(dirs.forall(SnapshotFs.hasChildren), s"layout tables hold no files: $dirs")
    // a scratch root left by a dead process is swept; the sweep runs
    // once per process (first scratch allocation), so call it directly
    val stale = new java.io.File(System.getProperty("java.io.tmpdir"),
      "graft_999999999/graft_b_orders_x")
    stale.mkdirs()
    SnapshotFs.sweepDeadRoots()
    assert(!stale.getParentFile.exists, "stale dead-pid root must be swept")
    // SessionMemo.clear runs the release: tables + dirs gone
    SessionMemo.clear(spark)
    assert(spark.catalog.listTables().collect()
      .forall(!_.name.startsWith("graft_b_")), "clear must drop the layout tables")
    assert(dirs.forall(!SnapshotFs.exists(_)),
      "clear must delete the layout tables' directories")
    // re-run recreates the layout
    val r2 = Ingest.bucketedColocatedJoin(spark, sf0001).collect()
    assert(r2.map(_.toSeq).toSeq == r1.map(_.toSeq).toSeq)
  }

  test("a layout query's second call leaves the first call's frame readable") {
    // each call used to overwrite its files, deleting those the first
    // frame's file index had already listed (FAILED_READ_FILE)
    val queries = Seq[(String, (SparkSession, String) => DataFrame)](
      "upsertRoundtrip" -> Ingest.upsertRoundtrip,
      "deleteTombstones" -> Ingest.deleteTombstones,
      "mergeOnRead" -> Ingest.mergeOnRead,
      "schemaEvolution" -> Ingest.schemaEvolution)
    SessionMemo.clear(spark)
    for ((name, q) <- queries) {
      val first = q(spark, sf0001)
      val second = q(spark, sf0001)
      assert(first.collect().toSeq == second.collect().toSeq, name)
    }
  }

  test("scratch paths key on the full corpus path") {
    assert(SnapshotFs.scratch("tt_base", "/a/sf0.01") !=
      SnapshotFs.scratch("tt_base", "/b/sf0.01"))
    assert(SnapshotFs.scratch(spark, "tt_base", "/a/sf0.01") !=
      SnapshotFs.scratch(spark, "tt_base", "/b/sf0.01"))
  }

  test("scratch layouts key on the session") {
    assert(SnapshotFs.scratch(spark, "tt_base", sf0001) !=
      SnapshotFs.scratch(spark.newSession(), "tt_base", sf0001))
  }

  test("two sessions' layouts neither overwrite nor clear each other's files") {
    // one process-wide layout path per (kind, dir) let a second
    // session's build overwrite the files the first session's frame
    // had listed (FAILED_READ_FILE), and its clear delete them
    SessionMemo.clear(spark)
    val first = Ingest.upsertRoundtrip(spark, sf0001)
    val other = spark.newSession()
    val second = Ingest.upsertRoundtrip(other, sf0001)
    val want = first.collect().toSeq
    assert(second.collect().toSeq == want)
    SessionMemo.clear(other)
    assert(first.collect().toSeq == want, "another session's clear removed this session's layout")
    SessionMemo.clear(spark)
  }

  test("SessionMemo.clear deletes every layout directory of the session") {
    val queries = Seq[(SparkSession, String) => DataFrame](
      Ingest.upsertRoundtrip, Ingest.deleteTombstones, Ingest.mergeOnRead,
      Ingest.timeTravel, Ingest.vacuum, Ingest.schemaEvolution,
      Ingest.partitionPrunedDrill, Ingest.bucketedColocatedJoin,
      Ingest.compactionReport, ext.Similarity.ivfPrunedTopK)
    queries.foreach(_(spark, sf0001).collect())
    val root = new java.io.File(SnapshotFs.scratch(spark, "any", sf0001)).getParent
    assert(SnapshotFs.hasChildren(root), "the layouts were written elsewhere")
    SessionMemo.clear(spark)
    val left = SnapshotFs.list(root).map(_.getPath.getName)
    assert(left.isEmpty, s"left under the scratch root: $left")
    assert(!SnapshotFs.exists(root), s"the session directory outlived clear: $root")
  }

  test("retraction IVM drops emptied groups, keeps exact survivor sums") {
    import spark.implicits._
    // (click, 2024-01-01) is composed ONLY of forgotten-user rows
    // (user_id % 13 == 0) — after retraction the group must VANISH,
    // not linger as a zero row (the classic retraction bug)
    val ev = Seq(
      (13L, "click", "2024-01-01", 1.5),
      (26L, "click", "2024-01-01", 2.5),
      (2L,  "click", "2024-01-02", 3.0),
      (13L, "view",  "2024-01-02", 4.0),
      (5L,  "view",  "2024-01-02", 6.25)
    ).toDF("user_id", "event_type", "day", "value")
      .withColumn("day", to_date(col("day")))
    val got = Ingest.retractionAggOf(ev).collect()
      .map(r => (r.getString(0), r.getDate(1).toString,
        r.getLong(2), r.getDouble(3))).toSet
    assert(got == Set(
      ("click", "2024-01-02", 1L, 3.0),
      ("view", "2024-01-02", 1L, 6.25)), s"got $got")
  }

  test("time travel: each version reconstructs its exact historical state") {
    // independent recompute from the raw orders table with the same
    // modulus batches: v0 = base, v1 = +updates, v2 = +deletes
    val base = Tables.orders(spark, sf0001)
      .select("o_orderkey", "o_orderstatus", "o_totalprice").collect()
      .map(r => (r.getLong(0), r.getString(1),
        // mirror the query's cast("decimal(25,8)") on the double price
        BigDecimal(r.getDouble(2)).setScale(8, BigDecimal.RoundingMode.HALF_UP)))
    def rollup(rows: Seq[(Long, String, BigDecimal)]) =
      rows.groupBy(_._2).map { case (st, rs) =>
        (st, rs.size.toLong,
          (rs.map(_._3).sum.setScale(4, BigDecimal.RoundingMode.HALF_UP)).toDouble)
      }.toSet
    val v0 = base.toSeq
    val v1 = v0.map { case (k, st, p) => (k, if (k % 10 == 0) "R" else st, p) }
    val v2 = v1.filter(_._1 % 7 != 0)
    val expect = Seq(0 -> v0, 1 -> v1, 2 -> v2).flatMap { case (v, rows) =>
      rollup(rows).map { case (st, n, tp) => (v.toLong, st, n, tp) }
    }.toSet
    val got = Ingest.timeTravel(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      .toSet
    assert(got == expect,
      s"only-spark=${got.diff(expect)} only-jvm=${expect.diff(got)}")
    // time travel is non-destructive: v2's read never rewrote v0's
    // state, so the v0 rollup still equals the raw base
    assert(got.filter(_._1 == 0L).map(t => (t._2, t._3, t._4)) == rollup(v0))
  }

  test("vacuum: retained reads unchanged, expired commits physically gone") {
    val rows = Ingest.vacuum(spark, sf0001).collect()
    // retained reads ≡ the unvacuumed store's v1/v2 (time travel over
    // the same deterministic batches)
    val tt = Ingest.timeTravel(spark, sf0001).collect()
      .filter(_.getLong(0) >= 1)
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      .toSeq.sorted
    val got = rows
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getDouble(3)))
      .toSeq.sorted
    assert(got == tt, "a vacuumed read at/after the horizon diverged")
    // physically reclaimed: the expired base + v1 commits are gone,
    // the checkpoint and the live v2 commit survive
    val vac = SnapshotFs.scratch(spark, "vac", sf0001)
    assert(!SnapshotFs.hasSuccess(s"$vac/base"))
    assert(!SnapshotFs.hasSuccess(s"$vac/v1"))
    assert(SnapshotFs.hasSuccess(s"$vac/ckpt"))
    assert(SnapshotFs.hasSuccess(s"$vac/v2"))
    assert(rows.forall(_.getLong(4) == 2L), "surviving-commit count must be 2")
    // idempotent: a second vacuum pass is a no-op on an already
    // vacuumed store
    assert(Ingest.vacuum(spark, sf0001).collect().toSeq == rows.toSeq)
  }

  test("drill join prunes fact partitions at runtime (DPP)") {
    val df = Ingest.partitionPrunedDrill(spark, sf0001)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("dynamicpruning"),
      s"fact scan must carry a dynamic pruning partition filter:\n$plan")
    val rows = df.collect()
    assert(rows.length == 2, "exactly the two top-revenue years survive")
    assert(rows.forall(_.getLong(1) > 0))
  }

  test("time-series writer partitions by year and prunes on read") {
    val dir = tempDir("graft_ts")
    Ingest.writeTimeSeries(Tables.monthlySeries(spark, sf0001), dir)
    val back = spark.read.parquet(dir)
    // partition pruning: a year filter must reach the scan as a
    // partition filter, reading only that year's directory
    val pruned = back.filter(col("year") === 1996)
    val scan = pruned.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters") && scan.contains("year"))
    val all = Tables.monthlySeries(spark, sf0001)
      .filter(year(col("month")) === 1996).count()
    assert(pruned.count() == all)
  }

  test("merge-on-read view ≡ copy-on-write merge; delta commit leaves base untouched") {
    val base = Tables.orders(spark, sf0001)
      .select(col("o_orderkey"), to_date(col("o_orderdate")).as("o_orderdate"),
        col("o_totalprice"), col("o_orderstatus"))
    val upd = base.filter(col("o_orderkey") % 10 === 0)
      .withColumn("o_orderdate", date_add(col("o_orderdate"), 1))
      .withColumn("o_orderstatus", lit("R"))
      .withColumn("deleted", lit(false))
    val tomb = base.filter(col("o_orderkey") % 7 === 0)
      .withColumn("o_orderdate", date_add(col("o_orderdate"), 2))
      .withColumn("deleted", lit(true))
    val root = new java.io.File(tempDir("graft_mor_spec"))
    try {
      val basePath = s"${root.getPath}/base"
      val deltaPath = s"${root.getPath}/delta"
      base.write.parquet(basePath)
      val baseFiles = Option(new java.io.File(basePath).listFiles).get
        .filter(_.getName.endsWith(".parquet"))
        .map(f => (f.getName, f.length, f.lastModified)).sortBy(_._1).toSeq
      upd.unionByName(tomb).write.parquet(deltaPath)
      val afterDelta = Option(new java.io.File(basePath).listFiles).get
        .filter(_.getName.endsWith(".parquet"))
        .map(f => (f.getName, f.length, f.lastModified)).sortBy(_._1).toSeq
      assert(baseFiles == afterDelta,
        "MOR delta commit must not rewrite a single base file")
      val mor = Ingest.mergeOnReadView(spark, basePath, deltaPath)
        .collect().map(_.toSeq).toSet
      val cow = Ingest.upsertWithTombstones(base, upd.unionByName(tomb),
        "o_orderkey", "o_orderdate", "deleted")
        .collect().map(_.toSeq).toSet
      assert(mor == cow,
        s"read-time merge diverges from write-time merge: ${mor.size} vs ${cow.size}")
      assert(mor.nonEmpty)
    } finally {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles).foreach(_.foreach(rm)); f.delete(); ()
      }
      rm(root)
    }
  }

  test("incremental join: delta-maintained view equals the one-shot recompute") {
    // the three IVM terms partition A_new x B_new — any overlap or
    // gap (double-counted or dropped delta rows) breaks equality
    val inc = sources.Ingest.incrementalJoin(spark, sf0001).collect().map(_.toSeq)
    val one = sources.Ingest.incrementalJoinOneShot(spark, sf0001)
      .collect().map(_.toSeq)
    assert(inc.length == one.length && inc.sameElements(one),
      s"delta-maintained != one-shot:\n${inc.toSeq}\nvs\n${one.toSeq}")
  }

  test("SCD2: intervals chain, one current row per key, version counts by cohort") {
    val rows = Ingest.scd2Build(spark, sf0001).collect()
    val byKey = rows.groupBy(_.getAs[Long]("o_orderkey"))
    byKey.foreach { case (k, vs) =>
      val hist = vs.sortBy(r => r.getAs[Date]("valid_from").toLocalDate.toEpochDay)
      // expected chain length by cohort
      val expected = if (k % 100 == 0) 3 else if (k % 10 == 0) 2 else 1
      assert(hist.length == expected, s"key $k: ${hist.length} versions")
      // each valid_to equals the successor's valid_from; only the
      // last row is open-ended and current
      hist.sliding(2).foreach {
        case Array(a, b) =>
          assert(a.getAs[Date]("valid_to") == b.getAs[Date]("valid_from"),
            s"key $k: broken interval chain")
        case _ => ()
      }
      assert(hist.init.forall(!_.getAs[Boolean]("is_current")))
      assert(hist.last.getAs[Boolean]("is_current") &&
        hist.last.getAs[Date]("valid_to") == null)
      // a point-in-time lookup between change 1 and 2 sees version 1
      if (expected == 3) {
        val d = hist(1).getAs[Date]("valid_from")
        val inForce = hist.filter { r =>
          !r.getAs[Date]("valid_from").after(d) &&
            (r.getAs[Date]("valid_to") == null ||
              d.before(r.getAs[Date]("valid_to")))
        }
        assert(inForce.length == 1 && inForce.head.getAs[String]("o_orderstatus") == "R",
          s"key $k: as-of lookup must resolve to exactly the R version")
      }
    }
  }

  test("SCD2 merge: non-orderable payload (map) merges; equal-valid_from ties chain totally") {
    // r12: tie order comes from an md5 digest of the JSON payload —
    // sorting by the raw payload columns (the r11 form) failed
    // analysis on map-typed payloads, though the helper is generic
    val chg = Seq(
      (1L, Date.valueOf("2020-01-01"), Map("a" -> 1)),
      (1L, Date.valueOf("2020-01-01"), Map("b" -> 2)), // same valid_from
      (1L, Date.valueOf("2020-02-01"), Map("c" -> 3)))
      .toDF("k", "valid_from", "attrs")
    val empty = chg.limit(0)
      .withColumn("valid_to", lit(null).cast("date"))
      .withColumn("is_current", lit(true))
      .select("k", "valid_from", "valid_to", "is_current", "attrs")
    val merged = Ingest.scd2Merge(empty, chg, "k")
    val rows = merged.orderBy("valid_from", "valid_to").collect()
    assert(rows.length == 3, s"3 versions expected: ${rows.toSeq}")
    assert(rows.count(_.getAs[Boolean]("is_current")) == 1,
      "exactly one open interval")
    // the tie chains deterministically: re-running the merge on the
    // same inputs lands on the identical chain
    val replay = Ingest.scd2Merge(empty, chg, "k")
      .orderBy("valid_from", "valid_to").collect()
    assert(rows.map(_.toString).toSeq == replay.map(_.toString).toSeq,
      "tie chain must be deterministic across runs")
  }

  test("SCD2 merge: batch-by-batch ≡ one-shot, replay is a no-op, late splice") {
    def chg(vs: (Long, String, String)*) =
      vs.map { case (k, d, st) => (k, Date.valueOf(d), BigDecimal(1), st) }
        .toDF("o_orderkey", "valid_from", "o_totalprice", "o_orderstatus")
    val empty = chg()
      .withColumn("valid_to", lit(null).cast("date"))
      .withColumn("is_current", lit(true))
      .select("o_orderkey", "valid_from", "valid_to", "is_current",
        "o_totalprice", "o_orderstatus")
    val b1 = chg((1L, "2020-01-01", "O"), (2L, "2020-01-01", "O"))
    val b2 = chg((1L, "2020-03-01", "F"))
    // late batch: splices BETWEEN key 1's two existing versions
    val b3 = chg((1L, "2020-02-01", "R"))
    val oneShot = Ingest.scd2Merge(empty, b1.union(b2).union(b3), "o_orderkey")
    val stepped = Seq(b1, b2, b3, b3 /* replay */)
      .foldLeft(empty)((h, b) => Ingest.scd2Merge(h, b, "o_orderkey"))
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("o_orderkey", "valid_from").collect().toSeq
    assert(canon(stepped) == canon(oneShot))
    val k1 = canon(stepped).filter(_.getAs[Long]("o_orderkey") == 1L)
    assert(k1.map(_.getAs[String]("o_orderstatus")) == Seq("O", "R", "F"),
      "late change must splice into the middle of the chain")
    assert(k1.map(_.getAs[Boolean]("is_current")) == Seq(false, false, true))
    // untouched key 2 still a single current row
    val k2 = canon(stepped).filter(_.getAs[Long]("o_orderkey") == 2L)
    assert(k2.length == 1 && k2.head.getAs[Boolean]("is_current"))
  }

  test("streaming SCD2 sink converges to the one-shot history build") {
    import graft.streaming.Events
    val path = tempDir("graft_scd2_sink") + "/hist"
    // each event is a version of its user's dimension row: valid_from
    // = event_id (unique, so the chain order is deterministic)
    val stream = spark.readStream.schema(Events.rawSchema(spark, sf0001))
      .option("maxFilesPerTrigger", "1") // force multiple micro-batches
      .parquet(s"$sf0001/events*.parquet")
      .select(col("user_id"), col("event_id").as("valid_from"), col("value"))
    val q = Ingest.scd2Sink(stream, path, "user_id").start()
    try q.processAllAvailable() finally q.stop()

    val got = spark.read.parquet(path)
      .select("user_id", "valid_from", "valid_to", "is_current")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) -1L else r.getLong(2), r.getBoolean(3))).toSet
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("user_id").orderBy("valid_from")
    val oneShot = Tables.events(spark, sf0001)
      .select(col("user_id"), col("event_id").as("valid_from"))
      .withColumn("valid_to", lead(col("valid_from"), 1).over(w))
      .collect()
      .map(r => (r.getLong(0), r.getLong(1),
        if (r.isNullAt(2)) -1L else r.getLong(2), r.isNullAt(2))).toSet
    assert(got == oneShot,
      s"streaming history (${got.size}) != one-shot build (${oneShot.size})")
  }
}
