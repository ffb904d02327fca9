package graft.sources

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Ingest/sink parity (SURVEY.md §2.1 S1–S4): the reference lands a
  * keyed series with row-at-a-time `INSERT … ON CONFLICT DO UPDATE`
  * (`/root/reference/etl.py:66-71`) — idempotent last-write-wins per
  * primary key. On Parquet the equivalent is set-based: merge new and
  * existing rows, keep the newest version per key, rewrite the
  * snapshot. One window, one shuffle on the key, no per-row
  * round-trips.
  */
object Ingest {

  /** Last-write-wins merge: among all rows sharing `key`, keep the
    * one with the highest `version` (ties: arbitrary-but-deterministic
    * via the key ordering below). Mirrors `ON CONFLICT (date) DO
    * UPDATE SET value = EXCLUDED.value` applied in version order. */
  def upsert(existing: DataFrame, incoming: DataFrame,
      key: String, version: String): DataFrame =
    newestPerKey(existing.unionByName(incoming), key, col(version).desc)

  /** The one resolve step of every last-write-wins path: per `key`,
    * keep the first row under `order` (newest first). A filter on a
    * non-key column belongs ABOVE this step: Spark pushes only
    * partition-key predicates through a `Window`. */
  private def newestPerKey(rows: DataFrame, key: String,
      order: org.apache.spark.sql.Column*): DataFrame =
    rows.withColumn("__rn", row_number().over(Window.partitionBy(key).orderBy(order: _*)))
      .filter(col("__rn") === 1)
      .drop("__rn")

  /** Snapshot writer for the monthly series table: partitioned by
    * year so calendar-sliced queries prune whole directories (the
    * reference's full-table `SELECT *` anti-pattern inverted). At
    * 100 TB the same layout holds — partition on the coarse calendar
    * grain, let month-level pruning ride on parquet row-group stats. */
  def writeTimeSeries(df: DataFrame, path: String,
      dateCol: String = "month"): Unit =
    df.withColumn("year", year(col(dateCol)))
      .repartition(col("year"))
      .write.mode(SaveMode.Overwrite)
      .partitionBy("year")
      .parquet(path)

  /** S4 end-to-end declared query: build a deterministic "incoming"
    * batch (every 10th order re-arrives one day later with status
    * 'R'), [[upsert]] it into the base snapshot last-write-wins,
    * [[writeTimeSeries]] the merged snapshot to parquet (year-
    * partitioned), re-read it, and return the rows — the reference's
    * whole `etl.py:66-71` load story as one verifiable round trip.
    * The DuckDB oracle recomputes the same merge relationally, so the
    * write→read path (not just the merge plan) is hash-checked. */
  def upsertRoundtrip(s: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    val base = orders(s, dir)
    val merged = upsert(base, updates(base).drop("deleted"), "o_orderkey", "o_orderdate")
    val path = SnapshotFs.layout(s, "roundtrip", dir)(writeTimeSeries(merged, _, "o_orderdate"))
    s.read.parquet(path)
      .select("o_orderkey", "o_orderdate", "o_totalprice", "o_orderstatus")
      .orderBy("o_orderkey")
  }

  /** Last-write-wins merge WITH tombstones: incoming rows carry a
    * boolean `isDelete` column; the newest version per key wins
    * (tombstones outrank data at equal version — a delete issued "at"
    * a version beats the record it targets), and a key whose winner
    * is a tombstone leaves the snapshot entirely. This is the GDPR /
    * retraction path of the S4 sink: deletion is data flowing through
    * the same one-shuffle merge, not a second scan-and-rewrite pass —
    * at 100 TB a delete batch costs O(batch ∪ touched partitions)
    * exactly like an upsert batch. */
  def upsertWithTombstones(existing: DataFrame, incoming: DataFrame,
      key: String, version: String, isDelete: String): DataFrame =
    newestPerKey(existing.withColumn(isDelete, lit(false)).unionByName(incoming),
        key, col(version).desc, col(isDelete).desc)
      .filter(!col(isDelete))
      .drop(isDelete)

  /** The orders projection every change-log query starts from. */
  private def orders(s: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    graft.Tables.orders(s, dir)
      .select(col("o_orderkey"), to_date(col("o_orderdate")).as("o_orderdate"),
        col("o_totalprice"), col("o_orderstatus"))

  /** The change log's update batch: every 10th order re-arrives one
    * day later with status 'R'. */
  private def updates(base: DataFrame): DataFrame =
    base.filter(col("o_orderkey") % 10 === 0)
      .withColumn("o_orderdate", date_add(col("o_orderdate"), 1))
      .withColumn("o_orderstatus", lit("R"))
      .withColumn("deleted", lit(false))

  /** The change log's tombstone batch: every 7th order is deleted two
    * days later. */
  private def tombstones(base: DataFrame): DataFrame =
    base.filter(col("o_orderkey") % 7 === 0)
      .withColumn("o_orderdate", date_add(col("o_orderdate"), 2))
      .withColumn("deleted", lit(true))

  /** The per-status rollup the merged-view queries report. */
  private def statusRollup(df: DataFrame): DataFrame =
    df.groupBy("o_orderstatus")
      .agg(count(lit(1)).as("n_rows"),
        round(sum(col("o_totalprice").cast("decimal(25,8)")).cast("double"), 4)
          .as("total_price"))

  /** Declared query: deletes propagate through the snapshot round
    * trip. Every 10th order re-arrives updated (status 'R', one day
    * later) and every 7th arrives as a TOMBSTONE two days later; the
    * merged snapshot is written ([[writeTimeSeries]]), re-read, and
    * the touched keys returned — so the hash check proves updated
    * keys survive with their new version, tombstoned keys are GONE
    * from the persisted snapshot (a key hit by both update and delete
    * resolves by version: the later tombstone wins), and untouched
    * keys are untouched ([[upsertRoundtrip]] covers them in full). */
  def deleteTombstones(s: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    val base = orders(s, dir)
    val merged = upsertWithTombstones(base, updates(base).unionByName(tombstones(base)),
      "o_orderkey", "o_orderdate", "deleted")
    val path = SnapshotFs.layout(s, "tombstones", dir)(writeTimeSeries(merged, _, "o_orderdate"))
    s.read.parquet(path)
      .filter(col("o_orderkey") % 10 === 0 || col("o_orderkey") % 7 === 0)
      .select("o_orderkey", "o_orderdate", "o_totalprice", "o_orderstatus")
      .orderBy("o_orderkey")
  }

  /** SCD Type-2 dimension build — the warehouse-standard answer to
    * "what did this row look like on date D?". Where [[upsert]] keeps
    * only the newest version per key (Type 1: history destroyed),
    * Type 2 keeps EVERY version as its own row with a validity
    * interval: `valid_from` = the version's change date, `valid_to` =
    * the next version's change date (exclusive), `is_current` = no
    * successor. Point-in-time lookups are then a range predicate
    * (`valid_from <= d AND (valid_to IS NULL OR d < valid_to)`), and
    * the as-of family ([[graft.operators.AsOf]]) can join facts to
    * the dimension version in force at event time.
    *
    * Shape: one shuffle on the key, one `lead` window per key whose
    * partition is the key's version count (2-3 rows here, never the
    * table) — embarrassingly parallel at any corpus size, unlike the
    * driver-side "compare against yesterday's dim" loop it replaces.
    *
    * Declared query: orders is the change log — every 10th key
    * re-arrives a day later (status 'R': the [[updates]] batch),
    * every 100th a THIRD time
    * two days later (status 'F'), so the history holds 1-, 2- and
    * 3-version chains and the hash check pins interval chaining
    * (each `valid_to` equals the successor's `valid_from`), the
    * open-ended current row, and single-version keys staying
    * current. */
  def scd2Build(s: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    val base = orders(s, dir)
    val chg2 = base.filter(col("o_orderkey") % 100 === 0)
      .withColumn("o_orderdate", date_add(col("o_orderdate"), 2))
      .withColumn("o_orderstatus", lit("F"))
    val w = Window.partitionBy("o_orderkey").orderBy("valid_from")
    base.unionByName(updates(base).drop("deleted")).unionByName(chg2)
      .withColumnRenamed("o_orderdate", "valid_from")
      .withColumn("valid_to", lead(col("valid_from"), 1).over(w))
      .withColumn("is_current", col("valid_to").isNull)
      .select("o_orderkey", "valid_from", "valid_to", "is_current",
        "o_totalprice", "o_orderstatus")
      .orderBy("o_orderkey", "valid_from")
  }

  /** Incremental SCD2 maintenance — [[scd2Build]]'s continuous-ingest
    * face. `history` is an existing Type-2 table (`valid_from`,
    * `valid_to`, `is_current` + payload); `changes` is a batch of new
    * versions (`valid_from` = change date + payload, no interval
    * columns yet). Only the keys PRESENT in the batch are rewritten:
    * their history rows re-enter the lead window together with the
    * new versions (so a late-arriving change splices into the middle
    * of an existing chain, closing and re-opening the right
    * intervals); untouched keys pass through untouched. Cost is
    * O(batch ∪ touched history) per batch — the same contract as the
    * tombstone upsert — never O(table). Exact replays are dropped
    * before the window, so re-applying a batch is a no-op (the
    * at-least-once delivery guarantee a `foreachBatch` sink needs).
    * Spec-asserted: any split of a change log applied batch-by-batch
    * equals the one-shot [[scd2Build]] history, including replayed
    * and late batches. */
  def scd2Merge(history: DataFrame, changes: DataFrame,
      key: String): DataFrame = {
    val intervalCols = Seq("valid_to", "is_current")
    val touched = changes.select(key).distinct()
    // batch-derived key list: tiny vs the table, broadcast both ways
    val touchedHist = history.join(broadcast(touched), Seq(key), "left_semi")
    val untouched = history.join(broadcast(touched), Seq(key), "left_anti")
    val log0 = touchedHist.drop(intervalCols: _*)
      .unionByName(changes)
    // valid_from alone is not a total order: two DISTINCT payload
    // versions sharing (key, valid_from) would chain
    // nondeterministically across runs/engines. An md5 digest of the
    // payload (its JSON rendering — null-safe, defined for EVERY
    // column type) makes BOTH the replay dedup and the chain order
    // total: the r11 form deduped with dropDuplicates() over raw
    // columns and sorted ties by them, which failed analysis the
    // moment a change log carried a non-orderable/non-set-op column
    // (map, or a struct holding one), though the helper is generic
    // over payloads. Digest-equal rows are identical payloads (a
    // deterministic md5 collision aside), so which one dedup keeps is
    // content-irrelevant. The fixture's change log has no (key,
    // valid_from) ties, so the oracle keeps its plain valid_from
    // chain.
    val payloadCols = log0.columns.filter(c => c != key && c != "valid_from")
    val payloadDigest = md5(to_json(struct(payloadCols.map(col).toSeq: _*)))
    val log = log0.withColumn("__digest", payloadDigest)
      .dropDuplicates(key, "valid_from", "__digest")
    val w = Window.partitionBy(key)
      .orderBy(col("valid_from"), col("__digest"))
    untouched.unionByName(
      log.withColumn("valid_to", lead(col("valid_from"), 1).over(w))
        .withColumn("is_current", col("valid_to").isNull)
        .select(untouched.columns.map(col): _*))
  }

  /** Streaming SCD2 sink — [[scd2Merge]] behind the same crash-safe
    * stage→swap snapshot machinery as [[upsertSink]]: the history
    * table lives key-hash-partitioned (`__part`), each micro-batch
    * rewrites only the partitions holding batch-touched keys
    * (recover → merge touched partitions → stage to `.next` → swap),
    * and a crash at any point leaves a recoverable snapshot. Batch
    * columns: `key`, `valid_from` (the change version), payload; the
    * snapshot adds `valid_to`/`is_current`. Spec-asserted: streaming
    * the change log file-by-file converges to the one-shot
    * [[scd2Build]]-shaped history. */
  def scd2Sink(stream: DataFrame, path: String, key: String)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream.outputMode("append").foreachBatch {
      (batch: DataFrame, _: Long) => scd2MergeBatch(batch, path, key)
    }

  /** One micro-batch of the SCD2 sink: [[stageTouched]] through
    * [[scd2Merge]], then swap. A first batch's empty history gains
    * the interval columns the snapshot carries. */
  private[graft] def scd2MergeBatch(batch: DataFrame, path: String,
      key: String): Unit = {
    val staged = stageTouched(batch, path, key, defaultPartition) { (hist, keyed) =>
      val vfType = keyed.schema("valid_from").dataType
      val full =
        if (hist.columns.contains("is_current")) hist
        else hist.withColumn("valid_to", lit(null).cast(vfType))
          .withColumn("is_current", lit(true))
      scd2Merge(full, keyed, key)
    }
    if (staged) swapStaged(path)
  }

  /** Merge-on-read view — the other half of the lakehouse write/read
    * trade. [[upsertRoundtrip]]/[[deleteTombstones]] are COPY-ON-WRITE:
    * each batch pays the merge at write time and readers scan a clean
    * snapshot. Here the delta (updates AND tombstones) lands as an
    * untouched APPEND next to the base files — write cost O(batch),
    * zero base rewrite — and every read resolves base ∪ delta with
    * the same last-write-wins-plus-tombstones window at READ time
    * (Hudi's MOR table / Iceberg's merge-on-read deletes). Right for
    * write-heavy read-rare tables; [[compactSnapshot]] is the
    * compactor that periodically folds the delta back in.
    *
    * At 100 TB the read view costs one shuffle of base ∪ delta on the
    * key per read — exactly the cost COW pays per WRITE batch; which
    * side of the trade wins is the write:read ratio. The declared
    * query reports the merged view's per-status rollup over ALL keys
    * (not just touched ones), so the hash certifies the whole
    * read-time merge: updated keys counted under their new status,
    * tombstoned keys absent, untouched keys intact. The two file
    * sets are REALLY written and re-read (separate parquet dirs);
    * `IngestSpec` additionally asserts base files are byte-untouched
    * by the delta commit and MOR ≡ COW row-for-row. */
  def mergeOnRead(s: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    val base = orders(s, dir)
    val path = SnapshotFs.layout(s, "mor", dir) { p =>
      base.write.mode("overwrite").parquet(s"$p/base")
      updates(base).unionByName(tombstones(base)).write.mode("overwrite").parquet(s"$p/delta")
    }
    statusRollup(mergeOnReadView(s, s"$path/base", s"$path/delta"))
      .orderBy("o_orderstatus")
  }

  /** The read-time merge itself: base ∪ delta resolved per key by
    * [[upsertWithTombstones]] (newest version wins, tombstones outrank
    * data at equal version, winning tombstones drop the key). */
  private[graft] def mergeOnReadView(s: org.apache.spark.sql.SparkSession,
      basePath: String, deltaPath: String): DataFrame =
    upsertWithTombstones(s.read.parquet(basePath), s.read.parquet(deltaPath),
      "o_orderkey", "o_orderdate", "deleted")

  /** Data-quality EXPECTATIONS — the constraint gate an ingest
    * pipeline evaluates per batch before committing (Delta Live
    * Tables / Great-Expectations shape): each rule reports its row
    * population, violation count, and failure rate, so a commit
    * policy can warn/drop/abort on thresholds. Two rule classes:
    * row-local predicates (null / range / domain checks — ALL of a
    * table's rules fold into ONE map-side-combined pass over its
    * scan, a 1-row aggregate regardless of rule count) and
    * referential checks (key resolves in the parent table — a
    * LEFT ANTI count; the dimension side broadcasts, the fact-fact
    * orphan check joins SHUFFLE-HASH). The mixed-severity fixture is
    * deliberate: the domain rules pass clean while the `bulk_quantity`
    * policy rule fails real rows, so the hash gate covers both the
    * zero and non-zero paths. */
  def expectations(s: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val li = graft.Tables.lineitem(s, dir)
    val liAgg = li.agg(
      count(lit(1)).as("n"),
      sum(when(!(col("l_quantity") > 0), 1L).otherwise(0L)).as("f_qty"),
      sum(when(col("l_quantity") > 45, 1L).otherwise(0L)).as("f_bulk"),
      sum(when(!col("l_discount").between(0.0, 0.1), 1L).otherwise(0L))
        .as("f_disc"),
      sum(when(col("l_shipdate").isNull, 1L).otherwise(0L)).as("f_ship"))
    val ordN = graft.Tables.orders(s, dir).agg(count(lit(1)).as("n"))
    val ordOrphans = graft.Tables.orders(s, dir)
      .join(broadcast(graft.Tables.customer(s, dir).select("c_custkey")),
        col("o_custkey") === col("c_custkey"), "left_anti")
      .agg(count(lit(1)).as("f"))
    val liOrphans = li.select("l_orderkey")
      .join(graft.Tables.orders(s, dir).select("o_orderkey")
          .hint("shuffle_hash"),
        col("l_orderkey") === col("o_orderkey"), "left_anti")
      .agg(count(lit(1)).as("f"))
    def rule(name: String, n: org.apache.spark.sql.Column,
        f: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      struct(lit(name).as("rule"), n.as("n_rows"), f.as("n_fail"),
        round(f / n.cast("double"), 4).as("fail_rate"))
    liAgg.crossJoin(broadcast(ordN.toDF("o_n")))
      .crossJoin(broadcast(ordOrphans.toDF("o_f")))
      .crossJoin(broadcast(liOrphans.toDF("l_f")))
      .select(explode(array(
        rule("l_discount_in_domain", col("n"), col("f_disc")),
        rule("l_orderkey_resolves", col("n"), col("l_f")),
        rule("l_quantity_positive", col("n"), col("f_qty")),
        rule("l_shipdate_not_null", col("n"), col("f_ship")),
        rule("lq_bulk_quantity_cap", col("n"), col("f_bulk")),
        rule("o_custkey_resolves", col("o_n"), col("o_f")))).as("r"))
      .select(col("r.rule").as("rule"), col("r.n_rows").as("n_rows"),
        col("r.n_fail").as("n_fail"), col("r.fail_rate").as("fail_rate"))
      .orderBy("rule")
  }

  /** The commit history [[timeTravel]] and [[vacuum]] read: `base` as
    * is, v1 = the [[updates]] batch, v2 = the [[tombstones]] batch;
    * each commit carries its version in `__v`, the column the as-of
    * read resolves on (the batches' shifted dates are never read). */
  private def writeCommits(base: DataFrame, basePath: String,
      v1Path: String, v2Path: String): Unit = {
    base.write.mode("overwrite").parquet(basePath)
    updates(base).withColumn("__v", lit(1)).write.mode("overwrite").parquet(v1Path)
    tombstones(base).withColumn("__v", lit(2)).write.mode("overwrite").parquet(v2Path)
  }

  /** A base commit (version `baseV`) plus the given delta commits,
    * resolved per key by [[upsertWithTombstones]] on the commit
    * version `__v`. With no delta the base is read as is: a base
    * commit holds one row per key. */
  private def resolveCommits(s: org.apache.spark.sql.SparkSession,
      basePath: String, baseV: Int, deltaPaths: Seq[String]): DataFrame = {
    val base = s.read.parquet(basePath).withColumn("__v", lit(baseV))
    if (deltaPaths.isEmpty) base
    else upsertWithTombstones(base, deltaPaths.map(s.read.parquet(_)).reduce(_ unionByName _),
      "o_orderkey", "__v", "deleted")
  }

  /** The as-of read [[timeTravel]] and [[vacuum]] share: the base
    * commit plus every delta commit up to version `v`, rolled up per
    * status and labelled `version = v`. */
  private def asOfRollup(s: org.apache.spark.sql.SparkSession, basePath: String,
      baseV: Int, deltas: Seq[(Int, String)], v: Int): DataFrame =
    statusRollup(resolveCommits(s, basePath, baseV,
        deltas.collect { case (dv, p) if dv <= v => p }))
      .withColumn("version", lit(v.toLong))

  /** Snapshot versioning + TIME TRAVEL — the lakehouse read axis next
    * to [[mergeOnRead]]: every commit lands as an ordered DELTA
    * directory carrying its commit id IN the files (v1 = the update
    * batch, v2 = the tombstone batch — the same deterministic batches
    * as [[mergeOnRead]]); reading AS OF version v resolves
    * base ∪ {deltas ≤ v} with the LWW+tombstone rule, so ANY
    * historical state reconstructs without rewriting a single data
    * file (Iceberg/Delta snapshot semantics: commits are additive,
    * reads pick a prefix). The declared query reads all three
    * versions and rolls each up tagged by version — the hash check
    * proves v0 ignores every delta, v1 applies the updates but not
    * the deletes, and v2 applies both. At 100 TB the version choice
    * is a manifest-prefix walk at planning time; the data read is the
    * same pruned MOR scan. */
  def timeTravel(s: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    val root = SnapshotFs.layout(s, "tt", dir)(p =>
      writeCommits(orders(s, dir), s"$p/base", s"$p/v1", s"$p/v2"))
    val deltas = Seq(1 -> s"$root/v1", 2 -> s"$root/v2")
    (0 to 2).map(asOfRollup(s, s"$root/base", 0, deltas, _)).reduce(_.unionByName(_))
      .select(col("version"), col("o_orderstatus"), col("n_rows"),
        col("total_price"))
      .orderBy("version", "o_orderstatus")
  }

  /** Snapshot RETENTION (VACUUM / expire-snapshots) — the maintenance
    * pass that completes the lakehouse lifecycle next to
    * [[compactSnapshot]] and [[timeTravel]]: commit history cannot
    * grow forever, so versions older than the retention horizon FOLD
    * into a checkpointed base (one LWW resolve of the expired prefix,
    * written once) and their commit directories are DELETED — Delta's
    * VACUUM / Iceberg's expire_snapshots. Reads at or after the
    * horizon are unchanged (the fold is exactly the resolve those
    * reads were running); versions before it stop being
    * reconstructable — that is the storage the pass reclaims. The
    * declared query builds its own commit history (the [[timeTravel]]
    * batches on separate paths), vacuums at horizon v1 (base + the
    * %10 update commit fold; the %7 tombstone commit stays live),
    * reads v1 and v2 FROM THE VACUUMED STORE, and emits the surviving
    * commit count measured from the filesystem — a failed deletion
    * shifts it and fails the hash gate. Listings and deletes go
    * through the Hadoop FileSystem API ([[SnapshotFs]]) —
    * object-store-safe. */
  def vacuum(s: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    val root = SnapshotFs.scratch(s, "vac", dir)
    val (basePath, v1Path, v2Path, ckptPath) =
      (s"$root/base", s"$root/v1", s"$root/v2", s"$root/ckpt")
    SnapshotFs.layout(s, "vac", dir) { _ =>
      writeCommits(orders(s, dir), basePath, v1Path, v2Path)
      // the vacuum itself: fold the expired prefix (base, v1) into
      // ONE checkpointed base at the horizon — the same resolve every
      // read was already running, paid once at write time
      resolveCommits(s, basePath, 0, Seq(v1Path)).drop("__v")
        .write.mode("overwrite").parquet(ckptPath)
    }
    // ... then reclaim the expired commits. UNCONDITIONAL once the
    // checkpoint is committed (outside the once build): a crash
    // between checkpoint commit and reclamation must not strand the
    // expired commits forever — the rerun skips the build but still
    // converges the store to (checkpoint, v2). Same crash-recovery
    // discipline as swapStaged/recoverSnapshot.
    SnapshotFs.deleteTree(basePath)
    SnapshotFs.deleteTree(v1Path)
    // measured from the store, not assumed: checkpoint + live v2
    val remaining = Seq(basePath, v1Path, v2Path, ckptPath)
      .count(SnapshotFs.hasSuccess).toLong
    (1 to 2).map(asOfRollup(s, ckptPath, 1, Seq(2 -> v2Path), _)).reduce(_.unionByName(_))
      .select(col("version"), col("o_orderstatus"), col("n_rows"),
        col("total_price"), lit(remaining).as("remaining_commits"))
      .orderBy("version", "o_orderstatus")
  }

  /** CDC between two keyed snapshots: classify every key as
    * INSERT (only in next), DELETE (only in prev), or UPDATE (in
    * both, any tracked column differs); unchanged keys produce no
    * row. One full-outer join on the key — at 100 TB this shuffles
    * the two snapshots once, emits O(|changes|), and is the change
    * feed a downstream incremental consumer ([[incrementalAgg]]-
    * style) replays instead of re-reading the whole new snapshot. */
  def snapshotDiff(prev: DataFrame, next: DataFrame, key: String,
      tracked: Seq[String]): DataFrame = {
    val p = prev.select(col(key).as("__k"),
      struct(tracked.map(col): _*).as("__prev"))
    val q = next.select(col(key).as("__k"),
      struct(tracked.map(col): _*).as("__next"))
    p.join(q.hint("shuffle_hash"), Seq("__k"), "full_outer")
      .withColumn("op",
        when(col("__prev").isNull, lit("I"))
          .when(col("__next").isNull, lit("D"))
          .when(col("__prev") =!= col("__next"), lit("U")))
      .filter(col("op").isNotNull)
      .select(col("op"), col("__k").as(key),
        coalesce(col("__next"), col("__prev")).as("__row"))
      .select(Seq(col("op"), col(key)) ++
        tracked.map(c => col(s"__row.$c").as(c)): _*)
  }

  /** Declared query: the change feed between the base orders snapshot
    * and a deterministically evolved next version (every 10th key
    * updated to status 'R' a day later, every 7th key deleted — a
    * key hit by both counts as deleted — and a fresh insert minted
    * per 13th key at `key + 10^8`). DELETE rows carry the prev-image
    * columns, INSERT/UPDATE the next-image — the convention a
    * merge-applying consumer needs. */
  def snapshotDiffQuery(s: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    val base = orders(s, dir)
    val updated = base
      .withColumn("o_orderdate",
        when(col("o_orderkey") % 10 === 0, date_add(col("o_orderdate"), 1))
          .otherwise(col("o_orderdate")))
      .withColumn("o_orderstatus",
        when(col("o_orderkey") % 10 === 0, lit("R"))
          .otherwise(col("o_orderstatus")))
    val inserts = base.filter(col("o_orderkey") % 13 === 0)
      .withColumn("o_orderkey", col("o_orderkey") + lit(100000000L))
      .withColumn("o_orderstatus", lit("N"))
    val next = updated.filter(col("o_orderkey") % 7 =!= 0)
      .unionByName(inserts)
    snapshotDiff(base, next, "o_orderkey",
        Seq("o_orderdate", "o_totalprice", "o_orderstatus"))
      .orderBy("o_orderkey")
  }

  /** Schema evolution across landed batches: an early batch written
    * WITHOUT a column that a later batch carries, re-read under
    * `mergeSchema` into one unified frame where pre-evolution rows
    * surface the new column as null — the additive-column drift every
    * long-lived ingest survives (parquet's per-file self-describing
    * schemas make this a metadata merge, no rewrite of the old
    * batch). The declared query writes both batches, re-reads merged,
    * and reports per-batch row/null/key-range/spend stats — so the
    * hash check proves the old batch's rows really carry null (not a
    * default, not dropped) and the new batch's values survive. At
    * 100 TB the merge cost is per-FILE footer reconciliation at
    * planning time; the scan itself is unchanged. */
  def schemaEvolution(s: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    import graft.functions.Num.{dsum, r4}
    val base = orders(s, dir)
    val path = SnapshotFs.layout(s, "evolution", dir) { p =>
      base.filter(col("o_orderkey") % 2 === 0)
        .drop("o_orderstatus").withColumn("batch", lit(1L))
        .write.mode(SaveMode.Overwrite).parquet(s"$p/v1")
      base.filter(col("o_orderkey") % 2 === 1)
        .withColumn("batch", lit(2L))
        .write.mode(SaveMode.Overwrite).parquet(s"$p/v2")
    }
    s.read.option("mergeSchema", "true").parquet(s"$path/v1", s"$path/v2")
      .groupBy("batch")
      .agg(count(lit(1)).as("n_rows"),
        sum(when(col("o_orderstatus").isNull, 1L).otherwise(0L))
          .as("n_null_status"),
        min("o_orderkey").as("min_key"), max("o_orderkey").as("max_key"),
        r4(dsum(col("o_totalprice"))).as("total_price"))
      .orderBy("batch")
  }

  /** Hash-partition count for generically-keyed snapshots (time-series
    * snapshots pass `year(...)` instead — see [[upsertSink]]). */
  private val SnapParts = 16

  /** Default snapshot partitioner: a stable hash bucket of the key.
    * Any deterministic key→bucket function works; calendar-keyed
    * snapshots should pass `year(_)` so merges align with the
    * [[writeTimeSeries]] layout. */
  def defaultPartition(k: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    pmod(hash(k), lit(SnapParts))

  /** Streaming S4 sink: drive the same last-write-wins [[upsert]]
    * from a stream via `foreachBatch`. The snapshot is a parquet
    * directory partitioned by `__part = partitionOf(key)`; each
    * micro-batch merges ONLY the partitions its keys touch
    * (`etl.py:66-71`'s `ON CONFLICT DO UPDATE` touches only
    * conflicting rows — at 100 TB a whole-snapshot rewrite per batch
    * is O(corpus), a partition-scoped one is O(batch)). Untouched
    * partition directories are never opened, moved, or rewritten.
    *
    * Crash safety: the merge stages to `path + ".next"` (complete iff
    * Spark's `_SUCCESS` marker landed), then [[swapStaged]] promotes
    * each staged partition after displacing the live one into
    * `path + ".old"`. [[recoverSnapshot]] runs before every merge and
    * finishes an interrupted swap (a complete `.next` is re-promoted,
    * a displaced `.old` partition is restored, an incomplete `.next`
    * is discarded) — at no point is the only copy of a partition
    * deleted before its replacement is in place. Re-running a batch
    * is idempotent because the merge is keyed. */
  def upsertSink(stream: DataFrame, path: String, key: String, version: String,
      partitionOf: org.apache.spark.sql.Column => org.apache.spark.sql.Column = defaultPartition)
      : org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] =
    stream.writeStream.outputMode("append").foreachBatch {
      (batch: DataFrame, _: Long) => mergeBatch(batch, path, key, version, partitionOf)
    }

  /** One micro-batch of the sink: recover, stage, swap. */
  private[graft] def mergeBatch(batch: DataFrame, path: String, key: String,
      version: String,
      partitionOf: org.apache.spark.sql.Column => org.apache.spark.sql.Column = defaultPartition)
      : Unit =
    if (stageMerge(batch, path, key, version, partitionOf)) swapStaged(path)

  /** Recover any interrupted swap, then write the upserted form of
    * every partition the batch touches to `path + ".next"`. Returns
    * false (nothing staged) for an empty batch. */
  private[graft] def stageMerge(batch: DataFrame, path: String, key: String,
      version: String,
      partitionOf: org.apache.spark.sql.Column => org.apache.spark.sql.Column = defaultPartition)
      : Boolean =
    stageTouched(batch, path, key, partitionOf) { (existing, keyed) =>
      upsert(existing.select(keyed.columns.map(col).toSeq: _*), keyed, key, version)
    }

  /** The staging path of every partition-scoped sink: recover any
    * interrupted swap, key the batch by `__part = partitionOf(key)`,
    * and write `merge(existing, keyed)` to `path + ".next"`, where
    * `existing` is the snapshot pruned to the partitions the batch
    * touches (an empty frame of the keyed batch's schema before the
    * first commit). Returns false (nothing staged) for an empty
    * batch. */
  private def stageTouched(batch: DataFrame, path: String, key: String,
      partitionOf: org.apache.spark.sql.Column => org.apache.spark.sql.Column)
      (merge: (DataFrame, DataFrame) => DataFrame): Boolean = {
    recoverSnapshot(path)
    val keyed = batch.withColumn("__part", partitionOf(col(key)).cast("int"))
    keyed.persist()
    try {
      // distinct partition values: bounded by the partition count (16
      // buckets / #years), never by batch size — safe to collect
      val touched = keyed.select("__part").distinct().collect().map(_.getInt(0)).toSeq
      if (touched.isEmpty) return false
      val existing =
        if (SnapshotFs.hasChildren(path))
          keyed.sparkSession.read.parquet(path)
            .filter(col("__part").isin(touched: _*)) // partition-pruned scan
        else keyed.limit(0)
      merge(existing, keyed)
        .write.mode(SaveMode.Overwrite)
        .partitionBy("__part").parquet(path + ".next")
      true
    } finally { keyed.unpersist(); () }
  }

  /** Promote every staged partition in `path + ".next"` (which MUST
    * be complete — `_SUCCESS` present): displace the live partition
    * directory into `path + ".old"`, rename the staged one in, then
    * drop `.old` and `.next`. Idempotent — re-running after a crash
    * at any point resumes where it stopped, because a partition is
    * only displaced while its replacement still sits in `.next`.
    * All listings/renames route through [[SnapshotFs]] (Hadoop
    * `FileSystem`), so the swap runs unchanged against HDFS or an
    * object store — the 100 TB home of a streaming snapshot. */
  private[graft] def swapStaged(path: String): Unit = {
    val next = path + ".next"
    require(SnapshotFs.hasSuccess(next),
      s"refusing to swap an incomplete stage: $next")
    val old = path + ".old"
    SnapshotFs.mkdirs(path); SnapshotFs.mkdirs(old)
    for (p <- partitionDirs(next)) {
      val name = p.getPath.getName
      val livePart = s"$path/$name"
      if (SnapshotFs.exists(livePart))
        SnapshotFs.rename(livePart, s"$old/$name")
      SnapshotFs.rename(p.getPath.toString, livePart)
    }
    SnapshotFs.deleteTree(old)
    SnapshotFs.deleteTree(next)
  }

  /** The `__part=` directories of a snapshot (or of its stage): one
    * listing, bounded by the partition count, never by data volume. */
  private def partitionDirs(path: String): Seq[org.apache.hadoop.fs.FileStatus] =
    SnapshotFs.list(path)
      .filter(p => p.isDirectory && p.getPath.getName.startsWith("__part="))

  /** Every partition of a snapshot with its parquet files. */
  private def partitionFiles(path: String)
      : Seq[(Int, Seq[org.apache.hadoop.fs.FileStatus])] =
    partitionDirs(path).map { p =>
      p.getPath.getName.stripPrefix("__part=").toInt ->
        SnapshotFs.list(p.getPath.toString)
          .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
    }

  /** Startup/pre-batch recovery: finish or roll back an interrupted
    * swap so the snapshot is whole before the next merge reads it. */
  private[graft] def recoverSnapshot(path: String): Unit = {
    val next = path + ".next"
    val old = path + ".old"
    if (SnapshotFs.hasSuccess(next)) {
      // the staged merge fully materialized — its partitions supersede
      // both live and displaced ones; finish the swap
      swapStaged(path)
    } else {
      // incomplete stage: restore any partition displaced into .old
      // whose live copy is missing, then discard the leftovers
      for (p <- SnapshotFs.list(old) if p.isDirectory) {
        val livePart = s"$path/${p.getPath.getName}"
        if (!SnapshotFs.exists(livePart)) {
          SnapshotFs.mkdirs(path)
          SnapshotFs.rename(p.getPath.toString, livePart)
        }
      }
      SnapshotFs.deleteTree(next)
      SnapshotFs.deleteTree(old)
    }
  }

  /** Compact a snapshot's small files — the maintenance pass the
    * streaming sink makes necessary: every micro-batch rewrite leaves
    * a touched partition with one file per write task, and at scale a
    * long-lived snapshot degrades into thousands of KB-files whose
    * open/footer cost dominates scans. Each partition holding more
    * files than `ceil(bytes / maxBytesPerFile)` is rewritten to
    * exactly that many; right-sized partitions are left untouched
    * (their files stay byte-identical — no gratuitous rewrite ahead
    * of an incremental consumer). The rewrite rides the SAME
    * stage-to-`.next` → [[swapStaged]] path as the sink, so a crash
    * mid-compaction loses nothing. Returns the number of partitions
    * compacted. */
  def compactSnapshot(s: org.apache.spark.sql.SparkSession, path: String,
      maxBytesPerFile: Long = 128L << 20): Int = {
    recoverSnapshot(path)
    // listing via the Hadoop FileSystem API — valid against an
    // object store
    val plan = partitionFiles(path).flatMap { case (part, files) =>
      val bytes = files.map(_.getLen).sum
      val k = math.max(1L,
        math.ceil(bytes.toDouble / maxBytesPerFile).toLong).toInt
      if (files.length > k) Some(part -> k) else None
    }
    if (plan.isEmpty) return 0
    val full = s.read.parquet(path)
    plan.map { case (part, k) =>
        full.filter(col("__part") === part).repartition(k)
      }
      .reduce(_ unionByName _)
      .write.mode(SaveMode.Overwrite).partitionBy("__part")
      .parquet(path + ".next")
    swapStaged(path)
    plan.length
  }

  private val BucketN = 8

  /** Bucketed co-located join — the at-scale layout technique the
    * snapshot writer above doesn't cover: write BOTH join sides
    * `bucketBy(key)` + `sortBy(key)` as parquet tables (one
    * file per bucket via an explicit pre-repartition on the key), and
    * the join on that key plans with NO shuffle on either side
    * (plan-asserted in `PlanSpec`): the bucketed scans report aligned
    * hash partitionings and the sort files make the merge sort-free.
    * At 100 TB this is THE repeated-fact-join move — pay the shuffle
    * once at write time, never again per query; bucket count scales
    * with the cluster (8 here only because the bench corpus is
    * small). The tables are external, their files under the
    * session's scratch directory ([[SnapshotFs.scratch]]); the write runs
    * once per (session, sf dir) and `SessionMemo.clear` drops both
    * tables and deletes their files. */
  def bucketedColocatedJoin(s: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = {
    import graft.functions.Num._
    val Seq(oPath, cPath) =
      Seq("graft_b_orders", "graft_b_customer").map(SnapshotFs.scratch(s, _, dir))
    // each table is named after its scratch directory and the session
    // directory above it: the catalog is shared by every session of
    // the process, so the name keys on the session and on the full
    // corpus path
    def table(path: String): String = {
      val f = new java.io.File(path)
      s"${f.getName}_${f.getParentFile.getName}"
    }
    def bucketed(df: DataFrame, key: String, path: String): Unit =
      df.repartition(BucketN, col(key))
        .write.mode(SaveMode.Overwrite).option("path", path)
        .bucketBy(BucketN, key).sortBy(key)
        .saveAsTable(table(path))
    graft.SessionMemo.once(s, s"bucketed_tables:$dir") {
      bucketed(graft.Tables.orders(s, dir)
        .select("o_orderkey", "o_custkey", "o_totalprice"), "o_custkey", oPath)
      bucketed(graft.Tables.customer(s, dir)
        .select("c_custkey", "c_mktsegment"), "c_custkey", cPath)
    }(_ => Seq(oPath, cPath).foreach { p =>
      s.sql(s"DROP TABLE IF EXISTS ${table(p)}")
      SnapshotFs.deleteTree(p)
    })
    // merge hint: this operator models a fact-fact join (both sides
    // huge at 100 TB) — without it, toy-scale stats make Catalyst
    // broadcast the smaller side and the co-location demonstration
    // vanishes. With bucketed scans the merge join needs no exchange
    // and no sort on either side.
    s.table(table(oPath)).hint("merge")
      .join(s.table(table(cPath)), col("o_custkey") === col("c_custkey"))
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_orders"),
        r4(dsum(col("o_totalprice"))).as("total_price"))
      .orderBy("c_mktsegment")
  }

  /** Drop every `graft_b_*` layout table in the session's catalog:
    * explicit teardown for tables no `SessionMemo` entry of this
    * session built. The tables are external, so their files stay until
    * the building entry's release (`SessionMemo.clear`) or the
    * process's exit deletes its scratch root.
    * [[bucketedColocatedJoin]]'s own tables drop on
    * `SessionMemo.clear(s)`. */
  def dropBucketedTables(s: org.apache.spark.sql.SparkSession): Unit =
    s.catalog.listTables().collect().map(_.name)
      .filter(_.startsWith("graft_b_"))
      .foreach(t => s.sql(s"DROP TABLE IF EXISTS $t"))

  /** Dynamic-partition-pruned drill-down — the single-plan form of the
    * reference's two-phase J2 drill (`dashboard_nfp.py:340-347`, where
    * the phase-1 scalar crosses the driver): find the two top-revenue
    * years and aggregate their orders, as ONE plan over the
    * year-partitioned fact copy. The top-years subquery broadcasts
    * (2 rows) and Spark injects its result into the fact scan's
    * partition filters at RUNTIME (`dynamicpruningexpression` —
    * asserted in `IngestSpec`), so only 2 of the ~7 year directories
    * are ever read. Static pruning can't do this: the qualifying
    * years are data-derived (a ranked limit), unknowable at plan
    * time. At 100 TB this is the star-schema pattern that turns a
    * full fact scan into a partition-count-sized one.
    *
    * Revenue ranks by the exact decimal sum (order-independent on
    * both engines); the dim side derives from the raw orders table so
    * fact and build plans are genuinely distinct. */
  def partitionPrunedDrill(s: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = {
    import graft.functions.Num._
    val base = orders(s, dir).drop("o_orderstatus")
    // the partitioned fact copy: a layout, so a cold bench pass
    // (after SessionMemo.clear) repays the build
    val path = SnapshotFs.layout(s, "dpp", dir)(writeTimeSeries(base, _, "o_orderdate"))
    val fact = s.read.parquet(path)
    // the rev > 0 guard is semantically a no-op (prices are positive)
    // but matters physically: Spark's PartitionPruning rule only
    // injects a DPP subquery when the build side carries a
    // syntactically selective Filter — a ranked LIMIT alone does not
    // qualify, so without the guard the fact would scan every year
    val topYears = graft.Tables.orders(s, dir)
      .groupBy(year(to_date(col("o_orderdate"))).as("year"))
      .agg(dsum(col("o_totalprice")).as("rev"))
      .filter(col("rev") > 0)
      .orderBy(col("rev").desc, col("year").asc)
      .limit(2)
      .select("year")
    fact.join(broadcast(topYears), Seq("year"))
      .groupBy(col("year"))
      .agg(count(lit(1)).as("n_orders"),
        graft.functions.Num.r4(dsum(col("o_totalprice"))).as("total_price"))
      .select(col("year").cast("long").as("year"), col("n_orders"),
        col("total_price"))
      .orderBy("year")
  }

  /** Incremental view maintenance over mergeable partials — the
    * materialized-aggregate refresh a 100 TB warehouse runs instead
    * of full recompute: the standing daily rollup absorbs an
    * appended delta by AGGREGATING ONLY THE DELTA and merging
    * partial states (counts and decimal sums add; the mean derives
    * at read time). Here the base/delta split is a date cutoff over
    * the same table so the oracle can state the full recompute —
    * the merge step is the real operator: a partial-state union and
    * re-sum that never rescans the base facts' inputs. Both
    * branches' partials go through the exact decimal-sum path, and
    * decimal addition is associative — merged output is bit-identical
    * to the one-shot aggregate at any split point. */
  private val IncrCutoff = "2024-01-24"

  def incrementalAgg(s: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = {
    import graft.functions.Num._
    val ev = graft.Tables.events(s, dir)
      .select(col("event_type"), to_date(col("ts")).as("day"), col("value"))
    def partial(df: DataFrame): DataFrame =
      df.groupBy("event_type", "day")
        .agg(count(lit(1)).as("pn"), dsumExact(col("value")).as("psv"))
    val base  = partial(ev.filter(col("day") <  lit(IncrCutoff)))
    val delta = partial(ev.filter(col("day") >= lit(IncrCutoff)))
    base.unionByName(delta)
      .groupBy("event_type", "day")
      .agg(sum(col("pn")).as("n_events"),
        r4(sum(col("psv")).cast("double")).as("sum_value"))
      .withColumn("avg_value",
        r4(col("sum_value") / col("n_events").cast("double")))
      .orderBy("event_type", "day")
  }

  private val ForgetMod = 13L

  /** Retraction IVM — the DELETE side of the materialized-aggregate
    * family ([[incrementalAgg]] absorbs inserts; this absorbs a
    * deletion batch — the GDPR "forget these users" sweep hitting a
    * standing rollup): the per-(type, day) view subtracts the deleted
    * rows' partials by unioning NEGATED partial states (count and
    * exact-decimal sum negate — sums/counts form a GROUP, not just a
    * monoid, which is exactly why they support retraction and min/max
    * do not), and groups whose count reaches zero are DROPPED (an
    * emptied group must disappear from the view, not linger as a
    * zero row — the classic retraction bug). Work ∝ |deleted rows|;
    * the standing view's base facts are never rescanned. Decimal
    * addition is associative and negation exact, so the maintained
    * view is bit-identical to the recompute over survivors — which is
    * what the oracle states. */
  def retractionAgg(s: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame =
    retractionAggOf(graft.Tables.events(s, dir)
      .select(col("user_id"), col("event_type"),
        to_date(col("ts")).as("day"), col("value")))

  /** [[retractionAgg]] over an arbitrary (user_id, event_type, day,
    * value) frame — `IngestSpec` drives an emptied-group fixture
    * through this directly. */
  private[graft] def retractionAggOf(ev: DataFrame): DataFrame = {
    import graft.functions.Num._
    val standing = ev.groupBy("event_type", "day")
      .agg(count(lit(1)).as("pn"), dsumExact(col("value")).as("psv"))
    val retract = ev.filter(col("user_id") % ForgetMod === 0)
      .groupBy("event_type", "day")
      .agg((-count(lit(1))).as("pn"), (-dsumExact(col("value"))).as("psv"))
    standing.unionByName(retract)
      .groupBy("event_type", "day")
      .agg(sum(col("pn")).as("n_events"), sum(col("psv")).as("sv"))
      .filter(col("n_events") > 0)
      .select(col("event_type"), col("day"), col("n_events"),
        r4(col("sv").cast("double")).as("sum_value"))
      .orderBy("event_type", "day")
  }

  /** Delta split for the incremental-JOIN refresh: late-arriving
    * orders (by date cutoff) and late-arriving customers (every 10th
    * key models a dimension correction batch). */
  private val IncrJoinCutoff = "1997-01-01"

  /** Incremental view maintenance for a materialized JOIN — the
    * second classic IVM shape next to [[incrementalAgg]]: with
    * `A_new = A ∪ ΔA`, `B_new = B ∪ ΔB`,
    * `A_new ⋈ B_new = (A ⋈ B) ∪ (ΔA ⋈ B_new) ∪ (A ⋈ ΔB)` — the
    * standing join materialization absorbs both deltas by joining
    * ONLY delta-sized streams against the other side, never
    * re-joining base×base. Scale shape per term: `ΔA ⋈ B_new` hashes
    * the delta against the full dimension (hinted shuffle-hash — the
    * dimension is corpus-scale at 100 TB); `A ⋈ ΔB` BROADCASTS the
    * delta (a correction batch is bounded by construction) so the
    * base fact never reshuffles for it. The declared query aggregates
    * the maintained join per market segment through exact decimal
    * sums; the oracle states the full `A_new ⋈ B_new` recompute —
    * union-of-terms ≡ one-shot is exactly the disjointness of the
    * three terms, and `IngestSpec` asserts it row-for-row. */
  def incrementalJoin(s: org.apache.spark.sql.SparkSession,
      dir: String): DataFrame = {
    import graft.functions.Num._
    val o = graft.Tables.orders(s, dir)
      .select(col("o_orderkey"), col("o_custkey"),
        to_date(col("o_orderdate")).as("o_orderdate"), col("o_totalprice"))
    val c = graft.Tables.customer(s, dir)
      .select(col("c_custkey"), col("c_mktsegment"))
    val aOld  = o.filter(col("o_orderdate") <  lit(IncrJoinCutoff))
    val aDel  = o.filter(col("o_orderdate") >= lit(IncrJoinCutoff))
    val bOld  = c.filter(col("c_custkey") % 10 =!= 0)
    val bDel  = c.filter(col("c_custkey") % 10 === 0)
    val bNew  = bOld.unionByName(bDel)
    val joinKey = col("o_custkey") === col("c_custkey")
    val base = aOld.join(bOld.hint("shuffle_hash"), joinKey)
    val t1   = aDel.join(bNew.hint("shuffle_hash"), joinKey)
    val t2   = aOld.join(broadcast(bDel), joinKey)
    base.unionByName(t1).unionByName(t2)
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_orders"),
        r4(dsum(col("o_totalprice"))).as("total_price"))
      .orderBy("c_mktsegment")
  }

  /** One-shot recompute of [[incrementalJoin]]'s maintained view —
    * `IngestSpec` asserts bit-equality with the delta-maintained
    * form. */
  private[graft] def incrementalJoinOneShot(
      s: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    import graft.functions.Num._
    graft.Tables.orders(s, dir)
      .select(col("o_custkey"), col("o_totalprice"))
      .join(graft.Tables.customer(s, dir)
        .select(col("c_custkey"), col("c_mktsegment")).hint("shuffle_hash"),
        col("o_custkey") === col("c_custkey"))
      .groupBy("c_mktsegment")
      .agg(count(lit(1)).as("n_orders"),
        r4(dsum(col("o_totalprice"))).as("total_price"))
      .orderBy("c_mktsegment")
  }

  /** Declared compaction query — [[compactSnapshot]] under the oracle
    * gate. Builds a deterministically fragmented snapshot: three
    * appends of the monthly series (split by month-of-year mod 3,
    * `coalesce(1)` per append → exactly one file per year-partition
    * per non-empty slice), so a year holding k distinct month
    * residues starts with k files. Compacting with an unbounded
    * per-file byte budget plans one file per partition and rewrites
    * only the partitions above that — the report is per-partition
    * (files_before, files_after, n_rows), and the oracle restates the
    * same arithmetic from the series itself (file counts here are
    * functions of the data, not of cluster layout, by construction).
    * Driver-side listing touches only partition DIRECTORIES — bounded
    * by #years, never by data volume. */
  def compactionReport(s: org.apache.spark.sql.SparkSession, dir: String): DataFrame = {
    import s.implicits._
    // a fresh directory per call: compaction rewrites it in place
    val root = SnapshotFs.scratch(s, s"compact_${java.util.UUID.randomUUID()}", dir)
    val base = s"$root/snap"
    val series = graft.Tables.monthlySeriesCached(s, dir)
      .withColumn("__part", year(col("month")))
      .withColumn("__b", pmod(month(col("month")), lit(3)))
    (0 until 3).foreach { b =>
      series.filter(col("__b") === b).drop("__b").coalesce(1)
        .write.mode(SaveMode.Append).partitionBy("__part").parquet(base)
    }
    def filesPer: Map[Int, Long] =
      partitionFiles(base).map { case (p, files) => p -> files.length.toLong }.toMap
    val before = filesPer
    compactSnapshot(s, base, Long.MaxValue)
    val after = filesPer
    val rowsPer = s.read.parquet(base).groupBy("__part")
      .agg(count(lit(1)).as("n")).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    SnapshotFs.deleteTree(root)
    before.toSeq.sortBy(_._1)
      .map { case (p, fb) => (p.toLong, fb, after(p), rowsPer(p)) }
      .toDF("part", "files_before", "files_after", "n_rows")
  }

  val queries: Map[String, (org.apache.spark.sql.SparkSession, String) => DataFrame] =
    Map(

    "ingest_upsert_roundtrip" -> (upsertRoundtrip _),
      "ingest_delete_tombstones" -> (deleteTombstones _),
      "ingest_merge_on_read" -> (mergeOnRead _),
      "ingest_scd2" -> (scd2Build _),
      "ingest_time_travel" -> (timeTravel _),
      "ingest_vacuum" -> (vacuum _),
      "ingest_expectations" -> (expectations _),
      "ingest_retraction_agg" -> (retractionAgg _),
      "ingest_snapshot_diff" -> (snapshotDiffQuery _),
      "ingest_schema_evolution" -> (schemaEvolution _),
      "ingest_partition_pruned_drill" -> (partitionPrunedDrill _),
      "ingest_incremental_agg" -> (incrementalAgg _),
      "ingest_incremental_join" -> (incrementalJoin _),
      "ingest_compaction" -> (compactionReport _),
      "ingest_bucketed_join" -> (bucketedColocatedJoin _))

  val oracleSql: Map[String, String] = Map(
    // the delta-maintained join must equal the full recompute: the
    // three terms partition A_new x B_new, so the oracle states the
    // one-shot join + aggregate
    "ingest_incremental_join" ->
      """SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_orders,
        |  round(CAST(SUM(CAST(o_totalprice AS DECIMAL(25,8))) AS DOUBLE), 4)
        |    AS total_price
        |FROM orders JOIN customer ON o_custkey = c_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // file counts restated from the data: a year holds one pre-
    // compaction file per distinct month-mod-3 residue (one append
    // each), and compaction leaves 1 file wherever it had > 1
    "ingest_compaction" ->
      s"""WITH m AS (${graft.Tables.monthlySeriesSql}),
         |y AS (SELECT CAST(year(month) AS BIGINT) AS part,
         |    CAST(count(DISTINCT month(month) % 3) AS BIGINT) AS files_before,
         |    CAST(count(*) AS BIGINT) AS n_rows
         |  FROM m GROUP BY 1)
         |SELECT part, files_before,
         |  CAST(CASE WHEN files_before > 1 THEN 1
         |    ELSE files_before END AS BIGINT) AS files_after,
         |  n_rows
         |FROM y ORDER BY part""".stripMargin,
    // the partial-merge refresh must equal the one-shot aggregate:
    // decimal partial sums are associative, so the oracle states the
    // full recompute
    "ingest_incremental_agg" ->
      s"""WITH a AS (SELECT event_type, CAST(ts AS DATE) AS day,
         |    count(*) AS n_events,
         |    round(${graft.functions.Num.dsumSql("value")}, 4) AS sum_value
         |  FROM events GROUP BY 1, 2)
         |SELECT event_type, day, n_events, sum_value,
         |  round(sum_value / CAST(n_events AS DOUBLE), 4) AS avg_value
         |FROM a ORDER BY event_type, day""".stripMargin,

    // interval chaining restated as the same lead window; DuckDB's
    // DATE + int matches Spark's date_add day arithmetic
    "ingest_scd2" ->
      """WITH base AS (SELECT o_orderkey, CAST(o_orderdate AS DATE) AS valid_from,
        |    o_totalprice, o_orderstatus FROM orders),
        |chg1 AS (SELECT o_orderkey, valid_from + 1 AS valid_from,
        |    o_totalprice, 'R' AS o_orderstatus FROM base WHERE o_orderkey % 10 = 0),
        |chg2 AS (SELECT o_orderkey, valid_from + 2 AS valid_from,
        |    o_totalprice, 'F' AS o_orderstatus FROM base WHERE o_orderkey % 100 = 0),
        |log AS (SELECT * FROM base UNION ALL SELECT * FROM chg1
        |        UNION ALL SELECT * FROM chg2)
        |SELECT o_orderkey, valid_from,
        |  lead(valid_from) OVER (PARTITION BY o_orderkey ORDER BY valid_from)
        |    AS valid_to,
        |  lead(valid_from) OVER (PARTITION BY o_orderkey ORDER BY valid_from)
        |    IS NULL AS is_current,
        |  o_totalprice, o_orderstatus
        |FROM log ORDER BY o_orderkey, valid_from""".stripMargin,

    "ingest_upsert_roundtrip" ->
      """WITH base AS (SELECT o_orderkey, CAST(o_orderdate AS DATE) AS o_orderdate,
        |    o_totalprice, o_orderstatus FROM orders),
        |inc AS (SELECT o_orderkey, o_orderdate + 1 AS o_orderdate,
        |    o_totalprice, 'R' AS o_orderstatus FROM base WHERE o_orderkey % 10 = 0),
        |u AS (SELECT *, row_number() OVER (PARTITION BY o_orderkey
        |    ORDER BY o_orderdate DESC) AS rn
        |  FROM (SELECT * FROM base UNION ALL SELECT * FROM inc))
        |SELECT o_orderkey, o_orderdate, o_totalprice, o_orderstatus
        |FROM u WHERE rn = 1 ORDER BY o_orderkey""".stripMargin,

    // tombstones outrank data at equal version (deleted DESC: TRUE
    // first in both engines); the winner-is-tombstone keys vanish
    // same merge rule as the COW tombstones oracle, but the report
    // rolls up the WHOLE merged view (MOR must resolve every key at
    // read time, not just the touched ones)
    "ingest_merge_on_read" ->
      """WITH base AS (SELECT o_orderkey, CAST(o_orderdate AS DATE) AS o_orderdate,
        |    o_totalprice, o_orderstatus, FALSE AS deleted FROM orders),
        |upd AS (SELECT o_orderkey, o_orderdate + 1 AS o_orderdate,
        |    o_totalprice, 'R' AS o_orderstatus, FALSE AS deleted
        |  FROM base WHERE o_orderkey % 10 = 0),
        |tomb AS (SELECT o_orderkey, o_orderdate + 2 AS o_orderdate,
        |    o_totalprice, o_orderstatus, TRUE AS deleted
        |  FROM base WHERE o_orderkey % 7 = 0),
        |u AS (SELECT *, row_number() OVER (PARTITION BY o_orderkey
        |    ORDER BY o_orderdate DESC, deleted DESC) AS rn
        |  FROM (SELECT * FROM base UNION ALL SELECT * FROM upd
        |        UNION ALL SELECT * FROM tomb))
        |SELECT o_orderstatus, count(*) AS n_rows,
        |  round(CAST(SUM(CAST(o_totalprice AS DECIMAL(25,8))) AS DOUBLE), 4)
        |    AS total_price
        |FROM u WHERE rn = 1 AND NOT deleted
        |GROUP BY 1 ORDER BY 1""".stripMargin,

    // retraction ≡ recompute over survivors — the group property of
    // sum/count makes the subtraction exact
    "ingest_retraction_agg" ->
      """SELECT event_type, CAST(ts AS DATE) AS day,
        |  CAST(count(*) AS BIGINT) AS n_events,
        |  round(CAST(SUM(CAST(value AS DECIMAL(25,8))) AS DOUBLE), 4)
        |    AS sum_value
        |FROM events WHERE user_id % 13 <> 0
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // each rule restated flat; NOT IN keys are non-null by schema so
    // the anti-join and NOT-IN forms agree
    "ingest_expectations" ->
      """WITH la AS (SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(SUM(CASE WHEN NOT (l_quantity > 0) THEN 1 ELSE 0 END) AS BIGINT) AS f_qty,
        |    CAST(SUM(CASE WHEN l_quantity > 45 THEN 1 ELSE 0 END) AS BIGINT) AS f_bulk,
        |    CAST(SUM(CASE WHEN NOT (l_discount BETWEEN 0.0 AND 0.1) THEN 1 ELSE 0 END) AS BIGINT) AS f_disc,
        |    CAST(SUM(CASE WHEN l_shipdate IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS f_ship
        |  FROM lineitem),
        |oa AS (SELECT CAST(count(*) AS BIGINT) AS o_n FROM orders),
        |orf AS (SELECT CAST(count(*) AS BIGINT) AS o_f FROM orders
        |  WHERE o_custkey NOT IN (SELECT c_custkey FROM customer)),
        |lrf AS (SELECT CAST(count(*) AS BIGINT) AS l_f FROM lineitem
        |  WHERE l_orderkey NOT IN (SELECT o_orderkey FROM orders)),
        |r AS (SELECT 'l_discount_in_domain' AS rule, n AS n_rows, f_disc AS n_fail
        |    FROM la
        |  UNION ALL SELECT 'l_orderkey_resolves', n, l_f FROM la, lrf
        |  UNION ALL SELECT 'l_quantity_positive', n, f_qty FROM la
        |  UNION ALL SELECT 'l_shipdate_not_null', n, f_ship FROM la
        |  UNION ALL SELECT 'lq_bulk_quantity_cap', n, f_bulk FROM la
        |  UNION ALL SELECT 'o_custkey_resolves', o_n, o_f FROM oa, orf)
        |SELECT rule, n_rows, n_fail,
        |  round(n_fail / CAST(n_rows AS DOUBLE), 4) AS fail_rate
        |FROM r ORDER BY rule""".stripMargin,

    // each version restated directly: v0 = base, v1 = base with the
    // %10 updates applied, v2 = v1 minus the %7 tombstoned keys —
    // exactly what the prefix-of-commits LWW window resolves
    "ingest_time_travel" ->
      """WITH b AS (SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders),
        |v0 AS (SELECT o_orderstatus, o_totalprice FROM b),
        |v1 AS (SELECT CASE WHEN o_orderkey % 10 = 0 THEN 'R'
        |         ELSE o_orderstatus END AS o_orderstatus, o_totalprice FROM b),
        |v2 AS (SELECT CASE WHEN o_orderkey % 10 = 0 THEN 'R'
        |         ELSE o_orderstatus END AS o_orderstatus, o_totalprice
        |  FROM b WHERE o_orderkey % 7 <> 0),
        |u AS (SELECT CAST(0 AS BIGINT) AS version, * FROM v0
        |  UNION ALL SELECT 1, * FROM v1
        |  UNION ALL SELECT 2, * FROM v2)
        |SELECT version, o_orderstatus, count(*) AS n_rows,
        |  round(CAST(SUM(CAST(o_totalprice AS DECIMAL(25,8))) AS DOUBLE), 4)
        |    AS total_price
        |FROM u GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // the retained versions restate exactly as in ingest_time_travel
    // (vacuum must not change any read at or after the horizon); the
    // surviving-commit count is the physical claim — the engine
    // measures it from the store, the oracle states the retention
    // arithmetic (1 checkpoint + 1 live commit)
    "ingest_vacuum" ->
      """WITH b AS (SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders),
        |v1 AS (SELECT CASE WHEN o_orderkey % 10 = 0 THEN 'R'
        |         ELSE o_orderstatus END AS o_orderstatus, o_totalprice FROM b),
        |v2 AS (SELECT CASE WHEN o_orderkey % 10 = 0 THEN 'R'
        |         ELSE o_orderstatus END AS o_orderstatus, o_totalprice
        |  FROM b WHERE o_orderkey % 7 <> 0),
        |u AS (SELECT CAST(1 AS BIGINT) AS version, * FROM v1
        |  UNION ALL SELECT 2, * FROM v2)
        |SELECT version, o_orderstatus, count(*) AS n_rows,
        |  round(CAST(SUM(CAST(o_totalprice AS DECIMAL(25,8))) AS DOUBLE), 4)
        |    AS total_price, CAST(2 AS BIGINT) AS remaining_commits
        |FROM u GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    "ingest_delete_tombstones" ->
      """WITH base AS (SELECT o_orderkey, CAST(o_orderdate AS DATE) AS o_orderdate,
        |    o_totalprice, o_orderstatus, FALSE AS deleted FROM orders),
        |upd AS (SELECT o_orderkey, o_orderdate + 1 AS o_orderdate,
        |    o_totalprice, 'R' AS o_orderstatus, FALSE AS deleted
        |  FROM base WHERE o_orderkey % 10 = 0),
        |tomb AS (SELECT o_orderkey, o_orderdate + 2 AS o_orderdate,
        |    o_totalprice, o_orderstatus, TRUE AS deleted
        |  FROM base WHERE o_orderkey % 7 = 0),
        |u AS (SELECT *, row_number() OVER (PARTITION BY o_orderkey
        |    ORDER BY o_orderdate DESC, deleted DESC) AS rn
        |  FROM (SELECT * FROM base UNION ALL SELECT * FROM upd
        |        UNION ALL SELECT * FROM tomb))
        |SELECT o_orderkey, o_orderdate, o_totalprice, o_orderstatus
        |FROM u WHERE rn = 1 AND NOT deleted
        |  AND (o_orderkey % 10 = 0 OR o_orderkey % 7 = 0)
        |ORDER BY o_orderkey""".stripMargin,

    // batch 1 predates the status column: every row null there, none
    // in batch 2 — restated directly from the halves
    "ingest_schema_evolution" ->
      s"""WITH b1 AS (SELECT o_orderkey, o_totalprice FROM orders
        |  WHERE o_orderkey % 2 = 0),
        |b2 AS (SELECT o_orderkey, o_totalprice FROM orders
        |  WHERE o_orderkey % 2 = 1)
        |SELECT CAST(1 AS BIGINT) AS batch, count(*) AS n_rows,
        |  count(*) AS n_null_status,
        |  min(o_orderkey) AS min_key, max(o_orderkey) AS max_key,
        |  round(${graft.functions.Num.dsumSql("o_totalprice")}, 4) AS total_price
        |FROM b1
        |UNION ALL
        |SELECT CAST(2 AS BIGINT), count(*), CAST(0 AS BIGINT),
        |  min(o_orderkey), max(o_orderkey),
        |  round(${graft.functions.Num.dsumSql("o_totalprice")}, 4)
        |FROM b2
        |ORDER BY batch""".stripMargin,

    // DELETE rows carry prev-image columns, INSERT/UPDATE next-image
    "ingest_snapshot_diff" ->
      """WITH base AS (SELECT o_orderkey, CAST(o_orderdate AS DATE) AS o_orderdate,
        |    o_totalprice, o_orderstatus FROM orders),
        |nxt AS (SELECT o_orderkey,
        |    CASE WHEN o_orderkey % 10 = 0 THEN o_orderdate + 1
        |         ELSE o_orderdate END AS o_orderdate,
        |    o_totalprice,
        |    CASE WHEN o_orderkey % 10 = 0 THEN 'R'
        |         ELSE o_orderstatus END AS o_orderstatus
        |  FROM base WHERE o_orderkey % 7 <> 0
        |  UNION ALL
        |  SELECT o_orderkey + 100000000, o_orderdate, o_totalprice, 'N'
        |  FROM base WHERE o_orderkey % 13 = 0),
        |d AS (SELECT coalesce(b.o_orderkey, n.o_orderkey) AS o_orderkey,
        |    CASE WHEN b.o_orderkey IS NULL THEN 'I'
        |         WHEN n.o_orderkey IS NULL THEN 'D'
        |         WHEN b.o_orderdate <> n.o_orderdate
        |           OR b.o_totalprice <> n.o_totalprice
        |           OR b.o_orderstatus <> n.o_orderstatus THEN 'U' END AS op,
        |    coalesce(n.o_orderdate, b.o_orderdate) AS o_orderdate,
        |    coalesce(n.o_totalprice, b.o_totalprice) AS o_totalprice,
        |    coalesce(n.o_orderstatus, b.o_orderstatus) AS o_orderstatus
        |  FROM base b FULL OUTER JOIN nxt n ON n.o_orderkey = b.o_orderkey)
        |SELECT op, o_orderkey, o_orderdate, o_totalprice, o_orderstatus
        |FROM d WHERE op IS NOT NULL ORDER BY o_orderkey""".stripMargin,

    // partition layout + runtime pruning are physical choices — the
    // logical result is a ranked-years semi join, which the oracle runs
    "ingest_partition_pruned_drill" ->
      s"""WITH o AS (SELECT year(o_orderdate) AS year, o_totalprice FROM orders),
         |y AS (SELECT year, ${graft.functions.Num.dsumSql("o_totalprice")} AS rev
         |  FROM o GROUP BY 1),
         |top AS (SELECT year FROM y WHERE rev > 0
         |  ORDER BY rev DESC, year ASC LIMIT 2)
         |SELECT CAST(o.year AS BIGINT) AS year, count(*) AS n_orders,
         |  round(${graft.functions.Num.dsumSql("o_totalprice")}, 4) AS total_price
         |FROM o JOIN top USING (year) GROUP BY 1 ORDER BY 1""".stripMargin,

    // bucketing is a physical layout choice — the logical result is a
    // plain key join, which is exactly what the oracle runs
    "ingest_bucketed_join" ->
      s"""SELECT c_mktsegment, count(*) AS n_orders,
         |  round(${graft.functions.Num.dsumSql("o_totalprice")}, 4) AS total_price
         |FROM orders JOIN customer ON o_custkey = c_custkey
         |GROUP BY 1 ORDER BY 1""".stripMargin,
  )
}
