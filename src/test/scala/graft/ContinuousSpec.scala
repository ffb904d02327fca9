package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Sustained incremental-maintenance runs — the round-11 stress the
  * 2-batch streaming specs don't give: ≥ 100 micro-batches through
  * the standing-state folds, asserting the contracts that make the
  * faces viable as LONG-RUNNING services:
  *
  *  - state size grows with the CORPUS (rows ingested), never with
  *    the batch COUNT — a fold that leaks per-batch state dies after
  *    a week of 1-minute triggers no matter how fast each batch is;
  *  - per-batch re-solve WORK is bounded by batch-touched components
  *    (measured by the fold's own `path` readout), never corpus size;
  *  - per-batch wall time stays ~flat across the run (medians, so a
  *    host stall in one batch cannot fail the assert).
  *
  * Batches drive the fold entry points directly ([[ext.Dedup
  * .foldClusterBatch]], [[sources.Ingest.scd2MergeBatch]]) — the
  * foreachBatch plumbing around them is already spec-asserted on the
  * 2-batch streams in `DedupSpec`/`IngestSpec`; what needs 100+
  * batches is the STATE, not the stream wiring. */
class ContinuousSpec extends SparkSpec {

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    s(s.length / 2)
  }

  test("cluster-map fold: 100+ batches, state ∝ corpus, bounded re-solve, flat wall") {
    // synthetic evidence: clusters of 4 consecutive docs (bucket =
    // doc/4), arriving 5 docs per batch — every cluster spans two
    // batches, so EVERY batch exercises the touched-component
    // re-solve path, not just fresh-singleton insertion
    val nBatches = 104
    val batchSize = 5
    def bucketsOf(ids: Seq[Long]): DataFrame = {
      import spark.implicits._
      ids.map(id => (id, s"b${id / 4}")).toDF("doc_id", "bucket")
    }
    var indexBk = bucketsOf(Seq.empty).cache()
    var curMap = ext.Dedup.clustersFromBuckets(indexBk).localCheckpoint()
    val resolvedPerBatch = Seq.newBuilder[Long]
    val wallPerBatch = Seq.newBuilder[Double]
    var prevCkpt: DataFrame = null
    for (i <- 0 until nBatches) {
      val t0 = System.nanoTime()
      val ids = (i.toLong * batchSize) until ((i + 1).toLong * batchSize)
      val bk = bucketsOf(ids)
      val folded = ext.Dedup.foldClusterBatch(indexBk, curMap, bk)
        .localCheckpoint()
      val byPath = folded.groupBy("path").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      resolvedPerBatch += byPath.getOrElse("resolved", 0L)
      // state size == docs ingested so far — corpus-proportional, with
      // ZERO batch-count term
      val docsSoFar = (i + 1).toLong * batchSize
      assert(byPath.values.sum == docsSoFar,
        s"batch $i: map rows ${byPath.values.sum} != corpus $docsSoFar")
      if (prevCkpt != null) prevCkpt.unpersist(false)
      prevCkpt = folded
      curMap = folded.select("doc_id", "cluster_rep", "cluster_size")
      indexBk = indexBk.unionByName(bk)
      if (i % 20 == 19) indexBk = indexBk.localCheckpoint()
      wallPerBatch += (System.nanoTime() - t0) / 1e9
    }
    val resolved = resolvedPerBatch.result()
    val walls = wallPerBatch.result()
    // bounded re-solve: a batch touches <= 5 docs x <= 4-member
    // components (+ the batch itself) — far below the 500+-doc corpus
    // the late batches sit on. A corpus-proportional re-solve would
    // blow this bound by 10x at batch 100.
    resolved.zipWithIndex.foreach { case (r, i) =>
      assert(r <= 30L, s"batch $i re-solved $r rows (bound 30)") }
    // flat wall: medians so a one-off host stall cannot fail the run
    val early = median(walls.slice(4, 34))
    val late = median(walls.takeRight(30))
    assert(late <= early * 5 + 0.5,
      f"per-batch wall grew: early median $early%.3f s -> late $late%.3f s")
    // convergence: the standing map after 104 folds == one-shot CC
    val got = curMap.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq.sorted
    val full = ext.Dedup.clustersFromBuckets(
        bucketsOf(0L until nBatches.toLong * batchSize)).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq.sorted
    assert(got == full,
      s"fold diverged from one-shot (first diff: ${
        got.zip(full).find(p => p._1 != p._2)})")
  }

  test("scd2 sink: 100+ batches, history ∝ versions, touched-partition writes, flat wall") {
    import spark.implicits._
    val path = tempDir("cont_scd2") +
      "/hist"
    val nBatches = 100
    val keysPerBatch = 5
    val nKeys = 50L
    // change log: batch i updates keys (i*5..i*5+5) mod 50 with a new
    // valid_from — every key accumulates ~10 versions over the run
    def batchDf(i: Int): DataFrame =
      (0 until keysPerBatch).map { j =>
        val k = (i.toLong * keysPerBatch + j) % nKeys
        (k, java.sql.Date.valueOf(java.time.LocalDate
          .of(2020, 1, 1).plusDays(i.toLong)), s"v$i-$k")
      }.toDF("k", "valid_from", "payload")
    val wallPerBatch = Seq.newBuilder[Double]
    for (i <- 0 until nBatches) {
      val t0 = System.nanoTime()
      sources.Ingest.scd2MergeBatch(batchDf(i), path, "k")
      wallPerBatch += (System.nanoTime() - t0) / 1e9
    }
    val walls = wallPerBatch.result()
    val hist = spark.read.parquet(path)
    // state == versions written (keys x their version count), no
    // per-batch residue; exactly one open interval per key
    assert(hist.count() == nBatches.toLong * keysPerBatch,
      "history rows != versions written")
    val open = hist.filter(col("is_current")).groupBy("k").count().collect()
    assert(open.length == nKeys && open.forall(_.getLong(1) == 1L),
      "each key must hold exactly one open interval")
    // every closed interval chains onto a successor of the same key
    val chains = hist.filter(!col("is_current"))
      .join(hist.toDF(hist.columns.map(_ + "2").toIndexedSeq: _*),
        col("k") === col("k2") && col("valid_to") === col("valid_from2"),
        "left_anti").count()
    assert(chains == 0L, s"$chains closed intervals chain to nothing")
    val early = median(walls.slice(4, 34))
    val late = median(walls.takeRight(30))
    assert(late <= early * 5 + 0.5,
      f"per-batch wall grew: early median $early%.3f s -> late $late%.3f s")
  }

  test("incremental LSH probe: 100+ batches, index ∝ corpus, probe output ∝ batch, union ≡ one-shot") {
    // groups of 4 identical docs with DISJOINT per-group vocabulary:
    // within-group est_jaccard = 1 (identical token sets), cross-group
    // candidates impossible (no shared band key), and every group
    // spans two batches — each batch both extends standing groups and
    // opens new ones
    val nBatches = 104
    val batchSize = 5
    def docsOf(ids: Seq[Long]): DataFrame = {
      import spark.implicits._
      ids.map { id =>
        val g = id / 4
        (id, s"g${g}a g${g}b g${g}c g${g}d g${g}e g${g}f")
      }.toDF("doc_id", "text")
    }
    var indexSigs = ext.Dedup.signaturesOf(docsOf(Seq.empty)).localCheckpoint()
    val allPairs = Seq.newBuilder[(Long, Long)]
    val wallPerBatch = Seq.newBuilder[Double]
    for (i <- 0 until nBatches) {
      val t0 = System.nanoTime()
      val ids = (i.toLong * batchSize) until ((i + 1).toLong * batchSize)
      val batchSigs = ext.Dedup.signaturesOf(docsOf(ids)).localCheckpoint()
      val index = indexSigs.withColumn("in_probe", lit(false))
        .unionByName(batchSigs.withColumn("in_probe", lit(true)))
      val pairs = ext.Dedup.probePairs(batchSigs, index)
        .select("doc_a", "doc_b").collect()
        .map(r => (r.getLong(0), r.getLong(1)))
      // probe OUTPUT is batch-bounded: each arriving doc can pair with
      // at most its 3 group siblings (groups of 4, disjoint vocab) —
      // never with the standing corpus at large
      assert(pairs.length <= batchSize * 3,
        s"batch $i emitted ${pairs.length} pairs (bound ${batchSize * 3})")
      allPairs ++= pairs
      indexSigs = indexSigs.unionByName(batchSigs)
      if (i % 20 == 19) indexSigs = indexSigs.localCheckpoint()
      // state == the signature index, and it grows with the CORPUS
      // only: rows == docs ingested so far, zero batch-count term
      if (i % 20 == 19 || i == nBatches - 1)
        assert(indexSigs.count() == (i + 1).toLong * batchSize,
          s"batch $i: index rows != corpus size")
      wallPerBatch += (System.nanoTime() - t0) / 1e9
    }
    val walls = wallPerBatch.result()
    val early = median(walls.slice(4, 34))
    val late = median(walls.takeRight(30))
    assert(late <= early * 5 + 0.5,
      f"per-batch wall grew: early median $early%.3f s -> late $late%.3f s")
    // the union of the 104 per-batch probe outputs IS the one-shot
    // all-pairs run over the final corpus — batch-by-batch index
    // maintenance loses and invents nothing
    val got = allPairs.result().sorted
    val oneShot = ext.Dedup.probePairs(indexSigs,
        indexSigs.withColumn("in_probe", lit(true)))
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    assert(got == oneShot,
      s"104-batch union diverged from one-shot (${got.size} vs ${oneShot.size})")
    assert(got.nonEmpty, "fixture produced no pairs — test is vacuous")
  }

  test("IVF upsert: 100+ batches, ledger ∝ cells, frozen routing ≡ one-shot replay, flat wall") {
    import spark.implicits._
    val dim = 4
    val k = 4
    // deterministic synthetic vectors in 4 well-separated corners,
    // with id-keyed jitter so cells hold distinct points
    def vecsOf(ids: Seq[Long]): DataFrame =
      ids.map { id =>
        val corner = (id % k).toInt
        val v = (0 until dim).map(d =>
          (if (d == corner) 10.0 else 0.0) + ((id * 7 + d) % 5) * 0.01)
        var ss = 0.0; v.foreach(x => ss += x * x)
        (id, v, math.sqrt(ss))
      }.toDF("vec_id", "v", "nrm")
    // the standing model: frozen centroids trained on the BASE corpus
    // only — upserts must route through them unchanged
    val base = vecsOf(0L until 200L)
    val (baseAssign, cents) = ext.Similarity.buildKmeansOf(base, k, 2)
    // occupancy ledger as standing state: (cell, n_base, n_delta)
    var ledger = baseAssign.groupBy("cell")
      .agg(count(lit(1)).as("n_base"), lit(0L).as("n_delta"))
      .localCheckpoint()
    val nBatches = 100
    val batchSize = 5
    val allAssigned = Seq.newBuilder[(Long, Int)]
    val wallPerBatch = Seq.newBuilder[Double]
    for (i <- 0 until nBatches) {
      val t0 = System.nanoTime()
      val ids = (1000L + i * batchSize) until (1000L + (i + 1) * batchSize)
      val assigned = ext.Similarity
        .assignToNearestAny(vecsOf(ids), cents)
        .select("vec_id", "cell").collect()
        .map(r => (r.getLong(0), r.getInt(1)))
      allAssigned ++= assigned
      val d = assigned.toSeq.toDF("vec_id", "cell")
        .groupBy("cell").agg(count(lit(1)).as("dn"))
      ledger = ledger.join(d, Seq("cell"), "full_outer")
        .select(col("cell"),
          coalesce(col("n_base"), lit(0L)).as("n_base"),
          (coalesce(col("n_delta"), lit(0L)) + coalesce(col("dn"), lit(0L)))
            .as("n_delta"))
        .localCheckpoint()
      // state ∝ CELLS: the ledger never grows a per-batch (or even
      // per-vector) term — k rows forever
      assert(ledger.count() <= k,
        s"batch $i: ledger grew past the cell count")
      wallPerBatch += (System.nanoTime() - t0) / 1e9
    }
    val walls = wallPerBatch.result()
    val early = median(walls.slice(4, 34))
    val late = median(walls.takeRight(30))
    assert(late <= early * 5 + 0.5,
      f"per-batch wall grew: early median $early%.3f s -> late $late%.3f s")
    // frozen-centroid routing is pure: the 100-batch accumulation ==
    // a one-shot assignment of every delta vector through the same
    // centroids (and so is engine-replayable across the whole run)
    val got = allAssigned.result().sorted
    val oneShot = ext.Similarity
      .assignToNearestAny(vecsOf(1000L until (1000L + nBatches * batchSize)),
        cents)
      .select("vec_id", "cell").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toSeq.sorted
    assert(got == oneShot, "100-batch routing diverged from one-shot replay")
    // the folded ledger equals the one-shot occupancy rollup
    val gotLedger = ledger.collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2))).toSeq.sorted
    val baseCounts = baseAssign.groupBy("cell")
      .agg(count(lit(1)).as("n")).collect()
      .map(r => r.getInt(0) -> r.getLong(1)).toMap
    val deltaCounts = got.groupBy(_._2).map { case (c, xs) => c -> xs.size.toLong }
    val want = (baseCounts.keySet ++ deltaCounts.keySet).toSeq.map { c =>
      (c, baseCounts.getOrElse(c, 0L), deltaCounts.getOrElse(c, 0L))
    }.sorted
    assert(gotLedger == want, "folded ledger != one-shot occupancy")
  }
}
