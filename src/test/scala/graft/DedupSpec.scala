package graft

import graft.ext.Dedup
import org.apache.spark.sql.functions.col

/** Sketch-based dedup vs the exact Jaccard oracle on sf0.001. */
class DedupSpec extends SparkSpec {

  test("exact dedup: survivor is min doc_id, copies >= 1") {
    val d = Dedup.exact(spark, sf0001).collect()
    assert(d.nonEmpty && d.forall(_.getAs[Long]("n_copies") >= 1))
  }

  test("minhash LSH candidates recall most exact >=0.95 Jaccard pairs") {
    val exactPairs = Dedup.jaccardPairs(spark, sf0001)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val lshPairs = Dedup.minhashLsh(spark, sf0001)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exactPairs.nonEmpty, "fixture has no near-dup pairs to test recall on")
    val recall = exactPairs.count(lshPairs.contains).toDouble / exactPairs.size
    info(f"minhash-LSH recall over exact pairs: $recall%.3f " +
      f"(${lshPairs.size} candidates vs ${exactPairs.size} exact)")
    assert(recall >= 0.8, f"recall $recall%.3f below 0.8")
  }

  test("cross-modal clusters cover every doc and coarsen each modality's map") {
    val xm = graft.ext.Dedup.crossModalClusters(spark, sf0001).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(xm.size.toLong == Tables.documents(spark, sf0001).count(),
      "cross-modal map must cover every document")
    // coarsening: any same-cluster relation in a single modality must
    // survive into the cross-modal map
    Dedup.clusters(spark, sf0001).collect()
      .groupBy(_.getLong(1)).values.foreach { ms =>
        assert(ms.map(m => xm(m.getLong(0))).toSet.size == 1,
          "a text cluster split across cross-modal clusters")
      }
    graft.ext.Similarity.embeddingNearDups(spark, sf0001).collect().foreach { r =>
      assert(xm(r.getLong(0)) == xm(r.getLong(1)),
        s"embedding pair (${r.getLong(0)},${r.getLong(1)}) split")
    }
    graft.ext.Multimodal.imageDedup(spark, sf0001).collect().foreach { r =>
      assert(xm(r.getLong(0)) == xm(r.getLong(1)),
        s"image pair (${r.getLong(0)},${r.getLong(1)}) split")
    }
  }

  test("blocking quality: arithmetic consistent, completeness certified, true = declared pairs") {
    val r = Dedup.blockingQuality(spark, sf0001).head()
    val (n, total, cand, tp) =
      (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3))
    assert(total == n * (n - 1) / 2, s"total pairs arithmetic: $r")
    assert(cand <= total && tp <= cand && tp > 0, s"count ordering: $r")
    // pigeonhole certification: every est>=0.9 pair shares a clean band
    assert(r.getDouble(5) == 1.0, s"claimed completeness must be 1.0: $r")
    // the banded true count IS the declared pair query's output size
    assert(tp == Dedup.minhashLsh(spark, sf0001).count(),
      "banded true pairs diverge from dedup_minhash_lsh")
    val rr = BigDecimal(1.0 - cand.toDouble / total)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(r.getDouble(4) == rr, s"reduction ratio: $r vs $rr")
  }

  test("incremental LSH == full LSH restricted to delta-touching pairs") {
    // the whole point of the incremental face: probing the standing
    // index with only the batch must lose nothing and invent nothing
    // relative to the corpus-wide pass
    val full = Dedup.minhashLsh(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val expected = full.filter(t => t._1 % 7 == 0 || t._2 % 7 == 0)
    val got = Dedup.incrementalLsh(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(expected.nonEmpty, "fixture has no delta-touching pairs")
    assert(got.toSeq == expected.toSeq,
      s"incremental ${got.length} pairs != restricted full ${expected.length}")
    // kinds restate the modulus test
    Dedup.incrementalLsh(spark, sf0001).collect().foreach { r =>
      val (a, b, kind) = (r.getLong(0), r.getLong(1), r.getString(3))
      assert((a % 7 == 0 && b % 7 == 0) == (kind == "delta_delta"), s"$r")
    }
  }

  test("incremental cluster map == full recompute; untouched components pass through") {
    // the IVM claim: folding the delta batch into the standing
    // base-only map must yield the full-corpus clustering row-for-row
    val full = Dedup.clusters(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq.sorted
    val inc = Dedup.incrementalClusters(spark, sf0001).collect()
    val got = inc.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq.sorted
    assert(got == full, s"maintained map diverges from full recompute " +
      s"(first diff: ${got.zip(full).find(p => p._1 != p._2)})")
    // the incrementality readout: every delta doc resolves, and the
    // fixture must exercise BOTH paths (otherwise the bounded-work
    // claim is untested)
    val byPath = inc.groupBy(_.getString(3))
    assert(byPath.contains("kept") && byPath.contains("resolved"),
      s"fixture must exercise both paths: ${byPath.keySet}")
    inc.filter(_.getLong(0) % 7 == 0).foreach(r =>
      assert(r.getString(3) == "resolved", s"delta doc kept: $r"))
    // kept rows are bit-identical to the standing base-only map's
    val docs = Tables.documents(spark, sf0001).select("doc_id", "text")
    val baseMap = Dedup.clustersFromBuckets(
        Dedup.minhashBuckets(
          Dedup.signaturesOf(docs.filter(col("doc_id") % 7 =!= 0))))
      .collect()
      .map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    inc.filter(_.getString(3) == "kept").foreach { r =>
      assert(baseMap.get(r.getLong(0)).contains((r.getLong(1), r.getLong(2))),
        s"kept row changed vs the standing map: $r")
    }
  }

  test("streaming continuous dedup: per-batch index probes union to the batch query") {
    import org.apache.spark.sql.functions._
    // the production flow: the corpus-so-far keeps a signature index;
    // each arriving micro-batch signs itself, probes the index (which
    // includes the batch, flagged, for within-batch pairs), emits its
    // pairs, and APPENDS itself to the index. The union over batches
    // must equal the one-shot incremental query on the same delta set
    // — no pair lost at a batch boundary, none double-emitted.
    val docs = Tables.documents(spark, sf0001).select("doc_id", "text")
    val base = docs.filter(col("doc_id") % 7 =!= 0)
    val delta = docs.filter(col("doc_id") % 7 === 0)
    // stage the delta as TWO files so the stream runs two micro-batches
    val tmp = tempDir("cont_dedup")
    delta.filter(col("doc_id") % 2 === 0).coalesce(1).write.parquet(s"$tmp/d0")
    delta.filter(col("doc_id") % 2 =!= 0).coalesce(1).write.parquet(s"$tmp/d1")
    var index = ext.Dedup.signaturesOf(base).cache()
    val got = scala.collection.mutable.Set.empty[(Long, Long, Double)]
    var nBatches = 0
    val q = spark.readStream.schema(delta.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$tmp/d*/*.parquet")
      .writeStream.outputMode("append").foreachBatch {
        (b: org.apache.spark.sql.DataFrame, _: Long) =>
          val bs = ext.Dedup.signaturesOf(b).cache()
          val idx = index.withColumn("in_probe", lit(false))
            .unionByName(bs.withColumn("in_probe", lit(true)))
          got ++= ext.Dedup.probePairs(bs, idx).collect()
            .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
          index = index.unionByName(bs).cache()
          nBatches += 1
          ()
      }.start()
    try q.processAllAvailable() finally q.stop()
    assert(nBatches >= 2, s"stream must run >= 2 micro-batches, ran $nBatches")
    val expect = ext.Dedup.incrementalLsh(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSet
    assert(expect.nonEmpty)
    assert(got.toSet == expect,
      s"missing=${(expect -- got).take(3)} extra=${(got.toSet -- expect).take(3)}")
  }

  test("streaming continuous clustering: per-batch folds converge to the full map") {
    import org.apache.spark.sql.functions._
    // the production flow for the CLUSTER MAP: the corpus-so-far
    // keeps its bucket index + converged map; each arriving
    // micro-batch folds in via foldClusterBatch (only touched
    // components re-solve) and appends its buckets to the index. The
    // final map must equal the one-shot full recompute — no
    // connectivity lost at a batch boundary.
    val docs = Tables.documents(spark, sf0001).select("doc_id", "text")
    val base = docs.filter(col("doc_id") % 7 =!= 0)
    val delta = docs.filter(col("doc_id") % 7 === 0)
    val tmp = tempDir("cont_cluster")
    delta.filter(col("doc_id") % 2 === 0).coalesce(1).write.parquet(s"$tmp/d0")
    delta.filter(col("doc_id") % 2 =!= 0).coalesce(1).write.parquet(s"$tmp/d1")
    def bucketsOf(d: org.apache.spark.sql.DataFrame) =
      ext.Dedup.minhashBuckets(ext.Dedup.signaturesOf(d))
    var indexBk = bucketsOf(base).cache()
    var curMap = ext.Dedup.clustersFromBuckets(indexBk).cache()
    var nBatches = 0
    val q = spark.readStream.schema(delta.schema)
      .option("maxFilesPerTrigger", "1")
      .parquet(s"$tmp/d*/*.parquet")
      .writeStream.outputMode("append").foreachBatch {
        (b: org.apache.spark.sql.DataFrame, _: Long) =>
          val bk = bucketsOf(b).cache()
          curMap = ext.Dedup.foldClusterBatch(indexBk, curMap, bk)
            .select("doc_id", "cluster_rep", "cluster_size")
            .localCheckpoint()
          indexBk = indexBk.unionByName(bk).cache()
          nBatches += 1
          ()
      }.start()
    try q.processAllAvailable() finally q.stop()
    assert(nBatches >= 2, s"stream must run >= 2 micro-batches, ran $nBatches")
    val got = curMap.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq.sorted
    val full = Dedup.clusters(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq.sorted
    assert(got == full, "streamed cluster map diverges from the one-shot map " +
      s"(first diff: ${got.zip(full).find(p => p._1 != p._2)})")
  }

  test("winnowing candidates cover the shingle-Jaccard near-dups") {
    val exact = Dedup.shingleJaccardPairs(spark, sf0001)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val winnow = Dedup.winnowPairs(spark, sf0001)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "fixture has no shingle near-dups")
    val covered = exact.count(winnow.contains).toDouble / exact.size
    info(f"winnow coverage of shingle pairs: $covered%.3f " +
      f"(${winnow.size} candidates vs ${exact.size} exact)")
    assert(covered >= 0.9)
  }

  test("PPJoin prefix filter bounds a boilerplate-shingle skew bucket") {
    // 50 docs share ONE high-DF item (the boilerplate) and are
    // otherwise disjoint (20 unique items each). A naive inverted-
    // index join emits 50·49/2 = 1225 candidates from that bucket; the
    // prefix filter admits none: with n=21 and t=0.8 the prefix is the
    // 5 rarest items, and the shared boilerplate item — the most
    // frequent in the corpus — sorts last, far outside every prefix.
    import spark.implicits._
    val items = (0 until 50).flatMap { d =>
      ("common" +: (0 until 20).map(j => s"u${d}_$j")).map(it => (d.toLong, it))
    }.toDF("doc_id", "item")
    val cand = Dedup.ppCandidates(Dedup.ppSortedOrds(items, 0.8), 0.8).collect()
    assert(cand.isEmpty,
      s"prefix filter admitted ${cand.length} candidates from a pure-skew bucket")
    // positive control: genuine near-dups still surface as candidates
    val near = (0 until 2).flatMap { d =>
      ((0 until 20).map(j => s"s$j") :+ s"only$d").map(it => (100L + d, it))
    }.toDF("doc_id", "item")
    val c2 = Dedup.ppCandidates(Dedup.ppSortedOrds(near, 0.8), 0.8).collect()
    assert(c2.length == 1, s"expected the J≈0.91 pair as a candidate, got ${c2.length}")
  }

  test("dedup_clusters: a 5-copy document set collapses to one rep of size 5") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val docs = (
      (0 until 5).map(i => (i.toLong, "the same exact duplicated text body")) ++
        Seq((10L, "an entirely different document about something else"),
          (11L, "yet another unrelated piece of text written here"))
      ).toDF("doc_id", "text")
    val toks = docs.select(col("doc_id"),
      explode(array_distinct(split(trim(col("text")), "\\s+"))).as("tok"))
    val out = Dedup.clustersFromBuckets(
      Dedup.minhashBuckets(Dedup.signatures(toks))).collect()
    val byDoc = out.map(r =>
      r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(byDoc.size == 7)
    (0 until 5).foreach { i =>
      assert(byDoc(i.toLong) == (0L, 5L),
        s"doc $i: expected rep 0 size 5, got ${byDoc(i.toLong)}")
    }
    assert(byDoc(10L) == (10L, 1L) && byDoc(11L) == (11L, 1L),
      "unrelated docs must stay singleton clusters")
  }

  test("keep-best: exactly one keep per cluster, and it is the quality argmax") {
    val out = Dedup.keepBest(spark, sf0001).collect()
    val docs = spark.read.parquet(s"$sf0001/documents.parquet").count()
    assert(out.length == docs, "one verdict row per document")
    val byCluster = out.groupBy(_.getLong(1))
    byCluster.foreach { case (rep, rows) =>
      assert(rows.head.getLong(2) == rows.length,
        s"cluster $rep: cluster_size must equal member count")
      val kept = rows.filter(_.getBoolean(5))
      assert(kept.length == 1, s"cluster $rep: exactly one keep")
      // driver replay of the argmax from the output's own columns:
      // (quality_ok, n_tokens, smallest doc_id)
      val want = rows.maxBy(r =>
        (r.getBoolean(4), r.getLong(3), -r.getLong(0)))
      assert(kept.head.getLong(0) == want.getLong(0),
        s"cluster $rep: keeper must be the (quality, length, id) argmax")
    }
  }

  test("connected components releases prior-round checkpoints (bounded storage)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // a path graph (bucket i = {doc i, doc i+1}) forces MANY propagation
    // rounds — exactly the regime where unreleased per-round checkpoints
    // would stack up executor storage
    val n = 24
    val buckets = (0 until n).flatMap(i =>
      Seq((i.toLong, s"b$i"), ((i + 1).toLong, s"b$i")))
      .toDF("doc_id", "bucket")
    val before = spark.sparkContext.getPersistentRDDs.size
    val out = Dedup.clustersFromBuckets(buckets).collect()
    assert(out.forall(_.getLong(1) == 0L), "path graph is one component, rep 0")
    val after = spark.sparkContext.getPersistentRDDs.size
    // many rounds ran; only the checkpointed RESULT may remain pinned
    assert(after - before <= 1,
      s"persistent RDD count grew by ${after - before} — per-round checkpoints leaked")
    SessionMemo.clear(spark)
    assert(spark.sparkContext.getPersistentRDDs.size <= before,
      "SessionMemo.clear must release the result checkpoint too")
    // large-star/small-star contracts the path multiplicatively: a
    // 24-hop chain must close in O(log n) rounds, where plain
    // min-label propagation needs O(n) (~12+ here). The fixpoint's
    // input is the path's star contraction: member i+1 → bucket min i.
    val cc = Dedup.ccFixpoint((0 until n).map(i => ((i + 1).toLong, i.toLong)).toDF("u", "v"))
    SessionMemo.release(spark, cc.ids)
    assert(cc.rounds <= 6,
      s"expected O(log n) rounds on a path graph, got ${cc.rounds}")
  }

  test("dedup_clusters covers every minhash-LSH pair in one component") {
    // pair (a, b) in minhashLsh ⇒ a, b share a band bucket ⇒ same rep
    val reps = ext.Dedup.clusters(spark, sf0001).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val pairs = Dedup.minhashLsh(spark, sf0001)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty)
    pairs.foreach { case (a, b) =>
      assert(reps(a) == reps(b), s"pair ($a,$b) split across clusters")
    }
  }

  test("edit-distance pairs match an independent JVM DP recomputation") {
    def lev(a: String, b: String): Int = {
      var prev = (0 to b.length).toArray
      for (i <- 1 to a.length) {
        val cur = new Array[Int](b.length + 1)
        cur(0) = i
        for (j <- 1 to b.length)
          cur(j) = math.min(math.min(cur(j - 1) + 1, prev(j) + 1),
            prev(j - 1) + (if (a(i - 1) == b(j - 1)) 0 else 1))
        prev = cur
      }
      prev(b.length)
    }
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).toLowerCase)
    val blocked = docs.map { case (id, t) =>
      (id, t, t.take(12), t.length / 20) }
    val expect = (for {
      (ia, ta, pa, ba) <- blocked
      (ib, tb, pb, bb) <- blocked
      if ia < ib && pa == pb && ba == bb
      d = lev(ta, tb) if d <= 10
    } yield (ia, ib, d.toLong)).sortBy(x => (x._1, x._2)).toSeq
    val got = Dedup.editDistancePairs(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(got == expect, s"got ${got.size} pairs, expected ${expect.size}")
  }

  test("pagerank: probability mass bounded, connected docs above the teleport floor") {
    val pr = Dedup.pagerank(spark, sf0001).collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val n = pr.size
    assert(n == spark.read.parquet(s"$sf0001/documents.parquet").count())
    val floor = 0.15 / n
    // no dangling redistribution → total mass never exceeds 1
    assert(pr.values.sum <= 1.0 + 1e-6, s"mass ${pr.values.sum}")
    assert(pr.values.forall(_ > 0))
    // docs in a near-dup cluster receive flow → strictly above the
    // teleport-only floor; singletons sit exactly on it
    val sizes = Dedup.clusters(spark, sf0001).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    sizes.foreach { case (d, sz) =>
      if (sz > 1) assert(pr(d) > floor + 1e-12, s"connected doc $d at floor")
      else assert(math.abs(pr(d) - floor) < 1e-9, s"singleton $d off floor")
    }
  }

  test("label propagation: communities refine connected components; driver replay agrees") {
    val lp = Dedup.labelProp(spark, sf0001).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val cc = Dedup.clusters(spark, sf0001).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(lp.keySet == cc.keySet)
    // labels only travel along edges, so a community never straddles
    // two components: same LPA label => same CC rep
    lp.groupBy(_._2).values.foreach { members =>
      val reps = members.keySet.map(cc)
      assert(reps.size == 1, s"community straddles components: $reps")
    }
    // a community's label is one of its component's members
    lp.foreach { case (d, lab) =>
      assert(cc.contains(lab) && cc(lab) == cc(d), s"foreign label $lab on $d") }
    // isolated docs (cluster_size == 1) must keep their own label
    val sizes = Dedup.clusters(spark, sf0001).collect()
      .map(r => r.getLong(0) -> r.getLong(2)).toMap
    sizes.foreach { case (d, sz) =>
      if (sz == 1) assert(lp(d) == d, s"isolated doc $d lost its label") }
    // non-trivial detection: at least one multi-member community, and
    // more communities than components (LPA refines CC) OR equal on a
    // fully-cliqued fixture
    assert(lp.values.toSet.size >= cc.values.toSet.size)
  }

  test("array-join partitioning scales with array volume, floored at cores") {
    // per-partition build bytes ≈ (8·cells + 48·rows) / parts must
    // stay ≈ the 32 MB target at any corpus size — the fixed-count
    // plan OOMed 32 concurrent hash builds at 100× bench scale
    // (first the containment join's Σn² explode, then the shingle
    // PPJoin's Σ plen·n prefix explode)
    val target = 32L << 20
    // bench scale (sf0.1: rows ≈ 116k, cells ≈ 3.6M) keeps the floor
    assert(Dedup.arrayJoinPartitions(116000L, 3600000L, 32) == 32)
    for ((rows, cells) <- Seq((11600000L, 360000000L),      // ~sf10
                              (1160000000L, 36000000000L))) { // ~sf1000
      val p = Dedup.arrayJoinPartitions(rows, cells, 32)
      val perPart = (8.0 * cells + 48.0 * rows) / p
      assert(perPart <= target.toDouble,
        s"rows=$rows: $perPart bytes/partition exceeds the build target")
      assert(p <= 4 * ((8 * cells + 48 * rows) / target + 1).toInt,
        s"rows=$rows: $p partitions is overscaled")
    }
  }

  test("containment top: best container matches a driver-side recomputation") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).trim.split("\\s+").toSet)
    val expect = docs.flatMap { case (a, sa) =>
      val best = docs.collect {
        case (b, sb) if sa.size < sb.size &&
          sa.count(sb).toDouble / sa.size >= 0.9 =>
          (b, sa.count(sb).toDouble / sa.size, sb.size)
      }
      if (best.isEmpty) None
      else Some {
        val (b, c, _) = best.minBy { case (id, c, nb) => (-c, nb, id) }
        (a, b, BigDecimal(c).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble)
      }
    }.sortBy(_._1).toSeq
    val got = Dedup.containmentTop(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(expect.nonEmpty, "fixture has no contained docs")
    assert(got == expect, s"${got.size} rows vs expected ${expect.size}")
  }

  test("containment catches a strict subset doc that symmetric Jaccard misses") {
    import spark.implicits._
    // x = 10 tokens fully inside y's 40 → C(x→y)=1.0 but J=0.25;
    // z is disjoint noise
    val items =
      (0 until 10).map(j => (1L, s"w$j")) ++
        (0 until 40).map(j => (2L, s"w$j")) ++
        (0 until 10).map(j => (3L, s"z$j"))
    val sorted = Dedup.ppSortedOrds(items.toDF("doc_id", "item"), 0.95)
    val got = Dedup.containmentFromSorted(sorted).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(got.toSeq == Seq((1L, 2L, 1.0)),
      s"expected only (1 contained-in 2, 1.0), got ${got.mkString(",")}")
  }

  test("containment probe is bounded: boilerplate ordinal and deep positions never shuffle") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // 50 docs: ONE shared high-DF item + 20 unique rare items each —
    // the same pure-skew shape as the shingle bucket test. The
    // boilerplate item sorts LAST under the ascending-DF order and
    // (n=21, t=0.9 → prefix = 3 rarest) enters no prefix, so the
    // bounded probe must carry NO row for its ordinal; and with
    // minReach = ⌈0.9·21⌉ = 19 only positions 0..2 of each doc can
    // ever witness a qualifying pair, so exactly 3 rows per doc
    // survive of the 21 a full explode would shuffle.
    val items = (0 until 50).flatMap { d =>
      ("common" +: (0 until 20).map(j => s"u${d}_$j")).map(it => (d.toLong, it))
    }.toDF("doc_id", "item")
    val sorted = Dedup.ppSortedOrds(items, 0.9)
    val hotOrd = sorted.select(element_at(col("ords"), col("n")).as("h"))
      .agg(max("h")).head.getLong(0) // "common" is every doc's last ordinal
    val probe = Dedup.containmentProbe(sorted)
    assert(probe.filter(col("ord") === hotOrd).count() == 0,
      "the boilerplate ordinal must be pruned before the candidate shuffle")
    assert(probe.count() == 50 * 3,
      "positional bound must keep only the 3 reachable positions per doc")
    // and the full query still returns no pairs (max containment 1/21)
    assert(Dedup.containmentFromSorted(sorted).collect().isEmpty)
  }

  test("triangle counts match a brute-force recount of the same edge set") {
    val edges = Dedup.minhashLsh(spark, sf0001)
      .select("doc_a", "doc_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val eset = edges.toSet
    val expect = scala.collection.mutable.Map.empty[Long, Long]
    for {
      (a, b) <- edges
      c <- edges.collect { case (`b`, x) => x } // a < b < c
      if eset((a, c))
    } Seq(a, b, c).foreach(d => expect(d) = expect.getOrElse(d, 0L) + 1L)
    val got = Dedup.triangles(spark, sf0001).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(expect.nonEmpty, "fixture near-dup graph has no triangles")
    assert(got == expect.toMap,
      s"${got.size} docs with triangles vs expected ${expect.size}")
  }

  test("triangles: signature collapse covers every closed-form term (clique + hub)") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // 4 docs share signature A (a K4 supernode of weight 4); a hub doc
    // carries signature B differing from A in 3 of 32 positions
    // (est = 29/32 ≥ 0.9 → A-B edge). Per-doc counts: each A member
    // is in C(3,2)=3 internal + 3·1 one-in-A-one-hub = 6 triangles;
    // the hub closes a triangle with every A pair: C(4,2) = 6.
    val sigA = (0 until 32).map(i => 1000L + i)
    val sigB = sigA.updated(0, 1L).updated(1, 2L).updated(2, 3L)
    val sigs = ((0 until 4).map(d => (d.toLong, sigA)) :+ (9L, sigB))
      .toDF("doc_id", "sig")
    val got = Dedup.trianglesFromSigs(sigs).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(0L -> 6L, 1L -> 6L, 2L -> 6L, 3L -> 6L, 9L -> 6L),
      s"got $got")
    // distinct-signature triangle (three supernodes of weight 1): C
    // rewrites the SAME 3 positions as B with third values, so all
    // three pairs differ in exactly 3 of 32 → est 29/32 ≥ 0.9
    val sigC = sigA.updated(0, 7L).updated(1, 8L).updated(2, 9L)
    val tri3 = Seq((1L, sigA), (2L, sigB), (3L, sigC)).toDF("doc_id", "sig")
    val got3 = Dedup.trianglesFromSigs(tri3).collect()
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got3 == Map(1L -> 1L, 2L -> 1L, 3L -> 1L), s"got $got3")
  }

  test("adamic-adar: path fixture scores the missing closing edge") {
    import spark.implicits._
    // path A–B–C: B differs from A in positions 0-2 (est 29/32 →
    // edge), C differs from B in positions 3-5 (edge) and from A in
    // all six (est 26/32 → NON-edge). The wedge at B predicts the
    // missing (A, C) link with score 1/ln(deg B) = 1/ln 2
    val sigA = (0 until 32).map(i => 1000L + i)
    val sigB = sigA.updated(0, 1L).updated(1, 2L).updated(2, 3L)
    val sigC = sigB.updated(3, 4L).updated(4, 5L).updated(5, 6L)
    val sigs = Seq((1L, sigA), (2L, sigB), (3L, sigC)).toDF("doc_id", "sig")
    val got = Dedup.adamicAdarFromSigs(sigs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val want = BigDecimal(1.0 / math.log(2.0))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(got.toSeq == Seq((1L, 3L, 1L, want)), s"got ${got.mkString(",")}")
  }

  test("adamic-adar predictions are wedge-connected non-edges on the fixture") {
    val preds = Dedup.adamicAdarFromSigs(
      Dedup.signatures(
        spark.read.parquet(s"$sf0001/documents.parquet")
          .select(org.apache.spark.sql.functions.col("doc_id"),
            org.apache.spark.sql.functions.explode(
              org.apache.spark.sql.functions.array_distinct(
                graft.ext.Text.tokens(
                  org.apache.spark.sql.functions.col("text")))).as("tok"))))
      .collect()
    assert(preds.nonEmpty, "no predicted links on the fixture graph")
    assert(preds.forall(_.getLong(2) >= 1))
    // scores decrease down the ranking (rounded ties broken by ids)
    val scores = preds.map(_.getDouble(3))
    assert(scores.zip(scores.tail).forall { case (x, y) => x >= y })
  }

  test("clustering coefficient: clique scores 1, path center scores 0, leaves drop") {
    import spark.implicits._
    // three signature-identical docs = a 3-clique: every doc has
    // degree 2 and exactly the one triangle -> coeff 1.0
    val sig = (0 until 32).map(i => 500L + i)
    val clique = Seq((1L, sig), (2L, sig), (3L, sig))
      .toDF("doc_id", "sig")
    val gotClique = Dedup.clusteringFromSigs(clique).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(gotClique.toSeq == Seq((1L, 2L, 1L, 1.0), (2L, 2L, 1L, 1.0),
      (3L, 2L, 1L, 1.0)), s"got ${gotClique.mkString(",")}")

    // the adamic-adar path fixture: A-B-C open wedge — center B has
    // degree 2 and no triangle (coeff 0); leaves have degree 1 (drop)
    val sigA = (0 until 32).map(i => 1000L + i)
    val sigB = sigA.updated(0, 1L).updated(1, 2L).updated(2, 3L)
    val sigC = sigB.updated(3, 4L).updated(4, 5L).updated(5, 6L)
    val path = Seq((1L, sigA), (2L, sigB), (3L, sigC)).toDF("doc_id", "sig")
    val gotPath = Dedup.clusteringFromSigs(path).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(gotPath.toSeq == Seq((2L, 2L, 0L, 0.0)), s"got ${gotPath.mkString(",")}")
  }

  test("simhash pairs respect the declared hamming bound") {
    val p = Dedup.simhashPairs(spark, sf0001).collect()
    assert(p.forall(_.getAs[Int]("hamming") <= 5))
  }

  test("simhash is deterministic across runs") {
    val a = Dedup.simhash(spark, sf0001).collect().map(_.toSeq)
    val b = Dedup.simhash(spark, sf0001).collect().map(_.toSeq)
    assert(a.sameElements(b))
  }

  test("simhash banding is population-scaled; pair set plan-invariant") {
    // block count steps with the corpus so the narrowest table key
    // keeps expected per-table random collisions n/2^bits ≤ ~1 —
    // the static 6×10-bit plan held only to 2^10 docs and its
    // candidate volume grew quadratically past that (12× wall at 10×
    // data in the sf10 headroom leg before this fix)
    for ((n, b) <- Seq(500L -> 6, 5000L -> 7, 50000L -> 7,
                       500000L -> 8, 5000000L -> 9, 100000000L -> 10)) {
      assert(Dedup.simBandBlocks(n) == b, s"n=$n")
      val plan = ext.Multimodal.bandPlanFor(b, 5, 60)
      assert(n <= (1L << plan.minKeyBits) || b == 10,
        s"n=$n: ${plan.minKeyBits}-bit keys under-sized")
      assert(plan.blocks.map(_._2).sum == 60, "blocks must cover the sketch")
    }
    // exact recall at every plan: the pair SET is identical under the
    // minimal 6-block plan and a wider 8-block plan (pigeonhole —
    // the bands pick candidates, verify + distinct pick the answer)
    val sk = Dedup.simhash(spark, sf0001)
      .select(col("doc_id").as("media_id"), col("simhash").as("dhash"))
    def pairs(blocks: Int) = ext.Multimodal.nearDupImagePairsPlanned(
        sk, ext.Multimodal.bandPlanFor(blocks, 5, 60), 5)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val p6 = pairs(6)
    assert(p6 == pairs(8), "pair set must be band-plan-invariant")
    val declaredRows = Dedup.simhashPairs(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(declaredRows.toSet == p6,
      "declared query must equal the minimal plan's set")
    // the first-agreeing-table gate makes emission exactly-once with
    // NO pair distinct — duplicate rows here mean the gate leaks
    assert(declaredRows.length == declaredRows.toSet.size,
      "pair emission must be exactly-once without a distinct")
  }

  test("simhash clusters: cover every doc, reachability equals the pair graph") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet").count()
    val cl = Dedup.simhashClusters(spark, sf0001).collect()
    assert(cl.length == docs, "one cluster row per doc")
    val rep = cl.map(r => r.getLong(0) -> r.getLong(1)).toMap
    // every pair's endpoints share a cluster (evidence buckets must
    // not lose pair-graph edges)
    val pairs = Dedup.simhashPairs(spark, sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.nonEmpty)
    pairs.foreach { case (a, b) =>
      assert(rep(a) == rep(b), s"pair ($a,$b) split across clusters")
    }
    // and no overclustering: a JVM union-find over exactly the pair
    // edges reproduces the component count
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    cl.foreach(r => find(r.getLong(0)))
    pairs.foreach { case (a, b) => parent(find(a)) = find(b) }
    val expected = cl.map(r => find(r.getLong(0))).distinct.length
    assert(rep.values.toSet.size == expected,
      "cluster count must equal the pair graph's component count")
    // rep is the component minimum and sizes add up to the corpus
    cl.foreach(r => assert(r.getLong(1) <= r.getLong(0)))
    val sizes = cl.map(r => (r.getLong(1), r.getLong(2))).distinct
    assert(sizes.map(_._2).sum == docs)
  }

  test("soft dedup: every cluster's weights sum to one document-equivalent") {
    val rows = Dedup.softWeights(spark, sf0001).collect()
    val n = spark.read.parquet(s"$sf0001/documents.parquet").count()
    assert(rows.length.toLong == n, "soft dedup must keep EVERY doc")
    rows.foreach { r =>
      val size = r.getAs[Long]("cluster_size")
      assert(r.getAs[Double]("weight") ==
        math.round(1.0 / size * 10000) / 10000.0)
    }
    // per cluster: sum of weights == 1 (up to the 4dp output rounding)
    rows.groupBy(_.getAs[Long]("cluster_rep")).foreach { case (rep, ms) =>
      val s = ms.map(_.getAs[Double]("weight")).sum
      assert(math.abs(s - 1.0) < 1e-3 * ms.length,
        s"cluster $rep weights sum to $s over ${ms.length} members")
    }
    // the corpus's effective doc count == number of clusters
    val nClusters = rows.map(_.getAs[Long]("cluster_rep")).distinct.length
    val eff = rows.map(_.getAs[Double]("weight")).sum
    assert(math.abs(eff - nClusters) < 0.01 * n)
  }

  test("duplicate spans: planted shared runs surface as exact islands") {
    import spark.implicits._
    import org.apache.spark.sql.functions._
    // doc 1 and doc 2 share a 12-token run (planted mid-doc at
    // different offsets); doc 3 is unique filler; doc 4 repeats its
    // OWN 8-gram (within-doc duplication counts too, per Lee et al.)
    val run = (1 to 12).map(i => s"shared$i").mkString(" ")
    val docs = Seq(
      (1L, s"alpha beta gamma $run delta epsilon zeta eta theta"),
      (2L, s"one two three four five six seven $run eight nine"),
      (3L, "u1 u2 u3 u4 u5 u6 u7 u8 u9 u10 u11 u12 u13 u14"),
      (4L, "rep1 rep2 rep3 rep4 rep5 rep6 rep7 rep8 " +
        "mid1 mid2 rep1 rep2 rep3 rep4 rep5 rep6 rep7 rep8")
    ).toDF("doc_id", "text")
    val spans = graft.ext.Dedup.duplicateSpansOf(docs).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getLong(3), r.getLong(4)))
    // a shared 12-token run = 12-8+1 = 5 consecutive anchors
    val d1 = spans.filter(_._1 == 1L)
    assert(d1.length == 1 && d1.head == (1L, 3L, 7L, 5L, 12L), s"d1: ${d1.toSeq}")
    val d2 = spans.filter(_._1 == 2L)
    assert(d2.length == 1 && d2.head._4 == 5L && d2.head._5 == 12L,
      s"d2: ${d2.toSeq}")
    assert(!spans.exists(_._1 == 3L), "unique doc must produce no span")
    // doc 4: the repeated 8-gram anchors at positions 0 and 10
    val d4 = spans.filter(_._1 == 4L)
    assert(d4.length == 2 && d4.forall(sp => sp._4 == 1L && sp._5 == 8L),
      s"d4: ${d4.toSeq}")
  }

  test("span scrub: excised text matches a driver-side cut of the same spans") {
    import spark.implicits._
    val run = (1 to 12).map(i => s"shared$i").mkString(" ")
    val full = (1 to 8).map(i => s"dup$i").mkString(" ")
    val fixture = Seq(
      (1L, s"alpha beta gamma $run delta epsilon zeta eta theta"),
      (2L, s"one two three four five six seven $run eight nine"),
      (3L, "u1 u2 u3 u4 u5 u6 u7 u8 u9 u10 u11 u12 u13 u14"),
      (4L, full), (5L, full), // exact dups -> scrub to empty
      (6L, "tiny doc")) // under one gram -> untouched
    val got = graft.ext.Dedup.spanScrubOf(fixture.toDF("doc_id", "text"))
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getLong(2), r.getString(3)))).toMap
    // driver replay: covered = union of [p, p+7] over duplicated
    // 8-gram anchor positions, computed over the whole fixture
    val toks = fixture.map { case (id, t) => id -> t.trim.split("\\s+").toVector }
    val grams = toks.flatMap { case (id, tv) =>
      tv.sliding(8).filter(_.size == 8).zipWithIndex
        .map { case (g, p) => (id, p, g.mkString(" ")) } }
    val dupG = grams.groupBy(_._3).filter(_._2.size >= 2).keySet
    toks.foreach { case (id, tv) =>
      val anchors = grams.filter(g => g._1 == id && dupG(g._3)).map(_._2)
      val covered = anchors.flatMap(p => p until p + 8).toSet
      val kept = tv.zipWithIndex.collect {
        case (t, i) if !covered(i) => t }.mkString(" ")
      val wantMd5 = java.security.MessageDigest.getInstance("MD5")
        .digest(kept.getBytes("UTF-8")).map("%02x".format(_)).mkString
      val (n, rm, h) = got(id)
      assert(n == tv.length, s"doc $id n_tokens")
      assert(rm == covered.size, s"doc $id n_removed: $rm != ${covered.size}")
      assert(h == wantMd5, s"doc $id hash")
    }
    assert(got(4L)._2 == 8 && got(5L)._2 == 8, "exact dups must fully scrub")
    assert(got(6L)._2 == 0, "sub-gram doc must pass untouched")
  }

  /** The seven memoized cluster maps, each built through its public
    * face; `minhash_clusters_base` has none (it is the standing map
    * inside `dedup_incremental_clusters`), so the memo hands back the
    * map that query built. */
  private def clusterMaps(): Seq[(String, org.apache.spark.sql.DataFrame)] = {
    Dedup.incrementalClusters(spark, sf0001)
    Seq(
      "minhash_clusters" -> Dedup.clusters(spark, sf0001),
      "minhash_clusters_base" -> Dedup.clusterMap(spark, sf0001,
        "minhash_clusters_base")(sys.error("minhash_clusters_base was not built")),
      "simhash_clusters" -> Dedup.simhashClusters(spark, sf0001),
      "crossmodal_clusters" -> Dedup.crossModalClusters(spark, sf0001),
      "image_clusters" -> ext.Multimodal.imageClusters(spark, sf0001),
      "knn_clusters" -> ext.Similarity.knnClusters(spark, sf0001),
      "embedding_clusters" -> ext.Similarity.embeddingClusters(spark, sf0001))
  }

  private def pinnedRdd(map: org.apache.spark.sql.DataFrame): Int =
    map.queryExecution.analyzed.collectLeaves() match {
      case Seq(l: org.apache.spark.sql.execution.LogicalRDD) => l.rdd.id
      case leaves => fail(s"expected one checkpoint (LogicalRDD) leaf, got $leaves")
    }

  test("each memoized cluster map is one pinned checkpoint, with no cache on top") {
    SessionMemo.clear(spark)
    clusterMaps().foreach { case (name, map) =>
      assert(map.storageLevel == org.apache.spark.storage.StorageLevel.NONE,
        s"$name is cached on top of its checkpoint: ${map.storageLevel}")
      assert(spark.sparkContext.getPersistentRDDs.contains(pinnedRdd(map)),
        s"$name: its checkpoint is not pinned")
    }
    SessionMemo.clear(spark)
  }

  test("reading the seven cluster maps pins no second copy; clear returns to baseline") {
    def pinned = spark.sparkContext.getPersistentRDDs.keySet.toSet
    SessionMemo.clear(spark)
    val baseline = pinned
    val maps = clusterMaps()
    val built = pinned
    assert(maps.map(m => pinnedRdd(m._2)).toSet.subsetOf(built -- baseline))
    maps.foreach { case (_, map) => map.count() }
    assert(pinned == built, s"reading the maps pinned ${pinned -- built} on top")
    SessionMemo.clear(spark)
    assert(pinned == baseline, "SessionMemo.clear left cluster-map blocks pinned")
  }
}
