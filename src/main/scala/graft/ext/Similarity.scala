package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.Md5Hash60.md5Hash60
import graft.functions.Num.r4

/** Similarity search over the `embeddings` table
  * (`ArrayType(FloatType)`, 64-dim): brute-force cosine top-k as the
  * exact baseline, random-hyperplane LSH bucketing as the approximate
  * scale path, and an LSH-bucketed near-duplicate pair detector.
  *
  * The dot product is the native codegen'd
  * [[graft.functions.DotProduct]] expression (left-to-right fold, so
  * bit-identical to DuckDB's `list_dot_product`); the hyperplanes are
  * deterministic ±1 sign vectors seeded from `md5("t_j_k")` — a hash
  * both engines compute identically, which makes every query here
  * (including the LSH ones) reproducible by the DuckDB oracle.
  */
object Similarity {

  private val K = 3
  private val NQueries = 10
  /** Embedding dimensionality (TESTDATA.md: 64-dim float vectors). */
  private val Dim = 64

  /** Embeddings cast float→double once; norm precomputed per row.
    * The parquet is one small file → one input partition; repartition
    * so the downstream O(pairs·dim) compute (dots in the pair joins)
    * spreads across all cores instead of running serially. Cached +
    * memoized per (session, dir) via [[graft.SessionMemo]]: all four
    * similarity queries (and the 2–3 join branches inside each) reuse
    * one in-memory copy instead of re-reading and re-normalizing per
    * branch.
    *
    * r14: the repartition is HASH(vec_id) at the session's
    * parallelism, not round-robin — the embedding family probes this
    * frame by vec_id again and again (the coarse-assignment join,
    * each sub-Lloyd round's winner join-back, the celled pair sides'
    * assignment join), and the cached hash partitioning serves every
    * one of those joins without re-exchanging the corpus (guide §2.4
    * — the star-edge discipline applied to the vector corpus). The
    * count stays explicit so AQE cannot coalesce the tiny bench-scale
    * frame to one partition and serialize the dot-product compute. */
  private def labeledVectors(s: SparkSession, dir: String): DataFrame =
    graft.SessionMemo.cached(s, dir, "sim_vectors") {
      Tables.embeddings(s, dir)
        .repartition(s.sparkContext.defaultParallelism, col("vec_id"))
        .select(col("vec_id"), col("label"),
          transform(col("embedding"), x => x.cast("double")).as("v"))
        .withColumn("nrm", sqrt(dot(col("v"), col("v"))))
    }

  private[graft] def vectors(s: SparkSession, dir: String): DataFrame =
    labeledVectors(s, dir).drop("label")

  /** Native codegen'd dot product (index-order fold; see
    * [[graft.functions.DotProduct]]). */
  def dot(a: Column, b: Column): Column =
    graft.functions.DotProduct.dotProduct(a, b)

  /** Exact kNN: brute-force cosine of each query (vec_id < 10)
    * against the full corpus, top-3 per query.
    *
    * Scale shape: queries ≪ corpus → broadcast the query side and
    * stream the corpus once; the per-query top-k is a partial top-k
    * in each partition before the final window (the window input is
    * |corpus|·|queries| only logically — rank pruning happens in one
    * pass). At 100 TB one switches to [[lshAnn]] or an IVF index;
    * this operator stays the recall oracle. */
  def bruteForceTopK(s: SparkSession, dir: String): DataFrame = {
    val vs = vectors(s, dir)
    val q = vs.toDF("query_id", "qv", "qnrm").filter(col("query_id") < NQueries)
    val c = vs.toDF("neighbor_id", "cv", "cnrm")
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    c.join(broadcast(q), col("neighbor_id") =!= col("query_id"))
      .withColumn("cos", dot(col("qv"), col("cv")) / (col("qnrm") * col("cnrm")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= K)
      .select(col("query_id"), col("neighbor_id"), r4(col("cos")).as("cos"),
        col("rank"))
      .orderBy("query_id", "rank")
  }

  /** Label-aware hard-negative mining — the contrastive-training
    * counterpart of kNN: for each query vector, the top-[[K]]
    * most-similar corpus vectors carrying a DIFFERENT class label.
    * Similar-but-wrong-class is exactly what a contrastive loss needs
    * as negatives; random negatives are trivially far and teach
    * nothing, while same-label neighbors are latent positives that
    * would poison the batch. Same broadcast-query / stream-corpus
    * shape as [[bruteForceTopK]] (the query workload is bounded by
    * construction, the corpus streams once with partial top-k before
    * the final per-query window); at 100 TB the candidate stage swaps
    * for the LSH buckets exactly as [[lshAnn]] does. */
  def hardNegatives(s: SparkSession, dir: String): DataFrame = {
    val vs = labeledVectors(s, dir)
    val q = vs.toDF("query_id", "qlabel", "qv", "qnrm")
      .filter(col("query_id") < NQueries)
    val c = vs.toDF("neighbor_id", "neg_label", "cv", "cnrm")
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    // different-label already excludes the query row itself
    c.join(broadcast(q), col("neg_label") =!= col("qlabel"))
      .withColumn("cos", dot(col("qv"), col("cv")) / (col("qnrm") * col("cnrm")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= K)
      .select(col("query_id"), col("neighbor_id"), col("neg_label"),
        r4(col("cos")).as("cos"), col("rank"))
      .orderBy("query_id", "rank")
  }

  /** Deterministic ±1 hyperplane component: `+1` iff the top bit of
    * `md5("t_j_k")` is 0 (equivalently the first hex digit is '0'-'7'
    * — the form the DuckDB oracle uses). Computed driver-side once per
    * plane and shipped as a 64-double literal array: no executor
    * hashing, no broadcast state, and a hash both engines share. */
  private[graft] def signPlane(table: Int, j: Int): Array[Double] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(Dim) { k =>
      md.reset()
      val d = md.digest(s"${table}_${j}_$k".getBytes("UTF-8"))
      if ((d(0) & 0x80) == 0) 1.0 else -1.0
    }
  }

  /** `bits`-bit signature of `v` for hash table `table`: bit j is
    * `sign(v · plane(table, j))`, computed by ONE native codegen'd
    * loop expression per table ([[graft.functions.HyperplaneSig]]).
    * The earlier composed form — `bits` inlined `when(dot(v, lit) >
    * 0, …)` terms — exceeded whole-stage codegen's method limits at
    * the population-scaled width (tables·bits(n) = 112 literal dots
    * at 100× bench scale), silently dropping the WHOLE bucket stage
    * to interpreted evaluation: the r10 profile read 78 s where this
    * form runs ~2 s. Same arithmetic bit-for-bit (index-order dot
    * fold, same `> 0` test, same null-signs-to-0 algebra). */
  private def lshSig(v: Column, table: Int, bits: Int): Column =
    graft.functions.HyperplaneSig.hyperplaneSig(v,
      Array.tabulate(bits)(j => signPlane(table, j)))

  /** Skinny bucket table (vec_id, t, sig): one row per vector per
    * hash table. Downstream candidate joins carry only three longs —
    * never the vectors, which re-join broadcast for verification. */
  private def buckets(vs: DataFrame, tables: Int, bits: Int): DataFrame = {
    val sigs = (0 until tables).map(t =>
      struct(lit(t).as("t"), lshSig(col("v"), t, bits).as("sig")))
    vs.select(col("vec_id"), explode(array(sigs: _*)).as("ts"))
      .select(col("vec_id"), col("ts.t"), col("ts.sig"))
  }

  /** Target expected vectors per LSH bucket per table — the knob
    * that makes per-query candidate volume O(1) in corpus size:
    * bits-per-table DERIVE from the corpus count (below) so bucket
    * occupancy stays ≈ [[SigTargetOcc]]/2‥[[SigTargetOcc]] at any n,
    * instead of a static width whose occupancy — and with it every
    * query's re-rank cost — grows linearly with the corpus (the r9
    * headroom pair's worst grower, 3.6× at 10× data). Same
    * population-scaling discipline as [[nearDupK]] and the image
    * dedup bands. */
  private val SigTargetOcc = 32
  /** Floor on bits-per-table: tiny corpora keep ≥ 16 buckets rather
    * than collapsing toward a cross join. */
  private val SigBitsMin = 4
  /** Planes generated per table on the oracle side (j < derived bits
    * filters them) — 2^24 buckets ≈ 500M-vector corpora at target
    * occupancy; beyond that, raise it. */
  private val SigBitsMax = 24

  /** Corpus-derived bits per table: the smallest b with
    * 2^b ≥ ⌈n / [[SigTargetOcc]]⌉, floored at [[SigBitsMin]]. Pure
    * integer arithmetic (ceil-div + bit length) so the DuckDB oracle
    * derives the identical width from `COUNT(*)` via
    * `length(bin(m−1))`. */
  private[graft] def sigBitsFor(n: Long): Int = {
    val m = (n + SigTargetOcc - 1) / SigTargetOcc
    if (m <= 1L) SigBitsMin
    else math.min(SigBitsMax, math.max(SigBitsMin,
      64 - java.lang.Long.numberOfLeadingZeros(m - 1)))
  }

  /** (session, dir)-memoized corpus count — one action over the
    * cached vector frame, shared by every width/cell derivation. */
  private def corpusCount(s: SparkSession, dir: String): Long =
    graft.SessionMemo.once(s, s"sim_corpus_count:$dir")(
      vectors(s, dir).count())(_ => ())

  private val Tables_ = 8  // independent hash tables (union of candidates)

  /** Approximate kNN: multi-table random-hyperplane LSH → per-table
    * bucket equi-join → exact cosine re-rank over the union of
    * candidates. The all-pairs cross join becomes `Tables_` shuffles
    * on [[sigBitsFor]]-bit keys; more tables buy recall,
    * bits-per-table buy selectivity — and the width is
    * population-scaled, so bucket occupancy (hence per-query
    * candidate volume and re-rank cost) stays CONSTANT at any corpus
    * size instead of growing linearly with it. Recall vs
    * [[bruteForceTopK]] is asserted in the test suite, and the
    * md5-seeded planes plus the integer width derivation make the
    * whole query reproducible by the DuckDB oracle. */
  def lshAnn(s: SparkSession, dir: String): DataFrame = {
    val vs = vectors(s, dir)
    val bk = buckets(vs, Tables_, sigBitsFor(corpusCount(s, dir)))
    val q = bk.toDF("query_id", "t", "sig").filter(col("query_id") < NQueries)
    val c = bk.toDF("neighbor_id", "t", "sig")
    val cand = c.join(broadcast(q), Seq("t", "sig"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .select("query_id", "neighbor_id")
      .distinct() // union candidates across tables
    // Re-rank: the query-side vectors broadcast (a query workload is
    // dimension-sized by construction — the `< NQueries` filter is
    // pushed inside the broadcast), but the CORPUS vectors re-join
    // SHUFFLE-HASH: candidates and corpus hash-partition on
    // neighbor_id and each partition builds over its vector slice.
    // Force-broadcasting the corpus vector table is a driver OOM at
    // 100 TB; unhinted, the array column defeats Catalyst's size
    // estimate and it falls back to a sort-merge of the vectors.
    val qv = vs.toDF("query_id", "qv", "qnrm")
    val cv = vs.toDF("neighbor_id", "cv", "cnrm")
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    cand.join(broadcast(qv.filter(col("query_id") < NQueries)), Seq("query_id"))
      .join(cv.hint("shuffle_hash"), Seq("neighbor_id"))
      .withColumn("cos", dot(col("qv"), col("cv")) / (col("qnrm") * col("cnrm")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= K)
      .select(col("query_id"), col("neighbor_id"), r4(col("cos")).as("cos"),
        col("rank"))
      .orderBy("query_id", "rank")
  }

  private val NProbe = 2
  private val KCells = 8
  private val KmIters = 5

  /** (session, dir)-memoized model — an IVF index is built once and
    * queried many times; re-invoking the query must not re-run Lloyd.
    * The assignment frame is cached, the centroid literals are tiny.
    * `SessionMemo.clear(s)` drops the entry AND unpersists the
    * assignment frame, so a long-lived process that cycles sessions
    * leaks neither cached blocks nor session references. */
  private[graft] def kmeansModel(s: SparkSession, dir: String)
      : (DataFrame, Seq[(Int, Seq[Double], Double)]) =
    kmeansModelK(s, dir, KCells)

  /** Parametric-k variant of the memoized model build — the near-dup
    * candidate generator derives its cell count from the corpus size,
    * so the same deterministic Lloyd machinery must run at any k.
    * Concurrent first callers — live now that crossmodal overlaps its
    * family builds — run the Lloyd build exactly once. */
  private[graft] def kmeansModelK(s: SparkSession, dir: String, k: Int,
      iters: Int = KmIters): (DataFrame, Seq[(Int, Seq[Double], Double)]) =
    graft.SessionMemo.once(s, kmeansKey(dir, k, iters)) {
      val (assign, cents) = buildKmeansOf(vectors(s, dir), k, iters)
      (assign.cache(), cents)
    }(_._1.unpersist())

  private def kmeansKey(dir: String, k: Int, iters: Int): String =
    s"ivf_kmeans:$dir:$k:$iters"

  /** Test probe: is an IVF model memoized for (s, dir)? */
  private[graft] def kmeansMemoized(s: SparkSession, dir: String): Boolean =
    graft.SessionMemo.isBuilt(s, kmeansKey(dir, KCells, KmIters))

  /** Deterministic Lloyd k-means over the corpus vectors — the IVF
    * build step. Init is an md5-seeded random partition
    * (`md5(vec_id) mod k`); each of the [[KmIters]] rounds recomputes
    * centroids as order-independent DECIMAL elementwise means and
    * reassigns every vector to its max-cosine centroid (smallest cell
    * id on ties). Everything is replayable: the init hash, the
    * decimal means, and the index-order dot folds are computed
    * identically by DuckDB, so the oracle unrolls the same
    * iterations and lands on the same model bit-for-bit.
    *
    * Scale shape: the per-round driver sync is k × dim doubles (the
    * classic k-means-on-Spark shape — MLlib does the same); the mean
    * is one map-side-combined aggregation over (corpus × dim) rows;
    * at model-sized k the reassignment ships centroids as LITERALS
    * into a map-side argmax projection — no join, no shuffle
    * ([[assignToNearestAny]]). A fixed iteration budget, not
    * convergence detection: deterministic cost, and Lloyd improves
    * monotonically so a bounded build is the production norm. Returns
    * (final assignment (vec_id, cell), final centroids (cell, cv,
    * cnrm)). The (session, dir) form above trains on the whole corpus;
    * the index-upsert face trains on the standing BASE only. */
  private[graft] def buildKmeansOf(vs: DataFrame, k: Int, iters: Int)
      : (DataFrame, Seq[(Int, Seq[Double], Double)]) = {
    // the assignment frames CARRY (v, nrm): every per-round frame is
    // a pure map over the corpus, so the centroid aggregation reads
    // it directly — the earlier vs ⋈ assign self-join re-shuffled the
    // corpus on vec_id once per Lloyd round for data the map side
    // already had in hand
    var assign = vs.select(col("vec_id"), col("v"), col("nrm"),
      pmod(md5Hash60(col("vec_id").cast("string")), lit(k))
        .cast("int").as("cell"))
    var cents: Seq[(Int, Seq[Double], Double)] = Nil
    for (_ <- 0 until iters) {
      cents = collectCentroids(centroidMeans(assign, col("cell"), col("pos")))
        .map { case (key, cv, cnrm) => (key.head, cv, cnrm) }
      assign = assignToNearestAny(vs, cents)
    }
    (assign.select("vec_id", "cell"), cents)
  }

  /** The Lloyd centroid step of every k-means build here: the DECIMAL
    * elementwise mean ([[graft.functions.Num.davg]] — exact sums, so
    * order-independent and replayed bit-for-bit by the oracle CTEs) of
    * the vectors `v` of `assign`, grouped by `keys`. The keys are
    * evaluated over `assign` with each vector exploded into (`pos`,
    * `x`) rows, so the caller's cell keys may derive from the element
    * position `pos`; the last key is the position within the
    * centroid. One map-side-combined aggregate per round, rows
    * (keys…, cx).
    *
    * The exploded form is kept DELIBERATELY after an r14 experiment
    * went the other way. The element-wise alternative (64 per-element
    * decimal sums keyed by cell, no explode) looked like it should
    * win — 64× fewer row materializations and aggregation-hash probes
    * — but measured ~2× SLOWER at the 100× leg (ivf kmeans builds
    * 7.1 → 16.2 s, 7.2 → 11.5 s at sf10p) and ~+0.2 s/round at bench
    * scale: a 64-update aggregate blows the whole-stage-codegen method
    * budget, so the update path runs de-optimized, where the exploded
    * form is one tiny tight-codegen aggregate fed by a generate loop.
    * The explode never shuffles (partial aggregation reduces each
    * partition to ≤ cells×dim rows before the exchange), so the wide
    * stream is map-side-only work that the codegen wins back. Negative
    * result recorded in OPTIMIZATION_r14.md; revisit only with a
    * single custom vector-sum aggregate that is provably
    * decimal-bit-identical. */
  private def centroidMeans(assign: DataFrame, keys: Column*): DataFrame =
    assign.select(col("*"), posexplode(col("v")).as(Seq("pos", "x")))
      .groupBy(keys: _*)
      .agg(graft.functions.Num.davg(col("x")).as("cx"))

  /** Driver-side assembly of [[centroidMeans]] rows (cell keys…,
    * position, cx): per cell key, the means in position order and
    * their norm, folded in index order (== `list_dot_product`), sorted
    * by key. */
  private def collectCentroids(means: DataFrame)
      : Seq[(Seq[Int], Seq[Double], Double)] = {
    val nk = means.columns.length - 2
    means.collect().toSeq.groupBy(r => (0 until nk).map(r.getInt)).toSeq
      .map { case (key, rs) =>
        val cv = rs.sortBy(_.getInt(nk)).map(_.getDouble(nk + 1))
        var ss = 0.0
        cv.foreach(x => ss += x * x)
        (key, cv, math.sqrt(ss))
      }.sortBy(_._1)(Ordering.Implicits.seqOrdering)
  }

  /** Map-side nearest-centroid assignment: each centroid is a literal
    * array in a codegen'd dot; the argmax is a struct `array_max` on
    * (cos, −cell) — max cosine, then smallest cell id. One projection
    * over the corpus, no shuffle. */
  private[graft] def assignToNearest(vs: DataFrame,
      cents: Seq[(Int, Seq[Double], Double)]): DataFrame = {
    val scored = array(cents.map { case (c, cv, cnrm) =>
      struct(
        (dot(col("v"), typedlit(cv)) / (col("nrm") * lit(cnrm))).as("cos"),
        lit(-c).as("negc"))
    }: _*)
    vs.select(col("vec_id"), col("v"), col("nrm"),
      (-array_max(scored).getField("negc")).cast("int").as("cell"))
  }

  /** Join-form nearest-centroid assignment, for centroid tables too
    * large to inline: the literal form above inlines k × dim doubles
    * into generated code, which blows past codegen method limits once
    * k is corpus-derived. `pairs` holds each vector of `vs` next to
    * every centroid it may take — columns `vec_id`, `v`, `nrm`, `cv`,
    * `cnrm` and the centroid id `id`; the result is `vs` plus the
    * winning `id`. Same arithmetic as the literal form — one
    * codegen'd dot per (vector, centroid) row, argmax as a
    * partial-aggregatable `max(struct(cos, −id))` (max cosine, then
    * smallest id) — so the assignment is bit-identical to it and to
    * the oracle's `row_number` replay.
    *
    * Score SKINNY, join the winner back. The r8–r11 form rode v/nrm
    * INSIDE the max struct to skip the join back — which put the
    * whole corpus into the aggregation BUFFERS: every per-task hash
    * map held its vec_ids' full vectors, O(corpus/partitions) bytes
    * per task at the session's fixed shuffle width, and the
    * 1000×-scale probe OOMed the 8 GiB heap here (in the SECOND Lloyd
    * round — the first reads the md5 init, no reassignment). Skinny
    * (vec_id, cos, −id) buffers are 24 B fixed-width; the winner joins
    * back to the cached corpus shuffle-hash — one extra linear
    * exchange per round, the classic k-means-on-Spark trade, and the
    * memory shape survives any corpus size. */
  private def assignByJoin(vs: DataFrame, pairs: DataFrame, id: String): DataFrame = {
    val picked = pairs
      .select(col("vec_id"),
        struct((dot(col("v"), col("cv")) / (col("nrm") * col("cnrm"))).as("cos"),
          (-col(id)).as("negid")).as("sc"))
      .groupBy("vec_id").agg(max(col("sc")).as("m"))
      .select(col("vec_id"), (-col("m.negid")).cast("int").as(id))
    vs.join(picked.hint("shuffle_hash"), Seq("vec_id"))
      .select((vs.columns :+ id).map(col).toSeq: _*)
  }

  /** Literal scoring for model-sized k (fully codegen'd, zero
    * shuffle), join scoring against a broadcast centroid table above
    * that. */
  private[graft] def assignToNearestAny(vs: DataFrame,
      cents: Seq[(Int, Seq[Double], Double)]): DataFrame =
    if (cents.size <= 16) assignToNearest(vs, cents)
    else {
      val s = vs.sparkSession
      import s.implicits._
      assignByJoin(vs, vs.crossJoin(broadcast(cents.toDF("cell", "cv", "cnrm"))),
        "cell")
    }

  /** IVF approximate kNN — the other canonical ANN scale path next to
    * [[lshAnn]]: cells come from the deterministic [[kmeansModel]]
    * build (no reliance on pre-existing labels — a real corpus is
    * unlabeled), queries rank cells by centroid cosine and probe the
    * top-[[NProbe]], exact cosine runs only within probed cells.
    *
    * Scale shape: centroids are a tiny broadcast table; the probe
    * assignment is queries × cells (queries ≪ corpus, cells ≪
    * corpus); the exact search is an equi-join on the cell id — the
    * corpus is scanned once and only the probed fraction per query
    * does any dot-product work. At 100 TB the cell id becomes the
    * table's partition key and probing prunes whole partitions. */
  def ivfTopK(s: SparkSession, dir: String): DataFrame =
    ivfTopKProbes(s, dir, NProbe)

  /** [[ivfTopK]] with an explicit probe count. With `nprobe` ≥ number
    * of cells the result is EXACTLY [[bruteForceTopK]] (asserted in
    * `SimilaritySpec`) — recall degrades smoothly as probes shrink. */
  private[graft] def ivfTopKProbes(
      s: SparkSession, dir: String, nprobe: Int): DataFrame = {
    import s.implicits._
    val vs = vectors(s, dir)
    val (assign, cents) = kmeansModel(s, dir)
    val centDF = cents.toDF("cell", "cv", "cnrm")

    val q = vs.toDF("query_id", "qv", "qnrm")
      .filter(col("query_id") < NQueries)
    val wProbe = Window.partitionBy("query_id")
      .orderBy(col("ccos").desc, col("cell").asc)
    val probes = q.crossJoin(broadcast(centDF))
      .withColumn("ccos", dot(col("qv"), col("cv")) / (col("qnrm") * col("cnrm")))
      .withColumn("prank", row_number().over(wProbe))
      .filter(col("prank") <= nprobe)
      .select("query_id", "qv", "qnrm", "cell")

    // assignment is corpus-sized → shuffle-hash, never broadcast
    val members = vs.toDF("neighbor_id", "nv", "nnrm")
      .join(assign.withColumnRenamed("vec_id", "neighbor_id")
        .hint("shuffle_hash"), Seq("neighbor_id"))
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    members.join(broadcast(probes), Seq("cell"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cos", dot(col("qv"), col("nv")) / (col("qnrm") * col("nnrm")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= K)
      .select(col("query_id"), col("neighbor_id"), r4(col("cos")).as("cos"),
        col("rank"))
      .orderBy("query_id", "rank")
  }

  /** The IVF index as a PHYSICAL layout: the celled corpus written
    * once per (session, sf dir) as a parquet table PARTITIONED BY the
    * cell id — the "at 100 TB the cell id becomes the table's
    * partition key" claim ([[ivfTopK]]) made real on disk. The probe
    * query's fact scan is then partition-PRUNED to the probed cells
    * at runtime: the probe table broadcasts, Spark's dynamic partition
    * pruning injects the probed-cell subquery into the scan's
    * partition filters (plan-asserted in `PlanSpec`), and unprobed
    * cell directories never become input splits — the I/O shape that
    * makes IVF pay at scale (scan bytes ∝ probed fraction, not corpus
    * size). Results are bit-identical to [[ivfTopK]] — same model,
    * same probe ranking, same exact re-rank within probed cells — so
    * the oracle replays the identical unrolled-Lloyd SQL. */
  def ivfPrunedTopK(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val (assign, cents) = kmeansModel(s, dir)
    // one-time layout build: vector + norm per row, cell as the
    // partition key (one directory per cell). At 100 TB this is the
    // write-once index-build job; every later probe query reads only
    // its cells. SessionMemo.clear deletes the layout (like the
    // bucketed tables) so a cold bench pass repays the build.
    val path = graft.sources.SnapshotFs.layout(s, "ivf", dir) {
      vectors(s, dir).join(assign.hint("shuffle_hash"), Seq("vec_id"))
        .write.mode(org.apache.spark.sql.SaveMode.Overwrite)
        .partitionBy("cell").parquet(_)
    }
    val fact = s.read.parquet(path)
      .select(col("vec_id").as("neighbor_id"), col("v").as("nv"),
        col("nrm").as("nnrm"), col("cell"))
    val centDF = cents.toDF("cell", "cv", "cnrm")
    val q = vectors(s, dir).toDF("query_id", "qv", "qnrm")
      .filter(col("query_id") < NQueries)
    val wProbe = Window.partitionBy("query_id")
      .orderBy(col("ccos").desc, col("cell").asc)
    val probes = q.crossJoin(broadcast(centDF))
      .withColumn("ccos", dot(col("qv"), col("cv")) / (col("qnrm") * col("cnrm")))
      .withColumn("prank", row_number().over(wProbe))
      .filter(col("prank") <= NProbe)
      .select("query_id", "qv", "qnrm", "cell")
    val w = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("neighbor_id").asc)
    fact.join(broadcast(probes), Seq("cell"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cos", dot(col("qv"), col("nv")) / (col("qnrm") * col("nnrm")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= K)
      .select(col("query_id"), col("neighbor_id"), r4(col("cos")).as("cos"),
        col("rank"))
      .orderBy("query_id", "rank")
  }

  /** Cosine threshold for the radius face. Chosen away from the data:
    * the nearest observed cosine to 0.25 across both test scales is
    * > 3e-5 off (float disagreement between engines is ~1e-15), so
    * membership can never flip across engines. */
  private val RangeTau = 0.25

  /** IVF RADIUS search — the other query face a vector store serves
    * next to top-k: ALL neighbors with cosine ≥ τ, not the k best.
    * Retrieval dedup ("drop anything ≥ τ-similar to a held-out set")
    * and RAG recall filters are radius queries, and top-k cannot
    * express them (the right k varies per query and is unknown
    * upfront).
    *
    * Same probe discipline as [[ivfTopK]]: rank cells by centroid
    * cosine, probe the top-[[NProbe]], exact cosine only within
    * probed cells — so per-query work stays ∝ the probed fraction
    * while the RESULT SIZE is data-driven (each query returns however
    * many true τ-neighbors its probed cells hold). No window at all:
    * radius needs no ranking, so the plan is join → filter — cheaper
    * than the top-k face, and the output order is the deterministic
    * (query, neighbor) key, not a score rank. */
  def ivfRangeSearch(s: SparkSession, dir: String): DataFrame =
    ivfRangeSearchProbes(s, dir, NProbe)

  /** [[ivfRangeSearch]] with an explicit probe count: with `nprobe` ≥
    * number of cells the result is EXACTLY the brute-force τ-neighbor
    * set (asserted in `SimilaritySpec`) — radius recall degrades
    * smoothly as probes shrink, same contract as [[ivfTopKProbes]]. */
  private[graft] def ivfRangeSearchProbes(
      s: SparkSession, dir: String, nprobe: Int): DataFrame = {
    import s.implicits._
    val vs = vectors(s, dir)
    val (assign, cents) = kmeansModel(s, dir)
    val centDF = cents.toDF("cell", "cv", "cnrm")
    val q = vs.toDF("query_id", "qv", "qnrm")
      .filter(col("query_id") < NQueries)
    val wProbe = Window.partitionBy("query_id")
      .orderBy(col("ccos").desc, col("cell").asc)
    val probes = q.crossJoin(broadcast(centDF))
      .withColumn("ccos", dot(col("qv"), col("cv")) / (col("qnrm") * col("cnrm")))
      .withColumn("prank", row_number().over(wProbe))
      .filter(col("prank") <= nprobe)
      .select("query_id", "qv", "qnrm", "cell")
    val members = vs.toDF("neighbor_id", "nv", "nnrm")
      .join(assign.withColumnRenamed("vec_id", "neighbor_id")
        .hint("shuffle_hash"), Seq("neighbor_id"))
    members.join(broadcast(probes), Seq("cell"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("cos", dot(col("qv"), col("nv")) / (col("qnrm") * col("nnrm")))
      .filter(col("cos") >= RangeTau)
      .select(col("query_id"), col("neighbor_id"), r4(col("cos")).as("cos"))
      .orderBy("query_id", "neighbor_id")
  }

  private val UpsertMod = 7L // arriving batch: vec_id % UpsertMod == 0

  /** The standing IVF model trained on the BASE corpus only
    * (vec_id % [[UpsertMod]] ≠ 0) — the frozen index state an upsert
    * routes into. Memoized separately from the full-corpus model
    * (same Lloyd machinery via [[buildKmeansOf]]); evicted by
    * `SessionMemo.clear` like every other model. */
  private[graft] def baseKmeansModel(s: SparkSession, dir: String)
      : (DataFrame, Seq[(Int, Seq[Double], Double)]) =
    graft.SessionMemo.once(s, s"ivf_base_kmeans:$dir") {
      val (assign, cents) = buildKmeansOf(
        vectors(s, dir).filter(col("vec_id") % UpsertMod =!= 0),
        KCells, KmIters)
      (assign.cache(), cents)
    }(_._1.unpersist())

  /** IVF index UPSERT — the IVM face of the vector index, next to the
    * incremental aggregate/join/pair-index/cluster-map queries: a
    * production vector store ingests continuously and does NOT retrain
    * per batch — arriving vectors route through the FROZEN centroids
    * (one map-side argmax per vector: work ∝ |batch| · cells, the
    * corpus never rescans) and periodic rebuilds reconcile drift,
    * which [[evalIvfRecall]]'s SLA readout is there to catch. The
    * standing model trains on the base corpus only
    * ([[baseKmeansModel]] — the batch must not have influenced the
    * centroids it routes into); the declared output is the per-cell
    * occupancy ledger (n_base, n_delta, n_total), which hash-checks
    * every individual routing decision in aggregate. Oracle: the
    * base-restricted Lloyd unroll + frozen-centroid routing of the
    * batch. */
  def ivfUpsert(s: SparkSession, dir: String): DataFrame = {
    val vs = vectors(s, dir)
    val (baseAssign, cents) = baseKmeansModel(s, dir)
    val delta = vs.filter(col("vec_id") % UpsertMod === 0)
    val deltaAssign = assignToNearestAny(delta, cents).select("vec_id", "cell")
    val b = baseAssign.groupBy("cell").agg(count(lit(1)).as("n_base"))
    val d = deltaAssign.groupBy("cell").agg(count(lit(1)).as("n_delta"))
    b.join(d, Seq("cell"), "full_outer")
      .select(col("cell"),
        coalesce(col("n_base"), lit(0L)).as("n_base"),
        coalesce(col("n_delta"), lit(0L)).as("n_delta"),
        (coalesce(col("n_base"), lit(0L)) + coalesce(col("n_delta"), lit(0L)))
          .as("n_total"))
      .orderBy("cell")
  }

  private val PqM      = 4         // subspaces
  private val PqSubDim = Dim / PqM // dims per subspace (16)
  private val PqCodes  = 8         // centroids per sub-codebook
  private val PqIters  = 3         // Lloyd rounds per subspace

  /** Sub-vector `m` of `v` (0-based subspace, 1-based slice). */
  private def subVec(v: Column, m: Int): Column =
    slice(v, m * PqSubDim + 1, PqSubDim)

  /** Product-quantization model, (session, dir)-memoized like
    * [[kmeansModel]]: per subspace, a deterministic Lloyd build
    * (md5-seeded init, decimal-mean centroids, min-L2 assignment with
    * smallest-code tie-break); the final per-subspace assignments ARE
    * the codes. Returns (codes frame `(vec_id, c0..c{M−1})` cached,
    * per-subspace codebooks). Evicted by `SessionMemo.clear`. */
  private[graft] def pqModel(s: SparkSession, dir: String)
      : (DataFrame, Seq[Seq[(Int, Seq[Double])]]) =
    graft.SessionMemo.once(s, s"pq_model:$dir") {
      val (codes, books) = buildPq(s, dir)
      (codes.cache(), books)
    }(_._1.unpersist())

  private def buildPq(s: SparkSession, dir: String)
      : (DataFrame, Seq[Seq[(Int, Seq[Double])]]) = {
    val vs = vectors(s, dir)
    // All M subspaces train TOGETHER, one corpus scan per Lloyd
    // round: the assignment frame carries `v` and M cell columns, the
    // full vector explodes ONCE and each element routes to its
    // (subspace, cell, sub-position) group. Per-subspace sequential
    // loops cost M× the scans/collects for identical means (grouping
    // by subspace keeps every decimal mean bit-for-bit what the
    // per-subspace build — and the oracle's unrolled replay —
    // computes); fusing cut the model build from M·iters to iters
    // corpus passes.
    def cells(cell: Int => Column): Seq[Column] =
      col("vec_id") +: col("v") +: (0 until PqM).map(m => cell(m).as(s"cell$m"))
    var assigns = vs.select(cells(m =>
      pmod(md5Hash60(concat(col("vec_id").cast("string"), lit(s":pq$m"))),
        lit(PqCodes)).cast("int")): _*)
    val subspace = (col("pos") / PqSubDim).cast("int")
    val cellOfSubspace = element_at(
      array((0 until PqM).map(m => col(s"cell$m")): _*), subspace + 1)
    var books: Seq[Seq[(Int, Seq[Double])]] = Nil
    for (_ <- 0 until PqIters) {
      val cents = collectCentroids(centroidMeans(assigns, subspace.as("m"),
        cellOfSubspace.as("cell"), pmod(col("pos"), lit(PqSubDim)).as("spos")))
      books = (0 until PqM).map(m =>
        cents.collect { case (Seq(`m`, cell), cv, _) => (cell, cv) })
      assigns = vs.select(cells(m => l2ArgminCell(subVec(col("v"), m), books(m))): _*)
    }
    // the last round's assignment IS the codes: 4 per vector
    (assigns.select(col("vec_id") +:
      (0 until PqM).map(m => col(s"cell$m").as(s"c$m")): _*), books)
  }

  /** Min-L2 cell id: `array_min` over (distance, cell) structs — the
    * same `‖x‖² − 2·x·c + ‖c‖²` tree and (d ASC, cell ASC) tie-break
    * the oracle's `row_number` states. `‖c‖²` folds in index order
    * driver-side (= `list_dot_product`). */
  private def l2ArgminCell(sv: Column,
      cents: Seq[(Int, Seq[Double])]): Column = {
    val scored = array(cents.map { case (c, cv) =>
      var cc = 0.0
      cv.foreach(x => cc += x * x)
      struct(
        (dot(sv, sv) - lit(2.0) * dot(sv, typedlit(cv)) + lit(cc)).as("d"),
        lit(c).as("cell"))
    }: _*)
    array_min(scored).getField("cell")
  }

  private val PqShortlist = 16 // ADC candidates per query before re-rank

  /** PQ approximate kNN (ADC + exact re-rank) — the compression-side
    * member of the ANN family next to [[lshAnn]] (hashing) and
    * [[ivfTopK]] (coarse partitioning): the corpus is stored as
    * [[PqM]] small codes per vector (here 4 × 3 bits vs 64 × 8-byte
    * doubles — the memory ratio that lets a 100 TB corpus's index fit
    * in cluster RAM). Stage 1 ranks ALL codes per query by the
    * asymmetric distance `‖q − x̂‖² = ‖q‖² − 2·q·x̂ + ‖x̂‖²` against
    * the reconstruction x̂ (concatenated sub-centroids) and keeps a
    * [[PqShortlist]]-deep shortlist; stage 2 re-ranks the shortlist
    * by EXACT L2 on the raw vectors — the standard PQ-with-reranking
    * pipeline, where only shortlist-many full vectors are ever read
    * per query.
    *
    * Plan shape: stage 1's only corpus-sized input is the codes
    * table; the reconstruction is a map-side `element_at` from
    * literal codebook maps (never joined, never shuffled), `‖x̂‖²`
    * precomputes per row, and the query side broadcasts with `‖q‖²`
    * inside. Stage 2 re-joins the corpus vectors SHUFFLE-HASH (the
    * vector table is corpus-derived — the no-broadcast discipline).
    * The oracle replays the identical per-subspace Lloyd builds and
    * both ranking stages bit-for-bit. */
  def pqTopK(s: SparkSession, dir: String): DataFrame = {
    val (codes, books) = pqModel(s, dir)
    val bookLits = books.map(cb => typedlit(cb.toMap))
    val xhat = concat((0 until PqM).map(m =>
      element_at(bookLits(m), col(s"c$m"))): _*)
    val corpus = codes
      .select(col("vec_id").as("neighbor_id"), xhat.as("xhat"))
      .withColumn("xx", dot(col("xhat"), col("xhat")))
    val q = vectors(s, dir).toDF("query_id", "qv", "qnrm")
      .filter(col("query_id") < NQueries)
      .withColumn("qq", dot(col("qv"), col("qv")))
      .drop("qnrm")
    val wEst = Window.partitionBy("query_id")
      .orderBy(col("d2_est").asc, col("neighbor_id").asc)
    val shortlist = corpus
      .join(broadcast(q), col("neighbor_id") =!= col("query_id"))
      .withColumn("d2_est",
        col("qq") - lit(2.0) * dot(col("qv"), col("xhat")) + col("xx"))
      .withColumn("prank", row_number().over(wEst))
      .filter(col("prank") <= PqShortlist)
      .select("query_id", "neighbor_id")
    val cv = vectors(s, dir).toDF("neighbor_id", "cv", "cnrm")
    val w = Window.partitionBy("query_id")
      .orderBy(col("d2").asc, col("neighbor_id").asc)
    shortlist
      .join(broadcast(q), Seq("query_id"))
      .join(cv.hint("shuffle_hash"), Seq("neighbor_id"))
      .withColumn("d2",
        col("qq") - lit(2.0) * dot(col("qv"), col("cv")) +
          dot(col("cv"), col("cv")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= K)
      .select(col("query_id"), col("neighbor_id"), r4(col("d2")).as("d2"),
        col("rank"))
      .orderBy("query_id", "rank")
  }

  /** IVF-PQ: the production composition of the ANN family — coarse
    * k-means routing bounds WHICH codes each query scores
    * ([[ivfTopK]]'s [[NProbe]]-cell probe), PQ codes bound WHAT is
    * read per candidate (ADC against 4 small codes, no raw vectors),
    * and the exact re-rank restores precision on the shortlist. At
    * 100 TB this is the FAISS IVFADC layout: per query only
    * ~corpus/cells × nprobe codes are scored and only
    * [[PqShortlist]] raw vectors are ever fetched.
    *
    * Plan shape: the two corpus-sized tables (codes, cell
    * assignment) join SHUFFLE-HASH on vec_id; probes (query ×
    * nprobe cells) broadcast into the member scan; the exact re-rank
    * re-joins the raw vectors shuffle-hash — same discipline as both
    * parents. The oracle composes the two unrolled Lloyd builds
    * (coarse cells + sub-codebooks) and replays routing, ADC, and
    * re-rank bit-for-bit. */
  def ivfpqTopK(s: SparkSession, dir: String): DataFrame =
    ivfpqTopKProbes(s, dir, NProbe)

  /** [[ivfpqTopK]] with an explicit probe count. With `nprobe` ≥
    * number of cells routing prunes nothing, so the result is EXACTLY
    * [[pqTopK]] (asserted in `SimilaritySpec`). */
  private[graft] def ivfpqTopKProbes(
      s: SparkSession, dir: String, nprobe: Int): DataFrame = {
    import s.implicits._
    val vs = vectors(s, dir)
    val (assign, cents) = kmeansModel(s, dir)
    val (codes, books) = pqModel(s, dir)
    val centDF = cents.toDF("cell", "cv", "cnrm")

    val q = vs.toDF("query_id", "qv", "qnrm")
      .filter(col("query_id") < NQueries)
      .withColumn("qq", dot(col("qv"), col("qv")))
    val wProbe = Window.partitionBy("query_id")
      .orderBy(col("ccos").desc, col("cell").asc)
    val probes = q.crossJoin(broadcast(centDF))
      .withColumn("ccos", dot(col("qv"), col("cv")) / (col("qnrm") * col("cnrm")))
      .withColumn("prank", row_number().over(wProbe))
      .filter(col("prank") <= nprobe)
      .select("query_id", "qv", "qq", "cell")

    val bookLits = books.map(cb => typedlit(cb.toMap))
    val xhat = concat((0 until PqM).map(m =>
      element_at(bookLits(m), col(s"c$m"))): _*)
    // codes ⋈ cell assignment: both corpus-sized → shuffle-hash
    val corpus = codes
      .select(col("vec_id").as("neighbor_id"), xhat.as("xhat"))
      .withColumn("xx", dot(col("xhat"), col("xhat")))
      .join(assign.withColumnRenamed("vec_id", "neighbor_id")
        .hint("shuffle_hash"), Seq("neighbor_id"))

    val wEst = Window.partitionBy("query_id")
      .orderBy(col("d2_est").asc, col("neighbor_id").asc)
    val shortlist = corpus.join(broadcast(probes), Seq("cell"))
      .filter(col("neighbor_id") =!= col("query_id"))
      .withColumn("d2_est",
        col("qq") - lit(2.0) * dot(col("qv"), col("xhat")) + col("xx"))
      .withColumn("prank", row_number().over(wEst))
      .filter(col("prank") <= PqShortlist)
      .select("query_id", "neighbor_id")

    val cv = vs.toDF("neighbor_id", "rv", "rnrm")
    val w = Window.partitionBy("query_id")
      .orderBy(col("d2").asc, col("neighbor_id").asc)
    shortlist
      .join(broadcast(q.select("query_id", "qv", "qq")), Seq("query_id"))
      .join(cv.hint("shuffle_hash"), Seq("neighbor_id"))
      .withColumn("d2",
        col("qq") - lit(2.0) * dot(col("qv"), col("rv")) +
          dot(col("rv"), col("rv")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= K)
      .select(col("query_id"), col("neighbor_id"), r4(col("d2")).as("d2"),
        col("rank"))
      .orderBy("query_id", "rank")
  }

  private val NearDupCos = 0.45
  /** Target expected vectors per k-means cell — the knob that makes
    * candidate volume LINEAR in corpus size (cells scale with n). */
  private val NearTargetOcc = 64
  /** Cells each vector lands in (top-[[NearProbe]] nearest cells by
    * sub-centroid cosine) — boundary pairs split across cells still
    * meet in a shared lower-choice cell. The recall knob: measured at
    * bench scale, 4 probes recall 0.81 of the all-pairs truth vs 0.69
    * at 3 (and vs 0.72 for the r8 flat model) for ~1.5× candidate
    * volume — still ~NearProbe²·occ/2 per item, linear in corpus
    * size. */
  private val NearProbe = 4
  /** Coarse cells each vector consults when ranking sub-centroids for
    * its [[NearProbe]] cell probes — boundary vectors near a coarse
    * frontier still see the neighboring coarse cell's sub-space. */
  private val CoarseProbe = 2

  /** Corpus-derived cell count: n / [[NearTargetOcc]] (ceil), floored
    * at [[KCells]]. Pure integer arithmetic so the DuckDB oracle
    * derives the identical k from `COUNT(*)`. */
  private[graft] def nearDupK(n: Long): Int =
    math.max(KCells, ((n + NearTargetOcc - 1) / NearTargetOcc).toInt)

  /** Coarse cell count of the two-level model: ⌈√k⌉. IEEE-754 `sqrt`
    * is correctly rounded by the standard (unlike log/exp), so
    * `ceil(sqrt(k))` over an exact integer is bit-identical on the
    * JVM and in DuckDB — the oracle derives the same k1. */
  private[graft] def nearDupCoarseK(k: Int): Int =
    math.max(1, math.ceil(math.sqrt(k.toDouble)).toInt)

  /** Sub-cells per coarse cell: ⌈k / k1⌉ — total cells k1·k2 ≥ k keep
    * the fixed-occupancy (and with it the linear-candidate) design. */
  private[graft] def nearDupSubK(k: Int, k1: Int): Int = (k + k1 - 1) / k1

  /** Lloyd rounds for the near-dup model's COARSE level — fewer than
    * the IVF index's [[KmIters]]: candidates are exact-cosine-verified
    * afterwards, so the cells only need to be ROUGH neighborhoods, and
    * each round is a serial driver-synced job (the classic
    * k-means-on-Spark shape — round count is the latency knob, not a
    * recall cliff). */
  private val NearKmIters = 3

  /** Lloyd rounds for the SUB level — fewer still: each sub round is
    * a 4-shuffle chain (explode→mean→assemble→reassign) inside the
    * one-job build, and the sub cells sit UNDER already-converged
    * coarse neighborhoods, so the second refinement buys recall the
    * [[CoarseProbe]]×[[NearProbe]] probing already covers (recall vs
    * the all-pairs scan stays spec-asserted). */
  private val SubKmIters = 2

  /** Embedding-cosine near-duplicate pairs, k-means-bucketed
    * (SemDeDup-style, Abbas et al. 2023: cluster the embedding space,
    * compare within clusters): candidates are same-cell pairs under
    * the corpus-scaled TWO-LEVEL deterministic Lloyd model
    * ([[nearDupModel]]: ⌈√k⌉ coarse cells route into k2 sub-cells
    * each, k1·k2 ≥ k = n / [[NearTargetOcc]] total cells) with each
    * vector probing its top-[[NearProbe]] cells, then exact cosine ≥
    * [[NearDupCos]] verifies candidates only.
    *
    * Why not hyperplane LSH (the first-cut design): at a LOW
    * threshold like 0.45 the LSH exponent ρ = ln(1/p₁)/ln(1/p₂) ≈ 0.6,
    * so holding recall fixed costs ~n^1.6 total candidate work — the
    * measured 5.1× time growth for 10× data was that exponent showing
    * up, and no (bits, tables) choice removes it. Cells sized to a
    * FIXED occupancy give ~n·[[NearTargetOcc]]·[[NearProbe]]²/2
    * candidates — linear by construction at any corpus size
    * (`SimilaritySpec` bounds measured candidate growth against
    * corpus growth) — and per-cell comparison is what production
    * semantic-dedup pipelines actually run. Why two-level rather than
    * one flat k = n/64 model: a flat corpus-scaled k makes the Lloyd
    * build's centroid collect, the driver-held model, and the
    * assignment broadcast all O(n) and the assignment itself
    * Θ(n²/64) — the model becomes the 100 TB bottleneck even though
    * the CANDIDATES are linear. The hierarchy keeps driver state at
    * O(√k) and assignment work at O(n·√k), with the corpus-scaled
    * sub-centroid table living as a cached DataFrame joined
    * shuffle-hash. Recall comes from the learned cells following the
    * data distribution (vs LSH's data-oblivious planes) plus the
    * [[CoarseProbe]]×[[NearProbe]] probing for boundary pairs; it is
    * asserted against the all-pairs scan in `SimilaritySpec`. The
    * md5-seeded two-level Lloyd build is replayed bit-for-bit by the
    * DuckDB oracle (same discipline as `sim_topk_ivf`), so this stays
    * hash-checked, not rows-only. */
  def embeddingNearDups(s: SparkSession, dir: String): DataFrame =
    verifiedNearDupPairs(s, dir).orderBy("vec_a", "vec_b")

  /** Verified near-dup pairs, session-memoized (S5): the pair query
    * and [[embeddingClusters]] share one materialization of the
    * candidate-generate-and-verify pipeline. `PlanSpec` asserts the
    * join shapes on [[buildNearDupPairs]] — the exact builder that
    * fills this cache. */
  private def verifiedNearDupPairs(s: SparkSession, dir: String): DataFrame =
    graft.SessionMemo.cached(s, dir, "embedding_neardup_pairs") {
      buildNearDupPairs(s, dir)
    }

  /** Two-level near-dup routing model. DRIVER state is the coarse
    * level only: [[nearDupCoarseK]] = ⌈√k⌉ centroid rows (√-bounded
    * in corpus size — spec-asserted in `SimilaritySpec`). The
    * corpus-scaled level — k1·k2 ≥ k = n/[[NearTargetOcc]]
    * sub-centroids — lives in `subCents`, a cached DataFrame that is
    * only ever joined SHUFFLE-HASH on its coarse key: never collected,
    * never broadcast. This replaces the r8 flat model whose k = n/64
    * made the per-round centroid collect, the driver-held Seq, AND the
    * assignment broadcast all O(n), with Θ(n²/64) assignment dots on
    * top (the crossJoin against all k centroids); the two-level build
    * does n·k1 coarse dots plus n·k2 sub dots per round — O(n·√k). */
  private[graft] case class NearDupModel(k: Int, k1: Int, k2: Int,
      coarse: Seq[(Int, Seq[Double], Double)], subCents: DataFrame)

  /** Build (or reuse — S5 memo) the two-level model.
    *
    * Coarse level: the existing deterministic Lloyd ([[kmeansModelK]],
    * k1 cells, bounded collect). Sub level: within each coarse cell,
    * [[SubKmIters]] Lloyd rounds over k2 sub-cells expressed as ONE
    * declarative plan — the init is `md5(vec_id ∥ ":sub") mod k2`,
    * each round recomputes (coarse, sub) decimal elementwise-mean
    * centroids with a map-side-combined aggregation and reassigns by
    * an EQUI-join on the coarse key (shuffle-hash; each vector scores
    * only its own coarse cell's k2 sub-centroids through a skinny
    * (cos, −sub) argmax, then joins the winning sub id back to the
    * cached corpus shuffle-hash — r12's fixed-width discipline). No
    * driver sync anywhere in the sub build: the rounds materialize
    * lazily in one job when `subCents` first caches. Every arithmetic
    * step (md5 init, DECIMAL means, index-order dot folds, cosine-desc
    * sub-asc argmax) is replayed bit-for-bit by the DuckDB oracle. */
  private[graft] def nearDupModel(s: SparkSession, dir: String): NearDupModel =
    graft.SessionMemo.once(s, s"neardup_model:$dir") {
      val vs = vectors(s, dir)
      // the count is one action over the cached vector frame; k/k1/k2
      // derive from it deterministically, replayed by the oracle from
      // COUNT(*)
      val k = nearDupK(vs.count())
      val k1 = nearDupCoarseK(k)
      val k2 = nearDupSubK(k, k1)
      val (coarseAssign, coarseCents) = kmeansModelK(s, dir, k1, NearKmIters)
      // corpus-keyed coarse map: shuffle-hash, never broadcast
      val withCoarse = vs.join(
        coarseAssign.withColumnRenamed("cell", "coarse").hint("shuffle_hash"),
        Seq("vec_id"))
      var cur = withCoarse.withColumn("sub",
        pmod(md5Hash60(concat(col("vec_id").cast("string"), lit(":sub"))),
          lit(k2)).cast("int"))
      var scn: DataFrame = null
      for (i <- 0 until SubKmIters) {
        scn = subCentroids(cur)
        // the probes use the final CENTROIDS; the trailing assignment
        // they would induce is never consumed — skip it
        if (i < SubKmIters - 1) {
          val vsc = cur.select("vec_id", "v", "nrm", "coarse")
          cur = assignByJoin(vsc, vsc.join(scn.hint("shuffle_hash"), Seq("coarse")), "sub")
        }
      }
      NearDupModel(k, k1, k2, coarseCents, scn.cache())
    }(_.subCents.unpersist())

  /** (coarse, sub) centroids of the current sub assignment: the
    * shared [[centroidMeans]] step, then each cell's mean vector
    * reassembled DISTRIBUTED with a deterministic pos-ordered sort
    * (`list(cx ORDER BY pos)` on the oracle side), so the sub build
    * never syncs with the driver. */
  private def subCentroids(cur: DataFrame): DataFrame =
    centroidMeans(cur, col("coarse"), col("sub"), col("pos"))
      .groupBy("coarse", "sub")
      .agg(transform(array_sort(collect_list(struct(col("pos"), col("cx")))),
        p => p.getField("cx")).as("cv"))
      .withColumn("cnrm", sqrt(dot(col("cv"), col("cv"))))

  /** Top-[[NearProbe]] cell assignment per vector under the two-level
    * model: rank the √k coarse centroids (broadcast — the one bounded
    * model-sized table), keep the top [[CoarseProbe]]; then rank the
    * probed coarse cells' sub-centroids (shuffle-hash equi-join on the
    * coarse key) and keep the top [[NearProbe]] by (cosine DESC,
    * cell ASC), cell = coarse·k2 + sub. Scoring is skinny — (vec_id,
    * cell, cos) triples through the vec_id-partitioned rank — and the
    * final pivot groupBy reuses the rank window's hash partitioning
    * (no second exchange). Returns (vec_id, c1..c[[NearProbe]]). */
  private[graft] def nearDupAssignments(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    val m = nearDupModel(s, dir)
    val vs = vectors(s, dir)
    val centDF = broadcast(m.coarse.toDF("coarse", "ccv", "ccnrm"))
    val wc = Window.partitionBy("vec_id")
      .orderBy(col("ccos").desc, col("coarse").asc)
    val probes = vs.crossJoin(centDF)
      .select(col("vec_id"), col("coarse"),
        (dot(col("v"), col("ccv")) / (col("nrm") * col("ccnrm"))).as("ccos"))
      .withColumn("cr", row_number().over(wc))
      .filter(col("cr") <= CoarseProbe)
      .select("vec_id", "coarse")
    val w = Window.partitionBy("vec_id")
      .orderBy(col("scos").desc, col("cell").asc)
    vs.join(probes.hint("shuffle_hash"), Seq("vec_id"))
      .join(m.subCents.hint("shuffle_hash"), Seq("coarse"))
      .select(col("vec_id"),
        (col("coarse").cast("long") * m.k2 + col("sub")).as("cell"),
        (dot(col("v"), col("cv")) / (col("nrm") * col("cnrm"))).as("scos"))
      .withColumn("ar", row_number().over(w))
      .filter(col("ar") <= NearProbe)
      .groupBy("vec_id")
      .agg(min(when(col("ar") === 1, col("cell"))).as("c1"),
        (2 to NearProbe).map(i =>
          min(when(col("ar") === i, col("cell"))).as(s"c$i")): _*)
  }

  /** The pair join's exactly-once predicate: some shared cell SMALLER
    * than the joined one exists ⇔ this is not the pair's first
    * collision. Lower-probe cells may be null when a cell empties out
    * of the model — the caller coalesces the disjunction to false. */
  private def commonCellBelow(a: DataFrame, b: DataFrame)
      : org.apache.spark.sql.Column =
    (1 to NearProbe).map { i =>
      col(s"a$i") < a("cell") &&
        (1 to NearProbe).map(j => col(s"a$i") === col(s"b$j")).reduce(_ || _)
    }.reduce(_ || _)

  /** One pair-generating exchange, zero pair-stream exchanges: each
    * vector carries its top-[[NearProbe]] cells, explodes into that
    * many (cell, vector) rows, and the cell equi-join runs
    * SHUFFLE-HASH (the bucket table
    * is the corpus itself — broadcast is a driver OOM at 100 TB, and
    * unhinted Catalyst would sort-merge the array-carrying side).
    * Cosine verifies INSIDE the join condition, cheap conjuncts first
    * (see Dedup.ppPairsInline), so only real near-dup rows survive
    * the join — the pair stream never leaves the mapper. Exactly-once
    * emission without a pair `.distinct()`: a pair sharing several
    * cells would surface once per shared cell, so it is kept only in
    * the SMALLEST shared cell — pure map-side comparisons on the
    * 2·[[NearProbe]] cell ids riding the join rows. */
  private[graft] def buildNearDupPairs(s: SparkSession, dir: String): DataFrame = {
    val (a, b, cos) = celledPairSides(s, dir)
    a.join(b,
        a("cell") === b("cell") && col("vec_a") < col("vec_b") &&
          !coalesce(commonCellBelow(a, b), lit(false)) &&
          cos >= lit(NearDupCos))
      .withColumn("cos", cos)
      .select(col("vec_a"), col("vec_b"), r4(col("cos")).as("cos"))
  }

  /** The two sides of the exactly-once celled pair join plus the
    * exact-cosine column, shared by the thresholded near-dup face
    * ([[buildNearDupPairs]]) and the top-k face ([[knnGraph]]) —
    * identical candidate stream, different acceptance rule. */
  private def celledPairSides(s: SparkSession, dir: String)
      : (DataFrame, DataFrame, org.apache.spark.sql.Column) = {
    val vs = vectors(s, dir)
    val asg = nearDupAssignments(s, dir)
    val cs = (1 to NearProbe).map(i => col(s"c$i"))
    val bk = vs.join(asg.hint("shuffle_hash"), Seq("vec_id"))
      .select(Seq(col("vec_id"), col("v"), col("nrm")) ++ cs :+
        explode(array(cs: _*)).as("cell"): _*)
      .filter(col("cell").isNotNull)
    // Population-scaled partitioning (the Dedup.arrayJoinPartitions
    // discipline): the build side holds n·[[NearProbe]] rows EACH
    // CARRYING the full vector, so at the session's fixed shuffle
    // width the per-task hash relation grows linearly with the corpus
    // — the 1000×-scale probe OOMed the whole embedding family here
    // (the sixth fixed-width instance). Both sides repartition to the
    // derived count on the join key: same HashPartitioning, so the
    // join adds no further exchange, and the explicit count is exempt
    // from AQE coalescing. The sizing action is one count over the
    // memoized vector frame. Pricing is honest, not optimistic: v is
    // DOUBLE[] here (8 B/element exact, cast on ingest), and each
    // build row also carries [[NearProbe]] probe-cell longs beyond
    // the 48 B base — the first sizing priced only the elements, left
    // per-partition builds crossing the 32 MB page-doubling threshold,
    // and 32 concurrent 64 MB page requests met a storage-squeezed
    // execution pool at 1000× scale ("Can't acquire … to build hash
    // relation"). Underpricing costs a failed stage; overpricing
    // costs a few extra partitions. The 2× factor halves the
    // per-partition target so builds stay BELOW the 32 MB
    // page-doubling threshold: an SHJ build just over it requests a
    // 64 MB page, and 32 concurrent 64 MB requests are exactly what
    // failed.
    val n = vs.count()
    val rows = n * NearProbe
    val nParts = graft.ext.Dedup.arrayJoinPartitions(
      rows, rows * 2L * (Dim + 2L * NearProbe),
      s.sparkContext.defaultParallelism)
    val a = bk.toDF(Seq("vec_a", "va", "na") ++
      (1 to NearProbe).map(i => s"a$i") :+ "cell": _*)
      .repartition(nParts, col("cell"))
    val b = bk.toDF(Seq("vec_b", "vb", "nb") ++
      (1 to NearProbe).map(i => s"b$i") :+ "cell": _*)
      .repartition(nParts, col("cell")).hint("shuffle_hash")
    (a, b, dot(col("va"), col("vb")) / (col("na") * col("nb")))
  }

  private val KnnK = 5

  /** Approximate k-NN GRAPH construction — every corpus vector's
    * top-[[KnnK]] neighbors among its two-level-cell mates, emitted as
    * an edge list: the input structure graph-based curation actually
    * consumes (NN-descent refinement, graph-connectivity semantic
    * dedup, hubness diagnostics, HNSW-style index bootstraps all start
    * from exactly this). The per-QUERY top-k faces (`sim_topk_*`)
    * broadcast a bounded query set; a graph build cannot — every
    * vector is a query — so it rides the near-dup family's machinery
    * instead: the exactly-once celled candidate join
    * ([[celledPairSides]] — per-vector candidates ~constant under the
    * population-scaled two-level model, spec-bounded), both
    * orientations of each unordered candidate pair, then a
    * vec_id-partitioned top-k window. O(n · occupancy) candidate work
    * and O(n · k) output at any corpus size — never the n² of a
    * brute-force graph build; isolated vectors (no cell mates) emit no
    * edges, exactly the sparsity a downstream CC/refinement pass
    * expects. Oracle: the shared two-level replay's candidate set,
    * symmetrized and ranked identically. */
  def knnGraph(s: SparkSession, dir: String): DataFrame =
    knnEdges(s, dir).orderBy("vec_id", "rank")

  /** The k-NN edge list, session-memoized (S5): the graph query and
    * the mutual-kNN cluster query share one materialization of the
    * candidate-generate-and-rank pipeline. */
  private def knnEdges(s: SparkSession, dir: String): DataFrame =
    graft.SessionMemo.cached(s, dir, "knn_graph")(buildKnnEdges(s, dir))

  /** The k-NN edge builder itself — the exact pipeline that fills the
    * `knn_graph` memo, exposed checkpoint-free for `PlanSpec` (r13
    * verdict: the memoized query's committed plan showed only the
    * cache scan, so the top-k aggregate's plan shape was evidence-
    * free — same device as [[Dedup.pagerankRoundForAudit]] and the
    * embedding pair builder). */
  private[graft] def buildKnnEdges(s: SparkSession, dir: String): DataFrame = {
      val (a, b, cos) = celledPairSides(s, dir)
      val pairs = a.join(b,
          a("cell") === b("cell") && col("vec_a") < col("vec_b") &&
            !coalesce(commonCellBelow(a, b), lit(false)))
        .select(col("vec_a"), col("vec_b"), cos.as("cos"))
      val sym = pairs
        .select(col("vec_a").as("vec_id"), col("vec_b").as("neighbor_id"),
          col("cos"))
        .unionByName(pairs.select(col("vec_b").as("vec_id"),
          col("vec_a").as("neighbor_id"), col("cos")))
      // Per-vector top-k as a BOUNDED AGGREGATE, not a window: the
      // r12 window form shuffled the ENTIRE symmetric candidate
      // stream (2 rows per celled pair — n·occupancy·probe² rows) to
      // sort each vec_id's partition, while the aggregate's map-side
      // partial merge caps the exchange at KnnK entries per (vec, map
      // partition). (cos DESC, neighbor ASC) is a total order over
      // distinct neighbors, so the selected set and its emitted order
      // are bit-identical to the window's row_number (the
      // ExpressionsSpec equivalence test pins this). cos stays RAW
      // through the ordering (the window ordered raw doubles too);
      // r4 applies on output only.
      val top = graft.functions.TopKByScore.topKByScore(
        col("cos"), col("neighbor_id"), KnnK)
      sym.groupBy("vec_id").agg(top.as("tk"))
        .select(col("vec_id"), posexplode(col("tk")).as(Seq("pos", "t")))
        .select(col("vec_id"), col("t.id").as("neighbor_id"),
          r4(col("t.score")).as("cos"), (col("pos") + 1).cast("long").as("rank"))
    }

  /** Mutual-kNN clustering — the density-based grouping the k-NN
    * graph exists to feed: keep an edge only where BOTH endpoints
    * rank each other in their top-[[KnnK]] (the classic mutual-kNN
    * sparsifier — a hub vector near many clusters ranks them all, but
    * they don't rank it back, so hubs stop gluing unrelated clusters
    * the way raw kNN edges do), then connected components over the
    * mutual edges. Rides the memoized edge list and the shared
    * edge-level CC fixpoint (`Dedup.clustersFromHashGraph` with the
    * identity id→node map — the graph is already at the id level);
    * the mutuality check is one self-semi-join on the O(n·k) edge
    * list. Output (vec_id, cluster_rep, cluster_size) for every
    * vector, singletons included. Oracle: the k-NN replay
    * (`sim_knn_graph`) closed under mutuality + recursive
    * reachability. */
  def knnClusters(s: SparkSession, dir: String): DataFrame =
    Dedup.clusterMap(s, dir, "knn_clusters") {
      val e = knnEdges(s, dir).select("vec_id", "neighbor_id")
      val mutual = e.toDF("a", "b")
        .join(e.toDF("b", "a").hint("shuffle_hash"), Seq("a", "b"), "left_semi")
      val pairs = mutual.filter(col("a") < col("b"))
        .select(col("a").as("h_a"), col("b").as("h_b"))
      val ids = vectors(s, dir)
        .select(col("vec_id"), col("vec_id").as("hash"))
      Dedup.clustersFromHashGraph(ids, pairs, "vec_id")
    }

  /** Candidate volume probe for `SimilaritySpec`'s linearity bound:
    * the same exactly-once celled pair stream WITHOUT the cosine
    * verify — the raw work the candidate generator creates. */
  private[graft] def nearDupCandidateCount(s: SparkSession, dir: String): Long = {
    val asg = nearDupAssignments(s, dir)
    val cs = (1 to NearProbe).map(i => col(s"c$i"))
    val bk = asg.select(col("vec_id") +: cs :+
        explode(array(cs: _*)).as("cell"): _*)
      .filter(col("cell").isNotNull)
    val a = bk.toDF("vec_a" +: (1 to NearProbe).map(i => s"a$i") :+ "cell": _*)
    val b = bk.toDF("vec_b" +: (1 to NearProbe).map(i => s"b$i") :+ "cell": _*)
      .hint("shuffle_hash")
    a.join(b,
        a("cell") === b("cell") && col("vec_a") < col("vec_b") &&
          !coalesce(commonCellBelow(a, b), lit(false)))
      .count()
  }

  /** Embedding near-dup CLUSTERS — the linear-output form of
    * [[embeddingNearDups]], mirroring `dedup_clusters` on the text
    * side: connected components over the VERIFIED pair graph via the
    * shared star-contraction fixpoint, emitting (vec_id, cluster_rep,
    * cluster_size) for every vector (singletons included via the
    * universe id frame).
    *
    * Components run over verified pairs, not raw k-means cells: a
    * cell holds ~[[NearTargetOcc]] vectors that are merely NEAR each
    * other, so the raw cell graph would glue every cell into one
    * component — the cosine-verified edges are the semantically
    * meaningful graph. The edge list is the pair query's output
    * (bounded by real near-dup density); the component output is one
    * row per vector.
    *
    * r13: the fixpoint runs DIRECTLY on the (long, long) verified
    * pair edges via `clustersFromHashGraph` with the identity id map
    * — the graph is already at the id level, exactly [[knnClusters]]'
    * shape. The old route re-encoded each pair as a ~25-byte
    * "a,b" STRING bucket (2 membership rows per pair) plus one
    * "self:id" string bucket PER VECTOR, then contracted that — the
    * bucket build alone shuffled ~n corpus-sized string rows where
    * the edge fixpoint only ever needs the O(near-dup density) long
    * pairs. Reachability (hence the cluster map) is identical:
    * same-pair buckets connect exactly their two endpoints, self
    * buckets connect nothing. */
  def embeddingClusters(s: SparkSession, dir: String): DataFrame =
    // memoized like the text-side cluster map: the CC fixpoint must
    // not re-run per invocation (Curation-style consumers re-read it)
    Dedup.clusterMap(s, dir, "embedding_clusters") {
      val pairs = verifiedNearDupPairs(s, dir)
        .select(col("vec_a").as("h_a"), col("vec_b").as("h_b"))
      val ids = vectors(s, dir)
        .select(col("vec_id"), col("vec_id").as("hash"))
      Dedup.clustersFromHashGraph(ids, pairs, "vec_id")
    }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023,
    * arXiv:2303.09540): within each embedding near-dup CLUSTER keep
    * exactly one document — here the longest (`n_chars` DESC, doc_id
    * tie-break), the "best exemplar" policy a pretraining pipeline
    * applies after clustering semantically redundant docs. This is
    * the cross-modal member of the dedup family: the cluster map
    * comes from the EMBEDDING space ([[embeddingClusters]], shared
    * memo — built once per session) and the keep criterion from the
    * DOCUMENT table, joined on the aligned id space.
    *
    * Plan shape: the corpus-keyed doc-stats side joins SHUFFLE-HASH
    * (never broadcast); the per-cluster argmax is a cluster_rep-
    * partitioned `row_number` — cluster sizes are bounded by real
    * near-dup density, so no task ranks more than its share (for
    * pathological mega-clusters the salted two-phase top-1 of
    * `sample_stratified` is the swap-in). Output is one row per
    * cluster — the deduplicated corpus manifest. */
  def semanticKeep(s: SparkSession, dir: String): DataFrame = {
    val cl = embeddingClusters(s, dir)
    val docs = Tables.documents(s, dir).select(col("doc_id"), col("n_chars"))
    val w = Window.partitionBy("cluster_rep")
      .orderBy(col("n_chars").desc, col("doc_id").asc)
    cl.join(docs.hint("shuffle_hash"), cl("vec_id") === docs("doc_id"))
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") === 1)
      .select(col("cluster_rep"), col("doc_id").as("kept_doc"),
        col("cluster_size"), col("n_chars"))
      .orderBy("cluster_rep")
  }

  /** Exact all-pairs near-dup scan — the recall oracle for
    * [[embeddingNearDups]], used only by `SimilaritySpec` (O(n²);
    * deliberately NOT a declared query). */
  private[graft] def embeddingNearDupsAllPairs(
      s: SparkSession, dir: String): DataFrame = {
    val vs = vectors(s, dir)
    val a = vs.toDF("vec_a", "va", "na")
    val b = vs.toDF("vec_b", "vb", "nb")
    b.join(broadcast(a), col("vec_a") < col("vec_b"))
      .withColumn("cos", dot(col("va"), col("vb")) / (col("na") * col("nb")))
      .filter(col("cos") >= NearDupCos)
      .select(col("vec_a"), col("vec_b"), r4(col("cos")).as("cos"))
      .orderBy("vec_a", "vec_b")
  }

  /** ANN quality evaluation — recall@[[K]] of the LSH index against
    * the exact brute-force baseline, per query: the SLA number every
    * production vector store monitors continuously on a sampled query
    * set (an index whose recall silently decays under drift is the
    * characteristic ANN failure mode; this is the harness that
    * catches it). Composes two declared pipelines — [[lshAnn]] and
    * [[bruteForceTopK]] — and scores their overlap; the eval set is
    * bounded by construction (sampled queries × k), so the join and
    * aggregate are trivially small at any corpus size: the COST lives
    * in the two retrieval pipelines, which carry their own scale
    * shapes. The oracle replays both pipelines in one CTE chain. */
  def evalAnnRecall(s: SparkSession, dir: String): DataFrame =
    evalRecallOf(bruteForceTopK(s, dir), lshAnn(s, dir))

  /** The IVF index's recall@k SLA readout — [[evalAnnRecall]]'s twin
    * for the OTHER production index ([[ivfTopK]]): a vector store
    * running IVF monitors exactly this number for silent recall decay
    * under data drift (cell means drift away from the corpus the
    * probes were tuned on). Composes two declared pipelines; the eval
    * set is bounded by construction. */
  def evalIvfRecall(s: SparkSession, dir: String): DataFrame =
    evalRecallOf(bruteForceTopK(s, dir), ivfTopK(s, dir))

  /** recall@k of `approx` against the `exact` baseline, per query. */
  private def evalRecallOf(exactDf: DataFrame, approxDf: DataFrame): DataFrame = {
    val exact = exactDf.select("query_id", "neighbor_id")
    val approx = approxDf
      .select(col("query_id").as("aq"), col("neighbor_id").as("an"))
    exact.join(approx,
        col("query_id") === col("aq") && col("neighbor_id") === col("an"),
        "left")
      .groupBy("query_id")
      .agg(count(lit(1)).as("n_exact"), count(col("an")).as("n_hit"))
      .withColumn("recall", r4(col("n_hit") / col("n_exact")))
      .orderBy("query_id")
  }

  /** Projected dimensionality for [[randomProjection]]. */
  private val RpDims = 16

  /** Johnson–Lindenstrauss projection matrix: [[RpDims]] × [[Dim]]
    * Rademacher ±1 rows seeded from `md5("rp:j:i")` — the hyperplane
    * discipline, reused (±1 entries keep every multiply exact, so
    * the projection is an index-order double fold both engines
    * reproduce bit-identically; the conventional 1/√k output scaling
    * is an irrational constant that would break that, so it stays
    * un-applied — distance RATIOS, which is all JL promises, are
    * unaffected). */
  private[ext] val RpMatrix: Seq[Seq[Double]] =
    (0 until RpDims).map { j =>
      (0 until Dim).map { i =>
        val d = java.security.MessageDigest.getInstance("MD5")
          .digest(s"rp:$j:$i".getBytes(java.nio.charset.StandardCharsets.UTF_8))
        if ((d(0) & 1) == 0) 1.0 else -1.0
      }
    }

  /** Random-projection (Johnson–Lindenstrauss) dimensionality
    * reduction — the cheap pre-ANN step of an embedding pipeline:
    * project 64-dim vectors onto [[RpDims]] fixed Rademacher
    * directions so downstream candidate generation pays 4× less
    * per-vector compute and memory while pairwise distances survive
    * within JL distortion (asserted on fixtures in SimilaritySpec).
    *
    * Scale shape: the projection matrix is a compile-time constant
    * embedded in the plan (no join, no lookup — each output
    * coordinate is one codegen'd [[graft.functions.DotProduct]]
    * against a literal row), so projecting is MAP-ONLY at any corpus
    * size; the query then reports per-dimension corpus moments, whose
    * groupBy carries [[RpDims]] pre-combined rows per map task. The
    * near-zero means and ≈‖x‖²-scale second moments are the
    * projection-health diagnostic (a biased direction or dead
    * coordinate shows up immediately). Coordinates round to 8 dp
    * into exact DECIMAL before the corpus moments. */
  def randomProjection(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Num.davg
    val ys = array(RpMatrix.map(r =>
      round(dot(col("v"), lit(r.toArray)), 8)): _*)
    vectors(s, dir)
      .select(posexplode(ys).as(Seq("pos", "y")))
      .select((col("pos") + 1).cast("long").as("dim"), col("y"))
      .groupBy("dim")
      .agg(count(lit(1)).as("n_vectors"),
        r4(davg(col("y"))).as("mean_y"),
        r4(davg(round(col("y") * col("y"), 8))).as("mean_sq"))
      .orderBy("dim")
  }

  private val MmrC = 8       // candidates per query entering the re-rank
  private val MmrK = 4       // diversified results kept per query
  private val MmrLambda = 0.7
  private val MmrMu = 0.3    // written out, NOT 1−λ (0.3 parses exactly
                             // on both engines; 1−0.7 in binary does not)

  /** Maximal-marginal-relevance diversified re-ranking (Carbonell &
    * Goldstein 1998) — the post-ANN step a retrieval pipeline runs so
    * the k results are not k near-duplicates of each other: greedily
    * pick `argmax λ·sim(q,c) − (1−λ)·max_{s∈selected} sim(c,s)` until
    * [[MmrK]] results stand. RAG context assembly and eval-set
    * construction both need this; plain top-k hands a near-dup-heavy
    * corpus back its duplicates.
    *
    * Scale shape: the greedy loop is inherently sequential, but ONLY
    * over the [[MmrC]]-bounded per-query candidate list — so the
    * whole re-rank costs O(queries · C² · k) independent of corpus
    * size, and the [[MmrK]] selection steps are relational rounds on
    * [[graft.SessionMemo.iterate]] (anti-join remaining ∪ max-penalty
    * join ∪ per-query argmax window over ≤ C rows) — not a
    * per-candidate driver loop and not a UDF. Candidate
    * generation composes any declared ANN surface ([[bruteForceTopK]]
    * here; [[lshAnn]]/[[ivfTopK]] at 100 TB). Similarities round to
    * 6 dp BEFORE every comparison, ties break on neighbor id — both
    * engines walk the identical greedy path. */
  def mmrRerank(s: SparkSession, dir: String): DataFrame = {
    val vs = vectors(s, dir)
    val q = vs.toDF("query_id", "qv", "qnrm").filter(col("query_id") < NQueries)
    val c = vs.toDF("nid", "cv", "cnrm")
    val w = Window.partitionBy("query_id")
      .orderBy(col("qcos").desc, col("nid").asc)
    // the candidate list and its pair-sim table are queries·C-bounded;
    // memoized+cached so the selection steps (each of which
    // branches on both frames) never re-run the corpus scan
    val cand = graft.SessionMemo.cached(s, dir, "sim_mmr_cand") {
      c.join(broadcast(q), col("nid") =!= col("query_id"))
        .withColumn("qcos",
          round(dot(col("qv"), col("cv")) / (col("qnrm") * col("cnrm")), 6))
        .withColumn("r", row_number().over(w))
        .filter(col("r") <= MmrC)
        .select(col("query_id"), col("nid"), col("qcos"), col("r"),
          col("cv"), col("cnrm"))
        .repartition(1) // queries·C rows — one task per downstream stage
    }
    val sims = graft.SessionMemo.cached(s, dir, "sim_mmr_sims") {
      val a = cand.select(col("query_id"), col("nid").as("na"),
        col("cv").as("va"), col("cnrm").as("nrma"))
      val b = cand.select(col("query_id").as("qb"), col("nid").as("nb"),
        col("cv").as("vb"), col("cnrm").as("nrmb"))
      a.join(b, col("query_id") === col("qb") && col("na") =!= col("nb"))
        .select(col("query_id"), col("na"), col("nb"),
          round(dot(col("va"), col("vb")) / (col("nrma") * col("nrmb")), 6)
            .as("sim"))
    }
    val slim = cand.select("query_id", "nid", "qcos", "r")
    val first = slim.filter(col("r") === 1)
      .select(col("query_id"), col("nid"),
        round(lit(MmrLambda) * col("qcos"), 6).as("score"),
        lit(1L).as("mmr_rank"))
    graft.SessionMemo.iterate(first, Set.empty, MmrK - 1)(_ => false) { (selected, n) =>
      val t = n + 1 // the rank this step selects; rank 1 is `first`
      val selSet = selected.select(col("query_id").as("sq"), col("nid").as("snid"))
      val rem = slim.join(selected.select("query_id", "nid"),
        Seq("query_id", "nid"), "left_anti")
      val pen = sims
        .join(selSet, sims("query_id") === col("sq") && sims("nb") === col("snid"))
        .groupBy(sims("query_id").as("query_id"), sims("na").as("nid"))
        .agg(max("sim").as("pen"))
      val ws = Window.partitionBy("query_id")
        .orderBy(col("score").desc, col("nid").asc)
      val st = rem.join(pen, Seq("query_id", "nid"))
        .withColumn("score",
          round(lit(MmrLambda) * col("qcos") - lit(MmrMu) * col("pen"), 6))
        .withColumn("rr", row_number().over(ws))
        .filter(col("rr") === 1)
        .select(col("query_id"), col("nid"), col("score"),
          lit(t.toLong).as("mmr_rank"))
      selected.unionByName(st)
    }.frame
      .select(col("query_id"), col("mmr_rank"),
        col("nid").as("neighbor_id"), r4(col("score")).as("score"))
      .orderBy("query_id", "mmr_rank")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sim_mmr_rerank"      -> (mmrRerank _),
    "sim_random_projection" -> (randomProjection _),
    "sim_eval_recall"     -> (evalAnnRecall _),
    "sim_eval_recall_ivf" -> (evalIvfRecall _),
    "sim_topk_bruteforce" -> (bruteForceTopK _),
    "sim_hard_negatives"  -> (hardNegatives _),
    "sim_topk_lsh_ann"    -> (lshAnn _),
    "sim_topk_ivf"        -> (ivfTopK _),
    "sim_topk_pq"         -> (pqTopK _),
    "sim_topk_ivfpq"      -> (ivfpqTopK _),
    "sim_ivf_pruned_topk" -> (ivfPrunedTopK _),
    "sim_range_search"    -> (ivfRangeSearch _),
    "sim_knn_graph"       -> (knnGraph _),
    "sim_knn_clusters"    -> (knnClusters _),
    "sim_ivf_upsert"      -> (ivfUpsert _),
    "dedup_embedding_pairs" -> (embeddingNearDups _),
    "dedup_embedding_clusters" -> (embeddingClusters _),
    "dedup_semantic_keep" -> (semanticKeep _),
  )

  /** Shared oracle CTE prefix: vectors + norms, the corpus-derived
    * bits-per-table ([[sigBitsFor]] restated as `COUNT(*)` ceil-div +
    * `length(bin(m−1))` — exact integer bit-length on both engines),
    * and the md5-seeded hyperplane signatures for
    * (`tables` × derived bits) planes — exactly the arithmetic
    * [[lshSig]] runs (same fold order, same sign test), so LSH bucket
    * assignments match Spark's bit-for-bit at ANY corpus size. */
  private def lshOracleCtes(tables: Int): String =
    s"""e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
       |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
       |sp AS (SELECT CASE WHEN m <= 1 THEN $SigBitsMin
       |    ELSE LEAST($SigBitsMax, GREATEST($SigBitsMin,
       |      length(bin(m - 1)))) END AS bits
       |  FROM (SELECT (COUNT(*) + ${SigTargetOcc - 1}) // $SigTargetOcc AS m
       |    FROM e)),
       |planes AS (SELECT tt.t AS t, jj.j AS j,
       |    list_transform(range(0, $Dim), k ->
       |      CASE WHEN substr(md5(tt.t || '_' || jj.j || '_' || k), 1, 1)
       |             BETWEEN '0' AND '7'
       |           THEN CAST(1 AS DOUBLE) ELSE CAST(-1 AS DOUBLE) END) AS pv
       |  FROM range(0, $tables) tt(t), range(0, $SigBitsMax) jj(j)
       |  WHERE jj.j < (SELECT bits FROM sp)),
       |sigs AS (SELECT n.vec_id, p.t,
       |    CAST(SUM(CASE WHEN list_dot_product(n.v, p.pv) > 0
       |                  THEN CAST(1 AS BIGINT) << p.j ELSE 0 END) AS BIGINT) AS sig
       |  FROM n CROSS JOIN planes p GROUP BY 1, 2)""".stripMargin

  /** Unrolled deterministic-k-means oracle CTEs mirroring
    * [[kmeansModel]] bit-for-bit: `a0` is the md5-seeded
    * random-partition init; per round i, `cn{i}` recomputes decimal
    * elementwise-mean centroids from assignment `a{i}` and `a{i+1}`
    * reassigns by max cosine with the smallest-cell tie-break. */
  private def kmeansIterCtes(iters: Int): Seq[String] =
    (0 until iters).map { i =>
      s"""px$i AS (SELECT a.cell, unnest(range(0, len(n.v))) AS pos, unnest(n.v) AS x
         |  FROM n JOIN a$i a USING (vec_id)),
         |cm$i AS (SELECT cell, pos,
         |    CAST(SUM(CAST(x AS DECIMAL(25,8))) AS DOUBLE) / COUNT(x) AS cx
         |  FROM px$i GROUP BY 1, 2),
         |cn$i AS (SELECT cell, cv, sqrt(list_dot_product(cv, cv)) AS cnrm
         |  FROM (SELECT cell, list(cx ORDER BY pos) AS cv FROM cm$i GROUP BY 1)),
         |a${i + 1} AS (SELECT vec_id, cell FROM (
         |    SELECT n.vec_id, c.cell, row_number() OVER (PARTITION BY n.vec_id
         |      ORDER BY list_dot_product(n.v, c.cv) / (n.nrm * c.cnrm) DESC,
         |        c.cell ASC) AS rr
         |    FROM n CROSS JOIN cn$i c) WHERE rr = 1)""".stripMargin
    }

  private def kmeansOracleCtes(k: Int, iters: Int): String = {
    val init =
      s"""e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
         |a0 AS (SELECT vec_id,
         |    CAST(CAST(concat('0x', substr(md5(CAST(vec_id AS VARCHAR)), 1, 15)) AS BIGINT)
         |      % $k AS INTEGER) AS cell
         |  FROM n)""".stripMargin
    (init +: kmeansIterCtes(iters)).mkString(",\n")
  }

  /** Two-level near-dup model oracle CTEs mirroring [[nearDupModel]]
    * bit-for-bit. `params` derives (k, k1, k2) from `COUNT(*)` with
    * the same integer arithmetic and the same correctly-rounded IEEE
    * `ceil(sqrt(k))`; the coarse level reuses the k-agnostic
    * [[kmeansIterCtes]] (init takes modulo k1); the sub level unrolls
    * [[SubKmIters]] grouped-by-(coarse, sub) rounds whose
    * reassignment ranks only the vector's OWN coarse cell's
    * sub-centroids — exactly the Spark equi-join. Ends with the final
    * coarse centroids `cn{last}`, the coarse map `ca`, and the final
    * sub-centroids `scn{last}`. */
  private def nearDupKmeansCtes: String = {
    val init =
      s"""e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
         |params AS (SELECT k, k1, CAST((k + k1 - 1) // k1 AS INTEGER) AS k2
         |  FROM (SELECT k, CAST(ceil(sqrt(CAST(k AS DOUBLE))) AS INTEGER) AS k1
         |    FROM (SELECT GREATEST($KCells,
         |      CAST((COUNT(*) + ${NearTargetOcc - 1}) // $NearTargetOcc AS INTEGER)) AS k
         |    FROM e))),
         |a0 AS (SELECT vec_id,
         |    CAST(CAST(concat('0x', substr(md5(CAST(vec_id AS VARCHAR)), 1, 15)) AS BIGINT)
         |      % (SELECT k1 FROM params) AS INTEGER) AS cell
         |  FROM n)""".stripMargin
    val ca =
      s"""ca AS (SELECT vec_id, cell AS coarse FROM a$NearKmIters),
         |s0 AS (SELECT vec_id,
         |    CAST(CAST(concat('0x', substr(md5(CAST(vec_id AS VARCHAR) || ':sub'),
         |      1, 15)) AS BIGINT) % (SELECT k2 FROM params) AS INTEGER) AS sub
         |  FROM n)""".stripMargin
    // the final round's reassignment is never consumed (probes rank
    // against the final CENTROIDS) — emit centroids for every round,
    // assignments only where a later round reads them
    val subRounds = (0 until SubKmIters).map { i =>
      val reassign =
        if (i == SubKmIters - 1) ""
        else s""",
           |s${i + 1} AS (SELECT vec_id, sub FROM (
           |    SELECT n.vec_id, c.sub, row_number() OVER (PARTITION BY n.vec_id
           |      ORDER BY list_dot_product(n.v, c.cv) / (n.nrm * c.cnrm) DESC,
           |        c.sub ASC) AS rr
           |    FROM n JOIN ca USING (vec_id)
           |    JOIN scn$i c ON c.coarse = ca.coarse) WHERE rr = 1)""".stripMargin
      s"""spx$i AS (SELECT ca.coarse, s.sub, unnest(range(0, len(n.v))) AS pos,
         |    unnest(n.v) AS x
         |  FROM n JOIN ca USING (vec_id) JOIN s$i s USING (vec_id)),
         |scm$i AS (SELECT coarse, sub, pos,
         |    CAST(SUM(CAST(x AS DECIMAL(25,8))) AS DOUBLE) / COUNT(x) AS cx
         |  FROM spx$i GROUP BY 1, 2, 3),
         |scn$i AS (SELECT coarse, sub, cv, sqrt(list_dot_product(cv, cv)) AS cnrm
         |  FROM (SELECT coarse, sub, list(cx ORDER BY pos) AS cv
         |        FROM scm$i GROUP BY 1, 2))""".stripMargin + reassign
    }
    ((init +: kmeansIterCtes(NearKmIters)) ++ (ca +: subRounds)).mkString(",\n")
  }

  /** Unrolled per-subspace Lloyd builds mirroring [[buildPq]]
    * bit-for-bit: per subspace m, `a{m}_0` is the salted md5 random
    * partition, round i recomputes decimal sub-centroid means
    * (`cn{m}_i`) and reassigns by min L2 with the smallest-cell
    * tie-break (`a{m}_{i+1}`). */
  private def pqOracleCtes(iters: Int, withInit: Boolean = true): String = {
    // withInit=false when composed AFTER kmeansOracleCtes, which
    // already defines the identical `e` (duplicate CTE names error)
    val init =
      "e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)"
    val subs = (0 until PqM).map { m =>
      val lo = m * PqSubDim + 1
      val hi = (m + 1) * PqSubDim
      s"""s$m AS (SELECT vec_id, v[$lo:$hi] AS sv FROM e),
         |a${m}_0 AS (SELECT vec_id,
         |    CAST(CAST(concat('0x', substr(md5(concat(CAST(vec_id AS VARCHAR),
         |      ':pq$m')), 1, 15)) AS BIGINT) % $PqCodes AS INTEGER) AS cell
         |  FROM e)""".stripMargin
    }
    val rounds = for (m <- 0 until PqM; i <- 0 until iters) yield
      s"""px${m}_$i AS (SELECT a.cell, unnest(range(0, $PqSubDim)) AS pos,
         |    unnest(s.sv) AS x
         |  FROM s$m s JOIN a${m}_$i a USING (vec_id)),
         |cm${m}_$i AS (SELECT cell, pos,
         |    CAST(SUM(CAST(x AS DECIMAL(25,8))) AS DOUBLE) / COUNT(x) AS cx
         |  FROM px${m}_$i GROUP BY 1, 2),
         |cn${m}_$i AS (SELECT cell, cv, list_dot_product(cv, cv) AS cc
         |  FROM (SELECT cell, list(cx ORDER BY pos) AS cv
         |        FROM cm${m}_$i GROUP BY 1)),
         |a${m}_${i + 1} AS (SELECT vec_id, cell FROM (
         |    SELECT s.vec_id, c.cell, row_number() OVER (PARTITION BY s.vec_id
         |      ORDER BY list_dot_product(s.sv, s.sv)
         |        - 2 * list_dot_product(s.sv, c.cv) + c.cc ASC,
         |        c.cell ASC) AS rr
         |    FROM s$m s CROSS JOIN cn${m}_$i c) WHERE rr = 1)""".stripMargin
    val body = subs ++ rounds
    (if (withInit) init +: body else body).mkString(",\n")
  }

  val oracleSql: Map[String, String] = Map(
    // the oracle unrolls the identical greedy selection (the Lloyd-
    // unroll discipline): step t = anti-join vs selected, max-penalty
    // vs selected, 6-dp-rounded score, argmax with nid tie-break
    "sim_mmr_rerank" -> {
      def selUnion(t: Int): String =
        (1 until t).map(i => s"SELECT query_id, nid FROM s$i")
          .mkString("(", " UNION ALL ", ")")
      val steps = (2 to MmrK).map { t =>
        s"""s$t AS (SELECT query_id, nid, score,
           |    CAST($t AS BIGINT) AS mmr_rank
           |  FROM (SELECT g.*, row_number() OVER (PARTITION BY g.query_id
           |      ORDER BY g.score DESC, g.nid ASC) AS rr
           |    FROM (SELECT c.query_id, c.nid,
           |        round($MmrLambda * c.qcos - $MmrMu * max(p.sim), 6) AS score
           |      FROM c JOIN p ON p.query_id = c.query_id AND p.na = c.nid
           |      JOIN ${selUnion(t)} sel
           |        ON sel.query_id = p.query_id AND sel.nid = p.nb
           |      WHERE NOT EXISTS (SELECT 1 FROM ${selUnion(t)} z
           |        WHERE z.query_id = c.query_id AND z.nid = c.nid)
           |      GROUP BY c.query_id, c.nid, c.qcos) g)
           |  WHERE rr = 1)""".stripMargin
      }.mkString(",\n         |")
      val all = (1 to MmrK).map(i => s"SELECT * FROM s$i")
        .mkString(" UNION ALL ")
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
         |c0 AS (SELECT q.vec_id AS query_id, c.vec_id AS nid,
         |    round(list_dot_product(q.v, c.v) / (q.nrm * c.nrm), 6) AS qcos
         |  FROM n q JOIN n c ON c.vec_id != q.vec_id
         |  WHERE q.vec_id < $NQueries),
         |c AS (SELECT * FROM (SELECT c0.*, row_number() OVER
         |    (PARTITION BY query_id ORDER BY qcos DESC, nid ASC) AS r
         |  FROM c0) WHERE r <= $MmrC),
         |p AS (SELECT a.query_id, a.nid AS na, b.nid AS nb,
         |    round(list_dot_product(x.v, y.v) / (x.nrm * y.nrm), 6) AS sim
         |  FROM c a JOIN c b ON a.query_id = b.query_id AND a.nid != b.nid
         |  JOIN n x ON x.vec_id = a.nid JOIN n y ON y.vec_id = b.nid),
         |s1 AS (SELECT query_id, nid, round($MmrLambda * qcos, 6) AS score,
         |    CAST(1 AS BIGINT) AS mmr_rank
         |  FROM c WHERE r = 1),
         |$steps
         |SELECT query_id, mmr_rank, nid AS neighbor_id,
         |  round(score, 4) AS score
         |FROM ($all) ORDER BY query_id, mmr_rank""".stripMargin
    },

    // the projection matrix prints as ±1.0 literals generated from
    // the same RpMatrix constants Spark embeds — the two sides cannot
    // drift; list_dot_product replays the index-order double fold
    "sim_random_projection" -> {
      val m = RpMatrix.map(_.map(x => if (x > 0) "1.0" else "-1.0")
          .mkString("[", ", ", "]"))
        .mkString("[\n         |  ", ",\n         |  ", "]")
      s"""WITH r AS (SELECT $m AS m),
         |e AS (SELECT CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |p AS (SELECT jj.j AS dim, round(list_dot_product(v, m[jj.j]), 8) AS y
         |  FROM e CROSS JOIN r
         |  CROSS JOIN (SELECT unnest(range(1, ${RpDims + 1})) AS j) jj(j))
         |SELECT dim, count(*) AS n_vectors,
         |  round(CAST(SUM(CAST(y AS DECIMAL(25,8))) AS DOUBLE)
         |    / count(y), 4) AS mean_y,
         |  round(CAST(SUM(CAST(round(y * y, 8) AS DECIMAL(25,8))) AS DOUBLE)
         |    / count(round(y * y, 8)), 4) AS mean_sq
         |FROM p GROUP BY 1 ORDER BY 1""".stripMargin
    },

    "sim_topk_pq" ->
      s"""WITH ${pqOracleCtes(PqIters)},
         |xh AS (SELECT e.vec_id,
         |    ${(0 until PqM).map(m => s"k$m.cv").mkString(" || ")} AS xhat
         |  FROM e
         |  ${(0 until PqM).map(m =>
              s"JOIN a${m}_$PqIters b$m ON b$m.vec_id = e.vec_id " +
              s"JOIN cn${m}_${PqIters - 1} k$m ON k$m.cell = b$m.cell")
              .mkString("\n  ")}),
         |xx AS (SELECT vec_id, xhat, list_dot_product(xhat, xhat) AS xx
         |  FROM xh),
         |q AS (SELECT vec_id AS query_id, v, list_dot_product(v, v) AS qq
         |  FROM e WHERE vec_id < $NQueries),
         |p AS (SELECT q.query_id, x.vec_id AS neighbor_id,
         |    q.qq - 2 * list_dot_product(q.v, x.xhat) + x.xx AS d2_est
         |  FROM q CROSS JOIN xx x WHERE x.vec_id != q.query_id),
         |sl AS (SELECT query_id, neighbor_id FROM (
         |    SELECT query_id, neighbor_id, row_number() OVER (
         |      PARTITION BY query_id
         |      ORDER BY d2_est ASC, neighbor_id ASC) AS prank
         |    FROM p) WHERE prank <= $PqShortlist),
         |p2 AS (SELECT sl.query_id, sl.neighbor_id,
         |    q.qq - 2 * list_dot_product(q.v, c.v)
         |      + list_dot_product(c.v, c.v) AS d2
         |  FROM sl
         |  JOIN q ON q.query_id = sl.query_id
         |  JOIN e c ON c.vec_id = sl.neighbor_id),
         |r AS (SELECT query_id, neighbor_id, d2,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY d2 ASC, neighbor_id ASC) AS rank
         |  FROM p2)
         |SELECT query_id, neighbor_id, round(d2, 4) AS d2, rank
         |FROM r WHERE rank <= $K ORDER BY query_id, rank""".stripMargin,

    // the two unrolled Lloyd builds compose: kmeansOracleCtes defines
    // e/n, the PQ fragment rides on them (withInit=false); routing,
    // ADC within probed cells, and exact re-rank replay the Spark plan
    "sim_topk_ivfpq" ->
      s"""WITH ${kmeansOracleCtes(KCells, KmIters)},
         |${pqOracleCtes(PqIters, withInit = false)},
         |xh AS (SELECT e.vec_id,
         |    ${(0 until PqM).map(m => s"k$m.cv").mkString(" || ")} AS xhat
         |  FROM e
         |  ${(0 until PqM).map(m =>
              s"JOIN a${m}_$PqIters b$m ON b$m.vec_id = e.vec_id " +
              s"JOIN cn${m}_${PqIters - 1} k$m ON k$m.cell = b$m.cell")
              .mkString("\n  ")}),
         |xx AS (SELECT vec_id, xhat, list_dot_product(xhat, xhat) AS xx
         |  FROM xh),
         |q AS (SELECT vec_id AS query_id, v, nrm,
         |    list_dot_product(v, v) AS qq FROM n WHERE vec_id < $NQueries),
         |probes AS (SELECT query_id, cell FROM (
         |    SELECT q.query_id, c.cell,
         |      row_number() OVER (PARTITION BY q.query_id ORDER BY
         |        list_dot_product(q.v, c.cv) / (q.nrm * c.cnrm) DESC,
         |        c.cell ASC) AS prank
         |    FROM q CROSS JOIN cn${KmIters - 1} c)
         |  WHERE prank <= $NProbe),
         |p AS (SELECT pr.query_id, am.vec_id AS neighbor_id,
         |    q.qq - 2 * list_dot_product(q.v, x.xhat) + x.xx AS d2_est
         |  FROM probes pr
         |  JOIN a$KmIters am ON am.cell = pr.cell
         |  JOIN xx x ON x.vec_id = am.vec_id
         |  JOIN q ON q.query_id = pr.query_id
         |  WHERE am.vec_id != pr.query_id),
         |sl AS (SELECT query_id, neighbor_id FROM (
         |    SELECT query_id, neighbor_id, row_number() OVER (
         |      PARTITION BY query_id
         |      ORDER BY d2_est ASC, neighbor_id ASC) AS prank
         |    FROM p) WHERE prank <= $PqShortlist),
         |p2 AS (SELECT sl.query_id, sl.neighbor_id,
         |    q.qq - 2 * list_dot_product(q.v, c.v)
         |      + list_dot_product(c.v, c.v) AS d2
         |  FROM sl
         |  JOIN q ON q.query_id = sl.query_id
         |  JOIN e c ON c.vec_id = sl.neighbor_id),
         |r AS (SELECT query_id, neighbor_id, d2,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY d2 ASC, neighbor_id ASC) AS rank
         |  FROM p2)
         |SELECT query_id, neighbor_id, round(d2, 4) AS d2, rank
         |FROM r WHERE rank <= $K ORDER BY query_id, rank""".stripMargin,

    // both pipelines replayed in one CTE chain; recall is an exact
    // integer ratio
    "sim_eval_recall" ->
      s"""WITH ${lshOracleCtes(Tables_)},
         |bf AS (SELECT query_id, neighbor_id FROM (
         |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |      row_number() OVER (PARTITION BY q.vec_id
         |        ORDER BY list_dot_product(q.v, c.v) / (q.nrm * c.nrm) DESC,
         |          c.vec_id ASC) AS rank
         |    FROM n q JOIN n c ON c.vec_id != q.vec_id
         |    WHERE q.vec_id < $NQueries) WHERE rank <= $K),
         |cand AS (SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
         |  FROM sigs q JOIN sigs c ON q.t = c.t AND q.sig = c.sig
         |  WHERE q.vec_id < $NQueries AND c.vec_id != q.vec_id),
         |ap AS (SELECT query_id, neighbor_id FROM (
         |    SELECT query_id, neighbor_id,
         |      row_number() OVER (PARTITION BY query_id
         |        ORDER BY list_dot_product(qn.v, cn.v) / (qn.nrm * cn.nrm) DESC,
         |          neighbor_id ASC) AS rank
         |    FROM cand
         |    JOIN n qn ON qn.vec_id = query_id
         |    JOIN n cn ON cn.vec_id = neighbor_id) WHERE rank <= $K)
         |SELECT bf.query_id, CAST(count(*) AS BIGINT) AS n_exact,
         |  CAST(count(ap.neighbor_id) AS BIGINT) AS n_hit,
         |  round(count(ap.neighbor_id) / CAST(count(*) AS DOUBLE), 4) AS recall
         |FROM bf LEFT JOIN ap ON ap.query_id = bf.query_id
         |  AND ap.neighbor_id = bf.neighbor_id
         |GROUP BY 1 ORDER BY 1""".stripMargin,

    "sim_topk_bruteforce" ->
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
         |n AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
         |p AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |    list_dot_product(q.v, c.v) / (q.nrm * c.nrm) AS cos
         |  FROM n q JOIN n c ON c.vec_id != q.vec_id
         |  WHERE q.vec_id < $NQueries),
         |r AS (SELECT query_id, neighbor_id, cos,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY cos DESC, neighbor_id ASC) AS rank
         |  FROM p)
         |SELECT query_id, neighbor_id, round(cos, 4) AS cos, rank
         |FROM r WHERE rank <= $K ORDER BY query_id, rank""".stripMargin,

    "sim_hard_negatives" ->
      s"""WITH e AS (SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v
         |  FROM embeddings),
         |n AS (SELECT vec_id, label, v, sqrt(list_dot_product(v, v)) AS nrm
         |  FROM e),
         |p AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |    c.label AS neg_label,
         |    list_dot_product(q.v, c.v) / (q.nrm * c.nrm) AS cos
         |  FROM n q JOIN n c ON c.label != q.label
         |  WHERE q.vec_id < $NQueries),
         |r AS (SELECT query_id, neighbor_id, neg_label, cos,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY cos DESC, neighbor_id ASC) AS rank
         |  FROM p)
         |SELECT query_id, neighbor_id, neg_label, round(cos, 4) AS cos, rank
         |FROM r WHERE rank <= $K ORDER BY query_id, rank""".stripMargin,

    "sim_topk_lsh_ann" ->
      s"""WITH ${lshOracleCtes(Tables_)},
         |cand AS (SELECT DISTINCT q.vec_id AS query_id, c.vec_id AS neighbor_id
         |  FROM sigs q JOIN sigs c ON q.t = c.t AND q.sig = c.sig
         |  WHERE q.vec_id < $NQueries AND c.vec_id != q.vec_id),
         |p AS (SELECT query_id, neighbor_id,
         |    list_dot_product(qn.v, cn.v) / (qn.nrm * cn.nrm) AS cos
         |  FROM cand
         |  JOIN n qn ON qn.vec_id = query_id
         |  JOIN n cn ON cn.vec_id = neighbor_id),
         |r AS (SELECT query_id, neighbor_id, cos,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY cos DESC, neighbor_id ASC) AS rank
         |  FROM p)
         |SELECT query_id, neighbor_id, round(cos, 4) AS cos, rank
         |FROM r WHERE rank <= $K ORDER BY query_id, rank""".stripMargin,

    "sim_topk_ivf" -> ivfOracleSql,

    // the IVF pipeline replayed (unrolled Lloyd + probe + in-cell
    // rank) next to the brute-force truth; recall is an exact integer
    // ratio — the sim_eval_recall pattern on the other index
    "sim_eval_recall_ivf" ->
      s"""WITH ${kmeansOracleCtes(KCells, KmIters)},
         |probes AS (SELECT query_id, cell FROM (
         |    SELECT q.vec_id AS query_id, c.cell,
         |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
         |        list_dot_product(q.v, c.cv) / (q.nrm * c.cnrm) DESC,
         |        c.cell ASC) AS prank
         |    FROM n q CROSS JOIN cn${KmIters - 1} c WHERE q.vec_id < $NQueries)
         |  WHERE prank <= $NProbe),
         |ivp AS (SELECT query_id, neighbor_id FROM (
         |    SELECT pr.query_id, m.vec_id AS neighbor_id,
         |      row_number() OVER (PARTITION BY pr.query_id
         |        ORDER BY list_dot_product(q.v, m.v) / (q.nrm * m.nrm) DESC,
         |          m.vec_id ASC) AS rank
         |    FROM probes pr
         |    JOIN a$KmIters am ON am.cell = pr.cell
         |    JOIN n m ON m.vec_id = am.vec_id
         |    JOIN n q ON q.vec_id = pr.query_id
         |    WHERE m.vec_id != pr.query_id) WHERE rank <= $K),
         |bf AS (SELECT query_id, neighbor_id FROM (
         |    SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
         |      row_number() OVER (PARTITION BY q.vec_id
         |        ORDER BY list_dot_product(q.v, c.v) / (q.nrm * c.nrm) DESC,
         |          c.vec_id ASC) AS rank
         |    FROM n q JOIN n c ON c.vec_id != q.vec_id
         |    WHERE q.vec_id < $NQueries) WHERE rank <= $K)
         |SELECT bf.query_id, CAST(count(*) AS BIGINT) AS n_exact,
         |  CAST(count(ivp.neighbor_id) AS BIGINT) AS n_hit,
         |  round(count(ivp.neighbor_id) / CAST(count(*) AS DOUBLE), 4) AS recall
         |FROM bf LEFT JOIN ivp ON ivp.query_id = bf.query_id
         |  AND ivp.neighbor_id = bf.neighbor_id
         |GROUP BY 1 ORDER BY 1""".stripMargin,

    // the persisted-layout probe is RESULT-identical to the in-memory
    // IVF query (the partitioned table stores the same model's
    // assignment); only the physical scan shape differs, which the
    // oracle never sees
    "sim_ivf_pruned_topk" -> ivfOracleSql,

    // the radius face shares the probe CTEs with the top-k oracle;
    // only the tail differs (threshold filter, no rank window)
    "sim_range_search" ->
      s"""WITH ${kmeansOracleCtes(KCells, KmIters)},
         |probes AS (SELECT query_id, cell FROM (
         |    SELECT q.vec_id AS query_id, c.cell,
         |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
         |        list_dot_product(q.v, c.cv) / (q.nrm * c.cnrm) DESC,
         |        c.cell ASC) AS prank
         |    FROM n q CROSS JOIN cn${KmIters - 1} c WHERE q.vec_id < $NQueries)
         |  WHERE prank <= $NProbe),
         |p AS (SELECT pr.query_id, m.vec_id AS neighbor_id,
         |    list_dot_product(q.v, m.v) / (q.nrm * m.nrm) AS cos
         |  FROM probes pr
         |  JOIN a$KmIters am ON am.cell = pr.cell
         |  JOIN n m ON m.vec_id = am.vec_id
         |  JOIN n q ON q.vec_id = pr.query_id
         |  WHERE m.vec_id != pr.query_id)
         |SELECT query_id, neighbor_id, round(cos, 4) AS cos
         |FROM p WHERE cos >= $RangeTau
         |ORDER BY query_id, neighbor_id""".stripMargin,

    // the base-restricted Lloyd unroll (n = standing corpus only),
    // then the batch routes through the FINAL centroids — the same
    // frozen-model argmax the Spark side runs map-side
    "sim_ivf_upsert" -> {
      val baseInit =
        s"""e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
           |na AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e),
           |n AS (SELECT * FROM na WHERE vec_id % $UpsertMod != 0),
           |a0 AS (SELECT vec_id,
           |    CAST(CAST(concat('0x', substr(md5(CAST(vec_id AS VARCHAR)), 1, 15)) AS BIGINT)
           |      % $KCells AS INTEGER) AS cell
           |  FROM n)""".stripMargin
      s"""WITH ${(baseInit +: kmeansIterCtes(KmIters)).mkString(",\n")},
         |nd AS (SELECT * FROM na WHERE vec_id % $UpsertMod = 0),
         |da AS (SELECT vec_id, cell FROM (
         |    SELECT nd.vec_id, c.cell, row_number() OVER (PARTITION BY nd.vec_id
         |      ORDER BY list_dot_product(nd.v, c.cv) / (nd.nrm * c.cnrm) DESC,
         |        c.cell ASC) AS rr
         |    FROM nd CROSS JOIN cn${KmIters - 1} c) WHERE rr = 1),
         |b AS (SELECT cell, count(*) AS n_base FROM a$KmIters GROUP BY 1),
         |d AS (SELECT cell, count(*) AS n_delta FROM da GROUP BY 1)
         |SELECT coalesce(b.cell, d.cell) AS cell,
         |  coalesce(n_base, 0) AS n_base, coalesce(n_delta, 0) AS n_delta,
         |  coalesce(n_base, 0) + coalesce(n_delta, 0) AS n_total
         |FROM b FULL OUTER JOIN d ON b.cell = d.cell ORDER BY cell""".stripMargin
    },

    "dedup_embedding_pairs" ->
      s"""WITH $embeddingPairsCteSql
         |SELECT vec_a, vec_b, round(cos, 4) AS cos
         |FROM p WHERE cos >= $NearDupCos ORDER BY vec_a, vec_b""".stripMargin,

    // the same two-level candidate replay, un-thresholded: both
    // orientations of each candidate pair, ranked per vector
    "sim_knn_graph" ->
      s"""WITH $embeddingPairsCteSql,
         |sym AS (SELECT vec_a AS vec_id, vec_b AS neighbor_id, cos FROM p
         |  UNION ALL SELECT vec_b, vec_a, cos FROM p),
         |rk AS (SELECT vec_id, neighbor_id, cos, row_number() OVER
         |    (PARTITION BY vec_id ORDER BY cos DESC, neighbor_id ASC) AS rank
         |  FROM sym)
         |SELECT vec_id, neighbor_id, round(cos, 4) AS cos,
         |  CAST(rank AS BIGINT) AS rank
         |FROM rk WHERE rank <= $KnnK ORDER BY vec_id, rank""".stripMargin,

    // the k-NN replay closed under mutuality, then recursive
    // reachability over the (already symmetric) mutual edge set
    "sim_knn_clusters" ->
      s"""WITH RECURSIVE $embeddingPairsCteSql,
         |sym AS (SELECT vec_a AS vec_id, vec_b AS neighbor_id, cos FROM p
         |  UNION ALL SELECT vec_b, vec_a, cos FROM p),
         |rk AS (SELECT vec_id, neighbor_id, row_number() OVER
         |    (PARTITION BY vec_id ORDER BY cos DESC, neighbor_id ASC) AS rank
         |  FROM sym),
         |ke AS (SELECT vec_id, neighbor_id FROM rk WHERE rank <= $KnnK),
         |mutual AS (SELECT a.vec_id AS src, a.neighbor_id AS dst FROM ke a
         |  JOIN ke b ON b.vec_id = a.neighbor_id AND b.neighbor_id = a.vec_id),
         |reach AS (
         |  SELECT vec_id, vec_id AS r FROM n
         |  UNION
         |  SELECT e.dst AS vec_id, reach.r
         |  FROM reach JOIN mutual e ON e.src = reach.vec_id),
         |rep AS (SELECT vec_id, min(r) AS cluster_rep FROM reach GROUP BY 1),
         |cs AS (SELECT cluster_rep, count(*) AS cluster_size FROM rep GROUP BY 1)
         |SELECT r.vec_id, r.cluster_rep, cs.cluster_size
         |FROM rep r JOIN cs USING (cluster_rep) ORDER BY r.vec_id""".stripMargin,

    "dedup_embedding_clusters" ->
      s"""WITH RECURSIVE $embeddingClustersCteSql
         |SELECT r.vec_id, r.cluster_rep, cs.cluster_size
         |FROM rep r JOIN cs USING (cluster_rep) ORDER BY r.vec_id""".stripMargin,

    // composes the identical cluster CTEs, then replays the same
    // (n_chars DESC, doc_id ASC) argmax the Spark window runs
    "dedup_semantic_keep" ->
      s"""WITH RECURSIVE $embeddingClustersCteSql,
         |sel AS (SELECT r.vec_id, r.cluster_rep, cs.cluster_size, d.n_chars,
         |    row_number() OVER (PARTITION BY r.cluster_rep
         |      ORDER BY d.n_chars DESC, r.vec_id ASC) AS rk
         |  FROM rep r JOIN cs USING (cluster_rep)
         |  JOIN documents d ON d.doc_id = r.vec_id)
         |SELECT cluster_rep, vec_id AS kept_doc, cluster_size, n_chars
         |FROM sel WHERE rk = 1 ORDER BY cluster_rep""".stripMargin,
  )

  /** Unrolled-Lloyd IVF oracle, shared verbatim by `sim_topk_ivf` and
    * `sim_ivf_pruned_topk` (the persisted layout changes the physical
    * scan, never the result). */
  private def ivfOracleSql: String =
    s"""WITH ${kmeansOracleCtes(KCells, KmIters)},
       |probes AS (SELECT query_id, cell FROM (
       |    SELECT q.vec_id AS query_id, c.cell,
       |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
       |        list_dot_product(q.v, c.cv) / (q.nrm * c.cnrm) DESC,
       |        c.cell ASC) AS prank
       |    FROM n q CROSS JOIN cn${KmIters - 1} c WHERE q.vec_id < $NQueries)
       |  WHERE prank <= $NProbe),
       |p AS (SELECT pr.query_id, m.vec_id AS neighbor_id,
       |    list_dot_product(q.v, m.v) / (q.nrm * m.nrm) AS cos
       |  FROM probes pr
       |  JOIN a$KmIters am ON am.cell = pr.cell
       |  JOIN n m ON m.vec_id = am.vec_id
       |  JOIN n q ON q.vec_id = pr.query_id
       |  WHERE m.vec_id != pr.query_id),
       |r AS (SELECT query_id, neighbor_id, cos,
       |    row_number() OVER (PARTITION BY query_id
       |      ORDER BY cos DESC, neighbor_id ASC) AS rank
       |  FROM p)
       |SELECT query_id, neighbor_id, round(cos, 4) AS cos, rank
       |FROM r WHERE rank <= $K ORDER BY query_id, rank""".stripMargin

  /** Shared oracle fragment replaying [[buildNearDupPairs]]: the
    * two-level derived-k Lloyd build, the [[CoarseProbe]] coarse
    * probes, the top-[[NearProbe]] cell assignment over the probed
    * sub-centroids (cell = coarse·k2 + sub), same-cell candidates
    * (plain DISTINCT — the Spark side's smallest-shared-cell emission
    * selects the same SET), and the exact cosine. Ends with `p`
    * (vec_a, vec_b, cos). */
  private def embeddingPairsCteSql: String =
    s"""$nearDupKmeansCtes,
       |cpr AS (SELECT vec_id, cell AS coarse FROM (
       |    SELECT n.vec_id, c.cell, row_number() OVER (PARTITION BY n.vec_id
       |      ORDER BY list_dot_product(n.v, c.cv) / (n.nrm * c.cnrm) DESC,
       |        c.cell ASC) AS rr
       |    FROM n CROSS JOIN cn${NearKmIters - 1} c) WHERE rr <= $CoarseProbe),
       |a2p AS (SELECT vec_id, cell FROM (
       |    SELECT n.vec_id,
       |      CAST(c.coarse * (SELECT k2 FROM params) + c.sub AS BIGINT) AS cell,
       |      row_number() OVER (PARTITION BY n.vec_id
       |        ORDER BY list_dot_product(n.v, c.cv) / (n.nrm * c.cnrm) DESC,
       |          CAST(c.coarse * (SELECT k2 FROM params) + c.sub AS BIGINT) ASC)
       |        AS rr
       |    FROM n JOIN cpr USING (vec_id)
       |    JOIN scn${SubKmIters - 1} c ON c.coarse = cpr.coarse)
       |  WHERE rr <= $NearProbe),
       |cand AS (SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
       |  FROM a2p a JOIN a2p b ON a.cell = b.cell
       |  WHERE a.vec_id < b.vec_id),
       |p AS (SELECT vec_a, vec_b,
       |    list_dot_product(na.v, nb.v) / (na.nrm * nb.nrm) AS cos
       |  FROM cand
       |  JOIN n na ON na.vec_id = vec_a
       |  JOIN n nb ON nb.vec_id = vec_b)""".stripMargin

  /** Oracle fragment for cross-module composition: the two-level
    * build + probe + exact verify, ending with `vpe (vec_a, vec_b)` —
    * the verified embedding near-dup edge set. Consumed by the
    * cross-modal cluster oracle in [[Dedup]]. */
  private[ext] def embeddingVerifiedPairsCteSql: String =
    s"""$embeddingPairsCteSql,
       |vpe AS (SELECT vec_a, vec_b FROM p WHERE cos >= $NearDupCos)""".stripMargin

  /** Shared oracle fragment: celled candidates → verified near-dup
    * pairs → recursive-CTE connected components, ending with `rep`
    * (vec_id, cluster_rep) and `cs` (cluster_rep, cluster_size) —
    * exactly the graph [[embeddingClusters]] materializes. Composed by
    * both the cluster query's oracle and the semantic-dedup oracle. */
  private def embeddingClustersCteSql: String =
    s"""$embeddingPairsCteSql,
       |vp AS (SELECT vec_a, vec_b FROM p WHERE cos >= $NearDupCos),
       |edges AS (SELECT vec_a AS src, vec_b AS dst FROM vp
       |  UNION ALL SELECT vec_b, vec_a FROM vp),
       |reach AS (
       |  SELECT vec_id, vec_id AS r FROM n
       |  UNION
       |  SELECT e.dst AS vec_id, reach.r
       |  FROM reach JOIN edges e ON e.src = reach.vec_id),
       |rep AS (SELECT vec_id, min(r) AS cluster_rep FROM reach GROUP BY 1),
       |cs AS (SELECT cluster_rep, count(*) AS cluster_size FROM rep GROUP BY 1)""".stripMargin
}
