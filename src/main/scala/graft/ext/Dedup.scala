package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SessionMemo.{Rounds, checkpointTracked, iterate, release}
import graft.Tables
import graft.functions.Md5Hash60.md5Hash60
import graft.functions.Num.r4

/** Deduplication operators over `documents` — the dedup ladder of a
  * training-data pipeline:
  *
  *  1. exact        — hash-groupBy on content (one shuffle of hashes)
  *  2. normalized   — [[Text.fingerprint]] (md5 of canonical form)
  *  3. token-set Jaccard — exact pairwise similarity, inverted-index
  *     join (the correctness oracle for the approximate methods)
  *  4. MinHash + LSH banding — the 100 TB path: candidate pairs via
  *     band-bucket equi-join, no pairwise work outside buckets
  *  5. SimHash — 60-bit sketch + banded Hamming-ball pairing
  *  6. cluster-representative output — connected components over the
  *     band buckets, linear where pair output is quadratic
  *
  * All sketches hash with md5 (via codegen'd `functions._`
  * expressions or the one-pass [[graft.functions.MinHashSketch]]
  * aggregate — no UDFs, no collect-to-driver). md5, unlike
  * xxhash64/murmur3, is computed identically by DuckDB, so every
  * sketch query here is reproducible by the driver's SQL oracle.
  */
object Dedup {

  /** Distinct (doc_id, tok) rows — the shared input of the Jaccard /
    * MinHash / SimHash family. Cached + memoized per (session, dir)
    * via [[graft.SessionMemo]]: five queries re-tokenized the corpus
    * before; now the regex split + explode + distinct runs once per
    * session. */
  private def distinctTokens(s: SparkSession, dir: String): DataFrame =
    graft.SessionMemo.cached(s, dir, "distinct_tokens") {
      Tables.documents(s, dir)
        .repartition(s.sparkContext.defaultParallelism)
        .select(col("doc_id"),
          explode(array_distinct(Text.tokens(col("text")))).as("tok"))
    }

  /** Exact dedup: group by content hash, keep the smallest doc_id
    * (deterministic survivor), count copies. At scale this shuffles
    * 16-byte hashes, never the documents themselves. */
  def exact(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .groupBy(md5(col("text").cast("binary")).as("text_hash"))
      .agg(min("doc_id").as("keep_doc_id"), count(lit(1)).as("n_copies"))
      .orderBy("text_hash")

  private val JaccardT = 0.95

  // ---- PPJoin machinery (shared by token- and shingle-Jaccard) ----

  /** Per-doc sorted ordinal arrays under a global ascending-DF item
    * order — the shared first stage of the prefix-filtered similarity
    * join (the PPJoin family, Xiao et al.). `items` is distinct
    * (doc_id, item) rows.
    *
    * Global item order: rare items first (deterministic tie-break).
    * Ordinals come from monotonically_increasing_id over the sorted
    * frame — order-preserving (range partitioning puts ascending keys
    * in ascending partition ids, and the id is (partition << 33) |
    * row) and injective, with NO single-partition global window: a
    * 100 TB vocabulary assigns ordinals fully in parallel. Only the
    * ORDER of ordinals matters downstream, not density.
    *
    * The vocabulary join is SHUFFLE-HASH, not broadcast: a web-scale
    * vocabulary (Heaps' law still means billions of distinct tokens
    * at 100 TB) is corpus-derived and unbounded, and the item rows
    * shuffle by doc_id for the groupBy right after anyway — the extra
    * shuffle is one hop, a forced broadcast is a driver OOM. */
  private[graft] def ppSortedOrds(items: DataFrame, t: Double): DataFrame = {
    val itemOrder = items.groupBy("item").agg(count(lit(1)).as("df"))
      .sort(col("df").asc, col("item").asc)
      .select(col("item"), monotonically_increasing_id().as("ord"))
    items.join(itemOrder.hint("shuffle_hash"), Seq("item"))
      .groupBy("doc_id")
      .agg(sort_array(collect_list(col("ord"))).as("ords"))
      .withColumn("n", size(col("ords")))
      .withColumn("plen",
        col("n") - ceil(lit(t) * col("n")).cast("int") + 1)
  }

  /** Candidate pairs: share ≥ 1 item within each set's first
    * `|x| − ⌈t·|x|⌉ + 1` ordinals (complete for J ≥ t), with the
    * PPJoin LENGTH filter fused into the join: J(x,y) ≥ t forces
    * t·|x| ≤ |y| ≤ |x|/t, which prunes the quadratic blowup inside
    * popular prefix buckets before the distinct. The candidate join
    * never touches the full inverted index, whose high-DF items pair
    * everything with everything — one boilerplate item shared by n
    * docs is n²/2 candidates unguarded, and it lands in the prefix
    * only for docs so small the length filter already caps the
    * bucket. Corpus×corpus self-join → shuffle-hash, so the plan
    * shape is scale-invariant (at sf0.001 Catalyst would
    * auto-broadcast the prefix side off its cached-size stats; at
    * 100 TB it can't). */
  private[graft] def ppCandidates(sorted: DataFrame, t: Double): DataFrame = {
    val prefixes = sorted
      .select(col("doc_id"), col("n"),
        explode(slice(col("ords"), lit(1), col("plen"))).as("ord"))
    val pa = prefixes.toDF("doc_a", "na", "ord")
    val pb = prefixes.toDF("doc_b", "nb", "ord").hint("shuffle_hash")
    pa.join(pb,
        pa("ord") === pb("ord") && col("doc_a") < col("doc_b") &&
          col("nb") >= ceil(lit(t) * col("na")) &&
          col("nb") * lit(t) <= col("na"))
      .select("doc_a", "doc_b")
      .distinct()
  }

  /** Candidate generation and exact verification fused into ONE
    * shuffle-hash join: both prefix sides carry their full ord arrays
    * (the PPJoin inverted-index layout — the index entry holds the
    * record), `sortedIntersectSize` verifies inside the joined stage,
    * and only VERIFIED pairs (true near-dup density, tiny) reach the
    * closing distinct. The previous shape shipped skinny witness
    * pairs to a corpus-wide `.distinct()` and re-joined the arrays
    * per unique pair through two more exchanges — at 10× bench scale
    * that candidate distinct dominated the whole query. Duplicate
    * witnesses (a pair sharing several prefix items) verify to
    * IDENTICAL rows, so deduplicating after the threshold filter is
    * equivalent and orders of magnitude smaller. Byte tradeoff: the
    * prefix explode now replicates each doc's array `plen` times
    * ((1−t)·n + 1 copies — ~5% of the corpus per copy at t = 0.95),
    * which buys the removal of every pair-stream exchange; the
    * verified result is identical to the naive inverted-index plan —
    * which is exactly what the DuckDB oracle still runs. No sort of
    * the array side (Catalyst's size estimates are defeated by array
    * columns, so unhinted it sort-merges — ~30× slower), and no
    * broadcast of a corpus-derived table (a forced broadcast is a
    * driver OOM at 100 TB, per-partition hash builds are not). */
  private def ppPairsInline(sorted: DataFrame, t: Double): DataFrame = {
    // Population-scaled partitioning (see [[arrayJoinPartitions]]):
    // the prefix explode replicates each doc's full ord array `plen`
    // times, so the build side carries Σ plen·n array cells — at a
    // fixed 32-partition count the per-partition hash build grew with
    // the corpus and OOMed the shingle variant (the fattest arrays)
    // at 100× bench scale. Both sides repartition to the derived
    // count on the join key: same HashPartitioning, so the join adds
    // no further exchange, and the explicit count is exempt from AQE
    // coalescing. One tiny aggregate over the memoized sorted frame.
    val sz = sorted.agg(
      sum(col("plen").cast("long")).as("sp"),
      sum(col("plen").cast("long") * col("n").cast("long")).as("spn")).head()
    val nParts =
      if (sz.isNullAt(0)) sorted.sparkSession.sparkContext.defaultParallelism
      else arrayJoinPartitions(sz.getLong(0), sz.getLong(1),
        sorted.sparkSession.sparkContext.defaultParallelism)
    val prefixes = sorted
      .select(col("doc_id"), col("ords"), col("n"),
        explode(slice(col("ords"), lit(1), col("plen"))).as("ord"))
    val pa = prefixes.toDF("doc_a", "ords_a", "na", "ord")
      .repartition(nParts, col("ord"))
    val pb = prefixes.toDF("doc_b", "ords_b", "nb", "ord")
      .repartition(nParts, col("ord")).hint("shuffle_hash")
    // The FULL predicate — including the exact-verify threshold —
    // lives in the join condition, cheap conjuncts first. Authoring
    // it here is load-bearing: a threshold filter left above the join
    // gets pushed into the condition by the optimizer AT THE FRONT,
    // and the O(n)-per-pair intersect then runs on every raw bucket
    // pair before the O(1) id/length cuts (profiled 2.5× slower).
    // Conjuncts short-circuit in authored order in both codegen and
    // interpreted evaluation.
    def c(oa: Column, ob: Column) =
      graft.functions.SortedIntersectSize.sortedIntersectSize(oa, ob)
    val verified = pa.join(pb,
      pa("ord") === pb("ord") && col("doc_a") < col("doc_b") &&
        col("nb") >= ceil(lit(t) * col("na")) &&
        col("nb") * lit(t) <= col("na") &&
        c(pa("ords_a"), pb("ords_b")) /
          (col("na") + col("nb") - c(pa("ords_a"), pb("ords_b"))) >= lit(t))
    // survivors are true-near-dup density — recomputing the intersect
    // for the output column costs nothing measurable
    verified
      .withColumn("c", c(col("ords_a"), col("ords_b")))
      .withColumn("jaccard", col("c") / (col("na") + col("nb") - col("c")))
      .select(col("doc_a"), col("doc_b"), r4(col("jaccard")).as("jaccard"))
      .distinct()
      .orderBy("doc_a", "doc_b")
  }

  /** Full PPJoin pipeline with the sorted-ords stage session-memoized
    * (the prefix explode's two self-join branches would otherwise
    * recompute the tokenize→join→collect_list lineage per branch). */
  private def ppJoinPairs(s: SparkSession, dir: String, items: DataFrame,
      t: Double, memoKey: String): DataFrame = {
    val sorted = graft.SessionMemo.cached(s, dir, memoKey)(ppSortedOrds(items, t))
    ppPairsInline(sorted, t)
  }

  /** The memoized token sorted-ords frame shared by the whole-token-
    * set family (symmetric Jaccard and asymmetric containment). Its
    * `plen` column is Jaccard-specific ([[JaccardT]]); containment
    * derives its own prefix length from `n`. */
  private[graft] def tokenSortedOrds(s: SparkSession, dir: String): DataFrame =
    graft.SessionMemo.cached(s, dir, "jaccard_sorted_ords")(
      ppSortedOrds(
        distinctTokens(s, dir).withColumnRenamed("tok", "item"), JaccardT))

  /** Exact token-set Jaccard ≥ 0.95 via the prefix-filtered PPJoin
    * above (the naive inverted-index join was 40× slower here and is
    * quadratic in duplicate-cluster size at 100 TB). */
  def jaccardPairs(s: SparkSession, dir: String): DataFrame =
    ppPairsInline(tokenSortedOrds(s, dir), JaccardT)

  private val ContainT = 0.9
  private val ContainSalts = 16

  /** Target per-partition BUILD bytes for the array-carrying
    * shuffled-hash joins (the containment join and the PPJoin pair
    * join). Their join sides carry full ordinal arrays (verification
    * runs inside the joined stage), so build bytes grow with the
    * total replicated array volume — and a shuffled-hash build must
    * fit ITS partition in memory, with every core building one
    * concurrently. A fixed partition count therefore turns corpus
    * growth directly into per-task heap growth (8 GiB × 32 cores
    * OOMed at 100× bench scale — first the containment join, then
    * the shingle PPJoin whose 3-shingle arrays are the fattest);
    * deriving the partition count from the measured array volume
    * keeps each build ≈ this many bytes at ANY corpus size — the
    * same population-scaling discipline as the LSH widths and
    * k-means cell counts, applied to partitioning. On a real cluster
    * this is exactly "shuffle partitions scale with the data", chosen
    * deterministically instead of left to AQE (whose 64 MB advisory
    * target under-counts the 2-3× in-memory expansion of a hash
    * relation over serialized bytes). */
  // 16 MB, not 32 (r14): a build sized AT 32 MB still crosses the
  // hash map's 32 MB page-doubling threshold, so its LongToUnsafeRowMap
  // grow() issues 64 MB single requests — and 32 concurrent ones meet
  // a storage-squeezed execution pool (memoized family caches pin the
  // storage half at 100× scale). The r14 sf10p leg failed the shingle
  // PPJoin exactly there ("Can't acquire 67108864 bytes…, got 44 MB");
  // at 16 MB per build every grow stays ≤ 32 MB. Same lesson the
  // celled join learned in r12 (911fdef), applied to the PPJoin /
  // containment array joins. Bench scale is unaffected (parallelism
  // floor).
  private val ArrayBuildTarget = 16L << 20

  /** Partition count for an array-carrying shuffled-hash join:
    * enough that the build side's ≈ `8·cells + 48·rows` bytes (8 per
    * long array element, ~48 fixed per row) land ≈
    * [[ArrayBuildTarget]] per partition, floored at the session's
    * parallelism (bench scale keeps its original 32-partition plan
    * bit-for-bit). `rows` = build rows after any prefix replication;
    * `cells` = total array elements over those rows (Σn² for the
    * containment join's full-array explode, Σ plen·n for the PPJoin
    * prefix explode). */
  private[graft] def arrayJoinPartitions(rows: Long, cells: Long,
      parallelism: Int): Int = {
    val buildBytes = 8L * cells + 48L * rows
    math.max(parallelism,
      ((buildBytes + ArrayBuildTarget - 1) / ArrayBuildTarget).toInt)
  }

  /** Asymmetric set-containment, MINIMAL-CONTAINER form: for each doc
    * x whose distinct-token set is ≥ [[ContainT]]-contained in some
    * STRICTLY LARGER doc's set, the best container (highest
    * containment, ties to the smallest then lowest-id container) —
    * the subset/quote-inclusion detector the symmetric Jaccard misses
    * (a short doc fully embedded in a long one has tiny Jaccard but
    * containment 1.0; greedy dedup drops the contained copy). Output
    * is ONE row per contained doc — linear at any scale, where the
    * full pair listing is quadratic in corpus overlap (8.3M rows on
    * the sf0.1 fixture, output-bound in ANY engine).
    *
    * Same PPJoin machinery, different filter algebra: C(x→y) =
    * |x∩y|/|x| ≥ t bounds only the CONTAINED side's prefix (its
    * rarest `|x| − ⌈t·|x|⌉ + 1` ordinals under the ascending-DF
    * order) while the container side probes with its FULL ordinal set
    * — the classic asymmetric prefix-filter result (any y with
    * |x∩y| ≥ t·|x| shares one of x's prefix items). The |x| < |y|
    * restriction is fused into the candidate join; both join sides
    * carry their ordinal arrays so verification runs inside the
    * joined stage (the pair stream never shuffles), and the argmax is
    * a pre-combined struct-max aggregate over the verified stream —
    * never a window, never a pair-level distinct (the argmax is
    * duplicate-insensitive). */
  def containmentTop(s: SparkSession, dir: String): DataFrame =
    containmentFromSorted(tokenSortedOrds(s, dir))

  /** The bounded probe side of the containment join. Unpruned, the
    * probe explodes EVERY doc's FULL ordinal set — a frequency-
    * proportional hot-key fan-out (the one plan-level scale risk this
    * family had). Two corpus-wide scalars, computed from the per-doc
    * frame (one row per doc — bounded driver data, the J2
    * scalar-through-driver pattern) and pushed as literals BELOW the
    * probe's explode, so pruned rows never reach the exchange:
    *  - maxPrefixOrd: the largest ordinal any doc's prefix reaches.
    *    Ordinals ascend with document frequency, so every ordinal
    *    beyond it is a token too common for ANY prefix — at web scale
    *    that is almost the whole token stream (the boilerplate tail),
    *    and it leaves the map side without ever shuffling.
    *  - minReach = ⌈t·min(n)⌉: a probe item at 0-based position jb
    *    can only witness containment of some x if
    *    1 + (nb − jb − 1) ≥ ⌈t·na⌉ ≥ ⌈t·min(n)⌉ — deeper probe
    *    positions cannot reach any doc's threshold. */
  private[graft] def containmentProbe(sorted: DataFrame): DataFrame = {
    val cplen = col("n") - ceil(lit(ContainT) * col("n")).cast("int") + 1
    val bounds = sorted.agg(
      max(element_at(col("ords"), cplen)).as("maxPrefixOrd"),
      min(col("n")).as("minNa")).head()
    // Empty corpus → both aggregates are NULL; return an empty probe
    // frame in the probe's shape rather than NPE on getLong.
    if (bounds.isNullAt(0) || bounds.isNullAt(1))
      return sorted.filter(lit(false)).select(col("doc_id"), col("ords"),
        col("n"), posexplode(col("ords")).as(Seq("jb", "ord")))
    val maxPrefixOrd = bounds.getLong(0)
    val minReach = math.ceil(ContainT * bounds.getInt(1)).toLong
    // each surviving position carries the doc's full ordinal array:
    // the candidate join verifies containment INLINE (see
    // containmentFromSorted), so the arrays must arrive with the row
    sorted.select(col("doc_id"), col("ords"), col("n"),
        posexplode(col("ords")).as(Seq("jb", "ord")))
      .filter(col("ord") <= lit(maxPrefixOrd) &&
        col("jb") <= col("n") - lit(minReach))
  }

  private[graft] def containmentFromSorted(sorted: DataFrame): DataFrame = {
    val cplen = col("n") - ceil(lit(ContainT) * col("n")).cast("int") + 1
    val prefixes = sorted.select(col("doc_id"), col("ords"), col("n"),
      posexplode(slice(col("ords"), lit(1), cplen)).as(Seq("ia", "ord")))
    val full = containmentProbe(sorted)
    // Salted candidate join: the join key is a single token ordinal,
    // and ordinal frequency is Zipfian — the hottest surviving
    // ordinals would otherwise land their whole probe bucket on ONE
    // reducer (on the 31-token sf0.1 fixture the unsalted join runs
    // on ≤31 of 32 cores). Salting by hash(doc_b) splits every probe
    // bucket [[ContainSalts]] ways and replicates only the PREFIX
    // side (the ~(1−t)·|tokens| smaller stream) across salts — the
    // same widened-key discipline as [[graft.operators.SkewJoin]],
    // applied pre-shuffle so no reducer ever owns a full hot bucket.
    //
    // Both sides carry their full ordinal arrays (the PPJoin-family
    // inverted-index layout: the index entry holds the record), so
    // verification runs INSIDE the joined stage and the pair stream
    // — the only super-linear quantity in this query — never leaves
    // the mapper. The previous shape shipped skinny witness pairs to
    // a repartition + distinct (25 M rows at sf0.1) and re-joined the
    // arrays per unique pair (11 M) through two more exchanges;
    // profiled, that pair dedup was the dominant exchange of the
    // whole query. There is nothing to dedup now: a pair verifying
    // through several witness ords yields IDENTICAL verified rows,
    // and the closing argmax is duplicate-insensitive by definition.
    // Population-scaled partitioning (see [[arrayJoinPartitions]]):
    // explicit repartition on the join keys — both sides land on the
    // same HashPartitioning, so the join adds no further exchange,
    // and the explicit count is exempt from AQE coalescing (whose
    // serialized-bytes target under-sizes in-memory hash builds).
    val sz = sorted.agg(
      sum(col("n").cast("long")).as("sn"),
      sum(col("n").cast("long") * col("n").cast("long")).as("sn2")).head()
    val nParts =
      if (sz.isNullAt(0)) sorted.sparkSession.sparkContext.defaultParallelism
      else arrayJoinPartitions(sz.getLong(0), sz.getLong(1),
        sorted.sparkSession.sparkContext.defaultParallelism)
    val pa = prefixes.toDF("doc_a", "ords_a", "na", "ia", "ord")
      .withColumn("salt", explode(lit((0 until ContainSalts).toArray)))
      .repartition(nParts, col("ord"), col("salt"))
    val pb = full.toDF("doc_b", "ords_b", "nb", "jb", "ord")
      .withColumn("salt", pmod(hash(col("doc_b")), lit(ContainSalts)))
      .repartition(nParts, col("ord"), col("salt"))
      .hint("shuffle_hash")
    // Positional filter (PPJoin's, in its asymmetric form): matching
    // at (ia, jb) caps the intersection at 1 + min(na−ia−1, nb−jb−1),
    // which must reach ⌈t·na⌉. Safe: a qualifying pair's FIRST common
    // item sits in x's prefix (else none does) at the minimal (ia,
    // jb), and that witness row always satisfies the cap.
    //
    // The containment threshold itself is ALSO authored into the join
    // condition, after the cheap conjuncts (see ppPairsInline: left
    // above the join it would be pushed in at the front and the
    // per-pair intersect would run before the O(1) cuts); survivors
    // recompute c for the argmax columns at contained-doc density.
    //
    // r12: the verify is the MINIMAL-WITNESS form
    // ([[graft.functions.SortedContainMinimal]]) — r11's threshold
    // merge scan ran once per SHARED PREFIX ORDINAL, so a true
    // containment (which shares its whole prefix) paid ~prefix-length
    // identical full verifies. Now two O(1) value bounds prune
    // value-range-impossible candidates, at most `ia` binary searches
    // establish whether THIS row holds the pair's smallest common
    // ordinal (every other witness row of the pair dies in ~one
    // binary search), and exactly the minimal row runs the threshold
    // merge — started at the witness, heads never rescanned: one
    // verify per distinct candidate pair, not per witness row (42.0 M
    // → 11.3 M verifies at sf0.1 by measurement). For survivors the
    // returned size equals the plain full-array intersect exactly, so
    // the result — and the oracle's brute-force replay — is unchanged.
    val required = ceil(lit(ContainT) * col("na")).cast("int")
    val csize = graft.functions.SortedIntersectSize
      .sortedContainMinimal(col("ords_a"), col("ords_b"), required,
        col("ia"), col("jb"))
    pa.join(pb,
        pa("ord") === pb("ord") && pa("salt") === pb("salt") &&
          col("na") < col("nb") &&
          lit(1) + least(col("na") - col("ia") - 1,
            col("nb") - col("jb") - 1) >= ceil(lit(ContainT) * col("na")) &&
          csize >= required)
      .withColumn("c", csize)
      .withColumn("containment", col("c") / col("na"))
      // argmax container per contained doc: lexicographic struct max
      // on (containment, −nb, −doc_b) — a map-side-combining hash
      // aggregate keyed by doc_a (bounded by the doc count), fed
      // directly by the verified witness stream; the UNROUNDED
      // containment ranks (an exact rational of integers, bit-equal
      // on both engines)
      .groupBy(col("doc_a").as("contained_doc"))
      .agg(max(struct(col("containment").as("cm"),
        (-col("nb")).as("negn"), (-col("doc_b")).as("negb"))).as("best"))
      .select(col("contained_doc"),
        (-col("best.negb")).as("container_doc"),
        r4(col("best.cm")).as("containment"))
      .orderBy("contained_doc")
  }

  /** Per-doc word 3-gram shingle ARRAYS (doc_id, shs — position
    * order), built IN-ROW with the [[anchorRows]] pattern (r14):
    * `transform(sequence(0, n−3), i → concat_ws(" ", slice(tk, i+1,
    * 3)))` over a materialized token-array column. The r12 form
    * exploded every token and lined up neighbors with a 2-deep
    * `lead()` chain under a per-doc window — one full token-stream
    * EXCHANGE + SORT paid inside the shared memo build just to read
    * tokens that were already adjacent in their own row (guide §2.4;
    * the old "~70× slower" nested-transform hazard was the TOKENIZER
    * re-inlined per element — here `tk` is a materialized column, the
    * exact shape the span family has run since r13). Docs under 3
    * tokens have no shingles and are excluded, mirroring the
    * oracle. */
  private[ext] def shingleArrays(s: SparkSession, dir: String): DataFrame =
    graft.SessionMemo.cached(s, dir, "shingle_rows") {
      val G = 3
      Tables.documents(s, dir)
        .repartition(s.sparkContext.defaultParallelism)
        .select(col("doc_id"), Text.tokens(col("text")).as("tk"))
        .filter(size(col("tk")) >= G)
        .select(col("doc_id"),
          transform(sequence(lit(0), size(col("tk")) - G),
            i => concat_ws(" ", slice(col("tk"), i + 1, lit(G)))).as("shs"))
    }

  /** The exploded (doc_id, pos, sh) row view of [[shingleArrays]] —
    * a projection off the memoized cache, no shuffle. */
  private[ext] def shingleRows(s: SparkSession, dir: String): DataFrame =
    shingleArrays(s, dir)
      .select(col("doc_id"), posexplode(col("shs")).as(Seq("pos", "sh")))

  private val ShingleT = 0.8

  /** n-gram (3-shingle) Jaccard ≥ 0.8 — the word-order-sensitive
    * near-dup detector (token-set Jaccard is order-blind; shingles
    * catch only genuine passage reuse). Shingles usually have low
    * document frequency, but "usually" is not a scale guarantee: one
    * boilerplate passage shared by n documents puts its shingles in n
    * docs and an unguarded inverted-index join emits n²/2 candidates
    * in that bucket. So this runs through the same PPJoin prefix +
    * length filter as the token query — under the ascending-DF
    * shingle order, boilerplate shingles are exactly the ones that
    * never enter a large doc's prefix (skew-bound asserted in
    * `DedupSpec`). Result is identical to the naive join, which is
    * what the DuckDB oracle runs. */
  def shingleJaccardPairs(s: SparkSession, dir: String): DataFrame =
    ppJoinPairs(s, dir,
      shingleRows(s, dir)
        .select(col("doc_id"), col("sh").as("item")).distinct(),
      ShingleT, "shingle_sorted_ords")

  /** Per-document 3-shingle novelty — first-occurrence attribution:
    * the fraction of a doc's distinct shingles that no lower-id doc
    * contains, i.e. how much NEW content each doc adds under the
    * deterministic doc_id processing order (greedy-dedup accounting;
    * boilerplate-heavy docs score near 0). One vocabulary-sized
    * min-aggregate over the shared memoized shingle rows; the
    * first-owner table re-joins SHUFFLE-HASH (shingle-keyed and
    * corpus-derived — broadcasting it is the standard at-scale
    * driver OOM). Ratios are exact bigint rationals. */
  def shingleNovelty(s: SparkSession, dir: String): DataFrame = {
    // first-owner build side is the gram VOCABULARY (corpus-derived
    // strings) — population-scaled width, the span-family discipline
    val nP = textJoinParts(shingleArrays(s, dir))
    val sh = shingleRows(s, dir).select(col("doc_id"), col("sh")).distinct()
    val first = sh.groupBy("sh").agg(min("doc_id").as("first_doc"))
    widthKeyed(sh, nP, col("sh"))
      .join(widthKeyed(first, nP, col("sh")).hint("shuffle_hash"), Seq("sh"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
          .as("novel_shingles"))
      .withColumn("novelty", r4(col("novel_shingles").cast("double") /
        col("n_shingles").cast("double")))
      .orderBy("doc_id")
  }

  private[ext] val SpanGram = 8

  /** Population-scaled partition count for the span/shingle families'
    * corpus-derived STRING-keyed shuffled-hash joins (duplicated-gram
    * semi-joins, first-owner joins, per-doc position-array joins).
    * The r14 sf100 probe caught `dedup_span_scrub` dying in
    * `UnsafeHashedRelation` ("not enough memory to build hash map"):
    * the duplicated-gram build side is corpus-derived, so at the
    * session's fixed shuffle width the per-partition hash build grew
    * 1000× while the width stayed 32 — the same fixed-width failure
    * class `arrayJoinPartitions` closed for the PPJoin family (8th
    * instance). Width derives from the SOURCE frame's optimizer size
    * estimate (no sizing action — gram volume is bounded by the token
    * stream, which is bounded by the source text bytes): ≈
    * [[SpanBuildTargetBytes]] of source text per build partition,
    * floored at the session parallelism so bench-scale plans keep
    * their 32-partition shape bit-for-bit. Explicit repartition on
    * the join key on BOTH sides: same HashPartitioning, so the join
    * adds no further exchange, and the explicit count is exempt from
    * AQE coalescing (whose serialized-bytes advisory under-counts
    * in-memory hash-relation expansion). */
  private val SpanBuildTargetBytes = 4L << 20

  private[ext] def textJoinParts(src: DataFrame): Int = {
    val bytes = src.queryExecution.optimizedPlan.stats.sizeInBytes
    val par = src.sparkSession.sparkContext.defaultParallelism
    math.max(par,
      (bytes / SpanBuildTargetBytes).min(BigInt(1 << 20)).toInt)
  }

  /** Explicit key repartition ONLY when the derived width exceeds the
    * session parallelism: below the threshold the join's own
    * ENSURE_REQUIREMENTS exchange at the session width is the
    * identical movement, and skipping the explicit node keeps
    * sub-threshold plans byte-stable (an aggregate output already
    * hash-partitioned on the key would otherwise pay a redundant
    * second exchange). */
  private[ext] def widthKeyed(df: DataFrame, nP: Int,
      c: org.apache.spark.sql.Column): DataFrame =
    if (nP > df.sparkSession.sparkContext.defaultParallelism)
      df.repartition(nP, c)
    else df

  /** Exact duplicated-substring SPANS (Lee et al. 2022,
    * arXiv:2107.06499: dedup training data by removing exact
    * substrings ≥ k tokens that recur anywhere in the corpus — the
    * suffix-array pass of "Deduplicating Training Data Makes Language
    * Models Better"). Spark-first redesign of the suffix-array scan:
    * a position is a DUPLICATED ANCHOR when its [[SpanGram]]-token
    * gram occurs ≥ 2 times corpus-wide; a duplicated substring of
    * length L produces exactly L − [[SpanGram]] + 1 consecutive
    * anchors, so maximal anchor runs (the gaps-and-islands pattern,
    * per-doc) ARE the duplicated spans — reported as (start, end,
    * covered tokens), the byte ranges a span-level dedup pass would
    * excise.
    *
    * Scale shape: anchor grams via per-doc `lead` windows
    * (doc-bounded partitions); the gram-frequency aggregate is
    * gram-vocabulary-sized with map-side combine; the duplicated-gram
    * table re-joins the anchor stream SHUFFLE-HASH (corpus-derived —
    * never broadcast); the island merge is a per-doc window. Output
    * is linear in true duplication mass — never pairwise (the
    * pair-attribution of WHO shares the span is [[jaccardPairs]]'s
    * job; a span-level excision doesn't need it). */
  def duplicateSpans(s: SparkSession, dir: String): DataFrame =
    duplicateSpansOf(
      Tables.documents(s, dir)
        .repartition(s.sparkContext.defaultParallelism))

  /** All [[SpanGram]]-gram anchor rows (doc_id, pos, sh), built
    * IN-ROW from each doc's token array — r13: the r12 form exploded
    * every token and ran a [[SpanGram]]−1-deep `lead` chain under a
    * per-doc window, which EXCHANGED and SORTED the whole token
    * stream just to line up consecutive tokens that were already
    * adjacent inside their own row. A single-level `transform` over
    * `sequence(0, n−G)` builds the identical shingle strings with no
    * exchange and no sort; the anchors then flow straight into the
    * global gram-frequency aggregate. `docs` must carry a
    * materialized `tk` token-array column. */
  private def anchorRows(docs: DataFrame): DataFrame =
    docs
      .filter(size(col("tk")) >= SpanGram)
      .select(col("doc_id"), posexplode(
        transform(sequence(lit(0), size(col("tk")) - SpanGram),
          i => concat_ws(" ", slice(col("tk"), i + 1, lit(SpanGram)))))
        .as(Seq("pos", "sh")))

  /** [[duplicateSpans]] over an arbitrary (doc_id, text) frame —
    * `DedupSpec` drives planted fixtures through this directly. */
  private[graft] def duplicateSpansOf(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wDoc = Window.partitionBy("doc_id").orderBy("pos")
    val nP = textJoinParts(docs)
    val anchors = anchorRows(
      docs.select(col("doc_id"), Text.tokens(col("text")).as("tk")))
    val dupSh = anchors.groupBy("sh").agg(count(lit(1)).as("c"))
      .filter(col("c") >= 2).select("sh")
    val dup = widthKeyed(anchors, nP, col("sh"))
      .join(widthKeyed(dupSh, nP, col("sh")).hint("shuffle_hash"), Seq("sh"))
      .select("doc_id", "pos")
    // islands: consecutive anchor positions share (pos − row_number);
    // the window runs over DUPLICATED anchors only, a small set
    dup.withColumn("grp", col("pos") - row_number().over(wDoc))
      .groupBy("doc_id", "grp")
      .agg(min("pos").as("sp"), max("pos").as("ep"),
        count(lit(1)).as("n_anchors"))
      .select(col("doc_id"), col("sp").cast("long").as("start_pos"),
        col("ep").cast("long").as("end_pos"), col("n_anchors"),
        (col("ep") - col("sp") + SpanGram).cast("long").as("span_tokens"))
      .orderBy("doc_id", "start_pos")
  }

  /** Span-level dedup EXCISION — the action to [[duplicateSpans]]'
    * detection (Lee et al. 2022 §4: cut every exact duplicated
    * substring ≥ k tokens out of the corpus): drop each token
    * position covered by a duplicated [[SpanGram]]-gram anchor,
    * rebuild the survivors in order, report per doc the before/
    * removed token counts and the md5 of the scrubbed
    * (space-rejoined) text — the content key a downstream exact-dedup
    * pass would consume.
    *
    * Coverage is computed with ONE window, no join and no per-anchor
    * position explosion: anchor flags ride the token stream, and
    * position q is covered iff any of the [[SpanGram]] rows ending at
    * q carries an anchor — `max(flag) OVER (rows G−1 PRECEDING)`
    * (positions are dense per doc, so the row frame IS the position
    * range). Docs shorter than one gram pass through untouched; a
    * fully-duplicated doc scrubs to the empty string. */
  def spanScrub(s: SparkSession, dir: String): DataFrame =
    spanScrubOf(
      Tables.documents(s, dir)
        .repartition(s.sparkContext.defaultParallelism))

  /** The scrub's shared survivor frame: per doc its token array `tk`,
    * token count `n`, and the SORTED surviving positions `keep`
    * (outside every duplicated span).
    *
    * r13 shape — decide on metadata, move the payload once (guide
    * §8): the r12 form exploded every token, window-sorted the stream
    * per doc TWICE (the lead chain and the coverage max), and
    * shuffled all token rows through the gram-frequency join. Now the
    * anchors are built in-row ([[anchorRows]]), only (doc_id, pos,
    * sh) METADATA rows flow through the frequency aggregate and join,
    * the duplicated anchor positions come back as ONE array per doc,
    * and coverage is computed in-row: covered = ∪ [a, a+G−1] over
    * anchor positions a, so `keep` = positions minus that union —
    * `array_except` keeps the left array's (ascending) order, which
    * reproduces the old position-sorted survivor order exactly. Token
    * payloads cross exactly one doc-keyed exchange (the join back),
    * instead of three token-level ones. */
  private def scrubKeep(docs: DataFrame): DataFrame = {
    val nP = textJoinParts(docs)
    val base = docs
      .select(col("doc_id"), Text.tokens(col("text")).as("tk"))
      .filter(size(col("tk")) >= 1)
    val anchors = anchorRows(base)
    val dupSh = anchors.groupBy("sh").agg(count(lit(1)).as("c"))
      .filter(col("c") >= 2).select("sh")
    val dupPos = widthKeyed(anchors, nP, col("sh"))
      .join(widthKeyed(dupSh, nP, col("sh")).hint("shuffle_hash"),
        Seq("sh"), "left_semi")
      .groupBy("doc_id").agg(sort_array(collect_list(col("pos"))).as("apos"))
    widthKeyed(base, nP, col("doc_id"))
      .join(widthKeyed(dupPos, nP, col("doc_id")).hint("shuffle_hash"),
        Seq("doc_id"), "left")
      .withColumn("n", size(col("tk")))
      .withColumn("keep",
        when(col("apos").isNull, sequence(lit(0), col("n") - 1))
          .otherwise(array_except(
            sequence(lit(0), col("n") - 1),
            array_distinct(flatten(transform(col("apos"),
              a => sequence(a, a + SpanGram - 1)))))))
  }

  /** Survivor token stream of the span scrub — (doc_id, stoks) with
    * `stoks` = the doc's tokens OUTSIDE every duplicated span, in
    * position order: the frame the scrub→pack composition feeds the
    * context-window chunker (`pipeline_scrub_pack`). Docs that
    * tokenize to nothing drop (they have no positions), exactly as in
    * [[spanScrubOf]]. */
  private[graft] def scrubbedDocs(docs: DataFrame): DataFrame =
    scrubKeep(docs)
      .select(col("doc_id"),
        transform(col("keep"), p => element_at(col("tk"), p + 1)).as("stoks"))

  /** [[spanScrub]] over an arbitrary (doc_id, text) frame —
    * `DedupSpec` drives planted fixtures through this directly. */
  private[graft] def spanScrubOf(docs: DataFrame): DataFrame =
    scrubKeep(docs)
      .select(
        col("doc_id"),
        col("n").cast("long").as("n_tokens"),
        (col("n") - size(col("keep"))).cast("long").as("n_removed"),
        md5(concat_ws(" ",
          transform(col("keep"), p => element_at(col("tk"), p + 1)))
          .cast("binary")).as("scrubbed_md5"))
      .orderBy("doc_id")

  private val WinnowW = 4

  /** Winnowing document fingerprints (Schleimer et al.): hash every
    * 3-gram shingle, slide a window of [[WinnowW]] hashes, keep each
    * window's minimum — a position-robust sketch whose size is
    * ~|doc|/w. Docs sharing ≥ 3 fingerprints are near-dup candidates.
    * Hashes are md5-based (`md5Hash60`) → the DuckDB oracle
    * recomputes the fingerprints exactly; `DedupSpec` additionally
    * asserts the candidates cover the shingle-Jaccard pairs.
    *
    * Shingles and their hashes come in-row off the shared
    * [[shingleArrays]] memo; the winnow itself stays a compiled
    * sliding `min` window frame over the exploded (doc_id, pos, h)
    * long rows — one skinny per-doc exchange. */
  def winnowPairs(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wDoc = Window.partitionBy("doc_id").orderBy("pos")
    // hash in-row off the memoized shingle arrays, THEN explode: the
    // per-doc window below exchanges (doc_id, pos, h) long rows, not
    // shingle strings (r14 — the string form rode the old row-cache's
    // build-time sort, which the in-row shingle build removed)
    val hashed = shingleArrays(s, dir)
      .select(col("doc_id"),
        posexplode(transform(col("shs"), x => md5Hash60(x)))
          .as(Seq("pos", "h")))
    // winnow: min over each w-length window of consecutive shingle
    // hashes (frame [0, w-1]); valid only where w hashes remain
    val fp = hashed
      .withColumn("fp", min(col("h")).over(wDoc.rowsBetween(0, WinnowW - 1)))
      .withColumn("hEnd", lead(col("h"), WinnowW - 1).over(wDoc))
      .filter(col("hEnd").isNotNull)
      .select(col("doc_id"), col("fp"))
      .distinct()
    // No document-frequency pruning here: winnowing's min-hash
    // selection correlates across near-dup docs, so the fingerprints
    // such pairs share ARE the popular ones — a df cap empties the
    // candidate set (coverage went 0.96 → 0.0 when tried). The pair
    // join stays bounded because each doc contributes only ~|doc|/w
    // distinct fingerprints.
    val a = fp.toDF("doc_a", "fp")
    val b = fp.toDF("doc_b", "fp").hint("shuffle_hash")
    a.join(b, Seq("fp"))
      .filter(col("doc_a") < col("doc_b"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("shared_fps"))
      .filter(col("shared_fps") >= 3)
      .orderBy("doc_a", "doc_b")
  }

  private val NumPerm = 32
  private val Bands = 4 // 8 rows per band → s-curve threshold ≈ 0.77

  /** Per-document MinHash signatures: for permutation k, the min over
    * the distinct token set of the md5-based 60-bit hash `H(k, tok)`
    * (see [[graft.functions.MinHashSketch]]). One pass over the token
    * rows via the custom `TypedImperativeAggregate` — no token×perm
    * row explosion, no collect_list pivot; the map-side partial
    * combine means the only shuffle carries one 32-long array per
    * document. Returns (doc_id, sig: array&lt;long&gt; ordered by k). */
  private[graft] def signatures(tokenRows: DataFrame): DataFrame =
    tokenRows
      .groupBy("doc_id")
      .agg(graft.functions.MinHashSketch
        .minhashSketch(col("tok"), NumPerm).as("sig"))

  /** The corpus's [[signatures]], session-memoized: every MinHash
    * family (LSH, clusters, graph) reads this one cached frame. */
  private def minhashSignatures(s: SparkSession, dir: String): DataFrame =
    graft.SessionMemo.cached(s, dir, "minhash_signatures") {
      signatures(distinctTokens(s, dir))
    }

  /** MinHash + LSH near-dup candidates, est. Jaccard ≥ 0.9 — the
    * 100 TB dedup path. Banding turns all-pairs similarity into an
    * equi-join: explode each signature into (band, hash-of-rows)
    * keys, shuffle by key, pair only within buckets. Estimated
    * Jaccard = fraction of agreeing signature positions
    * (`zip_with` + filter + size). */
  def minhashLsh(s: SparkSession, dir: String): DataFrame = {
    // session-memoized: the banded/sa/sb branches would otherwise
    // re-run the signature aggregation three times (ReusedExchange
    // shares the shuffle but each branch re-merges the aggregate)
    val docs = minhashSignatures(s, dir)
    // One shuffle, zero pair-stream exchanges: each band row carries
    // the doc's signature (32 longs) plus the 4-long band-key array,
    // estimation runs INSIDE the joined stage, and a FIRST-COLLISION
    // filter on the band-key arrays (keep the pair only where no
    // earlier band also collides) makes emission exactly-once — no
    // `.distinct()` anywhere. The earlier shape shipped skinny (id,
    // band, bucket) rows, deduped the PAIR stream corpus-wide, and
    // re-joined the signature table twice; at 10× bench scale that
    // pair distinct dominated. (The historical 100×-slower variant
    // keyed the distinct on the ARRAYS themselves — the fix is not
    // avoiding arrays on the wire, it is never exchanging the pair
    // stream at all.) The join stays SHUFFLE-HASH: signatures are
    // corpus-sized, a forced broadcast dies at 100 TB, and unhinted
    // the array column defeats Catalyst's size estimate into a
    // ~30×-slower sort-merge.
    val banded = bandedRows(docs)
    val a = banded.toDF("doc_a", "sig_a", "bks_a", "band", "bucket")
    val b = banded.toDF("doc_b", "sig_b", "bks_b", "band", "bucket")
      .hint("shuffle_hash")
    // full predicate authored in the join condition, cheap conjuncts
    // first (see ppPairsInline: a filter left above the join is
    // pushed in AT THE FRONT and the per-pair array scan then runs on
    // every raw bucket pair); survivors recompute the estimate for
    // the output column at near-dup density — free
    val est = estJaccard(col("sig_a"), col("sig_b"))
    a.join(b,
        a("band") === b("band") && a("bucket") === b("bucket") &&
          col("doc_a") < col("doc_b") &&
          firstCollision(a("band"), col("bks_a"), col("bks_b")) && est >= lit(0.9))
      .withColumn("est_jaccard", est)
      .select(col("doc_a"), col("doc_b"), r4(col("est_jaccard")).as("est_jaccard"))
      .orderBy("doc_a", "doc_b")
  }

  private val DeltaMod = 7L

  /** Incremental dedup-index maintenance — the per-batch flow a
    * production pipeline runs instead of corpus-wide re-pairing: the
    * standing corpus keeps its banded MinHash index; an ARRIVING
    * batch (here the deterministic `doc_id % 7 = 0` slice — the
    * established IVM split device) computes signatures for its docs
    * only and PROBES the full index with the same band equi-join,
    * emitting exactly the near-dup pairs that touch the batch. Join
    * work is ∝ |batch| × bucket occupancy — at 100 TB the index side
    * is the persisted bucket table and each ingest batch pays
    * O(|batch|), never O(|corpus|²) (the corpus-wide `dedup_*_pairs`
    * queries are the bootstrap pass; this is every pass after).
    *
    * Exactly-once without a pair `.distinct()`: delta×base pairs can
    * only emit from the delta orientation (base docs never probe);
    * delta×delta pairs appear in both orientations and are gated to
    * probe < index; the first-collision band filter (shared with
    * [[minhashLsh]]) dedupes across bands. Probe side shuffle-joins
    * the corpus-sized index SHUFFLE-HASH — never broadcast. Output is
    * [[minhashLsh]] restricted to delta-touching pairs (spec-asserted
    * row-for-row), plus a `pair_kind` readout (did the batch collide
    * with the standing corpus or within itself). Oracle: the same
    * pigeonhole brute-force, restricted. */
  def incrementalLsh(s: SparkSession, dir: String): DataFrame = {
    val docs = minhashSignatures(s, dir)
    probePairs(docs.filter(col("doc_id") % DeltaMod === 0),
        docs.withColumn("in_probe", col("doc_id") % DeltaMod === 0))
      .withColumn("pair_kind",
        when(col("doc_a") % DeltaMod === 0 && col("doc_b") % DeltaMod === 0,
          lit("delta_delta")).otherwise(lit("delta_base")))
      .orderBy("doc_a", "doc_b")
  }

  /** Banded rows of a signature frame, the xxhash64 band keys that
    * [[minhashLsh]] and the probe faces join on: (doc_id, sig, bks,
    * band, bucket), plus any extra columns `sigs` carries. */
  private def bandedRows(sigs: DataFrame): DataFrame = {
    val rowsPerBand = NumPerm / Bands
    val extra = sigs.columns.filterNot(Set("doc_id", "sig")).map(col).toSeq
    sigs.select(Seq(col("doc_id"), col("sig"),
        array((0 until Bands).map(b =>
          xxhash64(slice(col("sig"), b * rowsPerBand + 1, rowsPerBand))): _*)
          .as("bks")) ++ extra: _*)
      .select(Seq(col("doc_id"), col("sig"), col("bks")) ++ extra :+
        posexplode(col("bks")).as(Seq("band", "bucket")): _*)
  }

  /** The exactly-once gate of a band join: keep a pair only in the
    * first band where it collides, i.e. where no earlier band's keys
    * (`bksA`, `bksB`) also agree — so no pair `.distinct()` is needed. */
  private def firstCollision(band: Column, bksA: Column, bksB: Column): Column =
    (0 until Bands - 1).map { bp =>
      (band <= lit(bp)) || (element_at(bksA, bp + 1) =!= element_at(bksB, bp + 1))
    }.reduce(_ && _)

  /** Estimated Jaccard of two MinHash signatures: the fraction of
    * agreeing positions. */
  private def estJaccard(sigA: Column, sigB: Column): Column =
    graft.functions.ArrayAgreeCount.arrayAgreeCount(sigA, sigB) / lit(NumPerm)

  /** The index-probe primitive both incremental faces share: the
    * probe batch's banded rows equi-join the standing index's banded
    * rows (the index must CONTAIN the probe batch for within-batch
    * pairs to surface; its `in_probe` flag marks those rows so a
    * probe×probe pair emits from ONE orientation only). Index side
    * SHUFFLE-HASH — at 100 TB it is the persisted corpus-so-far
    * bucket table. Output: (doc_a, doc_b, est_jaccard) at est ≥ 0.9,
    * exactly-once via the orientation gate + the shared
    * first-collision band filter. */
  private[graft] def probePairs(probeSigs: DataFrame,
      indexSigs: DataFrame): DataFrame = {
    val probe = bandedRows(probeSigs.select("doc_id", "sig"))
      .toDF("doc_p", "sig_p", "bks_p", "band", "bucket")
    val index = bandedRows(indexSigs)
      .toDF("doc_i", "sig_i", "bks_i", "in_probe", "band", "bucket")
      .hint("shuffle_hash")
    val est = estJaccard(col("sig_p"), col("sig_i"))
    probe.join(index,
        probe("band") === index("band") && probe("bucket") === index("bucket") &&
          col("doc_p") =!= col("doc_i") &&
          (!col("in_probe") || col("doc_p") < col("doc_i")) &&
          firstCollision(probe("band"), col("bks_p"), col("bks_i")) &&
          est >= lit(0.9))
      .select(least(col("doc_p"), col("doc_i")).as("doc_a"),
        greatest(col("doc_p"), col("doc_i")).as("doc_b"),
        r4(est).as("est_jaccard"))
  }

  /** Signatures of an arbitrary (doc_id, text) frame — the per-batch
    * build the streaming continuous-dedup face runs (the (session,
    * dir) form stays memoized for the corpus-wide queries). */
  private[graft] def signaturesOf(docs: DataFrame): DataFrame =
    signatures(docs.select(col("doc_id"),
      explode(array_distinct(Text.tokens(col("text")))).as("tok")))

  /** Incremental CLUSTER-MAP maintenance — the missing IVM face next
    * to the incremental aggregate, incremental join, retraction, and
    * incremental pair-index queries: a production pipeline persists
    * the cluster map (the thing curation keys on) and must fold an
    * arriving batch in WITHOUT re-running the fixpoint over the whole
    * corpus graph. The standing state is the base corpus's converged
    * map; the batch (the established `doc_id % ${DeltaMod} = 0` IVM
    * split device) probes the standing band-bucket index, and only
    * the components it actually touches re-solve:
    *
    *  1. delta band rows name the buckets the batch occupies (a
    *     batch-bounded set — it broadcasts);
    *  2. base rows in those buckets are the TOUCHED docs (work ∝
    *     |batch| × bucket occupancy — the [[incrementalLsh]] bound);
    *  3. their components under the standing map are AFFECTED; every
    *     other component passes through UNTOUCHED (a doc can only
    *     join a component by sharing a bucket with a member, which
    *     would have made that component affected — so kept rows keep
    *     both rep and size);
    *  4. the bounded re-solve runs the shared CC machinery over
    *     delta band rows ∪ touched-bucket base rows ∪ one
    *     membership bucket per affected component (the standing
    *     star forest re-entering as evidence — connectivity inside
    *     an affected component never re-derives from raw bands).
    *
    * New connectivity can only travel through a delta doc (a
    * base–base bucket is base connectivity, already inside the
    * standing map), so the restricted evidence is connectivity-
    * complete and the maintained map ≡ the full recompute row-for-row
    * (spec-asserted). Output adds `path` (kept | resolved) — the
    * incrementality readout the oracle restates from the base-only
    * clustering. */
  def incrementalClusters(s: SparkSession, dir: String): DataFrame = {
    val docs = minhashSignatures(s, dir)
    val bk = minhashBucketsCached(s, dir, docs)
    val isDelta = col("doc_id") % DeltaMod === 0
    // the standing state a prior pass persisted: the base-only map
    val baseMap = clusterMap(s, dir, "minhash_clusters_base") {
      clustersFromBuckets(bk.filter(!isDelta))
    }
    foldClusterBatch(bk.filter(!isDelta), baseMap, bk.filter(isDelta))
      .orderBy("doc_id")
  }

  /** ONE maintenance step of the cluster map — the fold the batch
    * query above runs once and the streaming continuous-clustering
    * face (DedupSpec) runs per micro-batch over a growing index:
    * `indexBk` is the standing corpus's (doc_id, bucket) table,
    * `standingMap` its converged cluster map, `batchBk` the arriving
    * batch's bucket rows. Returns the maintained map for index ∪
    * batch with the kept/resolved `path` readout. */
  private[graft] def foldClusterBatch(indexBk: DataFrame,
      standingMap: DataFrame, batchBk: DataFrame): DataFrame = {
    // touched standing docs: index rows in batch-occupied buckets —
    // the batch bucket set is batch-bounded, so it broadcasts with
    // the bounding filter inside the broadcast
    val shared = indexBk.join(
      broadcast(batchBk.select("bucket").distinct()), Seq("bucket"), "left_semi")
    val affectedReps = standingMap
      .join(shared.select("doc_id").distinct().hint("shuffle_hash"),
        Seq("doc_id"), "left_semi")
      .select("cluster_rep").distinct()
    // affected members re-enter via ONE membership bucket per
    // component (the standing forest as evidence), so intra-component
    // connectivity is one star contraction, never re-derived bands
    val compBk = standingMap
      .join(affectedReps.hint("shuffle_hash"), Seq("cluster_rep"), "left_semi")
      .select(col("doc_id"),
        concat(lit("rep:"), col("cluster_rep").cast("string")).as("bucket"))
    val resolved = clustersFromBuckets(
        batchBk.select("doc_id", "bucket")
          .unionByName(shared.select("doc_id", "bucket"))
          .unionByName(compBk))
      .withColumn("path", lit("resolved"))
    val kept = standingMap
      .join(affectedReps.hint("shuffle_hash"), Seq("cluster_rep"), "left_anti")
      .select(col("doc_id"), col("cluster_rep"), col("cluster_size"),
        lit("kept").as("path"))
    kept.unionByName(resolved)
  }

  /** CROSS-MODAL entity resolution — one cluster map over the union
    * of every modality's near-dup evidence: text (MinHash band
    * buckets — the `dedup_clusters` graph), embeddings (the verified
    * cosine pairs of `dedup_embedding_pairs`), and images (the
    * verified Hamming pairs of `mm_image_dedup`), all on the aligned
    * id space. Two items are one ENTITY iff a chain of evidence in
    * ANY modality connects them — the form a multimodal training-data
    * pipeline actually dedups on (a recaptioned image, a re-encoded
    * page, and a paraphrase are the same sample even when no single
    * modality links all three).
    *
    * r12: the union is PRE-CONTRACTED through the per-family cluster
    * maps the session already holds — `dedup_clusters` (MinHash band
    * reachability), `dedup_embedding_clusters` (verified cosine
    * pairs), `mm_image_clusters` (dHash membership + verified Hamming
    * pairs) are each the transitive CLOSURE of their own evidence, so
    * feeding (doc → family cluster_rep) edges into the fixpoint
    * yields doc-level reachability IDENTICAL to the raw evidence
    * union: cross-modal chains only ever bridge through shared DOCS
    * (band-bucket and dHash nodes are family-internal — no evidence
    * edge joins a text bucket to an image hash except via a
    * document), and within a family the rep edge set is exactly its
    * closure. The r11 form re-derived text connectivity from raw
    * doc→bucket membership (|membership| ≈ 4 rows/doc plus pair-level
    * bridges) although the memoized maps already hold the answer; the
    * contracted edge list is ≤ 3 doc-level star edges per doc — its
    * own CC is a star forest almost everywhere and converges in 1–2
    * rounds (the ~31 s own-CC half of the 61.2 s sf10 query). All
    * three family maps are session-memoized, so in any real session
    * (and the bench) they are built once and REUSED here. Output one
    * row per document: (doc_id, cluster_rep, cluster_size). */
  def crossModalClusters(s: SparkSession, dir: String): DataFrame =
    clusterMap(s, dir, "crossmodal_clusters") {
      // each family map emits (rep → member) star edges; rep is the
      // component-MIN member id, so rep < doc orients every edge the
      // way the fixpoint expects (h_a < h_b), and singleton rows
      // (rep == member) contribute nothing
      def repEdges(map: DataFrame, idCol: String) = map
        .filter(col("cluster_rep") =!= col(idCol))
        .select(col("cluster_rep").as("h_a"), col(idCol).as("h_b"))
      // The three family maps are INDEPENDENT one-time builds (text
      // band CC, embedding Lloyd+verify+CC, image dHash+verify+CC),
      // each an eager chain of checkpointed fixpoint jobs — run
      // serially they were ~90% of this query's cost when it is the
      // session's first consumer. Overlap them from a small thread
      // pool (guide §2.6: Spark happily runs several jobs at once;
      // each build's serial small-stage tail back-fills the others'
      // idle cores). Memoized builds are single-flight, so in a
      // session that already holds a family map the future returns
      // it instantly; attribution re-establishes per thread so the
      // bench artifact still itemizes who paid which build.
      import scala.concurrent.{Await, Future, ExecutionContext}
      import scala.concurrent.duration.Duration
      val label = graft.SessionMemo.currentAttribution
      def attributed[T](f: => T): T = label match {
        case Some(l) => graft.SessionMemo.attributing(l)(f)
        case None    => f
      }
      val pool = java.util.concurrent.Executors.newFixedThreadPool(3)
      val edges = try {
        implicit val ec: ExecutionContext =
          ExecutionContext.fromExecutorService(pool)
        val builds = Seq(
          Future(attributed(repEdges(clusters(s, dir), "doc_id"))),
          Future(attributed(
            repEdges(Similarity.embeddingClusters(s, dir), "vec_id"))),
          Future(attributed(
            repEdges(Multimodal.imageClusters(s, dir), "media_id"))))
          .map(Await.result(_, Duration.Inf))
        builds.reduce(_ unionByName _).distinct()
      } finally pool.shutdown()
      // every doc enters as its own node; singletons re-enter via the
      // left join on the finished node→root map
      val ids = graft.Tables.documents(s, dir)
        .select(col("doc_id"), col("doc_id").as("node"))
      clustersFromHashGraph(ids, edges, "doc_id")
    }

  /** Blocking-quality report — the dedup machinery measuring ITSELF
    * (Christen's record-linkage metrics): for the banded MinHash
    * index, the reduction ratio (how much of the n(n−1)/2 all-pairs
    * space the blocking avoided) and pairs completeness (what share
    * of TRUE near-dup pairs the blocking still covers). Candidates
    * come from the oracle-replayable md5 band buckets
    * ([[minhashBuckets]]); true pairs verify candidates at est ≥ 0.9.
    * Completeness is emitted as literal 1.0 — the pigeonhole theorem
    * (est ≥ 0.9 of 32 ⇒ ≤ 3 mismatches ⇒ some 8-row band agrees)
    * guarantees it — and the ORACLE recomputes both counts from the
    * brute-force truth: if banding ever missed a true pair, the
    * oracle's true_pairs would exceed the banded count AND its
    * measured completeness would dip below 1.0, failing the hash gate
    * twice. Same certification device as the GK-quantile and KMV
    * queries. All counts are distributed aggregates; only 1-row
    * frames cross-join. */
  def blockingQuality(s: SparkSession, dir: String): DataFrame = {
    val sigs = minhashSignatures(s, dir)
    // One band join, zero pair-stream exchanges (the minhashLsh
    // discipline — the first cut of this query `.distinct()`ed the
    // candidate pair stream and became the bench's most expensive
    // query at 10× data): each signature carries its 4 md5 band keys
    // (md5, not xxhash, because the CANDIDATE COUNT depends on the
    // bucket function and the oracle must compute the identical
    // buckets), pairs emit exactly once via the first-collision
    // filter, and both counts fold map-side inside the joined stage.
    val rowsPerBand = NumPerm / Bands
    def bandKey(b: Int) = md5(concat_ws(",",
      lit(b).cast("string") +:
        (0 until rowsPerBand).map(j =>
          element_at(col("sig"), b * rowsPerBand + j + 1).cast("string")): _*)
      .cast("binary"))
    val banded = sigs
      .select(col("doc_id"), col("sig"),
        array((0 until Bands).map(bandKey): _*).as("bks"))
      .select(col("doc_id"), col("sig"), col("bks"),
        posexplode(col("bks")).as(Seq("band", "bucket")))
    val a = banded.toDF("doc_a", "sig_a", "bks_a", "band", "bucket")
    val b = banded.toDF("doc_b", "sig_b", "bks_b", "band", "bucket")
      .hint("shuffle_hash")
    val est = estJaccard(col("sig_a"), col("sig_b"))
    val counts = a.join(b,
        a("band") === b("band") && a("bucket") === b("bucket") &&
          col("doc_a") < col("doc_b") &&
          firstCollision(a("band"), col("bks_a"), col("bks_b")))
      .agg(count(lit(1)).as("candidate_pairs"),
        sum(when(est >= lit(0.9), 1L).otherwise(0L)).as("true_pairs"))
    val nDocs = sigs.agg(count(lit(1)).as("n_docs"))
    // The literal-1.0 pairs_completeness below rests on a pigeonhole:
    // est ≥ 0.9 means ≤ NumPerm − ⌈0.9·NumPerm⌉ disagreeing rows, and
    // while that count is < Bands some band must agree fully, so every
    // true pair IS a candidate. A future (NumPerm, Bands) retune that
    // breaks the premise must fail HERE at first use, not silently
    // keep reporting 1.0 until the oracle gate is re-run.
    require(NumPerm - math.ceil(0.9 * NumPerm).toInt < Bands,
      s"pairs_completeness=1.0 needs NumPerm-ceil(.9*NumPerm) < Bands; " +
        s"got NumPerm=$NumPerm Bands=$Bands")
    // n(n−1) is even, so the shift IS exact integer halving (a `/ 2`
    // would route through double division); exact to n ~ 3·10⁹ docs
    val totalPairs = shiftright(col("n_docs") * (col("n_docs") - 1), 1)
    nDocs.crossJoin(broadcast(counts))
      .select(col("n_docs"),
        totalPairs.as("total_pairs"),
        col("candidate_pairs"), col("true_pairs"),
        round(lit(1.0) - col("candidate_pairs") / totalPairs.cast("double"), 4)
          .as("reduction_ratio"),
        round(lit(1.0), 4).as("pairs_completeness"))
  }

  private val MaxCcIters = 100

  /** Oracle-reproducible band-bucket keys for the cluster query:
    * bucket = md5("band,sig[b·8+1],…,sig[b·8+8]"). [[minhashLsh]]
    * hashes its buckets with xxhash64 (cheaper, and its oracle never
    * needs the buckets thanks to the pigeonhole argument) — cluster
    * MEMBERSHIP depends on the actual buckets (a pair below the est
    * threshold that still shares one band connects its components),
    * so here the bucket key must be a hash DuckDB computes
    * identically. */
  private[graft] def minhashBuckets(sigs: DataFrame): DataFrame = {
    val rowsPerBand = NumPerm / Bands
    sigs.select(
      col("doc_id"),
      explode(transform(sequence(lit(0), lit(Bands - 1)), b =>
        md5(concat_ws(",",
          b.cast("string"),
          transform(slice(col("sig"), b * rowsPerBand + 1, lit(rowsPerBand)),
            x => x.cast("string"))).cast("binary"))))
        .as("bucket"))
  }

  /** (session, dir)-memoized band-bucket frame (doc_id, bucket —
    * [[Bands]] skinny rows per doc): the cluster map, the star-edge
    * builds (PageRank / LPA), and the incremental face's three
    * per-run evaluations all consume the identical banding; before
    * r13 each re-rendered the 4 md5 band keys from the signature
    * array per consumer (~5-6 bandings per session). */
  private def minhashBucketsCached(s: SparkSession, dir: String,
      sigs: DataFrame): DataFrame =
    graft.SessionMemo.cached(s, dir, "minhash_buckets")(minhashBuckets(sigs))

  /** Is the edge list a proper star forest — every source node has
    * exactly ONE parent, and no parent is itself a source? (Both
    * checks are needed: a node with two root parents passes the
    * chain check but silently splits its component.)
    *
    * ONE aggregate job (r14): per node, count appearances as a
    * source (`np`) and in total (`nt`); the forest property fails
    * iff some node has np > 1 (two parents) or np ≥ 1 ∧ nt > np
    * (appears as a source AND as someone's parent — a chain). The
    * r13 form ran two jobs per probe — a groupBy-isEmpty plus a
    * distinct + semi-join-isEmpty (two extra exchanges) — and the
    * probe runs once per fixpoint round across every CC-consuming
    * query, so its serial stage count is the round constant the
    * bench pays ~10× per pass (guide §2.4: fewer, fused stages). */
  private def isStarForest(e: DataFrame): Boolean =
    e.select(col("u").as("node"), lit(1L).as("p"))
      .union(e.select(col("v").as("node"), lit(0L).as("p")))
      .groupBy("node")
      .agg(sum("p").as("np"), count(lit(1)).as("nt"))
      .where(col("np") > 1 || (col("np") >= 1 && col("nt") > col("np")))
      .isEmpty

  /** Connected components over a bipartite (doc_id, bucket) graph.
    * Returns one row per doc: (doc_id, cluster_rep = component-min
    * doc_id, cluster_size). The buckets star-contract ([[starEdges]]:
    * member → bucket-min member) into the [[clustersFromHashGraph]]
    * assembly with identity nodes: every doc is its own node, so the
    * forest root IS the component-min doc and "min id per root" is the
    * root. Docs whose buckets are all singletons have no edge and
    * re-enter as their own node. Output is LINEAR in corpus size where
    * the `dedup_*_pairs` queries are quadratic in duplicate-cluster
    * size — the form a pipeline can actually act on (keep rep, drop
    * the rest). */
  private[graft] def clustersFromBuckets(bucketsIn: DataFrame): DataFrame = {
    val sess = bucketsIn.sparkSession
    // Materialize the bucket graph ONCE: it feeds both the edges and
    // the node set, and its lineage may be a whole evidence pipeline
    // ([[foldClusterBatch]]'s union of batch, touched and membership
    // buckets), which must not re-run per access.
    val (buckets, bucketIds) = checkpointTracked(bucketsIn)
    val nodes = buckets.select("doc_id").distinct()
      .select(col("doc_id"), col("doc_id").as("node"))
    val out = clustersFromHashGraph(nodes, starEdges(buckets, "h_b", "h_a"), "doc_id")
    release(sess, bucketIds)
    out
  }

  /** Star contraction of a (doc_id, bucket) membership frame: one
    * edge per bucket member → the bucket's min member, exactly once;
    * self edges drop, so singleton buckets contribute nothing. `u`
    * names the member column, `v` the min. The cluster maps and the
    * PageRank/LPA star graph share it. */
  private def starEdges(buckets: DataFrame, u: String, v: String): DataFrame = {
    val bmin = buckets.groupBy("bucket").agg(min("doc_id").as("m"))
    buckets.join(bmin.hint("shuffle_hash"), Seq("bucket"))
      .filter(col("doc_id") =!= col("m"))
      .select(col("doc_id").as(u), col("m").as(v)).distinct()
  }

  /** The large-star/small-star fixpoint (Kiveris et al., "Connected
    * Components in MapReduce and Beyond"): large-star re-points every
    * neighbor LARGER than a node at the minimum of its closed
    * neighborhood; small-star re-points the node and its SMALLER
    * neighbors at that minimum. The alternation contracts path length
    * multiplicatively, converging in O(log d) rounds where plain
    * min-label propagation needs O(d) rounds on diameter-d components
    * — chained near-dups (doc A ~ B ~ C ... sharing successive band
    * buckets) are exactly the long-path regime, and at 100 TB the
    * round count is the serial bottleneck.
    *
    * Takes an oriented exactly-once edge frame (u, v; v < u), returns
    * the converged star forest (member u → component-min v) as a
    * checkpointed frame with its tracked RDD ids — the CALLER releases
    * those once its derived result is materialized — and the round
    * count. Every round shuffles only (long, long) edges, and the edge
    * count never grows (large-star emits exactly one edge per input
    * edge, small-star at most one per edge plus one per center).
    * Rounds run on [[graft.SessionMemo.iterate]] (per-round
    * `localCheckpoint`; swap for reliable `checkpoint` on a real
    * cluster), so executor storage is O(1) in rounds. Convergence is
    * the star-forest test (unique parent + no chains), checked on the
    * just-checkpointed edges. At the fixpoint each component is one
    * star rooted at its minimum member — both transforms preserve
    * connectivity, so the roots ARE the component minima. */
  private[graft] def ccFixpoint(initialEdges: DataFrame): Rounds = {
    val sess = initialEdges.sparkSession
    val (edges0, edgeIds0) = checkpointTracked(initialEdges)
    val r = iterate(edges0, edgeIds0, MaxCcIters)(isStarForest) { (edges, _) =>
      // large-star: m = min of the closed neighborhood of u; every
      // neighbor v > u re-points at m. Output orientation stays
      // first > second (v > u >= m), and |output| = |edges| exactly
      // (one row per symmetric orientation with v > u).
      val sym = edges.union(edges.select(col("v").as("u"), col("u").as("v")))
      val nbrMin = sym.groupBy("u").agg(min("v").as("mn"))
        .select(col("u"), least(col("u"), col("mn")).as("m"))
      val ls = sym.join(nbrMin.hint("shuffle_hash"), Seq("u"))
        .where(col("v") > col("u"))
        .select(col("v").as("u"), col("m").as("v"))
      // small-star: all edges now point small; each center u and its
      // smaller neighbors re-point at the neighborhood min m.
      val sm = ls.groupBy("u").agg(min("v").as("m"))
      ls.join(sm.hint("shuffle_hash"), Seq("u"))
        .select(col("v").as("u"), col("m").as("v"))
        .where(col("u") =!= col("v"))
        .union(sm.where(col("u") =!= col("m"))
          .select(col("u"), col("m").as("v")))
        .distinct()
    }
    if (!r.done) {
      release(sess, r.ids)
      throw new IllegalStateException(
        s"connected components did not converge in $MaxCcIters rounds")
    }
    r
  }

  /** Connected components where the graph is ALREADY HASH-LEVEL:
    * nodes are the distinct sketch values (identical-sketch docs share
    * a node by construction — no bucket row per doc, no pair-key
    * string per hash pair), edges the verified near hash-pairs
    * (columns `h_a` < `h_b`). The doc-level bucket route materializes
    * two doc rows plus one ~45-byte string bucket PER HASH PAIR — at
    * 100× bench scale the SimHash family's 12.6M hash pairs became a
    * ~33M-row string-keyed bucket frame whose contraction join OOMed
    * a 32-partition shuffled-hash build. Here the fixpoint runs over
    * (long, long) edges only — the graph family's proven sf10 shape —
    * and the ids join the finished hash→root map once. Reachability,
    * hence the cluster map, is identical to the id-level pair
    * graph's: same-sketch ids collapse into one node, verified pairs
    * bridge nodes.
    *
    * The one assembly of every cluster map: `idHash` has 2 columns,
    * (id, hash); the output is (`idCol`, cluster_rep = component-min
    * id, cluster_size), ordered by `idCol`. It is a checkpoint that
    * stays pinned until [[graft.SessionMemo.clear]] — exactly the
    * frame consumers read. */
  private[graft] def clustersFromHashGraph(idHash: DataFrame,
      hashPairs: DataFrame, idCol: String): DataFrame = {
    val sess = idHash.sparkSession
    val forest = ccFixpoint(
      hashPairs.select(col("h_b").as("u"), col("h_a").as("v")))
    // hash → component-min hash; absent hashes are singleton nodes
    val withRoot = idHash.toDF(idCol, "hash")
      .join(forest.frame.toDF("hash", "root").hint("shuffle_hash"), Seq("hash"), "left")
      .select(col(idCol), coalesce(col("root"), col("hash")).as("root"))
    // component-min id is the rep the pair-graph oracle states — one
    // aggregate + one join over the id space, all long keys
    val reps = withRoot.groupBy("root").agg(
      min(idCol).as("cluster_rep"), count(lit(1)).as("cluster_size"))
    val (out, outIds) = checkpointTracked(
      withRoot.join(reps.hint("shuffle_hash"), Seq("root"))
        .select(col(idCol), col("cluster_rep"), col("cluster_size"))
        .orderBy(idCol))
    release(sess, forest.ids)
    graft.SessionMemo.onClear(sess)(release(sess, outIds))
    out
  }

  /** A session-memoized cluster map, keyed `<name>:<dir>` like every
    * cached memo. `build` returns a [[clustersFromHashGraph]]
    * checkpoint, which is the map's one pinned copy: the assembly's
    * `onClear` hook releases it, so the memo puts no cache on top and
    * releases nothing itself. */
  private[graft] def clusterMap(s: SparkSession, dir: String, name: String)
      (build: => DataFrame): DataFrame =
    graft.SessionMemo.once(s, s"$name:$dir")(build)(_ => ())

  /** Cluster-representative dedup — the usable form of near-dup
    * detection at scale: instead of emitting candidate PAIRS
    * (quadratic in duplicate-cluster size: one million-copy
    * boilerplate page is ~5·10¹¹ pair rows), emit each doc's
    * connected-component representative over the MinHash band
    * buckets, linear in corpus size. Two docs land in one cluster iff
    * they are joined by a chain of shared band buckets — the same
    * candidate graph [[minhashLsh]] pairs from. Oracle: DuckDB
    * recursive CTE reachability over the identical md5-derived
    * buckets. */
  def clusters(s: SparkSession, dir: String): DataFrame = {
    val docs = minhashSignatures(s, dir)
    // memoized: Curation.pipeline re-reads the cluster map, and the
    // CC fixpoint (several shuffle rounds) must not re-run per query
    clusterMap(s, dir, "minhash_clusters") {
      clustersFromBuckets(minhashBucketsCached(s, dir, docs))
    }
  }

  /** SOFT dedup: keep every duplicate but downweight it by its
    * near-dup cluster size (`w = 1/|cluster|` — each cluster
    * contributes one document-equivalent of training mass) — the
    * loss-reweighting alternative to removal (hard dedup discards
    * paraphrase diversity; soft dedup keeps it while canceling the
    * overcount). Rides the memoized MinHash CC cluster map
    * ([[clusters]] — zero extra fixpoint cost in a session that
    * already deduped), joins per-doc token counts shuffle-hash, and
    * reports per-doc sampling weight + effective token mass. At
    * 100 TB this is one join over the existing cluster map — the
    * cheapest dedup in the ladder once the map exists. */
  def softWeights(s: SparkSession, dir: String): DataFrame = {
    val toks = graft.Tables.documents(s, dir)
      .select(col("doc_id"),
        size(Text.tokens(col("text"))).cast("long").as("n_tokens"))
    clusters(s, dir)
      .join(toks.hint("shuffle_hash"), Seq("doc_id"))
      .select(col("doc_id"), col("cluster_rep"), col("cluster_size"),
        r4(lit(1.0) / col("cluster_size")).as("weight"),
        r4(col("n_tokens") / col("cluster_size").cast("double"))
          .as("effective_tokens"))
      .orderBy("doc_id")
  }

  /** HARD dedup with BEST-COPY selection: every doc gets a keep/drop
    * verdict, exactly one kept per near-dup cluster — and the keeper
    * is not an arbitrary member but the argmax of (quality_ok,
    * n_tokens, smallest doc_id): prefer a doc the [[Text.quality]]
    * filter accepts, then the longest, ties to the stable smallest
    * id. This is the removal step a pretraining pipeline actually
    * runs — dropping duplicates must not drop the best copy (the
    * boilerplate-stripped original loses to its full-page mirror
    * under naive min-id selection).
    *
    * Cost at 100 TB: one shuffle-hash join of per-doc quality scalars
    * onto the memoized cluster map, a MAP-SIDE-COMBINING struct-max
    * per cluster (deliberately not a per-cluster window: a mega
    * boilerplate cluster would sort entirely inside one window
    * partition, while partial aggregation reduces it tree-wise), and
    * a shuffle-hash back-join of the per-cluster winner — linear, no
    * new fixpoint, nothing driver-side. Output is per-doc (filter,
    * don't join, downstream). */
  def keepBest(s: SparkSession, dir: String): DataFrame = {
    val t = Text.tokens(col("text"))
    val perDoc = graft.Tables.documents(s, dir).select(
      col("doc_id"),
      size(t).cast("long").as("n_tokens"),
      r4(Text.hitRatio(t, Text.stopEn)).as("stop_ratio"))
      .withColumn("quality_ok", Text.qualityOk(col("n_tokens"), col("stop_ratio")))
      .drop("stop_ratio")
    val scored = clusters(s, dir)
      .join(perDoc.hint("shuffle_hash"), Seq("doc_id"))
    // lexicographic struct max = argmax without a window; negated id
    // turns the smallest-id tie-break into a max
    val best = scored.groupBy("cluster_rep")
      .agg(max(struct(col("quality_ok"), col("n_tokens"),
        (-col("doc_id")).as("neg_id"))).as("b"))
      .select(col("cluster_rep"), (-col("b.neg_id")).as("keep_doc_id"))
    scored.join(best.hint("shuffle_hash"), Seq("cluster_rep"))
      .select(col("doc_id"), col("cluster_rep"), col("cluster_size"),
        col("n_tokens"), col("quality_ok"),
        (col("doc_id") === col("keep_doc_id")).as("keep"))
      .orderBy("doc_id")
  }

  private val SimBits = 60        // md5Hash60 — oracle-reproducible
  private val SimBands = 6        // minimal Manku plan: 6 blocks, 10-bit keys
  private val SimHammingT = 5     // ≤ SimBands − 1 ⇒ pigeonhole holds

  /** 60-bit SimHash per document: each distinct token votes ±1 on
    * every bit of its hash (`md5Hash60` — oracle-reproducible); the
    * sketch sign-thresholds the vote vector. Computed as explode → 60
    * conditional sums → bit recombination (pure aggregates, map-side
    * combinable). 60 bits (up from 32 in round 2, per the round-2
    * plan audit): band buckets go from corpus/256 to corpus/1024 and
    * the Hamming ball is far more selective at web scale — the sketch
    * still rides one BIGINT. */
  def simhash(s: SparkSession, dir: String): DataFrame =
    simhashSketch(s, dir).orderBy("doc_id")

  /** The sketch build behind [[simhash]]/[[simhashPairs]], session-
    * memoized so the declared sketch query and the pair query share
    * one computation. */
  private def simhashSketch(s: SparkSession, dir: String): DataFrame =
    graft.SessionMemo.cached(s, dir, "simhash_sketch") {
      val toks = distinctTokens(s, dir)
        .withColumn("h", md5Hash60(col("tok")))
      val votes = (0 until SimBits).map { i =>
        sum(when(col("h").bitwiseAND(lit(1L << i)) =!= 0, 1).otherwise(-1)).as(s"v$i")
      }
      val sketch = (0 until SimBits).map { i =>
        when(col(s"v$i") > 0, lit(1L << i)).otherwise(0L)
      }.reduce(_ + _)
      toks.groupBy("doc_id")
        .agg(votes.head, votes.tail: _*)
        .select(col("doc_id"), sketch.as("simhash"))
    }

  /** Population-derived block count for the SimHash band plan: keep
    * expected per-item per-table random collisions n/2^minKeyBits
    * below ~1 as the corpus grows. The minimal 6-block plan (10-bit
    * keys, 6 tables — the pre-r10 static banding) holds only to 2^10
    * docs; each step trades more tables (C(B, B−5)) for wider keys.
    * Past 2^30 the 60-bit SKETCH saturates (birthday), not the plan.
    * Pinned integer thresholds — a deterministic function of the
    * corpus count, the same population-scaling as the image bands,
    * LSH signature widths, and k-means cell counts. */
  private[graft] def simBandBlocks(n: Long): Int =
    if (n <= (1L << 10)) SimBands     // 6 tables, 10-bit keys
    else if (n <= (1L << 16)) 7       // 21 tables, ≥16-bit keys
    else if (n <= (1L << 21)) 8       // 56 tables, ≥21-bit keys
    else if (n <= (1L << 25)) 9       // 126 tables, ≥25-bit keys
    else 10                           // 252 tables, 30-bit keys

  /** SimHash near-dup candidate pairs: Hamming distance ≤
    * [[SimHammingT]] of [[SimBits]], found by the population-scaled
    * Manku block-combination tables shared with the image dHash
    * family ([[Multimodal.bandPlanFor]] at [[simBandBlocks]] blocks
    * over the 60-bit sketch — any pair within distance 5 leaves some
    * B−5 blocks untouched, so the table keying exactly those blocks
    * matches: pigeonhole, exact recall at every plan), then verified
    * with `bit_count(xor)`. The static 6×10-bit banding this replaces
    * kept only 1024 buckets per band, so bucket occupancy — and the
    * band join's candidate volume — grew quadratically with the
    * corpus (12× wall at 10× data in the r10 sf10 headroom leg); the
    * scaled plan keys stay ≳ log₂(n) bits wide, so candidates stay ≈
    * true near-dups + O(n) noise at any scale. The plan affects
    * CANDIDATES only — verify + distinct make the pair set
    * plan-invariant (asserted in `DedupSpec`), which is why the
    * brute-force DuckDB oracle never models the bands. */
  def simhashPairs(s: SparkSession, dir: String): DataFrame = {
    val sk = simhashSketch(s, dir)
      .select(col("doc_id").as("media_id"), col("simhash").as("dhash"))
    Multimodal.expandHashPairs(sk, simhashHashPairs(s, dir))
      .select(col("id_a").as("doc_a"), col("id_b").as("doc_b"),
        col("hamming"))
      .orderBy("doc_a", "doc_b")
  }

  /** DISTINCT-sketch verified near hash-pairs, session-memoized (r11):
    * the banded Hamming join is the SimHash family's dominant stage at
    * scale, and both faces — the doc-level pair listing and the
    * cluster map — consume the identical hash-level pair set; before
    * the memo each face re-ran the whole band join (2 × ~15 s at 100×
    * bench scale). Same sharing shape as [[Multimodal.imageHashPairs]].
    * The corpus count is one tiny action on the memoized sketch frame
    * — the same oracle-replayable COUNT(*) device as the LSH widths. */
  private def simhashHashPairs(s: SparkSession, dir: String): DataFrame =
    graft.SessionMemo.cached(s, dir, "simhash_hash_pairs") {
      val sk = simhashSketch(s, dir)
      val n = sk.count()
      val plan = Multimodal.bandPlanFor(simBandBlocks(n), SimHammingT, SimBits)
      Multimodal.hashPairsPlanned(
        sk.select(col("simhash").as("dhash")), plan, SimHammingT, n)
    }

  /** SimHash near-dup CLUSTERS — the linear-output face of
    * [[simhashPairs]], completing the pair/cluster duality the
    * MinHash, embedding, and image families already have (the pair
    * listing is quadratic in duplicate-group size; the cluster map is
    * one row per doc — the form a curation pipeline acts on).
    * Connected components over the HASH-LEVEL graph
    * ([[clustersFromHashGraph]]): distinct sketches are the nodes, the
    * verified near hash-pairs ([[Multimodal.hashPairsPlanned]] under
    * the population-scaled plan) the edges, and docs join the finished
    * hash→root map. Reachability — hence the cluster map — is
    * identical to the pair graph's, which is what the brute-force
    * oracle states. */
  def simhashClusters(s: SparkSession, dir: String): DataFrame =
    clusterMap(s, dir, "simhash_clusters") {
      clustersFromHashGraph(simhashSketch(s, dir).select("doc_id", "simhash"),
        simhashHashPairs(s, dir), "doc_id")
    }

  private val EditMaxDist = 10  // absolute char-edit budget
  private val EditPrefix  = 12  // blocking: shared normalized prefix
  private val EditLenBand = 20  // blocking: length-band width (chars)

  /** Character-level near-dup pairs by bounded edit distance — the
    * dedup family's finest-grained member (token/shingle/MinHash/
    * SimHash/embedding operate above the character level and miss
    * single-character typo families). All-pairs Levenshtein is
    * quadratic, so candidates BLOCK on (normalized [[EditPrefix]]-char
    * prefix, [[EditLenBand]]-char length band) — an equi-join, the
    * same shape as every banding stage here; docs differing inside
    * the first prefix chars or across a band boundary are missed by
    * design (documented blocking recall, exactly reproduced by the
    * oracle). Verification uses Spark's THRESHOLD Levenshtein (banded
    * DP: O(t·n) per pair, not O(n²)); the equi-join is shuffle-hash
    * under the corpus-derived-side discipline. */
  def editDistancePairs(s: SparkSession, dir: String): DataFrame = {
    val d = graft.Tables.documents(s, dir)
      .select(col("doc_id"), lower(col("text")).as("t"))
      .withColumn("p", substring(col("t"), 1, EditPrefix))
      .withColumn("lb",
        floor(length(col("t")) / lit(EditLenBand.toDouble)).cast("long"))
    val a = d.toDF("doc_a", "ta", "p", "lb")
    val b = d.toDF("doc_b", "tb", "p", "lb").hint("shuffle_hash")
    a.join(b, Seq("p", "lb"))
      .filter(col("doc_a") < col("doc_b"))
      .withColumn("lev", levenshtein(col("ta"), col("tb"), EditMaxDist))
      .filter(col("lev") >= 0 && col("lev") <= EditMaxDist)
      .select(col("doc_a"), col("doc_b"), col("lev").cast("long").as("lev"))
      .orderBy("doc_a", "doc_b")
  }

  private val FuzzyKeyLen = 40      // record-linkage key: capped head
  private val FuzzyRankPrefix = 2   // rank-bucket prefix (ordered buckets)
  private val FuzzyT = 0.90         // Jaro–Winkler accept threshold
  private val FuzzyWindow = 10      // sorted-neighborhood width

  /** Fuzzy record-linkage dedup by the SORTED-NEIGHBORHOOD method
    * (Hernández & Stolfo 1995): Jaro–Winkler similarity over a
    * capped, normalized head key, candidates = each distinct key
    * against its [[FuzzyWindow]] successors in global key order —
    * the record-linkage member of the dedup ladder (JW was designed
    * for linking census records; here it links documents whose heads
    * nearly agree, catching typo-grade divergence token-set Jaccard
    * over-penalizes on short texts).
    *
    * Why SNM and not prefix blocking: candidate count is
    * O(#keys · w) — LINEAR at any corpus size — where prefix blocks
    * are quadratic WITHIN each block and a low-entropy corpus (shared
    * boilerplate heads) concentrates everything in a few blocks
    * (measured: the 2-char-block form ran 3.3 s at sf0.1 but 150 s at
    * sf1 — ~n² in corpus size; this form holds ~linear). SNM also
    * pairs across block boundaries — "abz…"/"aca…" typo pairs a
    * prefix block can never see. Pairs further than w apart in key
    * order are missed by design (the documented SNM recall knob;
    * multi-pass over secondary sort keys is the standard fix and
    * composes as a union).
    *
    * Scale shape: the global key rank is EXACT and distributed — the
    * [[graft.ext.Curation.tokenShards]] two-phase pattern: per-
    * prefix-bucket counts (ordered buckets: a key prefix IS a sort
    * prefix), driver-cumulated offsets (collect is bucket-count-
    * sized, ≤ alphabet²; lengthen [[FuzzyRankPrefix]] to split a hot
    * bucket), within-bucket `row_number` + offset. Successor pairing
    * is an EQUI-join on rank (each key explodes into w (rank+j)
    * probes — never a range join), verification is fused into it via
    * the native codegen'd [[graft.functions.JaroWinkler]] (byte-level
    * classic Winkler, pinned to DuckDB's `jaro_winkler_similarity`),
    * and key→doc fan-out joins are shuffle-hash (corpus-derived
    * sides, never broadcast). Docs sharing an identical key pair at
    * jw = 1 directly — distinct-key ranks can't see them. Every
    * comparison is ≤ [[FuzzyKeyLen]] bytes regardless of doc size. */
  def fuzzyPairs(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = graft.Tables.documents(s, dir)
      .select(col("doc_id"),
        lower(substring(trim(col("text")), 1, FuzzyKeyLen)).as("k"))
    val keys = d.select("k").distinct()
      .withColumn("bucket", substring(col("k"), 1, FuzzyRankPrefix))
    // phase 1: per-bucket counts -> exclusive offsets (bucket-sized
    // collect). The driver-side bucket order MUST match the executor
    // side's UTF8String binary order and the oracle's byte order — a
    // plain Java-String sort compares UTF-16 code units and diverges
    // on non-BMP text (e.g. emoji sort below CJK in UTF-16 but above
    // it in UTF-8), silently corrupting the global rank; compare the
    // UTF-8 bytes unsigned instead, which all three agree on.
    val utf8Order: Ordering[String] = (x: String, y: String) => {
      val a = x.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val b = y.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      var i = 0
      val n = math.min(a.length, b.length)
      var r = 0
      while (i < n && r == 0) { r = (a(i) & 0xff) - (b(i) & 0xff); i += 1 }
      if (r != 0) r else a.length - b.length
    }
    val sums = keys.groupBy("bucket").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getLong(1)))
      .sortBy(_._1)(utf8Order)
    var acc = 0L
    val offsets = sums.map { case (b, n) => val o = acc; acc += n; (b, o) }
    val offDf = s.createDataFrame(offsets.toIndexedSeq).toDF("bucket", "offset")
    // phase 2: exact global rank = bucket offset + within-bucket rank
    val wB = Window.partitionBy("bucket").orderBy("k")
    val ranked = keys.join(broadcast(offDf), Seq("bucket"))
      .withColumn("rk", col("offset") + row_number().over(wB))
      .select("k", "rk")
    // each key probes its w successors: explode to (rank + j), then
    // EQUI-join on rank; verify fused into the join projection
    val probe = ranked.toDF("ka", "rk")
      .withColumn("rk_b", explode(sequence(col("rk") + 1, col("rk") + FuzzyWindow)))
      .select("ka", "rk_b")
    val jw = graft.functions.JaroWinkler.jaroWinkler(col("ka"), col("kb"))
    val keyPairs = probe
      .join(ranked.toDF("kb", "rk_b").hint("shuffle_hash"), Seq("rk_b"))
      // threshold on the RAW double (both engines run the identical
      // byte-level algorithm → identical doubles); round only the output
      .withColumn("jw", jw)
      .filter(col("jw") >= FuzzyT)
      .select("ka", "kb", "jw")
    val da = d.toDF("ida", "ka")
    val db = d.toDF("idb", "kb")
    val cross = keyPairs
      .join(da.hint("shuffle_hash"), Seq("ka"))
      .join(db.hint("shuffle_hash"), Seq("kb"))
      .select(least(col("ida"), col("idb")).as("doc_a"),
        greatest(col("ida"), col("idb")).as("doc_b"),
        r4(col("jw")).as("jw_sim"))
    val same = da.join(db.hint("shuffle_hash"),
        col("ka") === col("kb") && col("ida") < col("idb"))
      .select(col("ida").as("doc_a"), col("idb").as("doc_b"),
        lit(1.0).as("jw_sim"))
    cross.unionByName(same).orderBy("doc_a", "doc_b")
  }

  private val PrIters = 3

  /** (session, dir)-memoized symmetric star edges of the MinHash
    * near-dup graph — shared by PageRank and LPA (S5: the edge table
    * sits 4× in PageRank's unrolled plan alone; without the cache
    * each occurrence replays bucket build → bucket-min join →
    * distinct). Cached PRE-PARTITIONED on `dst`, the LPA probe key:
    * the cached frame's hash(dst) partitioning satisfies the
    * per-round label⋈edges join's required distribution, so the 4
    * LPA rounds stop re-exchanging the edge table (one exchange,
    * paid at build time). Rides the shared banded-bucket memo. */
  private def neardupStarEdges(s: SparkSession, dir: String,
      sigs: DataFrame): DataFrame =
    graft.SessionMemo.cached(s, dir, "neardup_star_edges") {
      val e0 = starEdges(minhashBucketsCached(s, dir, sigs), "src", "dst")
      e0.union(e0.select(col("dst").as("src"), col("src").as("dst")))
        .repartition(col("dst"))
    }

  /** Fixed-iteration PageRank over the near-dup star graph — the
    * iterative-graph-analytics member of the dedup family (centrality
    * ranks a near-dup cluster's "canonical" document the way
    * cluster-rep-by-min-id cannot). Classic power iteration done
    * Spark-first: each round is one edge join + one pre-combined
    * groupBy on the destination key, so a round shuffles O(|E|)
    * (doc, contribution) pairs; rounds run on
    * [[graft.SessionMemo.iterate]], so no lineage crosses rounds.
    *
    * Determinism discipline: per-edge contributions round to 12
    * decimals then sum through an exact DECIMAL(25,15) — accumulation
    * order cannot move the result, and the oracle (which unrolls the
    * identical three iterations as chained CTEs over the identical
    * md5 band-bucket edges) lands bit-equal. Simplified model: no
    * dangling-mass redistribution (isolated docs keep the
    * teleport-only rank), matching the oracle exactly. */
  def pagerank(s: SparkSession, dir: String): DataFrame = {
    val sigs = minhashSignatures(s, dir)
    val edgesDeg = neardupEdgesDeg(s, dir, sigs)
    val nodes = sigs.select("doc_id")
    val nDocs = nodes.agg(count(lit(1)).as("n"))
    // loop-invariant (node, 1/n) base, hoisted and checkpointed once;
    // the per-round join shapes stay auditable via
    // [[pagerankRoundForAudit]] (checkpoint-free)
    val (withN, withNIds) = checkpointTracked(nodes.crossJoin(broadcast(nDocs)))
    val last = try iterate(
        withN.select(col("doc_id"), (lit(1.0) / col("n")).as("pr")),
        Set.empty, PrIters)(_ => false) {
      (pr, _) => pagerankRound(withN, edgesDeg, pr)
    }.frame finally release(s, withNIds)
    last.select(col("doc_id"), round(col("pr"), 6).as("pagerank"))
      .orderBy("doc_id")
  }

  /** Degree-annotated star edges, memoized and cached PRE-PARTITIONED
    * on `src` (the power-iteration probe key): degree is a function
    * of the edge table alone, so it joins onto the edges ONCE at
    * build — each power iteration then costs one join + one
    * pre-combined groupBy, and the cached hash(src) partitioning
    * serves every round's pr⋈edges join without re-exchanging. */
  private def neardupEdgesDeg(s: SparkSession, dir: String,
      sigs: DataFrame): DataFrame =
    graft.SessionMemo.cached(s, dir, "neardup_star_edges_deg") {
      val edges = neardupStarEdges(s, dir, sigs)
      val deg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
        .toDF("dsrc", "deg")
      edges.join(deg.hint("shuffle_hash"), col("src") === col("dsrc"))
        .select(col("src"), col("dst"), col("deg"))
        .repartition(col("src"))
    }

  /** One power-iteration round over the hoisted (node, 1/n) base —
    * shared by the production loop and the PlanSpec plan audit. */
  private def pagerankRound(withN: DataFrame, edgesDeg: DataFrame,
      pr: DataFrame): DataFrame = {
    val contrib = pr
      .join(edgesDeg.hint("shuffle_hash"), col("doc_id") === col("src"))
      .select(col("dst").as("doc_id"),
        round(col("pr") / col("deg"), 12).cast("decimal(25,15)").as("c"))
      .groupBy("doc_id").agg(sum("c").as("c"))
    withN
      .join(contrib.hint("shuffle_hash"), Seq("doc_id"), "left")
      .select(col("doc_id"),
        (lit(0.15) / col("n") + lit(0.85) *
          coalesce(col("c").cast("double"), lit(0.0))).as("pr"))
  }

  /** Checkpoint-free single round for PlanSpec's broadcast/SHJ audit:
    * the production loop truncates lineage per round (Scan
    * ExistingRDD leaves), which would hide the join shapes the audit
    * exists to pin — same device as asserting on the embedding pair
    * BUILDER rather than its memoized cache. */
  private[graft] def pagerankRoundForAudit(s: SparkSession,
      dir: String): DataFrame = {
    val sigs = minhashSignatures(s, dir)
    val edgesDeg = neardupEdgesDeg(s, dir, sigs)
    val nodes = sigs.select("doc_id")
    val nDocs = nodes.agg(count(lit(1)).as("n"))
    val withN = nodes.crossJoin(broadcast(nDocs))
    pagerankRound(withN, edgesDeg,
      withN.select(col("doc_id"), (lit(1.0) / col("n")).as("pr")))
  }

  private val LpaIters = 4

  /** Community detection by SYNCHRONOUS label propagation (Raghavan
    * et al. 2007) over the MinHash near-dup star graph — the graph
    * family's community member next to connected components
    * ([[clusters]]): CC glues everything reachable into one cluster,
    * LPA splits a weakly-bridged component into its dense cores (the
    * usual "two templates sharing one boilerplate doc" shape).
    * Asynchronous LPA is order-dependent; the synchronous variant
    * with a total tie order is DETERMINISTIC: every node
    * simultaneously adopts its neighbors' most frequent label,
    * ties to the smallest label, isolated nodes keep their own;
    * labels start as doc_ids; fixed [[LpaIters]] rounds (bounded
    * build, the deterministic-Lloyd discipline — sync LPA need not
    * converge, it oscillates on bipartite shapes, so a fixed budget
    * is also the semantic spec).
    *
    * Scale shape: per round one labels⋈edges shuffle-hash join +
    * one pre-combined (node, label) count + one per-node max —
    * O(|E|) shuffle per round, the [[pagerank]] loop's shape; the
    * argmax is `max(struct(n, −label))` (count desc, label asc), a
    * partial-aggregatable expression, never a window. The oracle
    * unrolls the identical rounds over the identical edge CTE. */
  def labelProp(s: SparkSession, dir: String): DataFrame = {
    val sigs = minhashSignatures(s, dir)
    val edges = neardupStarEdges(s, dir, sigs)
    val nodes = sigs.select("doc_id")
    iterate(
        nodes.select(col("doc_id"), col("doc_id").as("lab")),
        Set.empty, LpaIters)(_ => false) { (labels, _) =>
      val adopted = labels
        .join(edges.hint("shuffle_hash"), col("doc_id") === col("dst"))
        .groupBy(col("src").as("doc_id"), col("lab"))
        .agg(count(lit(1)).as("n"))
        .groupBy("doc_id")
        .agg(max(struct(col("n"), (-col("lab")).as("neg"))).as("m"))
        .select(col("doc_id"), (-col("m.neg")).as("newlab"))
      labels
        .join(adopted.hint("shuffle_hash"), Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("newlab"), col("lab")).as("lab"))
    }.frame
      .select(col("doc_id"), col("lab").as("community"))
      .orderBy("doc_id")
  }

  /** Per-document triangle counts over the VERIFIED MinHash near-dup
    * pair graph ([[minhashLsh]], est ≥ 0.9) — the local-clustering
    * member of the graph family: a doc in many triangles sits inside
    * a tight duplicate clique (safe to drop all but one), while a
    * high-degree doc with few triangles is a hub stitching unrelated
    * clusters (LSH false-positive smell; dropping by degree alone
    * would over-delete).
    *
    * SIGNATURE-COLLAPSE — the at-scale trick for duplicate-dense
    * graphs: the est-Jaccard between two docs depends only on their
    * MinHash signatures, so signature-IDENTICAL docs (est 1.0 — exact
    * and near-exact copies) form cliques whose members all share one
    * adjacency. Collapse each signature class to a supernode of
    * weight w; per-doc counts then decompose in closed form:
    *
    *   tri(x ∈ S) = C(w_S−1, 2)                       (both in S)
    *              + (w_S−1)·Σ_{T∈N(S)} w_T            (one in S)
    *              + Σ_{T∈N(S)} C(w_T, 2)              (both in one T)
    *              + Σ_{S-T-U triangle} w_T·w_U         (all distinct)
    *
    * Only the LAST term lists triangles — on the collapsed graph,
    * whose size is the number of DISTINCT signatures (the naive
    * listing on the raw sf0.1 fixture is 5·10⁸ wedge rows for a
    * 1.3M-edge union of near-cliques; collapsed it is thousands).
    * That listing uses degree-ordered orientation (each triangle
    * generated once from its π-smallest corner, wedge fan-out bounded
    * by out-degree — Schank–Wagner), and every join in sight is
    * SHUFFLE-HASH on id keys: nothing corpus-derived broadcasts. The
    * oracle lists the identical triangles via a 3-way self-join over
    * the identical all-pairs-verified edge set (collapse is exact, so
    * the per-doc counts cannot differ). */
  def triangles(s: SparkSession, dir: String): DataFrame = {
    val sigs = minhashSignatures(s, dir)
    // r13: the collapsed graph + triangle stats come from the shared
    // (session, dir) memo — one banded-candidate + verify build and
    // one wedge listing serve this face, the clustering-coefficient
    // face, and (graph only) the link-prediction face.
    val (member, perGroup) = triStatsCached(s, dir, sigs)
    trianglesOut(sigs, member, perGroup)
  }

  /** [[triangles]] over an explicit (doc_id, sig) frame — the
    * unit-testable core.
    *
    * The collapsed-graph intermediates (`member`, `gEdges`,
    * `oriented`) each feed 3–8 downstream consumers; they are tiny
    * (supernode-sized) but their LINEAGE is the whole banded
    * candidate + verify pipeline, which an unfused DAG would replay
    * per consumer (~8× — profiled 26 s → 4 s at sf0.1). Each is
    * `localCheckpoint`ed once and the pinned blocks are released on
    * `SessionMemo.clear`, the [[clustersFromBuckets]] pattern. */
  /** The collapsed signature graph shared by the graph-analytics
    * family: signature classes as weighted supernodes (`member`:
    * (sig, gid, w)) and the est ≥ 0.9 verified edges between DISTINCT
    * classes (`gEdges`: (ga, gb), ga &lt; gb) — the minhashLsh plan
    * shape run over supernodes. Both frames are `localCheckpoint`ed
    * (each feeds several consumers; unfused lineage would replay the
    * banded candidate + verify pipeline per consumer); callers fold
    * the returned block ids into their cleanup registration. */
  private def sigGraph(sigs: DataFrame): (DataFrame, DataFrame, Set[Int]) = {
    val rowsPerBand = NumPerm / Bands
    val (member, memberIds) = checkpointTracked(sigs.groupBy("sig")
      .agg(min("doc_id").as("gid"), count(lit(1)).as("w")))
    val grp = member.select("gid", "sig", "w")
    val banded = grp.select(
      col("gid"),
      explode(transform(sequence(lit(0), lit(Bands - 1)), b =>
        struct(b.as("band"),
          xxhash64(slice(col("sig"), b * rowsPerBand + 1, lit(rowsPerBand)))
            .as("bucket"))))
        .as("bb"))
      .select(col("gid"), col("bb.band"), col("bb.bucket"))
    val ba = banded.toDF("ga", "band", "bucket")
    val bb = banded.toDF("gb", "band", "bucket").hint("shuffle_hash")
    val cand = ba.join(bb, Seq("band", "bucket"))
      .filter(col("ga") < col("gb")).select("ga", "gb").distinct()
    val sa = grp.select(col("gid").as("ga"), col("sig").as("sig_a"))
    val sb = grp.select(col("gid").as("gb"), col("sig").as("sig_b"))
    val (gEdges, gEdgeIds) = checkpointTracked(cand
      .join(sa.hint("shuffle_hash"), Seq("ga"))
      .join(sb.hint("shuffle_hash"), Seq("gb"))
      .filter(graft.functions.ArrayAgreeCount
        .arrayAgreeCount(col("sig_a"), col("sig_b")) / lit(NumPerm) >= 0.9)
      .select("ga", "gb"))
    (member, gEdges, memberIds ++ gEdgeIds)
  }

  /** (session, dir)-memoized collapsed signature graph — the
    * supernode/verified-edge structure [[trianglesFromSigs]],
    * [[clusteringFromSigs]] and [[adamicAdarFromSigs]] all start
    * from. Before r13 each of the three graph-analytics queries
    * rebuilt it independently (three banded candidate joins + three
    * signature verifies per session — the bench's pass attribution
    * showed the rebuild as each query's dominant cost); one build per
    * (session, dir) now serves all three, a `SessionMemo.once` entry
    * like every model. Frames are localCheckpointed inside
    * [[sigGraph]]; `SessionMemo.clear` releases their blocks. */
  private def sigGraphCached(s: SparkSession, dir: String,
      sigs: DataFrame): (DataFrame, DataFrame) = {
    val (member, gEdges, _) = graft.SessionMemo.once(s, s"sig_graph:$dir")(
      sigGraph(sigs))(g => release(s, g._3))
    (member, gEdges)
  }

  /** (session, dir)-memoized per-class triangle statistics — shared
    * by the triangle-count and clustering-coefficient faces (both
    * consume the identical closed-form stats; before r13 each ran its
    * own wedge listing). Rides [[sigGraphCached]]. */
  private def triStatsCached(s: SparkSession, dir: String,
      sigs: DataFrame): (DataFrame, DataFrame) = {
    val (member, gEdges) = sigGraphCached(s, dir, sigs)
    val (perGroup, _) = graft.SessionMemo.once(s, s"sig_triangle_stats:$dir")(
      triangleStatsFrom(member, gEdges))(st => release(s, st._2))
    (member, perGroup)
  }

  /** Per-signature-class triangle statistics shared by
    * [[trianglesFromSigs]] and [[clusteringFromSigs]]: for every class
    * (gid, w) the neighbor-weight sum and the per-member triangle
    * count from the closed-form decomposition (internal C(w−1,2) +
    * one-in-group + both-in-neighbor + cross listing). Returns
    * (member, DF(gid, w, nbr_w, n_triangles), checkpoint ids). */
  private def groupTriangleStats(sigs: DataFrame)
      : (DataFrame, DataFrame, Set[Int]) = {
    val (member, gEdges, graphIds) = sigGraph(sigs)
    val (perGroup, statIds) = triangleStatsFrom(member, gEdges)
    (member, perGroup, graphIds ++ statIds)
  }

  /** The stats body over an explicit collapsed graph — the memoized
    * and the test-fixture paths share it. The returned `perGroup` is
    * eagerly checkpointed (it feeds two query faces; the wedge
    * listing must run once) and the wedge-stage working set
    * (`oriented`) is released as soon as it materializes. */
  private def triangleStatsFrom(member: DataFrame, gEdges: DataFrame)
      : (DataFrame, Set[Int]) = {
    val grp = member.select("gid", "sig", "w")
    val und = gEdges.union(
      gEdges.select(col("gb").as("ga"), col("ga").as("gb")))
    val wTbl = grp.select(col("gid"), col("w"))
    // per-group neighbor aggregates: Σ w_T and Σ C(w_T, 2)
    val nbr = und
      .join(wTbl.toDF("gb", "wb").hint("shuffle_hash"), Seq("gb"))
      .groupBy("ga")
      .agg(sum("wb").as("nbr_w"),
        sum(expr("(wb * (wb - 1)) div 2")).as("nbr_pairs"))
      .toDF("gid", "nbr_w", "nbr_pairs")
    // weighted triangle listing on the COLLAPSED graph: orient by
    // (degree, gid), build wedges at the π-smallest corner, close on
    // the (v, w) edge; each closed triangle credits every corner with
    // the product of the OTHER two corners' weights
    val deg = und.groupBy("ga").agg(count(lit(1)).as("deg")).toDF("id", "deg")
    val (oriented, orientedIds) = checkpointTracked(und
      .join(deg.hint("shuffle_hash"), col("ga") === col("id"))
      .select(col("ga"), col("gb"), col("deg").as("dega"))
      .join(deg.toDF("id2", "degb").hint("shuffle_hash"),
        col("gb") === col("id2"))
      .filter(col("dega") < col("degb") ||
        (col("dega") === col("degb") && col("ga") < col("gb")))
      .select(col("ga").as("src"), col("gb").as("dst"), col("degb").as("ddeg"))
      .join(wTbl.toDF("src", "ws").hint("shuffle_hash"), Seq("src"))
      .join(wTbl.toDF("dst", "wd").hint("shuffle_hash"), Seq("dst")))
    val e1 = oriented.select(col("src"), col("dst").as("v"),
      col("ddeg").as("dv"), col("ws"), col("wd").as("wv"))
    val e2 = oriented.select(col("src"), col("dst").as("w"),
      col("ddeg").as("dw"), col("wd").as("ww"))
    val wedges = e1.join(e2.hint("shuffle_hash"), Seq("src"))
      .filter(col("dv") < col("dw") ||
        (col("dv") === col("dw") && col("v") < col("w")))
      .select("src", "v", "w", "ws", "wv", "ww")
    val closing = oriented.select(col("src").as("v"), col("dst").as("w"))
    val cross = wedges.join(closing.hint("shuffle_hash"), Seq("v", "w"))
      .select(explode(array(
        struct(col("src").as("gid"), (col("wv") * col("ww")).as("t")),
        struct(col("v").as("gid"), (col("ws") * col("ww")).as("t")),
        struct(col("w").as("gid"), (col("ws") * col("wv")).as("t"))))
        .as("c"))
      .groupBy(col("c.gid").as("gid")).agg(sum("c.t").as("cross_t"))
    // closed-form per-group totals (zeros kept — the coefficient
    // consumer needs degree-positive triangle-free classes too).
    // Checkpointed: the stats feed BOTH the triangle-count and the
    // clustering-coefficient faces via the (session, dir) memo, and
    // the wedge listing must not replay per consumer. perGroup is
    // supernode-sized (one row per signature class).
    val (perGroup, perGroupIds) = checkpointTracked(wTbl
      .join(nbr.hint("shuffle_hash"), Seq("gid"), "left")
      .join(cross.hint("shuffle_hash"), Seq("gid"), "left")
      .select(col("gid"), col("w"),
        coalesce(col("nbr_w"), lit(0L)).as("nbr_w"),
        (expr("((w - 1) * (w - 2)) div 2") +
          (col("w") - 1) * coalesce(col("nbr_w"), lit(0L)) +
          coalesce(col("nbr_pairs"), lit(0L)) +
          coalesce(col("cross_t"), lit(0L))).as("n_triangles")))
    // perGroup materialized — the wedge stage's working set is dead
    release(member.sparkSession, orientedIds)
    (perGroup, perGroupIds)
  }

  /** The triangle query's per-doc projection over the shared stats. */
  private def trianglesOut(sigs: DataFrame, member: DataFrame,
      perGroup: DataFrame): DataFrame =
    sigs.join(member.hint("shuffle_hash"), Seq("sig"))
      .select(col("doc_id"), col("gid"))
      .join(perGroup.filter(col("n_triangles") > 0).hint("shuffle_hash"),
        Seq("gid"))
      .select(col("doc_id"), col("n_triangles"))
      .orderBy("doc_id")

  private[graft] def trianglesFromSigs(sigs: DataFrame): DataFrame = {
    val sess = sigs.sparkSession
    val (member, perGroup, ids) = groupTriangleStats(sigs)
    val out = trianglesOut(sigs, member, perGroup)
    graft.SessionMemo.onClear(sess)(release(sess, ids))
    out
  }

  /** Local clustering coefficient per doc — the graph-analytics
    * capstone over the verified near-dup graph: coeff = 2T / d(d−1),
    * how close a doc's neighborhood is to a clique (template/
    * boilerplate families score 1, bridge docs score near 0). Both
    * inputs come from the collapsed graph in closed form: a doc of
    * class g has degree (w−1) + Σ w(neighbor classes) and the class's
    * member triangle count; the ratio divides exact integers through
    * one fixed double tree, so both engines agree to the 6-dp output
    * rounding. Docs with degree &lt; 2 have no defined coefficient and
    * drop (matching the oracle's WHERE). */
  def clusteringCoeff(s: SparkSession, dir: String): DataFrame = {
    val sigs = minhashSignatures(s, dir)
    val (member, perGroup) = triStatsCached(s, dir, sigs)
    clusteringOut(sigs, member, perGroup)
  }

  /** The coefficient query's per-doc projection over the shared
    * stats. */
  private def clusteringOut(sigs: DataFrame, member: DataFrame,
      perGroup: DataFrame): DataFrame = {
    val withDeg = perGroup
      .select(col("gid"),
        (col("w") - 1 + col("nbr_w")).as("degree"), col("n_triangles"))
      .filter(col("degree") >= 2)
    sigs.join(member.hint("shuffle_hash"), Seq("sig"))
      .select(col("doc_id"), col("gid"))
      .join(withDeg.hint("shuffle_hash"), Seq("gid"))
      .select(col("doc_id"), col("degree"), col("n_triangles"),
        round(lit(2.0) * col("n_triangles") /
          (col("degree") * (col("degree") - 1)), 6).as("clustering_coeff"))
      .orderBy("doc_id")
  }

  private[graft] def clusteringFromSigs(sigs: DataFrame): DataFrame = {
    val sess = sigs.sparkSession
    val (member, perGroup, ids) = groupTriangleStats(sigs)
    val out = clusteringOut(sigs, member, perGroup)
    graft.SessionMemo.onClear(sess)(release(sess, ids))
    out
  }

  private val AaTopK = 20

  /** Adamic–Adar link prediction over the collapsed signature graph —
    * LSH FALSE-NEGATIVE recovery: two signature classes never paired
    * by banding but sharing many (rare) common neighbors are almost
    * certainly near-dups whose bands all narrowly missed; ranking
    * non-edges by Σ_C 1/ln(deg(C)) over common neighbors C surfaces
    * exactly those, discounting promiscuous hub neighbors. The
    * [[AaTopK]] highest-scoring missing links are what a pipeline
    * would re-verify exactly.
    *
    * Shape: wedges enumerate at each CENTER over the supernode graph
    * (thousands of nodes where the raw doc graph has clique blow-up);
    * the non-edge anti-join and degree attach are shuffle-hash; every
    * common-neighbor term rounds to 12 decimals and sums through an
    * exact DECIMAL(25,15) (the PageRank discipline), so accumulation
    * order cannot move the ranking; top-k runs as
    * TakeOrderedAndProject with an (a, b) tie-break. A common
    * neighbor has degree ≥ 2, so 1/ln(deg) is always finite. */
  def adamicAdar(s: SparkSession, dir: String): DataFrame = {
    val sigs = minhashSignatures(s, dir)
    val (_, gEdges) = sigGraphCached(s, dir, sigs)
    adamicAdarOut(gEdges)
  }

  /** The link-prediction ranking over an explicit verified edge
    * frame. */
  private def adamicAdarOut(gEdges: DataFrame): DataFrame = {
    val und = gEdges.union(
      gEdges.select(col("gb").as("ga"), col("ga").as("gb")))
    val deg = und.groupBy("ga").agg(count(lit(1)).as("deg")).toDF("c", "deg")
    val n1 = und.toDF("c", "a")
    val n2 = und.toDF("c", "b")
    val wedges = n1.join(n2.hint("shuffle_hash"), Seq("c"))
      .filter(col("a") < col("b"))
    wedges
      .join(gEdges.toDF("a", "b").hint("shuffle_hash"), Seq("a", "b"), "left_anti")
      .join(deg.hint("shuffle_hash"), Seq("c"))
      .groupBy("a", "b")
      .agg(sum(round(lit(1.0) / log(col("deg")), 12).cast("decimal(25,15)"))
        .as("sc"), count(lit(1)).as("common_neighbors"))
      .select(col("a").as("group_a"), col("b").as("group_b"),
        col("common_neighbors"),
        round(col("sc").cast("double"), 6).as("aa_score"))
      .orderBy(col("aa_score").desc, col("group_a").asc, col("group_b").asc)
      .limit(AaTopK)
  }

  private[graft] def adamicAdarFromSigs(sigs: DataFrame): DataFrame = {
    val sess = sigs.sparkSession
    val (_, gEdges, graphIds) = sigGraph(sigs)
    val out = adamicAdarOut(gEdges)
    graft.SessionMemo.onClear(sess)(release(sess, graphIds))
    out
  }

  /** DuckDB CTE chain ending in `sigs (doc_id, sig)` and `edges
    * (src, dst)` — the MinHash band buckets → symmetric star edges of
    * the near-dup graph, shared by the reachability oracle
    * ([[clustersCteSql]]) and the PageRank oracle. */
  private[ext] val edgesCteSql: String =
    s"""dt AS (SELECT DISTINCT doc_id,
       |    unnest(string_split_regex(trim(text), '\\s+')) AS tok FROM documents),
       |mh AS (SELECT doc_id, kk.k AS k,
       |    min(CAST(concat('0x', substr(md5(kk.k || ':' || tok), 1, 15)) AS BIGINT)) AS mh
       |  FROM dt, range(0, $NumPerm) kk(k) GROUP BY 1, 2),
       |sigs AS (SELECT doc_id, list(mh ORDER BY k) AS sig FROM mh GROUP BY 1),
       |bb AS (SELECT doc_id, md5(CAST(r.b AS VARCHAR) || ',' ||
       |      array_to_string(list_transform(
       |        list_slice(sig, r.b * ${NumPerm / Bands} + 1, (r.b + 1) * ${NumPerm / Bands}),
       |        x -> CAST(x AS VARCHAR)), ',')) AS bucket
       |  FROM sigs, range(0, $Bands) r(b)),
       |bmin AS (SELECT bucket, min(doc_id) AS m FROM bb GROUP BY 1),
       |edges0 AS (SELECT DISTINCT b.doc_id AS src, bm.m AS dst
       |  FROM bb b JOIN bmin bm USING (bucket) WHERE b.doc_id != bm.m),
       |edges AS (SELECT src, dst FROM edges0 UNION ALL SELECT dst, src FROM edges0)""".stripMargin

  /** DuckDB CTE chain ending in `rep (doc_id, cluster_rep)` and
    * `cs (cluster_rep, cluster_size)` — the [[clusters]] semantics as
    * reusable oracle SQL (MinHash band buckets → star edges →
    * recursive reachability). Shared by the `dedup_clusters` oracle
    * and the `pipeline_curation` oracle in [[Curation]]. */
  private[ext] val clustersCteSql: String =
    s"""$edgesCteSql,
       |reach AS (
       |  SELECT doc_id, doc_id AS r FROM sigs
       |  UNION
       |  SELECT e.dst AS doc_id, reach.r
       |  FROM reach JOIN edges e ON e.src = reach.doc_id),
       |rep AS (SELECT doc_id, min(r) AS cluster_rep FROM reach GROUP BY 1),
       |cs AS (SELECT cluster_rep, count(*) AS cluster_size FROM rep GROUP BY 1)""".stripMargin

  /** Oracle CTE chain ending in `rep (doc_id, cluster_rep)` for the
    * CROSS-MODAL entity map ([[crossModalClusters]]): text MinHash
    * star edges ∪ verified embedding near-dup pairs ∪ verified image
    * pairs, closed by recursive reachability. Shared by the
    * `dedup_crossmodal_clusters` oracle and the
    * `pipeline_crossmodal_split` oracle in [[Curation]]. */
  private[ext] val crossModalRepCteSql: String =
    s"""$edgesCteSql,
       |${Similarity.embeddingVerifiedPairsCteSql},
       |${Multimodal.imageVerifiedPairsCteSql},
       |alledges AS (
       |  SELECT src, dst FROM edges
       |  UNION ALL SELECT vec_a AS src, vec_b AS dst FROM vpe
       |  UNION ALL SELECT vec_b, vec_a FROM vpe
       |  UNION ALL SELECT id_a, id_b FROM vpi
       |  UNION ALL SELECT id_b, id_a FROM vpi),
       |u AS (SELECT doc_id FROM documents),
       |reach AS (
       |  SELECT doc_id, doc_id AS r FROM u
       |  UNION
       |  SELECT e.dst AS doc_id, reach.r
       |  FROM reach JOIN alledges e ON e.src = reach.doc_id),
       |rep AS (SELECT doc_id, min(r) AS cluster_rep FROM reach GROUP BY 1)""".stripMargin

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "dedup_exact"         -> (exact _),
    "dedup_editdistance_pairs" -> (editDistancePairs _),
    "dedup_fuzzy_pairs"   -> (fuzzyPairs _),
    "graph_pagerank"      -> (pagerank _),
    "dedup_jaccard_pairs" -> (jaccardPairs _),
    "dedup_containment_top" -> (containmentTop _),
    "graph_triangles"     -> (triangles _),
    "graph_link_prediction" -> (adamicAdar _),
    "graph_label_prop"    -> (labelProp _),
    "graph_clustering" -> (clusteringCoeff _),
    "dedup_shingle_novelty" -> (shingleNovelty _),
    "dedup_duplicate_spans" -> (duplicateSpans _),
    "dedup_span_scrub"    -> (spanScrub _),
    "dedup_shingle_jaccard" -> (shingleJaccardPairs _),
    "dedup_winnow_pairs"  -> (winnowPairs _),
    "dedup_minhash_lsh"   -> (minhashLsh _),
    "dedup_incremental_lsh" -> (incrementalLsh _),
    "dedup_incremental_clusters" -> (incrementalClusters _),
    "dedup_clusters"      -> (clusters _),
    "dedup_soft_weights"  -> (softWeights _),
    "dedup_keep_best"     -> (keepBest _),
    "dedup_simhash"       -> (simhash _),
    "dedup_simhash_pairs" -> (simhashPairs _),
    "dedup_simhash_clusters" -> (simhashClusters _),
    "dedup_blocking_quality" -> (blockingQuality _),
    "dedup_crossmodal_clusters" -> (crossModalClusters _),
  )

  /** All dedup queries are oracle-checked. The sketch ops hash with
    * md5 (identical in both engines), so DuckDB recomputes signatures
    * exactly. The LSH/banding stages need no oracle replication: a
    * pair passing the final similarity filter is ALWAYS a banding
    * candidate (est ≥ 0.9 of 32 ⇒ ≤ 3 mismatches ⇒ some 8-row band
    * agrees, pigeonhole — same for the SimHash byte-banding), so the
    * oracle computes the filter over all pairs and gets the identical
    * result set at oracle scale. */
  val oracleSql: Map[String, String] = Map(
    // jaro_winkler_similarity: DuckDB's byte-level classic Winkler is
    // the exact algorithm JaroWinkler.similarity pins (probed:
    // 0.7-boost threshold, window floor(max/2)-1, empty -> 0); the
    // sorted-neighborhood rank replays as one row_number over keys
    "dedup_fuzzy_pairs" ->
      s"""WITH k AS (SELECT doc_id,
         |    lower(substr(trim(text), 1, $FuzzyKeyLen)) AS k FROM documents),
         |dk AS (SELECT DISTINCT k FROM k),
         |r AS (SELECT k, row_number() OVER (ORDER BY k) AS rk FROM dk),
         |kp AS (SELECT a.k AS ka, b.k AS kb,
         |    jaro_winkler_similarity(a.k, b.k) AS jw
         |  FROM r a JOIN r b ON b.rk > a.rk AND b.rk <= a.rk + $FuzzyWindow
         |  WHERE jaro_winkler_similarity(a.k, b.k) >= $FuzzyT),
         |cross_p AS (SELECT least(x.doc_id, y.doc_id) AS doc_a,
         |    greatest(x.doc_id, y.doc_id) AS doc_b, round(jw, 4) AS jw_sim
         |  FROM kp JOIN k x ON x.k = kp.ka JOIN k y ON y.k = kp.kb),
         |same_p AS (SELECT x.doc_id AS doc_a, y.doc_id AS doc_b,
         |    CAST(1.0 AS DOUBLE) AS jw_sim
         |  FROM k x JOIN k y ON x.k = y.k AND x.doc_id < y.doc_id)
         |SELECT * FROM (SELECT * FROM cross_p UNION ALL SELECT * FROM same_p)
         |ORDER BY doc_a, doc_b""".stripMargin,

    "dedup_minhash_lsh" ->
      s"""WITH dt AS (SELECT DISTINCT doc_id,
         |    unnest(string_split_regex(trim(text), '\\s+')) AS tok FROM documents),
         |mh AS (SELECT doc_id, kk.k AS k,
         |    min(CAST(concat('0x', substr(md5(kk.k || ':' || tok), 1, 15)) AS BIGINT)) AS mh
         |  FROM dt, range(0, $NumPerm) kk(k) GROUP BY 1, 2),
         |sigs AS (SELECT doc_id, list(mh ORDER BY k) AS sig FROM mh GROUP BY 1),
         |pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |    len(list_filter(range(0, $NumPerm), i -> a.sig[i+1] = b.sig[i+1]))
         |      / ${NumPerm}.0 AS est_jaccard
         |  FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id)
         |SELECT doc_a, doc_b, round(est_jaccard, 4) AS est_jaccard
         |FROM pairs WHERE est_jaccard >= 0.9 ORDER BY doc_a, doc_b""".stripMargin,

    // three evidence sets, one reachability closure: text star edges
    // (the clusters oracle's device), the replayed two-level embedding
    // verify, the brute-force image Hamming pairs — CTE names are
    // disjoint across the composed fragments by construction
    "dedup_crossmodal_clusters" ->
      s"""WITH RECURSIVE $crossModalRepCteSql,
         |cs AS (SELECT cluster_rep, count(*) AS cluster_size FROM rep GROUP BY 1)
         |SELECT r.doc_id, r.cluster_rep, cs.cluster_size
         |FROM rep r JOIN cs USING (cluster_rep) ORDER BY r.doc_id""".stripMargin,

    // the oracle recomputes BOTH sides of the certification from the
    // brute-force truth: candidates from the replayed md5 band
    // buckets, true pairs from the all-pairs est scan, completeness
    // as the measured covered/true ratio — a banding miss would both
    // shrink Spark's banded true count and dip the oracle's measured
    // completeness below the claimed 1.0
    "dedup_blocking_quality" ->
      s"""WITH $edgesCteSql,
         |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM bb a JOIN bb b ON a.bucket = b.bucket AND a.doc_id < b.doc_id),
         |tps AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |  FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
         |  WHERE len(list_filter(range(0, $NumPerm), i -> a.sig[i+1] = b.sig[i+1]))
         |    / ${NumPerm}.0 >= 0.9),
         |nn AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM sigs),
         |cn AS (SELECT CAST(count(*) AS BIGINT) AS candidate_pairs FROM cand),
         |tn AS (SELECT CAST(count(*) AS BIGINT) AS true_pairs FROM tps),
         |cv AS (SELECT CAST(count(*) AS BIGINT) AS covered
         |  FROM tps JOIN cand USING (doc_a, doc_b))
         |SELECT n_docs,
         |  (n_docs * (n_docs - 1)) // 2 AS total_pairs,
         |  candidate_pairs, true_pairs,
         |  round(1.0 - candidate_pairs
         |    / CAST((n_docs * (n_docs - 1)) // 2 AS DOUBLE), 4) AS reduction_ratio,
         |  round(coalesce(covered / CAST(NULLIF(true_pairs, 0) AS DOUBLE), 1.0), 4)
         |    AS pairs_completeness
         |FROM nn, cn, tn, cv""".stripMargin,

    // the same pigeonhole brute-force, restricted to delta-touching
    // pairs; pair_kind restates the same modulus test
    "dedup_incremental_lsh" ->
      s"""WITH dt AS (SELECT DISTINCT doc_id,
         |    unnest(string_split_regex(trim(text), '\\s+')) AS tok FROM documents),
         |mh AS (SELECT doc_id, kk.k AS k,
         |    min(CAST(concat('0x', substr(md5(kk.k || ':' || tok), 1, 15)) AS BIGINT)) AS mh
         |  FROM dt, range(0, $NumPerm) kk(k) GROUP BY 1, 2),
         |sigs AS (SELECT doc_id, list(mh ORDER BY k) AS sig FROM mh GROUP BY 1),
         |pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |    len(list_filter(range(0, $NumPerm), i -> a.sig[i+1] = b.sig[i+1]))
         |      / ${NumPerm}.0 AS est_jaccard
         |  FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id)
         |SELECT doc_a, doc_b, round(est_jaccard, 4) AS est_jaccard,
         |  CASE WHEN doc_a % $DeltaMod = 0 AND doc_b % $DeltaMod = 0
         |       THEN 'delta_delta' ELSE 'delta_base' END AS pair_kind
         |FROM pairs WHERE est_jaccard >= 0.9
         |  AND (doc_a % $DeltaMod = 0 OR doc_b % $DeltaMod = 0)
         |ORDER BY doc_a, doc_b""".stripMargin,

    // Connectivity via STAR edges (member ↔ bucket-min), not bucket
    // cliques: identical components, but the recursion's join fan-out
    // per (doc, label) row drops from cluster size to ~#bands — the
    // clique form made the reachability join O(size³) for a large
    // duplicate cluster and ran for hours at sf0.1.
    // same reachability CTE; weights are exact rationals of the
    // cluster size, token mass through the same double tree
    "dedup_soft_weights" ->
      s"""WITH RECURSIVE $clustersCteSql,
         |t AS (SELECT doc_id,
         |    CAST(len(${Text.tokSql}) AS BIGINT) AS n_tokens FROM documents)
         |SELECT r.doc_id, r.cluster_rep, cs.cluster_size,
         |  round(CAST(1.0 AS DOUBLE) / cs.cluster_size, 4) AS weight,
         |  round(n_tokens / CAST(cs.cluster_size AS DOUBLE), 4)
         |    AS effective_tokens
         |FROM rep r JOIN cs USING (cluster_rep) JOIN t USING (doc_id)
         |ORDER BY r.doc_id""".stripMargin,

    "dedup_clusters" ->
      s"""WITH RECURSIVE $clustersCteSql
         |SELECT r.doc_id, r.cluster_rep, cs.cluster_size
         |FROM rep r JOIN cs USING (cluster_rep) ORDER BY r.doc_id""".stripMargin,

    // keep verdict replayed from the same reachability + the
    // text_quality scoring; the window form is fine at oracle scale
    "dedup_keep_best" ->
      s"""WITH RECURSIVE $clustersCteSql,
         |t AS (SELECT doc_id, ${Text.tokSql} AS toks FROM documents),
         |q AS (SELECT doc_id, CAST(len(toks) AS BIGINT) AS n_tokens,
         |  round(${Text.hitRatioSql(Text.stopEn)}, 4) AS stop_ratio FROM t),
         |sc AS (SELECT r.doc_id, r.cluster_rep, cs.cluster_size, q.n_tokens,
         |  (q.n_tokens BETWEEN 10 AND 1000) AND q.stop_ratio > 0.01 AS quality_ok
         |  FROM rep r JOIN cs USING (cluster_rep) JOIN q USING (doc_id))
         |SELECT doc_id, cluster_rep, cluster_size, n_tokens, quality_ok,
         |  row_number() OVER (PARTITION BY cluster_rep
         |    ORDER BY quality_ok DESC, n_tokens DESC, doc_id ASC) = 1 AS keep
         |FROM sc ORDER BY doc_id""".stripMargin,

    // the maintained map IS the full recompute (that's the IVM
    // claim), so rep/cs come from the same reachability as
    // dedup_clusters; the `path` readout restates incrementality
    // from the BASE-ONLY clustering: resolved = the delta batch plus
    // every member of a base component containing a doc that shares
    // a band bucket with a delta doc
    "dedup_incremental_clusters" ->
      s"""WITH RECURSIVE $clustersCteSql,
         |bbb AS (SELECT doc_id, bucket FROM bb WHERE doc_id % $DeltaMod != 0),
         |bminb AS (SELECT bucket, min(doc_id) AS m FROM bbb GROUP BY 1),
         |e0b AS (SELECT DISTINCT b.doc_id AS src, bm.m AS dst
         |  FROM bbb b JOIN bminb bm USING (bucket) WHERE b.doc_id != bm.m),
         |eb AS (SELECT src, dst FROM e0b UNION ALL SELECT dst, src FROM e0b),
         |reachb AS (
         |  SELECT doc_id, doc_id AS r FROM sigs WHERE doc_id % $DeltaMod != 0
         |  UNION
         |  SELECT e.dst AS doc_id, reachb.r
         |  FROM reachb JOIN eb e ON e.src = reachb.doc_id),
         |repb AS (SELECT doc_id, min(r) AS brep FROM reachb GROUP BY 1),
         |dbk AS (SELECT DISTINCT bucket FROM bb WHERE doc_id % $DeltaMod = 0),
         |touched AS (SELECT DISTINCT doc_id FROM bbb JOIN dbk USING (bucket)),
         |areps AS (SELECT DISTINCT brep FROM repb JOIN touched USING (doc_id)),
         |resolved AS (
         |  SELECT doc_id FROM repb WHERE brep IN (SELECT brep FROM areps)
         |  UNION SELECT DISTINCT doc_id FROM bb WHERE doc_id % $DeltaMod = 0)
         |SELECT r.doc_id, r.cluster_rep, cs.cluster_size,
         |  CASE WHEN r.doc_id IN (SELECT doc_id FROM resolved)
         |       THEN 'resolved' ELSE 'kept' END AS path
         |FROM rep r JOIN cs USING (cluster_rep) ORDER BY r.doc_id""".stripMargin,

    "dedup_winnow_pairs" ->
      s"""WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS tk
         |  FROM documents WHERE len(string_split_regex(trim(text), '\\s+')) >= 3),
         |sh AS (SELECT doc_id, unnest(range(0, len(tk) - 2)) AS pos,
         |    unnest(list_transform(range(1, len(tk) - 1),
         |      i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS sh
         |  FROM t),
         |h AS (SELECT doc_id, pos,
         |    CAST(concat('0x', substr(md5(sh), 1, 15)) AS BIGINT) AS hv
         |  FROM sh),
         |w AS (SELECT doc_id,
         |    min(hv) OVER (PARTITION BY doc_id ORDER BY pos
         |      ROWS BETWEEN CURRENT ROW AND ${WinnowW - 1} FOLLOWING) AS fp,
         |    lead(hv, ${WinnowW - 1}) OVER (PARTITION BY doc_id ORDER BY pos) AS hEnd
         |  FROM h),
         |fp AS (SELECT DISTINCT doc_id, fp FROM w WHERE hEnd IS NOT NULL)
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS shared_fps
         |FROM fp a JOIN fp b ON a.fp = b.fp AND a.doc_id < b.doc_id
         |GROUP BY 1, 2 HAVING count(*) >= 3 ORDER BY doc_a, doc_b""".stripMargin,

    "dedup_simhash" ->
      s"""WITH dt AS (SELECT DISTINCT doc_id,
         |    unnest(string_split_regex(trim(text), '\\s+')) AS tok FROM documents),
         |h AS (SELECT doc_id,
         |    CAST(concat('0x', substr(md5(tok), 1, 15)) AS BIGINT) AS h FROM dt),
         |v AS (SELECT doc_id, ii.i AS i,
         |    CASE WHEN SUM(CASE WHEN ((h >> ii.i) & 1) = 1 THEN 1 ELSE -1 END) > 0
         |         THEN CAST(1 AS BIGINT) << ii.i ELSE CAST(0 AS BIGINT) END AS bit
         |  FROM h, range(0, $SimBits) ii(i) GROUP BY doc_id, ii.i)
         |SELECT doc_id, CAST(SUM(bit) AS BIGINT) AS simhash
         |FROM v GROUP BY 1 ORDER BY doc_id""".stripMargin,

    "dedup_simhash_pairs" ->
      s"""WITH dt AS (SELECT DISTINCT doc_id,
         |    unnest(string_split_regex(trim(text), '\\s+')) AS tok FROM documents),
         |h AS (SELECT doc_id,
         |    CAST(concat('0x', substr(md5(tok), 1, 15)) AS BIGINT) AS h FROM dt),
         |v AS (SELECT doc_id, ii.i AS i,
         |    CASE WHEN SUM(CASE WHEN ((h >> ii.i) & 1) = 1 THEN 1 ELSE -1 END) > 0
         |         THEN CAST(1 AS BIGINT) << ii.i ELSE CAST(0 AS BIGINT) END AS bit
         |  FROM h, range(0, $SimBits) ii(i) GROUP BY doc_id, ii.i),
         |sk AS (SELECT doc_id, CAST(SUM(bit) AS BIGINT) AS simhash FROM v GROUP BY 1)
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  bit_count(xor(a.simhash, b.simhash)) AS hamming
         |FROM sk a JOIN sk b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.simhash, b.simhash)) <= $SimHammingT
         |ORDER BY doc_a, doc_b""".stripMargin,

    // same sketch CTEs as the pair oracle, closed under recursive
    // reachability — the cluster map is a pure function of the pair
    // graph, so the oracle never models buckets or band plans
    "dedup_simhash_clusters" ->
      s"""WITH RECURSIVE dt AS (SELECT DISTINCT doc_id,
         |    unnest(string_split_regex(trim(text), '\\s+')) AS tok FROM documents),
         |h AS (SELECT doc_id,
         |    CAST(concat('0x', substr(md5(tok), 1, 15)) AS BIGINT) AS h FROM dt),
         |v AS (SELECT doc_id, ii.i AS i,
         |    CASE WHEN SUM(CASE WHEN ((h >> ii.i) & 1) = 1 THEN 1 ELSE -1 END) > 0
         |         THEN CAST(1 AS BIGINT) << ii.i ELSE CAST(0 AS BIGINT) END AS bit
         |  FROM h, range(0, $SimBits) ii(i) GROUP BY doc_id, ii.i),
         |sk AS (SELECT doc_id, CAST(SUM(bit) AS BIGINT) AS simhash FROM v GROUP BY 1),
         |vp AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM sk a JOIN sk b ON a.doc_id < b.doc_id
         |  WHERE bit_count(xor(a.simhash, b.simhash)) <= $SimHammingT),
         |edges AS (SELECT id_a AS src, id_b AS dst FROM vp
         |  UNION ALL SELECT id_b, id_a FROM vp),
         |reach AS (
         |  SELECT doc_id, doc_id AS r FROM sk
         |  UNION
         |  SELECT e.dst AS doc_id, reach.r
         |  FROM reach JOIN edges e ON e.src = reach.doc_id),
         |rep AS (SELECT doc_id, min(r) AS cluster_rep FROM reach GROUP BY 1),
         |cs AS (SELECT cluster_rep, count(*) AS cluster_size FROM rep GROUP BY 1)
         |SELECT r.doc_id, r.cluster_rep, cs.cluster_size
         |FROM rep r JOIN cs USING (cluster_rep) ORDER BY r.doc_id""".stripMargin,

    "dedup_exact" ->
      """SELECT md5(text) AS text_hash, min(doc_id) AS keep_doc_id,
        |  count(*) AS n_copies
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin,

    "dedup_editdistance_pairs" ->
      s"""WITH d AS (SELECT doc_id, lower(text) AS t FROM documents),
         |b AS (SELECT doc_id, t, substr(t, 1, $EditPrefix) AS p,
         |    CAST(floor(length(t) / $EditLenBand.0) AS BIGINT) AS lb
         |  FROM d)
         |SELECT a.doc_id AS doc_a, b2.doc_id AS doc_b,
         |  CAST(levenshtein(a.t, b2.t) AS BIGINT) AS lev
         |FROM b a JOIN b b2
         |  ON a.p = b2.p AND a.lb = b2.lb AND a.doc_id < b2.doc_id
         |WHERE levenshtein(a.t, b2.t) <= $EditMaxDist
         |ORDER BY doc_a, doc_b""".stripMargin,

    // unrolls the identical power iterations as chained CTEs over the
    // identical md5 band-bucket star edges; per-edge contributions
    // round to 12 decimals then sum exactly, so both engines agree
    "graph_pagerank" -> {
      val its = (1 to PrIters).map { i =>
        s"""it$i AS (SELECT s$i.doc_id,
           |    CAST(0.15 AS DOUBLE) / nn.n + CAST(0.85 AS DOUBLE) *
           |      coalesce(CAST(c.c AS DOUBLE), CAST(0.0 AS DOUBLE)) AS pr
           |  FROM sigs s$i CROSS JOIN nn LEFT JOIN (
           |    SELECT e.dst AS doc_id,
           |      SUM(CAST(round(p.pr / dg.deg, 12) AS DECIMAL(25,15))) AS c
           |    FROM it${i - 1} p JOIN deg dg ON dg.src = p.doc_id
           |    JOIN edges e ON e.src = p.doc_id
           |    GROUP BY 1) c USING (doc_id))""".stripMargin
      }.mkString(",\n")
      s"""WITH $edgesCteSql,
         |nn AS (SELECT count(*) AS n FROM sigs),
         |deg AS (SELECT src, count(*) AS deg FROM edges GROUP BY 1),
         |it0 AS (SELECT doc_id, CAST(1.0 AS DOUBLE) / nn.n AS pr
         |  FROM sigs CROSS JOIN nn),
         |$its
         |SELECT doc_id, round(pr, 6) AS pagerank
         |FROM it$PrIters ORDER BY doc_id""".stripMargin
    },

    // unrolls the identical synchronous LPA rounds over the identical
    // star edges: most-frequent neighbor label, ties to the smallest
    // label, isolated nodes keep their own — pure integer arithmetic
    "graph_label_prop" -> {
      val its = (1 to LpaIters).map { i =>
        s"""l$i AS MATERIALIZED (SELECT l.doc_id,
           |    coalesce(a.newlab, l.lab) AS lab
           |  FROM l${i - 1} l LEFT JOIN (
           |    SELECT doc_id, lab AS newlab FROM (
           |      SELECT e.src AS doc_id, p.lab, count(*) AS n,
           |        row_number() OVER (PARTITION BY e.src
           |          ORDER BY count(*) DESC, p.lab ASC) AS rr
           |      FROM edges e JOIN l${i - 1} p ON p.doc_id = e.dst
           |      GROUP BY 1, 2) WHERE rr = 1) a USING (doc_id))""".stripMargin
      }.mkString(",\n")
      s"""WITH $edgesCteSql,
         |l0 AS (SELECT doc_id, doc_id AS lab FROM sigs),
         |$its
         |SELECT doc_id, lab AS community FROM l$LpaIters
         |ORDER BY doc_id""".stripMargin
    },

    // identical 8-gram anchors, corpus frequency >= 2, identical
    // (pos - row_number) island arithmetic
    "dedup_duplicate_spans" ->
      s"""WITH d AS (SELECT doc_id, ${Text.tokSql} AS tv FROM documents),
         |g AS (SELECT doc_id,
         |    unnest(range(0, greatest(len(tv) - ${SpanGram - 1}, 0))) AS p, tv
         |  FROM d),
         |h AS (SELECT doc_id, p,
         |    array_to_string(tv[p + 1 : p + $SpanGram], ' ') AS sh FROM g),
         |f AS (SELECT sh FROM h GROUP BY sh HAVING count(*) >= 2),
         |dup AS (SELECT doc_id, p FROM h JOIN f USING (sh)),
         |isl AS (SELECT doc_id, p,
         |    p - row_number() OVER (PARTITION BY doc_id ORDER BY p) AS grp
         |  FROM dup)
         |SELECT doc_id, CAST(min(p) AS BIGINT) AS start_pos,
         |  CAST(max(p) AS BIGINT) AS end_pos,
         |  CAST(count(*) AS BIGINT) AS n_anchors,
         |  CAST(max(p) - min(p) + $SpanGram AS BIGINT) AS span_tokens
         |FROM isl GROUP BY doc_id, grp
         |ORDER BY doc_id, start_pos""".stripMargin,

    // identical anchors; coverage via the position-range join (the
    // Spark side's window frame over dense positions computes the
    // same [p, p+G-1] union); scrubbed text re-joins survivors in
    // position order — md5 of identical bytes
    "dedup_span_scrub" ->
      s"""WITH d AS (SELECT doc_id, ${Text.tokSql} AS tv FROM documents),
         |g AS (SELECT doc_id,
         |    unnest(range(0, greatest(len(tv) - ${SpanGram - 1}, 0))) AS p, tv
         |  FROM d),
         |h AS (SELECT doc_id, p,
         |    array_to_string(tv[p + 1 : p + $SpanGram], ' ') AS sh FROM g),
         |f AS (SELECT sh FROM h GROUP BY sh HAVING count(*) >= 2),
         |anch AS (SELECT doc_id, p FROM h JOIN f USING (sh)),
         |pos AS (SELECT doc_id, unnest(range(0, len(tv))) AS q, tv FROM d),
         |cov AS (SELECT DISTINCT pos.doc_id, pos.q
         |  FROM pos JOIN anch ON anch.doc_id = pos.doc_id
         |    AND anch.p BETWEEN pos.q - ${SpanGram - 1} AND pos.q)
         |SELECT p.doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
         |  CAST(count(c.q) AS BIGINT) AS n_removed,
         |  md5(coalesce(array_to_string(
         |    list(p.tv[p.q + 1] ORDER BY p.q) FILTER (WHERE c.q IS NULL),
         |    ' '), '')) AS scrubbed_md5
         |FROM pos p LEFT JOIN cov c ON c.doc_id = p.doc_id AND c.q = p.q
         |GROUP BY p.doc_id
         |ORDER BY p.doc_id""".stripMargin,

    "dedup_shingle_novelty" ->
      s"""WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS tk
        |  FROM documents WHERE len(string_split_regex(trim(text), '\\s+')) >= 3),
        |sh AS (SELECT DISTINCT doc_id,
        |    unnest(list_transform(range(1, len(tk) - 1),
        |      i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS shingle
        |  FROM t),
        |f AS (SELECT shingle, min(doc_id) AS first_doc FROM sh GROUP BY 1),
        |a AS (SELECT sh.doc_id, count(*) AS n_shingles,
        |    CAST(sum(CASE WHEN first_doc = sh.doc_id THEN 1 ELSE 0 END)
        |      AS BIGINT) AS novel_shingles
        |  FROM sh JOIN f USING (shingle) GROUP BY 1)
        |SELECT doc_id, n_shingles, novel_shingles,
        |  round(CAST(novel_shingles AS DOUBLE) / CAST(n_shingles AS DOUBLE), 4)
        |    AS novelty
        |FROM a ORDER BY doc_id""".stripMargin,

    "dedup_shingle_jaccard" ->
      s"""WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS tk
        |  FROM documents WHERE len(string_split_regex(trim(text), '\\s+')) >= 3),
        |sh AS (SELECT DISTINCT doc_id,
        |    unnest(list_transform(range(1, len(tk) - 1),
        |      i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS shingle
        |  FROM t),
        |sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY 1),
        |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
        |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT doc_a, doc_b, round(c / (sa.n + sb.n - c), 4) AS jaccard
        |FROM inter
        |JOIN sizes sa ON doc_a = sa.doc_id
        |JOIN sizes sb ON doc_b = sb.doc_id
        |WHERE c / (sa.n + sb.n - c) >= $ShingleT
        |ORDER BY doc_a, doc_b""".stripMargin,

    // the oracle runs the naive all-pairs containment join, then the
    // identical (containment DESC, nb ASC, db ASC) argmax — the
    // asymmetric prefix filter is complete for C >= t, so the
    // candidate sets (and therefore the argmax) are identical
    "dedup_containment_top" ->
      s"""WITH dt AS (SELECT DISTINCT doc_id,
         |    unnest(string_split_regex(trim(text), '\\s+')) AS tok FROM documents),
         |sizes AS (SELECT doc_id, count(*) AS n FROM dt GROUP BY 1),
         |inter AS (SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS c
         |  FROM dt a JOIN dt b ON a.tok = b.tok AND a.doc_id != b.doc_id
         |  GROUP BY 1, 2),
         |j AS (SELECT da, db, c / sa.n AS cont, sb.n AS nb
         |  FROM inter
         |  JOIN sizes sa ON da = sa.doc_id
         |  JOIN sizes sb ON db = sb.doc_id
         |  WHERE sa.n < sb.n AND c / sa.n >= $ContainT),
         |r AS (SELECT da, db, cont, row_number() OVER (PARTITION BY da
         |    ORDER BY cont DESC, nb ASC, db ASC) AS rk FROM j)
         |SELECT da AS contained_doc, db AS container_doc,
         |  round(cont, 4) AS containment
         |FROM r WHERE rk = 1 ORDER BY contained_doc""".stripMargin,

    // all-pairs verified edge set (identical to the LSH-banded one by
    // the pigeonhole argument), then the canonical a < b < c triangle
    // listing — orientation choice cannot change the triangle SET
    "graph_triangles" ->
      s"""WITH dt AS (SELECT DISTINCT doc_id,
         |    unnest(string_split_regex(trim(text), '\\s+')) AS tok FROM documents),
         |mh AS (SELECT doc_id, kk.k AS k,
         |    min(CAST(concat('0x', substr(md5(kk.k || ':' || tok), 1, 15)) AS BIGINT)) AS mh
         |  FROM dt, range(0, $NumPerm) kk(k) GROUP BY 1, 2),
         |sigs AS (SELECT doc_id, list(mh ORDER BY k) AS sig FROM mh GROUP BY 1),
         |e AS (SELECT a.doc_id AS u, b.doc_id AS v
         |  FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
         |  WHERE len(list_filter(range(0, $NumPerm), i -> a.sig[i+1] = b.sig[i+1]))
         |    / ${NumPerm}.0 >= 0.9),
         |tri AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c
         |  FROM e e1 JOIN e e2 ON e2.u = e1.v
         |  JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
         |m AS (SELECT unnest([a, b, c]) AS doc_id FROM tri)
         |SELECT doc_id, count(*) AS n_triangles
         |FROM m GROUP BY 1 ORDER BY doc_id""".stripMargin,

    // identical collapse (signature classes keyed by min doc_id),
    // identical wedge/non-edge algebra, and the shared rounded-term
    // exact-decimal sum, so the ranking cannot fork between engines
    "graph_link_prediction" ->
      s"""WITH dt AS (SELECT DISTINCT doc_id,
         |    unnest(string_split_regex(trim(text), '\\s+')) AS tok FROM documents),
         |mh AS (SELECT doc_id, kk.k AS k,
         |    min(CAST(concat('0x', substr(md5(kk.k || ':' || tok), 1, 15)) AS BIGINT)) AS mh
         |  FROM dt, range(0, $NumPerm) kk(k) GROUP BY 1, 2),
         |sigs AS (SELECT doc_id, list(mh ORDER BY k) AS sig FROM mh GROUP BY 1),
         |grp AS (SELECT min(doc_id) AS gid, any_value(sig) AS sig
         |  FROM (SELECT doc_id, sig, CAST(sig AS VARCHAR) AS s FROM sigs)
         |  GROUP BY s),
         |ge AS (SELECT a.gid AS ga, b.gid AS gb
         |  FROM grp a JOIN grp b ON a.gid < b.gid
         |  WHERE len(list_filter(range(0, $NumPerm), i -> a.sig[i+1] = b.sig[i+1]))
         |    / ${NumPerm}.0 >= 0.9),
         |und AS (SELECT ga, gb FROM ge UNION ALL SELECT gb AS ga, ga AS gb FROM ge),
         |deg AS (SELECT ga AS c, count(*) AS deg FROM und GROUP BY 1),
         |wd AS (SELECT u1.ga AS c, u1.gb AS a, u2.gb AS b
         |  FROM und u1 JOIN und u2 ON u1.ga = u2.ga AND u1.gb < u2.gb),
         |ne AS (SELECT wd.c, wd.a, wd.b FROM wd
         |  LEFT JOIN ge ON ge.ga = wd.a AND ge.gb = wd.b
         |  WHERE ge.ga IS NULL),
         |sc AS (SELECT a, b, count(*) AS common_neighbors,
         |    SUM(CAST(round(1.0 / ln(deg.deg), 12) AS DECIMAL(25,15))) AS sc
         |  FROM ne JOIN deg USING (c) GROUP BY 1, 2)
         |SELECT a AS group_a, b AS group_b, common_neighbors,
         |  round(CAST(sc AS DOUBLE), 6) AS aa_score
         |FROM sc ORDER BY aa_score DESC, group_a, group_b LIMIT $AaTopK""".stripMargin,

    // doc-level brute force like graph_triangles, plus the degree
    // from the undirected edge list; the ratio divides exact integers
    // through the identical double tree
    "graph_clustering" ->
      s"""WITH dt AS (SELECT DISTINCT doc_id,
         |    unnest(string_split_regex(trim(text), '\\s+')) AS tok FROM documents),
         |mh AS (SELECT doc_id, kk.k AS k,
         |    min(CAST(concat('0x', substr(md5(kk.k || ':' || tok), 1, 15)) AS BIGINT)) AS mh
         |  FROM dt, range(0, $NumPerm) kk(k) GROUP BY 1, 2),
         |sigs AS (SELECT doc_id, list(mh ORDER BY k) AS sig FROM mh GROUP BY 1),
         |e AS (SELECT a.doc_id AS u, b.doc_id AS v
         |  FROM sigs a JOIN sigs b ON a.doc_id < b.doc_id
         |  WHERE len(list_filter(range(0, $NumPerm), i -> a.sig[i+1] = b.sig[i+1]))
         |    / ${NumPerm}.0 >= 0.9),
         |und AS (SELECT u, v FROM e UNION ALL SELECT v AS u, u AS v FROM e),
         |deg AS (SELECT u AS doc_id, CAST(count(*) AS BIGINT) AS degree
         |  FROM und GROUP BY 1),
         |tri AS (SELECT e1.u AS a, e1.v AS b, e2.v AS c
         |  FROM e e1 JOIN e e2 ON e2.u = e1.v
         |  JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v),
         |m AS (SELECT unnest([a, b, c]) AS doc_id FROM tri),
         |tc AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_triangles
         |  FROM m GROUP BY 1)
         |SELECT d.doc_id, d.degree,
         |  CAST(COALESCE(tc.n_triangles, 0) AS BIGINT) AS n_triangles,
         |  round(2.0 * COALESCE(tc.n_triangles, 0) /
         |    (d.degree * (d.degree - 1)), 6) AS clustering_coeff
         |FROM deg d LEFT JOIN tc USING (doc_id)
         |WHERE d.degree >= 2 ORDER BY d.doc_id""".stripMargin,

    "dedup_jaccard_pairs" ->
      """WITH dt AS (SELECT DISTINCT doc_id,
        |    unnest(string_split_regex(trim(text), '\s+')) AS tok FROM documents),
        |sizes AS (SELECT doc_id, count(*) AS n FROM dt GROUP BY 1),
        |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS c
        |  FROM dt a JOIN dt b ON a.tok = b.tok AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT doc_a, doc_b,
        |  round(c / (sa.n + sb.n - c), 4) AS jaccard
        |FROM inter
        |JOIN sizes sa ON doc_a = sa.doc_id
        |JOIN sizes sb ON doc_b = sb.doc_id
        |WHERE c / (sa.n + sb.n - c) >= 0.95
        |ORDER BY doc_a, doc_b""".stripMargin,
  )
}
