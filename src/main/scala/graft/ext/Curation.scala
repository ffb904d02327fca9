package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.Num.{dsumExact, r4}

/** Corpus-curation operators — the sampling / selection stage of a
  * training-data pipeline over `documents`. The reference has no
  * analog (north-star scope, like [[Dedup]]/[[Similarity]]); what it
  * pins down is the discipline: every operator here is DETERMINISTIC
  * (keyed md5, never `rand()`), so a 100 TB curation run is
  * reproducible bit-for-bit across retries, engines, and the DuckDB
  * oracle.
  *
  *  - [[hashBernoulli]] — keyed-hash Bernoulli sampling: map-only,
  *    no shuffle, stable under re-execution and appends (a doc's
  *    in/out never changes when its neighbors change — `rand()` or
  *    `TABLESAMPLE` give neither).
  *  - [[stratifiedSample]] — exact per-stratum quota by hash order,
  *    computed as the classic two-phase top-k (salted partial top-k,
  *    then top-k of the survivors) so no single reducer ever sees a
  *    whole stratum: the one-window form puts all of `lang='en'` —
  *    half the web — on one task at 100 TB.
  *  - [[pipeline]] — the end-to-end curation flagship: quality gate ∧
  *    language gate (one fused scan) → near-dup cluster
  *    representatives only (MinHash CC from [[Dedup.clusters]]) →
  *    deterministic budget downsample.
  */
object Curation {

  /** 60-bit cross-engine hash (first 15 md5 hex digits), keyed by a
    * per-operator salt so samplers draw independent coordinates.
    * DuckDB: `CAST(concat('0x', substr(md5(key || doc_id), 1, 15)) AS
    * BIGINT)`. */
  private def docHash60(key: String): Column =
    graft.functions.Md5Hash60.md5Hash60(
      concat(lit(key), col("doc_id").cast("string")))

  private def docHash60Sql(key: String): String =
    s"CAST(concat('0x', substr(md5('$key' || doc_id), 1, 15)) AS BIGINT)"

  private val SamplePct  = 20  // hashBernoulli keep rate (%)
  private val StratQuota = 25  // stratifiedSample docs per language
  private val StratSalts = 8   // phase-1 fan-out per stratum
  private val CuratePct  = 50  // pipeline budget keep rate (%)

  /** Deterministic Bernoulli sample: keep a doc iff its keyed hash
    * lands in the first [[SamplePct]] of 100 buckets. Map-only — the
    * plan is scan → filter → project, zero data-shuffle at any scale
    * (the only exchange is the output sort's range partitioning). */
  def hashBernoulli(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .withColumn("sample_bucket", pmod(docHash60("sample:"), lit(100)))
      .filter(col("sample_bucket") < SamplePct)
      .select(col("doc_id"), col("lang"), col("sample_bucket"))
      .orderBy("doc_id")

  /** Exact [[StratQuota]]-per-language sample, ordered by keyed hash
    * (equivalently: a uniform draw without replacement, replayable).
    * Two-phase: phase 1 takes the per-(lang, salt) top-[[StratQuota]]
    * — [[StratSalts]]× the parallelism of a per-lang window, and each
    * task ranks only its slice; phase 2 ranks the ≤ quota·salts
    * survivors per lang (tiny by construction). The union of slice
    * top-k contains the stratum top-k, so this equals the one-window
    * form row-for-row — `CurationSpec` asserts it. */
  def stratifiedSample(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"))
      .withColumn("h", docHash60("strat:"))
      .withColumn("salt", pmod(col("h"), lit(StratSalts)))
    val perSlice = Window.partitionBy("lang", "salt")
      .orderBy(col("h"), col("doc_id"))
    val perLang = Window.partitionBy("lang")
      .orderBy(col("h"), col("doc_id"))
    base
      .withColumn("r1", row_number().over(perSlice))
      .filter(col("r1") <= StratQuota)
      .withColumn("rk", row_number().over(perLang).cast("long"))
      .filter(col("rk") <= StratQuota)
      .select(col("lang"), col("doc_id"), col("rk"))
      .orderBy("lang", "rk")
  }

  private val DriftMod = 7L // current batch: doc_id % DriftMod == 0

  /** Distribution-DRIFT monitor (PSI) — the data-ops gate a standing
    * curation pipeline runs on every arriving batch: quality models
    * and mixture weights are calibrated on a reference distribution,
    * and the characteristic silent failure is the INPUT shifting
    * under them (new scraper, new source mix, new boilerplate), not
    * the code. Population Stability Index per per-doc signal between
    * the reference corpus (doc_id % [[DriftMod]] ≠ 0) and the
    * arriving batch (= 0 — the established IVM split device):
    * PSI = Σ_bins (p−q)·ln(p/q) with add-one smoothing, the standard
    * ops bands (< 0.1 stable, < 0.25 moderate, else shifted).
    *
    * Scale + determinism shape: the three signals are INTEGERS
    * (chars, tokens, distinct tokens), binned by binary magnitude —
    * `length(bin(v))` — so bin membership is integer-exact on both
    * engines (a float-derived signal could flip a doc across a bin
    * edge by one ulp); one map-side explode → one vocabulary-sized
    * (signal, bucket) aggregate (≤ ~64 buckets/signal at ANY corpus
    * size — this is a single map-combine pass at 100 TB); the ln
    * terms round to 12 dp before the exact-DECIMAL sum (the
    * entropy/PMI discipline), the PSI to 4. */
  def drift(s: SparkSession, dir: String): DataFrame = {
    val toks = Text.tokens(col("text"))
    val sv = Tables.documents(s, dir).select(col("doc_id"),
        explode(array(
          struct(lit("n_chars").as("signal"), col("n_chars").cast("long").as("v")),
          struct(lit("n_tokens").as("signal"), size(toks).cast("long").as("v")),
          struct(lit("n_types").as("signal"),
            size(array_distinct(toks)).cast("long").as("v")))).as("sv"))
      .select(col("sv.signal").as("signal"),
        length(bin(col("sv.v"))).as("bucket"),
        (col("doc_id") % DriftMod === 0).as("cur"))
    val c = sv.groupBy("signal", "bucket").agg(
      sum(when(!col("cur"), 1L).otherwise(0L)).as("c_base"),
      sum(when(col("cur"), 1L).otherwise(0L)).as("c_cur"))
    val t = c.groupBy("signal").agg(
      sum("c_base").as("n_base"), sum("c_cur").as("n_current"),
      count(lit(1)).as("n_bins"))
    val d = (x: Column) => x.cast("double")
    val p = d(col("c_base") + 1) / d(col("n_base") + col("n_bins"))
    val q = d(col("c_cur") + 1) / d(col("n_current") + col("n_bins"))
    val psi = round(col("psi_raw"), 4)
    c.join(broadcast(t), Seq("signal"))
      .select(col("signal"), col("n_base"), col("n_current"), col("n_bins"),
        round((p - q) * log(p / q), 12).as("term"))
      .groupBy("signal", "n_base", "n_current", "n_bins")
      .agg(sum(col("term").cast(org.apache.spark.sql.types.DecimalType(25, 15)))
        .cast("double").as("psi_raw"))
      .select(col("signal"), col("n_base"), col("n_current"), col("n_bins"),
        psi.as("psi"),
        when(psi < 0.1, "stable").when(psi < 0.25, "moderate")
          .otherwise("shifted").as("drift_band"))
      .orderBy("signal")
  }

  private val BalSalts = 8 // balancedClasses phase-1 fan-out per class

  /** CLASS-BALANCED downsampling — the classifier-training
    * counterpart of [[stratifiedSample]]'s fixed quotas: every class
    * caps at the MINORITY class's size (the quota is data-derived —
    * a #classes-sized aggregate reduced to one broadcast row), so a
    * skewed label distribution trains as a uniform one. Membership is
    * the keyed-hash order (deterministic across engines/retries — no
    * `rand()`), drawn with the salted two-phase rank so no class ever
    * ranks its full population on one task: phase 1 ranks within
    * (class, salt-of-hash) slices and keeps `quota` per slice (any
    * global top-quota member is within its slice's top-quota —
    * pigeonhole), phase 2 ranks the ≤ quota·[[BalSalts]] survivors.
    * Oracle states the plan-equivalent one-window form (the
    * [[stratifiedSample]] precedent, spec-asserted there). */
  def balancedClasses(s: SparkSession, dir: String): DataFrame = {
    val base = Tables.embeddings(s, dir)
      .select(col("vec_id"), col("label"))
      .withColumn("h", graft.functions.Md5Hash60.md5Hash60(
        concat(lit("balance:"), col("vec_id").cast("string"))))
      .withColumn("salt", pmod(col("h"), lit(BalSalts)))
    val quota = base.groupBy("label").agg(count(lit(1)).as("n"))
      .agg(min("n").as("quota"))
    val perSlice = Window.partitionBy("label", "salt")
      .orderBy(col("h"), col("vec_id"))
    val perClass = Window.partitionBy("label")
      .orderBy(col("h"), col("vec_id"))
    base.crossJoin(broadcast(quota))
      .withColumn("r1", row_number().over(perSlice))
      .filter(col("r1") <= col("quota"))
      .withColumn("rk", row_number().over(perClass).cast("long"))
      .filter(col("rk") <= col("quota"))
      .select(col("label"), col("vec_id"), col("rk"))
      .orderBy("label", "rk")
  }

  /** BATCH NOVELTY — the crawl-health readout next to
    * [[drift]]: what fraction of the arriving batch's distinct
    * 3-token shingles has the standing corpus never seen, per source?
    * A fresh crawl of a mostly-static site reads near zero (pure
    * re-crawl — candidate for skip/dedup at ingest); a healthy new
    * source reads high. The intra-corpus first-owner form
    * ([[Dedup.shingleNovelty]]) attributes novelty doc-by-doc; this is
    * the INCREMENTAL face over the shared %[[DriftMod]] IVM split —
    * the question ops actually asks per batch. One gram-vocabulary-
    * sized flag aggregate (does ANY standing doc carry this shingle —
    * map-side combined), the batch's distinct (source, shingle) rows
    * re-join it SHUFFLE-HASH (gram vocabulary is corpus-derived,
    * never broadcast), then a #sources-sized rollup. */
  def batchNovelty(s: SparkSession, dir: String): DataFrame = {
    val sh = Dedup.shingleRows(s, dir).select(col("doc_id"), col("sh"))
    val isDelta = col("doc_id") % DriftMod === 0
    val flags = sh.select(col("sh"), (!isDelta).cast("int").as("b"))
      .groupBy("sh").agg(max("b").as("in_base"))
    val src = Tables.documents(s, dir).select("doc_id", "source")
    val deltaSh = sh.filter(isDelta)
      .join(src.hint("shuffle_hash"), Seq("doc_id"))
      .select("source", "sh").distinct()
    // flags build side is the gram VOCABULARY (corpus-derived strings)
    // — population-scaled width, the span-family discipline (r14; the
    // sf100 probe caught the fixed-width twin of this join OOMing)
    val nP = Dedup.textJoinParts(Dedup.shingleArrays(s, dir))
    Dedup.widthKeyed(deltaSh, nP, col("sh"))
      .join(Dedup.widthKeyed(flags, nP, col("sh")).hint("shuffle_hash"),
        Seq("sh"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_shingles"),
        sum(lit(1) - col("in_base")).as("novel_shingles"))
      .select(col("source"), col("n_shingles"), col("novel_shingles"),
        r4(col("novel_shingles").cast("double") /
          col("n_shingles").cast("double")).as("novelty_rate"))
      .orderBy("source")
  }

  private val NeymanBudget = 200L // total sample size across strata

  /** NEYMAN-OPTIMAL stratified allocation (Neyman 1934) — the other
    * classic next to [[stratifiedSample]]'s equal quotas: allocate a
    * fixed budget of [[NeymanBudget]] draws across strata (sources)
    * proportional to `N_h · S_h` (stratum size × token-count standard
    * deviation), the allocation that minimizes the variance of the
    * stratified mean estimator. High-variance sources get deeper
    * samples; uniform ones get shallow.
    *
    * Determinism at every step: per-stratum Σx and Σx² are exact
    * BIGINT sums (x = token count; DECIMAL at a scale where Σx²
    * approaches 2⁶³); the population variance and `S_h` derive
    * through the identical double tree on both engines with `S_h`
    * rounded to 8 dp; weights round to 8 dp and total through the
    * exact-DECIMAL path (double sum order must not matter);
    * fractional allocations resolve by LARGEST-REMAINDER rounding
    * (floor + top-remainder bumps, ties on source) so the realized
    * total is exactly the budget; the draw itself is the keyed-hash
    * order (salted two-phase rank, the [[stratifiedSample]] shape —
    * no stratum ever ranks on one task). Allocations cap at the
    * stratum size without redistribution (documented; never binds on
    * balanced corpora). */
  def neymanSample(s: SparkSession, dir: String): DataFrame = {
    val x = size(Text.tokens(col("text"))).cast("long")
    val base = Tables.documents(s, dir)
      .select(col("source"), col("doc_id"), x.as("x"))
      .withColumn("h", docHash60("neyman:"))
    val per = base.groupBy("source").agg(
      count(lit(1)).as("nh"),
      sum(col("x")).as("sx"),
      sum(col("x") * col("x")).as("sxx"))
    val d = (c: Column) => c.cast("double")
    val s2 = (d(col("sxx")) - d(col("sx")) * d(col("sx")) / d(col("nh"))) /
      d(col("nh"))
    val weighted = per
      .withColumn("sd", round(sqrt(s2), 8))
      .withColumn("w8", round(d(col("nh")) * col("sd"), 8)
        .cast(org.apache.spark.sql.types.DecimalType(25, 8)))
    val tot = weighted.agg(sum(col("w8")).as("wtot"))
    val ideal = lit(NeymanBudget.toDouble) * d(col("w8")) / d(col("wtot"))
    val alloc0 = weighted.crossJoin(broadcast(tot))
      .withColumn("ideal", ideal)
      .withColumn("base", floor(col("ideal")).cast("long"))
      .withColumn("rem", col("ideal") - col("base"))
    val spare = alloc0.agg((lit(NeymanBudget) - sum(col("base"))).as("spare"))
    val wRem = Window.orderBy(col("rem").desc, col("source").asc)
    val alloc = alloc0.crossJoin(broadcast(spare))
      // strata-count-sized frame: the global remainder rank is fine
      .withColumn("rr", row_number().over(wRem))
      .withColumn("n_alloc",
        least(col("base") + when(col("rr") <= col("spare"), 1L).otherwise(0L),
          col("nh")))
      .select(col("source"), col("sd").as("sd_tokens"), col("n_alloc"))
    val perSlice = Window.partitionBy("source", "salt")
      .orderBy(col("h"), col("doc_id"))
    val perSrc = Window.partitionBy("source").orderBy(col("h"), col("doc_id"))
    base
      .withColumn("salt", pmod(col("h"), lit(StratSalts)))
      .withColumn("r1", row_number().over(perSlice))
      .filter(col("r1") <= NeymanBudget) // phase-1 cap: a stratum never
                                         // exceeds the whole budget
      .withColumn("rk", row_number().over(perSrc).cast("long"))
      .join(broadcast(alloc), Seq("source"))
      .filter(col("rk") <= col("n_alloc"))
      .select(col("source"), col("doc_id"), col("rk"),
        col("n_alloc"), col("sd_tokens"))
      .orderBy("source", "rk")
  }

  /** End-to-end curation: one fused scan computes the quality gate
    * (token count in range, stopword ratio above floor — the
    * [[Text.quality]] acceptance flag) and the language gate
    * ([[Text.langId]] argmax = en); survivors keep only their MinHash
    * near-dup cluster representative (linear-output dedup,
    * [[Dedup.clusters]] — memoized, so the CC fixpoint is shared with
    * `dedup_clusters`); the final budget stage is a keyed-hash
    * downsample to [[CuratePct]]%. Join is shuffle-hash: the cluster
    * map is corpus-derived (one row per doc) — broadcasting it is the
    * at-scale job-killer the round-2 verdict flagged. Output carries
    * the bookkeeping a curation run reports: tokens kept and the
    * cluster mass each kept doc represents. */
  def pipeline(s: SparkSession, dir: String): DataFrame = {
    val t = Text.tokens(col("text"))
    val scored = Tables.documents(s, dir).select(
      col("doc_id"),
      size(t).cast("long").as("n_tokens"),
      r4(Text.hitRatio(t, Text.stopEn)).as("stopword_ratio"),
      Text.hitRatio(t, Text.stopEn).as("s_en"),
      Text.hitRatio(t, Text.stopDe).as("s_de"),
      Text.hitRatio(t, Text.stopFr).as("s_fr"),
      Text.hitRatio(t, Text.stopEs).as("s_es"))
    val eligible = scored.filter(
      Text.qualityOk(col("n_tokens"), col("stopword_ratio")) &&
        col("s_en") >= col("s_de") && col("s_en") >= col("s_fr") &&
        col("s_en") >= col("s_es"))
    val reps = Dedup.clusters(s, dir)
      .filter(col("doc_id") === col("cluster_rep"))
      .select(col("doc_id"), col("cluster_size"))
    eligible
      .join(reps.hint("shuffle_hash"), Seq("doc_id"))
      .filter(pmod(docHash60("curate:"), lit(100)) < CuratePct)
      .select(col("doc_id"), col("n_tokens"), col("cluster_size"))
      .orderBy("doc_id")
  }

  private val ShardBudget  = 4096L // tokens per output shard
  private val ShardBucketW = 100L  // docs per prefix-sum bucket

  /** Token-budget sharding — the sequence-packing prelude of a
    * training pipeline: assign documents, in doc_id order, to
    * contiguous shards of ~[[ShardBudget]] tokens via a DISTRIBUTED
    * PREFIX SUM. The textbook formulation — one running total `OVER
    * (ORDER BY doc_id)` — is the textbook bottleneck: a global
    * window puts the whole corpus on one task. Here the scan is the
    * classic two-phase parallel-prefix shape:
    *
    *  1. bucket-level token totals, bucket = `doc_id div W` (a
    *     deterministic range split — no sampling, unlike
    *     `repartitionByRange`, so re-execution is bit-stable);
    *     cumulated into exclusive per-bucket offsets driver-side —
    *     the sync is one long per bucket (the k-means-centroid
    *     shape; W scales so bucket count ~ √corpus)
    *  2. a PARTITIONED window cumsum within each bucket, shifted by
    *     the broadcast bucket offset — no partition ever holds more
    *     than W rows
    *
    * The result is independent of W; the oracle is the naive
    * global-window cumsum in DuckDB. */
  def tokenShards(s: SparkSession, dir: String): DataFrame =
    tokenShards(s, dir, ShardBucketW)

  /** Bucket width is a pure parallelism knob — [[CurationSpec]]
    * property-checks that the output is identical for any width. */
  private[graft] def tokenShards(s: SparkSession, dir: String,
      bucketW: Long): DataFrame = {
    val docs = Tables.documents(s, dir)
      .select(col("doc_id"),
        size(Text.tokens(col("text"))).cast("long").as("n_tokens"),
        (col("doc_id").cast("long") / bucketW).cast("long").as("bucket"))
    // phase 1: per-bucket totals -> exclusive running offsets (the
    // collect is bucket-count-sized, never corpus-sized)
    val sums = docs.groupBy("bucket").agg(sum("n_tokens").as("t"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    var acc = 0L
    val offsets = sums.map { case (b, t) => val o = acc; acc += t; (b, o) }
    val offDf = s.createDataFrame(offsets.toSeq).toDF("bucket", "offset")
    // phase 2: within-bucket cumsum + offset; shard = which budget
    // block the doc's token range STARTS in
    val w = Window.partitionBy("bucket").orderBy("doc_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    docs.join(broadcast(offDf), Seq("bucket"))
      .withColumn("start",
        col("offset") + sum(col("n_tokens")).over(w) - col("n_tokens"))
      .select(col("doc_id"), col("n_tokens"),
        floor(col("start") / lit(ShardBudget)).as("shard"))
      .orderBy("doc_id")
  }

  private val ChunkSize   = 64 // tokens per training chunk
  private val ChunkStride = 48 // chunk start spacing (overlap = 16)

  /** Context-window chunking — the doc→training-example splitter that
    * follows packing in a pretraining pipeline: each document yields
    * overlapping [[ChunkSize]]-token chunks whose starts advance by
    * [[ChunkStride]] (the classic stride-with-overlap so no token is
    * only ever seen at a window edge). A new chunk opens only while
    * the previous one did not reach the end of the doc, so
    * `n_chunks = 1 + ⌈max(n − size, 0) / stride⌉` and the tail chunk
    * is short rather than duplicated.
    *
    * Map-only: chunk offsets come from a `sequence`+`transform` over
    * each row, `inline` explodes them — zero shuffle at any corpus
    * size (the output sort is the only exchange). Chunk content
    * travels as an md5 of the token slice, so the verify surface is
    * byte-exact without dumping text. */
  /** Chunk structs over an arbitrary token-array column — shared by
    * the raw-text chunker and the scrub→pack composition. */
  private def chunkStructs(t: Column): Column = {
    val n = size(t)
    val nChunks = (lit(1) + floor(
      (greatest(n - ChunkSize, lit(0)) + lit(ChunkStride - 1)) /
        lit(ChunkStride))).cast("int")
    transform(sequence(lit(0), nChunks - 1), k => {
      val ct = slice(t, k * ChunkStride + 1, lit(ChunkSize))
      struct(
        k.cast("long").as("chunk_id"),
        (k * ChunkStride).cast("long").as("start"),
        size(ct).cast("long").as("chunk_tokens"),
        md5(concat_ws(" ", ct).cast("binary")).as("chunk_md5"))
    })
  }

  def contextChunks(s: SparkSession, dir: String): DataFrame =
    Tables.documents(s, dir)
      .select(col("doc_id"), inline(chunkStructs(Text.tokens(col("text")))))
      .orderBy("doc_id", "chunk_id")

  /** Span-scrub → pack composition — the actual Lee et al. 2022
    * training-data flow run end-to-end as ONE pipeline: excise every
    * duplicated ≥-gram span from the corpus
    * ([[Dedup.scrubbedDocs]] — the survivor token stream of
    * `dedup_span_scrub`), then chunk the SCRUBBED stream into
    * training windows ([[contextChunks]] semantics over `stoks`
    * instead of raw text). Composition is plan-level: the scrub's
    * coverage window, the gram-frequency shuffle-hash join, and the
    * map-only chunker fuse into one job — no intermediate
    * materialization, no second corpus scan. A fully-duplicated doc
    * scrubs to an empty stream and still emits its one empty chunk
    * (md5 of ""), so the output covers every tokenizable doc. */
  def scrubPack(s: SparkSession, dir: String): DataFrame =
    graft.ext.Dedup.scrubbedDocs(
        Tables.documents(s, dir)
          .repartition(s.sparkContext.defaultParallelism))
      .select(col("doc_id"), inline(chunkStructs(col("stoks"))))
      .orderBy("doc_id", "chunk_id")

  private val WeightedK = 50 // weighted sample size

  /** Deterministic weighted sampling without replacement (Efraimidis–
    * Spirakis A-ES): each doc draws u from its keyed md5 hash
    * (replayable — no `rand()`), scores key = u^(1/w) with w = token
    * count, and the global top-[[WeightedK]] keys win — exactly a
    * weighted draw, longer docs proportionally likelier. The top-k
    * runs as TakeOrderedAndProject (per-partition top-k, then a
    * k-row merge — never a global sort). Keys round to 6 decimals
    * BEFORE ranking so both engines order identically (`pow` can
    * differ in the last ulp); doc_id breaks rounded ties. */
  def weightedSample(s: SparkSession, dir: String): DataFrame = {
    val w = size(Text.tokens(col("text"))).cast("double")
    val u = (docHash60("wsample:").cast("double") + 1.0) /
      lit(math.pow(2, 60))
    Tables.documents(s, dir)
      .select(col("doc_id"), w.cast("long").as("weight"),
        round(pow(u, lit(1.0) / w), 6).as("key"))
      .orderBy(col("key").desc, col("doc_id").asc)
      .limit(WeightedK)
  }

  private val DecontamN = 5   // token-shingle width
  private val EvalMod   = 37L // eval split: doc_id % EvalMod == 0

  /** 60-bit hashes of the doc's [[DecontamN]]-token shingles (empty
    * when the doc is shorter than one shingle) — the native
    * [[graft.functions.NgramHash60]] kernel; bit-identical to the
    * interpreted `transform(sequence(...), i => conv(substring(md5(
    * concat_ws(" ", slice(t,i,n))...)` chain it replaces (asserted in
    * ExpressionsSpec) at a fraction of the per-shingle cost. */
  private def ngramHashes(t: Column): Column =
    graft.functions.NgramHash60.ngramHash60(t, DecontamN)

  /** Benchmark decontamination — the pipeline stage every serious
    * training-data run performs between dedup and packing: flag any
    * training document sharing a [[DecontamN]]-token shingle with the
    * held-out eval split (here a deterministic `doc_id % EvalMod`
    * slice standing in for the benchmark suite). Matching is on
    * 60-bit shingle hashes, so the contamination join carries one
    * long per distinct (doc, shingle) — never text. The eval n-gram
    * set joins SHUFFLE-HASH under the corpus-derived-side discipline;
    * against a real (bounded, benchmark-sized) suite the same plan
    * broadcasts it. Output: every training doc with its distinct-
    * shingle hit count and the keep/drop flag. */
  def decontaminate(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir).select(col("doc_id"),
      ngramHashes(Text.tokens(col("text"))).as("ngs"))
    val train = docs.filter(col("doc_id") % EvalMod =!= 0)
    // per-doc hash dedup happens map-side (array_distinct) — the
    // (doc, shingle) distinct needs NO shuffle; only the cross-doc
    // eval-set distinct aggregates
    val evalNg = docs.filter(col("doc_id") % EvalMod === 0)
      .select(explode(array_distinct(col("ngs"))).as("h")).distinct()
    val trainNg = train
      .select(col("doc_id"), explode(array_distinct(col("ngs"))).as("h"))
    val hits = trainNg.join(evalNg.hint("shuffle_hash"), Seq("h"))
      .groupBy("doc_id").agg(count(lit(1)).as("n_hit_ngrams"))
    train.select("doc_id")
      .join(hits.hint("shuffle_hash"), Seq("doc_id"), "left")
      .withColumn("n_hit_ngrams", coalesce(col("n_hit_ngrams"), lit(0L)))
      .withColumn("contaminated", col("n_hit_ngrams") > 0)
      .orderBy("doc_id")
  }

  /** Source-mixture rebalancing under a token budget — the
    * training-mix construction step: sample each provenance bucket at
    * the rate that gives every source an EQUAL share of a 50%-of-
    * corpus token budget (sources smaller than their share keep
    * everything — `least(1, ·)`). Rates derive from two tiny
    * aggregates (per-source token totals → corpus total); the
    * ≤ #sources rate table joins back BROADCAST, so the sampling pass
    * itself is map-side keyed-md5 — the [[hashBernoulli]] coordinate,
    * independent salt — with zero data shuffle before the final
    * per-source report. Deterministic end-to-end: the hash coordinate
    * is an exact rational and the rate derives through the identical
    * double tree on both engines. */
  private val MixBudgetShare = 0.5

  def sourceMixture(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
      .select(col("source"), col("doc_id"),
        size(Text.tokens(col("text"))).cast("long").as("n_tokens"))
    val per = docs.groupBy("source").agg(sum("n_tokens").as("src_tokens"))
    val tot = per.agg(sum("src_tokens").as("corpus_tokens"),
      count(lit(1)).as("n_sources"))
    val rates = per.crossJoin(broadcast(tot))
      .select(col("source"),
        least(lit(1.0),
          col("corpus_tokens").cast("double") * lit(MixBudgetShare) /
            col("n_sources").cast("double") /
            col("src_tokens").cast("double")).as("rate"))
    docs.join(broadcast(rates), Seq("source"))
      .withColumn("u",
        pmod(docHash60("mix:"), lit(1000000)).cast("double") / lit(1000000.0))
      .filter(col("u") < col("rate"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs_kept"),
        sum("n_tokens").as("kept_tokens"),
        r4(min(col("rate"))).as("rate"))
      .orderBy("source")
  }

  /** Temperature exponent is pinned at 1/2 so the up/down-weighting
    * power is `sqrt` — IEEE-754 requires sqrt correctly rounded, so
    * the temperature curve is bit-identical on both engines where a
    * libm `pow(x, 0.3)` would not be. */
  private val TempBudgetShare = 0.5

  /** Temperature-scaled multilingual mixture (the mC4/XLM-R α-scaling
    * policy): languages are resampled toward `p_l^α / Σ p^α` with
    * α = 1/2 — high-resource languages are down-weighted and
    * low-resource ones up-weighted relative to their natural share,
    * which is the published fix for English drowning out everything
    * else in a multilingual pretraining mix ([[sourceMixture]] is the
    * equal-share policy; this is the smooth interpolation between
    * natural and uniform). Rates derive from two #languages-sized
    * aggregates (per-language token totals, then the temperature
    * normalizer as an exact decimal sum so its value is independent
    * of reduction order); the ≤ #langs rate table joins back
    * BROADCAST and the sampling pass is map-side keyed-md5 — zero
    * data shuffle before the final per-language report, at any
    * corpus size. */
  def temperatureMixture(s: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(s, dir)
      .select(col("lang"), col("doc_id"),
        size(Text.tokens(col("text"))).cast("long").as("n_tokens"))
    val per = docs.groupBy("lang").agg(sum("n_tokens").as("lang_tokens"))
    val tot = per.agg(sum("lang_tokens").as("corpus_tokens"))
    // q_l = sqrt(p_l), rounded to 8 dp so the normalizer sums exact
    // decimals (order-independent) instead of order-sensitive doubles
    val withQ = per.crossJoin(broadcast(tot))
      .withColumn("q",
        round(sqrt(col("lang_tokens").cast("double") /
          col("corpus_tokens").cast("double")), 8)
          .cast("decimal(25,8)"))
    val z = withQ.agg(dsumExact(col("q")).as("z"))
    val rates = withQ.crossJoin(broadcast(z))
      .select(col("lang"), col("lang_tokens"),
        round(
          least(lit(1.0),
            col("corpus_tokens").cast("double") * lit(TempBudgetShare) *
              (col("q").cast("double") / col("z").cast("double")) /
              col("lang_tokens").cast("double")), 8).as("rate"))
    docs.join(broadcast(rates), Seq("lang"))
      .withColumn("u",
        pmod(docHash60("temp:"), lit(1000000)).cast("double") / lit(1000000.0))
      .filter(col("u") < col("rate"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs_kept"),
        sum("n_tokens").as("kept_tokens"),
        r4(min(col("rate"))).as("rate"))
      .orderBy("lang")
  }

  /** Power-of-two sequence-length ladder: smallest batch shape is 16
    * tokens, largest is 512 — anything longer truncates to 512 (the
    * max-context rule; longer docs are [[contextChunks]]' job). */
  private val LenBuckets = Seq(16L, 32L, 64L, 128L, 256L, 512L)

  /** Sequence-length bucketing — the batch-shaping step between
    * curation and training: group documents into power-of-two token-
    * length buckets so each batch pads to its bucket cap instead of
    * the global max (padding waste is the largest silent FLOP sink in
    * a fixed-shape training job). Reports per-bucket doc count, real
    * vs padded token volume, the padding-waste fraction, and how many
    * docs hit the max-context truncation rule.
    *
    * Scale shape: token counting and bucket assignment are per-row
    * expressions (a `when` cascade over the fixed ladder — no log2
    * libm call, identical comparisons on both engines); the only
    * shuffle carries ≤ #buckets pre-combined rows. Map-only but for
    * the final ladder-sized aggregate, at any corpus size. */
  def lengthBuckets(s: SparkSession, dir: String): DataFrame = {
    val n = size(Text.tokens(col("text"))).cast("long")
    val bucket = LenBuckets.reverse.tail
      .foldLeft(lit(LenBuckets.last): Column) {
        case (acc, cap) => when(n <= cap, lit(cap)).otherwise(acc)
      }
    Tables.documents(s, dir)
      .select(bucket.as("bucket"), n.as("n_tokens"))
      .select(col("bucket"),
        least(col("n_tokens"), col("bucket")).as("kept_tokens"),
        (col("n_tokens") > LenBuckets.last).cast("int").as("truncated"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_docs"),
        sum("kept_tokens").as("total_tokens"),
        sum("truncated").cast("long").as("n_truncated"))
      .withColumn("padded_tokens", col("n_docs") * col("bucket"))
      .withColumn("waste_pct",
        r4(lit(1.0) - col("total_tokens").cast("double") /
          col("padded_tokens").cast("double")))
      .orderBy("bucket")
  }

  private val ValPermille = 100 // 10.0% of CLUSTERS go to validation

  /** Near-dup-aware train/validation split — the leakage guard of an
    * eval protocol: the split coordinate is the keyed hash of the
    * near-dup CLUSTER REPRESENTATIVE, not of the doc, so every member
    * of a near-dup cluster lands on the same side and no training doc
    * has a near-duplicate sitting in validation (a doc-level hash
    * split cannot prevent that leak; at web scale most eval
    * contamination IS a near-dup of a training doc). Composes the
    * session-memoized [[Dedup.clusters]] (MinHash-band connected
    * components); the split itself is map-only arithmetic over the
    * linear cluster map — no new shuffle at any scale. */
  def leakFreeSplit(s: SparkSession, dir: String): DataFrame =
    Dedup.clusters(s, dir)
      .withColumn("h",
        pmod(graft.functions.Md5Hash60.md5Hash60(concat(lit("split:"),
          col("cluster_rep").cast("string"))), lit(1000)))
      .withColumn("split",
        when(col("h") < ValPermille, lit("val")).otherwise(lit("train")))
      .select(col("doc_id"), col("cluster_rep"), col("split"))
      .orderBy("doc_id")

  /** [[leakFreeSplit]] upgraded to the CROSS-MODAL entity map: the
    * split keys on [[Dedup.crossModalClusters]]' representative —
    * text MinHash components ∪ verified embedding near-dups ∪
    * verified image duplicates, closed transitively — so a multimodal
    * corpus cannot leak a validation doc whose near-duplicate TEXT
    * sits in train, NOR one whose duplicate lives only in the image
    * or embedding modality (a text-only cluster split misses exactly
    * those: a re-encoded image with rewritten alt text, a paraphrase
    * with an identical embedding). Same rep-keyed md5 coordinate and
    * permille gate; the entity map is the session-memoized family
    * build shared with the cluster query, and the split itself stays
    * map-only arithmetic — no new shuffle at any scale. */
  def crossModalSplit(s: SparkSession, dir: String): DataFrame =
    Dedup.crossModalClusters(s, dir)
      .withColumn("h",
        pmod(graft.functions.Md5Hash60.md5Hash60(concat(lit("split:"),
          col("cluster_rep").cast("string"))), lit(1000)))
      .withColumn("split",
        when(col("h") < ValPermille, lit("val")).otherwise(lit("train")))
      .select(col("doc_id"), col("cluster_rep"), col("split"))
      .orderBy("doc_id")

  /** 3σ envelope for Spark's HLL++ at its default rsd = 0.05. */
  private val ProfileRsdBound = 0.15

  /** Per-column profile spec: (column name, Spark value expression,
    * DuckDB value SQL). Every column lands in ONE comparable double
    * coordinate — numerics cast, strings profile their length, dates
    * profile epoch-days — so min/max/ndv mean the same thing across
    * types and engines. */
  private val ProfileCols: Seq[(String, Column, String)] = {
    val nums = Seq("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber",
      "l_quantity", "l_extendedprice", "l_discount", "l_tax")
      .map(c => (c, col(c).cast("double"), s"CAST($c AS DOUBLE)"))
    val strs = Seq("l_returnflag", "l_linestatus")
      .map(c => (c, length(col(c)).cast("double"),
        s"CAST(length($c) AS DOUBLE)"))
    val dates = Seq("l_shipdate")
      .map(c => (c, datediff(to_date(col(c)),
        lit("1970-01-01").cast("date")).cast("double"),
        s"CAST(date_diff('day', DATE '1970-01-01', CAST($c AS DATE)) AS DOUBLE)"))
    nums ++ strs ++ dates
  }

  /** One-pass table profiler — the data-quality / stats-collection
    * step an ingestion pipeline runs before training-data selection
    * (and the input a cost-based optimizer wants): per column of
    * `lineitem`, row count, null count, exact distinct count, rounded
    * min/max, and a sketch-certification flag showing the HLL++
    * estimate landed inside its 3σ envelope of the exact count.
    *
    * Plan shape: ONE scan of the table; each row unpivots to
    * |columns| skinny (name, double) pairs map-side, and everything
    * downstream is a pre-combined groupBy on an 11-value key. The
    * exact ndv is the only shuffle-heavy term (distinct-mode
    * aggregate on (col_name, v)); at 100 TB the profiler drops it and
    * keeps the HLL++ sketch alone — a plain partial-aggregatable
    * expression, making the whole profile a single map-combine pass
    * with an 11-row result. The flag demonstrates on-corpus that the
    * sketch path certifies against the exact one (same pattern as
    * `events_hll_users`).
    *
    * r11 — the certification is GATE-SCALE BOUNDED: at/below
    * [[ProfileGateRows]] (above the largest oracle scale) the whole
    * profile, exact ndv included, runs over every row (what the
    * DuckDB gate replays). Above it, the cheap full-scan stats
    * (rows/nulls/min/max — all partial-aggregatable, no Expand) stay
    * full-population, while the exact-vs-HLL certification runs on a
    * deterministic md5-keyed row sample pinned at ~gate-scale size
    * ([[Tables.certSample]]): the Expand's shuffle is then constant
    * in corpus size, the certification remains a real on-corpus
    * check, and the full-population ndv readout at scale is the
    * sketch face's job ([[profileColumnsSketch]]). The 100×-scale
    * leg measured the unbounded exact face at 42.8 s and 7.5× growth
    * per 10× — by design, but the wrong default at 100 TB. */
  def profileColumns(s: SparkSession, dir: String): DataFrame =
    profileColumnsGated(s, dir, ProfileGateRows)

  private[graft] def profileColumnsGated(s: SparkSession, dir: String,
      gateRows: Long): DataFrame = {
    val kvs = ProfileCols.map { case (n, v, _) =>
      struct(lit(n).as("col_name"), v.as("v")) }
    def unpivot(df: DataFrame): DataFrame = df
      .select(explode(array(kvs: _*)).as("kv"))
      .select(col("kv.col_name").as("col_name"), col("kv.v").as("v"))
    val li = Tables.fanOut(s, Tables.lineitem(s, dir))
    val population = Tables.rowCount(s, dir, "lineitem")
    if (population <= gateRows)
      unpivot(li)
        .groupBy("col_name")
        .agg(
          count(lit(1)).as("n_rows"),
          sum(when(col("v").isNull, 1L).otherwise(0L)).as("n_null"),
          countDistinct(col("v")).as("n_distinct"),
          r4(min(col("v"))).as("min_v"),
          r4(max(col("v"))).as("max_v"),
          approx_count_distinct(col("v")).as("est"))
        .withColumn("sketch_ok",
          abs(col("est") - col("n_distinct")) <=
            lit(ProfileRsdBound) * col("n_distinct"))
        .select(col("col_name"), col("n_rows"), col("n_null"),
          col("n_distinct"), col("min_v"), col("max_v"), col("sketch_ok"),
          // regime indicator (r12, advisor ask): FALSE here — this
          // branch ran the full-population exact profile
          lit(false).as("cert_sampled"))
        .orderBy("col_name")
    else {
      // (l_orderkey, l_linenumber) is the table's row key — the
      // sample is a pure row-level function, stable across runs
      val sampled = Tables.certSample(li,
        concat_ws(":", col("l_orderkey"), col("l_linenumber")),
        population, gateRows)
      val full = unpivot(li).groupBy("col_name").agg(
        count(lit(1)).as("n_rows"),
        sum(when(col("v").isNull, 1L).otherwise(0L)).as("n_null"),
        r4(min(col("v"))).as("min_v"),
        r4(max(col("v"))).as("max_v"))
      val cert = unpivot(sampled).groupBy("col_name").agg(
        countDistinct(col("v")).as("n_distinct"),
        approx_count_distinct(col("v")).as("est"))
        .withColumn("sketch_ok",
          abs(col("est") - col("n_distinct")) <=
            lit(ProfileRsdBound) * col("n_distinct"))
      full.join(cert.hint("shuffle_hash"), Seq("col_name"))
        .select(col("col_name"), col("n_rows"), col("n_null"),
          col("n_distinct"), col("min_v"), col("max_v"), col("sketch_ok"),
          // TRUE: n_distinct/sketch_ok came from the gate-sized
          // sample — a consumer can tell without knowing the gate
          lit(true).as("cert_sampled"))
        .orderBy("col_name")
    }
  }

  /** Above this `lineitem` population the exact-certification terms
    * of [[profileColumns]] run on the gate-sized sample. The largest
    * oracle scale (sf0.1) is 600 k rows — the gate binds only the
    * never-oracled headroom legs and real deployments. */
  private val ProfileGateRows = 1000000L

  private val KmvK = 256
  /** KMV certification envelope: rsd ≈ 1/√(k−2) ≈ 0.063 at k = 256;
    * 3σ ≈ 0.19 — pinned at 0.2. */
  private val KmvBound = 0.2

  /** Sketch-only table profiler — the ACTUAL 100 TB form of
    * [[profileColumns]]: identical unpivot + per-column aggregate,
    * with the exact `countDistinct` (an Expand + full-width
    * distinct-mode shuffle — the one shuffle-heavy term in the
    * certified profiler) replaced by the deterministic
    * [[graft.functions.KmvSketch]] K-Minimum-Values sketch. The whole
    * profile is ONE map-combine pass over ONE scan (`PlanSpec`
    * asserts no Expand, one scan): the shuffle carries 11 groups ×
    * (≤ 256 longs + a handful of scalars).
    *
    * Unlike `approx_count_distinct`'s HLL++ (engine-internal
    * registers — its estimate can never hash-match an oracle), the
    * KMV estimate is a pure function of keyed md5 hashes, so DuckDB
    * replays the identical k smallest distinct hashes and lands on
    * the BIT-IDENTICAL estimate — the estimate itself ships in the
    * output. Certification inverts the repo's in-plan pattern: the
    * ORACLE computes the exact distinct count and emits
    * `sketch_ok = |est − exact| ≤ 0.2·exact` where the Spark side
    * claims TRUE — a sketch drifting out of its envelope fails the
    * driver gate itself, with no exact aggregate in the Spark plan.
    * Hash canonicalization: every coordinate passes through
    * DECIMAL(18,4) (exact — the corpus values carry ≤ 2 decimal
    * places) and hashes its UNSCALED LONG's decimal digits, so both
    * engines hash the identical byte string with no per-row string
    * render on the Spark side. */
  def profileColumnsSketch(s: SparkSession, dir: String): DataFrame = {
    // Single-pass WIDE aggregate, not an unpivot: exploding n rows ×
    // 11 columns into 11n skinny rows (the certified profiler's
    // shape) multiplies the aggregate's input — and at 100 TB the
    // shuffle — by the column count. Here the scan stays columnar,
    // every per-column statistic is one aggregate expression over the
    // ORIGINAL rows, and each partition emits exactly ONE wide row
    // (11 fused profile structs, kilobytes) to the final merge. The
    // 11-row output unpivots from that single row — a
    // driver-side-free explode over one row.
    //
    // The canonical coordinate is the DECIMAL(18,4) UNSCALED LONG
    // (value × 10⁴ — exact: the corpus carries ≤ 2 decimal places),
    // computed in a codegen'd projection BEFORE the aggregate (the
    // KmvSketch doc's discipline: its interpreted child.eval must
    // stay a bare column reference, not a per-row interpreted cast
    // tree). r12 rendered the decimal to a STRING here — a per-row
    // UTF8String allocation × 11 columns × every corpus row that made
    // the sketch face cost 4.4× its gated exact twin at sf10; the
    // long projection allocates nothing and the aggregate renders
    // digits into a reused buffer behind a value→hash memo,
    // hash-identical to the string form
    // (DuckDB: md5('kmv:' || CAST(u AS VARCHAR))).
    // r13 fuses each column's five statistics into ONE typed
    // aggregate ([[graft.functions.ProfileKmvSketch]]): 11 update
    // calls per row instead of 55 through ObjectHashAggregate's
    // per-row machinery; row/null counts and min/max ride the
    // `child.eval` the KMV hash already pays (min/max over the
    // unscaled long ARE the value's min/max — ×10⁴ is monotonic and
    // divides back exactly).
    // `floor(v·10⁴ + 0.5)` IS the decimal's unscaled long, in pure
    // codegen double arithmetic: a Spark DECIMAL multiply at
    // precision > 18 drops out of the compact-long representation
    // and allocates BigDecimals per value — measured ~10 s of this
    // query's sf10 wall, more than the aggregate itself. Exactness:
    // the target integer N = D·10⁴ ≤ 10¹³ (well under 2⁵²), the
    // double product lands within ~0.002 of N, and no value sits
    // near a .5 boundary (≤ 2 dp inputs end in two zero digits), so
    // the +0.5 floor recovers N exactly — DuckDB replays the DECIMAL
    // form and lands on the identical integer.
    val pre = Tables.fanOut(s, Tables.lineitem(s, dir)).select(
      ProfileCols.map { case (n, v, _) =>
        floor(v * lit(10000.0) + lit(0.5)).cast("long").as(s"${n}__u")
      }: _*)
    val aggs = ProfileCols.map { case (n, _, _) =>
      graft.functions.KmvSketch.profileKmvSketch(col(s"${n}__u"), KmvK)
        .as(s"${n}__ps")
    }
    val wide = pre.agg(aggs.head, aggs.tail: _*)
    val outs = ProfileCols.map { case (n, _, _) =>
      val ps = col(s"${n}__ps")
      struct(lit(n).as("col_name"),
        ps.getField("n_rows").as("n_rows"),
        ps.getField("n_null").as("n_null"),
        r4(ps.getField("min_u") / lit(10000.0)).as("min_v"),
        r4(ps.getField("max_u") / lit(10000.0)).as("max_v"),
        ps.getField("kmv").as("kmv")) }
    val estD = lit((KmvK - 1).toDouble) * lit((1L << 60).toDouble) /
      element_at(col("kmv"), KmvK).cast("double")
    wide.select(explode(array(outs: _*)).as("r"))
      .select(col("r.col_name").as("col_name"), col("r.n_rows").as("n_rows"),
        col("r.n_null").as("n_null"), col("r.min_v").as("min_v"),
        col("r.max_v").as("max_v"), col("r.kmv").as("kmv"))
      .withColumn("ndv_est",
        when(size(col("kmv")) < KmvK, size(col("kmv")).cast("long"))
          .otherwise(round(estD, 0).cast("long")))
      .withColumn("sketch_ok", lit(true))
      .select(col("col_name"), col("n_rows"), col("n_null"), col("ndv_est"),
        col("min_v"), col("max_v"), col("sketch_ok"))
      .orderBy("col_name")
  }

  private val DsirBuckets = 512     // hashed-feature dimensionality
  private val DsirTarget  = "src0"  // the "high-quality domain" proxy
  private val DsirKeep    = 100     // resample size

  /** DSIR-style domain reweighting (Xie et al. 2023, "Data Selection
    * for Language Models via Importance Resampling"): score every doc
    * by the log importance ratio `Σ_tokens ln p_target(b)/p_raw(b)`
    * under two hashed-unigram models (features = 60-bit md5 token
    * hashes folded into [[DsirBuckets]] buckets, add-one smoothing),
    * then keep the [[DsirKeep]] highest-ratio docs — the raw corpus
    * resampled toward the target domain's token distribution.
    *
    * Scale shape: both models are BUCKET-sized aggregates (≤
    * [[DsirBuckets]] rows regardless of corpus size) built by
    * map-side pre-combine; the per-token scoring join is shuffle-hash
    * on the bucket key (corpus-derived model side, never broadcast —
    * though at 512 rows the broadcast swap-in is trivially safe);
    * the final selection is TakeOrderedAndProject over per-doc
    * 1-row aggregates, never a global sort. Determinism: each ln
    * rounds to 8 dp (absorbing libm ulp skew), contributions sum
    * through exact DECIMAL, ranking compares the 4-dp ROUNDED ratio
    * with doc_id tie-break. */
  def dsirSample(s: SparkSession, dir: String): DataFrame = {
    val tok = graft.Tables.documents(s, dir)
      .select(col("doc_id"), col("source"),
        explode(Text.tokens(col("text"))).as("token"))
      .withColumn("b",
        pmod(graft.functions.Md5Hash60.md5Hash60(
          concat(lit("dsir:"), col("token"))), lit(DsirBuckets)))
    val raw = tok.groupBy("b").agg(count(lit(1)).as("cr"))
    val tgt = tok.filter(col("source") === DsirTarget)
      .groupBy("b").agg(count(lit(1)).as("ct"))
    val totals = tok.agg(
      count(lit(1)).as("raw_n"),
      sum(when(col("source") === DsirTarget, 1L).otherwise(0L)).as("tgt_n"))
    // raw covers every bucket that occurs; absent target counts are 0
    val model = raw.join(tgt.hint("shuffle_hash"), Seq("b"), "left_outer")
      .na.fill(0L, Seq("ct"))
      .crossJoin(broadcast(totals))
      .select(col("b"),
        (round(log((col("ct") + 1.0) / (col("tgt_n") + lit(DsirBuckets.toDouble))), 8)
          - round(log((col("cr") + 1.0) / (col("raw_n") + lit(DsirBuckets.toDouble))), 8))
          .cast("decimal(25,8)").as("lr"))
    tok.join(model.hint("shuffle_hash"), Seq("b"))
      .groupBy("doc_id", "source")
      .agg(count(lit(1)).as("n_tokens"),
        graft.functions.Num.r4(sum(col("lr")).cast("double")).as("log_ratio"))
      .orderBy(col("log_ratio").desc, col("doc_id").asc)
      .limit(DsirKeep)
      .select("doc_id", "source", "n_tokens", "log_ratio")
  }

  private val ShuffleEpochs = 2

  /** Deterministic EPOCH SHUFFLE: each training epoch assigns every
    * doc an exact global position in a fresh pseudorandom permutation
    * (order = keyed md5 of (epoch, doc) — replayable across retries,
    * engines, and resumed runs, where `rand()` orderings are not;
    * different epochs decorrelate because the salt changes). This is
    * the dataloader-ordering contract of a pretraining run: same
    * corpus, different traversal each epoch, reproducible from the
    * doc id alone.
    *
    * Exact positions without a global window: the
    * [[tokenShards]]/[[graft.ext.Dedup.fuzzyPairs]] two-phase rank —
    * the hash's top byte is an ORDERED bucket (256 per epoch), per-
    * bucket counts cumulate on the driver, within-bucket `row_number`
    * adds the offset. High-order md5 bits are uniform, so buckets are
    * balanced BY CONSTRUCTION at any corpus size (no skew caveat —
    * better than value-derived bucketing). */
  def epochShuffle(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val d = graft.Tables.documents(s, dir).select("doc_id")
      .withColumn("epoch",
        explode(array((0 until ShuffleEpochs).map(lit(_)): _*)))
      .withColumn("h",
        graft.functions.Md5Hash60.md5Hash60(
          concat(lit("epoch"), col("epoch").cast("string"),
            lit(":"), col("doc_id").cast("string"))))
      .withColumn("bucket", floor(col("h") / lit(1L << 52)).cast("long"))
    val sums = d.groupBy("epoch", "bucket").agg(count(lit(1)).as("n"))
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getLong(2)))
      .sortBy(t => (t._1, t._2))
    val offsets = scala.collection.mutable.ArrayBuffer[(Int, Long, Long)]()
    var curEpoch = -1
    var acc = 0L
    sums.foreach { case (e, b, n) =>
      if (e != curEpoch) { curEpoch = e; acc = 0L }
      offsets += ((e, b, acc)); acc += n
    }
    val offDf = s.createDataFrame(offsets.toIndexedSeq)
      .toDF("epoch", "bucket", "offset")
    val w = Window.partitionBy("epoch", "bucket").orderBy("h", "doc_id")
    d.join(broadcast(offDf), Seq("epoch", "bucket"))
      .withColumn("position", col("offset") + row_number().over(w))
      .select(col("doc_id"), col("epoch").cast("long").as("epoch"),
        col("position"))
      .orderBy("epoch", "position")
  }

  private val BootReps = 16
  /** Poisson(1) inverse-CDF thresholds c_k = e⁻¹·Σ_{j≤k} 1/j!,
    * k = 0..8 (P(w > 8) < 1e-9 — the ladder cap never fires in
    * practice). Embedded as round-trip double literals in BOTH
    * engines, so the comparisons are bit-identical. */
  private val PoisCdf: Seq[Double] = {
    val e = math.exp(-1.0)
    var fact = 1.0
    var cum = 0.0
    (0 to 8).map { k =>
      if (k > 0) fact *= k
      cum += e / fact
      cum
    }
  }

  /** Deterministic POISSON BOOTSTRAP of a corpus statistic (mean
    * tokens per doc): each of [[BootReps]] replicates draws every
    * doc's multiplicity w ~ Poisson(1) from its keyed md5 coordinate
    * — the streaming-friendly bootstrap (Chamandy et al.: independent
    * per-row draws, no sampling WITH replacement across the corpus,
    * so each replicate is one map-side weight + exact integer sums).
    * Replicate spread IS the sampling distribution of the mean — the
    * error bar a curation dashboard puts on every corpus stat.
    * Determinism: u is an exact rational of the 60-bit hash, the CDF
    * ladder compares round-trip double literals, and each replicate
    * mean is a ratio of exact INTEGER sums (Σ w·x / Σ w) — no
    * accumulation-order noise anywhere. */
  def poissonBootstrap(s: SparkSession, dir: String): DataFrame = {
    val toks = graft.Tables.documents(s, dir)
      .select(col("doc_id"),
        size(Text.tokens(col("text"))).cast("long").as("x"))
      .withColumn("b",
        explode(array((0 until BootReps).map(lit(_)): _*)))
      .withColumn("u",
        (graft.functions.Md5Hash60.md5Hash60(
          concat(lit("boot"), col("b").cast("string"),
            lit(":"), col("doc_id").cast("string"))).cast("double")
          + lit(1.0)) / lit(math.pow(2.0, 60)))
    // fold in REVERSE so the smallest threshold lands outermost —
    // the ladder must test c_0 first (earliest threshold wins)
    val wLadder = PoisCdf.zipWithIndex.reverse
      .foldLeft(lit(9L): org.apache.spark.sql.Column) {
        case (acc, (c, k)) => when(col("u") <= lit(c), lit(k.toLong)).otherwise(acc)
      }
    toks.withColumn("w", wLadder)
      .groupBy("b")
      .agg(sum("w").as("n_eff"), sum(col("w") * col("x")).as("wx"))
      .select(col("b").cast("long").as("replicate"), col("n_eff"),
        graft.functions.Num.r4(col("wx") / col("n_eff")).as("mean_tokens"))
      .orderBy("replicate")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "sample_poisson_bootstrap" -> (poissonBootstrap _),
    "pack_epoch_shuffle"     -> (epochShuffle _),
    "pipeline_dsir_sample"   -> (dsirSample _),
    "pipeline_drift"         -> (drift _),
    "sample_balanced_classes" -> (balancedClasses _),
    "pipeline_batch_novelty" -> (batchNovelty _),
    "pipeline_profile"       -> (profileColumns _),
    "pipeline_profile_sketch" -> (profileColumnsSketch _),
    "pipeline_leakfree_split" -> (leakFreeSplit _),
    "pipeline_crossmodal_split" -> (crossModalSplit _),
    "sample_source_mixture"  -> (sourceMixture _),
    "sample_temperature_mixture" -> (temperatureMixture _),
    "pack_length_buckets"    -> (lengthBuckets _),
    "sample_weighted"        -> (weightedSample _),
    "pipeline_decontaminate" -> (decontaminate _),
    "sample_hash_bernoulli" -> (hashBernoulli _),
    "sample_stratified"     -> (stratifiedSample _),
    "sample_neyman"         -> (neymanSample _),
    "pack_token_shards"     -> (tokenShards _),
    "pack_context_chunks"   -> (contextChunks _),
    "pipeline_curation"     -> (pipeline _),
    "pipeline_scrub_pack"   -> (scrubPack _),
  )

  val oracleSql: Map[String, String] = Map(
    // the CDF ladder thresholds print as round-trip double literals —
    // DuckDB parses them to the identical doubles Spark's lit() embeds
    "sample_poisson_bootstrap" -> {
      val ladder = PoisCdf.zipWithIndex
        .map { case (c, k) => s"WHEN u <= $c THEN $k" }
        .mkString("\n         |    ").stripMargin
      s"""WITH d AS (SELECT doc_id,
         |    CAST(len(${Text.tokSql}) AS BIGINT) AS x FROM documents),
         |e AS (SELECT doc_id, x, bb.b AS b FROM d
         |  CROSS JOIN range(0, $BootReps) bb(b)),
         |u AS (SELECT b, x,
         |    (CAST(CAST(concat('0x', substr(md5('boot' || b || ':' || doc_id),
         |      1, 15)) AS BIGINT) AS DOUBLE) + 1.0) / ${math.pow(2.0, 60)} AS u
         |  FROM e),
         |w AS (SELECT b, x, CASE
         |    $ladder
         |    ELSE 9 END AS w FROM u)
         |SELECT CAST(b AS BIGINT) AS replicate,
         |  CAST(sum(w) AS BIGINT) AS n_eff,
         |  round(CAST(sum(w * x) AS BIGINT) / CAST(sum(w) AS BIGINT), 4)
         |    AS mean_tokens
         |FROM w GROUP BY 1 ORDER BY 1""".stripMargin
    },

    // the permutation IS the hash order: one row_number per epoch
    // replays the two-phase rank exactly
    "pack_epoch_shuffle" ->
      s"""WITH e AS (SELECT doc_id, ee.e AS epoch FROM documents
         |  CROSS JOIN range(0, $ShuffleEpochs) ee(e)),
         |h AS (SELECT doc_id, epoch,
         |    CAST(concat('0x', substr(md5('epoch' || epoch || ':' || doc_id),
         |      1, 15)) AS BIGINT) AS h
         |  FROM e)
         |SELECT doc_id, CAST(epoch AS BIGINT) AS epoch,
         |  CAST(row_number() OVER (PARTITION BY epoch ORDER BY h, doc_id)
         |    AS BIGINT) AS position
         |FROM h ORDER BY epoch, position""".stripMargin,

    // both hashed-unigram models replay from the same md5 buckets;
    // each ln rounds to 8 dp before the decimal-sum per-doc ratio
    "pipeline_dsir_sample" ->
      s"""WITH tok AS (SELECT doc_id, source, unnest(${Text.tokSql}) AS token
         |  FROM documents),
         |tb AS (SELECT doc_id, source,
         |    CAST(concat('0x', substr(md5('dsir:' || token), 1, 15)) AS BIGINT)
         |      % $DsirBuckets AS b
         |  FROM tok),
         |raw AS (SELECT b, count(*) AS cr FROM tb GROUP BY 1),
         |tgt AS (SELECT b, count(*) AS ct FROM tb
         |  WHERE source = '$DsirTarget' GROUP BY 1),
         |tot AS (SELECT count(*) AS raw_n,
         |    sum(CASE WHEN source = '$DsirTarget' THEN 1 ELSE 0 END) AS tgt_n
         |  FROM tb),
         |model AS (SELECT raw.b,
         |    CAST(round(ln((coalesce(ct, 0) + 1.0) / (tgt_n + $DsirBuckets.0)), 8)
         |      - round(ln((cr + 1.0) / (raw_n + $DsirBuckets.0)), 8)
         |      AS DECIMAL(25,8)) AS lr
         |  FROM raw LEFT JOIN tgt ON raw.b = tgt.b CROSS JOIN tot),
         |d AS (SELECT tb.doc_id, tb.source, count(*) AS n_tokens,
         |    round(CAST(sum(lr) AS DOUBLE), 4) AS log_ratio
         |  FROM tb JOIN model ON model.b = tb.b GROUP BY 1, 2)
         |SELECT doc_id, source, CAST(n_tokens AS BIGINT) AS n_tokens, log_ratio
         |FROM d ORDER BY log_ratio DESC, doc_id ASC LIMIT $DsirKeep""".stripMargin,

    // the standing-corpus flag per shingle, the batch's distinct
    // (source, shingle) pairs, one rollup — same shingle fragment as
    // the dedup family's oracles
    "pipeline_batch_novelty" ->
      s"""WITH t AS (SELECT doc_id, string_split_regex(trim(text), '\\s+') AS tk
         |  FROM documents WHERE len(string_split_regex(trim(text), '\\s+')) >= 3),
         |sh AS (SELECT DISTINCT doc_id,
         |    unnest(list_transform(range(1, len(tk) - 1),
         |      i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2])) AS shingle
         |  FROM t),
         |flags AS (SELECT shingle,
         |    max(CASE WHEN doc_id % $DriftMod != 0 THEN 1 ELSE 0 END) AS in_base
         |  FROM sh GROUP BY 1),
         |ds AS (SELECT DISTINCT d.source, sh.shingle
         |  FROM sh JOIN documents d USING (doc_id) WHERE sh.doc_id % $DriftMod = 0),
         |a AS (SELECT source, count(*) AS n_shingles,
         |    CAST(sum(1 - in_base) AS BIGINT) AS novel_shingles
         |  FROM ds JOIN flags USING (shingle) GROUP BY 1)
         |SELECT source, n_shingles, novel_shingles,
         |  round(CAST(novel_shingles AS DOUBLE) / CAST(n_shingles AS DOUBLE), 4)
         |    AS novelty_rate
         |FROM a ORDER BY source""".stripMargin,

    // one-window form of the salted two-phase draw (the stratified
    // precedent); quota = the minority class size
    "sample_balanced_classes" ->
      """WITH b AS (SELECT vec_id, label,
        |    CAST(concat('0x', substr(md5('balance:' || vec_id), 1, 15)) AS BIGINT) AS h
        |  FROM embeddings),
        |q AS (SELECT min(n) AS quota
        |  FROM (SELECT label, count(*) AS n FROM b GROUP BY 1)),
        |rk AS (SELECT label, vec_id, row_number() OVER
        |    (PARTITION BY label ORDER BY h, vec_id) AS rk
        |  FROM b)
        |SELECT label, vec_id, CAST(rk AS BIGINT) AS rk
        |FROM rk CROSS JOIN q WHERE rk <= quota ORDER BY label, rk""".stripMargin,

    // integer signals, integer binary-magnitude bins, the identical
    // smoothing/ln/decimal tree as the Spark side (terms round 12 dp
    // before the exact sum, PSI to 4)
    "pipeline_drift" ->
      s"""WITH d AS (SELECT doc_id, n_chars, ${Text.tokSql} AS tk FROM documents),
         |sv AS (SELECT doc_id, 'n_chars' AS signal, CAST(n_chars AS BIGINT) AS v FROM d
         |  UNION ALL SELECT doc_id, 'n_tokens', CAST(len(tk) AS BIGINT) FROM d
         |  UNION ALL SELECT doc_id, 'n_types', CAST(len(list_distinct(tk)) AS BIGINT) FROM d),
         |b AS (SELECT signal, CAST(length(bin(v)) AS INTEGER) AS bucket,
         |    doc_id % $DriftMod = 0 AS cur FROM sv),
         |c AS (SELECT signal, bucket,
         |    SUM(CASE WHEN cur THEN 0 ELSE 1 END) AS c_base,
         |    SUM(CASE WHEN cur THEN 1 ELSE 0 END) AS c_cur
         |  FROM b GROUP BY 1, 2),
         |t AS (SELECT signal, CAST(SUM(c_base) AS BIGINT) AS n_base,
         |    CAST(SUM(c_cur) AS BIGINT) AS n_current,
         |    CAST(COUNT(*) AS BIGINT) AS n_bins
         |  FROM c GROUP BY 1),
         |terms AS (SELECT c.signal, t.n_base, t.n_current, t.n_bins,
         |    round((CAST(c_base + 1 AS DOUBLE) / CAST(n_base + n_bins AS DOUBLE)
         |         - CAST(c_cur + 1 AS DOUBLE) / CAST(n_current + n_bins AS DOUBLE))
         |      * ln((CAST(c_base + 1 AS DOUBLE) / CAST(n_base + n_bins AS DOUBLE))
         |          / (CAST(c_cur + 1 AS DOUBLE) / CAST(n_current + n_bins AS DOUBLE))),
         |      12) AS term
         |  FROM c JOIN t USING (signal)),
         |agg AS (SELECT signal, n_base, n_current, n_bins,
         |    round(CAST(SUM(CAST(term AS DECIMAL(25,15))) AS DOUBLE), 4) AS psi
         |  FROM terms GROUP BY 1, 2, 3, 4)
         |SELECT signal, n_base, n_current, n_bins, psi,
         |  CASE WHEN psi < 0.1 THEN 'stable'
         |       WHEN psi < 0.25 THEN 'moderate'
         |       ELSE 'shifted' END AS drift_band
         |FROM agg ORDER BY signal""".stripMargin,

    // the estimate is engine-specific; the oracle checks the exact
    // stats and that the sketch certified (same pattern as
    // events_hll_users) — the Spark side emits FALSE otherwise
    "pipeline_profile" ->
      ProfileCols.map { case (n, _, sql) =>
        s"""SELECT '$n' AS col_name, CAST(count(*) AS BIGINT) AS n_rows,
           |  CAST(count(*) - count(v) AS BIGINT) AS n_null,
           |  CAST(count(DISTINCT v) AS BIGINT) AS n_distinct,
           |  round(min(v), 4) AS min_v, round(max(v), 4) AS max_v,
           |  TRUE AS sketch_ok,
           |  (SELECT count(*) FROM lineitem) > $ProfileGateRows AS cert_sampled
           |FROM (SELECT $sql AS v FROM lineitem)""".stripMargin
      }.mkString("", "\nUNION ALL\n", "\nORDER BY col_name"),

    // KMV replay: identical keyed-md5 hashes, identical k smallest
    // distinct values, identical estimate arithmetic — the estimate
    // hash-matches. sketch_ok does the REAL certification here (exact
    // distinct count vs the envelope); the Spark side claims TRUE, so
    // a sketch outside its envelope fails the driver gate
    "pipeline_profile_sketch" ->
      ProfileCols.map { case (n, _, sql) =>
        s"""SELECT * FROM (WITH v AS (SELECT $sql AS v FROM lineitem),
           |h AS (SELECT DISTINCT CAST(concat('0x', substr(md5('kmv:' ||
           |    CAST(CAST(CAST(v AS DECIMAL(18,4)) * 10000 AS BIGINT) AS VARCHAR)),
           |    1, 15)) AS BIGINT) AS h
           |  FROM v WHERE v IS NOT NULL),
           |km AS (SELECT h, row_number() OVER (ORDER BY h) AS rn FROM h),
           |est AS (SELECT CASE WHEN (SELECT count(*) FROM h) < $KmvK
           |    THEN (SELECT count(*) FROM h)
           |    ELSE CAST(round(${(KmvK - 1).toDouble} * ${(1L << 60).toDouble} /
           |      CAST((SELECT h FROM km WHERE rn = $KmvK) AS DOUBLE), 0) AS BIGINT)
           |  END AS ndv_est),
           |ex AS (SELECT count(DISTINCT v) AS exact FROM v WHERE v IS NOT NULL)
           |SELECT '$n' AS col_name,
           |  CAST((SELECT count(*) FROM v) AS BIGINT) AS n_rows,
           |  CAST((SELECT count(*) - count(v) FROM v) AS BIGINT) AS n_null,
           |  (SELECT CAST(ndv_est AS BIGINT) FROM est) AS ndv_est,
           |  (SELECT round(min(v), 4) FROM v) AS min_v,
           |  (SELECT round(max(v), 4) FROM v) AS max_v,
           |  (SELECT abs(est.ndv_est - ex.exact) <= $KmvBound * ex.exact
           |     FROM est, ex) AS sketch_ok)""".stripMargin
      }.mkString("", "\nUNION ALL\n", "\nORDER BY col_name"),
    // same reachability CTE as dedup_clusters; the split coordinate
    // is the identical md5-60 hash of the rep, mod 1000
    "pipeline_leakfree_split" ->
      s"""WITH RECURSIVE ${Dedup.clustersCteSql}
         |SELECT r.doc_id, r.cluster_rep,
         |  CASE WHEN CAST(concat('0x', substr(md5('split:' || r.cluster_rep), 1, 15))
         |      AS BIGINT) % 1000 < $ValPermille
         |    THEN 'val' ELSE 'train' END AS split
         |FROM rep r ORDER BY r.doc_id""".stripMargin,

    // the cross-modal reachability chain (text ∪ embedding ∪ image
    // edges) ending in rep, then the identical md5-60 permille gate
    "pipeline_crossmodal_split" ->
      s"""WITH RECURSIVE ${Dedup.crossModalRepCteSql}
         |SELECT r.doc_id, r.cluster_rep,
         |  CASE WHEN CAST(concat('0x', substr(md5('split:' || r.cluster_rep), 1, 15))
         |      AS BIGINT) % 1000 < $ValPermille
         |    THEN 'val' ELSE 'train' END AS split
         |FROM rep r ORDER BY r.doc_id""".stripMargin,

    // rate derives through the identical double tree; the hash
    // coordinate is an exact rational on both engines
    "sample_source_mixture" ->
      s"""WITH d AS (SELECT source, doc_id,
         |    CAST(len(${Text.tokSql}) AS BIGINT) AS n_tokens FROM documents),
         |per AS (SELECT source, sum(n_tokens) AS src_tokens FROM d GROUP BY 1),
         |tot AS (SELECT sum(src_tokens) AS corpus_tokens,
         |    count(*) AS n_sources FROM per),
         |r AS (SELECT source,
         |    least(CAST(1.0 AS DOUBLE),
         |      CAST(corpus_tokens AS DOUBLE) * $MixBudgetShare /
         |        CAST(n_sources AS DOUBLE) / CAST(src_tokens AS DOUBLE)) AS rate
         |  FROM per CROSS JOIN tot),
         |sel AS (SELECT d.source, d.n_tokens, rate
         |  FROM d JOIN r USING (source)
         |  WHERE CAST(${docHash60Sql("mix:")} % 1000000 AS DOUBLE)
         |    / 1000000.0 < rate)
         |SELECT source, count(*) AS n_docs_kept,
         |  CAST(sum(n_tokens) AS BIGINT) AS kept_tokens,
         |  round(min(rate), 4) AS rate
         |FROM sel GROUP BY 1 ORDER BY 1""".stripMargin,

    // α = 1/2 so the temperature power is IEEE-exact sqrt; the
    // normalizer Z sums 8-dp decimals (order-independent) and the
    // rate re-derives through the identical double tree
    "sample_temperature_mixture" ->
      s"""WITH d AS (SELECT lang, doc_id,
         |    CAST(len(${Text.tokSql}) AS BIGINT) AS n_tokens FROM documents),
         |per AS (SELECT lang, sum(n_tokens) AS lang_tokens FROM d GROUP BY 1),
         |tot AS (SELECT sum(lang_tokens) AS corpus_tokens FROM per),
         |q AS (SELECT lang, lang_tokens, corpus_tokens,
         |    CAST(round(sqrt(CAST(lang_tokens AS DOUBLE)
         |      / CAST(corpus_tokens AS DOUBLE)), 8) AS DECIMAL(25,8)) AS q
         |  FROM per CROSS JOIN tot),
         |z AS (SELECT SUM(q) AS z FROM q),
         |r AS (SELECT lang,
         |    round(least(CAST(1.0 AS DOUBLE),
         |      CAST(corpus_tokens AS DOUBLE) * $TempBudgetShare *
         |        (CAST(q AS DOUBLE) / CAST(z AS DOUBLE)) /
         |        CAST(lang_tokens AS DOUBLE)), 8) AS rate
         |  FROM q CROSS JOIN z),
         |sel AS (SELECT d.lang, d.n_tokens, rate
         |  FROM d JOIN r USING (lang)
         |  WHERE CAST(${docHash60Sql("temp:")} % 1000000 AS DOUBLE)
         |    / 1000000.0 < rate)
         |SELECT lang, count(*) AS n_docs_kept,
         |  CAST(sum(n_tokens) AS BIGINT) AS kept_tokens,
         |  round(min(rate), 4) AS rate
         |FROM sel GROUP BY 1 ORDER BY 1""".stripMargin,

    // the CASE ladder is generated from the same LenBuckets constants
    // the Spark cascade embeds, so the two sides cannot drift
    "pack_length_buckets" -> {
      val ladder = LenBuckets.init
        .map(c => s"WHEN n <= $c THEN $c")
        .mkString("\n         |      ").stripMargin
      s"""WITH d AS (SELECT CAST(len(${Text.tokSql}) AS BIGINT) AS n
         |  FROM documents),
         |b AS (SELECT n, CASE $ladder
         |      ELSE ${LenBuckets.last} END AS bucket FROM d)
         |SELECT CAST(bucket AS BIGINT) AS bucket, count(*) AS n_docs,
         |  CAST(sum(least(n, bucket)) AS BIGINT) AS total_tokens,
         |  CAST(sum(CASE WHEN n > ${LenBuckets.last} THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_truncated,
         |  CAST(count(*) * bucket AS BIGINT) AS padded_tokens,
         |  round(1.0 - CAST(sum(least(n, bucket)) AS DOUBLE)
         |    / CAST(count(*) * bucket AS DOUBLE), 4) AS waste_pct
         |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin
    },

    // identical expression tree: cast-to-double BEFORE +1, key
    // rounded to 6 decimals before ranking, doc_id tie-break
    "sample_weighted" ->
      s"""WITH t AS (SELECT doc_id,
         |    CAST(len(${Text.tokSql}) AS DOUBLE) AS w FROM documents)
         |SELECT doc_id, CAST(w AS BIGINT) AS weight,
         |  round(pow((CAST(${docHash60Sql("wsample:")} AS DOUBLE) + 1.0)
         |    / 1152921504606846976.0, CAST(1.0 AS DOUBLE) / w), 6) AS key
         |FROM t ORDER BY key DESC, doc_id ASC LIMIT $WeightedK""".stripMargin,

    "pipeline_decontaminate" ->
      s"""WITH d AS (SELECT doc_id, ${Text.tokSql} AS toks FROM documents),
         |ng AS (SELECT doc_id, unnest(
         |    [CAST(concat('0x', substr(md5(array_to_string(
         |       toks[i:i + ${DecontamN - 1}], ' ')), 1, 15)) AS BIGINT)
         |     for i in range(1, greatest(len(toks) - ${DecontamN - 2}, 1))]) AS h
         |  FROM d),
         |evng AS (SELECT DISTINCT h FROM ng WHERE doc_id % $EvalMod = 0),
         |trng AS (SELECT DISTINCT doc_id, h FROM ng
         |  WHERE doc_id % $EvalMod <> 0),
         |hits AS (SELECT doc_id, count(*) AS n_hit_ngrams
         |  FROM trng JOIN evng USING (h) GROUP BY 1)
         |SELECT d.doc_id, coalesce(hits.n_hit_ngrams, 0) AS n_hit_ngrams,
         |  coalesce(hits.n_hit_ngrams, 0) > 0 AS contaminated
         |FROM d LEFT JOIN hits USING (doc_id)
         |WHERE d.doc_id % $EvalMod <> 0
         |ORDER BY doc_id""".stripMargin,

    // one-window form: the oracle states the SEMANTICS (a single
    // global running total); the Spark side's two-phase parallel
    // prefix must reproduce it exactly
    "pack_token_shards" ->
      s"""WITH t AS (SELECT doc_id,
         |    CAST(len(${Text.tokSql}) AS BIGINT) AS n_tokens FROM documents),
         |c AS (SELECT doc_id, n_tokens,
         |    sum(n_tokens) OVER (ORDER BY doc_id) - n_tokens AS start FROM t)
         |SELECT doc_id, n_tokens,
         |  CAST(floor(start / $ShardBudget.0) AS BIGINT) AS shard
         |FROM c ORDER BY doc_id""".stripMargin,

    // the scrub fragment replays dedup_span_scrub's survivor stream
    // (identical anchors, position-range coverage, position-ordered
    // survivor list), the chunk fragment replays pack_context_chunks
    // over it — the composed oracle IS the two queries' oracles
    // composed
    "pipeline_scrub_pack" -> {
      val G = graft.ext.Dedup.SpanGram
      s"""WITH d0 AS (SELECT doc_id, ${Text.tokSql} AS tv FROM documents),
         |g AS (SELECT doc_id,
         |    unnest(range(0, greatest(len(tv) - ${G - 1}, 0))) AS p, tv
         |  FROM d0),
         |h AS (SELECT doc_id, p,
         |    array_to_string(tv[p + 1 : p + $G], ' ') AS sh FROM g),
         |f AS (SELECT sh FROM h GROUP BY sh HAVING count(*) >= 2),
         |anch AS (SELECT doc_id, p FROM h JOIN f USING (sh)),
         |pos AS (SELECT doc_id, unnest(range(0, len(tv))) AS q, tv FROM d0),
         |cov AS (SELECT DISTINCT pos.doc_id, pos.q
         |  FROM pos JOIN anch ON anch.doc_id = pos.doc_id
         |    AND anch.p BETWEEN pos.q - ${G - 1} AND pos.q),
         |sd AS (SELECT p.doc_id,
         |    coalesce(list(p.tv[p.q + 1] ORDER BY p.q)
         |      FILTER (WHERE c.q IS NULL), []) AS toks
         |  FROM pos p LEFT JOIN cov c ON c.doc_id = p.doc_id AND c.q = p.q
         |  GROUP BY p.doc_id),
         |n AS (SELECT doc_id, toks, len(toks) AS n,
         |    1 + CAST(floor((greatest(len(toks) - $ChunkSize, 0)
         |      + ${ChunkStride - 1}) / $ChunkStride) AS BIGINT) AS n_chunks
         |  FROM sd),
         |c AS (SELECT doc_id, toks, n,
         |    unnest(generate_series(0, n_chunks - 1)) AS chunk_id FROM n)
         |SELECT doc_id, chunk_id, chunk_id * $ChunkStride AS start,
         |  greatest(least(CAST($ChunkSize AS BIGINT),
         |    n - chunk_id * $ChunkStride), 0) AS chunk_tokens,
         |  md5(coalesce(array_to_string(toks[chunk_id * $ChunkStride + 1 :
         |    chunk_id * $ChunkStride + $ChunkSize], ' '), '')) AS chunk_md5
         |FROM c ORDER BY doc_id, chunk_id""".stripMargin
    },

    // DuckDB list slicing toks[a : b] is inclusive-bounds, matching
    // Spark's slice(t, a, 64) = elements a .. a+63
    "pack_context_chunks" ->
      s"""WITH d AS (SELECT doc_id, ${Text.tokSql} AS toks FROM documents),
         |n AS (SELECT doc_id, toks, len(toks) AS n,
         |    1 + CAST(floor((greatest(len(toks) - $ChunkSize, 0)
         |      + ${ChunkStride - 1}) / $ChunkStride) AS BIGINT) AS n_chunks
         |  FROM d),
         |c AS (SELECT doc_id, toks, n,
         |    unnest(generate_series(0, n_chunks - 1)) AS chunk_id FROM n)
         |SELECT doc_id, chunk_id, chunk_id * $ChunkStride AS start,
         |  least(CAST($ChunkSize AS BIGINT), n - chunk_id * $ChunkStride)
         |    AS chunk_tokens,
         |  md5(array_to_string(toks[chunk_id * $ChunkStride + 1 :
         |    chunk_id * $ChunkStride + $ChunkSize], ' ')) AS chunk_md5
         |FROM c ORDER BY doc_id, chunk_id""".stripMargin,

    "sample_hash_bernoulli" ->
      s"""SELECT doc_id, lang, ${docHash60Sql("sample:")} % 100 AS sample_bucket
         |FROM documents
         |WHERE ${docHash60Sql("sample:")} % 100 < $SamplePct
         |ORDER BY doc_id""".stripMargin,

    // identical exact BIGINT moment sums, identical double variance
    // tree (S_h and the 8-dp weights), largest-remainder allocation
    // replayed with the same remainder/source ordering, one-window
    // draw semantics for the two-phase Spark rank
    "sample_neyman" ->
      s"""WITH d AS (SELECT source, doc_id,
         |    CAST(len(${Text.tokSql}) AS BIGINT) AS x,
         |    ${docHash60Sql("neyman:")} AS h FROM documents),
         |per AS (SELECT source, CAST(count(*) AS BIGINT) AS nh,
         |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(x * x) AS BIGINT) AS sxx
         |  FROM d GROUP BY 1),
         |wtd AS (SELECT source, nh,
         |    round(sqrt((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) *
         |      CAST(sx AS DOUBLE) / CAST(nh AS DOUBLE)) / CAST(nh AS DOUBLE)),
         |      8) AS sd,
         |    CAST(round(CAST(nh AS DOUBLE) *
         |      round(sqrt((CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) *
         |        CAST(sx AS DOUBLE) / CAST(nh AS DOUBLE)) / CAST(nh AS DOUBLE)),
         |        8), 8) AS DECIMAL(25,8)) AS w8
         |  FROM per),
         |tot AS (SELECT SUM(w8) AS wtot FROM wtd),
         |a0 AS (SELECT source, nh, sd,
         |    $NeymanBudget * CAST(w8 AS DOUBLE) / CAST(wtot AS DOUBLE) AS ideal
         |  FROM wtd, tot),
         |a1 AS (SELECT source, nh, sd, ideal,
         |    CAST(floor(ideal) AS BIGINT) AS base FROM a0),
         |sp AS (SELECT $NeymanBudget - CAST(SUM(base) AS BIGINT) AS spare FROM a1),
         |al AS (SELECT source, sd,
         |    least(base + CASE WHEN row_number() OVER (
         |        ORDER BY ideal - base DESC, source ASC) <= (SELECT spare FROM sp)
         |      THEN 1 ELSE 0 END, nh) AS n_alloc
         |  FROM a1),
         |r AS (SELECT source, doc_id, row_number() OVER (
         |    PARTITION BY source ORDER BY h, doc_id) AS rk FROM d)
         |SELECT r.source, r.doc_id, CAST(r.rk AS BIGINT) AS rk,
         |  al.n_alloc, al.sd AS sd_tokens
         |FROM r JOIN al USING (source)
         |WHERE r.rk <= al.n_alloc
         |ORDER BY r.source, r.rk""".stripMargin,

    // one-window form: the oracle states the SEMANTICS; the Spark
    // side's two-phase plan must reproduce it exactly
    "sample_stratified" ->
      s"""WITH h AS (SELECT doc_id, lang, ${docHash60Sql("strat:")} AS h
         |  FROM documents),
         |r AS (SELECT lang, doc_id, row_number() OVER (
         |    PARTITION BY lang ORDER BY h, doc_id) AS rk FROM h)
         |SELECT lang, doc_id, rk FROM r
         |WHERE rk <= $StratQuota ORDER BY lang, rk""".stripMargin,

    "pipeline_curation" ->
      s"""WITH RECURSIVE ${Dedup.clustersCteSql},
         |t AS (SELECT doc_id, text, ${Text.tokSql} AS toks FROM documents),
         |q AS (SELECT doc_id,
         |    CAST(len(toks) AS BIGINT) AS n_tokens,
         |    round(${Text.hitRatioSql(Text.stopEn)}, 4) AS stopword_ratio,
         |    ${Text.hitRatioSql(Text.stopEn)} AS s_en,
         |    ${Text.hitRatioSql(Text.stopDe)} AS s_de,
         |    ${Text.hitRatioSql(Text.stopFr)} AS s_fr,
         |    ${Text.hitRatioSql(Text.stopEs)} AS s_es
         |  FROM t),
         |el AS (SELECT doc_id, n_tokens FROM q
         |  WHERE n_tokens BETWEEN 10 AND 1000 AND stopword_ratio > 0.01
         |    AND s_en >= s_de AND s_en >= s_fr AND s_en >= s_es),
         |reps AS (SELECT r.doc_id, cs.cluster_size
         |  FROM rep r JOIN cs USING (cluster_rep)
         |  WHERE r.doc_id = r.cluster_rep)
         |SELECT el.doc_id, el.n_tokens, reps.cluster_size
         |FROM el JOIN reps USING (doc_id)
         |WHERE ${docHash60Sql("curate:")} % 100 < $CuratePct
         |ORDER BY doc_id""".stripMargin,
  )
}
