package graft.ext

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.Num.{davg, davgSql, r4}

/** Text-analysis operators for a training-data pipeline over the
  * `documents` table (TESTDATA.md): quality scoring, language ID,
  * token counting, term stats, document fingerprinting.
  *
  * Everything is pure `org.apache.spark.sql.functions` — tokenization
  * via `split`, per-token work via higher-order functions (`filter`,
  * `transform`) — so the whole pipeline stays codegen'd and scales as
  * an embarrassingly-parallel map over document partitions; only
  * term-frequency introduces a (pre-combined) shuffle.
  */
object Text {

  /** Whitespace tokenization — the shared primitive. */
  def tokens(text: Column): Column = split(trim(text), "\\s+")

  private[ext] val tokSql = "string_split_regex(trim(text), '\\s+')"

  // tiny per-language function-word lists for the n-gram/stopword
  // language-ID heuristic (public-knowledge word lists)
  private[ext] val stopEn = Seq("the", "a", "of", "and", "to", "in")
  private[ext] val stopDe = Seq("der", "die", "das", "und", "ist")
  private[ext] val stopFr = Seq("le", "la", "et", "les", "des")
  private[ext] val stopEs = Seq("el", "los", "de", "y", "las")

  private[ext] def hitRatio(toks: Column, words: Seq[String]): Column =
    size(filter(toks, t => t.isin(words.map(w => w: Any): _*))) / size(toks)

  private[ext] def hitRatioSql(words: Seq[String]): String = {
    val lst = words.map(w => s"'$w'").mkString("[", ", ", "]")
    s"len(list_filter(toks, t -> list_contains($lst, t))) / len(toks)"
  }

  /** The corpus scan behind the per-doc map-heavy queries
    * (tokenize / regex / rolling-hash projections), fanned out across
    * the session's slots when the scan's row-group layout underfills
    * them ([[Tables.fanOut]]) — a no-op on a real many-row-group
    * corpus. The memo-based families (`distinct_tokens`,
    * `shingle_rows`, …) already repartition inside their cache build;
    * this covers the one-shot scans. */
  private def fannedDocs(s: SparkSession, dir: String): DataFrame =
    Tables.fanOut(s, Tables.documents(s, dir))

  /** The text-quality acceptance rule: 10 to 1000 tokens, and a
    * stopword ratio (rounded to 4 decimals) above 0.01. */
  private[ext] def qualityOk(nTokens: Column, stopRatio: Column): Column =
    nTokens.between(10, 1000) && stopRatio > 0.01

  /** Quality scoring: length, token stats, punctuation + stopword
    * ratios, and a simple acceptance flag — the filters a pretraining
    * data pipeline runs before anything expensive. */
  def quality(s: SparkSession, dir: String): DataFrame = {
    val t = tokens(col("text"))
    fannedDocs(s, dir)
      .select(
        col("doc_id"),
        length(col("text")).cast("long").as("n_chars"),
        size(t).cast("long").as("n_tokens"),
        r4(length(regexp_replace(col("text"), "\\s+", "")) / size(t))
          .as("avg_token_len"),
        r4(length(regexp_replace(col("text"), "[^.,;:!?]", "")) /
          length(col("text"))).as("punct_ratio"),
        r4(hitRatio(t, stopEn)).as("stopword_ratio"))
      .withColumn("quality_ok", qualityOk(col("n_tokens"), col("stopword_ratio")))
      .orderBy("doc_id")
  }

  /** Language ID: function-word hit-ratio per language, argmax with a
    * fixed tie-break order (en > de > fr > es). A real pipeline swaps
    * in char-n-gram profiles; the operator shape — per-doc scoring,
    * no shuffle — is identical. */
  def langId(s: SparkSession, dir: String): DataFrame = {
    val t = tokens(col("text"))
    val base = fannedDocs(s, dir).select(
      col("doc_id"), col("lang"),
      hitRatio(t, stopEn).as("s_en"), hitRatio(t, stopDe).as("s_de"),
      hitRatio(t, stopFr).as("s_fr"), hitRatio(t, stopEs).as("s_es"))
    base.select(
      col("doc_id"), col("lang"),
      when(col("s_en") >= col("s_de") && col("s_en") >= col("s_fr") &&
        col("s_en") >= col("s_es"), "en")
        .when(col("s_de") >= col("s_fr") && col("s_de") >= col("s_es"), "de")
        .when(col("s_fr") >= col("s_es"), "fr")
        .otherwise("es").as("pred_lang"),
      r4(col("s_en")).as("en_score"))
      .orderBy("doc_id")
  }

  /** Token counting: whitespace tokens and a BPE-ish regex token
    * count (letters / digit-runs / punct-runs as separate tokens). */
  def tokenStats(s: SparkSession, dir: String): DataFrame =
    // bare scan, no fan-out: the native count kernel left nothing
    // here worth a redistribution shuffle
    Tables.documents(s, dir)
      .select(
        col("doc_id"),
        size(tokens(col("text"))).cast("long").as("ws_tokens"),
        // native run-count kernel ≡ size(regexp_extract_all(text,
        // "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]+")) without materializing
        // the match array ([[graft.functions.TextKernels]])
        graft.functions.TextKernels.bpeTokenCount(col("text"))
          .cast("long").as("bpe_tokens"))
      .orderBy("doc_id")

  /** Corpus term frequency: explode + count + top-20. The groupBy
    * pre-combines map-side, so the shuffle carries one row per
    * (partition, distinct token) — vocabulary-sized, not corpus-sized. */
  def termFreq(s: SparkSession, dir: String): DataFrame =
    fannedDocs(s, dir)
      .select(explode(tokens(col("text"))).as("token"))
      .groupBy("token")
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token").asc)
      .limit(20)

  /** Corpus vocabulary stats: exact distinct-token count, token
    * volume, type-token ratio. At 100 TB the exact `COUNT(DISTINCT)`
    * (a two-phase shuffle on the token) swaps for the mergeable HLL
    * sketch `approx_count_distinct` — `TextSpec` asserts the sketch
    * lands within its error bound of this exact query. */
  def vocabStats(s: SparkSession, dir: String): DataFrame =
    fannedDocs(s, dir)
      .select(explode(tokens(col("text"))).as("token"))
      .agg(
        countDistinct(col("token")).as("vocab_size"),
        count(lit(1)).as("n_tokens"))
      .withColumn("type_token_ratio",
        r4(col("vocab_size") / col("n_tokens")))

  /** Per-source lexical-diversity profile: unigram Shannon entropy
    * (bits), token volume, vocabulary size, type-token ratio, and
    * entropy efficiency (H / log2 vocab — 1.0 would be a uniform
    * unigram distribution). The data-mixing signal a corpus pipeline
    * weighs sources by: a low-entropy source is boilerplate/templated
    * text regardless of its volume.
    *
    * Shape: token counts per (source, token) pre-combine map-side
    * into a vocabulary-sized aggregate (never a token-stream
    * shuffle); the per-source totals join back via broadcast —
    * bounded by SOURCE cardinality (a catalog-scale entity, thousands
    * at 100 TB), not corpus size. Determinism: each type's
    * `p·log2 p` contribution rounds to 12 decimals and sums through
    * exact DECIMAL(25,15) (the [[graft.functions.Num]] discipline),
    * so shuffle order cannot move the result and the oracle lands
    * bit-equal. */
  def entropyBySource(s: SparkSession, dir: String): DataFrame = {
    val tf = fannedDocs(s, dir)
      .select(col("source"), explode(tokens(col("text"))).as("token"))
      .groupBy("source", "token").agg(count(lit(1)).as("tf"))
    val tot = tf.groupBy("source").agg(
      sum("tf").as("n_tokens"), count(lit(1)).as("vocab_size"))
    val p = col("tf") / col("n_tokens").cast("double")
    tf.join(broadcast(tot), Seq("source"))
      .select(col("source"), col("n_tokens"), col("vocab_size"),
        round(p * log2(p), 12).as("c"))
      .groupBy("source", "n_tokens", "vocab_size")
      .agg((-sum(col("c").cast(org.apache.spark.sql.types.DecimalType(25, 15))))
        .cast("double").as("h"))
      .select(col("source"), col("n_tokens"), col("vocab_size"),
        r4(col("vocab_size") / col("n_tokens")).as("type_token_ratio"),
        r4(col("h")).as("entropy_bits"),
        when(col("vocab_size") > 1, r4(col("h") / log2(col("vocab_size"))))
          .as("entropy_efficiency"))
      .orderBy("source")
  }

  private val CoverageKs = Seq(10, 100, 1000)

  /** Vocabulary coverage curve: the share of all token INSTANCES
    * covered by the top-k most frequent types, for k in
    * [[CoverageKs]] — the tokenizer-budget readout (how big must the
    * vocabulary be before coverage plateaus). A natural corpus covers
    * ~90% with a few thousand types (Zipf); templated text saturates
    * absurdly early — the same health check [[zipfFit]] makes
    * parametric, made empirical.
    *
    * Shape: one vocabulary-sized pre-combined term aggregate; the
    * only ranking task is a top-[[CoverageKs]].max
    * `TakeOrderedAndProject` over that aggregate (k ≤ 1000 rows reach
    * the driver-side of the plan, never a sort), whose k-th (count,
    * token) pairs become broadcast thresholds; coverage then folds as
    * conditional sums in ONE more pass — no rank window anywhere. A
    * global `row_number()` here would sort the ENTIRE vocabulary on
    * one reducer, and a web-scale vocabulary is billions of types
    * (Heaps' law) — `PlanSpec` pins the no-Window shape. A type is
    * covered by the top-k iff its (count desc, token asc) pair sorts
    * at-or-before the k-th threshold pair — exactly the old rank ≤ k,
    * all pairs being distinct (the token is unique per row). */
  def vocabCoverage(s: SparkSession, dir: String): DataFrame = {
    val tf = fannedDocs(s, dir)
      .select(explode(tokens(col("text"))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("n"))
    // k-th thresholds: TakeOrderedAndProject keeps CoverageKs.max
    // rows; sort_array of (−n, token) structs puts them in rank order
    // inside a single row — a 1000-element array, never a Window
    val top = tf.orderBy(col("n").desc, col("token").asc).limit(CoverageKs.max)
    val thr = top
      .agg(sort_array(collect_list(
        struct((-col("n")).as("negn"), col("token").as("tok")))).as("arr"))
      .select(CoverageKs.map(k =>
        element_at(col("arr"), least(lit(k), greatest(size(col("arr")), lit(1))))
          .as(s"th$k")): _*)
    // covered ⟺ (n, token) at-or-above the k-th pair; when vocab < k
    // the threshold is the LAST pair and every type satisfies it
    val ks = CoverageKs.map { k =>
      val tn = -col(s"th$k.negn"); val tt = col(s"th$k.tok")
      struct(lit(k).as("k"),
        sum(when(col("n") > tn || (col("n") === tn && col("token") <= tt),
          col("n")).otherwise(0L)).as("covered"))
    }
    tf.crossJoin(broadcast(thr))
      .agg(count(lit(1)).as("vocab_size"), sum("n").as("n_tokens"),
        array(ks: _*).as("cov"))
      .select(col("vocab_size"), col("n_tokens"), explode(col("cov")).as("c"))
      .select(col("c.k").cast("long").as("k"), col("vocab_size"), col("n_tokens"),
        col("c.covered").as("covered_instances"),
        r4(col("c.covered") / col("n_tokens") * 100).as("coverage_pct"))
      .orderBy("k")
  }

  private val TfIdfK = 3

  /** Top-[[TfIdfK]] terms per document by smoothed TF-IDF
    * (`tf · (ln((N+1)/(df+1)) + 1)`). Ranking compares the ROUNDED
    * score (then token asc): `ln` can differ between engines in the
    * last ulp, and ranking on the raw double would let that flip
    * near-ties — on the 4-decimal value both engines order
    * identically. Plan shape: one tokenize pass; the vocabulary-sized
    * df aggregate re-joins SHUFFLE-HASH (a web-scale vocabulary is
    * corpus-derived and unbounded — Heaps' law still means billions
    * of distinct tokens at 100 TB, so a forced broadcast is a driver
    * OOM; the tf rows hash-partition by token either way); the 1-row
    * corpus count is the only broadcast. Per-doc window on (doc,
    * score). */
  def tfidfTop(s: SparkSession, dir: String): DataFrame = {
    val docs = fannedDocs(s, dir)
      .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
    // corpus size as a broadcast 1-row frame — no driver-side action
    val nDocs = Tables.documents(s, dir).agg(count(lit(1)).as("n_docs"))
    val tf = docs.groupBy("doc_id", "token").agg(count(lit(1)).as("cnt"))
      .withColumn("len", sum("cnt").over(
        org.apache.spark.sql.expressions.Window.partitionBy("doc_id")))
    val df = docs.select("doc_id", "token").distinct()
      .groupBy("token").agg(count(lit(1)).as("df"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("doc_id")
      .orderBy(col("tfidf").desc, col("token").asc)
    tf.join(df.hint("shuffle_hash"), Seq("token"))
      .crossJoin(broadcast(nDocs))
      .withColumn("tfidf", r4((col("cnt") / col("len")) *
        (log((col("n_docs") + 1.0) / (col("df") + 1.0)) + 1.0)))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= TfIdfK)
      .select(col("doc_id"), col("token"), col("tfidf"), col("rank"))
      .orderBy("doc_id", "rank")
  }

  /** Document fingerprint: md5 of case/whitespace/punct-normalized
    * text — the canonical-form key for exact-after-normalization
    * dedup (a cheap, exact complement to MinHash). */
  def fingerprint(s: SparkSession, dir: String): DataFrame = {
    // fused native kernel ≡ trim(regexp_replace(regexp_replace(
    //   lower(text), "[^a-z0-9 ]", ""), "\\s+", " ")) — the regex
    // chain was ~80 ns/char, the whole remaining data path of this
    // query at 10× bench scale ([[graft.functions.TextKernels]]);
    // lower() stays OUTSIDE so Unicode one-to-many mappings precede
    // the ASCII class filter exactly as in the chain + oracle
    val norm = graft.functions.TextKernels.fingerprintNorm(lower(col("text")))
    // bare scan, no fan-out: with the kernel the map side is ~1 ns/
    // char — a redistribution shuffle would cost more than it saves
    Tables.documents(s, dir)
      .select(col("doc_id"), md5(norm.cast("binary")).as("fingerprint"))
      .orderBy("doc_id")
  }

  /** Repetition-filter thresholds (Gopher-style repetitious-text
    * screens): a doc is flagged when more than 60% of its tokens are
    * repeats or its most frequent bigram covers more than 10% of the
    * token stream. Both fractions are exact rationals of integer
    * counts, so the strict comparisons are engine-stable. */
  private val DupTokenMax  = 0.6
  private val TopBigramMax = 0.1

  /** Repetition filters — the "repetitious document" screens (à la
    * Gopher's repetition heuristics) a pretraining pipeline runs next
    * to [[quality]]: the duplicate-token fraction
    * (1 − distinct/total, map-only) and the share of the token stream
    * covered by the single most frequent bigram.
    *
    * Plan shape: the bigram histogram is the scalable explode →
    * pre-combined groupBy on (doc, bigram) — per-doc map-side
    * quadratic alternatives die on long documents — and the per-doc
    * argmax is a (doc)-partitioned `row_number` with a lexicographic
    * tie-break. The per-doc constants (token count, dup fraction)
    * ride the grouping key, so no join back to the corpus is needed. */
  def repetition(s: SparkSession, dir: String): DataFrame = {
    val t = tokens(col("text"))
    // adjacent-pair zip of two shifted slices, NOT a
    // transform(sequence)/element_at lambda: a higher-order-function
    // body re-inlines (and re-evaluates) the tokenizer per ELEMENT —
    // O(n²) splits per document (10× wall-time at sf0.1, profiled);
    // the zip form evaluates the split a constant number of times per
    // row and stays map-side
    val bigrams = zip_with(
      slice(t, lit(1), size(t) - 1), slice(t, lit(2), size(t) - 1),
      (a, b) => concat_ws(" ", a, b))
    // the per-doc mode is a LINEAR RUN-SCAN of the sorted bigram
    // array, entirely map-side — the previous explode → groupBy →
    // per-doc ranking window shuffled EVERY bigram in the corpus and
    // sorted per doc (a vocabulary-scale shuffle at 100 TB; 2× the
    // wall-time at sf0.1, profiled). Sorted order + strict > keeps
    // the lexicographically-first bigram on count ties — the same
    // (count DESC, bigram ASC) semantics the window form had.
    val best = aggregate(
      array_sort(bigrams),
      struct(lit("").as("prev"), lit(0L).as("run"),
        lit(0L).as("best"), lit("").as("arg")),
      (acc, x) => {
        val run = when(x === acc("prev"), acc("run") + lit(1L))
          .otherwise(lit(1L))
        struct(x.as("prev"), run.as("run"),
          when(run > acc("best"), run).otherwise(acc("best")).as("best"),
          when(run > acc("best"), x).otherwise(acc("arg")).as("arg"))
      })
    val topFrac = lit(2) * col("top_bigram_n") / col("n_tokens")
    fannedDocs(s, dir)
      .filter(size(t) >= 2)
      .select(col("doc_id"),
        size(t).cast("long").as("n_tokens"),
        (lit(1.0) - size(array_distinct(t)) / size(t)).as("dup_frac"),
        best.getField("arg").as("top_bigram"),
        best.getField("best").as("top_bigram_n"))
      .select(col("doc_id"), col("n_tokens"),
        r4(col("dup_frac")).as("dup_token_frac"),
        col("top_bigram"), col("top_bigram_n"),
        r4(topFrac).as("top_bigram_frac"),
        (col("dup_frac") > DupTokenMax || topFrac > TopBigramMax)
          .as("repetitive"))
      .orderBy("doc_id")
  }

  /** Count–min sketch heavy hitters — the sketch form of [[termFreq]]
    * for 100 TB: token counts live in a fixed d×w counter grid built
    * in one `treeAggregate` pass (map-side partial sketches merge
    * pairwise; the driver holds kilobytes, never the vocabulary —
    * where the exact groupBy shuffles one row per distinct token,
    * unbounded as the vocabulary grows). Like the self-certifying
    * `percentile_approx` query, the sketch is CERTIFIED in-plan
    * against the exact top-20 terms
    * ([[graft.operators.Relational.cmsCertifiedTop]]). */
  def cmsHeavyHitters(s: SparkSession, dir: String): DataFrame =
    graft.operators.Relational.cmsCertifiedTop[String](
      fannedDocs(s, dir).select(explode(tokens(col("text"))).as("token")),
      termFreq(s, dir))

  /** Unigram language-model scoring — quality scoring v2: per-doc
    * cross-entropy (nats/token) and perplexity under the corpus's own
    * add-one-smoothed unigram model, the classic cheap "how unusual is
    * this document" screen a pretraining pipeline runs between the
    * [[quality]] heuristics and anything neural.
    *
    * Two passes over one tokenization: (1) the vocabulary-sized term-
    * frequency aggregate (map-side combined, like [[termFreq]]);
    * (2) tokens re-join their log-probs SHUFFLE-HASH (the model table
    * IS the vocabulary — corpus-derived and unbounded, same no-
    * broadcast rule as [[tfidfTop]]) and reduce per doc. Determinism:
    * each token's log-prob is rounded to 4 decimals FIRST, making it
    * an exact decimal; the per-doc mean then runs through the exact
    * decimal-sum path, so accumulation order cannot shift the result
    * and both engines derive xent/ppl from the identical double. */
  def lmScore(s: SparkSession, dir: String): DataFrame = {
    val tok = fannedDocs(s, dir)
      .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
    val tf = tok.groupBy("token").agg(count(lit(1)).as("cnt"))
    val totals = tf.agg(sum("cnt").as("n_corpus"), count(lit(1)).as("vocab"))
    // 8 decimals: coarse enough to absorb last-ulp libm ln()
    // differences BELOW this scale won't exist, and an ulp flip AT an
    // 8dp boundary moves a doc mean by ~1e-10 — invisible at the 4dp
    // output rounding (4dp rounding here flipped a doc at sf0.1)
    val logp = tf.crossJoin(broadcast(totals))
      .select(col("token"),
        round(log((col("cnt") + 1.0) / (col("n_corpus") + col("vocab"))), 8)
          .cast("decimal(25,8)").as("logp4"))
    val mean = sum(col("logp4")).cast("double") / count(lit(1))
    tok.join(logp.hint("shuffle_hash"), Seq("token"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_tokens"),
        r4(-mean).as("xent_nats"),
        r4(exp(-mean)).as("ppl"))
      .orderBy("doc_id")
  }

  private val ZipfK = 100

  /** Zipf's-law fit over the term distribution — the corpus-health
    * diagnostic a pretraining run reports next to [[vocabStats]]: a
    * natural corpus has log-frequency ≈ intercept − s·log-rank with
    * s ≈ 1; synthetic, templated, or heavily-duplicated text bends
    * the curve. Fits OLS on (ln rank, ln n) over the top-[[ZipfK]]
    * terms.
    *
    * Scale shape: the top-k is TakeOrderedAndProject over the
    * vocabulary-sized term aggregate (no global sort of the
    * vocabulary); the rank window then runs over that ≤ [[ZipfK]]-row
    * frame — bounded by k, not the corpus. Determinism: each ln is
    * rounded to 8 decimals first (absorbing last-ulp libm
    * differences), the OLS moments go through the exact decimal-sum
    * path, and slope/intercept/r² re-derive in double through the
    * identical expression tree on both engines (the
    * [[graft.operators.Relational.priceRegression]] discipline). */
  def zipfFit(s: SparkSession, dir: String): DataFrame = {
    import graft.functions.Num.dsumExact
    val top = fannedDocs(s, dir)
      .select(explode(tokens(col("text"))).as("token"))
      .groupBy("token").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("token").asc)
      .limit(ZipfK)
    val w = org.apache.spark.sql.expressions.Window
      .orderBy(col("n").desc, col("token").asc)
    val x = round(log(col("rank")), 8)
    val y = round(log(col("n")), 8)
    val m = top
      .withColumn("rank", row_number().over(w).cast("long"))
      .agg(
        count(lit(1)).as("k"),
        dsumExact(x).as("sx"), dsumExact(y).as("sy"),
        dsumExact(x * x).as("sxx"), dsumExact(y * y).as("syy"),
        dsumExact(x * y).as("sxy"))
    val nD = col("k").cast("double")
    def d(c: String) = col(c).cast("double")
    val covN  = nD * d("sxy") - d("sx") * d("sy")
    val varxN = nD * d("sxx") - d("sx") * d("sx")
    val varyN = nD * d("syy") - d("sy") * d("sy")
    val slope = covN / varxN
    m.select(
      col("k"),
      r4(-slope).as("zipf_exponent"),
      r4((d("sy") - slope * d("sx")) / nD).as("intercept"),
      r4(covN * covN / (varxN * varyN)).as("r2"))
  }

  /** Per-source quality dashboard — the roll-up a curation run
    * reports per provenance bucket: doc counts, token volume,
    * acceptance rate, mean quality signals. One fused scan (the
    * [[quality]] expressions), one #sources-sized aggregate; all
    * double means go through the exact decimal-sum path. */
  def qualityBySource(s: SparkSession, dir: String): DataFrame = {
    val t = tokens(col("text"))
    fannedDocs(s, dir)
      .select(
        col("source"),
        size(t).cast("long").as("n_tokens"),
        r4(hitRatio(t, stopEn)).as("stopword_ratio"))
      .withColumn("ok", qualityOk(col("n_tokens"), col("stopword_ratio")))
      .groupBy("source")
      .agg(
        count(lit(1)).as("n_docs"),
        sum("n_tokens").as("total_tokens"),
        r4(davg(col("n_tokens").cast("double"))).as("avg_tokens"),
        r4(davg(col("stopword_ratio"))).as("avg_stopword_ratio"),
        sum(col("ok").cast("long")).as("n_accepted"))
      .orderBy("source")
  }

  private val LangTopK = 5
  private val LangTopSalts = 8

  /** Top-[[LangTopK]] terms per language — grouped top-k where the
    * GROUP COUNT is bounded but each group's candidate set (its
    * vocabulary) is not: a per-language ranking window would put one
    * language's entire vocabulary — billions of distinct tokens at
    * 100 TB (Heaps' law) — on a single task. Same cure as
    * [[graft.ext.Curation.stratifiedSample]]: two-phase top-k. Phase
    * 1 ranks each (lang, hash-salt) slice — [[LangTopSalts]]× the
    * parallelism, every task sees only its slice of the vocabulary;
    * phase 2 ranks the ≤ k·salts survivors per language. The slice
    * union provably contains the per-language top-k, so the result
    * equals the one-window form (asserted in `TextSpec`). Ranking is
    * (count desc, token asc) — deterministic integer ordering. */
  def topTermsPerLang(s: SparkSession, dir: String): DataFrame = {
    val tf = fannedDocs(s, dir)
      .select(col("lang"), explode(tokens(col("text"))).as("token"))
      .groupBy("lang", "token")
      .agg(count(lit(1)).as("n"))
      .withColumn("salt",
        pmod(graft.functions.Md5Hash60.md5Hash60(col("token")),
          lit(LangTopSalts)))
    val perSlice = org.apache.spark.sql.expressions.Window
      .partitionBy("lang", "salt").orderBy(col("n").desc, col("token").asc)
    val perLang = org.apache.spark.sql.expressions.Window
      .partitionBy("lang").orderBy(col("n").desc, col("token").asc)
    tf.withColumn("r1", row_number().over(perSlice))
      .filter(col("r1") <= LangTopK)
      .withColumn("rk", row_number().over(perLang).cast("long"))
      .filter(col("rk") <= LangTopK)
      .select(col("lang"), col("token"), col("n"), col("rk"))
      .orderBy("lang", "rk")
  }

  /** Per-language winsorized token statistics — the robust-mean
    * screen a curation run uses where raw means are dragged by
    * outlier documents: token counts clip to the language's exact
    * [p05, p95] before averaging. The percentile aggregate is
    * Spark's exact interpolating `percentile` (the
    * [[graft.streaming.Events.valueQuantiles]] discipline — at 100 TB
    * it swaps for the certified GK `percentile_approx`); the ≤
    * #languages percentile table re-joins BROADCAST (a true bounded
    * dimension), keeping the clip pass map-side, and the clipped
    * means go through the exact decimal-sum path. */
  def winsorizedTokens(s: SparkSession, dir: String): DataFrame = {
    val base = fannedDocs(s, dir)
      .select(col("lang"), size(tokens(col("text"))).cast("long").as("n_tokens"))
    val pct = base.groupBy("lang").agg(
      percentile(col("n_tokens"), lit(0.05)).as("p05"),
      percentile(col("n_tokens"), lit(0.95)).as("p95"))
    base.join(broadcast(pct), Seq("lang"))
      .withColumn("clip",
        least(greatest(col("n_tokens").cast("double"), col("p05")), col("p95")))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        r4(min(col("p05"))).as("p05"),
        r4(min(col("p95"))).as("p95"),
        r4(davg(col("n_tokens").cast("double"))).as("raw_mean"),
        r4(davg(col("clip"))).as("winsorized_mean"))
      .orderBy("lang")
  }

  /** Conjunctive keyword search with term-frequency relevance — the
    * inverted-index probe of a corpus search: docs containing ALL
    * query terms, ranked by total query-term occurrences. Plan shape
    * is the posting-list build: tokenize → explode → FILTER TO QUERY
    * TERMS BEFORE THE SHUFFLE (the isin prunes the exploded stream to
    * query-term postings only, so the groupBy shuffles |postings of 3
    * terms| rows, never |corpus tokens|), then one pre-combined
    * aggregate per doc checks the AND (distinct-term count) and sums
    * the score. The top-25 runs as TakeOrderedAndProject. At 100 TB
    * this is exactly the query side of an inverted index: cost scales
    * with the query terms' posting lists, not the corpus. */
  private[ext] val SearchTerms = Seq("vector", "merge", "window")

  def keywordSearch(s: SparkSession, dir: String): DataFrame = {
    val d = fannedDocs(s, dir)
    val posts = d
      .select(col("doc_id"), explode(tokens(col("text"))).as("tok"))
      .filter(col("tok").isin(SearchTerms.map(t => t: Any): _*))
    posts.groupBy("doc_id")
      .agg(countDistinct(col("tok")).as("n_terms"),
        count(lit(1)).as("score"))
      .filter(col("n_terms") === SearchTerms.size)
      .join(d.select("doc_id", "lang", "source"), Seq("doc_id"))
      .select(col("doc_id"), col("lang"), col("source"), col("score"))
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(25)
  }

  private val Bm25K1 = 1.2 // term-frequency saturation (Robertson et al.)
  private val Bm25B  = 0.75 // doc-length normalization strength
  private val Bm25TopK = 25

  /** BM25 ranked retrieval over [[SearchTerms]] — the OR-semantics,
    * relevance-ranked complement of [[keywordSearch]]'s boolean AND:
    * the standard Okapi BM25 score (Robertson/Spärck Jones probabilistic
    * relevance framework; Lucene's `+1` idf variant so idf is always
    * positive) with k1 = [[Bm25K1]], b = [[Bm25B]].
    *
    * Plan shape is the inverted-index probe again, plus the two corpus
    * statistics BM25 needs: per-doc length `dl` (one pre-combined
    * groupBy over the token stream) and the `(N, avgdl)` scalar pair
    * (a 1-row aggregate of the length table, broadcast — never a
    * driver-side action). The tf table is pruned to query-term
    * postings BEFORE its shuffle, so the scoring join's left side is
    * |postings|, not |corpus tokens|; `dl` is corpus-keyed and
    * therefore joined shuffle-hash (broadcasting a corpus-derived side
    * is a driver OOM at 100 TB); the ≤|terms|-row df table and the
    * 1-row stats ARE broadcast. Top-25 runs as TakeOrderedAndProject.
    *
    * Engine-stability: `avgdl` is authored as exact-long-sum / count
    * (never the engines' own incremental `avg`), the transcendental
    * idf rounds at 8 dp before use, each per-term partial score rounds
    * at 8 dp before the ≤|terms|-element sum, and the final score
    * rounds at 4 dp — the rank-feeding value, identical in DuckDB. */
  def bm25Search(s: SparkSession, dir: String): DataFrame = {
    val tok = fannedDocs(s, dir)
      .select(col("doc_id"), explode(tokens(col("text"))).as("token"))
    val dl = tok.groupBy("doc_id").agg(count(lit(1)).as("dl"))
    val stats = dl.agg(
      count(lit(1)).as("n_docs"),
      (sum(col("dl")).cast("double") / count(lit(1))).as("avgdl"))
    val tf = tok.filter(col("token").isin(SearchTerms.map(t => t: Any): _*))
      .groupBy("doc_id", "token").agg(count(lit(1)).as("tf"))
    val df = tf.groupBy("token").agg(count(lit(1)).as("df"))
    val idf = round(
      log((col("n_docs") - col("df") + 0.5) / (col("df") + 0.5) + 1.0), 8)
    val partial = round(
      idf * ((col("tf") * (lit(Bm25K1) + 1.0)) /
        (col("tf") + lit(Bm25K1) *
          (lit(1.0) - lit(Bm25B) + lit(Bm25B) * col("dl") / col("avgdl")))), 8)
    tf.join(dl.hint("shuffle_hash"), Seq("doc_id"))
      .join(broadcast(df), Seq("token"))
      .crossJoin(broadcast(stats))
      .withColumn("partial", partial)
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_terms"), r4(sum(col("partial"))).as("score"))
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(Bm25TopK)
  }

  private val PmiMinCount = 5
  private val PmiTopK = 20

  /** Collocation mining: the [[PmiTopK]] most-associated ADJACENT
    * token pairs by pointwise mutual information — the phrase /
    * multi-word-expression detector a tokenizer-construction pass
    * runs over a pretraining corpus. PMI(w1,w2) =
    * log2(p(w1,w2) / (p(w1)·p(w2))) with probabilities from corpus
    * counts (bigram stream / unigram stream).
    *
    * Plan shape: bigrams come from a per-doc `lead` window (never a
    * self-join of the token stream); both count tables are
    * pre-combined vocabulary-sized aggregates; the two unigram-count
    * joins run SHUFFLE-HASH (a corpus-derived vocabulary never
    * broadcasts) while the two one-row totals cross-join broadcast.
    * The [[PmiMinCount]] floor kills hapax pairs — whose PMI is
    * maximal noise — BEFORE the joins. The log2 argument assembles
    * through one fixed double tree and rounds to 6 decimals before
    * ranking (libm ulp discipline); the ranked total order
    * (pmi desc, w1, w2) runs as TakeOrderedAndProject, never a
    * global window. */
  def pmiBigrams(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wDoc = Window.partitionBy("doc_id").orderBy("pos")
    val tok = Tables.documents(s, dir)
      .repartition(s.sparkContext.defaultParallelism)
      .select(col("doc_id"), posexplode(tokens(col("text"))).as(Seq("pos", "w1")))
    val bgCounts = tok
      .withColumn("w2", lead(col("w1"), 1).over(wDoc))
      .filter(col("w2").isNotNull)
      .groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
    val uni = tok.groupBy("w1").agg(count(lit(1)).as("c"))
    val nTok = uni.agg(sum("c").as("n_tokens"))
    val nBg = bgCounts.agg(sum("c12").as("n_bigrams"))
    bgCounts.filter(col("c12") >= PmiMinCount)
      .join(uni.toDF("w1", "c1").hint("shuffle_hash"), Seq("w1"))
      .join(uni.toDF("w2", "c2").hint("shuffle_hash"), Seq("w2"))
      .crossJoin(broadcast(nTok)).crossJoin(broadcast(nBg))
      .withColumn("pmi", round(log2(
        col("c12").cast("double") * col("n_tokens") * col("n_tokens") /
          (col("n_bigrams").cast("double") * col("c1") * col("c2"))), 6))
      .select(col("w1"), col("w2"), col("c12"), col("pmi"))
      .orderBy(col("pmi").desc, col("w1").asc, col("w2").asc)
      .limit(PmiTopK)
  }

  private val ChunkTok = 8       // tokens per paragraph-ish chunk
  private val BoilerMinDocs = 3  // chunk present in ≥ docs ⇒ boilerplate

  /** CCNet-style boilerplate detection (Wenzek et al. 2020 dedup
    * paragraphs by hash across shards; Dodge et al. 2021 document the
    * boilerplate mass in C4): a fixed-width token chunk standing in
    * for a paragraph (this corpus has no newlines) is BOILERPLATE
    * when it recurs verbatim in ≥ [[BoilerMinDocs]] distinct
    * documents — navigation bars, cookie banners, license headers.
    * Reported per source: chunk volume, boilerplate share, and
    * distinct boilerplate chunks — the curation signal that
    * source-level quality scores miss (a source can be high-quality
    * per doc and still 40% repeated chrome).
    *
    * Shape: chunking is map-only (`transform` over token slices, full
    * chunks only); the document-frequency aggregate is chunk-
    * vocabulary-sized with a map-side (doc, chunk) pre-distinct; the
    * chunk-frequency table re-joins the chunk stream SHUFFLE-HASH
    * (corpus-derived — never broadcast). No window anywhere. */
  def boilerplateChunks(s: SparkSession, dir: String): DataFrame = {
    val toks = tokens(col("text"))
    val nChunks = (size(toks) / ChunkTok).cast("int")
    val chunkArr = when(size(toks) >= ChunkTok,
      transform(sequence(lit(0), nChunks - 1),
        i => concat_ws(" ", slice(toks, i * ChunkTok + 1, lit(ChunkTok)))))
      .otherwise(array().cast("array<string>"))
    val inst = fannedDocs(s, dir)
      .select(col("doc_id"), col("source"), explode(chunkArr).as("chunk"))
    val dfreq = inst.select("doc_id", "chunk").distinct()
      .groupBy("chunk").agg(count(lit(1)).as("df_docs"))
    inst.join(dfreq.hint("shuffle_hash"), Seq("chunk"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("df_docs") >= BoilerMinDocs, 1L).otherwise(0L))
          .as("n_boiler_chunks"),
        countDistinct(when(col("df_docs") >= BoilerMinDocs, col("chunk")))
          .as("distinct_boiler_chunks"))
      .withColumn("boiler_share",
        graft.functions.Num.r4(col("n_boiler_chunks") / col("n_chunks")))
      .orderBy("source")
  }

  private val PiiEmailRe = "[a-z0-9]+@[a-z]+\\.[a-z]+"
  private val PiiPhoneRe = "555-[0-9]{4}"

  /** PII detection + redaction — the privacy-scrub stage every
    * training-data pipeline runs before tokenization. The corpus is
    * synthetic word-salad with no PII by construction, so the fixture
    * PLANTS it deterministically (the `payroll_gap_fill` pattern):
    * every 5th doc gains a derived email, every 7th a derived phone
    * number — the oracle replays the identical injection, so the
    * detector's counts AND the redacted text (as an md5) are
    * hash-checked, not rows-only. Detection/redaction is regex over
    * character classes both engines' regex dialects treat
    * identically; the whole operator is map-only — scan, inject,
    * count, replace, hash — zero shuffle at any corpus size (the
    * output sort is the only exchange). */
  def piiScrub(s: SparkSession, dir: String): DataFrame = {
    val base = fannedDocs(s, dir)
    val t0 = when(col("doc_id") % 5 === 0,
      concat(col("text"), lit(" contact user"),
        col("doc_id").cast("string"), lit("@example.com")))
      .otherwise(col("text"))
    val injected = base.select(col("doc_id"), t0.as("t0"))
      .select(col("doc_id"),
        when(col("doc_id") % 7 === 0,
          concat(col("t0"), lit(" call 555-"),
            lpad((col("doc_id") % 10000).cast("string"), 4, "0")))
          .otherwise(col("t0")).as("t"))
    injected.select(
        col("doc_id"),
        regexp_count(col("t"), lit(PiiEmailRe)).as("n_emails"),
        regexp_count(col("t"), lit(PiiPhoneRe)).as("n_phones"),
        md5(regexp_replace(regexp_replace(col("t"), lit(PiiEmailRe),
          lit("[EMAIL]")), lit(PiiPhoneRe), lit("[PHONE]")).cast("binary"))
          .as("redacted_md5"))
      .orderBy("doc_id")
  }

  /** Hashed-feature linear classifier inference — the fastText-style
    * quality-model scoring pass of a pretraining pipeline (CCNet /
    * FineWeb run exactly this shape: a linear model over hashed
    * bag-of-words features, applied to every document). The model
    * here is a deterministic stand-in — each token's weight derives
    * from its keyed 60-bit md5 mapped affinely onto [−1, 1) — but the
    * EXECUTION shape is the real thing: weight lookup is pure
    * expression arithmetic on the hash (no weight-table join — the
    * hashing trick means the "table" is a function), the per-doc
    * score is a fold over the token array (no explode, no shuffle),
    * and the whole pass is map-only at any corpus size. Per-token
    * weights round to 8 dp into exact DECIMAL so the fold total is
    * order-independent; the mean re-derives in double on both
    * engines; `quality_pass` is the sign test a real gate applies to
    * the calibrated score. */
  def qualityLinear(s: SparkSession, dir: String): DataFrame = {
    // w(t) = h60("qw:" ++ t) / 2^59 − 1 ∈ [−1, 1), rounded to 8 dp
    def w(t: Column): Column =
      round(
        graft.functions.Md5Hash60.md5Hash60(concat(lit("qw:"), t))
          .cast("double")
          / lit(5.76460752303423488e17) - lit(1.0), 8)
        .cast("decimal(25,8)")
    fannedDocs(s, dir)
      .select(col("doc_id"), tokens(col("text")).as("toks"))
      .select(col("doc_id"),
        size(col("toks")).cast("long").as("n_tokens"),
        aggregate(col("toks"), lit(0).cast("decimal(25,8)"),
          (acc, t) => (acc + w(t)).cast("decimal(25,8)")).as("wsum"))
      .select(col("doc_id"), col("n_tokens"),
        r4(col("wsum").cast("double") / col("n_tokens")).as("score"),
        (col("wsum").cast("double") / col("n_tokens") > 0.0)
          .as("quality_pass"))
      .orderBy("doc_id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "text_quality_linear" -> (qualityLinear _),
    "text_boilerplate_chunks" -> (boilerplateChunks _),
    "text_bpe_train" -> (bpeTrain _),
    "text_bpe_encode" -> (bpeEncode _),
    "text_pii_scrub" -> (piiScrub _),
    "text_pmi_bigrams" -> (pmiBigrams _),
    "text_bigram_lm" -> (bigramLm _),
    "text_keyword_search" -> (keywordSearch _),
    "text_bm25"        -> (bm25Search _),
    "text_winsorized_tokens" -> (winsorizedTokens _),
    "text_top_terms_per_lang" -> (topTermsPerLang _),
    "text_quality_by_source" -> (qualityBySource _),
    "text_zipf_fit"    -> (zipfFit _),
    "text_lm_score"    -> (lmScore _),
    "text_quality"     -> (quality _),
    "text_langid"      -> (langId _),
    "text_token_stats" -> (tokenStats _),
    "text_term_freq"   -> (termFreq _),
    "text_cms_heavy_hitters" -> (cmsHeavyHitters _),
    "text_fingerprint" -> (fingerprint _),
    "text_repetition"  -> (repetition _),
    "text_tfidf_top"   -> (tfidfTop _),
    "text_vocab_stats" -> (vocabStats _),
    "text_entropy_by_source" -> (entropyBySource _),
    "text_vocab_coverage" -> (vocabCoverage _),
  )

  private[graft] val BpeMerges = 6

  /** Byte-pair-encoding vocabulary TRAINING (Sennrich et al. 2016) —
    * the tokenizer-learning step of a pretraining pipeline: learn the
    * first [[BpeMerges]] merges over the corpus's word-frequency
    * table. Each round counts every adjacent symbol pair (weighted by
    * word frequency), merges the most frequent pair corpus-wide
    * (ties: lexicographic on the pair), and rewrites the symbol
    * sequences with canonical LEFT-TO-RIGHT GREEDY application — in a
    * run of overlapping matches (`a a a a` under merge `(a,a)`) the
    * 1st, 3rd, … apply, which the rewrite expresses relationally:
    * candidate positions group into consecutive runs (`pos − rank`
    * constant) and even offsets from each run's start apply. No UDF,
    * no driver loop over data — the per-round driver sync is ONE
    * (pair, count) row, the Lloyd-centroid pattern.
    *
    * Scale shape: everything after the corpus tokenize is
    * VOCABULARY-sized (the word-frequency table — the same table a
    * real BPE trainer holds; HuggingFace's trainer keeps it in one
    * process, this one shards it): per round, a pre-combined pair
    * count, a TakeOrdered(1), and a rewrite join keyed (word, pos) —
    * shuffle-hash, the corpus-derived-side discipline. Rounds chain
    * relationally with each round's form table cached (bounded:
    * vocabulary rows × shrinking symbol arrays). Restricting trained
    * words to `^[a-z]+$` pins cross-engine char semantics to ASCII
    * (real trainers pre-normalize the same way). Fixed round budget,
    * not convergence — deterministic cost, the bounded-build norm.
    * Output: the learned merge table (rank, pair, merged symbol,
    * corpus pair count) — integer/string arithmetic only, replayed
    * bit-for-bit by the oracle's [[BpeMerges]] unrolled CTE rounds. */
  /** Ranked pairs collected per round for batch selection — bounds
    * driver rows per round; NOT a correctness knob (selection falls
    * back to stricter, ultimately single-merge, batches whenever the
    * bound bites). */
  private[graft] val BpeTopM = 64

  /** Pick the longest prefix of this round's ranked pair list that
    * batched application provably consumes in the SAME order as
    * canonical one-merge-per-round greedy. Selection walks the
    * (count desc, pair asc) ranking and stops at the first pair that
    * could interact with an earlier pick:
    *
    *  - shares a symbol with a selected pair (its count changes, and
    *    merged neighbors spawn new pairs);
    *  - is a self-pair `(a,a)` (odd runs leave `(aa,a)` residues
    *    whose count is bounded by the SELECTED pair, not the tail);
    *  - its concatenation equals an already-existing merged symbol
    *    (the merge would bump counts of pairs built on that symbol);
    *  - one of its symbols equals an earlier pick's concatenation
    *    (the earlier merge mints new occurrences of it).
    *
    * Every stopped-at or unexamined pair then has count ≤ `stopN`,
    * and every NEW pair a batch merge can create is bounded by some
    * such pair's old count (a created `(x, ab)` occurrence implies an
    * old `(x, a)` occurrence, which conflicts with the pick and so
    * ranks in the tail) — hence also ≤ `stopN`. Truncating the
    * selection to counts STRICTLY above `stopN` therefore guarantees
    * each pick still wins its canonical round: counts of picks are
    * untouched by earlier picks (disjoint), everything else sits at
    * ≤ `stopN` < pick, and equal-count unselected survivors lose the
    * (sym, nxt) tie-break exactly as they did in the ranking. When
    * strictness empties the batch, one canonical merge (the head) is
    * always safe. */
  private[graft] def selectBpeBatch(
      ranked: Seq[(String, String, Long)], budget: Int,
      mergedSoFar: Set[String]): Seq[(String, String, Long)] = {
    val sel = scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
    val used = scala.collection.mutable.Set.empty[String]
    val concats = scala.collection.mutable.Set.empty[String]
    var stopN = -1L
    var stopped = false
    for (p @ (a, b, n) <- ranked if !stopped) {
      if (sel.size >= budget || a == b || used(a) || used(b) ||
          mergedSoFar(a + b) || concats(a) || concats(b)) {
        stopped = true; stopN = n
      } else { sel += p; used += a; used += b; concats += (a + b) }
    }
    // ranking truncated at BpeTopM without a stopper: unseen pairs
    // are bounded by the last examined count
    if (!stopped && ranked.size >= BpeTopM) stopN = ranked.last._3
    val strict = sel.takeWhile(_._3 > stopN)
    if (strict.isEmpty) ranked.take(1).toSeq else strict.toSeq
  }

  /** (session, dir)-memoized trainer core: the merge table AND the
    * final (word, cnt, syms) forms after all [[BpeMerges]] merges —
    * [[bpeTrain]] reports the former, [[bpeEncode]] tokenizes with
    * the latter; a `SessionMemo.once` entry like the IVF k-means model
    * (train once, query many). */
  private def trainBpe(s: SparkSession, dir: String)
      : (Seq[(Long, String, String, String, Long)], DataFrame) =
    graft.SessionMemo.once(s, s"bpe:$dir") {
      val words = fannedDocs(s, dir)
        .select(explode(tokens(col("text"))).as("word"))
        .filter(col("word").rlike("^[a-z]+$"))
        .groupBy("word").agg(count(lit(1)).as("cnt"))
      val (merges, forms, _) = trainBpeOn(words, BpeMerges)
      (merges, forms)
    }(_ => ()) // the forms' blocks release through the round driver

  /** Trainer core over a `(word, cnt)` frequency table: learn
    * `nMerges` BPE merges, BATCHING provably-independent merges per
    * driver round ([[selectBpeBatch]]) so wall-clock rounds ≪ merges
    * at a real vocabulary size — one merge per serial Spark job is
    * the latency killer of a 32k-merge production train; the merge
    * TABLE stays bit-identical to canonical one-per-round greedy
    * (which is what the DuckDB oracle unrolls and the hash gate
    * certifies). Returns (merge table, final forms, driver rounds
    * run). */
  private[graft] def trainBpeOn(words: DataFrame, nMerges: Int)
      : (Seq[(Long, String, String, String, Long)], DataFrame, Int) = {
    import org.apache.spark.sql.expressions.Window
    val (forms0, forms0Ids) = graft.SessionMemo.checkpointTracked(
      words.select(col("word"), col("cnt"),
        regexp_extract_all(col("word"), lit("[a-z]"), lit(0)).as("syms")))
    val merges = scala.collection.mutable.ArrayBuffer
      .empty[(Long, String, String, String, Long)]
    val wPos = Window.partitionBy("word").orderBy("pos")
    // every round adds at least one merge, so nMerges rounds suffice
    val run = graft.SessionMemo.iterate(forms0, forms0Ids, nMerges)(
        _ => merges.size >= nMerges) { (forms, _) =>
      val symRows = forms
        .select(col("word"), col("cnt"), posexplode(col("syms")).as(Seq("pos", "sym")))
        .withColumn("nxt", lead(col("sym"), 1).over(wPos))
      // per-round driver sync: ≤ BpeTopM (pair, count) rows — the
      // Lloyd-centroid pattern, one batch of merges per sync
      val ranked = symRows.filter(col("nxt").isNotNull)
        .groupBy("sym", "nxt").agg(sum("cnt").as("n"))
        .orderBy(col("n").desc, col("sym").asc, col("nxt").asc)
        .limit(BpeTopM).collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2))).toSeq
      require(ranked.nonEmpty,
        s"BPE: no adjacent pairs left after ${merges.size} merges")
      val batch = selectBpeBatch(ranked, nMerges - merges.size,
        merges.map(_._4).toSet)
      batch.foreach { case (a, b, n) =>
        merges += ((merges.size + 1L, a, b, a + b, n))
      }
      // Canonical greedy application of the WHOLE batch in one pass,
      // join-free: every flag below is a window over the ONE
      // (word, pos) sort symRows already has. Candidate runs share
      // `pos − candidate_rank` (rid); the run start is the min
      // candidate pos of the (word, rid) group; a candidate applies
      // at even offset from its run start; the successor of an
      // applied position drops. Batch merges never interleave inside
      // a run: adjacent candidate positions necessarily belong to the
      // SAME pair (pos and pos+1 both candidates forces pos+1's first
      // symbol to equal pos's second — a symbol clash the batch
      // selection excluded), so the parity arithmetic is per-pair
      // automatically.
      val cnd = batch.map { case (a, b, _) =>
        col("sym") === lit(a) && col("nxt") === lit(b)
      }.reduce(_ || _)
      val crk = sum(when(cnd, 1).otherwise(0))
        .over(wPos.rowsBetween(Window.unboundedPreceding, Window.currentRow))
      val wRun = Window.partitionBy("word", "rid")
      symRows
        .withColumn("cand", cnd)
        .withColumn("rid", when(cnd, col("pos") - crk))
        .withColumn("p0", min(when(col("cand"), col("pos"))).over(wRun))
        .withColumn("m",
          col("cand") && pmod(col("pos") - col("p0"), lit(2)) === 0)
        .withColumn("dropped", coalesce(lag(col("m"), 1).over(wPos), lit(false)))
        .filter(!col("dropped"))
        .select(col("word"), col("cnt"), col("pos"),
          when(col("m"), concat(col("sym"), col("nxt")))
            .otherwise(col("sym")).as("out"))
        .groupBy("word", "cnt")
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("out")))),
          x => x.getField("out")).as("syms"))
    }
    (merges.toSeq, run.frame, run.rounds)
  }

  def bpeTrain(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    trainBpe(s, dir)._1
      .toDF("merge_rank", "sym_a", "sym_b", "merged", "pair_count")
      .orderBy("merge_rank")
  }

  /** BPE ENCODING readout — the trained tokenizer applied back to the
    * corpus: per source, word instances, character volume, post-merge
    * symbol volume, and the compression ratio (symbols / characters —
    * 1.0 with no merges, shrinking as merges bite). The encode itself
    * is a broadcast-free vocabulary join: per-(source, word) counts
    * (corpus-derived, shuffle-hash) against the trained forms table,
    * weighted by count — the corpus is never re-walked symbol by
    * symbol. Integer sums; one final rounded division on both
    * engines. */
  def bpeEncode(s: SparkSession, dir: String): DataFrame = {
    val forms = trainBpe(s, dir)._2
      .select(col("word"), size(col("syms")).cast("long").as("n_syms"))
    val ws = fannedDocs(s, dir)
      .select(col("source"), explode(tokens(col("text"))).as("word"))
      .filter(col("word").rlike("^[a-z]+$"))
      .groupBy("source", "word").agg(count(lit(1)).as("cnt"))
    ws.join(forms.hint("shuffle_hash"), Seq("word"))
      .groupBy("source")
      .agg(
        sum(col("cnt")).as("n_words"),
        sum(col("cnt") * length(col("word"))).as("n_chars"),
        sum(col("cnt") * col("n_syms")).as("n_symbols"))
      .withColumn("compression",
        round(col("n_symbols").cast("double") / col("n_chars"), 4))
      .orderBy("source")
  }

  /** Bigram language model with add-one smoothing, scored as per-doc
    * perplexity — the CCNet-style quality gate a corpus pipeline runs
    * where [[lmScore]]'s unigram model only sees vocabulary oddity:
    * a doc of common words in impossible ORDER scores fluent under a
    * unigram LM and perplexed here. P(w2|w1) = (c(w1,w2)+1) /
    * (c(w1)+V); per-doc cross-entropy is the mean −ln P over its
    * bigram instances; docs under 2 tokens have no bigrams and drop.
    *
    * Shape mirrors [[lmScore]] one order up: bigram counts and the
    * per-bigram log-prob table are vocabulary²-bounded (in practice
    * near-linear in corpus tokens), the instance→logp join is
    * shuffle-hash on the bigram key (both sides corpus-derived), and
    * only the 1-row vocabulary count broadcasts. Instance bigrams
    * come from a per-doc `lead` — never a token-stream self-join.
    * Log-probs round to 8 decimals into exact DECIMAL before the
    * per-doc mean ([[lmScore]]'s libm-ulp discipline). */
  def bigramLm(s: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wDoc = Window.partitionBy("doc_id").orderBy("pos")
    val tok = Tables.documents(s, dir)
      .repartition(s.sparkContext.defaultParallelism)
      .select(col("doc_id"), posexplode(tokens(col("text"))).as(Seq("pos", "w1")))
    val inst = tok
      .withColumn("w2", lead(col("w1"), 1).over(wDoc))
      .filter(col("w2").isNotNull)
      .select("doc_id", "w1", "w2")
    val bgCounts = inst.groupBy("w1", "w2").agg(count(lit(1)).as("c12"))
    val uni = tok.groupBy("w1").agg(count(lit(1)).as("c1")).toDF("u1", "c1")
    val vocab = uni.agg(count(lit(1)).as("v"))
    val logp = bgCounts
      .join(uni.hint("shuffle_hash"), col("w1") === col("u1"))
      .crossJoin(broadcast(vocab))
      .select(col("w1"), col("w2"),
        round(log((col("c12") + 1.0) / (col("c1") + col("v"))), 8)
          .cast("decimal(25,8)").as("logp"))
    val mean = sum(col("logp")).cast("double") / count(lit(1))
    inst.join(logp.hint("shuffle_hash"), Seq("w1", "w2"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        r4(-mean).as("xent_nats"),
        r4(exp(-mean)).as("ppl"))
      .orderBy("doc_id")
  }

  /** [[BpeMerges]] unrolled BPE rounds mirroring [[bpeTrain]]
    * bit-for-bit: per round r, `sr{r}` explodes the symbol arrays
    * (1-based j; parity logic is base-invariant), `b{r}` is the
    * (count desc, pair asc) argmax, `ap{r}` applies the canonical
    * left-to-right greedy (runs of consecutive candidate positions,
    * even offsets from each run's start), `f{r+1}` rewrites. Pure
    * integer/string arithmetic — no float anywhere. */
  private def bpeOracle: String = {
    val init =
      s"""t AS (SELECT unnest($tokSql) AS word FROM documents),
         |w AS (SELECT word, CAST(count(*) AS BIGINT) AS cnt FROM t
         |  WHERE regexp_matches(word, '^[a-z]+${"$"}') GROUP BY 1),
         |f0 AS (SELECT word, cnt, regexp_extract_all(word, '[a-z]') AS syms FROM w)""".stripMargin
    val rounds = (0 until BpeMerges).map(bpeRoundCte)
    val out = (0 until BpeMerges).map { r =>
      s"""SELECT CAST(${r + 1} AS BIGINT) AS merge_rank, a AS sym_a, b AS sym_b,
         |  a || b AS merged, n AS pair_count FROM b$r""".stripMargin
    }.mkString("\nUNION ALL\n")
    (init +: rounds).mkString("WITH ", ",\n", "\n") +
      out + "\nORDER BY merge_rank"
  }

  /** One unrolled oracle round (shared by [[bpeOracle]] and
    * [[bpeEncodeOracle]]): explode (sr), argmax pair (b), candidate
    * runs (cd), greedy-applied positions (ap), rewrite (f{r+1}).
    * MATERIALIZED throughout — inlined CTEs re-expand the whole chain
    * per reference, exponentially across rounds. */
  private def bpeRoundCte(r: Int): String =
    s"""sr$r AS MATERIALIZED (SELECT word, cnt, j, syms[j] AS sym,
       |    CASE WHEN j < len(syms) THEN syms[j + 1] END AS nxt
       |  FROM (SELECT word, cnt, syms,
       |      unnest(range(1, len(syms) + 1)) AS j FROM f$r)),
       |b$r AS MATERIALIZED (SELECT sym AS a, nxt AS b, CAST(SUM(cnt) AS BIGINT) AS n
       |  FROM sr$r WHERE nxt IS NOT NULL GROUP BY 1, 2
       |  ORDER BY n DESC, a ASC, b ASC LIMIT 1),
       |cd$r AS MATERIALIZED (SELECT word, j,
       |    j - row_number() OVER (PARTITION BY word ORDER BY j) AS rid
       |  FROM sr$r WHERE sym = (SELECT a FROM b$r) AND nxt = (SELECT b FROM b$r)),
       |ap$r AS MATERIALIZED (SELECT word, j FROM (SELECT word, j,
       |      min(j) OVER (PARTITION BY word, rid) AS j0 FROM cd$r)
       |  WHERE (j - j0) % 2 = 0),
       |f${r + 1} AS MATERIALIZED (SELECT word, cnt, list(out ORDER BY j) AS syms FROM (
       |    SELECT s.word, s.cnt, s.j,
       |      CASE WHEN a1.j IS NOT NULL THEN s.sym || s.nxt ELSE s.sym END AS out
       |    FROM sr$r s
       |    LEFT JOIN ap$r a1 ON s.word = a1.word AND s.j = a1.j
       |    LEFT JOIN ap$r a2 ON s.word = a2.word AND s.j = a2.j + 1
       |    WHERE a2.j IS NULL) GROUP BY 1, 2)""".stripMargin

  /** Encode oracle: the trainer's identical unrolled rounds, read out
    * through the FINAL forms table `f{BpeMerges}` joined to
    * per-(source, word) counts — mirror of [[bpeEncode]]. */
  private def bpeEncodeOracle: String = {
    val init =
      s"""t AS (SELECT unnest($tokSql) AS word FROM documents),
         |w AS (SELECT word, CAST(count(*) AS BIGINT) AS cnt FROM t
         |  WHERE regexp_matches(word, '^[a-z]+${"$"}') GROUP BY 1),
         |f0 AS (SELECT word, cnt, regexp_extract_all(word, '[a-z]') AS syms FROM w)""".stripMargin
    val rounds = (0 until BpeMerges).map(bpeRoundCte)
    val ws =
      s"""ws AS (SELECT source, word, CAST(count(*) AS BIGINT) AS cnt
         |  FROM (SELECT source, unnest($tokSql) AS word FROM documents)
         |  WHERE regexp_matches(word, '^[a-z]+${"$"}') GROUP BY 1, 2)""".stripMargin
    (init +: rounds :+ ws).mkString("WITH ", ",\n", "\n") +
      s"""SELECT source, CAST(SUM(ws.cnt) AS BIGINT) AS n_words,
         |  CAST(SUM(ws.cnt * length(ws.word)) AS BIGINT) AS n_chars,
         |  CAST(SUM(ws.cnt * len(f.syms)) AS BIGINT) AS n_symbols,
         |  round(CAST(SUM(ws.cnt * len(f.syms)) AS DOUBLE) /
         |    SUM(ws.cnt * length(ws.word)), 4) AS compression
         |FROM ws JOIN f$BpeMerges f USING (word)
         |GROUP BY source ORDER BY source""".stripMargin
  }

  val oracleSql: Map[String, String] = Map(
    // the unrolled-round trainer oracle (doc above)
    "text_bpe_train" -> bpeOracle,
    "text_bpe_encode" -> bpeEncodeOracle,

    // identical smoothing tree and the shared 8-dp-rounded
    // exact-decimal log-prob discipline, one order up from
    // text_lm_score; bigrams zip positionally like text_pmi_bigrams
    // full 8-token chunks only (the tail never chunks); df counts
    // distinct docs per chunk; shares are exact integer ratios
    "text_boilerplate_chunks" ->
      s"""WITH d AS (SELECT doc_id, source, $tokSql AS tv FROM documents),
         |ix AS (SELECT doc_id, source, tv,
         |    unnest(range(0, len(tv) // $ChunkTok)) AS i FROM d),
         |inst AS (SELECT doc_id, source,
         |    array_to_string(tv[i * $ChunkTok + 1 : i * $ChunkTok + $ChunkTok],
         |      ' ') AS chunk
         |  FROM ix),
         |dfq AS (SELECT chunk, count(*) AS df_docs
         |  FROM (SELECT DISTINCT doc_id, chunk FROM inst) GROUP BY 1)
         |SELECT source, CAST(count(*) AS BIGINT) AS n_chunks,
         |  CAST(sum(CASE WHEN df_docs >= $BoilerMinDocs THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_boiler_chunks,
         |  CAST(count(DISTINCT CASE WHEN df_docs >= $BoilerMinDocs
         |    THEN inst.chunk END) AS BIGINT) AS distinct_boiler_chunks,
         |  round(sum(CASE WHEN df_docs >= $BoilerMinDocs THEN 1 ELSE 0 END)
         |    / CAST(count(*) AS DOUBLE), 4) AS boiler_share
         |FROM inst JOIN dfq USING (chunk)
         |GROUP BY source ORDER BY source""".stripMargin,

    // identical deterministic injection, identical character-class
    // regexes (both dialects agree on this class), md5 of the
    // redacted bytes proves the replacement itself
    "text_pii_scrub" ->
      s"""WITH i1 AS (SELECT doc_id,
         |    CASE WHEN doc_id % 5 = 0
         |      THEN text || ' contact user' || doc_id || '@example.com'
         |      ELSE text END AS t0
         |  FROM documents),
         |i2 AS (SELECT doc_id,
         |    CASE WHEN doc_id % 7 = 0
         |      THEN t0 || ' call 555-' || lpad(CAST(doc_id % 10000 AS VARCHAR),
         |        4, '0')
         |      ELSE t0 END AS t
         |  FROM i1)
         |SELECT doc_id,
         |  CAST(len(regexp_extract_all(t, '$PiiEmailRe')) AS INTEGER)
         |    AS n_emails,
         |  CAST(len(regexp_extract_all(t, '$PiiPhoneRe')) AS INTEGER)
         |    AS n_phones,
         |  md5(regexp_replace(regexp_replace(t, '$PiiEmailRe', '[EMAIL]', 'g'),
         |    '$PiiPhoneRe', '[PHONE]', 'g')) AS redacted_md5
         |FROM i2 ORDER BY doc_id""".stripMargin,

    "text_bigram_lm" ->
      s"""WITH d AS (SELECT doc_id, $tokSql AS tk FROM documents),
         |bg AS (SELECT doc_id,
         |    unnest(list_transform(range(1, len(tk)), i -> tk[i])) AS w1,
         |    unnest(list_transform(range(1, len(tk)), i -> tk[i+1])) AS w2
         |  FROM d),
         |bc AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY 1, 2),
         |u AS (SELECT w1, count(*) AS c1
         |  FROM (SELECT unnest(tk) AS w1 FROM d) GROUP BY 1),
         |v AS (SELECT count(*) AS v FROM u),
         |lp AS (SELECT bc.w1, bc.w2,
         |    CAST(round(ln((c12 + 1.0) / (c1 + v)), 8)
         |      AS DECIMAL(25,8)) AS logp
         |  FROM bc JOIN u ON bc.w1 = u.w1 CROSS JOIN v),
         |sc AS (SELECT doc_id, count(*) AS n_bigrams,
         |    CAST(sum(logp) AS DOUBLE) / count(*) AS mean
         |  FROM bg JOIN lp ON bg.w1 = lp.w1 AND bg.w2 = lp.w2
         |  GROUP BY 1)
         |SELECT doc_id, n_bigrams, round(-mean, 4) AS xent_nats,
         |  round(exp(-mean), 4) AS ppl
         |FROM sc ORDER BY doc_id""".stripMargin,
    // parallel unnests zip positionally; the PMI argument assembles
    // through the identical ((c12*N)*N) / ((NB*c1)*c2) double tree
    "text_pmi_bigrams" ->
      s"""WITH d AS (SELECT doc_id, $tokSql AS tk FROM documents),
         |bg AS (SELECT
         |    unnest(list_transform(range(1, len(tk)), i -> tk[i])) AS w1,
         |    unnest(list_transform(range(1, len(tk)), i -> tk[i+1])) AS w2
         |  FROM d),
         |bc AS (SELECT w1, w2, count(*) AS c12 FROM bg GROUP BY 1, 2),
         |u AS (SELECT unnest(tk) AS w FROM d),
         |uc AS (SELECT w, count(*) AS c FROM u GROUP BY 1),
         |nt AS (SELECT CAST(sum(c) AS BIGINT) AS n_tokens FROM uc),
         |nb AS (SELECT CAST(sum(c12) AS BIGINT) AS n_bigrams FROM bc)
         |SELECT w1, w2, c12,
         |  round(log2(((CAST(c12 AS DOUBLE) * n_tokens) * n_tokens) /
         |    ((CAST(n_bigrams AS DOUBLE) * u1.c) * u2.c)), 6) AS pmi
         |FROM bc JOIN uc u1 ON bc.w1 = u1.w JOIN uc u2 ON bc.w2 = u2.w
         |CROSS JOIN nt CROSS JOIN nb
         |WHERE c12 >= $PmiMinCount
         |ORDER BY pmi DESC, w1, w2 LIMIT $PmiTopK""".stripMargin,
    // constants authored CAST(... AS DOUBLE): bare 1.2/0.75 are DECIMAL
    // literals in DuckDB and would run the score chain in decimal
    // arithmetic instead of the IEEE doubles the Spark side uses
    "text_bm25" -> {
      val terms = SearchTerms.map(t => s"'$t'").mkString(", ")
      val k1 = s"CAST($Bm25K1 AS DOUBLE)"
      val b  = s"CAST($Bm25B AS DOUBLE)"
      s"""WITH tok AS (SELECT doc_id, unnest($tokSql) AS token FROM documents),
         |dl AS (SELECT doc_id, count(*) AS dl FROM tok GROUP BY 1),
         |st AS (SELECT count(*) AS n_docs,
         |  CAST(sum(dl) AS DOUBLE) / count(*) AS avgdl FROM dl),
         |tf AS (SELECT doc_id, token, count(*) AS tf FROM tok
         |  WHERE token IN ($terms) GROUP BY 1, 2),
         |dfq AS (SELECT token, count(*) AS df FROM tf GROUP BY 1),
         |sc AS (SELECT tf.doc_id,
         |    round(round(ln((CAST(st.n_docs AS DOUBLE) - dfq.df + 0.5)
         |        / (dfq.df + 0.5) + 1.0), 8)
         |      * ((tf.tf * ($k1 + 1.0)) /
         |         (tf.tf + $k1 * (1.0 - $b + $b * dl.dl / st.avgdl))), 8)
         |      AS partial
         |  FROM tf JOIN dl USING (doc_id) JOIN dfq USING (token)
         |  CROSS JOIN st)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_terms,
         |  round(sum(partial), 4) AS score
         |FROM sc GROUP BY 1
         |ORDER BY score DESC, doc_id ASC LIMIT $Bm25TopK""".stripMargin
    },
    "text_keyword_search" -> {
      val lst = SearchTerms.map(t => s"'$t'").mkString("[", ", ", "]")
      s"""WITH t AS (SELECT doc_id, lang, source,
         |    list_filter($tokSql, t -> list_contains($lst, t)) AS hits
         |  FROM documents)
         |SELECT doc_id, lang, source, CAST(len(hits) AS BIGINT) AS score
         |FROM t WHERE len(list_distinct(hits)) = ${SearchTerms.size}
         |ORDER BY score DESC, doc_id ASC LIMIT 25""".stripMargin
    },

    // the two-phase salted top-k equals the one-window form (the
    // oracle states the latter)
    "text_top_terms_per_lang" ->
      s"""WITH tf AS (SELECT lang, token, count(*) AS n
         |  FROM (SELECT lang, unnest($tokSql) AS token FROM documents)
         |  GROUP BY 1, 2),
         |r AS (SELECT lang, token, n, row_number() OVER (
         |    PARTITION BY lang ORDER BY n DESC, token ASC) AS rk
         |  FROM tf)
         |SELECT lang, token, n, rk FROM r
         |WHERE rk <= $LangTopK ORDER BY lang, rk""".stripMargin,

    // quantile_cont == Spark's exact interpolating percentile; the
    // clip and both means derive through identical double trees
    "text_winsorized_tokens" ->
      s"""WITH t AS (SELECT lang, CAST(len($tokSql) AS BIGINT) AS n_tokens
         |  FROM documents),
         |p AS (SELECT lang, quantile_cont(n_tokens, 0.05) AS p05,
         |    quantile_cont(n_tokens, 0.95) AS p95
         |  FROM t GROUP BY 1),
         |j AS (SELECT t.lang, n_tokens, p05, p95,
         |    least(greatest(CAST(n_tokens AS DOUBLE), p05), p95) AS clip
         |  FROM t JOIN p USING (lang))
         |SELECT lang, count(*) AS n_docs,
         |  round(min(p05), 4) AS p05, round(min(p95), 4) AS p95,
         |  round(${davgSql("CAST(n_tokens AS DOUBLE)")}, 4) AS raw_mean,
         |  round(${davgSql("clip")}, 4) AS winsorized_mean
         |FROM j GROUP BY 1 ORDER BY 1""".stripMargin,

    // lns round to exact decimals BEFORE the moment sums; slope/
    // intercept/r² re-derive through the identical double expression
    "text_zipf_fit" ->
      s"""WITH tf AS (SELECT token, count(*) AS n
         |  FROM (SELECT unnest($tokSql) AS token FROM documents)
         |  GROUP BY 1 ORDER BY n DESC, token ASC LIMIT $ZipfK),
         |rk AS (SELECT n, row_number() OVER
         |    (ORDER BY n DESC, token ASC) AS rank FROM tf),
         |pt AS (SELECT round(ln(rank), 8) AS x, round(ln(n), 8) AS y FROM rk),
         |m AS (SELECT count(*) AS k,
         |    ${graft.functions.Num.dsumExactSql("x")} AS sx,
         |    ${graft.functions.Num.dsumExactSql("y")} AS sy,
         |    ${graft.functions.Num.dsumExactSql("x * x")} AS sxx,
         |    ${graft.functions.Num.dsumExactSql("y * y")} AS syy,
         |    ${graft.functions.Num.dsumExactSql("x * y")} AS sxy
         |  FROM pt),
         |d AS (SELECT k, CAST(k AS DOUBLE) AS nd,
         |    CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd,
         |    CAST(sxx AS DOUBLE) AS sxxd, CAST(syy AS DOUBLE) AS syyd,
         |    CAST(sxy AS DOUBLE) AS sxyd
         |  FROM m)
         |SELECT k,
         |  round(-((nd * sxyd - sxd * syd) / (nd * sxxd - sxd * sxd)), 4)
         |    AS zipf_exponent,
         |  round((syd - (nd * sxyd - sxd * syd) / (nd * sxxd - sxd * sxd)
         |    * sxd) / nd, 4) AS intercept,
         |  round((nd * sxyd - sxd * syd) * (nd * sxyd - sxd * syd) /
         |    ((nd * sxxd - sxd * sxd) * (nd * syyd - syd * syd)), 4) AS r2
         |FROM d""".stripMargin,

    "text_quality_by_source" ->
      s"""WITH t AS (SELECT source, $tokSql AS toks FROM documents),
         |q AS (SELECT source,
         |    CAST(len(toks) AS BIGINT) AS n_tokens,
         |    round(${hitRatioSql(stopEn)}, 4) AS stopword_ratio
         |  FROM t),
         |f AS (SELECT *, (n_tokens BETWEEN 10 AND 1000)
         |    AND stopword_ratio > 0.01 AS ok FROM q)
         |SELECT source, count(*) AS n_docs,
         |  CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
         |  round(${davgSql("CAST(n_tokens AS DOUBLE)")}, 4) AS avg_tokens,
         |  round(${davgSql("stopword_ratio")}, 4) AS avg_stopword_ratio,
         |  CAST(sum(CAST(ok AS BIGINT)) AS BIGINT) AS n_accepted
         |FROM f GROUP BY 1 ORDER BY 1""".stripMargin,

    // fractions are exact rationals of integer counts; the threshold
    // literals cast to DOUBLE so DuckDB doesn't compare against its
    // exact-DECIMAL parse of 0.6/0.1
    "text_repetition" ->
      s"""WITH d AS (SELECT doc_id, $tokSql AS toks FROM documents),
         |b AS (SELECT doc_id, len(toks) AS n_tokens,
         |    1.0 - len(list_distinct(toks)) / len(toks) AS dup_frac,
         |    unnest(list_transform(generate_series(1, len(toks) - 1),
         |      i -> toks[i] || ' ' || toks[i + 1])) AS bigram
         |  FROM d WHERE len(toks) >= 2),
         |c AS (SELECT doc_id, n_tokens, dup_frac, bigram, count(*) AS n
         |  FROM b GROUP BY 1, 2, 3, 4),
         |r AS (SELECT *, row_number() OVER
         |    (PARTITION BY doc_id ORDER BY n DESC, bigram ASC) AS rk
         |  FROM c)
         |SELECT doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
         |  round(dup_frac, 4) AS dup_token_frac,
         |  bigram AS top_bigram, CAST(n AS BIGINT) AS top_bigram_n,
         |  round(2 * n / n_tokens, 4) AS top_bigram_frac,
         |  (dup_frac > CAST($DupTokenMax AS DOUBLE)
         |    OR 2 * n / n_tokens > CAST($TopBigramMax AS DOUBLE)) AS repetitive
         |FROM r WHERE rk = 1 ORDER BY doc_id""".stripMargin,

    // the oracle replays the hashed-weight arithmetic over an unnest
    // (set semantics) where Spark folds the token array in place —
    // 8-dp decimal weights make both reductions order-independent
    "text_quality_linear" ->
      s"""WITH t AS (SELECT doc_id, unnest($tokSql) AS tok FROM documents),
         |w AS (SELECT doc_id, CAST(round(
         |    CAST(CAST(concat('0x', substr(md5('qw:' || tok), 1, 15))
         |      AS BIGINT) AS DOUBLE) / 576460752303423488.0 - 1.0, 8)
         |    AS DECIMAL(25,8)) AS w FROM t),
         |sc AS (SELECT doc_id, count(*) AS n_tokens,
         |    CAST(SUM(w) AS DOUBLE) / count(*) AS score
         |  FROM w GROUP BY 1)
         |SELECT doc_id, n_tokens, round(score, 4) AS score,
         |  score > 0.0 AS quality_pass
         |FROM sc ORDER BY doc_id""".stripMargin,

    // per-token log-probs round to exact decimals BEFORE the per-doc
    // mean, so both engines aggregate order-independently
    "text_lm_score" ->
      s"""WITH tok AS (SELECT doc_id, unnest($tokSql) AS token FROM documents),
         |tf AS (SELECT token, count(*) AS cnt FROM tok GROUP BY 1),
         |tot AS (SELECT sum(cnt) AS n_corpus, count(*) AS vocab FROM tf),
         |lp AS (SELECT token,
         |    CAST(round(ln((cnt + 1.0) / (n_corpus + vocab)), 8)
         |      AS DECIMAL(25,8)) AS logp4
         |  FROM tf CROSS JOIN tot),
         |d AS (SELECT doc_id, count(*) AS n_tokens,
         |    CAST(sum(logp4) AS DOUBLE) / count(*) AS mean
         |  FROM tok JOIN lp USING (token) GROUP BY 1)
         |SELECT doc_id, n_tokens, round(-mean, 4) AS xent_nats,
         |  round(exp(-mean), 4) AS ppl
         |FROM d ORDER BY doc_id""".stripMargin,

    "text_quality" ->
      s"""WITH t AS (SELECT doc_id, text, $tokSql AS toks FROM documents),
         |q AS (SELECT doc_id,
         |  CAST(length(text) AS BIGINT) AS n_chars,
         |  CAST(len(toks) AS BIGINT) AS n_tokens,
         |  round(length(regexp_replace(text, '\\s+', '', 'g')) / len(toks), 4) AS avg_token_len,
         |  round(length(regexp_replace(text, '[^.,;:!?]', '', 'g')) / length(text), 4) AS punct_ratio,
         |  round(${hitRatioSql(stopEn)}, 4) AS stopword_ratio
         |  FROM t)
         |SELECT *, (n_tokens BETWEEN 10 AND 1000) AND stopword_ratio > 0.01 AS quality_ok
         |FROM q ORDER BY doc_id""".stripMargin,

    "text_langid" ->
      s"""WITH t AS (SELECT doc_id, lang, $tokSql AS toks FROM documents),
         |sc AS (SELECT doc_id, lang,
         |  ${hitRatioSql(stopEn)} AS s_en, ${hitRatioSql(stopDe)} AS s_de,
         |  ${hitRatioSql(stopFr)} AS s_fr, ${hitRatioSql(stopEs)} AS s_es
         |  FROM t)
         |SELECT doc_id, lang,
         |  CASE WHEN s_en >= s_de AND s_en >= s_fr AND s_en >= s_es THEN 'en'
         |       WHEN s_de >= s_fr AND s_de >= s_es THEN 'de'
         |       WHEN s_fr >= s_es THEN 'fr' ELSE 'es' END AS pred_lang,
         |  round(s_en, 4) AS en_score
         |FROM sc ORDER BY doc_id""".stripMargin,

    "text_token_stats" ->
      s"""SELECT doc_id,
         |  CAST(len($tokSql) AS BIGINT) AS ws_tokens,
         |  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]+')) AS BIGINT) AS bpe_tokens
         |FROM documents ORDER BY doc_id""".stripMargin,

    "text_term_freq" ->
      s"""SELECT token, count(*) AS n
         |FROM (SELECT unnest($tokSql) AS token FROM documents)
         |GROUP BY 1 ORDER BY n DESC, token ASC LIMIT 20""".stripMargin,

    // the sketch estimates are engine-specific; the oracle checks the
    // exact counts and that every estimate landed inside the CMS
    // guarantee — the Spark side emits FALSE (hash mismatch) otherwise
    "text_cms_heavy_hitters" ->
      s"""SELECT token, count(*) AS n, TRUE AS within_bound
         |FROM (SELECT unnest($tokSql) AS token FROM documents)
         |GROUP BY 1 ORDER BY n DESC, token ASC LIMIT 20""".stripMargin,

    "text_fingerprint" ->
      s"""SELECT doc_id,
         |  md5(trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9 ]', '', 'g'), '\\s+', ' ', 'g'))) AS fingerprint
         |FROM documents ORDER BY doc_id""".stripMargin,

    "text_tfidf_top" ->
      s"""WITH tok AS (SELECT doc_id, unnest($tokSql) AS token FROM documents),
         |nn AS (SELECT count(*) AS n FROM documents),
         |tf AS (SELECT doc_id, token, count(*) AS cnt FROM tok GROUP BY 1, 2),
         |tl AS (SELECT *, sum(cnt) OVER (PARTITION BY doc_id) AS len FROM tf),
         |dfq AS (SELECT token, count(DISTINCT doc_id) AS df FROM tok GROUP BY 1),
         |sc AS (SELECT doc_id, tl.token,
         |    round((cnt / len) * (ln((nn.n + 1.0) / (dfq.df + 1.0)) + 1.0), 4)
         |      AS tfidf
         |  FROM tl JOIN dfq ON tl.token = dfq.token CROSS JOIN nn),
         |r AS (SELECT doc_id, token, tfidf, row_number() OVER (
         |    PARTITION BY doc_id ORDER BY tfidf DESC, token ASC) AS rank
         |  FROM sc)
         |SELECT doc_id, token, tfidf, rank FROM r
         |WHERE rank <= $TfIdfK ORDER BY doc_id, rank""".stripMargin,

    "text_vocab_stats" ->
      s"""WITH tok AS (SELECT unnest($tokSql) AS token FROM documents)
         |SELECT CAST(count(DISTINCT token) AS BIGINT) AS vocab_size,
         |  count(*) AS n_tokens,
         |  round(count(DISTINCT token) / count(*), 4) AS type_token_ratio
         |FROM tok""".stripMargin,

    // entropy contributions round to 12 dp then sum through exact
    // DECIMAL(25,15) — the same order-independence discipline as the
    // Spark side, so both engines land the identical bits
    "text_entropy_by_source" ->
      s"""WITH tok AS (SELECT source, unnest($tokSql) AS token FROM documents),
         |tf AS (SELECT source, token, count(*) AS tf FROM tok GROUP BY 1, 2),
         |tot AS (SELECT source, CAST(sum(tf) AS BIGINT) AS n_tokens,
         |    CAST(count(*) AS BIGINT) AS vocab_size FROM tf GROUP BY 1),
         |c AS (SELECT tf.source, t.n_tokens, t.vocab_size,
         |    round((tf.tf / CAST(t.n_tokens AS DOUBLE))
         |      * log2(tf.tf / CAST(t.n_tokens AS DOUBLE)), 12) AS c
         |  FROM tf JOIN tot t USING (source)),
         |h AS (SELECT source, n_tokens, vocab_size,
         |    CAST(-sum(CAST(c AS DECIMAL(25,15))) AS DOUBLE) AS h
         |  FROM c GROUP BY 1, 2, 3)
         |SELECT source, n_tokens, vocab_size,
         |  round(CAST(vocab_size AS DOUBLE) / n_tokens, 4) AS type_token_ratio,
         |  round(h, 4) AS entropy_bits,
         |  CASE WHEN vocab_size > 1 THEN round(h / log2(vocab_size), 4) END
         |    AS entropy_efficiency
         |FROM h ORDER BY source""".stripMargin,

    "text_vocab_coverage" ->
      s"""WITH tf AS (SELECT token, count(*) AS n
         |  FROM (SELECT unnest($tokSql) AS token FROM documents) GROUP BY 1),
         |r AS (SELECT token, n,
         |    row_number() OVER (ORDER BY n DESC, token ASC) AS rk FROM tf),
         |base AS (SELECT CAST(count(*) AS BIGINT) AS vocab_size,
         |    CAST(sum(n) AS BIGINT) AS n_tokens FROM r),
         |ks AS (SELECT unnest([${CoverageKs.mkString(", ")}]) AS k),
         |cov AS (SELECT k,
         |    CAST(sum(CASE WHEN rk <= k THEN n ELSE 0 END) AS BIGINT) AS covered
         |  FROM r CROSS JOIN ks GROUP BY 1)
         |SELECT CAST(cov.k AS BIGINT) AS k, vocab_size, n_tokens,
         |  covered AS covered_instances,
         |  round(covered / n_tokens * 100, 4) AS coverage_pct
         |FROM cov, base ORDER BY k""".stripMargin,
  )
}
