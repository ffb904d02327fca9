package graft

import org.apache.spark.sql.functions._
import graft.ext.Text

class TextSpec extends SparkSpec {

  test("hashed linear classifier matches an independent JVM replay") {
    import java.math.{BigDecimal => JBD, RoundingMode}
    def w(tok: String): JBD = {
      val d = java.security.MessageDigest.getInstance("MD5")
        .digest(s"qw:$tok".getBytes("UTF-8"))
      val h = java.lang.Long.parseLong(
        d.map("%02x".format(_)).mkString.take(15), 16)
      JBD.valueOf(h.toDouble / 576460752303423488.0 - 1.0)
        .setScale(8, RoundingMode.HALF_UP)
    }
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).trim.split("\\s+").toSeq)
      .toMap
    val rows = ext.Text.qualityLinear(spark, sf0001).collect()
    assert(rows.length == docs.size)
    rows.foreach { r =>
      val (id, n, score, pass) =
        (r.getLong(0), r.getLong(1), r.getDouble(2), r.getBoolean(3))
      val toks = docs(id)
      assert(n == toks.size, s"n_tokens doc $id")
      val s0 = toks.map(w).reduce(_.add(_)).doubleValue() / toks.size
      assert(score == JBD.valueOf(s0)
        .setScale(4, RoundingMode.HALF_UP).doubleValue(), s"score doc $id")
      assert(pass == (s0 > 0.0), s"pass doc $id")
    }
    // a hash-derived zero-mean model should split the corpus, not
    // degenerate to one side
    val nPass = rows.count(_.getBoolean(3))
    assert(nPass > 0 && nPass < rows.length, s"degenerate gate: $nPass")
  }

  test("approx_count_distinct (HLL) lands within its bound of the exact vocab") {
    val exact = Text.vocabStats(spark, sf0001).head().getLong(0)
    val approx = Tables.documents(spark, sf0001)
      .select(explode(split(trim(col("text")), "\\s+")).as("token"))
      .agg(approx_count_distinct(col("token"), 0.05))
      .head().getLong(0)
    // rsd 0.05 → generous 3-sigma envelope; the point is the sketch
    // path (mergeable, constant memory) tracks the exact shuffle path
    assert(math.abs(approx - exact) <= math.max(3, (exact * 0.15).toLong),
      s"approx $approx vs exact $exact")
  }

  test("count-min sketch certifies every top-20 term inside its bound") {
    val rows = graft.ext.Text.cmsHeavyHitters(spark, sf0001).collect()
    assert(rows.length == 20)
    assert(rows.forall(_.getBoolean(2)),
      "a CMS estimate escaped [exact, exact + eps*N] — sketch broken")
    // the certified counts are the exact top-20
    val exact = graft.ext.Text.termFreq(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(rows.map(r => (r.getString(0), r.getLong(1))).toSeq == exact)
  }

  test("lm score matches an independent driver-side recomputation") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val toks = docs.map { case (id, t) =>
      id -> t.trim.split("\\s+").toSeq }.toMap
    val tf = toks.values.flatten.groupBy(identity).map { case (k, v) => k -> v.size }
    val n = tf.values.sum
    val v = tf.size
    def logp4(t: String): BigDecimal = BigDecimal.valueOf(
      math.log((tf(t) + 1.0) / (n + v)))
      .setScale(8, BigDecimal.RoundingMode.HALF_UP)
    val got = Text.lmScore(spark, sf0001).collect()
    assert(got.length == docs.length)
    got.foreach { r =>
      val ts = toks(r.getLong(0))
      val mean = (ts.map(logp4).sum / ts.size).toDouble
      assert(r.getLong(1) == ts.size, s"n_tokens doc ${r.getLong(0)}")
      assert(math.abs(r.getDouble(2) - (-mean)) < 1e-3,
        s"xent doc ${r.getLong(0)}")
      assert(math.abs(r.getDouble(3) - math.exp(-mean)) < 1e-2,
        s"ppl doc ${r.getLong(0)}")
    }
  }

  test("repetition filters match a driver-side recomputation") {
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val got = Text.repetition(spark, sf0001).collect()
      .map(r => r.getLong(0) -> r).toMap
    val multi = docs.filter(_._2.trim.split("\\s+").length >= 2)
    assert(got.size == multi.length)
    multi.foreach { case (id, text) =>
      val toks = text.trim.split("\\s+").toSeq
      val row = got(id)
      val dup = 1.0 - toks.distinct.size.toDouble / toks.size
      val counts = toks.sliding(2).map(_.mkString(" ")).toSeq
        .groupBy(identity).map { case (k, v) => k -> v.size }
      val (topB, topN) = counts.toSeq.sortBy { case (b, c) => (-c, b) }.head
      assert(row.getLong(1) == toks.size, s"n_tokens doc $id")
      assert(math.abs(row.getDouble(2) - dup) < 1e-3, s"dup_frac doc $id")
      assert(row.getString(3) == topB, s"top bigram doc $id")
      assert(row.getLong(4) == topN, s"top bigram count doc $id")
      assert(row.getBoolean(6) ==
        (dup > 0.6 || 2.0 * topN / toks.size > 0.1), s"flag doc $id")
    }
  }

  test("type-token ratio is in (0, 1]") {
    val r = Text.vocabStats(spark, sf0001).head()
    val ratio = r.getDouble(2)
    assert(ratio > 0 && ratio <= 1.0, r.toString)
  }

  test("two-phase per-language top-k equals the one-window form") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val oneWindow = graft.Tables.documents(spark, sf0001)
      .select(col("lang"), explode(Text.tokens(col("text"))).as("token"))
      .groupBy("lang", "token").agg(count(lit(1)).as("n"))
      .withColumn("rk", row_number().over(Window.partitionBy("lang")
        .orderBy(col("n").desc, col("token").asc)).cast("long"))
      .filter(col("rk") <= 5)
      .select("lang", "token", "n", "rk")
      .orderBy("lang", "rk").collect().toSeq
    val twoPhase = Text.topTermsPerLang(spark, sf0001).collect().toSeq
    assert(twoPhase.nonEmpty && twoPhase == oneWindow)
  }

  test("bm25 ranking matches a driver-side recomputation") {
    val texts = graft.Tables.documents(spark, sf0001)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val terms = Seq("vector", "merge", "window")
    val dl = texts.map { case (id, t) =>
      id -> t.trim.split("\\s+").length.toLong }.toMap
    val n = dl.size.toLong
    val avgdl = dl.values.sum.toDouble / n
    val tf: Map[(Long, String), Long] = texts.flatMap { case (id, t) =>
      t.trim.split("\\s+").filter(terms.contains).groupBy(identity)
        .map { case (w, a) => ((id, w), a.length.toLong) }
    }.toMap
    val df = terms.map(w => w -> tf.keysIterator.count(_._2 == w).toLong).toMap
    def rd(v: Double, s: Int) =
      BigDecimal(v).setScale(s, BigDecimal.RoundingMode.HALF_UP).toDouble
    val k1 = 1.2; val b = 0.75
    val expect = tf.groupBy(_._1._1).map { case (id, m) =>
      val sc = m.map { case ((_, w), f) =>
        val idf = rd(math.log((n - df(w) + 0.5) / (df(w) + 0.5) + 1.0), 8)
        rd(idf * ((f * (k1 + 1.0)) /
          (f + k1 * (1.0 - b + b * dl(id) / avgdl))), 8)
      }.sum
      (id, m.size.toLong, rd(sc, 4))
    }.toSeq.sortBy { case (id, _, s) => (-s, id) }.take(25)
    val got = Text.bm25Search(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got.map(t => (t._1, t._2)) == expect.map(t => (t._1, t._2)),
      s"bm25 ranking mismatch: got ${got.take(3)}… expected ${expect.take(3)}…")
    got.zip(expect).foreach { case ((id, _, g), (_, _, e)) =>
      assert(math.abs(g - e) <= 1e-6, s"bm25($id): $g vs $e")
    }
  }

  test("pmi bigrams match a driver-side recomputation") {
    val texts = graft.Tables.documents(spark, sf0001)
      .select("text").collect().map(_.getString(0))
    val uni = scala.collection.mutable.Map.empty[String, Long]
    val bg = scala.collection.mutable.Map.empty[(String, String), Long]
    texts.foreach { t =>
      val tk = t.trim.split("\\s+")
      tk.foreach(w => uni(w) = uni.getOrElse(w, 0L) + 1)
      tk.sliding(2).filter(_.length == 2).foreach { p =>
        val k = (p(0), p(1)); bg(k) = bg.getOrElse(k, 0L) + 1
      }
    }
    val n = uni.values.sum.toDouble
    val nb = bg.values.sum.toDouble
    val expect = bg.toSeq.collect { case ((w1, w2), c12) if c12 >= 5 =>
      val pmi = math.log(c12 * n * n / (nb * uni(w1) * uni(w2))) / math.log(2.0)
      (w1, w2, c12, BigDecimal(pmi).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }.sortBy { case (w1, w2, _, pmi) => (-pmi, w1, w2) }.take(20)
    val got = Text.pmiBigrams(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(got.map(t => (t._1, t._2, t._3)) == expect.map(t => (t._1, t._2, t._3)),
      s"bigram ranking mismatch: got ${got.take(3)}… expected ${expect.take(3)}…")
    got.zip(expect).foreach { case ((w1, w2, _, g), (_, _, _, e)) =>
      assert(math.abs(g - e) <= 1e-6, s"pmi($w1,$w2): $g vs $e")
    }
  }

  test("bigram LM perplexity matches a driver-side recomputation") {
    val docs = graft.Tables.documents(spark, sf0001)
      .select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1))
    val uni = scala.collection.mutable.Map.empty[String, Long]
    val bg = scala.collection.mutable.Map.empty[(String, String), Long]
    docs.foreach { case (_, t) =>
      val tk = t.trim.split("\\s+")
      tk.foreach(w => uni(w) = uni.getOrElse(w, 0L) + 1)
      tk.sliding(2).filter(_.length == 2).foreach { p =>
        val k = (p(0), p(1)); bg(k) = bg.getOrElse(k, 0L) + 1
      }
    }
    val v = uni.size
    val expect = docs.flatMap { case (id, t) =>
      val pairs = t.trim.split("\\s+").sliding(2).filter(_.length == 2).toSeq
      if (pairs.isEmpty) None else {
        val lps = pairs.map { p =>
          math.log((bg((p(0), p(1))) + 1.0) / (uni(p(0)) + v))
        }
        Some(id -> (pairs.size.toLong, -lps.sum / lps.size))
      }
    }.toMap
    val got = Text.bigramLm(spark, sf0001).collect()
    assert(got.length == expect.size)
    got.foreach { r =>
      val (n, xent) = expect(r.getLong(0))
      assert(r.getLong(1) == n, s"doc ${r.getLong(0)} bigram count")
      assert(math.abs(r.getDouble(2) - xent) < 1e-3,
        s"doc ${r.getLong(0)} xent: ${r.getDouble(2)} vs $xent")
      assert(math.abs(r.getDouble(3) - math.exp(xent)) < 1e-2,
        s"doc ${r.getLong(0)} ppl")
    }
  }

  test("vocab coverage curve: monotone in k, matches a driver-side replay") {
    val got = graft.ext.Text.vocabCoverage(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4)))
    assert(got.map(_._1).toSeq == Seq(10L, 100L, 1000L))
    val toks = Tables.documents(spark, sf0001).select("text").collect()
      .flatMap(_.getString(0).trim.split("\\s+"))
    val tf = toks.groupBy(identity).view.mapValues(_.length).toSeq
      .sortBy { case (t, n) => (-n, t) }
    got.foreach { case (k, vocab, nTokens, covered, pct) =>
      assert(vocab == tf.size && nTokens == toks.length)
      val want = tf.take(k.toInt).map(_._2.toLong).sum
      assert(covered == want, s"k=$k covered $covered != $want")
      assert(pct == math.round(covered.toDouble / nTokens * 100 * 10000) / 10000.0)
    }
    // monotone and saturating
    val pcts = got.map(_._5)
    assert(pcts.zip(pcts.tail).forall(p => p._1 <= p._2))
    assert(got.last._4 == toks.length || got.last._1 < tf.size)
  }

  test("per-source entropy matches a driver-side recomputation") {
    val got = graft.ext.Text.entropyBySource(spark, sf0001).collect()
      .map(r => r.getString(0) -> r).toMap
    val docs = Tables.documents(spark, sf0001)
      .select("source", "text").collect()
      .map(r => (r.getString(0), r.getString(1)))
    val bySource = docs.groupBy(_._1)
    assert(got.keySet == bySource.keySet)
    bySource.foreach { case (src, ds) =>
      val toks = ds.flatMap(_._2.trim.split("\\s+"))
      val n = toks.length.toDouble
      val tf = toks.groupBy(identity).view.mapValues(_.length).toMap
      // replay the engine's determinism discipline: 12-dp-rounded
      // contributions summed exactly (BigDecimal), then negated
      val h = -tf.values.map { c =>
        val p = c / n
        BigDecimal(p * math.log(p) / math.log(2.0))
          .setScale(12, BigDecimal.RoundingMode.HALF_UP)
      }.sum.toDouble
      val row = got(src)
      assert(row.getAs[Long]("n_tokens") == toks.length)
      assert(row.getAs[Long]("vocab_size") == tf.size)
      val wantH = math.round(h * 10000) / 10000.0
      assert(row.getAs[Double]("entropy_bits") == wantH,
        s"$src: entropy ${row.getAs[Double]("entropy_bits")} != $wantH")
      val eff = row.getAs[Double]("entropy_efficiency")
      assert(eff > 0 && eff <= 1.0, s"$src: efficiency $eff out of range")
    }
  }

  /** Reference BPE: word-frequency table in, first `rounds` merges
    * out, canonical left-to-right greedy application (overlapping
    * matches: 1st, 3rd, … of each run apply). */
  private def referenceBpe(words: Map[String, Long], rounds: Int)
      : Seq[(String, String, Long)] = {
    var forms: Map[Vector[String], Long] =
      words.groupBy(_._1.toVector.map(_.toString))
        .view.mapValues(_.values.sum).toMap
    (1 to rounds).map { _ =>
      val pc = scala.collection.mutable.Map.empty[(String, String), Long]
      forms.foreach { case (syms, cnt) =>
        syms.sliding(2).filter(_.size == 2).foreach { p =>
          pc((p(0), p(1))) = pc.getOrElse((p(0), p(1)), 0L) + cnt }
      }
      val ((ba, bb), bn) = pc.toSeq.minBy { case ((a, b), n) => (-n, a, b) }
      forms = forms.toSeq.map { case (syms, cnt) =>
        val out = Vector.newBuilder[String]
        var i = 0
        while (i < syms.length) {
          if (i + 1 < syms.length && syms(i) == ba && syms(i + 1) == bb) {
            out += (ba + bb); i += 2  // greedy: consume both, no overlap
          } else { out += syms(i); i += 1 }
        }
        (out.result(), cnt)
      }.groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
      (ba, bb, bn)
    }
  }

  test("BPE merges match the reference greedy trainer on the corpus") {
    val words = Tables.documents(spark, sf0001)
      .select("text").collect().flatMap(_.getString(0).trim.split("\\s+"))
      .filter(_.matches("^[a-z]+$"))
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    val want = referenceBpe(words, graft.ext.Text.BpeMerges)
    val got = graft.ext.Text.bpeTrain(spark, sf0001).collect()
    assert(got.length == graft.ext.Text.BpeMerges)
    got.zip(want).foreach { case (r, (a, b, n)) =>
      assert(r.getString(1) == a && r.getString(2) == b &&
        r.getString(3) == a + b && r.getLong(4) == n,
        s"rank ${r.getLong(0)}: got (${r.getString(1)},${r.getString(2)}," +
          s"${r.getLong(4)}) want ($a,$b,$n)")
    }
  }

  test("BPE encode: symbol volume matches the reference final forms") {
    // replay the reference trainer to its FINAL forms and recompute
    // the per-source encode stats driver-side
    val rows = Tables.documents(spark, sf0001)
      .select("source", "text").collect()
      .map(r => (r.getString(0), r.getString(1)))
    val allWords = rows.flatMap(_._2.trim.split("\\s+"))
      .filter(_.matches("^[a-z]+$"))
      .groupBy(identity).view.mapValues(_.length.toLong).toMap
    // re-derive final symbol counts per word by applying the learned
    // merges with the same greedy scan as referenceBpe
    val merges = referenceBpe(allWords, graft.ext.Text.BpeMerges)
      .map { case (a, b, _) => (a, b) }
    def encode(word: String): Int = {
      var syms = word.toVector.map(_.toString)
      merges.foreach { case (a, b) =>
        val out = Vector.newBuilder[String]
        var i = 0
        while (i < syms.length) {
          if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
            out += (a + b); i += 2
          } else { out += syms(i); i += 1 }
        }
        syms = out.result()
      }
      syms.length
    }
    val got = graft.ext.Text.bpeEncode(spark, sf0001).collect()
      .map(r => r.getString(0) -> r).toMap
    rows.groupBy(_._1).foreach { case (src, ds) =>
      val ws = ds.flatMap(_._2.trim.split("\\s+")).filter(_.matches("^[a-z]+$"))
      val r = got(src)
      assert(r.getLong(1) == ws.length, s"$src n_words")
      assert(r.getLong(2) == ws.map(_.length.toLong).sum, s"$src n_chars")
      assert(r.getLong(3) == ws.map(encode(_).toLong).sum, s"$src n_symbols")
      assert(r.getLong(3) <= r.getLong(2), s"$src compression > 1")
    }
  }

  test("batched BPE rounds: rounds << merges on a wide vocabulary, ≡ canonical") {
    // the production corpus shape: many frequent short units with
    // strictly decreasing, symbol-disjoint top pairs (think the
    // per-language function words of a 32k-vocab train) over a
    // long-tail glue of composite words — one driver round consumes
    // the whole disjoint stretch where canonical greedy pays one
    // serial job per merge
    import spark.implicits._
    val vocab = TextSpec.wideVocab
    val nMerges = 12
    val want = referenceBpe(vocab, nMerges)
    val wordsDf = vocab.toSeq.toDF("word", "cnt")
    val (got, _, rounds) = graft.ext.Text.trainBpeOn(wordsDf, nMerges)
    assert(got.length == nMerges)
    got.zip(want).foreach { case ((rank, a, b, m, n), (wa, wb, wn)) =>
      assert(a == wa && b == wb && m == wa + wb && n == wn,
        s"rank $rank: got ($a,$b,$n) want ($wa,$wb,$wn)")
    }
    info(s"$nMerges merges in $rounds driver rounds")
    assert(rounds <= nMerges / 2,
      s"batching ineffective: $rounds rounds for $nMerges merges")
  }

  test("batched BPE ≡ canonical greedy on adversarial random vocabularies") {
    // random small vocabularies over a 4-letter alphabet maximize
    // symbol collisions, self-pairs, ties, and merged-symbol reuse —
    // every stop rule in selectBpeBatch gets exercised; equality with
    // the one-merge-at-a-time reference must hold regardless
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    for (trial <- 1 to 5) {
      val vocab: Map[String, Long] = (1 to 12).map { _ =>
        val len = 2 + rnd.nextInt(6)
        val w = (1 to len).map(_ => ('a' + rnd.nextInt(4)).toChar).mkString
        w -> (1L + rnd.nextInt(20))
      }.groupBy(_._1).view.mapValues(_.map(_._2).sum).toMap
      val nMerges = 8
      val want = referenceBpe(vocab, nMerges)
      val (got, _, _) =
        graft.ext.Text.trainBpeOn(vocab.toSeq.toDF("word", "cnt"), nMerges)
      got.zip(want).foreach { case ((rank, a, b, _, n), (wa, wb, wn)) =>
        assert(a == wa && b == wb && n == wn,
          s"trial $trial rank $rank: got ($a,$b,$n) want ($wa,$wb,$wn) " +
            s"vocab=$vocab")
      }
    }
  }

  test("BPE greedy application: overlapping runs merge 1st, 3rd, ...") {
    // corpus engineered so merge 1 is (a,a): "aaaa" must become
    // (aa)(aa) — run positions 0,1,2 with 0 and 2 applied — and
    // "aaa" must become (aa)(a); round 2 counts then see the merged
    // symbols, which only the canonical application produces
    val tmp = tempDir("bpe_runs")
    import spark.implicits._
    Seq(
      (1L, "aaaa aaaa aaaa xy", "en", "src0"),
      (2L, "aaa aaa xy xy", "en", "src0"),
      (3L, "aa ba xy", "en", "src0"),
      (4L, "abcdefgh abcdefgh", "en", "src0")) // pair fuel for 6 rounds
      .toDF("doc_id", "text", "lang", "source")
      .write.parquet(s"$tmp/documents.parquet")
    val words = Map("aaaa" -> 3L, "aaa" -> 2L, "xy" -> 4L, "aa" -> 1L,
      "ba" -> 1L, "abcdefgh" -> 2L)
    val want = referenceBpe(words, graft.ext.Text.BpeMerges)
    // sanity on the fixture itself: merge 1 is (a,a) with overlap
    // counting (3 words "aaaa" x 3 pairs + 2 x "aaa" x 2 pairs + "aa")
    assert(want.head == ("a", "a", 14L), s"fixture drifted: ${want.head}")
    val got = graft.ext.Text.bpeTrain(spark, tmp).collect()
    got.zip(want).foreach { case (r, (a, b, n)) =>
      assert(r.getString(1) == a && r.getString(2) == b && r.getLong(4) == n,
        s"rank ${r.getLong(0)}: got (${r.getString(1)},${r.getString(2)}," +
          s"${r.getLong(4)}) want ($a,$b,$n)")
    }
  }
}

object TextSpec {
  /** Strictly decreasing, symbol-disjoint frequent units over a
    * long-tail glue of composite words: 12 merges in few rounds. */
  val wideVocab: Map[String, Long] = {
    val units = "ab cd ef gh ij kl mn op".split(" ")
    units.zipWithIndex.map { case (w, i) => w -> (400L - 10L * i) }.toMap ++
      Map("abcdefgh" -> 6L, "ijklmnop" -> 5L)
  }
}
