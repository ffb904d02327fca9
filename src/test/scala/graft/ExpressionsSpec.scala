package graft

import org.apache.spark.sql.functions._
import graft.functions.ArrayAgreeCount.arrayAgreeCount
import graft.functions.SortedIntersectSize.sortedIntersectSize

/** Native Catalyst expressions: codegen path (via DataFrame) and
  * interpreted path (via eval on literals) must agree with the
  * built-in compositions they replace. */
class ExpressionsSpec extends SparkSpec {
  import spark.implicits._

  test("sorted_intersect_size == size(array_intersect) on sorted int arrays") {
    val df = Seq(
      (Seq(1, 3, 5, 7), Seq(3, 4, 5, 8)),
      (Seq(1, 2), Seq(3, 4)),
      (Seq.empty[Int], Seq(1)),
      (Seq(2, 4, 6), Seq(2, 4, 6)),
    ).toDF("a", "b")
    val got = df.select(
      sortedIntersectSize(col("a"), col("b")).as("fast"),
      size(array_intersect(col("a"), col("b"))).as("ref")).collect()
    got.foreach(r => assert(r.getInt(0) == r.getInt(1), r.toString))
  }

  test("sorted_contain_minimal: one canonical verify per pair, value == brute force") {
    import graft.functions.SortedIntersectSize.sortedContainMinimal
    // randomized pairs: for EVERY shared-value witness row of a pair,
    // exactly the row holding the smallest common value may return a
    // count (the others return -1), and that count is the exact
    // intersect when it reaches required, else -1
    val rnd = new scala.util.Random(42)
    val cases = Seq.newBuilder[(Seq[Long], Seq[Long], Int, Int, Int, Int)]
    for (_ <- 0 until 200) {
      val universe = rnd.shuffle((0L until 40L).toVector)
      val na = 3 + rnd.nextInt(10)
      val nb = na + 1 + rnd.nextInt(10)
      val a = universe.take(na).sorted
      val b = rnd.shuffle(universe).take(nb).sorted
      val req = math.ceil(0.9 * na).toInt
      val common = a.toSet.intersect(b.toSet)
      val exact = common.size
      for (v <- common) {
        val ia = a.indexOf(v); val jb = b.indexOf(v)
        val isMin = v == common.min
        val want = if (isMin && exact >= req) exact else -1
        cases += ((a, b, req, ia, jb, want))
      }
    }
    val df = cases.result().toDF("a", "b", "req", "ia", "jb", "want")
    val got = df.select(
      sortedContainMinimal(col("a"), col("b"), col("req"),
        col("ia"), col("jb")).as("got"),
      col("want"), col("a"), col("b"), col("ia"), col("jb")).collect()
    got.foreach { r =>
      assert(r.getInt(0) == r.getInt(1), s"mismatch: $r")
    }
  }

  test("sorted_intersect_size: null input yields null") {
    val df = Seq((Some(Seq(1, 2)), Option.empty[Seq[Int]])).toDF("a", "b")
    assert(df.select(sortedIntersectSize(col("a"), col("b"))).head().isNullAt(0))
  }

  test("sorted_intersect_size supports long arrays (vocabulary ordinals)") {
    val df = Seq(
      (Seq(1L, 3L, (1L << 40) + 5L), Seq(3L, 4L, (1L << 40) + 5L)),
      (Seq(1L, 2L), Seq(3L, 4L)),
    ).toDF("a", "b")
    val got = df.select(
      sortedIntersectSize(col("a"), col("b")).as("fast"),
      size(array_intersect(col("a"), col("b"))).as("ref")).collect()
    got.foreach(r => assert(r.getInt(0) == r.getInt(1), r.toString))
  }

  test("array_agree_count matches zip_with composition on long arrays") {
    val df = Seq(
      (Seq(1L, 2L, 3L, 4L), Seq(1L, 9L, 3L, 4L)),
      (Seq(5L), Seq(6L)),
    ).toDF("a", "b")
    val got = df.select(
      arrayAgreeCount(col("a"), col("b")).as("fast"),
      size(filter(zip_with(col("a"), col("b"), (x, y) => x === y), e => e))
        .as("ref")).collect()
    got.foreach(r => assert(r.getInt(0) == r.getInt(1), r.toString))
  }

  test("array_agree_count supports int arrays too") {
    val df = Seq((Seq(1, 2, 3), Seq(1, 2, 9))).toDF("a", "b")
    assert(df.select(arrayAgreeCount(col("a"), col("b"))).head().getInt(0) == 2)
  }

  test("dot_product matches the aggregate(zip_with) fold it replaces") {
    import graft.functions.DotProduct.dotProduct
    val df = Seq(
      (Seq(1.0, 2.0, 3.0), Seq(4.0, 5.0, 6.0)),
      (Seq(0.1, -0.2, 0.3, 1e-9), Seq(7.0, 0.25, -3.5, 1e9)),
      (Seq.empty[Double], Seq.empty[Double]),
    ).toDF("a", "b")
    val got = df.select(
      dotProduct(col("a"), col("b")).as("fast"),
      aggregate(zip_with(col("a"), col("b"), (x, y) => x * y),
        lit(0.0), (acc, x) => acc + x).as("ref")).collect()
    // exact equality: both are left-to-right folds, must be bit-identical
    got.foreach(r => assert(r.getDouble(0) == r.getDouble(1), r.toString))
  }

  test("dot_product: null input, length mismatch, or null ELEMENT yields null") {
    import graft.functions.DotProduct.dotProduct
    val df = Seq(
      (Some(Seq(Some(1.0), Some(2.0))), Some(Seq(Some(1.0)))),
      (Some(Seq(Some(1.0))), Option.empty[Seq[Option[Double]]]),
      (Some(Seq(Some(1.0), None)), Some(Seq(Some(2.0), Some(3.0)))),
    ).toDF("a", "b")
    df.select(dotProduct(col("a"), col("b"))).collect()
      .foreach(r => assert(r.isNullAt(0)))
  }

  test("hyperplane_sig == the composed when(dot > 0) sum it replaces") {
    import graft.functions.DotProduct.dotProduct
    import graft.functions.HyperplaneSig.hyperplaneSig
    val planes = Array.tabulate(14)(j => graft.ext.Similarity.signPlane(3, j))
    val rnd = new scala.util.Random(7)
    val df = Seq.fill(50)(Seq.fill(64)(rnd.nextGaussian())).toDF("v")
    val composed = planes.zipWithIndex.map { case (p, j) =>
      when(dotProduct(col("v"), typedlit(p.toSeq)) > 0, lit(1L << j))
        .otherwise(0L)
    }.reduce(_ + _)
    df.select(hyperplaneSig(col("v"), planes).as("fast"),
        composed.as("ref")).collect()
      .foreach(r => assert(r.getLong(0) == r.getLong(1), r.toString))
    // the quirky null algebra is preserved: null vector, mismatched
    // length, and a null element each sign to 0, never null
    val odd = Seq(
      Option.empty[Seq[Option[Double]]],
      Some(Seq(Some(1.0))),
      Some(Seq.tabulate(64)(i => if (i == 3) None else Some(1.0))),
    ).toDF("v")
    odd.select(hyperplaneSig(col("v"), planes)).collect()
      .foreach(r => assert(!r.isNullAt(0) && r.getLong(0) == 0L, r.toString))
  }

  test("signPlane matches the md5 top-bit rule (oracle parity)") {
    // DuckDB: substr(md5('0_0_0'),1,1) BETWEEN '0' AND '7'  <=>  +1.0
    val md = java.security.MessageDigest.getInstance("MD5")
    val plane = graft.ext.Similarity.signPlane(0, 0)
    (0 until 64).foreach { k =>
      val hex = md.digest(s"0_0_$k".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString
      val expect = if (hex.charAt(0) <= '7') 1.0 else -1.0
      assert(plane(k) == expect, s"k=$k hex=$hex")
    }
    assert(plane.count(_ == 1.0) > 16 && plane.count(_ == -1.0) > 16,
      "sign plane degenerate")
  }

  test("type mismatch is rejected at analysis") {
    val df = Seq((Seq("x"), Seq(1))).toDF("a", "b")
    intercept[Exception] {
      df.select(sortedIntersectSize(col("a"), col("b"))).collect()
    }
  }

  // tricky fixture shared by both text kernels: case, punctuation,
  // runs of mixed whitespace, leading/trailing junk, digits glued to
  // letters, empty/whitespace-only strings, multibyte UTF-8 (2- and
  // 3-byte code points, adjacent and interleaved), the İ one-to-many
  // lowercase mapping, and the Kelvin sign K (lowercases to ASCII k)
  private val kernelFixture = Seq(
    "Hello, World!  42x", "  a .  b  ", "...", "", "   ",
    "tabs\tand\nnewlines\f\rhere", "abc123def", "ÉLAN déjà-vu",
    "日本語テスト text", "İstanbul", "Kelvin", "a b",
    "mixed ÅçÇ 99 end.", "naïve—café", "(x)+(y)=z", "__under__score__")

  test("fingerprint_norm == the regex normalize chain (incl. unicode)") {
    val df = kernelFixture.toDF("text")
    val chain = trim(regexp_replace(
      regexp_replace(lower(col("text")), "[^a-z0-9 ]", ""), "\\s+", " "))
    val got = df.select(
      graft.functions.TextKernels.fingerprintNorm(lower(col("text"))).as("fast"),
      chain.as("ref"), col("text")).collect()
    got.foreach(r => assert(r.getString(0) == r.getString(1),
      s"input=${r.getString(2)} fast=${r.getString(0)} ref=${r.getString(1)}"))
  }

  test("bpe_token_count == size(regexp_extract_all(...)) (incl. unicode)") {
    val df = kernelFixture.toDF("text")
    val ref = size(regexp_extract_all(col("text"),
      lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]+"), lit(0)))
    val got = df.select(
      graft.functions.TextKernels.bpeTokenCount(col("text")).as("fast"),
      ref.as("ref"), col("text")).collect()
    got.foreach(r => assert(r.getInt(0) == r.getInt(1),
      s"input=${r.getString(2)} fast=${r.getInt(0)} ref=${r.getInt(1)}"))
  }

  test("ngram_hash60 == the interpreted md5/conv transform chain") {
    val df = Seq(
      Seq("a", "b", "c", "d", "e", "f"),
      Seq("x", "y", "z", "w", "v"),          // exactly one 5-shingle
      Seq("too", "short"),                   // below width -> empty
      Seq.empty[String],
      Seq("ünï", "códe", "多字", "toks", "mixed", "bytes"),
    ).toDF("t")
    val n = 5
    val chain = when(size(col("t")) >= n,
      transform(sequence(lit(1), size(col("t")) - (n - 1)),
        i => conv(substring(md5(concat_ws(" ", slice(col("t"), i, lit(n)))
          .cast("binary")), 1, 15), 16, 10).cast("long")))
      .otherwise(array().cast("array<long>"))
    val got = df.select(
      graft.functions.NgramHash60.ngramHash60(col("t"), n).as("fast"),
      chain.as("ref")).collect()
    got.foreach { r =>
      assert(r.getSeq[Long](0) == r.getSeq[Long](1), r.toString) }
  }

  test("md5_hash60 == conv(substring(md5(...))) chain on strings and binary") {
    val df = Seq("", "a", "sample:42", "ünïcode 多字", "qw:the", "0" * 200)
      .toDF("v")
    val got = df.select(
      graft.functions.Md5Hash60.md5Hash60(col("v")).as("fast"),
      conv(substring(md5(col("v").cast("binary")), 1, 15), 16, 10)
        .cast("long").as("ref"),
      graft.functions.Md5Hash60.md5Hash60(col("v").cast("binary")).as("fastBin"))
      .collect()
    got.foreach { r =>
      assert(r.getLong(0) == r.getLong(1), r.toString)
      assert(r.getLong(2) == r.getLong(1), r.toString)
    }
    val nulls = Seq(Option.empty[String]).toDF("v")
      .select(graft.functions.Md5Hash60.md5Hash60(col("v"))).head()
    assert(nulls.isNullAt(0))
  }

  test("md5_hash60 single-block fast path == MessageDigest at every length") {
    // the ≤ 55-byte inline MD5 must be bit-identical to the engine
    // digest on either side of the one-block boundary, at every
    // offset alignment, on arbitrary (non-ASCII) bytes
    val rnd = new scala.util.Random(42)
    val md = java.security.MessageDigest.getInstance("MD5")
    def ref(bytes: Array[Byte], off: Int, len: Int): Long = {
      md.reset(); md.update(bytes, off, len)
      val d = md.digest()
      (((d(0) & 0xffL) << 56) | ((d(1) & 0xffL) << 48) |
        ((d(2) & 0xffL) << 40) | ((d(3) & 0xffL) << 32) |
        ((d(4) & 0xffL) << 24) | ((d(5) & 0xffL) << 16) |
        ((d(6) & 0xffL) << 8) | (d(7) & 0xffL)) >>> 4
    }
    for (len <- 0 to 70; off <- Seq(0, 3)) {
      val buf = new Array[Byte](off + len)
      rnd.nextBytes(buf)
      assert(graft.functions.Md5Hash60.hash(buf, off, len) ==
        ref(buf, off, len), s"len=$len off=$off")
    }
  }

  test("topKByScore == per-group row_number window (order pinned best-first)") {
    // the knn-graph top-k rides this equivalence: (score DESC, id ASC)
    // emitted best-first must match the window's row_number selection
    // AND order exactly, including score ties (the fixture's 1/20
    // rounding forces many). Group 17 holds the degenerate scores: a
    // NaN (Spark's sort ranks it greatest) and a -0.0 tied with 0.0
    // (Spark's sort compares them equal, so the id breaks the tie) —
    // with k = 4 the tie straddles the cut.
    import org.apache.spark.sql.expressions.Window
    val rnd = new scala.util.Random(7)
    val rows = (for (g <- 0 until 17; i <- 0 until (3 + g % 9)) yield
      (g.toLong, (g * 100 + i).toLong, math.rint(rnd.nextDouble() * 20) / 20)) ++
      Seq((17L, 1700L, 0.5), (17L, 1701L, -0.0), (17L, 1702L, Double.NaN),
        (17L, 1703L, 0.25), (17L, 1704L, 0.0))
    val df = rows.toDF("g", "id", "score")
    // scores compare by bits: NaN never equals itself under ==
    def asKey(r: org.apache.spark.sql.Row) = (r.getLong(0), r.getLong(1),
      java.lang.Double.doubleToLongBits(r.getDouble(2)), r.getLong(3))
    val k = 4
    val w = Window.partitionBy("g").orderBy(col("score").desc, col("id").asc)
    val viaWindow = df
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select("g", "id", "score", "rank")
      .collect().map(asKey).toSet
    val viaAgg = df.groupBy("g")
      .agg(graft.functions.TopKByScore.topKByScore(
        col("score"), col("id"), k).as("tk"))
      .select(col("g"), posexplode(col("tk")).as(Seq("pos", "t")))
      .select(col("g"), col("t.id"), col("t.score"),
        (col("pos") + 1).cast("long").as("rank"))
      .collect().map(asKey).toSet
    assert(viaAgg == viaWindow)
    assert(viaWindow.exists(_._3 == java.lang.Double.doubleToLongBits(Double.NaN)),
      "the NaN row must make the top-k")
  }

  test("text kernels: null input yields null; interpreted == codegen") {
    val df = Seq(Option.empty[String], Some("A  b!")).toDF("text")
    val rows = df.select(
      graft.functions.TextKernels.fingerprintNorm(lower(col("text"))),
      graft.functions.TextKernels.bpeTokenCount(col("text"))).collect()
    assert(rows(0).isNullAt(0) && rows(0).isNullAt(1))
    // interpreted path (literal eval, no codegen)
    import org.apache.spark.unsafe.types.UTF8String
    assert(graft.functions.TextKernels
      .normalize(UTF8String.fromString("a  b!")).toString == "a b")
    assert(graft.functions.TextKernels
      .bpeCount(UTF8String.fromString("A  b!42c")) == 5)
  }
}
