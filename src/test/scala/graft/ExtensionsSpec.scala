package graft

import java.sql.Date
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.plans.GlobalWindowLint

class ExtensionsSpec extends SparkSpec {
  import spark.implicits._

  test("native expressions are registered as SQL functions") {
    val r = spark.sql(
      "SELECT sorted_intersect_size(array(1, 3, 5), array(3, 5, 7)) AS a, " +
        "array_agree_count(array(1L, 2L), array(1L, 9L)) AS b, " +
        "dot_product(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS c").head()
    assert(r.getInt(0) == 2 && r.getInt(1) == 1 && r.getDouble(2) == 11.0)
  }

  test("round-8 kernels are registered as SQL functions") {
    val r = spark.sql(
      "SELECT md5_hash60('abc') AS h, " +
        "fingerprint_norm(lower('A  b!')) AS fp, " +
        "bpe_token_count('ab 12x!') AS bc, " +
        "ngram_hash60(array('a','b','c'), 2) AS ng, " +
        "jaro_winkler('martha', 'marhta') AS jw").head()
    // each must equal its Column-API twin
    val ref = Seq(("abc", "A  b!", "ab 12x!", Seq("a", "b", "c"), "martha", "marhta"))
      .toDF("s", "t", "u", "a", "x", "y")
      .select(
        graft.functions.Md5Hash60.md5Hash60(col("s")),
        graft.functions.TextKernels.fingerprintNorm(lower(col("t"))),
        graft.functions.TextKernels.bpeTokenCount(col("u")),
        graft.functions.NgramHash60.ngramHash60(col("a"), 2),
        graft.functions.JaroWinkler.jaroWinkler(col("x"), col("y"))).head()
    assert(r.getLong(0) == ref.getLong(0))
    assert(r.getString(1) == ref.getString(1) && r.getString(1) == "a b")
    assert(r.getInt(2) == ref.getInt(2) && r.getInt(2) == 4)
    assert(r.getSeq[Long](3) == ref.getSeq[Long](3))
    assert(r.getDouble(4) == ref.getDouble(4))
  }

  test("kmv_sketch aggregates via SQL") {
    val sig = spark.sql(
      "SELECT kmv_sketch(t, 8) AS s FROM VALUES ('a'), ('b'), ('c') v(t)")
      .head().getSeq[Long](0)
    assert(sig.length == 3 && sig == sig.sorted)
  }

  test("minhash_sketch aggregates via SQL") {
    val sig = spark.sql(
      "SELECT minhash_sketch(t, 4) AS sig FROM VALUES ('a'), ('b'), ('c') v(t)")
      .head().getSeq[Long](0)
    assert(sig.length == 4 && sig.forall(_ >= 0L))
    // must equal the Column-API form
    import graft.functions.MinHashSketch.minhashSketch
    val viaCol = Seq("a", "b", "c").toDF("t")
      .agg(minhashSketch(col("t"), 4)).head().getSeq[Long](0)
    assert(sig == viaCol)
  }

  test("sized SQL functions reject a non-literal size with their usage") {
    Seq(
      "SELECT ngram_hash60(array('a', 'b'), n) FROM VALUES (2) v(n)" ->
        "ngram_hash60(toks, n): n must be an integer literal",
      "SELECT kmv_sketch(t, n) FROM VALUES ('a', 8) v(t, n)" ->
        "kmv_sketch(v, k): k must be an integer literal",
      "SELECT minhash_sketch(t, n) FROM VALUES ('a', 4) v(t, n)" ->
        "minhash_sketch(tok, numPerms): numPerms must be an integer literal"
    ).foreach { case (sql, usage) =>
      val e = intercept[Exception](spark.sql(sql).collect())
      val messages = Iterator.iterate[Throwable](e)(_.getCause)
        .takeWhile(_ != null).map(_.getMessage).toList
      assert(messages.exists(m => m != null && m.contains(usage)),
        s"$sql: expected '$usage', got $messages")
    }
  }

  private def lintFindings(df: org.apache.spark.sql.DataFrame): Seq[String] =
    GlobalWindowLint.findings(df.queryExecution.optimizedPlan)

  test("lint flags a global window over raw (non-aggregated) input") {
    val df = Seq((Date.valueOf("2020-01-01"), 1L), (Date.valueOf("2020-02-01"), 2L))
      .toDF("d", "v")
      .withColumn("l", lag("v", 1).over(Window.orderBy("d")))
    assert(lintFindings(df).nonEmpty)
  }

  test("lint sees through the cache: flags a cached NON-aggregated frame") {
    // Regression for the toString.contains("Aggregate") version: a
    // cached raw frame whose rendering happens to mention "Aggregate"
    // (here via a column literally named so) must still flag.
    val cached = Seq((Date.valueOf("2020-01-01"), 1L), (Date.valueOf("2020-02-01"), 2L))
      .toDF("d", "AggregateExpressionHolder").cache()
    try {
      cached.count() // materialize the cache
      val df = cached
        .withColumn("l", lag("AggregateExpressionHolder", 1).over(Window.orderBy("d")))
      assert(lintFindings(df).nonEmpty,
        "cached non-aggregated input under a global window must flag")
    } finally cached.unpersist()
  }

  test("lint stays quiet for a CACHED pre-aggregated frame (AQE leaf)") {
    val agg = Seq((Date.valueOf("2020-01-01"), 1L), (Date.valueOf("2020-01-15"), 2L))
      .toDF("d", "v")
      .groupBy(date_trunc("month", col("d")).as("m"))
      .agg(sum("v").as("s"))
      .cache()
    try {
      agg.count() // materialize: cachedPlan is an AdaptiveSparkPlanExec leaf
      val found = lintFindings(agg.withColumn("l", lag("s", 1).over(Window.orderBy("m"))))
      assert(found.isEmpty, s"flagged a cached aggregate-fed global window: $found")
    } finally agg.unpersist()
  }

  test("lint stays quiet for windows over pre-aggregated input") {
    val found = lintFindings(Tables.monthlySeries(spark, sf0001)
      .withColumn("l", lag("emp", 1).over(Window.orderBy("month"))))
    assert(found.isEmpty, s"flagged an aggregate-fed global window: $found")
  }
}
