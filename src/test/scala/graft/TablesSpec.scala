package graft

import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The corpus readers: each table's schema is resolved once per
  * session, and every read is still a plan of its own. */
class TablesSpec extends SparkSpec {

  /** `f`'s value and the Spark jobs it started on this thread. The
    * listener bus delivers events in order, so once a marker job
    * started after `f` has been seen, so has every job `f` started. */
  private def jobsStartedBy[T](f: => T): (T, Int) = {
    val sc = spark.sparkContext
    val tag = java.util.UUID.randomUUID().toString
    val (probe, marker) = (s"probe_$tag", s"marker_$tag")
    val seen = new ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .foreach(seen.add)
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(probe, "probe")
      val r = try f finally sc.clearJobGroup()
      sc.setJobGroup(marker, "marker")
      try spark.range(1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 60L * 1000000000L
      while (!seen.contains(marker) && System.nanoTime() < deadline) Thread.sleep(10)
      assert(seen.contains(marker), "the listener never saw the marker job")
      (r, seen.asScala.count(_ == probe))
    } finally sc.removeSparkListener(listener)
  }

  private val readers = Seq[(String, (SparkSession, String) => DataFrame)](
    "region" -> Tables.region, "nation" -> Tables.nation,
    "customer" -> Tables.customer, "supplier" -> Tables.supplier,
    "part" -> Tables.part, "orders" -> Tables.orders,
    "lineitem" -> Tables.lineitem, "events" -> Tables.events,
    "documents" -> Tables.documents, "embeddings" -> Tables.embeddings)

  test("a table's first read resolves its schema; later reads and query builds start no job") {
    SessionMemo.clear(spark)
    val firstJobs = readers.map { case (name, read) =>
      name -> jobsStartedBy(read(spark, sf0001).schema)._2 }
    assert(firstJobs.forall(_._2 >= 1),
      s"the first read must infer the footer schema: $firstJobs")
    val again = readers.map { case (name, read) =>
      name -> jobsStartedBy(read(spark, sf0001).schema)._2 }
    assert(again.forall(_._2 == 0), s"a resolved table started jobs: $again")
    val (_, built) = jobsStartedBy(SparkEntry.queries("rel_waiting_suppliers")(spark, sf0001))
    assert(built == 0, s"building rel_waiting_suppliers started $built jobs")
  }

  test("each read is a fresh relation under the resolved schema") {
    val (a, b) = (Tables.nation(spark, sf0001), Tables.nation(spark, sf0001))
    assert(a.schema == b.schema)
    assert(a.queryExecution.analyzed.output.map(_.exprId)
      .intersect(b.queryExecution.analyzed.output.map(_.exprId)).isEmpty,
      "two reads of one table share expression ids")
  }

  test("rel_nation_trade reads nation twice and matches a driver-side replay") {
    // the oracle query, replayed on the driver: exact decimal(25,8)
    // revenue per (supplier nation, customer nation, ship year)
    def dec(d: Double) = BigDecimal(d).setScale(8, BigDecimal.RoundingMode.HALF_UP)
    def key(v: Any) = v.asInstanceOf[Number].longValue
    def collect(df: DataFrame) = df.collect().map(r => key(r.get(0)) -> key(r.get(1))).toMap
    val nation = Tables.nation(spark, sf0001).select("n_nationkey", "n_name").collect()
      .map(r => key(r.get(0)) -> r.getString(1)).toMap
    val suppNation = collect(Tables.supplier(spark, sf0001).select("s_suppkey", "s_nationkey"))
    val custNation = collect(Tables.customer(spark, sf0001).select("c_custkey", "c_nationkey"))
    val orderCust = collect(Tables.orders(spark, sf0001).select("o_orderkey", "o_custkey"))
    val want = Tables.lineitem(spark, sf0001)
      .select(col("l_orderkey"), col("l_suppkey"), year(col("l_shipdate")),
        col("l_extendedprice"), col("l_discount")).collect().toSeq
      .map(r => (nation(suppNation(r.getLong(1))),
        nation(custNation(orderCust(r.getLong(0)))), r.getInt(2).toLong,
        dec(r.getDouble(3) * (1 - r.getDouble(4)))))
      .filter(t => t._1 != t._2)
      .groupBy(t => (t._1, t._2, t._3)).toSeq
      .map { case ((sn, cn, y), rows) =>
        (sn, cn, y, BigDecimal(rows.map(_._4).sum.toDouble)
          .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble) }
      .sortBy(t => (t._1, t._2, t._3))
    val got = SparkEntry.queries("rel_nation_trade")(spark, sf0001).collect().toSeq
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getDouble(3)))
    assert(got.nonEmpty)
    assert(got == want, s"only-spark=${got.diff(want).take(5)} only-replay=${want.diff(got).take(5)}")
  }
}
