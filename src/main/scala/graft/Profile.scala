package graft

import org.apache.spark.sql.SparkSession

/** Ad-hoc per-query profiler: `runMain graft.Profile q1 q2 ...` runs
  * each named declared query twice (cold, then warm in the same
  * session) against `SPARK_GRAFT_SF_DIR` and prints both timings.
  * The warm run separates plan/codegen/stage bring-up from the data
  * path — bench regressions that vanish warm are per-query fixed
  * overhead, not an at-scale problem. Pass `--explain` to also dump
  * the formatted physical plan.
  */
object Profile {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val explain = args.contains("--explain")
    val names = args.filterNot(_.startsWith("--"))
    val spark = Sessions.builder(cpus.toInt).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def run(name: String): Double = {
      val t0 = System.nanoTime()
      SparkEntry.queries(name)(spark, sfDir)
        .write.mode("overwrite").format("noop").save()
      (System.nanoTime() - t0) / 1e9
    }
    names.foreach { name =>
      val cold = run(name)
      val warm = run(name)
      // memo-cleared, codegen-warm: the state a Bench pass 2 query
      // runs in — separates janino/plan bring-up (absent here) from
      // the real recomputed data path (present here)
      SessionMemo.clear(spark)
      val rebuilt = run(name)
      println(f"[profile] $name%-28s cold ${cold}%6.2f s   warm ${warm}%6.2f s   rebuilt ${rebuilt}%6.2f s")
      if (explain)
        SparkEntry.queries(name)(spark, sfDir).explain("formatted")
    }
    spark.stop()
  }
}
