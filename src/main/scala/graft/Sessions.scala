package graft

import org.apache.spark.sql.SparkSession

/** The engine's blessed `SparkSession` recipe — one place that
  * encodes the at-scale execution defaults every entry point
  * (Verify / Bench, and a library user) should run with:
  *
  *  - the Graft planner extensions (as-of join strategy)
  *  - AQE on: runtime re-plan, skew-join splitting, coalesced
  *    shuffle partitions
  *  - runtime bloom-filter join pruning on: a selective dimension
  *    filter feeding a shuffle join injects a bloom semi-filter into
  *    the fact-side scan, cutting shuffle write volume before the
  *    join (the 100 TB complement of static partition pruning;
  *    plan-asserted in `PlanSpec`)
  *  - shuffle parallelism sized to the core count, not the 200
  *    default (on a real cluster: executors × cores, then AQE
  *    coalesces)
  *  - UTC session timezone (calendar semantics must not depend on
  *    the host)
  *  - periodic context-cleaner GC at 2 min, not Spark's 30-min
  *    default: shuffle files of finished queries are reclaimed only
  *    when the driver GCs their last reference, and a long-lived
  *    session running shuffle-heavy queries back-to-back can hold
  *    hundreds of GB of DEAD shuffle state for half an hour — the
  *    fifth-decade probe filled a 55 GB disk exactly this way (a
  *    query's own live spill competing with two predecessors' dead
  *    files). At cluster scale the same dead state squats on
  *    executor-local disks; a tighter GC cadence is the standard
  *    mitigation and costs one minor driver GC every 2 min.
  *  - parquet TIMESTAMP(NANOS) read as raw int64: such a footer fails
  *    the scan outright otherwise, and this is what makes
  *    [[graft.Tables.normalizeTs]]'s LongType branch reachable (no-op
  *    for MICROS/NTZ files). Set here, once: a per-read `conf.set`
  *    mutates conf that concurrent clients of the session share.
  */
object Sessions {
  def builder(cores: Int): SparkSession.Builder =
    SparkSession.builder()
      .withExtensions(new graft.plans.GraftExtensions)
      .master(s"local[$cores]")
      .config("spark.sql.shuffle.partitions", cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
      .config("spark.cleaner.periodicGC.interval", "2min")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
}
