package graftbench

import scala.concurrent.Await
import scala.concurrent.duration._

import org.apache.spark.sql.{Column, DataFrame, Observation}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Order-insensitive result digest, computed in the same pass that
  * materializes a query: `observe` folds every output row into a row
  * count and two 32-bit halves of the summed row hashes, so checking
  * the result costs no second execution.
  *
  * Rows are normalized the way the DuckDB compare (`tools/check.py`)
  * normalizes them: columns in name order, floating values rounded to
  * 6 decimals (-0.0 folded into 0.0), NULL as a literal token, map
  * entries sorted by key. */
object Digest {
  private def norm(c: Column, t: DataType): Column = t match {
    case DoubleType | FloatType =>
      val r = round(c.cast(DoubleType), 6)
      when(r === 0, lit(0.0)).otherwise(r).cast(StringType)
    case ArrayType(DoubleType | FloatType, _) =>
      transform(c, x => round(x.cast(DoubleType), 6)).cast(StringType)
    case _: MapType => array_sort(map_entries(c)).cast(StringType)
    case _ => c.cast(StringType)
  }

  /** `df` with the digest observation attached. */
  def observed(df: DataFrame, obs: Observation): DataFrame = {
    val cols = df.schema.fields.zipWithIndex.sortBy { case (f, i) => (f.name, i) }
      .map { case (f, i) =>
        coalesce(norm(col(s"`__d$i`"), f.dataType), lit("\u0000NULL")) }
    // positional rename: results may carry duplicate column names
    val renamed = df.toDF(df.columns.indices.map(i => s"__d$i"): _*)
    val h = if (cols.isEmpty) lit(0L) else xxhash64(cols.toIndexedSeq: _*)
    val probe = renamed.observe(obs, count(lit(1)).as("n"),
      coalesce(sum(h.bitwiseAND(lit(0xffffffffL))), lit(0L)).as("lo"),
      coalesce(sum(shiftrightunsigned(h, 32)), lit(0L)).as("hi"))
    probe.toDF(df.columns.toIndexedSeq: _*)
  }

  /** `rows:hexdigest` once the observed action has finished. */
  def read(obs: Observation, timeout: FiniteDuration = 30.seconds): String = {
    val r = Await.result(obs.future, timeout)
    val (n, lo, hi) = (r.getAs[Long]("n"), r.getAs[Long]("lo"), r.getAs[Long]("hi"))
    // fold both 32-bit sums into one 64-bit value (carry out of the
    // low half is kept by the shift-add)
    val mixed = hi * 0x100000001b3L + lo
    f"$n:${mixed}%016x"
  }

  def rows(digest: String): Long = digest.takeWhile(_ != ':').toLong
}
