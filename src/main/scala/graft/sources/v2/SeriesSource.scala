package graft.sources.v2

import java.util

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.catalog.{SupportsRead, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Batch, InputPartition, PartitionReader, PartitionReaderFactory, Scan, ScanBuilder, SupportsPushDownFilters, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.sources.{Filter, GreaterThan, GreaterThanOrEqual, LessThan, LessThanOrEqual}
import org.apache.spark.sql.types.{DateType, LongType, StructField, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** DataSource V2 connector: a deterministic monthly-series GENERATOR
  * (`spark.read.format("graft-series")`) — the dsdgen-style source
  * that lets tests and benchmarks materialize a payroll-like series
  * of ANY length with zero input files, while exercising the full
  * connector surface a storage integration needs:
  *
  *   - `TableProvider` → `Table` → `ScanBuilder` wiring,
  *   - month-range **filter pushdown** ([[SupportsPushDownFilters]]):
  *     `month >=/>/<=/<` predicates prune whole generator splits at
  *     PLANNING time (the DSv2 analogue of partition pruning — the
  *     executor never even starts a pruned range),
  *   - **column pruning** ([[SupportsPushDownRequiredColumns]]): a
  *     `select(emp)` never materializes the date column,
  *   - split planning: `ceil(months / monthsPerSplit)` independent
  *     [[InputPartition]]s, each generating its month range on its
  *     executor — embarrassingly parallel, no driver bottleneck.
  *
  * Options: `months` (total rows), `startMonth` (first month,
  * `yyyy-MM-dd`, default 1990-01-01), `monthsPerSplit` (default 120).
  * The value formula is fixed and deterministic: base + trend +
  * seasonal + multiplicative-hash jitter, so any two reads (and the
  * spec's driver-side replay) agree exactly.
  */
class SeriesSource extends TableProvider
    with org.apache.spark.sql.sources.DataSourceRegister {
  override def shortName(): String = "graft-series"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    SeriesSource.schema

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new SeriesTable(new CaseInsensitiveStringMap(properties))
}

object SeriesSource {
  val schema: StructType = StructType(Seq(
    StructField("month", DateType, nullable = false),
    StructField("emp", LongType, nullable = false)))

  /** Deterministic value for month index i (0-based). */
  def empAt(i: Long): Long =
    10000L + i * 10L + (i * 2654435761L % 997L) +
      ((i % 12L) - 6L) * 37L

  /** Epoch days of `startDay` advanced by i months. */
  def monthEpochDay(startDay: Long, i: Long): Long =
    java.time.LocalDate.ofEpochDay(startDay).plusMonths(i).toEpochDay
}

private[v2] class SeriesTable(options: CaseInsensitiveStringMap)
    extends Table with SupportsRead {
  override def name(): String = "graft_series_generator"
  override def schema(): StructType = SeriesSource.schema
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(o: CaseInsensitiveStringMap): ScanBuilder =
    new SeriesScanBuilder(
      months = o.getLong("months", 480L),
      startDay = java.time.LocalDate
        .parse(o.getOrDefault("startMonth", "1990-01-01")).toEpochDay,
      perSplit = o.getLong("monthsPerSplit", 120L).toInt,
      perBatch = o.getLong("monthsPerBatch", 120L))
}

private[v2] class SeriesScanBuilder(months: Long, startDay: Long,
    perSplit: Int, perBatch: Long)
    extends ScanBuilder with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns {

  private var lo = 0L            // first month index still in range
  private var hi = months        // one past the last index in range
  private var accepted = Array.empty[Filter]
  private var required = SeriesSource.schema

  /** Month-range predicates tighten [lo, hi) at planning time; every
    * filter is ALSO returned as residual (Spark re-applies it), so a
    * predicate a split-boundary can't express exactly stays correct. */
  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    def dayOf(v: Any): Option[Long] = v match {
      case d: java.sql.Date => Some(d.toLocalDate.toEpochDay)
      case d: java.time.LocalDate => Some(d.toEpochDay)
      case _ => None
    }
    // first month index with epochDay >= d — binary search (months
    // ascend), so a billion-month table plans in ~30 probes
    def firstAtLeast(d: Long): Long = {
      var a = 0L; var b = months
      while (a < b) {
        val mid = (a + b) >>> 1
        if (SeriesSource.monthEpochDay(startDay, mid) < d) a = mid + 1
        else b = mid
      }
      a
    }
    accepted = filters.flatMap {
      case f @ GreaterThanOrEqual("month", v) =>
        dayOf(v).map { d => lo = math.max(lo, firstAtLeast(d)); f }
      case f @ GreaterThan("month", v) =>
        dayOf(v).map { d => lo = math.max(lo, firstAtLeast(d + 1)); f }
      case f @ LessThan("month", v) =>
        dayOf(v).map { d => hi = math.min(hi, firstAtLeast(d)); f }
      case f @ LessThanOrEqual("month", v) =>
        dayOf(v).map { d => hi = math.min(hi, firstAtLeast(d + 1)); f }
      case _ => None
    }
    filters // all residual: Spark re-applies exact semantics
  }
  override def pushedFilters(): Array[Filter] = accepted

  override def pruneColumns(requiredSchema: StructType): Unit = {
    required = requiredSchema
  }

  override def build(): Scan =
    new SeriesScan(startDay, math.min(lo, hi), hi, perSplit, perBatch, required)
}

private[v2] case class SeriesRange(startDay: Long, from: Long, until: Long,
    fields: Array[String]) extends InputPartition

private[v2] class SeriesScan(startDay: Long, lo: Long, hi: Long,
    perSplit: Int, perBatch: Long, required: StructType)
    extends Scan with Batch
    with org.apache.spark.sql.connector.read.SupportsReportStatistics {
  override def readSchema(): StructType = required
  override def toBatch: Batch = this

  /** Accurate row/byte statistics AFTER pushdown — without this a
    * DSv2 source defaults to `defaultSizeInBytes` (effectively
    * infinite), so a 12-row generated dimension would never broadcast
    * and every join against it would shuffle. Stats reflect the
    * pruned range, so a filtered slice plans like the small table it
    * is (broadcast choice asserted in `SeriesSourceSpec`). */
  override def estimateStatistics()
      : org.apache.spark.sql.connector.read.Statistics =
    new org.apache.spark.sql.connector.read.Statistics {
      private val rows = math.max(0L, hi - lo)
      override def sizeInBytes(): java.util.OptionalLong =
        java.util.OptionalLong.of(rows * 16L)
      override def numRows(): java.util.OptionalLong =
        java.util.OptionalLong.of(rows)
    }
  override def description(): String =
    s"graft-series range=[$lo, $hi) cols=${required.fieldNames.mkString(",")}"

  /** Streaming face: the same generator as an unbounded-style
    * micro-batch source — each trigger admits `monthsPerBatch` more
    * months until the range is exhausted, offsets are plain month
    * indices, and each batch's range splits exactly like the batch
    * scan. The replayability contract holds trivially: regenerating
    * [start, end) yields identical rows, so recovery from a
    * checkpointed offset is exact. */
  override def toMicroBatchStream(checkpointLocation: String)
      : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new SeriesMicroBatchStream(startDay, lo, hi, perSplit, perBatch, required)

  override def planInputPartitions(): Array[InputPartition] =
    Iterator.range(lo, hi, perSplit.toLong)
      .map(f => SeriesRange(startDay, f, math.min(hi, f + perSplit),
        required.fieldNames): InputPartition)
      .toArray

  override def createReaderFactory(): PartitionReaderFactory =
    SeriesReaderFactory
}

private[v2] object SeriesReaderFactory extends PartitionReaderFactory {
  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val r = p.asInstanceOf[SeriesRange]
    new PartitionReader[InternalRow] {
      private var i = r.from - 1
      override def next(): Boolean = { i += 1; i < r.until }
      override def get(): InternalRow = {
        // explicit boxing: a bare match would WIDEN the Int
        // branch to Long (weak conformance) and break DateType
        val vals: Array[Any] = r.fields.map[Any] {
          case "month" =>
            // DateType is days-since-epoch at the InternalRow level
            Int.box(SeriesSource.monthEpochDay(r.startDay, i).toInt)
          case "emp" => Long.box(SeriesSource.empAt(i))
        }
        InternalRow.fromSeq(vals.toIndexedSeq)
      }
      override def close(): Unit = ()
    }
  }
}

/** Micro-batch stream over the generator: offsets are month indices;
  * `latestOffset` admits [[perBatch]] more months per trigger, so a
  * bounded option set still exercises multi-batch incremental
  * processing (and an unbounded one would run forever, like `rate`). */
private[v2] class SeriesMicroBatchStream(startDay: Long, lo: Long, hi: Long,
    perSplit: Int, perBatch: Long, required: StructType)
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream {
  import org.apache.spark.sql.connector.read.streaming.Offset

  private case class MonthOffset(i: Long) extends Offset {
    override def json(): String = i.toString
  }

  @volatile private var admitted = lo

  override def initialOffset(): Offset = MonthOffset(lo)
  override def deserializeOffset(json: String): Offset =
    MonthOffset(json.toLong)
  override def latestOffset(): Offset = {
    admitted = math.min(hi, admitted + perBatch)
    MonthOffset(admitted)
  }
  override def commit(end: Offset): Unit = ()
  override def stop(): Unit = ()

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s = start.asInstanceOf[MonthOffset].i
    val e = end.asInstanceOf[MonthOffset].i
    Iterator.range(s, e, perSplit.toLong)
      .map(f => SeriesRange(startDay, f, math.min(e, f + perSplit),
        required.fieldNames): InputPartition)
      .toArray
  }

  override def createReaderFactory(): PartitionReaderFactory =
    SeriesReaderFactory
}
