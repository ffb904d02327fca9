package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.GraftShims
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.types._

/** Bounded per-group top-k by (score DESC, id ASC) — the
  * aggregate-before-shuffle form of a `row_number` window over a
  * (score, id) stream: a window must shuffle and sort the ENTIRE
  * pre-ranking stream to line each group up in one partition, while
  * this aggregate's map-side partial merge caps the exchange at k
  * entries per (group, map partition). For the k-NN graph that is the
  * difference between shuffling every celled candidate pair twice and
  * shuffling k·|groups touched| skinny structs.
  *
  * The buffer is two parallel arrays kept sorted best-first
  * (insertion sort — k is single-digit; no heap indirection).
  * (score DESC, id ASC) over distinct ids is a TOTAL order, so the
  * selected set and its emitted order are bit-identical to the
  * window's `row_number` selection. Null scores/ids are ignored (the
  * candidate streams this serves never produce them).
  *
  * Output: `array<struct<score double, id long>>` ordered best-first;
  * `posexplode` + `pos + 1` reproduces the window's rank column.
  */
case class TopKByScore(
    score: Expression,
    id: Expression,
    k: Int,
    override val mutableAggBufferOffset: Int = 0,
    override val inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[TopKByScore.Buf]
  with BinaryLike[Expression]
  with org.apache.spark.sql.catalyst.expressions.ExpectsInputTypes {

  require(k > 0, "top-k needs k > 0")

  override def left: Expression = score
  override def right: Expression = id
  // analysis-time type check (r13 ADVICE): a float/int/decimal caller
  // previously failed at RUNTIME with a ClassCastException in update()
  override def inputTypes = Seq(DoubleType, LongType)
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("score", DoubleType, nullable = false),
    StructField("id", LongType, nullable = false))), containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "top_k_by_score"

  override def createAggregationBuffer(): TopKByScore.Buf =
    new TopKByScore.Buf(new Array[Double](k), new Array[Long](k), 0)

  // strictly better = higher score, ties to the SMALLER id. The
  // comparison is Spark's sort order for DoubleType
  // (SQLOrderingUtil.compareDoubles): NaN is the GREATEST double and
  // -0.0 EQUALS 0.0, so the aggregate stays bit-identical to the
  // row_number window it replaced even on degenerate scores (a
  // zero-norm vector's cosine is NaN). Primitive >/== ranks NaN
  // worst; bare java.lang.Double.compare puts -0.0 below 0.0 and
  // skips the id tie-break between them.
  private def better(s1: Double, i1: Long, s2: Double, i2: Long): Boolean = {
    val c = if (s1 == s2) 0 else java.lang.Double.compare(s1, s2)
    c > 0 || (c == 0 && i1 < i2)
  }

  private def insert(b: TopKByScore.Buf, s: Double, i: Long): Unit = {
    if (b.n == k && !better(s, i, b.scores(k - 1), b.ids(k - 1))) return
    // position of the first kept entry NOT better than (s, i)
    var p = if (b.n == k) k - 1 else b.n
    while (p > 0 && better(s, i, b.scores(p - 1), b.ids(p - 1))) p -= 1
    var q = math.min(b.n, k - 1)
    while (q > p) {
      b.scores(q) = b.scores(q - 1); b.ids(q) = b.ids(q - 1); q -= 1
    }
    b.scores(p) = s; b.ids(p) = i
    if (b.n < k) b.n += 1
  }

  override def update(b: TopKByScore.Buf, input: InternalRow): TopKByScore.Buf = {
    val sv = score.eval(input)
    val iv = id.eval(input)
    if (sv != null && iv != null)
      insert(b, sv.asInstanceOf[Double], iv.asInstanceOf[Long])
    b
  }

  override def merge(b1: TopKByScore.Buf, b2: TopKByScore.Buf): TopKByScore.Buf = {
    var j = 0
    while (j < b2.n) { insert(b1, b2.scores(j), b2.ids(j)); j += 1 }
    b1
  }

  override def eval(b: TopKByScore.Buf): Any = {
    val rows = new Array[Any](b.n)
    var j = 0
    while (j < b.n) {
      rows(j) = InternalRow(b.scores(j), b.ids(j)); j += 1
    }
    new GenericArrayData(rows): ArrayData
  }

  override def serialize(b: TopKByScore.Buf): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(4 + 16 * b.n)
    bb.putInt(b.n)
    var j = 0
    while (j < b.n) { bb.putDouble(b.scores(j)); bb.putLong(b.ids(j)); j += 1 }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): TopKByScore.Buf = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val n = bb.getInt()
    val b = createAggregationBuffer()
    var j = 0
    while (j < n) { b.scores(j) = bb.getDouble(); b.ids(j) = bb.getLong(); j += 1 }
    b.n = n
    b
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKByScore =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopKByScore =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): TopKByScore =
    copy(score = newLeft, id = newRight)
}

object TopKByScore {
  /** Mutable bounded buffer: parallel (score, id) arrays sorted
    * best-first, `n` valid entries. */
  final class Buf(val scores: Array[Double], val ids: Array[Long], var n: Int)

  /** Column-API entry point: per-group top-`k` (score DESC, id ASC)
    * as `array<struct<score, id>>`, best-first. */
  def topKByScore(score: Column, id: Column, k: Int): Column =
    GraftShims.column(
      TopKByScore(GraftShims.expression(score), GraftShims.expression(id), k)
        .toAggregateExpression())
}
