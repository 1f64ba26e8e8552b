package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.TernaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** Bounded top-k accumulator: the best `k` (score, id) pairs by
  * (score DESC, id ASC), kept in a size-k binary heap whose root is the
  * worst retained element.
  *
  * This is the data structure that makes distributed top-k a MAP-SIDE
  * aggregation: each input partition folds its rows into one ≤k-entry
  * buffer per group, so the shuffle carries `partitions × groups × k`
  * fixed-width entries instead of every scored row. Compare the window
  * (`row_number().over(partitionBy(q).orderBy(...))`) formulation, which
  * shuffles the ENTIRE scored input onto `|groups|` reducer tasks — the
  * 100×-scale straggler this aggregate exists to remove. Serializable,
  * so a kernel's per-partition heaps can tree-merge as task results.
  */
final class TopKBuffer(val k: Int) extends Serializable {
  var size: Int = 0
  val scores: Array[Double] = new Array[Double](k)
  val ids: Array[Long] = new Array[Long](k)

  /** Strict "worse than" under (score DESC, id ASC): lower score loses;
    * equal score, higher id loses — mirrors the row_number ordering the
    * windowed formulation used, so results are identical pair for pair.
    *
    * NaN orders as WORST (ties broken by id): raw IEEE comparisons all
    * return false for NaN, which would let a NaN heap root block every
    * later insertion AND hand sortWith a non-transitive comparator
    * (TimSort throws). Mapping NaN below -Inf keeps the order total.
    */
  private def rank(s: Double): Double =
    if (s != s) Double.NegativeInfinity else s

  private def worse(s1: Double, i1: Long, s2: Double, i2: Long): Boolean = {
    val a = rank(s1); val b = rank(s2)
    a < b || (a == b && i1 > i2)
  }

  private def swap(a: Int, b: Int): Unit = {
    val s = scores(a); scores(a) = scores(b); scores(b) = s
    val i = ids(a); ids(a) = ids(b); ids(b) = i
  }

  private def siftUp(start: Int): Unit = {
    var i = start
    while (i > 0 && worse(scores(i), ids(i), scores((i - 1) / 2), ids((i - 1) / 2))) {
      swap(i, (i - 1) / 2); i = (i - 1) / 2
    }
  }

  private def siftDown(start: Int): Unit = {
    var i = start
    var done = false
    while (!done) {
      val l = 2 * i + 1; val r = 2 * i + 2
      var m = i
      if (l < size && worse(scores(l), ids(l), scores(m), ids(m))) m = l
      if (r < size && worse(scores(r), ids(r), scores(m), ids(m))) m = r
      if (m == i) done = true else { swap(i, m); i = m }
    }
  }

  def insert(s: Double, id: Long): Unit =
    if (size < k) {
      scores(size) = s; ids(size) = id; size += 1; siftUp(size - 1)
    } else if (k > 0 && worse(scores(0), ids(0), s, id)) {
      scores(0) = s; ids(0) = id; siftDown(0)
    }

  def mergeFrom(other: TopKBuffer): Unit = {
    var i = 0
    while (i < other.size) { insert(other.scores(i), other.ids(i)); i += 1 }
  }

  /** Retained pairs ordered best-first: (score DESC, id ASC). */
  def sorted: Array[(Double, Long)] = {
    val out = new Array[(Double, Long)](size)
    var i = 0
    while (i < size) { out(i) = (scores(i), ids(i)); i += 1 }
    out.sortWith { case ((s1, i1), (s2, i2)) =>
      val a = rank(s1); val b = rank(s2)
      a > b || (a == b && i1 < i2)
    }
  }
}

/** `graft_topk(score DOUBLE, id BIGINT, k INT)` — bounded top-k
  * aggregate returning `ARRAY<STRUCT<score: DOUBLE, id: BIGINT>>`
  * ordered by (score DESC, id ASC), at most `k` entries.
  *
  * Partial aggregation is the point: Spark plans TypedImperativeAggregate
  * through ObjectHashAggregate with a map-side partial pass, so per-group
  * per-partition state is one ≤k-entry heap and the exchange moves
  * serialized heaps, never rows. Scoring below stays in whole-stage
  * codegen (the aggregate consumes the codegen'd scan's output); the
  * heap itself is plain JVM arrays — no boxing, no per-row allocation.
  *
  * Longs cast to DOUBLE for the score are exact below 2^53, far above
  * any int8-dot magnitude (dim × 127² ≈ 2^26 at dim 4096), so quantized
  * scores order identically to their integer originals.
  */
case class TopKByScore(
    first: Expression,
    second: Expression,
    third: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[TopKBuffer] with TernaryLike[Expression] {

  private lazy val k: Int = third.eval().asInstanceOf[Number].intValue()

  override def prettyName: String = "graft_topk"
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("score", DoubleType, nullable = false),
    StructField("id", LongType, nullable = false))), containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    if (first.dataType != DoubleType)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a DOUBLE score, got ${first.dataType.sql}")
    else if (second.dataType != LongType)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a BIGINT id, got ${second.dataType.sql}")
    else if (third.dataType != IntegerType || !third.foldable ||
        third.eval() == null)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires a non-null literal INT k, got ${third.sql}")
    else if (k <= 0)
      TypeCheckResult.TypeCheckFailure(s"$prettyName requires k > 0, got $k")
    else TypeCheckResult.TypeCheckSuccess

  override def createAggregationBuffer(): TopKBuffer = new TopKBuffer(k)

  override def update(buffer: TopKBuffer, input: InternalRow): TopKBuffer = {
    val s = first.eval(input)
    val id = second.eval(input)
    if (s != null && id != null)
      buffer.insert(s.asInstanceOf[Double], id.asInstanceOf[Long])
    buffer
  }

  override def merge(buffer: TopKBuffer, other: TopKBuffer): TopKBuffer = {
    buffer.mergeFrom(other); buffer
  }

  override def eval(buffer: TopKBuffer): Any =
    new GenericArrayData(buffer.sorted.map { case (s, id) =>
      new GenericInternalRow(Array[Any](s, id))
    })

  override def serialize(buffer: TopKBuffer): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + buffer.size * 16)
    bb.putInt(buffer.size)
    var i = 0
    while (i < buffer.size) {
      bb.putDouble(buffer.scores(i)); bb.putLong(buffer.ids(i)); i += 1
    }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): TopKBuffer = {
    val bb = ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val buf = new TopKBuffer(k)
    var i = 0
    while (i < n) { buf.insert(bb.getDouble, bb.getLong); i += 1 }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): TopKByScore =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): TopKByScore =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression): Expression =
    copy(first = newFirst, second = newSecond, third = newThird)
}
