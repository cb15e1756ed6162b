package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Count-Min sketch state (Cormode & Muthukrishnan, "An improved data
  * stream summary: the count-min sketch and its applications", J.
  * Algorithms 2005): a `depth × width` counter matrix; row r of an item
  * increments cell `fold31("cms:r:" + item) mod width`. Point estimate =
  * min over rows — always ≥ the true count, over by at most 2n/width
  * with probability 1 − 2^−depth.
  *
  * Unlike Misra-Gries (whose residual counts depend on merge order), the
  * CMS matrix is a SUM: merges are element-wise adds, so the final
  * matrix — and every estimate read from it — is a pure function of the
  * input multiset, independent of partitioning and merge order. With the
  * row hashes on the portable mod-2³¹ fold, the entire matrix is
  * replayable in SQL cell by cell, which is what makes the t55 gate a
  * hash gate rather than a tolerance check.
  *
  * Public (not nested in the aggregate) so serialized buffers reference
  * a stable class. */
final class CMSMatrix(val depth: Int, val width: Int) {
  val counts = new Array[Long](depth * width)

  def add(item: String, w: Long): Unit = {
    var r = 0
    while (r < depth) {
      counts(r * width + CMSMatrix.cell(item, r, width)) += w
      r += 1
    }
  }

  def mergeFrom(other: CMSMatrix): Unit = {
    var i = 0
    while (i < counts.length) { counts(i) += other.counts(i); i += 1 }
  }
}

object CMSMatrix {
  /** Row-r column of an item: the engine-portable fold over the salted
    * key — ONE definition, mirrored by the oracle's foldSql over the
    * identical salt layout. */
  def cell(item: String, row: Int, width: Int): Int =
    (Fold31.fold(UTF8String.fromString(s"cms:$row:$item")) % width).toInt
}

/** `graft_cms_sketch_w(token, weight, depth, width)` — per-group
  * Count-Min counter matrix as `array<bigint>` (row-major, length
  * depth·width): row r of an item adds `weight` to its cell. Runs
  * inside ObjectHashAggregate with map-side partials: each partition
  * carries one fixed-size matrix regardless of domain size, merges are
  * element-wise adds. Bounded state is the whole point at 100 TB: the
  * domain-sized exact frequency table never materializes — depth·width
  * longs summarize any number of distinct tokens.
  *
  * `graft_cms_sketch(token, depth, width)` is this aggregate at weight
  * 1 (registered in [[GraftExpressions]]). Because every cell is a plain
  * integer SUM, folding a pre-aggregated (key, freq) table through the
  * weighted form is bit-identical to folding each raw row at weight 1 —
  * the algebra that lets [[graft.operators.Frequency.cmsJoinSize]]
  * build its matrices from the exact frequency frames it needs anyway,
  * instead of re-scanning the raw side per matrix. Null keys are
  * skipped; null weights contribute nothing. */
case class CMSketchWeighted(
    child: Expression,
    weight: Expression,
    depth: Int,
    width: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[CMSMatrix] {
  require(depth > 0, s"depth must be positive, got $depth")
  require(width > 1, s"width must exceed 1, got $width")

  override def prettyName: String = "graft_cms_sketch_w"
  override def children: Seq[Expression] = Seq(child, weight)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def createAggregationBuffer(): CMSMatrix = new CMSMatrix(depth, width)

  override def update(buf: CMSMatrix, input: InternalRow): CMSMatrix = {
    child.eval(input) match {
      case null =>
      case s: UTF8String => weight.eval(input) match {
        case null =>
        // .toString copies out of Spark's reused row buffer — mandatory
        case w: java.lang.Long => buf.add(s.toString, w.longValue())
        case other => throw new IllegalArgumentException(
          s"graft_cms_sketch_w weight must be a bigint, got ${other.getClass.getName}")
      }
      case other => throw new IllegalArgumentException(
        s"graft_cms_sketch_w input must be a string, got ${other.getClass.getName}")
    }
    buf
  }

  override def merge(buf: CMSMatrix, other: CMSMatrix): CMSMatrix = {
    buf.mergeFrom(other); buf
  }

  override def eval(buf: CMSMatrix): Any =
    new GenericArrayData(buf.counts.map(java.lang.Long.valueOf).asInstanceOf[Array[Any]])

  override def serialize(buf: CMSMatrix): Array[Byte] = {
    val bb = ByteBuffer.allocate(8 + 8 * buf.counts.length)
    bb.putInt(buf.depth); bb.putInt(buf.width)
    buf.counts.foreach(bb.putLong)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): CMSMatrix = {
    val bb = ByteBuffer.wrap(bytes)
    val m = new CMSMatrix(bb.getInt, bb.getInt)
    var i = 0
    while (i < m.counts.length) { m.counts(i) = bb.getLong; i += 1 }
    m
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): CMSketchWeighted =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): CMSketchWeighted =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): CMSketchWeighted =
    copy(child = newChildren(0), weight = newChildren(1))
}
