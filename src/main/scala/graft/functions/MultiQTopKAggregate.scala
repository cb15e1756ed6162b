package graft.functions

import java.nio.ByteBuffer
import java.util.Base64

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Fused brute-force multi-query top-k: ONE corpus pass scores every
  * vector against ALL Q query vectors and maintains Q bounded
  * [[TopKHeap]]s — `graft_multiq_topk(vec_id, embedding, 'blob', k)`.
  *
  * Why not the crossJoin form ([[graft.operators.Similarity]]'s original
  * plan — corpus × broadcast(queries) → `graft_dot` → `graft_topk`):
  * the broadcast nested-loop join MATERIALIZES |corpus|·Q joined rows
  * before the dot ever runs, and that per-pair row assembly is
  * dimension-INDEPENDENT overhead — measured at d=512/Q=100/128k
  * vectors it dominated the flops so thoroughly that an 8× flop cut
  * bought only ~2× wall (SURVEY §8.-9, WideEmb at commit 1451c40). Here no joined
  * row ever exists: the aggregate reads each corpus row once, runs the
  * Q dot products over primitive arrays, and only Q·k-element heap
  * buffers cross the shuffle (ObjectHashAggregate partial → final, the
  * graft_topk discipline at Q heaps per buffer).
  *
  * Scores are bit-identical to the join form by construction: the same
  * ascending-index dot accumulation as [[DotProduct]], norms as
  * `sqrt(dot(v,v))` over the double-widened elements, and the final
  * `dot / (nrmV * nrmQ)` in the same operation order, feeding the same
  * heap ordering (score desc, id asc; NaN totally-ordered greatest) —
  * so [[graft.operators.Similarity.cosineTopKForQueries]] swapped its
  * plan without its oracle moving.
  *
  * The query set (ids + double-widened vectors) travels as ONE
  * Base64-encoded binary literal ([[MultiQTopK.encodeQueries]]) — the
  * BpeApply parameter discipline; at Q=100, d=512 that is ~550 KB of
  * plan, shipped once per task. Rows whose vec_id equals a query's id
  * are skipped for that query (self-match exclusion). Output: one
  * array of (query_id, rank, neighbor_id, cos_sim) structs, rank 1..k
  * best-first per query; callers explode it.
  */
case class MultiQTopK(
    id: Expression,
    vec: Expression,
    queriesB64: String,
    k: Int,
    zeroScore: Double = Double.NaN,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[TopKHeap]] {
  require(k > 0, s"k must be positive, got $k")

  @transient private lazy val (qids: Array[Long], qvecs: Array[Array[Double]]) =
    MultiQTopK.decodeQueries(queriesB64)
  @transient private lazy val qnrms: Array[Double] = qvecs.map { qv =>
    var acc = 0.0; var i = 0
    while (i < qv.length) { acc += qv(i) * qv(i); i += 1 }
    math.sqrt(acc)
  }
  @transient private lazy val vecIsFloat: Boolean = vec.dataType match {
    case ArrayType(FloatType, _) => true
    case ArrayType(DoubleType, _) => false
    case other => throw new IllegalArgumentException(
      s"graft_multiq_topk vector must be array<float|double>, got $other")
  }

  override def prettyName: String = "graft_multiq_topk"
  override def children: Seq[Expression] = Seq(id, vec)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("query_id", LongType, nullable = false),
    StructField("rank", LongType, nullable = false),
    StructField("neighbor_id", LongType, nullable = false),
    StructField("cos_sim", DoubleType, nullable = false))), containsNull = false)

  override def createAggregationBuffer(): Array[TopKHeap] =
    Array.fill(qids.length)(new TopKHeap(k))

  override def update(buf: Array[TopKHeap], input: InternalRow): Array[TopKHeap] = {
    val idRaw = id.eval(input)
    val vRaw = vec.eval(input)
    if (idRaw != null && vRaw != null) {
      val rowId = idRaw match {
        case l: java.lang.Long => l.longValue()
        case n: java.lang.Integer => n.longValue()
        case other => throw new IllegalArgumentException(
          s"graft_multiq_topk id must be integral, got ${other.getClass.getName}")
      }
      val ad = vRaw.asInstanceOf[ArrayData]
      // widen once per row into a primitive buffer: the same elementwise
      // double widening normed() applies, off the hot q-loop
      val d = ad.numElements()
      val v = new Array[Double](d)
      var i = 0
      if (vecIsFloat) while (i < d) { v(i) = ad.getFloat(i).toDouble; i += 1 }
      else while (i < d) { v(i) = ad.getDouble(i); i += 1 }
      var nacc = 0.0
      i = 0
      while (i < d) { nacc += v(i) * v(i); i += 1 }
      val nrmV = math.sqrt(nacc)
      var q = 0
      while (q < qids.length) {
        if (qids(q) != rowId) {
          // a zero norm always yields 0/0 = NaN from the division (the
          // dot is 0 too), so the NaN default IS the plain-arithmetic
          // behavior; matryoshka's stage 1 passes -1.0 to preserve its
          // documented zero-prefix-sorts-last contract
          val qv = qvecs(q)
          // strict width check, mirroring graft_dot (ADVICE r15): a
          // prefix dot over ragged data is a plausible-looking wrong
          // cosine, not a recoverable answer — and both branches of the
          // size-gated rank path must fail the same way for the
          // implicit branch flip to be invisible. Checked BEFORE the
          // zero-norm short-circuit: graft_dot throws on a ragged
          // zero-norm pair too, so parity requires the check first.
          if (d != qv.length) {
            throw new IllegalArgumentException(
              s"graft_multiq_topk: corpus vector width $d != query " +
                s"width ${qv.length} (query id ${qids(q)}) — ragged " +
                "embedding data")
          }
          val score =
            if (nrmV == 0.0 || qnrms(q) == 0.0) zeroScore
            else {
              var acc = 0.0
              i = 0
              while (i < d) { acc += v(i) * qv(i); i += 1 }
              acc / (nrmV * qnrms(q))
            }
          buf(q).insert(score, rowId)
        }
        q += 1
      }
    }
    buf
  }

  override def merge(buf: Array[TopKHeap], other: Array[TopKHeap]): Array[TopKHeap] = {
    var q = 0
    while (q < buf.length) { buf(q).mergeFrom(other(q)); q += 1 }
    buf
  }

  override def eval(buf: Array[TopKHeap]): Any = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Any]
    var q = 0
    while (q < buf.length) {
      val h = buf(q)
      val idx = h.sortedIndices()
      var r = 0
      while (r < idx.length) {
        out += InternalRow(qids(q), (r + 1).toLong, h.ids(idx(r)), h.scores(idx(r)))
        r += 1
      }
      q += 1
    }
    new GenericArrayData(out.toArray)
  }

  override def serialize(buf: Array[TopKHeap]): Array[Byte] = {
    val bb = ByteBuffer.allocate(4 + buf.map(8 + _.size * 16).sum)
    bb.putInt(buf.length)
    buf.foreach { h =>
      bb.putInt(h.k); bb.putInt(h.size)
      var i = 0
      while (i < h.size) { bb.putDouble(h.scores(i)); bb.putLong(h.ids(i)); i += 1 }
    }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Array[TopKHeap] = {
    val bb = ByteBuffer.wrap(bytes)
    val nq = bb.getInt
    Array.fill(nq) {
      val kk = bb.getInt; val n = bb.getInt
      val h = new TopKHeap(kk)
      var i = 0
      while (i < n) { val s = bb.getDouble; val d = bb.getLong; h.insert(s, d); i += 1 }
      h
    }
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): MultiQTopK =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): MultiQTopK =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): MultiQTopK =
    copy(id = newChildren(0), vec = newChildren(1))
}

object MultiQTopK {
  /** (qid, double-widened vector) pairs → one Base64 blob for the SQL
    * literal. Exact: raw IEEE-754 bits, no decimal round trip. */
  def encodeQueries(queries: Seq[(Long, Array[Double])]): String = {
    val dims = queries.map(_._2.length)
    val bb = ByteBuffer.allocate(4 + queries.map(16 + _._2.length * 8).sum)
    bb.putInt(queries.size)
    queries.foreach { case (qid, qv) =>
      bb.putLong(qid); bb.putInt(qv.length)
      qv.foreach(bb.putDouble)
    }
    Base64.getEncoder.encodeToString(bb.array())
  }

  def decodeQueries(b64: String): (Array[Long], Array[Array[Double]]) = {
    val bb = ByteBuffer.wrap(Base64.getDecoder.decode(b64))
    val nq = bb.getInt
    val ids = new Array[Long](nq)
    val vecs = new Array[Array[Double]](nq)
    var q = 0
    while (q < nq) {
      ids(q) = bb.getLong
      val d = bb.getInt
      val v = new Array[Double](d)
      var i = 0
      while (i < d) { v(i) = bb.getDouble; i += 1 }
      vecs(q) = v
      q += 1
    }
    (ids, vecs)
  }
}
