package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graft.ColumnBridge
import org.apache.spark.sql.types._

/** Fused ADC top-k scan for [[graft.ops.Similarity.pqTopK]]: ONE
  * aggregate over the corpus codes that scores every collected query
  * against each (neighbor_id, pq_code) row and keeps a k-bounded
  * [[TopKPairsBuffer]] per query.
  *
  * What it replaces: codes BROADCAST-NESTED-LOOP-join queries (Q
  * joined rows materialized per corpus row, each through the join's
  * condition eval + projection) feeding the ranking aggregate — at
  * 1M codes × 100 queries the row machinery alone measured ~200 ns
  * per pair (~20 s of CPU). Here the inner Q-loop runs inside one
  * aggregate update with the LUTs held as a plain double[][]: a few
  * array loads and one heap comparison per pair.
  *
  * Semantics are EXACTLY the unfused pipeline's, and the risky part
  * is not reimplemented: the per-query LUT values are collected from
  * the same Spark-evaluated `pqLut` projection the broadcast would
  * have carried. This kernel replays only
  *  - the ADC sum `lut[j*codebookSize + code_j]` summed left-to-right
  *    in j order (IEEE addition order preserved),
  *  - the `query_id =!= neighbor_id` exclude-self filter (null-safe:
  *    a null neighbor_id never equals and IS dropped by the filter's
  *    null semantics when excludeSelf, kept when not),
  *  - null propagation: a null `pq_code` (or null element) makes the
  *    sim null for every query, exactly like `element_at` on a null
  *    array — the pair still ranks (nulls last).
  * The (sim desc, id asc) ordering and rank assignment live in
  * [[TopKPairsBuffer]], already fuzz-pinned against the row_number
  * window.
  *
  * Output: array<struct<query_id: bigint, neighbor_id: bigint,
  * sim: double, rank: int>> — per query (in the collected order) its
  * ranked top-k run, rank = 1-based position within the query's run
  * (what row_number assigned in the unfused window form).
  */
object PqAdcTopK {

  /** One collected query: id + its flattened m·codebookSize LUT. */
  final case class Query(id: Long, lut: Array[Double])

  def of(id: Column, code: Column, queries: Seq[Query], k: Int, m: Int,
      codebookSize: Int, excludeSelf: Boolean): Column =
    ColumnBridge.column(PqAdcTopKAgg(
      ColumnBridge.expression(id), ColumnBridge.expression(code),
      queries.map(_.id), queries.map(_.lut.toSeq),
      k, m, codebookSize, excludeSelf).toAggregateExpression())
}

/** Buffer: one [[TopKPairsBuffer]] per collected query. */
final class PqTopKState(val heaps: Array[TopKPairsBuffer])

case class PqAdcTopKAgg(
    left: Expression, // neighbor_id: long
    right: Expression, // pq_code: array<int>
    queryIds: Seq[Long],
    luts: Seq[Seq[Double]], // value-equal fields keep canonicalization
    k: Int,
    m: Int,
    codebookSize: Int,
    excludeSelf: Boolean,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[PqTopKState]
  with BinaryLike[Expression] {

  require(luts.length == queryIds.length, "queryIds/luts must align")
  require(luts.forall(_.length == m * codebookSize),
    s"each LUT must be m*codebookSize = ${m * codebookSize} long")

  @transient private lazy val qIds: Array[Long] = queryIds.toArray
  @transient private lazy val qLuts: Array[Array[Double]] =
    luts.map(_.toArray).toArray

  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == LongType &&
        right.dataType.isInstanceOf[ArrayType] &&
        right.dataType.asInstanceOf[ArrayType].elementType == IntegerType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"pq_adc_topk wants (BIGINT id, ARRAY<INT> code), got " +
        s"(${left.dataType.sql}, ${right.dataType.sql})")

  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("query_id", LongType),
      StructField("neighbor_id", LongType),
      StructField("sim", DoubleType),
      StructField("rank", IntegerType))),
    containsNull = false)
  override def nullable: Boolean = false
  override def prettyName: String = "pq_adc_topk"

  override def createAggregationBuffer(): PqTopKState =
    new PqTopKState(Array.fill(queryIds.length)(new TopKPairsBuffer(k)))

  override def update(state: PqTopKState, input: InternalRow): PqTopKState = {
    val idV = left.eval(input)
    val codeV = right.eval(input)
    val idNull = idV == null
    val id = if (idNull) 0L else idV.asInstanceOf[Long]
    // decode the code array once per row
    var simNull = codeV == null
    val codes = new Array[Int](m)
    if (!simNull) {
      val arr = codeV.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      require(arr.numElements() >= m,
        s"pq_code has ${arr.numElements()} elements, expected >= $m")
      var j = 0
      while (j < m && !simNull) {
        if (arr.isNullAt(j)) simNull = true
        else {
          val c = arr.getInt(j)
          // the unfused plan's range check (Similarity.pqAdc) raises
          // this same message: fail loudly, never diverge
          if (c < 0 || c >= codebookSize) throw new IllegalArgumentException(
            s"pq_code[$j] = $c outside codebook [0, $codebookSize)")
          codes(j) = c
        }
        j += 1
      }
    }
    var q = 0
    val nq = qIds.length
    while (q < nq) {
      // query_id =!= neighbor_id: null neighbor => null condition =>
      // row filtered out under excludeSelf (replicated by the skip)
      if (!(excludeSelf && (idNull || qIds(q) == id))) {
        if (simNull) {
          state.heaps(q).insert(0.0, id,
            (1 | (if (idNull) 2 else 0)).toByte)
        } else {
          val lut = qLuts(q)
          var s = 0.0
          var j = 0
          while (j < m) { s += lut(j * codebookSize + codes(j)); j += 1 }
          state.heaps(q).insert(s, id, (if (idNull) 2 else 0).toByte)
        }
      }
      q += 1
    }
    state
  }

  override def merge(a: PqTopKState, b: PqTopKState): PqTopKState = {
    var i = 0
    while (i < a.heaps.length) { a.heaps(i).merge(b.heaps(i)); i += 1 }
    a
  }

  override def eval(state: PqTopKState): Any = {
    val out = scala.collection.mutable.ArrayBuffer.empty[Any]
    var q = 0
    while (q < state.heaps.length) {
      val h = state.heaps(q)
      val order = h.rankedOrder()
      var i = 0
      while (i < order.length) {
        val j = order(i)
        out += new GenericInternalRow(Array[Any](
          qIds(q),
          if ((h.flags(j) & 2) != 0) null else h.ids(j),
          if ((h.flags(j) & 1) != 0) null else h.sims(j),
          i + 1))
        i += 1
      }
      q += 1
    }
    new GenericArrayData(out.toArray)
  }

  override def serialize(state: PqTopKState): Array[Byte] = {
    val sizes = state.heaps.map(_.size)
    val bb = java.nio.ByteBuffer.allocate(4 + sizes.map(4 + 17 * _).sum)
    bb.putInt(state.heaps.length)
    state.heaps.foreach { h =>
      bb.putInt(h.size)
      var i = 0
      while (i < h.size) {
        bb.putDouble(h.sims(i)); bb.putLong(h.ids(i)); bb.put(h.flags(i))
        i += 1
      }
    }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): PqTopKState = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val heaps = Array.fill(n)(new TopKPairsBuffer(k))
    var q = 0
    while (q < n) {
      val sz = bb.getInt
      var i = 0
      while (i < sz) { heaps(q).insert(bb.getDouble, bb.getLong, bb.get); i += 1 }
      q += 1
    }
    new PqTopKState(heaps)
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): PqAdcTopKAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): PqAdcTopKAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): PqAdcTopKAgg =
    copy(left = newLeft, right = newRight)
}
