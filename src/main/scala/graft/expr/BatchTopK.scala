package graft.expr

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, RowOrdering, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData, TypeUtils}
import org.apache.spark.sql.types._

/** Bounded max-heap on (rank, id): keeps the k smallest (rank, id)
  * pairs with Spark SQL's exact ordering semantics — doubles compare
  * like `ORDER BY rank ASC` (`-0.0 == 0.0`, NaN sorts last:
  * `if (a == b) 0 else Double.compare(a, b)`), ties break by `idOrd`,
  * Spark's own interpreted ordering of the id type (for strings the
  * BINARY UTF-8 order of `UTF8String`) — so a heap cut is bit-identical
  * to `ORDER BY (rank, id) LIMIT k` for any orderable id type. Each
  * entry may carry a payload (a row's result columns) that rides along
  * but is never compared. The distributed twin of
  * [[graft.index.FlatIndex.BoundedRankHeap]] (which holds Java Strings;
  * this one stays in Spark's internal representation). */
final class TopKHeap(val k: Int, val idOrd: Ordering[Any]) extends Serializable {
  /** String-id heap (the canonical collection schema). */
  def this(k: Int) = this(k, TypeUtils.getInterpretedOrdering(StringType))

  // arrays grow geometrically up to k: a heap that never sees k entries
  // (small partitions, grouped two-level merges) must not pay k slots
  // up front — a grouped aggregate holds one buffer PER (partition,
  // group) and eager nq*k slots per buffer multiply into GBs
  private var cap = math.min(math.max(k, 1), 16)
  private var ranks = new Array[Double](cap)
  private var raws = new Array[Double](cap)
  private var ids = new Array[AnyRef](cap)
  private var pays = new Array[AnyRef](cap)
  private var n = 0

  private def grow(): Unit = {
    cap = math.min(math.max(k, 1), cap * 2)
    ranks = java.util.Arrays.copyOf(ranks, cap)
    raws = java.util.Arrays.copyOf(raws, cap)
    ids = java.util.Arrays.copyOf(ids, cap)
    pays = java.util.Arrays.copyOf(pays, cap)
  }

  private def cmpRank(a: Double, b: Double): Int =
    if (a == b) 0 else java.lang.Double.compare(a, b)

  private def worse(r1: Double, id1: Any, r2: Double, id2: Any): Boolean = {
    val c = cmpRank(r1, r2)
    c > 0 || (c == 0 && idOrd.compare(id1, id2) > 0)
  }

  def size: Int = n

  /** Whether an entry at (rank, id) would enter the heap. Only reads
    * `id`, so the caller may pass a value that still points into a
    * reused input buffer and copy it once admitted. */
  def admits(rank: Double, id: Any): Boolean =
    k > 0 && (n < k || worse(ranks(0), ids(0), rank, id))

  def offer(rank: Double, raw: Double, id: Any, payload: Any = null): Unit =
    if (admits(rank, id)) insert(rank, raw, id, payload)

  /** Adds an entry [[admits]] accepted; `id` and `payload` must be owned
    * (copied out of any reused buffer). */
  def insert(rank: Double, raw: Double, idv: Any, payload: Any): Unit = {
    val id = idv.asInstanceOf[AnyRef]
    val pay = payload.asInstanceOf[AnyRef]
    if (n < k) {
      if (n == cap) grow()
      ranks(n) = rank; raws(n) = raw; ids(n) = id; pays(n) = pay
      n += 1
      siftUp(n - 1)
    } else {
      ranks(0) = rank; raws(0) = raw; ids(0) = id; pays(0) = pay
      siftDown(0)
    }
  }

  private def siftUp(i0: Int): Unit = {
    var i = i0
    while (i > 0) {
      val p = (i - 1) / 2
      if (worse(ranks(i), ids(i), ranks(p), ids(p))) { swap(i, p); i = p }
      else return
    }
  }

  private def siftDown(i0: Int): Unit = {
    var i = i0
    while (true) {
      val l = 2 * i + 1; val r = l + 1
      var worst = i
      if (l < n && worse(ranks(l), ids(l), ranks(worst), ids(worst))) worst = l
      if (r < n && worse(ranks(r), ids(r), ranks(worst), ids(worst))) worst = r
      if (worst == i) return
      swap(i, worst); i = worst
    }
  }

  private def swap(i: Int, j: Int): Unit = {
    val tr = ranks(i); ranks(i) = ranks(j); ranks(j) = tr
    val tw = raws(i); raws(i) = raws(j); raws(j) = tw
    val ti = ids(i); ids(i) = ids(j); ids(j) = ti
    val tp = pays(i); pays(i) = pays(j); pays(j) = tp
  }

  def foreachEntry(f: (Double, Double, Any, Any) => Unit): Unit = {
    var i = 0
    while (i < n) { f(ranks(i), raws(i), ids(i), pays(i)); i += 1 }
  }

  /** (id, raw, rank, payload) sorted by (rank asc, id asc). */
  def sorted: Array[(Any, Double, Double, Any)] = {
    val out = Array.tabulate[(Any, Double, Double, Any)](n)(i =>
      (ids(i), raws(i), ranks(i), pays(i)))
    scala.util.Sorting.stableSort(out,
      (a: (Any, Double, Double, Any), b: (Any, Double, Double, Any)) => {
        val c = cmpRank(a._3, b._3)
        c < 0 || (c == 0 && idOrd.compare(a._1, b._1) < 0)
      })
    out
  }
}

/** Per-query bounded top-k over (id, distances[nq]) rows —
  * [[graft.index.FlatIndex.searchMany]]'s heap-scan batch algorithm as
  * a Catalyst `TypedImperativeAggregate`: each partition keeps nq
  * bounded heaps as its partial aggregation buffer (ObjectHashAggregate
  * map-side combine), the merge unions heap contents, and the final row
  * holds every query's top k. No (rows × queries) pair row is ever
  * materialized and nothing is sorted beyond the nq*k winners — the
  * shape that beats a window cut's per-partition sort of the exploded
  * triples by the sort's log factor and its full row traffic.
  *
  * Output: `array<struct<qi int, id <idType>, raw double[, payload]>>`,
  * each query's entries in (rank, id)-ascending order — bit-identical
  * to `ORDER BY rank, id LIMIT k` per query (the heap comparator
  * replicates Spark's double ordering and breaks ties by Spark's own
  * ordering of the id type; rank =
  * [[VectorKernels.rankValue]] of `raw`, the same scalar
  * `Search.rankCol` computes). Any id type `ORDER BY` accepts works —
  * long web-scale doc ids, decimals, binaries and structs take the same
  * one-scan plan as the canonical string schema. Rows with a NULL id or
  * NULL distance array contribute nothing (a validated collection has
  * neither).
  *
  * `payloadExpr` (optional, any type — maps included, since it is
  * never compared) is carried beside each entry, so the winners leave
  * the aggregate as finished result rows with no join back to the
  * corpus. A row's id and payload are copied out of the reused input
  * buffer only once some heap admits the row; the partial buffers that
  * cross the shuffle hold at most partitions × nq × k payloads. */
case class BatchTopKAgg(idExpr: Expression, distsExpr: Expression,
    nq: Int, k: Int, metricCode: Int, idType: DataType = StringType,
    payloadExpr: Option[Expression] = None,
    mutableAggBufferOffset: Int = 0, inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[Array[TopKHeap]] {

  require(nq >= 0, "nq must be non-negative")
  require(k >= 0, "k must be non-negative")
  require(RowOrdering.isOrderable(idType), s"unorderable heap id type $idType")

  @transient private lazy val idOrd = TypeUtils.getInterpretedOrdering(idType)
  private def payloadType: Option[DataType] = payloadExpr.map(_.dataType)
  // (id[, payload]) UnsafeRow codec: serializes values of any type
  @transient private lazy val codec =
    UnsafeProjection.create((idType +: payloadType.toSeq).toArray)

  override def children: Seq[Expression] = Seq(idExpr, distsExpr) ++ payloadExpr
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("qi", IntegerType, nullable = false),
    StructField("id", idType, nullable = false),
    StructField("raw", DoubleType, nullable = false)) ++
    payloadType.map(StructField("payload", _))), containsNull = false)
  override def prettyName: String = "batch_topk"

  override def createAggregationBuffer(): Array[TopKHeap] =
    Array.fill(nq)(new TopKHeap(k, idOrd))

  override def update(buf: Array[TopKHeap], input: InternalRow): Array[TopKHeap] = {
    val idv = idExpr.eval(input)
    val ds = distsExpr.eval(input)
    if (idv != null && ds != null) {
      val arr = ds.asInstanceOf[ArrayData]
      // the input row's buffers are reused across rows: copy the id and
      // payload once, on the row's first admission
      var id: Any = null
      var pay: Any = null
      var i = 0
      while (i < nq) {
        val raw = arr.getDouble(i)
        val rank = VectorKernels.rankValue(metricCode, raw)
        if (buf(i).admits(rank, idv)) {
          if (id == null) {
            id = InternalRow.copyValue(idv)
            pay = payloadExpr match {
              case Some(e) => InternalRow.copyValue(e.eval(input))
              case None => null
            }
          }
          buf(i).insert(rank, raw, id, pay)
        }
        i += 1
      }
    }
    buf
  }

  override def merge(b1: Array[TopKHeap], b2: Array[TopKHeap]): Array[TopKHeap] = {
    var i = 0
    while (i < nq) {
      b2(i).foreachEntry((r, w, id, pay) => b1(i).offer(r, w, id, pay))
      i += 1
    }
    b1
  }

  override def eval(buf: Array[TopKHeap]): Any = {
    val out = new scala.collection.mutable.ArrayBuffer[InternalRow](nq * math.max(k, 1))
    val withPayload = payloadExpr.isDefined
    var qi = 0
    while (qi < nq) {
      buf(qi).sorted.foreach { case (id, raw, _, pay) =>
        out += new GenericInternalRow(
          if (withPayload) Array[Any](qi, id, raw, pay) else Array[Any](qi, id, raw))
      }
      qi += 1
    }
    new GenericArrayData(out.toArray)
  }

  override def serialize(buf: Array[TopKHeap]): Array[Byte] = {
    val bos = new ByteArrayOutputStream()
    val out = new DataOutputStream(bos)
    val withPayload = payloadExpr.isDefined
    out.writeInt(buf.length)
    var i = 0
    while (i < buf.length) {
      out.writeInt(buf(i).size)
      buf(i).foreachEntry { (r, w, id, pay) =>
        out.writeDouble(r); out.writeDouble(w)
        val bytes = codec(new GenericInternalRow(
          if (withPayload) Array[Any](id, pay) else Array[Any](id))).getBytes
        out.writeInt(bytes.length); out.write(bytes)
      }
      i += 1
    }
    out.flush()
    bos.toByteArray
  }

  override def deserialize(bytes: Array[Byte]): Array[TopKHeap] = {
    val in = new DataInputStream(new ByteArrayInputStream(bytes))
    val fields = 1 + payloadType.size
    val m = in.readInt()
    val buf = Array.fill(m)(new TopKHeap(k, idOrd))
    var i = 0
    while (i < m) {
      val entries = in.readInt()
      var j = 0
      while (j < entries) {
        val r = in.readDouble(); val w = in.readDouble()
        // a fresh byte array per entry: the id and payload may point into it
        val bytes = new Array[Byte](in.readInt())
        in.readFully(bytes)
        val row = new UnsafeRow(fields)
        row.pointTo(bytes, bytes.length)
        buf(i).offer(r, w, row.get(0, idType),
          payloadType.map(row.get(1, _)).orNull)
        j += 1
      }
      i += 1
    }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): BatchTopKAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): BatchTopKAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): BatchTopKAgg =
    copy(idExpr = newChildren(0), distsExpr = newChildren(1),
      payloadExpr = payloadExpr.map(_ => newChildren(2)))
}
