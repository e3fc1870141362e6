package graft.expr

import java.io.{ByteArrayInputStream, ByteArrayOutputStream, DataInputStream, DataOutputStream}

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, AttributeSet, BindReferences, CreateStruct, Expression, GenericInternalRow, NamedExpression, RowOrdering, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, Project, Statistics, UnaryNode}
import org.apache.spark.sql.catalyst.plans.logical.statsEstimation.EstimationUtils
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, SinglePartition}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData, TypeUtils}
import org.apache.spark.sql.catalyst.util.truncatedString
import org.apache.spark.sql.execution.{SQLExecution, SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.types._

/** Bounded max-heap on (rank, id): keeps the k smallest (rank, id)
  * pairs with Spark SQL's exact ordering semantics — doubles compare
  * like `ORDER BY rank ASC` (`-0.0 == 0.0`, NaN sorts last:
  * `if (a == b) 0 else Double.compare(a, b)`), ties break by `idOrd`,
  * Spark's own interpreted ordering of the id type (for strings the
  * BINARY UTF-8 order of `UTF8String`) — so a heap cut is bit-identical
  * to `ORDER BY (rank, id) LIMIT k` for any orderable id type. Each
  * entry may carry a payload (a row's result columns) that rides along
  * but is never compared. Ids and payloads stay in Spark's internal
  * representation. */
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

/** Per-query bounded top-k over (id, distances[nq]) rows — the
  * heap-scan batch algorithm (one [[TopKHeap]] per query, the
  * reference's flat.rs:96-124 scan) as a Catalyst
  * `TypedImperativeAggregate`: each partition keeps nq
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
  * buffer only once some heap admits the row; the partial buffers hold
  * at most partitions × nq × k payloads.
  *
  * Two plans run it. While nq × k fits
  * `spark.graft.batch.mergeSingleMaxEntries`, [[BatchTopKExec]] scores
  * the corpus in row blocks itself and calls [[offerRow]] and
  * `serialize`/`merge`/`eval` directly: one job when collected, the
  * partial buffers merged on the driver while all of them together
  * (partitions × nq × k entries) fit the same bound, or one shuffle to a
  * single merge task through `doExecute`. Above the bound it is the
  * grouped aggregate of `Search.heapTops`' two-level cut, which
  * evaluates the same scan expression per row. */
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
    if (idv != null && ds != null)
      offerRow(buf, idv, ds.asInstanceOf[ArrayData].toDoubleArray(), 0, input)
    buf
  }

  /** Offers one row's raw values `raws(off until off + nq)` to the nq
    * heaps under the non-NULL id `idv`. The input row's buffers may be
    * reused across rows: the id and the payload (evaluated on `input`)
    * are copied once, on the row's first admission. */
  private[expr] def offerRow(buf: Array[TopKHeap], idv: Any, raws: Array[Double],
      off: Int, input: InternalRow): Unit = {
    var id: Any = null
    var pay: Any = null
    var i = 0
    while (i < nq) {
      val raw = raws(off + i)
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

/** The single-level heap cut as a logical plan node: every row of
  * `child` with a non-NULL `id` and scan input is scored by `scan` (a
  * [[BatchScan]] over nq queries) and offered to nq bounded heaps. The
  * output is one row per winner, `(_qi, id, raw, payload...)`, each
  * query's entries in (rank, id) order. `_qi` and `raw` are made by the
  * node (`generated`); `id` and the payload columns pass through from
  * the child, as a `Generate` passes its child's columns, so the node
  * can be built over an unresolved child and analysed once with the
  * plan around it. The rows are those of `groupBy().agg(BatchTopKAgg)`
  * + explode over the scan column, because the same [[BatchTopKAgg]]
  * offers, serializes, merges and emits the heaps; only the plan around
  * it differs (see [[BatchTopKExec]]). `driverMergeMax` bounds the
  * partial entries a collect may merge on the driver. Build it with the
  * factory in the companion and plan it through [[BatchTopKStrategy]]. */
case class BatchTopK(id: NamedExpression, scan: Expression,
    payload: Seq[NamedExpression], nq: Int, k: Int, metricCode: Int,
    driverMergeMax: Long, generated: Seq[Attribute], child: LogicalPlan)
  extends UnaryNode {

  // non-nullable like the exploded aggregate's id: a NULL id never wins
  override def output: Seq[Attribute] =
    generated.head +: id.toAttribute.withNullability(false) +: generated(1) +:
      payload.map(_.toAttribute)
  override def producedAttributes: AttributeSet = AttributeSet(generated)

  // at most nq × k winners: the default estimate of an unknown unary
  // node would be the whole scanned corpus, and a join above plans by it
  override def stats: Statistics = {
    val rows = BigInt(nq) * k
    Statistics(EstimationUtils.getOutputSize(output, rows), Some(rows))
  }

  override protected def withNewChildInternal(newChild: LogicalPlan): BatchTopK =
    copy(child = newChild)
}

object BatchTopK {
  /** Corpus rows a task scores per [[BatchScan.scoreRows]] call: enough
    * for four 4-row kernel tiles, few enough that the copied rows stay
    * in cache. */
  final val BlockRows = 16

  /** The cut of `child`'s rows by the column `id`, scored by `scan`
    * (whose input is a column of `child`), carrying the `payload`
    * columns. `_qi` and `raw` are non-nullable. */
  def apply(id: NamedExpression, scan: Expression, payload: Seq[NamedExpression],
      nq: Int, k: Int, metricCode: Int, driverMergeMax: Long,
      child: LogicalPlan): BatchTopK =
    BatchTopK(id, scan, payload, nq, k, metricCode, driverMergeMax,
      Seq(AttributeReference("_qi", IntegerType, nullable = false)(),
        AttributeReference("raw", DoubleType, nullable = false)()),
      child)

  /** Merges one serialized partial buffer into `buf`. */
  private[expr] def mergePartial(agg: BatchTopKAgg, buf: Array[TopKHeap],
      bytes: Array[Byte], merged: SQLMetric, mergeTime: SQLMetric): Unit = {
    val t0 = System.nanoTime()
    val part = agg.deserialize(bytes)
    merged += part.iterator.map(_.size.toLong).sum
    agg.merge(buf, part)
    mergeTime += System.nanoTime() - t0
  }

  /** The winners of the merged heaps `buf` as `(_qi, id, raw,
    * payload...)` rows through `proj`, counted into `numOutputRows`. */
  private[expr] def winners(agg: BatchTopKAgg, buf: Array[TopKHeap],
      payloadTypes: Seq[DataType], proj: UnsafeProjection,
      numOutputRows: SQLMetric): Iterator[InternalRow] = {
    val entries = agg.eval(buf).asInstanceOf[ArrayData]
    val fields = payloadTypes.length
    val width = if (fields == 0) 3 else 4
    Iterator.tabulate(entries.numElements()) { i =>
      val e = entries.getStruct(i, width)
      val vals = new Array[Any](3 + fields)
      vals(0) = e.getInt(0)
      vals(1) = e.get(1, agg.idType)
      vals(2) = e.getDouble(2)
      if (fields > 0) {
        val p = e.getStruct(3, fields)
        var j = 0
        while (j < fields) { vals(3 + j) = p.get(j, payloadTypes(j)); j += 1 }
      }
      numOutputRows += 1
      proj(new GenericInternalRow(vals))
    }
  }
}

/** Physical [[BatchTopK]]: a batch search in one Spark job.
  *
  * Each task scores its partition in blocks of
  * [[BatchTopK.BlockRows]] rows: it copies each row with a non-NULL id
  * and scan input (the child reuses its row buffer), calls
  * [[BatchScan.scoreRows]] once per block, offers every (row, query)
  * rank to nq bounded heaps ([[BatchTopKAgg]]'s `offerRow`) and emits
  * them as ONE serialized partial buffer. The child therefore only
  * projects id, payload and the scan's input: over a cached corpus it
  * is the column-pruned in-memory scan itself, with no per-row distance
  * array and no generated-code stage. `projectList`, the result
  * projection above the cut, is absorbed here (as
  * `TakeOrderedAndProjectExec` absorbs its `Project`) so that
  * `Dataset.collect` reaches [[executeCollect]]:
  *  - [[executeCollect]] runs the partial job alone and merges the
  *    partitions' buffers on the driver: no shuffle, no second job.
  *    Every buffer is a task result, and task results count against
  *    `spark.driver.maxResultSize`, so this path is taken only while
  *    partitions × nq × k (the most entries the buffers can hold)
  *    fits `driverMergeMax`; the merge then runs on the calling
  *    thread, after the job, never on the scheduler's event loop.
  *    Above the bound a collect goes through the [[doExecute]] plan.
  *  - [[doExecute]] serves consumers that do not collect (rerank joins,
  *    unions of query blocks, writes, `count`): the partial buffers
  *    shuffle to one partition inside this node, one task merges them.
  *
  * No required child distribution is declared, so a collected batch
  * plan holds no exchange and adaptive query execution leaves it as
  * is: no AQE wrapper, no re-plan between the two halves. Rows are
  * bit-identical to the aggregate plan either way.
  *
  * Metrics: `rowsOffered` (rows with a non-NULL id and scan input, the
  * candidates scored), `scanTime` (time in [[BatchScan.scoreRows]],
  * timed once per block: the kernel's share of task time, the rest
  * being the heaps and the child), `partialEntries` (heap entries of
  * the partial buffers merged), `numOutputRows` and `mergeTime`. */
case class BatchTopKExec(projectList: Seq[NamedExpression], topOutput: Seq[Attribute],
    idExpr: Expression, scan: Expression, payload: Seq[Expression],
    nq: Int, k: Int, metricCode: Int, driverMergeMax: Long, child: SparkPlan)
  extends UnaryExecNode {

  override def output: Seq[Attribute] = projectList.map(_.toAttribute)
  override def producedAttributes: AttributeSet = AttributeSet(topOutput)
  override def outputPartitioning: Partitioning = SinglePartition

  override def simpleString(maxFields: Int): String =
    s"BatchTopKExec(nq=$nq, k=$k, metric=$metricCode, scan=$scan, " +
      s"output=${truncatedString(output, "[", ",", "]", maxFields)})"

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "rowsOffered" -> SQLMetrics.createMetric(sparkContext, "rows offered to the heaps"),
    "scanTime" -> SQLMetrics.createNanoTimingMetric(sparkContext, "scan time"),
    "partialEntries" -> SQLMetrics.createMetric(sparkContext, "partial entries merged"),
    "numOutputRows" -> SQLMetrics.createMetric(sparkContext, "number of output rows"),
    "mergeTime" -> SQLMetrics.createNanoTimingMetric(sparkContext, "merge time"))

  private def boundAggregate: BatchTopKAgg = BindReferences.bindReference(
    BatchTopKAgg(idExpr, scan, nq, k, metricCode, idExpr.dataType,
      if (payload.isEmpty) None else Some(CreateStruct(payload))), child.output)

  /** One serialized partial buffer per child partition. */
  private def partials(agg: BatchTopKAgg): RDD[Array[Byte]] = {
    val offered = longMetric("rowsOffered")
    val scanTime = longMetric("scanTime")
    val scan = agg.distsExpr.asInstanceOf[BatchScan]
    val nq = this.nq
    child.execute().mapPartitions { rows =>
      val buf = agg.createAggregationBuffer()
      val block = new Array[InternalRow](BatchTopK.BlockRows)
      val inputs = new Array[Any](BatchTopK.BlockRows)
      val raws = new Array[Double](BatchTopK.BlockRows * nq)
      var n = 0
      var scored = 0L
      var nanos = 0L
      def flush(): Unit = {
        val t0 = System.nanoTime()
        var r = 0
        while (r < n) { inputs(r) = scan.child.eval(block(r)); r += 1 }
        scan.scoreRows(inputs, n, raws)
        nanos += System.nanoTime() - t0
        r = 0
        while (r < n) {
          agg.offerRow(buf, agg.idExpr.eval(block(r)), raws, r * nq, block(r))
          r += 1
        }
        scored += n
        n = 0
      }
      rows.foreach { row =>
        if (agg.idExpr.eval(row) != null && scan.child.eval(row) != null) {
          block(n) = row.copy()
          n += 1
          if (n == block.length) flush()
        }
      }
      if (n > 0) flush()
      offered += scored
      scanTime += nanos
      Iterator.single(agg.serialize(buf))
    }
  }

  override def executeCollect(): Array[InternalRow] = {
    val agg = boundAggregate
    val parts = partials(agg)
    if (BigInt(parts.getNumPartitions) * nq * k > driverMergeMax)
      return mergedOnOne(agg, parts).map(_.copy()).collect()
    val merged = longMetric("partialEntries")
    val mergeTime = longMetric("mergeTime")
    val numOutputRows = longMetric("numOutputRows")
    val buf = agg.createAggregationBuffer()
    sparkContext.runJob(parts, (it: Iterator[Array[Byte]]) => it.next())
      .foreach(BatchTopK.mergePartial(agg, buf, _, merged, mergeTime))
    val proj = UnsafeProjection.create(projectList, topOutput)
    proj.initialize(0)
    val out = BatchTopK.winners(agg, buf, payload.map(_.dataType), proj, numOutputRows)
      .map(_.copy()).toArray
    SQLMetrics.postDriverMetricUpdates(sparkContext,
      sparkContext.getLocalProperty(SQLExecution.EXECUTION_ID_KEY),
      Seq(merged, mergeTime, numOutputRows))
    out
  }

  protected override def doExecute(): RDD[InternalRow] = {
    val agg = boundAggregate
    mergedOnOne(agg, partials(agg))
  }

  /** The winners of `parts`, shuffled to one task that merges them. */
  private def mergedOnOne(agg: BatchTopKAgg, parts: RDD[Array[Byte]]): RDD[InternalRow] = {
    val merged = longMetric("partialEntries")
    val mergeTime = longMetric("mergeTime")
    val numOutputRows = longMetric("numOutputRows")
    val projectList = this.projectList
    val topOutput = this.topOutput
    val payloadTypes = payload.map(_.dataType)
    val single =
      if (parts.getNumPartitions == 0) sparkContext.parallelize(Seq.empty[Array[Byte]], 1)
      else parts.coalesce(1, shuffle = parts.getNumPartitions > 1)
    single.mapPartitionsWithIndex { (index, partials) =>
      val buf = agg.createAggregationBuffer()
      partials.foreach(BatchTopK.mergePartial(agg, buf, _, merged, mergeTime))
      val proj = UnsafeProjection.create(projectList, topOutput)
      proj.initialize(index)
      BatchTopK.winners(agg, buf, payloadTypes, proj, numOutputRows)
    }
  }

  override protected def withNewChildInternal(newChild: SparkPlan): BatchTopKExec =
    copy(child = newChild)
}

/** Plans [[BatchTopK]] as [[BatchTopKExec]], absorbing a result
  * `Project` directly above it. */
object BatchTopKStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case Project(projectList, t: BatchTopK) => exec(projectList, t) :: Nil
    case t: BatchTopK => exec(t.output, t) :: Nil
    case _ => Nil
  }

  private def exec(projectList: Seq[NamedExpression], t: BatchTopK): BatchTopKExec =
    BatchTopKExec(projectList, t.output, t.id, t.scan, t.payload,
      t.nq, t.k, t.metricCode, t.driverMergeMax, planLater(t.child))

  /** Adds the strategy to `spark`'s planner, once per session. Called by
    * the plan builder before it builds a [[BatchTopK]] frame, so callers
    * need no `spark.sql.extensions` setting; a session that never runs
    * a batch search never gets it. */
  def register(spark: SparkSession): Unit = {
    val methods = spark.experimental
    methods.synchronized {
      if (!methods.extraStrategies.contains(this))
        methods.extraStrategies = this +: methods.extraStrategies
    }
  }
}
