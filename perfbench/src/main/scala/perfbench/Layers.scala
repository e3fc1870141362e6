package perfbench

import scala.collection.mutable

/** Per-layer metrics of a traced run, in a fixed order. A metric the
  * workload does not exercise reads 0 (the layer is bypassed). */
object Layers {

  /** name -> (unit, better) */
  val Metrics: Seq[(String, String, String)] = Seq(
    ("api.persist_index_s", "s", "lower"),
    ("api.open_indexed_s", "s", "lower"),
    ("api.load_snapshot_s", "s", "lower"),
    ("api.search_many_s", "s", "lower"),
    ("api.search_many_ivfpq_s", "s", "lower"),
    ("api.append_indexed_s", "s", "lower"),
    ("api.delete_indexed_s", "s", "lower"),
    ("api.compact_indexed_s", "s", "lower"),
    ("api.overhead_s", "s", "lower"),
    ("prepare.rows_per_s", "rows/s", "higher"),
    ("store.snapshot_s", "s", "lower"),
    ("store.files", "count", "lower"),
    ("store.layout_bytes_per_vec", "B", "lower"),
    ("store.delete_bytes_rewritten_per_row", "B", "lower"),
    ("store.compact_bytes_rewritten", "B", "lower"),
    ("ann.ivf_train_s", "s", "lower"),
    ("ann.pq_train_s", "s", "lower"),
    ("ann.encode_write_s", "s", "lower"),
    ("ann.append_encode_s", "s", "lower"),
    ("ann.search_batch_s", "s", "lower"),
    ("ann.input_bytes_per_query", "B", "lower"),
    ("ann.bytes_read_frac", "fraction", "lower"),
    ("index.write_layout_s", "s", "lower"),
    ("index.search_batch_s", "s", "lower"),
    ("index.append_layout_s", "s", "lower"),
    ("index.layout_bytes_per_vec", "B", "lower"),
    ("index.graph_cache_evictions", "count", "lower"),
    ("search.flat_batch_s", "s", "lower"),
    ("expr.distance_multi_ns_per_dim", "ns", "lower"),
    ("expr.ranking_ns_per_dim", "ns", "lower"),
    ("expr.adc_ns_per_code", "ns", "lower"),
    ("expr.argmin_ns_per_vec", "ns", "lower"),
    ("expr.topk_offer_ns", "ns", "lower"),
    ("dedup.exact_s", "s", "lower"),
    ("dedup.minhash_s", "s", "lower"),
    ("dedup.candidate_pairs", "count", "lower"),
    ("dedup.verified_frac", "fraction", "higher"),
    ("text.gopher_s", "s", "lower"),
    ("functions.sequential_ids_s", "s", "lower"),
    ("functions.curate_jobs", "count", "lower"),
    ("spark.jobs", "count", "lower"),
    ("spark.stages", "count", "lower"),
    ("spark.task_s", "s", "lower"),
    ("spark.busy_frac", "fraction", "higher"),
    ("spark.max_task_frac", "fraction", "lower"),
    ("spark.input_mb", "MB", "lower"),
    ("spark.shuffle_write_mb", "MB", "lower"),
    ("spark.spill_mb", "MB", "lower"),
    ("spark.gc_s", "s", "lower"),
    ("trace.overhead_frac", "fraction", "lower"),
    ("trace.spans", "count", "lower"))

  /** Facade operation -> the replay spans that decompose it. */
  private val Replays: Seq[(String, Seq[String])] = Seq(
    "api.persist_index" -> Seq("ann.ivf_train", "ann.pq_train", "ann.encode_write"),
    "api.search_many" -> Seq("search.flat_batch"),
    "api.search_many_ivfpq" -> Seq("ann.search_batch"),
    "api.append_indexed" -> Seq("prepare.prepare", "prepare.validate", "ann.append_encode"),
    "api.delete_indexed" -> Seq("store.delete_ids"),
    "api.compact_indexed" -> Seq("store.compact"),
    "curate" -> Seq("text.gopher", "dedup.exact", "dedup.minhash",
      "functions.sequential_ids"))

  def fill(ctx: Ctx, tr: Tracer, w: Workload): Unit = {
    val out = mutable.LinkedHashMap.empty[String, Double]
    Metrics.foreach { case (k, _, _) => out(k) = ctx.layer.getOrElse(k, 0.0) }

    def secs(name: String): Seq[Double] = tr.named(name).map(_.seconds)
    def med(name: String): Double = {
      val xs = secs(name)
      if (xs.isEmpty) 0.0 else { val s = new Samples; xs.foreach(s += _); s.median }
    }
    def total(name: String): Double = secs(name).sum
    def counters(name: String): Seq[Tracer.Counters] = tr.named(name).map(tr.subtree)

    Seq("persist_index", "open_indexed", "load_snapshot", "search_many", "search_many_ivfpq",
      "append_indexed", "delete_indexed", "compact_indexed")
      .foreach(op => out(s"api.${op}_s") = med(s"api.$op"))
    out("api.overhead_s") = Replays.map { case (facade, parts) =>
      val replayed = parts.map(total).sum
      if (tr.named(facade).isEmpty || replayed == 0.0) 0.0 else med(facade) - replayed
    }.sum

    val prep = total("prepare.prepare")
    w match {
      case e: Exact =>
        out("store.layout_bytes_per_vec") = e.snapshotBytes / e.n
        e.probe.foreach { c =>
          if (prep > 0) out("prepare.rows_per_s") = c.AppendRows / prep
          out("store.files") = c.storeFiles
          val dels = counters("api.delete_indexed")
          if (dels.nonEmpty)
            out("store.delete_bytes_rewritten_per_row") =
              dels.map(_.outputBytes).sum.toDouble / (dels.size * c.DeleteRows)
          out("store.compact_bytes_rewritten") =
            counters("api.compact_indexed").map(_.outputBytes).sum.toDouble
          counters("ann.search_batch").headOption.foreach { s =>
            out("ann.input_bytes_per_query") = s.inputBytes.toDouble / c.Batch
            out("ann.bytes_read_frac") = s.inputBytes / c.layoutBytes
          }
          out("index.layout_bytes_per_vec") = c.hnswBytes / c.n
          out("index.graph_cache_evictions") = c.evictions.toDouble
        }
      case c: CurateWorkload =>
        out("dedup.candidate_pairs") = c.candidatePairs
        if (c.candidatePairs > 0) out("dedup.verified_frac") = c.verifiedPairs / c.candidatePairs
        val cj = counters("curate").map(_.jobs.toDouble)
        if (cj.nonEmpty) out("functions.curate_jobs") = cj.sum / cj.size
      case _ => ()
    }
    Seq("store.snapshot", "ann.ivf_train", "ann.pq_train", "ann.encode_write",
      "ann.append_encode", "ann.search_batch", "index.write_layout", "index.search_batch",
      "index.append_layout", "search.flat_batch", "dedup.exact", "dedup.minhash",
      "text.gopher", "functions.sequential_ids")
      .foreach(s => out(s + "_s") = med(s))

    // Spark counters of the main read call, median over its traced calls
    val main = w match { case _: CurateWorkload => "curate"; case _ => "api.search_many" }
    val spans = tr.named(main)
    if (spans.nonEmpty) {
      def medOf(f: Tracer.Span => Double): Double = {
        val s = new Samples
        spans.foreach(sp => s += f(sp))
        s.median
      }
      val c = spans.map(sp => sp -> tr.subtree(sp)).toMap
      out("spark.jobs") = medOf(sp => c(sp).jobs.toDouble)
      out("spark.stages") = medOf(sp => c(sp).stages.toDouble)
      out("spark.task_s") = medOf(sp => c(sp).taskS)
      out("spark.busy_frac") = medOf(sp => c(sp).taskS / (sp.seconds * ctx.cores))
      out("spark.max_task_frac") = medOf(sp =>
        if (c(sp).taskS > 0) c(sp).maxTaskS / c(sp).taskS else 0.0)
      out("spark.input_mb") = medOf(sp => c(sp).inputBytes / 1e6)
      out("spark.shuffle_write_mb") = medOf(sp => c(sp).shuffleWriteBytes / 1e6)
      out("spark.spill_mb") = medOf(sp => c(sp).spillBytes / 1e6)
      out("spark.gc_s") = medOf(sp => c(sp).gcS)
    }
    if (w.tracedCalls.size > 0 && w.untracedCalls.size > 0)
      out("trace.overhead_frac") = w.tracedCalls.median / w.untracedCalls.median - 1.0
    out("trace.spans") = tr.spans.size.toDouble
    ctx.layer.clear()
    ctx.layer ++= out
  }
}

/** Single-thread kernel timings on the workload's own vectors. Each is
  * the median of 5 repetitions of a fixed amount of work. */
object Kernels {
  private def nsPer(work: Double)(f: => Double): Double = {
    var sink = 0.0
    sink += f // warm-up
    val s = new Samples
    (0 until 5).foreach { _ =>
      val t = System.nanoTime()
      sink += f
      s += (System.nanoTime() - t) / work
    }
    if (sink == 1.2345) System.err.print("")
    s.median
  }

  def run(ctx: Ctx, gen: Gen.Vectors, n: Int): Unit = {
    import graft.expr.VectorKernels
    val dims = gen.dims
    val rows = Array.tabulate(512)(i => gen.vector(i.toLong % n))
    val qs = Array.tabulate(64)(j => gen.vector(Gen.QueryBase + 7000000L + j))
    val code = graft.core.Metric.Cosine.code
    val L = ctx.layer

    val packed = rows.map(r =>
      org.apache.spark.sql.catalyst.expressions.UnsafeArrayData.fromPrimitiveArray(r))
    L("expr.distance_multi_ns_per_dim") =
      nsPer(rows.length.toDouble * qs.length * dims) {
        var acc = 0.0
        packed.foreach(a => acc += VectorKernels.distanceMulti(code, a, qs)(0))
        acc
      }

    L("expr.ranking_ns_per_dim") = nsPer(rows.length.toDouble * qs.length * dims) {
      var acc = 0.0
      rows.foreach(a => qs.foreach(b =>
        acc += VectorKernels.rankingDistanceOff(code, a, 0, b, 0, dims)))
      acc
    }

    // PQ shape of the ivfpq facade: m = 8 subspaces of k = 8 codes
    val m = 8
    val k = 8
    val table = Array.tabulate(m * k)(i => gen.vector(Gen.QueryBase + 9000000L)(i % dims).toDouble)
    val codes = rows.map(r => Array.tabulate(m)(j => (if (r(j) > 0) j % k else (j + 3) % k).toByte))
    L("expr.adc_ns_per_code") = nsPer(codes.length.toDouble * 64 * m) {
      var acc = 0.0
      var rep = 0
      while (rep < 64) { codes.foreach(c => acc += VectorKernels.adcLookup(c, table, k)); rep += 1 }
      acc
    }

    // IVF shape of the facade: 16 cells, transposed and lane-padded
    val cells = 16
    val step = 2 * graft.simd.SimdArgmin.laneCount()
    val kPad = ((cells + step - 1) / step) * step
    val tcent = new Array[Double](dims * kPad)
    (0 until cells).foreach(c => (0 until dims).foreach(i => tcent(i * kPad + c) = rows(c)(i)))
    val sums = new Array[Double](kPad)
    L("expr.argmin_ns_per_vec") = nsPer(rows.length.toDouble) {
      var acc = 0.0
      rows.foreach { v =>
        graft.simd.SimdArgmin.l2sqTransposed(tcent, kPad, v, 0, dims, sums)
        acc += sums(0)
      }
      acc
    }

    val ranks = rows.flatMap(a => qs.take(8).map(b => VectorKernels.distance(code, a, b)))
    val ids = ranks.indices.map(i =>
      org.apache.spark.unsafe.types.UTF8String.fromString(Gen.rowId(i.toLong))).toArray
    L("expr.topk_offer_ns") = nsPer(ranks.length.toDouble * 16) {
      var rep = 0
      var acc = 0.0
      while (rep < 16) {
        val h = new graft.expr.TopKHeap(10)
        var i = 0
        while (i < ranks.length) { h.offer(ranks(i), ranks(i), ids(i)); i += 1 }
        acc += h.size
        rep += 1
      }
      acc
    }
  }
}
