package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Command-line options, as passed on by run.py. */
final case class Opts(workload: String, seed: Long, seconds: Double,
    trace: Boolean, smoke: Boolean, runDir: String, resultFile: String,
    recordFile: String, archive: Boolean = false)

object Opts {
  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => throw new IllegalArgumentException(
        s"bad arguments: ${other.mkString(" ")}")
    }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"--$k is required"))
    Opts(need("workload"), need("seed").toLong, need("seconds").toDouble,
      need("trace") == "1", m.get("smoke").contains("1"), need("run-dir"),
      need("result"), need("record"))
  }
}

/** Order statistics over timing samples. */
final class Samples {
  val xs = mutable.ArrayBuffer.empty[Double]
  def +=(x: Double): Unit = xs += x
  def size: Int = xs.size
  def sum: Double = xs.sum
  /** Linear interpolation between closest ranks (numpy's default). */
  def quantile(p: Double): Double = {
    require(xs.nonEmpty, "no samples")
    val s = xs.sorted
    val pos = p * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median: Double = quantile(0.5)
}

/** State shared by a run: the Spark session, the tracer of a traced
  * run, the failure count and the timed calls of the measured phase. */
final class Ctx(val opts: Opts) {
  val cores: Int = Runtime.getRuntime.availableProcessors
  var spark: SparkSession = _
  var tracer: Option[Tracer] = None
  var attempted = 0L
  var failed = 0L
  val failures = mutable.ArrayBuffer.empty[String]
  val layer = mutable.LinkedHashMap.empty[String, Double]
  /** Host-speed probe times taken during the run (see [[HostProbe]]). */
  val probes = new Samples

  /** One correctness check; a failure is counted and reported. */
  def check(ok: Boolean, what: => String): Unit = {
    attempted += 1
    if (!ok) {
      failed += 1
      val msg = what
      if (failures.size < 20) failures += msg
      System.err.println(s"[perfbench] CHECK FAILED: $msg")
    }
  }

  /** Run `f` as one operation, inside a span of `name` when traced and
    * `traced` is set. Returns (result, seconds). An operation that throws
    * counts as failed and ends the run. */
  def timed[T](name: String, traced: Boolean = true)(f: => T): (T, Double) = {
    attempted += 1
    val t0 = System.nanoTime()
    try {
      val r = tracer match {
        case Some(tr) if traced => tr.span(name)(f)
        case _ => f
      }
      (r, (System.nanoTime() - t0) / 1e9)
    } catch {
      case e: Throwable =>
        failed += 1
        failures += s"$name threw ${e.getClass.getSimpleName}: ${e.getMessage}"
        throw e
    }
  }

  /** A span around benchmark-side replay work (no op accounting). */
  def span[T](name: String)(f: => T): T = tracer match {
    case Some(tr) => tr.span(name)(f)
    case None => f
  }

  def dir(name: String): String = s"${opts.runDir}/$name"

  def deleteDir(path: String): Unit = {
    val p = java.nio.file.Paths.get(path)
    if (java.nio.file.Files.exists(p))
      java.nio.file.Files.walk(p).sorted(java.util.Comparator.reverseOrder())
        .forEach(f => java.nio.file.Files.delete(f))
  }

  def dirBytes(path: String): Long = fileSizes(path).sum

  /** Sizes of the data files under `path` (sidecars, checksums and
    * markers excluded). */
  def fileSizes(path: String): Seq[Long] = {
    val p = java.nio.file.Paths.get(path)
    val out = mutable.ArrayBuffer.empty[Long]
    java.nio.file.Files.walk(p).forEach { f =>
      val n = f.getFileName.toString
      if (java.nio.file.Files.isRegularFile(f) && !n.startsWith(".") && !n.startsWith("_"))
        out += java.nio.file.Files.size(f)
    }
    out.toSeq
  }
}

/** One workload: set-up (repeatable), the measured closed loop, and the
  * traced-run extras. */
abstract class Workload(val ctx: Ctx) {
  /** Build fresh state under `dir`: generate, load, fill caches, warm up. */
  def setup(dir: String): Unit
  /** One untimed main read call, to warm up before measuring. */
  def warmCall(): Unit
  /** Release everything `setup` built (a discarded set-up repetition). */
  def teardown(): Unit
  /** The closed loop until `deadlineNs`, plus the workload's fixed tail. */
  def measure(deadlineNs: Long): Unit
  /** Checks after the loop (outside any timing). */
  def finalChecks(): Unit
  /** Traced run only: replay the facade operations through the layer
    * functions the facade calls, and time the kernels. */
  def traceLayers(): Unit
  /** Whether this workload's timings are reported scaled to the reference
    * host speed (see [[HostProbe]]): only where scaling was measured to
    * cut their run-to-run spread. */
  def hostScaled: Boolean

  /** Items answered (queries or documents) by the timed calls. */
  var items = 0L
  /** Wall time of every timed call of the measured phase. */
  val phase = new Samples
  /** The workload's main read call: a searchMany batch or a curate pass. */
  val calls = new Samples
  /** Traced run: the same call with tracing on / off, interleaved. */
  val tracedCalls = new Samples
  val untracedCalls = new Samples
  /** Result quality samples (recall@10 or survivor recall). */
  val recall = new Samples

  /** Time one main read call; in a traced run every second call is left
    * untraced so the two medians give the tracing overhead. */
  protected def readCall[T](name: String, n: Long)(f: => T): T = {
    val traced = ctx.tracer.isDefined && calls.size % 2 == 0
    val (r, s) = ctx.timed(name, traced)(f)
    calls += s
    phase += s
    items += n
    if (ctx.tracer.isDefined) (if (traced) tracedCalls else untracedCalls) += s
    ctx.probes += HostProbe()
    r
  }

  /** Time one write call of the measured phase. */
  protected def writeCall[T](name: String)(f: => T): (T, Double) = {
    val (r, s) = ctx.timed(name)(f)
    phase += s
    (r, s)
  }
}

object Main {
  val SetupReps = 3
  val WarmupSeconds = 4.0
  val WarmupCalls = 6

  /** End-to-end metrics and their units, in output order. */
  val EndToEnd: Seq[(String, String)] = Seq("setup_s" -> "s", "items_per_s" -> "items/s",
    "call_p50_s" -> "s", "recall" -> "fraction", "heap_retained_mb" -> "MB")

  /** `--workload all` runs every workload in one JVM; run.py uses it, at
    * smoke size, to record the class-data-sharing archive. */
  def main(args: Array[String]): Unit = {
    val opts = Opts.parse(args)
    val ok =
      if (opts.workload != "all") run(opts)
      else Workloads.Names.map { w =>
        val d = s"${opts.runDir}/$w"
        java.nio.file.Files.createDirectories(java.nio.file.Paths.get(d))
        run(opts.copy(workload = w, runDir = d, resultFile = s"$d/result.json",
          recordFile = s"$d/record.json", archive = true))
      }.forall(identity)
    System.exit(if (ok) 0 else 1)
  }

  def run(opts: Opts): Boolean = {
    val ctx = new Ctx(opts)
    val env = mutable.LinkedHashMap.empty[String, String]
    env("workload") = Json.str(opts.workload)
    env("seed") = Json.num(opts.seed)
    env("trace") = Json.num(if (opts.trace) 1L else 0L)
    env("smoke") = Json.num(if (opts.smoke) 1L else 0L)
    env("nproc") = Json.num(ctx.cores.toLong)
    env("loadavg_start") = Json.str(loadavg())
    env("jvm") = Json.str(s"${sys.props("java.vm.name")} ${sys.props("java.version")}")
    env("calib_ns_start") = Json.num(Calib.distanceNs())

    HostProbe.warmUp()
    val t0 = System.nanoTime()
    ctx.spark = session(opts, ctx.cores)
    val sessionS = (System.nanoTime() - t0) / 1e9
    env("spark") = Json.str(ctx.spark.version)
    if (opts.trace)
      ctx.tracer = Some(new Tracer(ctx.spark.sparkContext,
        s"${opts.workload}-${opts.seed}-${System.currentTimeMillis()}"))

    val w = Workloads(opts.workload, ctx)
    val reps = if (opts.archive) 1 else if (opts.smoke) 2 else SetupReps
    val repS = new Samples
    (0 until reps).foreach { r =>
      val d = ctx.dir(s"rep$r")
      val t = System.nanoTime()
      ctx.span(s"setup.rep$r")(w.setup(d))
      repS += (System.nanoTime() - t) / 1e9
      if (r < reps - 1) { w.teardown(); ctx.deleteDir(d) }
    }
    // session start happens once per JVM; every repetition generates,
    // loads, builds, fills caches and warms up anew
    val setupS = sessionS + repS.median
    val heapMb = retainedHeapMb()
    // untimed read calls until the JIT settles: without them the first
    // measured calls of a run were up to 50% slower than its last ones
    // (a curate pass kept getting faster for about its first 8 passes)
    val warmEnd = System.nanoTime() + (WarmupSeconds * 1e9).toLong
    var warm = 0
    do { w.warmCall(); warm += 1 }
    while (!opts.smoke && (warm < WarmupCalls || System.nanoTime() < warmEnd))

    val tm = System.nanoTime()
    w.measure(tm + (opts.seconds * 1e9).toLong)
    w.finalChecks()
    ctx.check(w.calls.size > 0 && w.items > 0, "the measured phase made no call")

    // times scaled to the reference host speed; raw ones go to the record
    val speed = if (w.hostScaled) HostProbe.RefS / ctx.probes.median else 1.0
    val raw = mutable.LinkedHashMap.empty[String, Double]
    raw("setup_s") = setupS
    raw("items_per_s") = w.items / w.phase.sum
    raw("call_p50_s") = w.calls.median
    val e2e = mutable.LinkedHashMap.empty[String, Double]
    e2e("setup_s") = raw("setup_s") * speed
    e2e("items_per_s") = raw("items_per_s") / speed
    e2e("call_p50_s") = raw("call_p50_s") * speed
    e2e("recall") = if (w.recall.size > 0) w.recall.xs.sum / w.recall.size else 0.0
    e2e("heap_retained_mb") = heapMb

    ctx.tracer.foreach { tr =>
      w.traceLayers()
      tr.finish()
      Layers.fill(ctx, tr, w)
    }
    env("loadavg_end") = Json.str(loadavg())
    env("peak_rss_mb") = Json.num(peakRssMb())
    env("calib_ns_end") = Json.num(Calib.distanceNs())
    env("setup_reps_s") = Json.arr(repS.xs.map(Json.num).toSeq)
    env("session_s") = Json.num(sessionS)
    env("calls") = Json.num(w.calls.size.toLong)
    env("call_p75_s") = Json.num(w.calls.quantile(0.75))
    env("calls_s") = Json.arr(w.calls.xs.map(Json.num).toSeq)
    env("measured_s") = Json.num((System.nanoTime() - tm) / 1e9)
    env("host_probe_s") = Json.arr(ctx.probes.xs.map(Json.num).toSeq)
    env("host_speed_scale") = Json.num(speed)
    ctx.spark.stop()

    val units = (EndToEnd ++ Layers.Metrics.map(m => m._1 -> m._2)).toMap
    val metrics = (if (opts.trace) ctx.layer else e2e).toSeq.map { case (k, v) =>
      k -> Json.obj(Seq("value" -> Json.num(v), "unit" -> Json.str(units(k))))
    }
    val result = Json.obj(Seq(
      "correct" -> (if (ctx.failed == 0) "true" else "false"),
      "attempted" -> Json.num(ctx.attempted),
      "failed" -> Json.num(ctx.failed),
      "metrics" -> Json.obj(metrics)))
    val record = Json.obj(Seq(
      "env" -> Json.obj(env.toSeq),
      "end_to_end" -> Json.obj(e2e.toSeq.map { case (k, v) => k -> Json.num(v) }),
      "end_to_end_unscaled" -> Json.obj(raw.toSeq.map { case (k, v) => k -> Json.num(v) }),
      "per_layer" -> Json.obj(ctx.layer.toSeq.map { case (k, v) => k -> Json.num(v) }),
      "failures" -> Json.arr(ctx.failures.map(Json.str).toSeq),
      "spans" -> ctx.tracer.map(_.toJson(ctx.cores)).getOrElse("[]")))
    write(opts.recordFile, record)
    write(opts.resultFile, result)
    System.err.println(s"[perfbench] env ${Json.obj(env.toSeq)}")
    ctx.failed == 0
  }

  def session(opts: Opts, cores: Int): SparkSession =
    SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.driver.bindAddress", "127.0.0.1")
      .config("spark.driver.host", "localhost")
      .config("spark.local.dir", s"${opts.runDir}/spark-local")
      .config("spark.sql.warehouse.dir", s"${opts.runDir}/warehouse")
      .getOrCreate()

  private def loadavg(): String =
    scala.util.Try(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("/proc/loadavg"))).trim).getOrElse("unknown")

  /** Heap still in use after a full collection, in MB: what the loaded
    * workload keeps live (cached frames, models, graphs). */
  def retainedHeapMb(): Double = {
    // Spark's ContextCleaner frees blocks of collected RDDs (e.g. local
    // checkpoints) only after a collection finds them; let it catch up
    (0 until 3).foreach { _ => System.gc(); Thread.sleep(300) }
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1e6
  }

  /** VmHWM of this JVM, in MB. */
  def peakRssMb(): Double = {
    val lines = java.nio.file.Files.readAllLines(java.nio.file.Paths.get("/proc/self/status"))
    val kb = lines.toArray(Array.empty[String]).find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble).getOrElse(0.0)
    kb / 1024.0
  }

  private def write(path: String, s: String): Unit =
    java.nio.file.Files.write(java.nio.file.Paths.get(path), (s + "\n").getBytes("UTF-8"))
}

/** Host speed, probed after every measured call: the wall time of a fixed
  * arithmetic loop (benchmark code only, so no change to the program can
  * move it) run on one thread per core at once, as Spark's stages run. On
  * the 4-core VM the benchmark was tuned on, host speed swung by up to 2.5x
  * between runs minutes apart, and every timing of a run moved with it. A
  * workload whose timings track the probe reports them scaled by
  * RefS / (median probe of the run), i.e. as they would read on a host
  * where the probe takes RefS. Probes are not taken during set-up, where
  * JIT compiler threads compete with them. */
object HostProbe {
  /** The probe's time on that VM in a fast phase. */
  val RefS = 0.01
  private val Reps = 2500
  private val a = Array.tabulate(4096)(i => ((i * 7919) % 1000) / 1000.0)
  private val b = Array.tabulate(4096)(i => ((i * 104729) % 1000) / 1000.0)
  private val cores = Runtime.getRuntime.availableProcessors
  private val pool = java.util.concurrent.Executors.newFixedThreadPool(cores, (r: Runnable) => {
    val t = new Thread(r, "perfbench-host-probe")
    t.setDaemon(true)
    t
  })

  private def loop(): Double = {
    var s = 0.0
    var r = 0
    while (r < Reps) {
      var i = 0
      while (i < a.length) { s += a(i) * b(i); i += 1 }
      r += 1
    }
    s
  }

  /** Wall seconds of `loop` on every core at once. */
  def apply(): Double = {
    val t0 = System.nanoTime()
    val fs = (0 until cores).map(_ => pool.submit(() => loop()))
    if (fs.map(_.get).sum == 42.0) System.err.print("")
    (System.nanoTime() - t0) / 1e9
  }

  /** Compile the loop before the first probe is recorded. */
  def warmUp(): Unit = (0 until 30).foreach(_ => apply())
}

/** Single-thread calibration probe through `VectorKernels.distance`:
  * context for reading host contention, not a gated metric. */
object Calib {
  def distanceNs(): Double = {
    val g = new Gen.Vectors(7L)
    val a = g.vector(1L)
    val b = g.vector(2L)
    val code = graft.core.Metric.Cosine.code
    var sink = 0.0
    val reps = new Samples
    (0 until 5).foreach { _ =>
      val t = System.nanoTime()
      var i = 0
      while (i < 20000) { sink += graft.expr.VectorKernels.distance(code, a, b); i += 1 }
      reps += (System.nanoTime() - t).toDouble / 20000
    }
    if (sink == 42.0) System.err.print("")
    reps.median
  }
}
