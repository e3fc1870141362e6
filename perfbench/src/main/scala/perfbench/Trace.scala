package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Spans recorded by the benchmark around its calls into the program,
  * plus Spark counters attributed to them. Spans live in memory and are
  * written out once, at the end of the run.
  *
  * Attribution: the driver thread tags every job it submits with the
  * innermost open span (a Spark local property); the listener maps each
  * stage to that span and sums its tasks' metrics there. The benchmark
  * is one closed-loop client on one thread, so the tag is exact. */
final class Tracer(sc: SparkContext, val runId: String) {
  import Tracer._

  val spans = mutable.ArrayBuffer.empty[Span]
  private val open = mutable.Stack.empty[Span]
  private val counters = mutable.HashMap.empty[Int, Counters]
  private val stageSpan = mutable.HashMap.empty[(Int, Int), Int]

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = tagOf(e.properties)
      .foreach(s => Tracer.this.synchronized(counter(s).jobs += 1))

    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      tagOf(e.properties).foreach { s =>
        Tracer.this.synchronized {
          stageSpan((e.stageInfo.stageId, e.stageInfo.attemptNumber())) = s
          counter(s).stages += 1
        }
      }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      stageSpan.get((e.stageId, e.stageAttemptId)).foreach { s =>
        val c = counter(s)
        val m = e.taskMetrics
        if (m != null) {
          val runMs = m.executorRunTime.toDouble
          c.taskS += runMs / 1e3
          c.maxTaskS = math.max(c.maxTaskS, runMs / 1e3)
          c.inputBytes += m.inputMetrics.bytesRead
          c.inputRecords += m.inputMetrics.recordsRead
          c.outputBytes += m.outputMetrics.bytesWritten
          c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
          c.spillBytes += m.diskBytesSpilled
          c.gcS += m.jvmGCTime / 1e3
        }
        c.tasks += 1
      }
    }
  }
  sc.addSparkListener(listener)

  private def tagOf(p: java.util.Properties): Option[Int] =
    Option(p).flatMap(pp => Option(pp.getProperty(Tag))).map(_.toInt)

  private def counter(s: Int): Counters = counters.getOrElseUpdate(s, new Counters)

  /** Run `f` inside a span named `name`, child of the open span. */
  def span[T](name: String)(f: => T): T = {
    val s = synchronized {
      val sp = Span(spans.size, name, open.headOption.map(_.id).getOrElse(-1),
        System.nanoTime())
      spans += sp
      sp
    }
    open.push(s)
    sc.setLocalProperty(Tag, s.id.toString)
    try f
    finally {
      s.end = System.nanoTime()
      open.pop()
      sc.setLocalProperty(Tag, open.headOption.map(_.id.toString).orNull)
    }
  }

  /** Wait until the listener has seen every event posted so far, then
    * detach it. */
  def finish(): Unit = {
    org.apache.spark.perfbench.ListenerDrain(sc)
    sc.removeSparkListener(listener)
  }

  private def children(id: Int): Seq[Span] = spans.filter(_.parent == id).toSeq

  /** A span's duration minus the part of it its child spans cover. */
  def selfSeconds(s: Span): Double = {
    val cs = children(s.id).map(c => (c.start, c.end)).sortBy(_._1)
    var covered = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    cs.foreach { case (a, b) =>
      if (a > curE) { covered += math.max(0L, curE - curS); curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    covered += math.max(0L, curE - curS)
    (s.end - s.start - covered) / 1e9
  }

  /** Counters of a span and all of its descendants. */
  def subtree(s: Span): Counters = synchronized {
    val out = new Counters
    def go(id: Int): Unit = {
      counters.get(id).foreach(out.add)
      children(id).foreach(c => go(c.id))
    }
    go(s.id)
    out
  }

  def named(name: String): Seq[Span] = spans.filter(_.name == name).toSeq

  def toJson(cores: Int): String = {
    val rows = spans.map { s =>
      val c = subtree(s)
      Json.obj(Seq(
        "id" -> Json.num(s.id), "name" -> Json.str(s.name),
        "parent" -> Json.num(s.parent), "run_id" -> Json.str(runId),
        "start_ns" -> Json.num(s.start.toDouble), "end_ns" -> Json.num(s.end.toDouble),
        "self_s" -> Json.num(selfSeconds(s))) ++ c.fields(s.seconds, cores))
    }
    Json.arr(rows.toSeq)
  }
}

object Tracer {
  val Tag = "perfbench.span"

  final case class Span(id: Int, name: String, parent: Int, start: Long,
      var end: Long = -1L) {
    def seconds: Double = (end - start) / 1e9
  }

  final class Counters {
    var jobs = 0L
    var stages = 0L
    var tasks = 0L
    var taskS = 0.0
    var maxTaskS = 0.0
    var inputBytes = 0L
    var inputRecords = 0L
    var outputBytes = 0L
    var shuffleWriteBytes = 0L
    var spillBytes = 0L
    var gcS = 0.0

    def add(o: Counters): Unit = {
      jobs += o.jobs; stages += o.stages; tasks += o.tasks; taskS += o.taskS
      maxTaskS = math.max(maxTaskS, o.maxTaskS)
      inputBytes += o.inputBytes; inputRecords += o.inputRecords
      outputBytes += o.outputBytes; shuffleWriteBytes += o.shuffleWriteBytes
      spillBytes += o.spillBytes; gcS += o.gcS
    }

    def fields(wallS: Double, cores: Int): Seq[(String, String)] = Seq(
      "jobs" -> Json.num(jobs), "stages" -> Json.num(stages),
      "tasks" -> Json.num(tasks), "task_s" -> Json.num(taskS),
      "busy_frac" -> Json.num(if (wallS > 0) taskS / (wallS * cores) else 0.0),
      "max_task_frac" -> Json.num(if (taskS > 0) maxTaskS / taskS else 0.0),
      "input_bytes" -> Json.num(inputBytes), "input_records" -> Json.num(inputRecords),
      "output_bytes" -> Json.num(outputBytes),
      "shuffle_write_bytes" -> Json.num(shuffleWriteBytes),
      "spill_bytes" -> Json.num(spillBytes), "gc_s" -> Json.num(gcS))
  }
}

/** Minimal JSON rendering; numbers keep all their digits. */
object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case '\n' => sb ++= "\\n"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    (sb += '"').toString
  }
  def num(x: Double): String =
    if (x.isNaN || x.isInfinite) "null"
    else if (x == math.rint(x) && math.abs(x) < 1e15) x.toLong.toString
    else x.toString
  def num(x: Long): String = x.toString
  def obj(fields: Seq[(String, String)]): String =
    fields.map { case (k, v) => str(k) + ": " + v }.mkString("{", ", ", "}")
  def arr(xs: Seq[String]): String = xs.mkString("[", ", ", "]")
}
