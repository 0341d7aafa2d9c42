package perfbench

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import java.util.concurrent.ConcurrentHashMap
import scala.collection.mutable.ArrayBuffer

/** In-memory span recorder for the traced run. Spans are opened and
  * closed on the calling thread only, so a plain stack suffices. Every
  * span publishes its id as a Spark local property, which is how
  * [[SparkCounters]] charges a job to the layer call that issued it.
  * While disabled a span is just its body: the untraced timing path
  * pays nothing.
  */
final class Tracer {
  import Tracer._

  private val t0 = System.nanoTime()
  private val done = ArrayBuffer.empty[Span]
  private var stack: List[Int] = Nil
  private var nextId = 0
  private var sc: SparkContext = _

  /** Spans are recorded only while enabled. */
  var enabled = false

  /** Repetition id shared by every span opened until the next change. */
  var rep: Int = -1

  def bind(ctx: SparkContext): Unit = sc = ctx

  def apply[T](layer: String, name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      if (sc != null) sc.setLocalProperty(SpanProp, id.toString)
      val start = System.nanoTime()
      var error: String = null
      try body
      catch { case e: Throwable => error = e.toString; throw e }
      finally {
        done += Span(id, parent, rep, layer, name, start - t0, System.nanoTime() - t0, error)
        stack = stack.tail
        if (sc != null) sc.setLocalProperty(SpanProp, stack.headOption.map(_.toString).orNull)
      }
    }

  def spans: Seq[Span] = done.toSeq

  /** Self time per span: its duration minus the time its children
    * cover (children run one after another on one thread, so their
    * durations do not overlap).
    */
  def selfNanos: Map[Int, Long] = {
    val childSum = done.groupMapReduce(_.parent)(_.dur)(_ + _)
    done.map(s => s.id -> (s.dur - childSum.getOrElse(s.id, 0L))).toMap
  }

  /** Spans as JSON lines, then one summary line with self seconds per
    * layer and per (layer, name).
    */
  def toJsonLines(header: String): Seq[String] = {
    val self = selfNanos
    val lines = done.sortBy(_.start).map { s =>
      val err = if (s.error == null) "" else s""","error":${Json.str(s.error)}"""
      s"""{"id":${s.id},"parent":${s.parent},"rep":${s.rep},"layer":${Json.str(s.layer)},""" +
        s""""name":${Json.str(s.name)},"start_us":${s.start / 1000},"end_us":${s.end / 1000},""" +
        s""""dur_us":${s.dur / 1000},"self_us":${self(s.id) / 1000}$err}"""
    }
    def secs(m: Map[String, Long]) =
      Json.obj(m.toSeq.sortBy(_._1).map { case (k, v) => k -> (v / 1e9).toString })
    val byLayer = done.groupMapReduce(_.layer)(s => self(s.id))(_ + _)
    val byName = done.groupMapReduce(s => s"${s.layer}.${s.name}")(s => self(s.id))(_ + _)
    header +: lines.toSeq :+
      s"""{"summary":{"self_s_by_layer":${secs(byLayer)},"self_s_by_span":${secs(byName)}}}"""
  }
}

object Tracer {
  val SpanProp = "perfbench.span"

  final case class Span(id: Int, parent: Int, rep: Int, layer: String, name: String,
                        start: Long, end: Long, error: String) {
    def dur: Long = end - start
  }
}

/** Spark listener counters charged to the span that was open when each
  * job was submitted. Registered only for the traced repetitions.
  */
final class SparkCounters extends SparkListener {
  import SparkCounters._

  private val stageSpan = new ConcurrentHashMap[Int, Int]()
  private val bySpan = new ConcurrentHashMap[Int, Counts]()

  private def of(span: Int): Counts = bySpan.computeIfAbsent(span, _ => new Counts)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanProp)))
      .map(_.toInt).getOrElse(-1)
    of(span).synchronized(of(span).jobs += 1)
    e.stageIds.foreach(stageSpan.put(_, span))
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val c = of(stageSpan.getOrDefault(e.stageInfo.stageId, -1))
    c.synchronized(c.stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) {
      val c = of(stageSpan.getOrDefault(e.stageId, -1))
      c.synchronized {
        c.tasks += 1
        c.runMs += m.executorRunTime
        c.gcMs += m.jvmGCTime
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        c.taskMs.getOrElseUpdate(e.stageId, ArrayBuffer.empty[Long]) += e.taskInfo.duration
      }
    }
  }

  /** Counts of the given spans, summed. */
  def sum(spans: Iterable[Int]): Counts = {
    val out = new Counts
    spans.flatMap(s => Option(bySpan.get(s))).foreach { c =>
      c.synchronized {
        out.jobs += c.jobs; out.stages += c.stages; out.tasks += c.tasks
        out.runMs += c.runMs; out.gcMs += c.gcMs
        out.shuffleWrite += c.shuffleWrite; out.spill += c.spill
        c.taskMs.foreach { case (k, v) => out.taskMs.getOrElseUpdate(k, ArrayBuffer.empty) ++= v }
      }
    }
    out
  }
}

object SparkCounters {
  final class Counts {
    var jobs, stages, tasks, runMs, gcMs, shuffleWrite, spill = 0L
    val taskMs = scala.collection.mutable.Map.empty[Int, ArrayBuffer[Long]]

    /** max / median task duration within the stage that ran longest. */
    def taskSkew: Double =
      if (taskMs.isEmpty) 0.0
      else {
        val d = taskMs.values.maxBy(_.sum).sorted
        d.last.toDouble / math.max(1L, d(d.length / 2))
      }
  }
}

/** Minimal JSON writing (values are pre-rendered). */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def obj(kv: Seq[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")
}
