package zhbench

import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable.ArrayBuffer
import org.apache.spark.scheduler._
import org.apache.spark.sql.streaming.StreamingQueryListener.QueryProgressEvent

/** In-memory spans around the benchmark's calls into each layer.
  *
  * With tracing off, [[span]] only runs its body: the timed run and the
  * traced run execute the same calls, and the traced one also records
  * name, start, end and parent of each call. Spans of one run share
  * [[runId]]; they are written to a file when the run ends.
  */
object Trace {
  final case class Span(id: Int, parent: Int, name: String, start: Long, end: Long) {
    def dur: Long = end - start
  }

  @volatile var enabled = false
  var runId = ""
  val spans = ArrayBuffer[Span]()
  private var stack = List.empty[Int]
  private var nextId = 1

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = nextId; nextId += 1
      val parent = stack.headOption.getOrElse(0)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        spans += Span(id, parent, name, t0, System.nanoTime())
        stack = stack.tail
      }
    }

  /** A span's self time: its duration minus the part of its interval
    * that its direct child spans cover (overlapping children counted
    * once, parts outside the parent ignored). */
  def selfTimes(all: Seq[Span]): Map[Int, Long] = {
    val kids = all.groupBy(_.parent)
    all.map { s =>
      val iv = kids.getOrElse(s.id, Nil)
        .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L
      var curA = Long.MinValue
      var curB = Long.MinValue
      iv.foreach { case (a, b) =>
        if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
        else curB = math.max(curB, b)
      }
      if (curB > curA) covered += curB - curA
      s.id -> (s.dur - covered)
    }.toMap
  }

  def spansJson(): String = {
    val self = selfTimes(spans.toSeq)
    spans.map(s =>
      s"""{"run":"${Json.esc(runId)}","id":${s.id},"parent":${s.parent},""" +
        s""""name":"${Json.esc(s.name)}","start_ns":${s.start},"end_ns":${s.end},""" +
        s""""self_ns":${self(s.id)}}""").mkString("\n")
  }
}

/** Spark's task and scheduler layer as counters, fed by a listener the
  * benchmark registers only in the traced run. Streaming progress
  * arrives on the same bus (from every session, also the scoped ones
  * the streaming rows start), so micro-batch phases are counted here
  * too. */
class SparkCounters extends SparkListener {
  val jobs, stages, tasks = new AtomicLong
  val runMs, cpuNs, gcMs = new AtomicLong
  val inputBytes, shuffleRead, shuffleWrite, spill = new AtomicLong
  val batches, planningMs, addBatchMs, walMs = new AtomicLong

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case p: QueryProgressEvent =>
      val d = p.progress.durationMs
      def ms(k: String): Long = Option(d.get(k)).map(_.longValue).getOrElse(0L)
      batches.incrementAndGet()
      planningMs.addAndGet(ms("queryPlanning"))
      addBatchMs.addAndGet(ms("addBatch"))
      walMs.addAndGet(ms("walCommit"))
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = stages.incrementAndGet()
  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      runMs.addAndGet(m.executorRunTime)
      cpuNs.addAndGet(m.executorCpuTime)
      gcMs.addAndGet(m.jvmGCTime)
      inputBytes.addAndGet(m.inputMetrics.bytesRead)
      shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  /** name → value, in the units the metric names carry */
  def snapshot(): Map[String, Double] = Map(
    "spark.jobs" -> jobs.get.toDouble,
    "spark.stages" -> stages.get.toDouble,
    "spark.tasks" -> tasks.get.toDouble,
    "spark.executor_run_s" -> runMs.get / 1e3,
    "spark.executor_cpu_s" -> cpuNs.get / 1e9,
    "spark.gc_s" -> gcMs.get / 1e3,
    "spark.input_bytes" -> inputBytes.get.toDouble,
    "spark.shuffle_read_bytes" -> shuffleRead.get.toDouble,
    "spark.shuffle_write_bytes" -> shuffleWrite.get.toDouble,
    "spark.spill_bytes" -> spill.get.toDouble)
}

object SparkCounters {
  def diff(after: Map[String, Double], before: Map[String, Double]): Map[String, Double] =
    after.map { case (k, v) => k -> (v - before.getOrElse(k, 0.0)) }
}

object Json {
  def esc(s: String): String =
    s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    }

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null" else java.lang.Double.toString(v)

  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => "\"" + esc(k) + "\":" + v }.mkString("{", ",", "}")
}
