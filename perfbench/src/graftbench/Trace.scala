package graftbench

import java.lang.management.ManagementFactory

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.FileSystem
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FileSourceScanExec, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.util.QueryExecutionListener

/** Outside-in tracing: spans around the benchmark's calls into the
  * engine's public functions, plus what Spark's public listeners and
  * Hadoop's FileSystem statistics say happened inside each span.
  *
  * Spans live in memory and are written out once, at the end, one JSON
  * record per span. Spark events arrive asynchronously on the listener
  * bus, so they are buffered with their timestamps and attributed to
  * spans only after the session is stopped (stopping drains the bus).
  * Filesystem counters and GC time are read synchronously at span
  * boundaries. Every span attribute is inclusive of its child spans.
  */
final class Tracer {
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  /** Epoch time in nanoseconds on the same clock as Spark's events. */
  def nowNs(): Long = baseMs * 1000000L + (System.nanoTime() - baseNs)

  final class Span(val id: Int, val parent: Int, val op: Int,
                   val name: String, val startNs: Long) {
    var endNs: Long = 0L
    val attrs: mutable.LinkedHashMap[String, Double] = mutable.LinkedHashMap()
    private[Tracer] val fs0: Array[Long] = Tracer.fsCounters()
    private[Tracer] val gc0: Long = Tracer.gcMillis()
    private[Tracer] def close(): Unit = {
      endNs = nowNs()
      val fs1 = Tracer.fsCounters()
      attrs("fs_read_ops") = (fs1(0) - fs0(0)).toDouble
      attrs("fs_write_ops") = (fs1(1) - fs0(1)).toDouble
      attrs("fs_bytes_written") = (fs1(2) - fs0(2)).toDouble
      attrs("gc_s") = (Tracer.gcMillis() - gc0) / 1e3
    }
    def wallS: Double = (endNs - startNs) / 1e9
  }

  private val spans = mutable.ArrayBuffer[Span]()
  private var stack: List[Span] = Nil
  private var nextOp = 0
  @volatile var on = false

  /** Run `body` inside a span named `name` when tracing is on. A span
    * opened with `newOp` starts a new client operation id; other spans
    * belong to the operation around them (0 outside any). */
  def span[A](name: String, newOp: Boolean = false)(body: => A): A =
    if (!on) body
    else {
      val parent = stack.headOption
      val op = if (newOp) { nextOp += 1; nextOp } else parent.fold(0)(_.op)
      val s = new Span(spans.size + 1, parent.fold(0)(_.id), op, name, nowNs())
      spans += s
      stack = s :: stack
      try body finally { s.close(); stack = stack.tail }
    }

  /** Attach a count to the innermost open span. */
  def count(key: String, v: Double): Unit =
    if (on) stack.headOption.foreach(s => s.attrs(key) = s.attrs.getOrElse(key, 0.0) + v)

  // ---- Spark events, buffered with their timestamps ----
  import Tracer.{Job, Plan, Task}
  private val jobs = mutable.LongMap[Job]()
  private val tasks = mutable.ArrayBuffer[Task]()
  private val plans = mutable.ArrayBuffer[Plan]()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      jobs(e.jobId.toLong) = Job(e.time, e.time)
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobs.get(e.jobId.toLong).foreach(_.endMs = e.time)
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      val m = e.taskMetrics
      if (m != null) synchronized {
        tasks += Task(e.taskInfo.finishTime, m.executorRunTime,
          m.shuffleWriteMetrics.bytesWritten, m.inputMetrics.bytesRead,
          m.memoryBytesSpilled + m.diskBytesSpilled)
      }
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution,
                           durationNs: Long): Unit = record(qe)
    override def onFailure(funcName: String, qe: QueryExecution,
                           exception: Exception): Unit = record(qe)
    private def record(qe: QueryExecution): Unit = {
      val phases = qe.tracker.phases.values
      if (phases.nonEmpty) {
        val planS = phases.map(p => p.endTimeMs - p.startTimeMs).sum / 1e3
        val nodes = Tracer.planNodes(qe.executedPlan)
        val kernels = nodes.map(Tracer.graftKernels).sum
        val files = nodes.collect { case f: FileSourceScanExec =>
          f.metrics.get("numFiles").map(_.value).getOrElse(0L) }.sum
        synchronized {
          plans += Plan(phases.map(_.startTimeMs).min, planS, kernels, files)
        }
      }
    }
  }

  def attach(spark: SparkSession): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
  }

  /** Attribute the buffered Spark events to spans. Call after the
    * session is stopped, so the listener bus has delivered everything. */
  def attribute(): Unit = synchronized {
    val js = jobs.values.toSeq
    spans.foreach { s =>
      val lo = s.startNs / 1000000L
      val hi = (s.endNs + 999999L) / 1000000L
      def in(ms: Long) = ms >= lo && ms <= hi
      val mine = js.filter(j => in(j.startMs))
      s.attrs("jobs") = mine.size.toDouble
      val busyMs = union(mine.map(j => (math.max(j.startMs, lo), math.min(j.endMs, hi))))
      s.attrs("driver_gap_s") = math.max(0.0, s.wallS - busyMs / 1e3)
      val ts = tasks.filter(t => in(t.endMs))
      s.attrs("task_s") = ts.map(_.runMs).sum / 1e3
      s.attrs("shuffle_write_mb") = ts.map(_.shuffleWrite).sum / 1e6
      s.attrs("input_mb") = ts.map(_.input).sum / 1e6
      s.attrs("spill_mb") = ts.map(_.spill).sum / 1e6
      val ps = plans.filter(p => in(p.startMs))
      s.attrs("plan_s") = ps.map(_.planS).sum
      s.attrs("kernel_nodes") = ps.map(_.kernelNodes).sum.toDouble
      s.attrs("scan_files") = ps.map(_.filesRead).sum.toDouble
    }
  }

  private def union(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    iv.filter(i => i._2 > i._1).sortBy(_._1).foreach { case (a, b) =>
      if (a > curE) { total += curE - curS; curS = a; curE = b }
      else curE = math.max(curE, b)
    }
    total + (curE - curS)
  }

  /** One JSON object per span. */
  def writeSpans(path: java.nio.file.Path): Unit = {
    val lines = spans.map { s =>
      val a = s.attrs.map { case (k, v) => s""""$k":${Json.num(v)}""" }
      s"""{"id":${s.id},"parent":${s.parent},"op":${s.op},"name":${Json.str(s.name)},""" +
        s""""start_ns":${s.startNs},"end_ns":${s.endNs}""" +
        (if (a.isEmpty) "" else a.mkString(",", ",", "")) + "}"
    }
    java.nio.file.Files.write(path, lines.asJava)
  }
}

object Tracer {
  private final case class Job(startMs: Long, var endMs: Long)
  private final case class Task(endMs: Long, runMs: Long, shuffleWrite: Long,
                                input: Long, spill: Long)
  private final case class Plan(startMs: Long, planS: Double,
                                kernelNodes: Int, filesRead: Long)

  /** (read operations, write operations, bytes written): operations
    * from the counting local filesystem, bytes from Hadoop's statistics
    * summed over every scheme. */
  def fsCounters(): Array[Long] =
    Array(CountingLocalFileSystem.reads.sum(), CountingLocalFileSystem.writes.sum(),
      FileSystem.getAllStatistics.asScala.map(_.getBytesWritten).sum)

  def gcMillis(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum

  /** Every physical node of an executed plan, looking through adaptive
    * execution wrappers and query stages. */
  def planNodes(p: SparkPlan): Seq[SparkPlan] = {
    val out = mutable.ArrayBuffer[SparkPlan]()
    def walk(n: SparkPlan): Unit = {
      out += n
      n match {
        case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
        case q: QueryStageExec => walk(q.plan)
        case _ =>
      }
      n.children.foreach(walk)
      n.subqueries.foreach(walk)
    }
    walk(p)
    out.toSeq
  }

  /** Engine-provided physical operators and expression kernels
    * (classes of the `graft` package) in one plan node. */
  def graftKernels(n: SparkPlan): Int = {
    def isGraft(o: AnyRef) = o.getClass.getName.startsWith("graft.")
    val exprs = n.expressions.flatMap(_.collect { case e if isGraft(e) => e })
    exprs.size + (if (isGraft(n)) 1 else 0)
  }
}

/** Minimal JSON text helpers for the benchmark's event records. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString

  def obj(fields: (String, Any)*): String =
    fields.map { case (k, v) =>
      str(k) + ":" + (v match {
        case s: String => str(s)
        case b: Boolean => b.toString
        case i: Int => i.toString
        case l: Long => l.toString
        case d: Double => num(d)
        case other => str(other.toString)
      })
    }.mkString("{", ",", "}")
}
