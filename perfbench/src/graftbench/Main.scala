package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** What a workload sees of the run: the session, the tracer, and the
  * recorder for operations and output checks. */
final class Ctx(val spark: SparkSession, val tracer: Tracer,
                val corrupt: Boolean, events: Events) {
  private var pass = 0
  private var currentOp: Option[String] = None
  private var currentFailed = false
  private var lastFailed = false
  private[graftbench] var opsDone = 0
  private[graftbench] var failedOps = 0

  private[graftbench] val opSeconds = mutable.Map[String, Double]().withDefaultValue(0.0)

  private[graftbench] def startPass(i: Int): Unit = { pass = i; opSeconds.clear() }

  /** One client operation: a call into the engine, timed, and a span
    * when tracing is on. `kind` is "write" when the call stores data,
    * "read" when it only returns results. */
  def op[A](kind: String, name: String)(body: => A): A = {
    currentOp = Some(name)
    currentFailed = false
    val t0 = System.nanoTime()
    try tracer.span(name, newOp = true)(body)
    catch {
      case e: Throwable =>
        currentFailed = true
        events.line(Json.obj("ev" -> "error", "op" -> name,
          "detail" -> s"${e.getClass.getName}: ${e.getMessage}"))
        throw e
    } finally {
      val s = (System.nanoTime() - t0) / 1e9
      opSeconds(name) += s
      opsDone += 1
      if (currentFailed) failedOps += 1
      events.line(Json.obj("ev" -> "op", "pass" -> pass, "kind" -> kind,
        "name" -> name, "s" -> s, "traced" -> tracer.on,
        "ok" -> !currentFailed))
      currentOp = None
      lastFailed = currentFailed
    }
  }

  /** An output check of the operation that is running or has just run;
    * a mismatch fails that operation, once however many checks fail. */
  def check(name: String, ok: Boolean, detail: => String = ""): Unit =
    if (!ok) {
      events.line(Json.obj("ev" -> "check", "name" -> name, "ok" -> false,
        "detail" -> detail))
      if (currentOp.isDefined) currentFailed = true
      else if (!lastFailed) { lastFailed = true; failedOps += 1 }
    }

  def count(name: String, value: Double): Unit =
    events.line(Json.obj("ev" -> "count", "name" -> name, "value" -> value,
      "pass" -> pass, "traced" -> tracer.on))
}

/** Append-only JSON-lines record of one benchmark run. */
final class Events(path: Path) {
  private val out = Files.newBufferedWriter(path, StandardCharsets.UTF_8)
  def line(s: String): Unit = synchronized { out.write(s); out.write('\n'); out.flush() }
  def close(): Unit = out.close()
}

trait Workload {
  /** The operations whose time makes up a pass's time; empty means the
    * whole pass. */
  def passOps: Set[String] = Set.empty
  /** Input size at `--scale 1`, as a fraction of the size the workload's
    * description names; chosen so that a run fits the benchmark's time
    * budget. */
  def defaultScale: Double
  /** Generate the inputs for one set-up round under `dir` and prepare
    * the session; everything here counts towards set-up time. */
  def setup(spark: SparkSession, dir: Path, seed: Long, scale: Double,
            events: Events): Unit
  /** One pass of the workload's fixed operation sequence. */
  def pass(ctx: Ctx, i: Int): Unit
}

object Main {
  val SetupRounds = 3
  /** Smallest number of warm passes a run makes, however short: one, so
    * that a run fits the benchmark's time budget. */
  val MinPasses = 1
  /** A pass during which the hypervisor stole more than this share of the
    * machine's CPU time measures the neighbours, not the engine (on a
    * shared 4-vCPU VM, passes with 2-9% steal ran 15-30% slower than
    * passes with none): the run makes up to `ExtraPasses` more, and the
    * metrics use the clean ones. One extra pass at most keeps the run
    * within the benchmark's time budget. */
  val MaxSteal = 0.015
  val ExtraPasses = 1

  final case class Args(workload: String = "", seed: Long = 1L,
                        seconds: Double = 10, trace: Boolean = false,
                        scale: Double = 1.0, corrupt: Boolean = false,
                        work: String = "", events: String = "",
                        spans: String = "")

  @annotation.tailrec
  def parse(args: List[String], a: Args = Args()): Args = args match {
    case Nil => a
    case "--workload" :: v :: r => parse(r, a.copy(workload = v))
    case "--seed" :: v :: r => parse(r, a.copy(seed = v.toLong))
    case "--seconds" :: v :: r => parse(r, a.copy(seconds = v.toDouble))
    case "--trace" :: v :: r => parse(r, a.copy(trace = v == "1"))
    case "--scale" :: v :: r => parse(r, a.copy(scale = v.toDouble))
    case "--corrupt" :: v :: r => parse(r, a.copy(corrupt = v == "1"))
    case "--work" :: v :: r => parse(r, a.copy(work = v))
    case "--events" :: v :: r => parse(r, a.copy(events = v))
    case "--spans" :: v :: r => parse(r, a.copy(spans = v))
    case other :: _ => throw new IllegalArgumentException(s"unknown argument $other")
  }

  def workload(name: String): Workload = name match {
    case "etl_reference" => new EtlReference
    case "table_lifecycle" => new TableLifecycle
    case "curation_dedup" => new CurationDedup
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def session(work: Path, trace: Boolean): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors()
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graftbench")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.hadoop.hadoop.tmp.dir", work.resolve("tmp").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
    val s = (if (trace) b.config("spark.hadoop.fs.file.impl",
      classOf[CountingLocalFileSystem].getName) else b).getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv.toList)
    val w = workload(a.workload)
    val work = Paths.get(a.work).toAbsolutePath
    Files.createDirectories(work)
    val events = new Events(Paths.get(a.events))
    val tracer = new Tracer
    var exit = 0
    try {
      var spark: SparkSession = null
      (0 until SetupRounds).foreach { r =>
        val t0 = System.nanoTime()
        if (spark != null) spark.stop()
        spark = session(work, a.trace)
        w.setup(spark, work.resolve(s"round$r"), a.seed, a.scale * w.defaultScale, events)
        events.line(Json.obj("ev" -> "setup", "round" -> r,
          "s" -> (System.nanoTime() - t0) / 1e9))
        if (r > 0) deleteTree(work.resolve(s"round${r - 1}"))
      }
      val ctx = new Ctx(spark, tracer, a.corrupt, events)
      /** Runs pass `i`; returns whether the hypervisor stole at most
        * `MaxSteal` of this machine's CPU time meanwhile. */
      def runPass(i: Int): Boolean = {
        ctx.startPass(i)
        val cpu0 = cpuTicks()
        val t0 = System.nanoTime()
        tracer.span("pass")(w.pass(ctx, i))
        val whole = (System.nanoTime() - t0) / 1e9
        val cpu1 = cpuTicks()
        val steal = (cpu1._1 - cpu0._1).toDouble / math.max(1L, cpu1._2 - cpu0._2)
        val s = if (w.passOps.isEmpty) whole else w.passOps.toSeq.map(ctx.opSeconds).sum
        events.line(Json.obj("ev" -> "pass", "i" -> i, "s" -> s,
          "traced" -> tracer.on, "steal" -> steal, "clean" -> (steal <= MaxSteal)))
        steal <= MaxSteal
      }
      runPass(0) // the first pass in this JVM
      def loop(seconds: Double, firstIndex: Int, minPasses: Int): Int = {
        val start = System.nanoTime()
        var i = firstIndex
        var clean = false
        while (i - firstIndex < minPasses || (System.nanoTime() - start) / 1e9 < seconds ||
               (!clean && i - firstIndex < minPasses + ExtraPasses)) {
          clean = runPass(i) || clean
          i += 1
        }
        i
      }
      if (!a.trace) loop(a.seconds, 1, MinPasses)
      else {
        // untraced then traced passes: the difference between them is the
        // tracing overhead
        val next = loop(a.seconds / 2, 1, MinPasses)
        tracer.attach(spark)
        tracer.on = true
        loop(a.seconds / 2, next, MinPasses)
        tracer.on = false
      }
      events.line(Json.obj("ev" -> "result", "attempted" -> ctx.opsDone,
        "failed" -> ctx.failedOps))
      if (ctx.failedOps > 0) exit = 1
      spark.stop() // drains the listener bus before attribution
      if (a.trace) {
        tracer.attribute()
        tracer.writeSpans(Paths.get(a.spans))
      }
    } catch {
      case e: Throwable =>
        events.line(Json.obj("ev" -> "error", "op" -> "run",
          "detail" -> s"${e.getClass.getName}: ${e.getMessage}"))
        e.printStackTrace()
        exit = 1
    } finally {
      events.line(Json.obj("ev" -> "rss", "mb" -> peakRssMb()))
      events.close()
    }
    System.exit(exit)
  }

  /** (steal, total) CPU ticks of the whole machine, from /proc/stat. */
  def cpuTicks(): (Long, Long) = {
    val f = Files.readAllLines(Paths.get("/proc/stat")).get(0).trim.split("\\s+").drop(1).map(_.toLong)
    (if (f.length > 7) f(7) else 0L, f.sum)
  }

  /** The JVM's peak resident set size (VmHWM) in MB. */
  def peakRssMb(): Double = {
    val lines = scala.io.Source.fromFile("/proc/self/status").getLines().toList
    lines.find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
  }

  /** Total bytes of the regular files under `dir`. */
  def dirBytes(dir: Path): Long =
    if (!Files.exists(dir)) 0L
    else {
      val s = Files.walk(dir)
      try {
        val it = s.iterator()
        var total = 0L
        while (it.hasNext) {
          val p = it.next()
          if (Files.isRegularFile(p)) total += Files.size(p)
        }
        total
      } finally s.close()
    }

  def deleteTree(dir: Path): Unit =
    if (Files.exists(dir)) {
      val s = Files.walk(dir)
      try s.sorted(java.util.Comparator.reverseOrder[Path]())
        .forEach(p => Files.deleteIfExists(p))
      finally s.close()
    }
}
