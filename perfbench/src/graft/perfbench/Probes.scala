package graft.perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

import graft.core.SeedRequest

/** Process- and host-level readings taken from outside the program:
  * /proc for the host and this process, the JVM's management beans for
  * GC and allocation. */
object Host {
  /** (steal ticks, all ticks) from the aggregate cpu line of /proc/stat. */
  def cpuTicks(): (Long, Long) =
    try {
      val f = Files.readAllLines(Paths.get("/proc/stat")).get(0)
        .trim.split("\\s+").drop(1).map(_.toLong)
      (if (f.length > 7) f(7) else 0L, f.sum)
    } catch { case _: Exception => (0L, 0L) }

  def loadavg1(): Double =
    try Files.readString(Paths.get("/proc/loadavg")).trim.split("\\s+")(0).toDouble
    catch { case _: Exception => 0.0 }

  /** Peak resident set size of this process (VmHWM), MB. */
  def peakRssMb(): Double =
    try {
      Files.readAllLines(Paths.get("/proc/self/status")).asScala
        .find(_.startsWith("VmHWM:"))
        .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
    } catch { case _: Exception => 0.0 }

  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum / 1000.0

  /** CPU seconds used by this process since JVM start, all threads:
    * the driver, the executor task threads, JIT and GC. Time the
    * hypervisor steals from the vCPUs is not counted. */
  def processCpuS(): Double = ManagementFactory.getOperatingSystemMXBean match {
    case o: com.sun.management.OperatingSystemMXBean => o.getProcessCpuTime / 1e9
    case _ => 0.0
  }

  /** CPU seconds used by the JIT compiler threads since JVM start, from
    * /proc/self/task (clock ticks of 10 ms). run.py keeps the compiler
    * threads alive for the JVM's life, so none of their time is lost. */
  def jitCpuS(): Double =
    try {
      val tasks = Files.list(Paths.get("/proc/self/task"))
      try tasks.iterator().asScala.map { t =>
        try {
          val st = Files.readString(t.resolve("stat"))
          val name = st.substring(st.indexOf('(') + 1, st.lastIndexOf(')'))
          if (!name.contains("CompilerThre")) 0L
          else {
            val f = st.substring(st.lastIndexOf(')') + 2).split(' ')
            f(11).toLong + f(12).toLong
          }
        } catch { case _: Exception => 0L }
      }.sum / 100.0
      finally tasks.close()
    } catch { case _: Exception => 0.0 }

  /** CPU seconds of the program's own threads: the process's minus the
    * JIT compiler's. JIT work depends on when the compiler gets to each
    * method, so it varies from run to run; it is reported apart. */
  def appCpuS(): Double = processCpuS() - jitCpuS()

  /** Heap bytes allocated by all threads since JVM start. In local mode
    * the executor task threads live in this JVM, so this covers them. */
  def allocatedBytes(): Long = ManagementFactory.getThreadMXBean match {
    case t: com.sun.management.ThreadMXBean => t.getTotalThreadAllocatedBytes
    case _ => 0L
  }

  /** Total size and file count of a directory tree. */
  def dirUsage(dir: Path): (Long, Long) = {
    if (!Files.exists(dir)) return (0L, 0L)
    val s = Files.walk(dir)
    try {
      val files = s.iterator().asScala.filter(Files.isRegularFile(_)).toSeq
      (files.map(Files.size).sum, files.size.toLong)
    } finally s.close()
  }

  def deleteTree(dir: Path): Unit = if (Files.exists(dir)) {
    val s = Files.walk(dir)
    try s.iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists)
    finally s.close()
  }
}

/** Interference label for one run: the share of cpu time stolen by the
  * hypervisor and the mean 1-minute load average over the run. */
final class Interference {
  private val (steal0, total0) = Host.cpuTicks()
  private val loads = mutable.ArrayBuffer(Host.loadavg1())
  def sample(): Unit = loads += Host.loadavg1()
  def stealFrac: Double = {
    val (s, t) = Host.cpuTicks()
    if (t > total0) (s - steal0).toDouble / (t - total0) else 0.0
  }
  def loadavg: Double = { sample(); loads.sum / loads.size }
}

/** Round boundaries of a crawl, taken from the engine's public
  * queue-during-crawl hook: the engine calls it on the driver after
  * every completed round, and an empty answer changes nothing. It is a
  * top-level object because the hook rides inside `CrawlConfig`, which
  * the engine ships to executors; a closure over driver state would not
  * serialize. */
object RoundClock extends (Long => Seq[SeedRequest]) with Serializable {
  private val marks = mutable.ArrayBuffer.empty[Long]
  def apply(round: Long): Seq[SeedRequest] = {
    marks.synchronized(marks += System.nanoTime())
    Nil
  }
  /** Forget earlier marks; the next run starts its first round now. */
  def start(): Long = marks.synchronized { marks.clear(); System.nanoTime() }
  /** Wall seconds of each round of the run that began at `t0` (from
    * `start`). A run's last, empty drain-probe round calls no hook and is
    * not counted. */
  def roundWalls(t0: Long): Seq[Double] = marks.synchronized {
    val ts = t0 +: marks.toSeq
    ts.zip(ts.tail).map { case (a, b) => (b - a) / 1e9 }
  }
}

/** Spark work counted from outside the program: a listener the
  * benchmark registers itself. A job belongs to the job group set on
  * the submitting thread, which the tracer sets to the active span's
  * id. A job whose group is not a span open at the job's submission
  * time is unattributed: the engine commits round tails on pool
  * threads, which inherit whatever group was set when the pool thread
  * was created. */
final class SparkCounters extends SparkListener {
  final class Totals {
    val jobs, stages, tasks, cpuNs, runMs, gcMs = new AtomicLong
    val shuffleWriteBytes, outputBytes, spillBytes = new AtomicLong
    def get: Map[String, Long] = Map(
      "jobs" -> jobs.get, "stages" -> stages.get, "tasks" -> tasks.get,
      "cpu_ns" -> cpuNs.get, "run_ms" -> runMs.get, "gc_ms" -> gcMs.get,
      "shuffle_write_bytes" -> shuffleWriteBytes.get,
      "output_bytes" -> outputBytes.get, "spill_bytes" -> spillBytes.get)
  }

  // job id -> (job group or "", submission epoch ms, totals)
  private val jobs = new java.util.concurrent.ConcurrentHashMap[Int, (String, Long, Totals)]()
  private val stageJob = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  private val jobsStarted, jobsEnded = new AtomicLong
  // (launch ms, finish ms) of every finished task, for busy/idle time
  private val intervals = mutable.ArrayBuffer.empty[(Long, Long)]
  private val orphan = new Totals

  private def totalsOfStage(stageId: Int): Totals =
    Option(stageJob.get(stageId)).flatMap(j => Option(jobs.get(j))).map(_._3).getOrElse(orphan)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    jobsStarted.incrementAndGet()
    val g = Option(e.properties).flatMap(p =>
      Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
    val t = new Totals
    t.jobs.incrementAndGet()
    jobs.put(e.jobId, (g, e.time, t))
    e.stageIds.foreach(stageJob.put(_, e.jobId))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = jobsEnded.incrementAndGet()

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    totalsOfStage(e.stageInfo.stageId).stages.incrementAndGet()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val t = totalsOfStage(e.stageId)
    t.tasks.incrementAndGet()
    val info = e.taskInfo
    if (info != null) intervals.synchronized(intervals += ((info.launchTime, info.finishTime)))
    val m = e.taskMetrics
    if (m != null) {
      t.cpuNs.addAndGet(m.executorCpuTime)
      t.runMs.addAndGet(m.executorRunTime)
      t.gcMs.addAndGet(m.jvmGCTime)
      t.shuffleWriteBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      t.outputBytes.addAndGet(m.outputMetrics.bytesWritten)
      t.spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  /** Wait until every started job's end event was delivered (the bus is
    * ordered, so their task events were delivered before it). */
  def settle(): Unit = {
    val deadline = System.currentTimeMillis() + 10000
    while (jobsEnded.get < jobsStarted.get && System.currentTimeMillis() < deadline)
      Thread.sleep(5)
  }

  /** Totals per span id; "" holds the unattributed jobs. `live(id, ms)`
    * says whether span `id` was open at epoch ms. */
  def groups(live: (String, Long) => Boolean): Map[String, Map[String, Long]] = {
    settle()
    val out = mutable.Map.empty[String, Map[String, Long]]
    def add(g: String, t: Map[String, Long]): Unit =
      out(g) = out.get(g).map(o => o.map { case (k, v) => k -> (v + t(k)) }).getOrElse(t)
    jobs.values.asScala.foreach { case (g, ms, t) =>
      add(if (g.nonEmpty && live(g, ms)) g else "", t.get)
    }
    add("", orphan.get)
    out.toMap
  }

  /** Seconds of [from, to] (epoch ms) during which no task was running. */
  def idleSeconds(fromMs: Long, toMs: Long): Double = {
    settle()
    val iv = intervals.synchronized(intervals.toSeq)
      .map { case (a, b) => (math.max(a, fromMs), math.min(b, toMs)) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var covered = 0L
    var curA = 0L; var curB = 0L
    iv.foreach { case (a, b) =>
      if (a > curB) { covered += curB - curA; curA = a; curB = b }
      else curB = math.max(curB, b)
    }
    covered += curB - curA
    math.max(0L, (toMs - fromMs) - covered) / 1000.0
  }
}

/** In-memory spans around the benchmark's calls into each layer, written
  * as one JSON file at exit. A span's id doubles as the Spark job group
  * of the calls made inside it, so listener counts attribute to it. With
  * tracing off, `span` only runs its body. */
final class Tracer(sc: SparkContext, counters: Option[SparkCounters], traceId: String) {
  final case class Span(id: String, name: String, layer: String, parent: String,
      startNs: Long, var endNs: Long = 0L)

  val enabled: Boolean = counters.isDefined
  private val spans = mutable.ArrayBuffer.empty[Span]
  private val byId = mutable.Map.empty[String, Span]
  private val stack = mutable.Stack.empty[Span]
  private val epochNs = System.nanoTime()
  private val epochMs = System.currentTimeMillis()

  private def toMs(ns: Long): Long = epochMs + (ns - epochNs) / 1000000

  def span[A](layer: String, name: String)(body: => A): A =
    if (!enabled) body
    else {
      val s = Span(s"$traceId/${spans.size}", name, layer,
        stack.headOption.map(_.id).orNull, System.nanoTime())
      spans += s
      byId(s.id) = s
      stack.push(s)
      sc.setJobGroup(s.id, name, interruptOnCancel = false)
      try body
      finally {
        s.endNs = System.nanoTime()
        stack.pop()
        stack.headOption match {
          case Some(p) => sc.setJobGroup(p.id, p.name, interruptOnCancel = false)
          case None => sc.clearJobGroup()
        }
      }
    }

  /** Was span `id` open at epoch ms `ms` (1 ms of clock slack)? */
  private def live(id: String, ms: Long): Boolean =
    byId.get(id).exists { s =>
      toMs(s.startNs) - 1 <= ms && (s.endNs == 0L || ms <= toMs(s.endNs) + 1)
    }

  /** Finished spans of `layer` whose name matches, outside warm-ups. */
  private def matching(layer: String, name: String => Boolean): Seq[Span] = {
    def warm(s: Span): Boolean =
      s.layer == "warmup" || (s.parent != null && warm(byId(s.parent)))
    spans.filter(s => s.layer == layer && name(s.name) && s.endNs > 0 && !warm(s)).toSeq
  }

  /** Spark totals of the matching spans and their descendants. */
  def spark(layer: String, name: String => Boolean = _ => true): Map[String, Long] = {
    var ids = matching(layer, name).map(_.id).toSet
    var grew = true
    while (grew) {
      val next = ids ++ spans.filter(s => s.parent != null && ids(s.parent)).map(_.id)
      grew = next.size > ids.size
      ids = next
    }
    sum(ids.toSeq)
  }

  /** Spark totals of the jobs no open span submitted. */
  def unattributed: Map[String, Long] = sum(Seq(""))

  private def sum(ids: Seq[String]): Map[String, Long] = {
    val all = counters.map(_.groups(live)).getOrElse(Map.empty)
    val keys = Seq("jobs", "stages", "tasks", "cpu_ns", "run_ms", "gc_ms",
      "shuffle_write_bytes", "output_bytes", "spill_bytes")
    keys.map(k => k -> ids.flatMap(all.get).map(_.getOrElse(k, 0L)).sum).toMap
  }

  def seconds(layer: String, name: String => Boolean = _ => true): Seq[Double] =
    matching(layer, name).map(s => (s.endNs - s.startNs) / 1e9)

  /** Seconds with no task running inside the matching spans. */
  def idleSeconds(layer: String, name: String => Boolean = _ => true): Seq[Double] =
    matching(layer, name).map(s =>
      counters.map(_.idleSeconds(toMs(s.startNs), toMs(s.endNs))).getOrElse(0.0))

  def write(path: Path): Unit = {
    val groups = counters.map(_.groups(live)).getOrElse(Map.empty)
    def counts(id: String): String = groups.get(id).map(_.toSeq.sorted
      .map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")).getOrElse("{}")
    val body = spans.map { s =>
      s"""{"trace_id":"$traceId","id":"${s.id}","parent":${Json.str(s.parent)},""" +
        s""""layer":"${s.layer}","name":${Json.str(s.name)},""" +
        s""""start_us":${(s.startNs - epochNs) / 1000},"end_us":${(s.endNs - epochNs) / 1000},""" +
        s""""spark":${counts(s.id)}}"""
    }
    Files.createDirectories(path.getParent)
    Files.writeString(path,
      s"""{"trace_id":"$traceId","unattributed_spark":${counts("")},"spans":[\n""" +
        body.mkString(",\n") + "]}\n")
  }
}

object Json {
  def str(s: String): String =
    if (s == null) "null"
    else "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.math.BigDecimal.valueOf(d).toPlainString
}
