package graft.perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

/** Entry point of the benchmark JVM. `perfbench/run.py` builds the
  * classes and launches this with:
  *
  * {{{
  *   <workload|all> <seed> <seconds> <trace 0|1> <smoke 0|1>
  *   <launch epoch ms> <work dir> <data dir> <expected dir>
  * }}}
  *
  * It prints human-readable metric lines and, last, one line
  * `PERFBENCH_RESULT {json}` per workload with every metric it measured;
  * run.py picks the ones BENCHMARK.json names. */
object Main {
  final case class Opts(workload: String, seed: Long, seconds: Double,
      trace: Boolean, smoke: Boolean, launchMs: Long, work: Path,
      data: Path, expected: Path)

  val Workloads = Seq("frontier-lean", "content-rich", "drain-recrawl", "analytics")

  def main(args: Array[String]): Unit = {
    val o = Opts(args(0), args(1).toLong, args(2).toDouble, args(3) == "1",
      args(4) == "1", args(5).toLong, Paths.get(args(6)).toAbsolutePath,
      Paths.get(args(7)).toAbsolutePath, Paths.get(args(8)).toAbsolutePath)
    val names = if (o.workload == "all") Workloads else Seq(o.workload)
    require(names.forall(Workloads.contains), s"unknown workload ${o.workload}")
    val cores = Runtime.getRuntime.availableProcessors()
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", o.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", o.work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionReadyS = (System.currentTimeMillis() - o.launchMs) / 1000.0
    var allOk = true
    try {
      names.zipWithIndex.foreach { case (w, i) =>
        // the JVM and the session are set up once; later workloads of a
        // smoke run reuse them
        val r = runOne(spark, o, w, if (i == 0) sessionReadyS else 0.0)
        allOk &&= r
      }
    } finally spark.stop()
    if (!allOk) sys.exit(1)
  }

  private def runOne(spark: SparkSession, o: Opts, workload: String,
      sessionS: Double): Boolean = {
    val counters = if (o.trace) {
      val c = new SparkCounters; spark.sparkContext.addSparkListener(c); Some(c)
    } else None
    val tracer = new Tracer(spark.sparkContext, counters, s"$workload-${o.seed}")
    val m = new Metrics
    val inter = new Interference
    val gc0 = Host.gcSeconds()
    val alloc0 = Host.allocatedBytes()
    val jit0 = Host.jitCpuS()
    val check = new Check(o.expected.resolve(s"$workload.json"),
      if (o.smoke) "smoke" else "full", o.seed)
    val ctx = Ctx(spark, o, tracer, m, check, inter, sessionS)
    try workload match {
      case "frontier-lean" | "content-rich" => CrawlWorkloads.bigRounds(ctx, workload)
      case "drain-recrawl" => CrawlWorkloads.drainRecrawl(ctx)
      case "analytics" => AnalyticsWorkload.run(ctx)
    } catch {
      case e: Exception =>
        System.err.println(s"[perfbench] $workload failed: $e")
        e.printStackTrace()
        check.fail(s"exception: $e")
    }
    m.put("peak_rss_mb", Host.peakRssMb(), "MB")
    m.put("jvm.gc_s", Host.gcSeconds() - gc0, "s")
    m.put("jvm.alloc_bytes", (Host.allocatedBytes() - alloc0).toDouble, "B")
    m.put("jvm.jit_cpu_s", Host.jitCpuS() - jit0, "s")
    m.put("host.steal_frac", inter.stealFrac, "ratio")
    m.put("host.loadavg", inter.loadavg, "load")
    m.put("error_rate", check.errorRate, "ratio")
    if (o.trace) {
      val p = o.work.resolve("spans").resolve(s"$workload-seed${o.seed}.json")
      tracer.write(p)
      println(s"[perfbench] spans written to $p")
      counters.foreach(spark.sparkContext.removeSparkListener)
    }
    check.report()
    m.print(workload)
    println("PERFBENCH_RESULT " + m.json(workload, o.seed, check))
    check.ok
  }
}

/** What every workload needs. */
final case class Ctx(spark: SparkSession, o: Main.Opts, tracer: Tracer,
    m: Metrics, check: Check, inter: Interference, sessionS: Double) {
  def traced: Boolean = o.trace
  /** Run `op` at least `min` times and until the seconds it reports as
    * measured (checks excluded) add up to `o.seconds` from `spent`. */
  def loop(min: Int, spent: Double = 0.0)(op: Int => Double): Unit = {
    var measured = spent
    var i = 0
    while (i < min || measured < o.seconds) {
      measured += op(i); i += 1; inter.sample()
    }
  }
}

/** Named metrics with units, in insertion order. */
final class Metrics {
  private val values = mutable.LinkedHashMap.empty[String, (Double, String)]
  def put(name: String, value: Double, unit: String): Unit =
    values(name) = (value, unit)

  def print(workload: String): Unit = values.foreach { case (k, (v, u)) =>
    println(f"[perfbench] $workload%-14s $k%-42s ${Json.num(v)}%s $u%s")
  }

  def json(workload: String, seed: Long, check: Check): String = {
    val ms = values.map { case (k, (v, u)) =>
      s"${Json.str(k)}:{\"value\":${Json.num(v)},\"unit\":${Json.str(u)}}"
    }.mkString("{", ",", "}")
    s"""{"workload":${Json.str(workload)},"seed":$seed,"correct":${check.ok},""" +
      s""""attempted":${check.attempted},"failed":${check.failed},"metrics":$ms}"""
  }
}

object Stats {
  /** The body's result and its wall seconds. */
  def time[A](body: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val a = body
    (a, (System.nanoTime() - t0) / 1e9)
  }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Linear-interpolated quantile (0 for an empty sample). */
  def quantile(xs: Seq[Double], q: Double): Double = {
    if (xs.isEmpty) return 0.0
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }

  /** The highest whole percentile with at least ten samples beyond it,
    * as (percentile, value); None under eleven samples. */
  def tail(xs: Seq[Double]): Option[(Int, Double)] = {
    val n = xs.size
    if (n < 11) None
    else {
      val p = math.floor(100.0 * (n - 10) / n).toInt
      Some((p, quantile(xs, p / 100.0)))
    }
  }

  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else math.exp(xs.map(x => math.log(math.max(x, 1e-9))).sum / xs.size)
}
