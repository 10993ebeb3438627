package graft.perfbench

import java.nio.file.Path

import org.apache.spark.sql.SparkSession

import graft.api.{Crawler, CrawlerOptions}
import graft.core._
import graft.engine.CrawlEngine
import graft.sim.RefSimulator
import Check.Obs
import Stats.time

/** The three crawl workloads. Each builds its `SyntheticWeb` and seed
  * list from the workload seed; the engine receives only those. */
object CrawlWorkloads {
  /** Web shape, seed count and round cap of one crawl workload. */
  final case class Size(nHosts: Int, pagesPerHost: Int, megaFactor: Int,
      seeds: Int, maxRounds: Int)

  def sizeOf(workload: String, smoke: Boolean): Size = (workload, smoke) match {
    case ("frontier-lean", false) => Size(4000, 100, 12, 20000, 2)
    case ("content-rich", false) => Size(2000, 100, 12, 8000, 2)
    case ("drain-recrawl", false) => Size(100, 3, 3, 200, 200)
    case ("drain-recrawl", true) => Size(8, 2, 1, 8, 50)
    case (_, true) => Size(60, 10, 4, 200, 2)
  }

  // lean pages: minimal spans; rich pages: ≈55 spans × ≈13 words
  def web(seed: Long, s: Size, rich: Boolean): SyntheticWeb =
    if (rich) SyntheticWeb(seed, s.nHosts, s.pagesPerHost, s.megaFactor,
      spanBase = 40, spanRange = 30, wordBase = 8, wordRange = 10)
    else SyntheticWeb(seed, s.nHosts, s.pagesPerHost, s.megaFactor,
      spanBase = 2, spanRange = 4, wordBase = 3, wordRange = 4)

  /** A different web of the same shape, for warming the JVM up. */
  private def warmSeed(seed: Long): Long = seed ^ 0x5DEECE66DL

  private def stateDir(c: Ctx, name: String): Path = {
    val d = c.o.work.resolve("state").resolve(name)
    Host.deleteTree(d)
    d
  }

  private def statsStr(ss: Seq[CrawlEngine#RoundStats]): String =
    ss.map(s => Seq(s.round, s.candidates, s.admitted, s.fetchedOk, s.failed,
      s.discovered, s.enqueued).mkString(":")).mkString(";")

  // the fields the reference simulator counts the same way as the engine
  private def schedStr(ss: Seq[(Long, Long, Long, Long, Long)]): String =
    ss.map(t => Seq(t._1, t._2, t._3, t._4, t._5).mkString(":")).mkString(";")
  private def sched(ss: Seq[CrawlEngine#RoundStats]): String =
    schedStr(ss.filter(_.admitted > 0)
      .map(s => (s.round, s.admitted, s.fetchedOk, s.failed, s.enqueued)))
  private def simSched(r: RefSimulator.SimResult): String =
    schedStr(r.stats.filter(_.admitted > 0)
      .map(s => (s.round, s.admitted, s.fetchedOk, s.failed, s.enqueued)))

  private def seenDigest(spark: SparkSession, eng: CrawlEngine): String = {
    import spark.implicits._
    Digest.ofKeys(eng.frontier().select($"url_hash").as[Long].collect())
  }

  /** One measured crawl: its stats, run wall, round walls, init wall,
    * heap bytes allocated and program cpu seconds (init and run). */
  final case class Run(stats: Seq[CrawlEngine#RoundStats], runS: Double,
      roundS: Seq[Double], initS: Double, allocBytes: Long, cpuS: Double) {
    def urls: Long = stats.map(s => s.admitted + s.enqueued).sum
  }

  private def crawl(c: Ctx, web: SyntheticWeb, cfg: CrawlConfig,
      seeds: Seq[String], dir: Path): (CrawlEngine, Run) = {
    val cpu0 = Host.appCpuS()
    val eng = new CrawlEngine(c.spark, web, cfg, dir.toString)
    val (_, initS) = time(c.tracer.span("engine", "init")(eng.init(seeds)))
    val (stats, roundS, runS, alloc) = clocked(c.tracer.span("engine", "run")(eng.run()))
    (eng, Run(stats, runS, roundS, initS, alloc, Host.appCpuS() - cpu0))
  }

  /** Run a crawl call; return its result, round walls, wall and heap
    * bytes allocated meanwhile (all threads, executors included). */
  private def clocked[A](body: => A): (A, Seq[Double], Double, Long) = {
    val a0 = Host.allocatedBytes()
    val t0 = RoundClock.start()
    val out = body
    val t1 = System.nanoTime()
    (out, RoundClock.roundWalls(t0), (t1 - t0) / 1e9, Host.allocatedBytes() - a0)
  }

  /** Seconds one frontier-lean crawl takes on a 4-vCPU box, to turn the
    * run's seconds into a crawl count. */
  private val CrawlS = 7.0

  /** frontier-lean and content-rich: after a small warm-up crawl of
    * another web, a fixed number of fresh crawls, about the run's seconds
    * of them and at least three. The count does not depend on how fast
    * the crawls go, so a slow host does not change which crawls the
    * medians cover. */
  def bigRounds(c: Ctx, workload: String): Unit = {
    val rich = workload == "content-rich"
    val sz = sizeOf(workload, c.o.smoke)
    val w = web(c.o.seed, sz, rich)
    val cfg = CrawlConfig(maxRounds = sz.maxRounds, parseHtml = rich,
      midRunQueue = Some(RoundClock))
    val seeds = w.seedUrls(sz.seeds)
    val (_, warmS) = time(if (!c.o.smoke) c.tracer.span("warmup", "crawl") {
      val ww = web(warmSeed(c.o.seed), sz, rich)
      crawl(c, ww, cfg, ww.seedUrls(sz.seeds / 10), stateDir(c, s"$workload-warm"))
    })
    lazy val sim = RefSimulator.run(w, seeds, cfg.copy(midRunQueue = None))
    var firstStats: Option[String] = None
    val runs = Seq.newBuilder[Run]
    var stored = (0L, 0L)
    var seenN = 0L
    val crawls = if (c.o.smoke) 1 else math.max(3, math.round(c.o.seconds / CrawlS).toInt)
    (0 until crawls).foreach { i =>
      val dir = stateDir(c, s"$workload-$i")
      val (eng, r) = c.tracer.span("crawl", s"crawl $i")(crawl(c, w, cfg, seeds, dir))
      runs += r
      stored = Host.dirUsage(dir)
      c.check.op(s"$workload crawl $i") {
        val seen = c.tracer.span("check", "seen digest")(seenDigest(c.spark, eng))
        seenN = seen.takeWhile(_ != ':').toLong
        val st = statsStr(r.stats)
        val first = firstStats.getOrElse { firstStats = Some(st); st }
        Seq(Obs("stats", st, () => Some(first)),
          Obs("sched", sched(r.stats), () => Some(simSched(sim))),
          Obs("seen", seen, () => Some(Digest.ofKeys(sim.seenSet))))
      }
      Host.deleteTree(dir)
      c.inter.sample()
    }
    val rs = runs.result()
    val urls = rs.map(_.urls).sum.toDouble
    val rounds = rs.flatMap(_.roundS)
    // the median crawl: a crawl slowed by the host or by late JIT
    // warm-up does not move it
    val urlsPerS = Stats.median(rs.map(r => r.urls / r.runS))
    val m = c.m
    m.put("setup_s", c.sessionS + warmS + Stats.median(rs.map(_.initS)), "s")
    println(f"[perfbench] setup: session ${c.sessionS}%.2f s, warm-up $warmS%.2f s, " +
      f"init p50 ${Stats.median(rs.map(_.initS))}%.2f s; crawl walls " +
      rs.map(r => f"${r.initS}%.2f+${r.runS}%.2f").mkString(" ") +
      "; crawl cpu s " + rs.map(r => f"${r.cpuS}%.2f").mkString(" "))
    m.put("throughput_per_s", urlsPerS, "1/s")
    m.put("latency_s_p50", Stats.median(rounds), "s")
    m.put("crawl_urls_per_s", urlsPerS, "urls/s")
    m.put("cpu_s_per_op", Stats.median(rs.map(_.cpuS)), "s")
    m.put("crawl_cpu_us_per_url", rs.map(_.cpuS).sum * 1e6 / urls, "us/url")
    m.put("round_s_p50", Stats.median(rounds), "s")
    putTail(c, "round_s_tail", rounds)
    m.put("bytes_stored_per_url", stored._1.toDouble / math.max(1L, seenN), "B/url")
    m.put("crawl_runs", rs.size, "count")
    if (c.traced) {
      engineLayer(c, "engine", rs)
      val written = c.tracer.spark("crawl")("output_bytes").toDouble +
        c.tracer.unattributed("output_bytes")
      m.put("icelite.bytes_written_per_url", written / urls, "B/url")
      m.put("icelite.write_amplification", written / rs.size / math.max(1L, stored._1), "ratio")
      m.put("icelite.files_per_round", stored._2.toDouble / rs.head.roundS.size, "count")
      coreLayer(c, w, cfg, seeds)
      facadeLayer(c, workload, w, sz, seeds, firstStats.get)
    }
  }

  /** api.* and icelite.read_s on a big-rounds workload: the same crawl
    * once more through the node-crawler-shaped facade, then forget a
    * sample of its pages and read the documents. */
  private def facadeLayer(c: Ctx, workload: String, w: SyntheticWeb, sz: Size,
      seeds: Seq[String], expectedStats: String): Unit = {
    val dir = stateDir(c, s"$workload-api")
    val cr = new Crawler(c.spark, w, dir.toString, CrawlerOptions(maxRounds = sz.maxRounds,
      parseHtml = workload == "content-rich", midRunQueue = Some(RoundClock)))
    c.tracer.span("api", "queue")(cr.queue(seeds.map(SeedRequest(_))))
    val (res, rounds, runS, _) = clocked(c.tracer.span("api", "run")(cr.run()))
    val sample = recrawlSample(c, res.documents, sz)
    val (_, forgetS) = time(c.tracer.span("api", "forget")(cr.forget(sample)))
    val (_, readS) = time(c.tracer.span("icelite", "read documents")(Digest.of(res.documents)))
    c.check.op(s"$workload facade crawl") {
      Seq(Obs("facade_stats", statsStr(res.stats), () => Some(expectedStats)))
    }
    c.m.put("api.run_self_s", runS - rounds.sum, "s")
    c.m.put("api.forget_s", forgetS, "s")
    c.m.put("icelite.read_s", readS, "s")
    Host.deleteTree(dir)
  }

  /** A fixed set of fetched pages, one per host, by hash order. */
  private def recrawlSample(c: Ctx, documents: org.apache.spark.sql.DataFrame,
      sz: Size): Seq[String] = c.tracer.span("check", "sample") {
    import c.spark.implicits._
    documents.select($"doc_id").as[String].collect().toSeq
      .sortBy(Hashing.xxhash64).groupBy(UrlCanonicalizer.hostOf).values.map(_.head)
      .toSeq.sortBy(Hashing.xxhash64).take(math.max(1, sz.seeds / 10))
  }

  /** drain-recrawl: the node-crawler-shaped facade on a small rich web —
    * queue the seeds and drain, then repeat recrawl cycles (forget a
    * fixed sample of fetched pages, queue them again, drain, read the
    * documents) for the run's seconds. Many small rounds. */
  def drainRecrawl(c: Ctx): Unit = {
    val sz = sizeOf("drain-recrawl", c.o.smoke)
    val w = web(c.o.seed, sz, rich = true)
    val opts = CrawlerOptions(maxRounds = sz.maxRounds, parseHtml = true,
      midRunQueue = Some(RoundClock))
    val seeds = w.seedUrls(sz.seeds)
    val m = c.m
    val (_, warmS) = time(if (!c.o.smoke) c.tracer.span("warmup", "drain") {
      val ww = web(warmSeed(c.o.seed), sz.copy(nHosts = sz.nHosts / 5), rich = true)
      val cr = new Crawler(c.spark, ww, stateDir(c, "drain-recrawl-warm").toString,
        opts.copy(maxRounds = 3))
      cr.queue(ww.seedUrls(sz.seeds / 5).map(SeedRequest(_)))
      Digest.of(cr.run().documents)
    })
    val dir = stateDir(c, "drain-recrawl")
    val drainCpu0 = Host.appCpuS()
    val (crawler, queueS) = time {
      val cr = new Crawler(c.spark, w, dir.toString, opts)
      c.tracer.span("api", "queue")(cr.queue(seeds.map(SeedRequest(_))))
      cr
    }
    // the drain: queue → run until the frontier is empty
    val (drained, drainRounds, drainS, drainAlloc) =
      clocked(c.tracer.span("api", "run")(crawler.run()))
    val drain = Run(drained.stats, drainS, drainRounds, queueS, drainAlloc,
      Host.appCpuS() - drainCpu0)
    val cfg = crawler.engine.cfg.copy(midRunQueue = None)
    val (seen0, docs0) = c.tracer.span("check", "drain digests") {
      (seenDigest(c.spark, crawler.engine), Digest.of(drained.documents))
    }
    var docs = docs0
    c.check.op("drain-recrawl drain") {
      lazy val sim = RefSimulator.run(w, seeds, cfg)
      Seq(Obs("drain_stats", statsStr(drained.stats), required = false),
        Obs("drain_sched", sched(drained.stats), () => Some(simSched(sim))),
        Obs("drain_seen", seen0, () => Some(Digest.ofKeys(sim.seenSet))))
    }
    val (storedBytes, storedFiles) = Host.dirUsage(dir)
    val sample = recrawlSample(c, drained.documents, sz)
    val failing = sample.count(w.fetchFails(_, 0, cfg))
    final case class Cycle(run: Run, forgetS: Double, readS: Double, wallS: Double)
    val cycles = scala.collection.mutable.ArrayBuffer.empty[Cycle]
    var firstCycle: Option[String] = None
    c.loop(min = if (c.o.smoke) 1 else 2, spent = drainS) { i =>
      val c0 = System.nanoTime()
      val cpu0 = Host.appCpuS()
      val (forgotten, forgetS) = time(c.tracer.span("api", "forget")(crawler.forget(sample)))
      c.tracer.span("api", "queue")(crawler.queue(sample.map(SeedRequest(_))))
      val (res, rounds, runS, alloc) = clocked(c.tracer.span("api", "run")(crawler.run()))
      val (newDocs, readS) = time(c.tracer.span("icelite", "read documents")(Digest.of(res.documents)))
      cycles += Cycle(Run(res.stats, runS, rounds, 0.0, alloc, Host.appCpuS() - cpu0),
        forgetS, readS, (System.nanoTime() - c0) / 1e9)
      c.check.op(s"drain-recrawl cycle $i") {
        val seen = c.tracer.span("check", "seen digest")(seenDigest(c.spark, crawler.engine))
        val Array(n0, h0) = docs.split(':').map(_.toLong)
        val Array(n1, h1) = newDocs.split(':').map(_.toLong)
        docs = newDocs
        val cyc = Seq(forgotten, res.stats.map(_.admitted).sum, res.stats.map(_.failed).sum,
          res.stats.map(_.enqueued).sum, n1 - n0).mkString(":")
        val withDocs = s"$cyc:${h1 - h0}"
        val first = firstCycle.getOrElse { firstCycle = Some(withDocs); withDocs }
        // every cycle re-fetches exactly the sample (failing pages twice),
        // adds one document per page and discovers nothing new
        Seq(Obs("cycle", cyc, () => Some(Seq(sample.size, sample.size + failing, failing, 0,
            sample.size).mkString(":"))),
          Obs("cycle_docs", withDocs, () => Some(first)),
          Obs("cycle_seen", seen, () => Some(seen0)))
      }
      cycles.last.wallS
    }
    val cs = cycles.toSeq
    val runs = drain +: cs.map(_.run)
    val rounds = runs.flatMap(_.roundS)
    m.put("setup_s", c.sessionS + warmS + queueS, "s")
    m.put("throughput_per_s", drain.urls / drainS, "1/s")
    m.put("latency_s_p50", Stats.median(cs.map(_.wallS)), "s")
    m.put("drain_s", drainS, "s")
    m.put("crawl_urls_per_s", drain.urls / drainS, "urls/s")
    m.put("round_s_p50", Stats.median(rounds), "s")
    putTail(c, "round_s_tail", rounds)
    m.put("recrawl_cycle_s_p50", Stats.median(cs.map(_.wallS)), "s")
    m.put("cpu_s_per_op", Stats.median(cs.map(_.run.cpuS)), "s")
    m.put("recrawl_cycles", cs.size, "count")
    m.put("bytes_stored_per_url", storedBytes.toDouble /
      math.max(1L, seen0.takeWhile(_ != ':').toLong), "B/url")
    if (c.traced) {
      engineLayer(c, "api", runs)
      val runSpans = c.tracer.seconds("api", _ == "run")
      m.put("api.run_self_s", Stats.median(runSpans.zip(runs).map {
        case (s, r) => s - r.roundS.sum }), "s")
      m.put("api.forget_s", Stats.median(cs.map(_.forgetS)), "s")
      m.put("icelite.read_s", Stats.median(cs.map(_.readS)), "s")
      val written = c.tracer.spark("api", _ == "run")("output_bytes").toDouble +
        c.tracer.unattributed("output_bytes")
      m.put("icelite.bytes_written_per_url", written / runs.map(_.urls).sum, "B/url")
      m.put("icelite.write_amplification", written / math.max(1L, storedBytes), "ratio")
      m.put("icelite.files_per_round", storedFiles.toDouble / drainRounds.size, "count")
      coreLayer(c, w, cfg, seeds)
    }
    Host.deleteTree(dir)
  }

  private def putTail(c: Ctx, name: String, xs: Seq[Double]): Unit =
    Stats.tail(xs) match {
      case Some((p, v)) =>
        c.m.put(name, v, "s")
        println(f"[perfbench] $name is p$p of ${xs.size} rounds")
      case None =>
        println(s"[perfbench] $name not reported: ${xs.size} rounds, under 11")
    }

  /** engine.* from the listener totals of the `run` spans of `layer`
    * plus the unattributed jobs (the round tails), and the round clock. */
  private def engineLayer(c: Ctx, layer: String, rs: Seq[Run]): Unit = {
    val m = c.m
    val un = c.tracer.unattributed
    val t = c.tracer.spark(layer, _ == "run").map { case (k, v) => k -> (v + un(k)) }
    val urls = rs.map(_.urls).sum.toDouble
    val rounds = rs.map(_.roundS.size).sum.toDouble
    println(f"[perfbench] unattributed Spark jobs: ${un("jobs")} of ${t("jobs")}, " +
      f"cpu ${un("cpu_ns") / 1e9}%.2f s of ${t("cpu_ns") / 1e9}%.2f s")
    m.put("engine.exec_cpu_us_per_url", t("cpu_ns") / 1e3 / urls, "us/url")
    m.put("engine.alloc_bytes_per_url", rs.map(_.allocBytes).sum / urls, "B/url")
    m.put("engine.shuffle_bytes_per_url", t("shuffle_write_bytes") / urls, "B/url")
    m.put("engine.gc_s", t("gc_ms") / 1000.0 / rs.size, "s")
    m.put("engine.jobs_per_round", t("jobs") / rounds, "count")
    m.put("engine.stages_per_round", t("stages") / rounds, "count")
    m.put("engine.tasks_per_round", t("tasks") / rounds, "count")
    m.put("engine.exec_idle_s_per_round",
      c.tracer.idleSeconds(layer, _ == "run").sum / rounds, "s")
    m.put("engine.round_s_p50", Stats.median(rs.flatMap(_.roundS)), "s")
    val s = rs.head.stats
    val admitted = s.map(_.admitted).sum.toDouble
    val discovered = s.map(_.discovered).sum.toDouble
    val enqueued = s.map(_.enqueued).sum.toDouble
    val failed = s.map(_.failed).sum.toDouble
    m.put("engine.admitted", admitted, "count")
    m.put("engine.discovered", discovered, "count")
    m.put("engine.enqueued", enqueued, "count")
    m.put("engine.failed", failed, "count")
    m.put("engine.dedup_new_ratio", enqueued / math.max(1.0, discovered), "ratio")
    m.put("engine.retry_ratio", failed / math.max(1.0, admitted), "ratio")
  }

  /** core.*: single-thread timings of the fetch path's public functions
    * on the workload's own first pages. */
  private def coreLayer(c: Ctx, w: SyntheticWeb, cfg: CrawlConfig,
      seeds: Seq[String]): Unit = {
    val pages = seeds.flatMap(UrlCanonicalizer.canonicalize).distinct.take(300)
    val wires = pages.flatMap(w.pageResponse(_))
    val html = wires.map { case (b, enc) =>
      CharsetSniffer.decodeWith(ContentCodec.decode(b, enc),
        incomingEncoding = cfg.incomingEncoding, forceUTF8 = cfg.forceUTF8)
    }
    val links = pages.flatMap(u => w.content(u).toSeq.flatMap(_._2.map(l => (u, l.url))))
    // mean µs per item over 5 passes, after one untimed pass
    def perItem(name: String, n: Int)(pass: => Unit): Double = {
      pass
      val (_, s) = time(c.tracer.span("core", name)((1 to 5).foreach(_ => pass)))
      s * 1e6 / (5.0 * math.max(1, n))
    }
    c.m.put("core.fetch_us_per_page", perItem("Fetcher.fetch", pages.size)(
      pages.foreach(u => sink += Fetcher.fetch(w, u, 1, cfg).spans.size)), "us")
    c.m.put("core.decode_us_per_page", perItem("decode", wires.size)(
      wires.foreach { case (b, enc) =>
        sink += CharsetSniffer.decodeWith(ContentCodec.decode(b, enc),
          incomingEncoding = cfg.incomingEncoding, forceUTF8 = cfg.forceUTF8).length
      }), "us")
    c.m.put("core.extract_us_per_page", perItem("HtmlSpanExtractor.extract", html.size)(
      html.foreach(h => sink += HtmlSpanExtractor.extract(h)._1.size)), "us")
    c.m.put("core.resolve_us_per_link", perItem("UrlCanonicalizer.resolve", links.size)(
      links.foreach { case (b, l) => sink += UrlCanonicalizer.resolve(b, l).size }), "us")
  }

  // results of the core timings land here, so the JIT cannot drop the calls
  @volatile private var sink = 0L
}
