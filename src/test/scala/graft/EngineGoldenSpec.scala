package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.core._
import graft.engine.CrawlEngine
import graft.sim.RefSimulator

/** Golden end-to-end equality: the Spark engine must reproduce the
  * reference simulator's crawl order, final URL-seen set, and per-row
  * span sequences (BASELINE.json:6,15; SURVEY.md §5.2 item 2). */
class EngineGoldenSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  private def runBoth(web: SyntheticWeb, nSeeds: Int, cfg: CrawlConfig) = {
    val seeds = web.seedUrls(nSeeds)
    val sim = RefSimulator.run(web, seeds, cfg)
    val dir = Files.createTempDirectory("graft-golden").toString
    val eng = new CrawlEngine(spark, web, cfg, dir)
    eng.init(seeds)
    val stats = eng.run()
    (sim, eng, stats)
  }

  private def assertGolden(sim: RefSimulator.SimResult, eng: CrawlEngine): Unit = {
    import eng.spark.implicits._
    // 1. crawl order (total order: round, priority, discovered_seq, url_hash)
    val engOrder = eng.crawlLog().select("url_canon").as[String].collect().toVector
    assert(engOrder === sim.crawlOrder, "crawl order mismatch")
    // 2. final URL-seen set = frontier key set
    val engSeen = eng.frontier().select("url_hash").as[Long].collect().toSet
    assert(engSeen === sim.seenSet, "seen set mismatch")
    // 3. span sequences byte-equal per (kind, text, media_ref, order)
    val engDocs = eng.documents().as[Doc].collect()
      .map(d => d.doc_id -> d.spans.sortBy(_.offset)).toMap
    val simDocs = sim.docs.map(d => d.doc_id -> d.spans).toMap
    assert(engDocs.keySet === simDocs.keySet, "doc_id set mismatch")
    engDocs.foreach { case (id, spans) =>
      assert(spans === simDocs(id), s"span mismatch for $id")
    }
  }

  test("golden equality on a small web (priorities, robots, retries)") {
    val web = SyntheticWeb(nHosts = 6, pagesPerHost = 8, megaFactor = 3)
    val cfg = CrawlConfig(numBuckets = 8, roundMs = 500, maxRounds = 6)
    val (sim, eng, _) = runBoth(web, 12, cfg)
    assertGolden(sim, eng)
  }

  test("golden equality with packed span storage (SpanCodec round-trip)") {
    val web = SyntheticWeb(nHosts = 6, pagesPerHost = 8, megaFactor = 3)
    val cfg = CrawlConfig(numBuckets = 8, roundMs = 500, maxRounds = 6,
      packedSpans = true)
    val (sim, eng, _) = runBoth(web, 12, cfg)
    assertGolden(sim, eng)
  }

  test("golden equality with a mid-crawl rate-limit schedule " +
    "(setLimiterProperty while crawling)") {
    val web = SyntheticWeb(nHosts = 5, pagesPerHost = 8, megaFactor = 3)
    // throttle the mega-host to 1 fetch/round for rounds 2-3 only —
    // the same pure schedule evaluated by both schedulers
    val schedule: Long => Map[String, Long] = r =>
      if (r == 2L || r == 3L) Map(web.hostName(0) -> 500L) else Map.empty
    val cfg = CrawlConfig(numBuckets = 8, roundMs = 500, maxRounds = 8,
      rateLimitSchedule = Some(schedule))
    val (sim, eng, _) = runBoth(web, 10, cfg)
    assertGolden(sim, eng)
    // the throttle really bit in its window and ONLY there: host 0's
    // normal quota is 10/round (50 ms delay), throttled quota is 1
    import eng.spark.implicits._
    val byRound = eng.crawlLog()
      .filter($"url_canon".contains(web.hostName(0)))
      .groupBy($"round").count()
      .as[(Long, Long)].collect().toMap
    Seq(2L, 3L).foreach(r =>
      byRound.get(r).foreach(n => assert(n <= 1L, s"round $r not throttled: $n")))
    assert(byRound.exists { case (r, n) => r != 2L && r != 3L && n > 1L },
      s"unthrottled rounds never exceeded the throttle: $byRound")
  }

  test("golden equality with queue-during-crawl (midRunQueue injector)") {
    val web = SyntheticWeb(nHosts = 6, pagesPerHost = 8, megaFactor = 3)
    val extra = web.seedUrls(24).drop(12).distinct
    // the pure per-round injector both schedulers run at the identical
    // point: fresh high-priority work after round 1, a later batch
    // (likely partly duplicate by then — exercising the seen-drop) after
    // round 3
    val injector: Long => Seq[SeedRequest] = {
      case 1L => extra.take(3).map(SeedRequest(_, priority = 1))
      case 3L => extra.drop(3).take(4).map(SeedRequest(_))
      case _  => Nil
    }
    val cfg = CrawlConfig(numBuckets = 8, roundMs = 500, maxRounds = 10,
      midRunQueue = Some(injector))
    val (sim, eng, _) = runBoth(web, 8, cfg)
    assertGolden(sim, eng)
    // the round-1 injection really entered the crawl
    import eng.spark.implicits._
    val order = eng.crawlLog().select("url_canon").as[String].collect().toSet
    extra.take(3).flatMap(UrlCanonicalizer.canonicalize).foreach { u =>
      assert(order.contains(u), s"mid-run injected URL never crawled: $u")
    }
  }

  test("midRunQueue is NOT consulted at the drain round: an injector firing " +
    "only after the reference's last round changes nothing (golden)") {
    val web = SyntheticWeb(nHosts = 4, pagesPerHost = 5, megaFactor = 2)
    val base = CrawlConfig(numBuckets = 4, roundMs = 2000, maxRounds = 20)
    // learn where the reference drains with no injector...
    val plain = RefSimulator.run(web, web.seedUrls(6), base)
    val drainRound = plain.rounds.toLong // first round NEITHER scheduler runs
    // ...then arm an injector that fires exactly there, with
    // out-of-web URLs (they canonicalize, pass robots, and would fetch
    // as 404 ATTEMPTS — observable rows). The simulator never invokes
    // it; the engine's trailing empty probe round must not either.
    val late = Seq("http://h0098.example/p/1", "http://h0099.example/p/2")
    val injector: Long => Seq[SeedRequest] =
      r => if (r >= drainRound) late.map(SeedRequest(_)) else Nil
    val cfg = base.copy(midRunQueue = Some(injector))
    val (sim, eng, _) = runBoth(web, 6, cfg)
    assert(sim.crawlOrder === plain.crawlOrder, "sim fixture drifted")
    assertGolden(sim, eng)
    import eng.spark.implicits._
    val order = eng.crawlLog().select("url_canon").as[String].collect().toSet
    late.flatMap(UrlCanonicalizer.canonicalize).foreach(u =>
      assert(!order.contains(u), s"post-drain injection was crawled: $u"))
  }

  test("golden equality on the byte path across gzip hosts, HEAD requests, " +
    "and Accept-Encoding negotiation") {
    // nHosts=6 ⇒ hosts 1 and 5 serve Content-Encoding: gzip; the
    // parseHtml path must decompress before sniff/parse in BOTH the
    // engine (FetchExtractExpr) and the simulator for spans to match
    val web = SyntheticWeb(nHosts = 6, pagesPerHost = 8, megaFactor = 3)
    val cfg = CrawlConfig(numBuckets = 8, roundMs = 500, maxRounds = 6,
      parseHtml = true)
    val seeds = web.seedUrls(12).distinct
    assert(seeds.exists(_.contains("h0001")) || seeds.exists(_.contains("h0005")),
      "fixture must cross a gzip host")
    val reqs = seeds.zipWithIndex.map { case (u, i) =>
      SeedRequest(u,
        method = if (i % 5 == 0) "HEAD" else null,
        headers =
          if (i % 3 == 0) s"""{"referer":"http://seed/$i","user-agent":"graft/$i"}"""
          else if (i % 3 == 1) """{"accept-encoding":"identity"}"""
          else null)
    }
    val sim = RefSimulator.runRequests(web, reqs, cfg)
    val dir = Files.createTempDirectory("graft-gzip-golden").toString
    val eng = new CrawlEngine(spark, web, cfg, dir)
    eng.initRequests(reqs)
    eng.run()
    assertGolden(sim, eng)
    // HEAD seeds really were body-less: none of them produced a doc
    import eng.spark.implicits._
    val headCanon = reqs.filter(_.method == "HEAD")
      .flatMap(q => UrlCanonicalizer.canonicalize(q.url)).toSet
    val docIds = eng.documents().select($"doc_id").as[String].collect().toSet
    assert(headCanon.nonEmpty && headCanon.forall(!docIds.contains(_)),
      "HEAD request produced a document body")
  }

  test("golden equality with the full HTTP identity family (rotating UA " +
    "cloaking, cookie jar, referer tracking, proxy rotation) on both fetch paths") {
    Seq(false, true).foreach { viaBytes =>
      // nHosts=10 ⇒ cloaking hosts 2/7, personalizing 3/8, tracking 4/9
      val web = SyntheticWeb(nHosts = 10, pagesPerHost = 8, megaFactor = 2)
      val cfg = CrawlConfig(numBuckets = 8, roundMs = 500, maxRounds = 6,
        parseHtml = viaBytes,
        userAgents = Seq("graft-bot/1.0", "graft-bot/2.0", "mobile-bot/7"),
        rotateUA = true,
        referer = Some("http://portal.example/start"),
        cookieJar = true,
        proxies = Seq("proxy://p0", "proxy://p1"))
      val (sim, eng, _) = runBoth(web, 14, cfg)
      assertGolden(sim, eng)
      // attempt-level identity matches the simulator ROW-FOR-ROW in
      // crawl order: effective UA, assigned proxy, cookie presented
      import eng.spark.implicits._
      val engIdent = eng.crawlLog()
        .select($"url_canon", $"ua", $"proxy", $"cookie_sent")
        .as[(String, String, String, Boolean)].collect().toVector
      val simIdent = sim.attempts.map(a => (a.urlCanon, a.ua, a.proxy, a.cookieSent))
      assert(engIdent === simIdent, s"identity rows diverge (viaBytes=$viaBytes)")
      // the options actually bit: rotation used >1 UA and both proxies,
      // and the jar presented a cookie somewhere
      assert(engIdent.map(_._2).toSet.size >= 2, "UA rotation never rotated")
      assert(engIdent.map(_._3).toSet === Set("proxy://p0", "proxy://p1"))
      assert(engIdent.exists(_._4), "cookie jar never presented a cookie")
      // a cookie-bearing fetch on a personalizing host served the
      // authenticated view (the session span) — observable content
      val personalized = engIdent.filter(t =>
        t._4 && web.cookiePersonalizes(UrlCanonicalizer.hostOf(t._1))).map(_._1)
      assert(personalized.nonEmpty, "no cookie-bearing fetch hit a personalizing host")
      val docs = eng.documents().as[Doc].collect()
        .map(d => d.doc_id -> d.spans.sortBy(_.offset)).toMap
      assert(personalized.exists(u => docs.get(u).exists(_.exists(s =>
        s.kind == "text" && s.text != null && s.text.startsWith("session ")))),
        "authenticated view never served")
    }
  }

  test("changing the userAgent observably changes cloaking-host content; " +
    "each run stays golden and non-cloaking hosts are unaffected") {
    val web = SyntheticWeb(nHosts = 5, pagesPerHost = 6, megaFactor = 2)
    def docsFor(ua: String) = {
      val cfg = CrawlConfig(numBuckets = 4, roundMs = 1000, maxRounds = 4,
        userAgents = Seq(ua))
      val (sim, eng, _) = runBoth(web, 10, cfg)
      assertGolden(sim, eng)
      import eng.spark.implicits._
      eng.documents().as[Doc].collect()
        .map(d => d.doc_id -> d.spans.sortBy(_.offset)).toMap
    }
    val a = docsFor("bot-A")
    val b = docsFor("bot-B")
    val both = a.keySet.intersect(b.keySet)
    val cloaked = both.filter(u => web.uaCloaks(UrlCanonicalizer.hostOf(u)))
    assert(cloaked.nonEmpty, "fixture never crawled the cloaking host")
    assert(cloaked.exists(u => a(u) !== b(u)),
      "cloaking host served identical content to different UAs")
    val plain = both.filterNot(u => web.uaCloaks(UrlCanonicalizer.hostOf(u)))
    assert(plain.nonEmpty && plain.forall(u => a(u) === b(u)),
      "UA change leaked into non-cloaking hosts")
  }

  test("a pre-identity attempts table (no ua/proxy/cookie_sent columns) still " +
    "serves crawlLog/attemptEvents with synthesized defaults") {
    val web = SyntheticWeb(nHosts = 4, pagesPerHost = 5, megaFactor = 2)
    val cfg = CrawlConfig(numBuckets = 4, roundMs = 1000, maxRounds = 3)
    val dir = Files.createTempDirectory("graft-oldschema").toString
    val eng = new CrawlEngine(spark, web, cfg, dir)
    eng.init(web.seedUrls(6)); eng.run()
    val nBefore = eng.crawlLog().count()
    // rewrite every attempts data dir WITHOUT the identity columns —
    // the on-disk shape of a state dir written before this build
    eng.ice.currentManifest("attempts").get.files.foreach { f =>
      val stripped = spark.read.parquet(f)
        .drop("ua", "proxy", "cookie_sent").collect()
      val schema = org.apache.spark.sql.types.StructType(
        spark.read.parquet(f).drop("ua", "proxy", "cookie_sent").schema)
      def rm(p: java.io.File): Unit = {
        if (p.isDirectory) p.listFiles.foreach(rm); p.delete()
      }
      rm(new java.io.File(f))
      spark.createDataFrame(
        new java.util.ArrayList(java.util.Arrays.asList(stripped: _*)), schema)
        .write.parquet(f)
    }
    import spark.implicits._
    val log = eng.crawlLog()
    assert(log.count() === nBefore)
    val idents = log.select($"ua", $"proxy", $"cookie_sent")
      .as[(String, String, Boolean)].collect()
    assert(idents.forall(t => t._1 == null && t._2 == null && !t._3),
      "old-schema attempts must read as no-identity")
    // and the facade's event stream works over it too
    assert(eng.attemptEvents().count() === nBefore)

    // MIXED table: resume the old-schema state dir with an
    // identity-bearing config and run more rounds — new-schema deltas
    // append next to the old files. Old rounds must read as
    // no-identity (null ua, cookie_sent=false — never a null boolean),
    // new rounds must carry their REAL identity (not be nulled away by
    // single-footer inference sampling an old file).
    val eng2 = new CrawlEngine(spark, web,
      cfg.copy(maxRounds = 5, userAgents = Seq("up/1")), dir)
    eng2.run()
    val mixed = eng2.crawlLog()
      .select($"round", $"ua", $"cookie_sent")
      .as[(Long, String, Boolean)].collect()
    assert(mixed.length.toLong > nBefore, "resume appended no new rounds")
    mixed.filter(_._1 < 3).foreach { case (r, ua, ck) =>
      assert(ua == null && !ck, s"old round $r row gained identity")
    }
    val newRows = mixed.filter(_._1 >= 3)
    assert(newRows.nonEmpty && newRows.forall(_._2 == "up/1"),
      s"new rounds lost their identity in the mixed read: ${newRows.take(3).toSeq}")
  }

  test("golden equality with a global per-round cap (maxConnections analog)") {
    val web = SyntheticWeb(nHosts = 5, pagesPerHost = 6, megaFactor = 2)
    val cfg = CrawlConfig(numBuckets = 8, roundMs = 1000, maxRounds = 5,
      maxPerRound = Some(7))
    val (sim, eng, _) = runBoth(web, 10, cfg)
    assertGolden(sim, eng)
  }

  test("golden equality with per-limiter rate-limit overrides (setLimiterProperty)") {
    val web = SyntheticWeb(nHosts = 5, pagesPerHost = 8, megaFactor = 3)
    // throttle host 0 to one fetch per round and boost host 1
    val cfg = CrawlConfig(numBuckets = 8, roundMs = 500, maxRounds = 8,
      rateLimitOverrides = Map(
        web.hostName(0) -> 500L, web.hostName(1) -> 50L))
    val (sim, eng, _) = runBoth(web, 10, cfg)
    assertGolden(sim, eng)
    // the throttle is real: host 0 never exceeds 1 fetch in any round
    import eng.spark.implicits._
    val h0 = eng.crawlLog()
      .filter($"url_canon".contains(web.hostName(0)))
      .groupBy($"round").count()
      .agg(org.apache.spark.sql.functions.max($"count")).head().getLong(0)
    assert(h0 === 1L, s"host 0 exceeded its overridden quota: $h0/round")
  }

  test("golden equality with a preRequest gate (veto by host + userData)") {
    val web = SyntheticWeb(nHosts = 5, pagesPerHost = 8, megaFactor = 3)
    val blockedHost = web.hostName(2)
    val cfg = CrawlConfig(numBuckets = 8, roundMs = 500, maxRounds = 6,
      preRequest = Some(pr =>
        pr.host != blockedHost && pr.userData != "skip-me"))
    val base = web.seedUrls(10)
    // a URL not already seeded plain (same-URL dedup keeps the earlier
    // seq, which would erase the userData marker)
    val skipUrl = (0 until 50).map(p => s"http://${web.hostName(4)}/p/$p")
      .find(u => !base.contains(u)).get
    val seeds = base.map(SeedRequest(_)) :+
      SeedRequest(skipUrl, userData = "skip-me")
    val sim = RefSimulator.runRequests(web, seeds, cfg)
    val dir = Files.createTempDirectory("graft-prereq").toString
    val eng = new CrawlEngine(spark, web, cfg, dir)
    eng.initRequests(seeds)
    eng.run()
    assertGolden(sim, eng)
    // the gate actually bit: nothing from the blocked host was fetched,
    // and the skip-me seed never produced an attempt
    import eng.spark.implicits._
    val fetched = eng.crawlLog().select("url_canon").as[String].collect()
    assert(fetched.nonEmpty)
    assert(!fetched.exists(_.contains(blockedHost)), "blocked host fetched")
    assert(!fetched.contains(skipUrl), s"skip-me seed fetched: $skipUrl")
    // vetoed rows remain PENDING (delay semantics), not dropped
    val pendingHosts = eng.pending().select("host").as[String].collect()
    assert(pendingHosts.contains(blockedHost))
  }

  test("golden equality preserved across retired-table compaction + resume") {
    val web = SyntheticWeb(nHosts = 6, pagesPerHost = 8, megaFactor = 3)
    val cfgFull = CrawlConfig(numBuckets = 8, roundMs = 500, maxRounds = 8)
    val seeds = web.seedUrls(12)
    val sim = RefSimulator.run(web, seeds, cfgFull)
    val dir = Files.createTempDirectory("graft-compact").toString
    val eng1 = new CrawlEngine(spark, web, cfgFull.copy(maxRounds = 3), dir)
    eng1.init(seeds)
    eng1.run()
    val before = eng1.ice.currentManifest("retired").map(_.files.length).getOrElse(0)
    assert(before > 1, "need multiple deltas for the test to mean anything")
    eng1.compactRetired()
    val after = eng1.ice.currentManifest("retired").map(_.files.length).getOrElse(0)
    assert(after === 1, s"compaction left $after file sets")
    // a fresh engine resumes from the compacted state and finishes the
    // crawl; the final state must equal an uncompacted full run
    val eng2 = new CrawlEngine(spark, web, cfgFull, dir)
    eng2.run()
    assertGolden(sim, eng2)
  }

  test("golden equality with the cuckoo seen-sketch; mismatched resume fails fast") {
    val web = SyntheticWeb(nHosts = 6, pagesPerHost = 8, megaFactor = 3)
    val cfg = CrawlConfig(numBuckets = 8, roundMs = 500, maxRounds = 6,
      seenFilter = "cuckoo", bloomCompactEvery = 2)
    val seeds = web.seedUrls(12)
    val sim = RefSimulator.run(web, seeds, cfg)
    val dir = Files.createTempDirectory("graft-cuckoo").toString
    val eng = new CrawlEngine(spark, web, cfg, dir)
    eng.init(seeds)
    eng.run()
    assertGolden(sim, eng)
    // resuming the same store with the bloom sketch must be rejected
    // (the blobs are typed at init; probing them wrong could yield the
    // forbidden false negative)
    val wrong = new CrawlEngine(spark, web, cfg.copy(seenFilter = "bloom"), dir)
    intercept[IllegalArgumentException] { wrong.run() }
    // but an UNINITIALIZED store carries no typed blobs: a
    // cuckoo-configured engine with nothing queued must keep the
    // graceful empty-run, not trip the mismatch guard on the absent
    // prop's "bloom" default (round-6 ADVICE)
    val fresh = new CrawlEngine(spark, web, cfg,
      Files.createTempDirectory("graft-cuckoo-empty").toString)
    assert(fresh.run().forall(_.admitted == 0L))
    // numBuckets is pinned the same way: resuming with a different
    // bucket count would remap every host's bucket (sketch blobs,
    // politeness state, retired scoping) — fail fast, never remap
    val rebucketed = new CrawlEngine(spark, web, cfg.copy(numBuckets = 4), dir)
    val e = intercept[IllegalArgumentException] { rebucketed.run() }
    assert(e.getMessage.contains("numBuckets"))
  }

  test("forgetUrls enables recrawl under both sketches; count and dedup stay exact") {
    import spark.implicits._
    for (filter <- Seq("cuckoo", "bloom")) {
      val web = SyntheticWeb(nHosts = 4, pagesPerHost = 6, megaFactor = 2)
      val cfg = CrawlConfig(numBuckets = 4, roundMs = 500, maxRounds = 10,
        seenFilter = filter)
      val dir = Files.createTempDirectory(s"graft-forget-$filter").toString
      val eng = new CrawlEngine(spark, web, cfg, dir)
      eng.init(web.seedUrls(8))
      eng.run()
      val url = eng.crawlLog().select("url_canon").as[String].head()
      def logged(): Long =
        eng.crawlLog().filter($"url_canon" === url).count()
      assert(logged() === 1L, s"[$filter] baseline")
      // forgetting drops exactly the one retired row — a never-crawled
      // URL in the same request is ignored (and, under cuckoo, its
      // fingerprint is NOT probed out of the blobs: sketch deletion is
      // restricted to hashes actually dropped from the retired table);
      // a second forget of the same URL is a no-op
      def sidecarN(): Long = {
        val snap = eng.ice.props("frontier")("bloom_snap").toLong
        eng.ice.read(spark, "bloom", Some(snap)).get
          .agg(org.apache.spark.sql.functions.sum("n")).head().getLong(0)
      }
      val nBefore = sidecarN()
      assert(eng.forgetUrls(Seq(url, "http://h0.example/never-crawled"))
        === 1L, s"[$filter] forget")
      // under cuckoo the sidecar's stored key count tracks LIVE keys:
      // the rewrite subtracts the fingerprints actually removed
      // (round-6 ADVICE — n previously kept the pre-forget insert
      // count); bloom blobs are not rewritten, so n is unchanged there
      if (filter == "cuckoo")
        assert(sidecarN() === nBefore - 1L, s"[$filter] sidecar n")
      else assert(sidecarN() === nBefore, s"[$filter] sidecar n")
      assert(eng.forgetUrls(Seq(url)) === 0L, s"[$filter] re-forget")
      // the URL is now unseen: re-queueing accepts it as fresh and the
      // next run fetches it again
      assert(eng.enqueueRequests(Seq(SeedRequest(url))) === 1L,
        s"[$filter] re-queue after forget must be fresh")
      eng.run()
      assert(logged() === 2L, s"[$filter] recrawl")
      // a NON-forgotten URL stays deduped (the sketch rewrite did not
      // lose anyone else's fingerprint)
      val other = eng.crawlLog().select("url_canon").as[String]
        .collect().find(_ != url).get
      assert(eng.enqueueRequests(Seq(SeedRequest(other))) === 0L,
        s"[$filter] other URLs must remain seen")
    }
  }

  test("golden equality across bloom compaction boundaries (compactEvery=2)") {
    val web = SyntheticWeb(nHosts = 6, pagesPerHost = 8, megaFactor = 3)
    val cfg = CrawlConfig(numBuckets = 8, roundMs = 500, maxRounds = 6,
      bloomCompactEvery = 2)
    val (sim, eng, _) = runBoth(web, 12, cfg)
    assertGolden(sim, eng)
    // compaction actually ran: the bloom table holds one blob per
    // bucket per at-most-2-round window, not one delta file per round
    val m = eng.ice.currentManifest("bloom").get
    assert(m.files.size <= 2, s"bloom deltas not compacted: ${m.files}")
    // and resume across a compacted snapshot still reproduces the run
    val d2 = Files.createTempDirectory("graft-compact-resume").toString
    val e2a = new CrawlEngine(spark, web, cfg.copy(maxRounds = 3), d2)
    e2a.init(web.seedUrls(12)); e2a.run()
    val e2b = new CrawlEngine(spark, web, cfg, d2)
    e2b.run()
    import spark.implicits._
    val order = e2b.crawlLog().select("url_canon").as[String].collect().toVector
    assert(order === sim.crawlOrder)
  }

  test("golden equality with a skewed mega-host") {
    val web = SyntheticWeb(nHosts = 4, pagesPerHost = 6, megaFactor = 10)
    val cfg = CrawlConfig(numBuckets = 4, roundMs = 1000, maxRounds = 5)
    val (sim, eng, _) = runBoth(web, 16, cfg)
    assertGolden(sim, eng)
  }

  test("determinism under different partitioning (numBuckets / salt)") {
    val web = SyntheticWeb(nHosts = 5, pagesPerHost = 6, megaFactor = 3)
    val seeds = web.seedUrls(10)
    val sim = RefSimulator.run(web, seeds, CrawlConfig(numBuckets = 2, roundMs = 500, maxRounds = 4))
    Seq(2, 16).foreach { buckets =>
      val cfg = CrawlConfig(numBuckets = buckets, roundMs = 500, maxRounds = 4)
      val dir = Files.createTempDirectory(s"graft-part$buckets").toString
      val eng = new CrawlEngine(spark, web, cfg, dir, saltFanout = if (buckets == 2) 1 else 8)
      eng.init(seeds)
      eng.run()
      import spark.implicits._
      val order = eng.crawlLog().select("url_canon").as[String].collect().toVector
      assert(order === sim.crawlOrder, s"order differs at numBuckets=$buckets")
    }
  }

  test("frontier data dirs hold at most one part file per core after init " +
    "and every round; golden across numBuckets 4/8/32") {
    val web = SyntheticWeb(nHosts = 6, pagesPerHost = 8, megaFactor = 3)
    val cores = spark.sparkContext.defaultParallelism
    Seq(4, 8, 32).foreach { buckets =>
      val cfg = CrawlConfig(numBuckets = buckets, roundMs = 500, maxRounds = 6)
      val (sim, eng, stats) = runBoth(web, 12, cfg)
      assertGolden(sim, eng)
      // snapshot 0 is init's seed write, snapshot n round n-1's rewrite
      val snaps = 0L to eng.ice.currentSnapshotId("frontier").get
      assert(snaps.size === stats.size + 1)
      snaps.foreach { id =>
        eng.ice.manifest("frontier", id).files.foreach { f =>
          val parts = new java.io.File(f).list().count(_.startsWith("part-"))
          assert(parts <= cores,
            s"numBuckets=$buckets snapshot $id: $parts part files in $f")
        }
      }
    }
  }

  test("resume from snapshot reproduces the uninterrupted run") {
    val web = SyntheticWeb(nHosts = 5, pagesPerHost = 6, megaFactor = 2)
    val cfg = CrawlConfig(numBuckets = 8, roundMs = 500, maxRounds = 6)
    val seeds = web.seedUrls(10)
    // uninterrupted
    val d1 = Files.createTempDirectory("graft-uninterrupted").toString
    val e1 = new CrawlEngine(spark, web, cfg, d1)
    e1.init(seeds); e1.run()
    // interrupted after 2 rounds, then resumed by a fresh engine instance
    val d2 = Files.createTempDirectory("graft-resumed").toString
    val e2a = new CrawlEngine(spark, web, cfg.copy(maxRounds = 2), d2)
    e2a.init(seeds); e2a.run()
    val e2b = new CrawlEngine(spark, web, cfg, d2)
    assert(e2b.nextRound === 2)
    e2b.run()
    import spark.implicits._
    def order(e: CrawlEngine) = e.crawlLog().select("url_canon").as[String].collect().toVector
    def seen(e: CrawlEngine) = e.frontier().select("url_hash").as[Long].collect().toSet
    assert(order(e2b) === order(e1))
    assert(seen(e2b) === seen(e1))
    assert(e2b.documents().count() === e1.documents().count())
  }

  test("engine politeness invariant: per (round, host) fetches <= quota") {
    import spark.implicits._
    val web = SyntheticWeb(nHosts = 6, pagesPerHost = 8, megaFactor = 3)
    val cfg = CrawlConfig(numBuckets = 8, roundMs = 500, maxRounds = 5)
    val (_, eng, _) = runBoth(web, 12, cfg)
    val perRoundHost = eng.crawlLog()
      .select($"round", $"url_canon")
      .as[(Long, String)].collect()
      .groupBy { case (r, u) => (r, graft.core.UrlCanonicalizer.hostOf(u)) }
      .view.mapValues(_.length)
    perRoundHost.foreach { case ((r, host), n) =>
      val quota = web.policy(host).quota(cfg.roundMs)
      assert(n <= quota, s"round $r host $host fetched $n > quota $quota")
    }
  }

  test("golden equality with a per-limiter maxConnections ceiling; the cap binds") {
    import spark.implicits._
    val web = SyntheticWeb(nHosts = 6, pagesPerHost = 8, megaFactor = 3)
    // roundMs 4000 over 50-1000ms delays → rate quotas 4-80: the
    // ceiling of 2 (4 for h0) is what actually limits admission
    val cfg = CrawlConfig(numBuckets = 8, roundMs = 4000, maxRounds = 8,
      maxConnectionsPerLimiter = Some(2),
      maxConnectionsOverrides = Map(web.hostName(0) -> 4))
    val (sim, eng, _) = runBoth(web, 12, cfg)
    assertGolden(sim, eng)
    val perRoundHost = eng.crawlLog()
      .select($"round", $"url_canon")
      .as[(Long, String)].collect()
      .groupBy { case (r, u) => (r, graft.core.UrlCanonicalizer.hostOf(u)) }
      .view.mapValues(_.length)
    var capBound = false
    var overrideUsed = false
    perRoundHost.foreach { case ((r, host), n) =>
      val cap = if (host == web.hostName(0)) 4 else 2
      assert(n <= cap, s"round $r host $host fetched $n > ceiling $cap")
      val rateQuota = web.policy(host).quota(cfg.roundMs)
      if (n == cap && rateQuota > cap) capBound = true
      // the per-limiter override BEATS the blanket ceiling: the
      // mega-host must exceed 2 in some round (its rate quota is 80)
      if (host == web.hostName(0) && n > 2) overrideUsed = true
    }
    assert(capBound, "fixture never exercised the ceiling below the rate quota")
    assert(overrideUsed,
      "fixture never exercised the override precedence over the blanket cap")
  }

  test("resume works under snapshot GC (retainSnapshots=1)") {
    val web = SyntheticWeb(nHosts = 4, pagesPerHost = 5, megaFactor = 2)
    val cfg = CrawlConfig(numBuckets = 4, roundMs = 1000, maxRounds = 2,
      retainSnapshots = Some(1))
    val seeds = web.seedUrls(8)
    val dir = Files.createTempDirectory("graft-gc").toString
    val e1 = new CrawlEngine(spark, web, cfg, dir)
    e1.init(seeds); e1.run()
    val e2 = new CrawlEngine(spark, web, cfg.copy(maxRounds = 4), dir)
    assert(e2.nextRound === 2)
    e2.run()
    // matches an uninterrupted run with the same GC setting
    val dirU = Files.createTempDirectory("graft-gc-u").toString
    val eu = new CrawlEngine(spark, web, cfg.copy(maxRounds = 4), dirU)
    eu.init(seeds); eu.run()
    import spark.implicits._
    def order(e: CrawlEngine) = e.crawlLog().select("url_canon").as[String].collect().toVector
    assert(order(e2) === order(eu))
  }

  test("incremental frontier: retired history is per-round append deltas") {
    val web = SyntheticWeb(nHosts = 5, pagesPerHost = 6, megaFactor = 2)
    val cfg = CrawlConfig(numBuckets = 4, roundMs = 1000, maxRounds = 4)
    val (_, eng, stats) = runBoth(web, 10, cfg)
    val m = eng.ice.currentManifest("retired").get
    // append-only: one data dir per retiring round, never a rewrite
    assert(m.files.size >= 2, s"expected per-round delta files, got ${m.files}")
    val perFile = m.files.map(f => spark.read.parquet(f).count())
    assert(perFile.sum === eng.retired().count(),
      "delta files must partition the retired set (no overlap, no rewrite)")
    // and the pending rewrite is bounded by the working set, not the
    // seen set: the last committed pending snapshot is exactly the two
    // per-round legs (keep set ∥ fetch + retries/discoveries) that
    // together hold the pending rows and nothing else
    val pm = eng.ice.currentManifest("frontier").get
    assert(pm.files.size <= 2, s"pending legs: ${pm.files}")
    assert(spark.read.parquet(pm.files: _*).count() === eng.pending().count())
  }

  test("crash between side-table commit and frontier commit cannot duplicate rows") {
    val web = SyntheticWeb(nHosts = 5, pagesPerHost = 6, megaFactor = 2)
    val cfg = CrawlConfig(numBuckets = 8, roundMs = 500, maxRounds = 6)
    val seeds = web.seedUrls(10)
    // uninterrupted reference
    val d1 = Files.createTempDirectory("graft-atomic-ref").toString
    val e1 = new CrawlEngine(spark, web, cfg, d1)
    e1.init(seeds); e1.run()
    // crashed run: 2 clean rounds, then simulate a crash that committed
    // the attempts delta of round 2 but died before the frontier commit
    // (the exact window ADVICE r1 flagged) — an orphan attempts snapshot
    // newer than the pinned one
    val d2 = Files.createTempDirectory("graft-atomic-crash").toString
    val e2a = new CrawlEngine(spark, web, cfg.copy(maxRounds = 2), d2)
    e2a.init(seeds); e2a.run()
    val pinned = e2a.ice.props("frontier")("attempts_snap").toLong
    val orphanFiles = e2a.ice.manifest("attempts", pinned).files.takeRight(1)
    e2a.ice.commit("attempts", orphanFiles, append = true,
      Map("round" -> "99"))
    // resume: must ignore the orphan (reads + re-commits go through the pin)
    val e2b = new CrawlEngine(spark, web, cfg, d2)
    assert(e2b.nextRound === 2)
    e2b.run()
    import spark.implicits._
    def order(e: CrawlEngine) = e.crawlLog().select("url_canon").as[String].collect().toVector
    assert(order(e2b) === order(e1), "crawl order diverged after crash-resume")
    val dups = e2b.crawlLog().groupBy("round", "url_hash").count()
      .filter(col("count") > 1).count()
    assert(dups === 0, "duplicate attempt rows after crash-resume")
    assert(e2b.documents().count() === e1.documents().count())
  }

  test("per-request options: seed priority drives order; userData rides to the attempt row") {
    val web = SyntheticWeb(nHosts = 5, pagesPerHost = 6, megaFactor = 2)
    val cfg = CrawlConfig(numBuckets = 8, roundMs = 2000, maxRounds = 4)
    val urls = web.seedUrls(8).distinct
    val reqs = urls.zipWithIndex.map { case (u, i) =>
      SeedRequest(u, priority = (9 - i) % 10, userData = s"""{"job":$i}""")
    }
    val sim = RefSimulator.runRequests(web, reqs, cfg)
    val dir = Files.createTempDirectory("graft-opts").toString
    val eng = new CrawlEngine(spark, web, cfg, dir)
    eng.initRequests(reqs)
    eng.run()
    import spark.implicits._
    val order = eng.crawlLog().select("url_canon").as[String].collect().toVector
    assert(order === sim.crawlOrder, "per-seed priority order mismatch vs simulator")
    // userData surfaces on the attempt row for seeds, null for discovered
    val ud = eng.crawlLog().select($"url_canon", $"user_data")
      .as[(String, String)].collect().toMap
    reqs.foreach { q =>
      val canon = graft.core.UrlCanonicalizer.canonicalize(q.url).get
      if (ud.contains(canon)) assert(ud(canon) === q.userData, s"userData lost for $canon")
    }
    assert(reqs.map(q => graft.core.UrlCanonicalizer.canonicalize(q.url).get)
      .count(ud.contains) > 0, "no seed was crawled")
    val discovered = ud.keys.filterNot(
      reqs.map(q => graft.core.UrlCanonicalizer.canonicalize(q.url).get).toSet)
    discovered.foreach(u => assert(ud(u) == null, s"discovered $u must have null userData"))
  }

  test("custom limiter key: two hosts share ONE rate bucket; engine ≡ simulator") {
    val web = SyntheticWeb(nHosts = 6, pagesPerHost = 8, megaFactor = 2)
    // quota("shared-pool") = roundMs / default 500ms delay = 4 per round
    val cfg = CrawlConfig(numBuckets = 8, roundMs = 2000, maxRounds = 5)
    // seeds on two different hosts, all bound to one shared limiter —
    // node-crawler semantics: they drain through a single rate bucket,
    // so per-round admissions across BOTH hosts ≤ quota(limiter key)
    val lim = "shared-pool"
    val urls = (0 until 6).flatMap(i =>
      Seq(s"http://h0001.example/p/$i", s"http://h0003.example/p/$i"))
    val reqs = urls.zipWithIndex.map { case (u, i) =>
      SeedRequest(u, priority = 5, userData = null, limiter = lim)
    }
    val sim = RefSimulator.runRequests(web, reqs, cfg)
    val dir = Files.createTempDirectory("graft-limiter").toString
    val eng = new CrawlEngine(spark, web, cfg, dir)
    eng.initRequests(reqs)
    eng.run()
    import spark.implicits._
    val order = eng.crawlLog().select("url_canon").as[String].collect().toVector
    assert(order === sim.crawlOrder, "shared-limiter ordering mismatch vs simulator")
    // the shared bucket is enforced: per round, seeds admitted across
    // both hosts together never exceed quota(lim)
    val quota = web.policy(lim).quota(cfg.roundMs)
    val seedSet = reqs.flatMap(q => graft.core.UrlCanonicalizer.canonicalize(q.url)).toSet
    val perRound = eng.crawlLog().select($"round", $"url_canon")
      .as[(Long, String)].collect()
      .filter { case (_, u) => seedSet(u) }
      .groupBy(_._1).view.mapValues(_.length)
    assert(perRound.nonEmpty)
    perRound.foreach { case (r, n) =>
      assert(n <= quota, s"round $r admitted $n seeds > shared quota $quota")
    }
    // both hosts' seeds were eventually crawled through the shared bucket
    val hosts = eng.crawlLog().select($"url_canon").as[String].collect()
      .filter(seedSet).map(graft.core.UrlCanonicalizer.hostOf).toSet
    assert(hosts === Set("h0001.example", "h0003.example"))
    // limiter rides to the attempt row; discovered links use the default
    val lims = eng.crawlLog().select($"url_canon", $"limiter")
      .as[(String, String)].collect().toMap
    seedSet.filter(lims.contains).foreach(u => assert(lims(u) === lim))
    lims.keys.filterNot(seedSet).foreach(u => assert(lims(u) == null))
  }

  test("method/headers queue options ride to the attempt row and the fetch seam") {
    val web = SyntheticWeb(nHosts = 4, pagesPerHost = 6, megaFactor = 2)
    val cfg = CrawlConfig(numBuckets = 4, roundMs = 1000, maxRounds = 3)
    val urls = web.seedUrls(6).distinct
    val reqs = urls.zipWithIndex.map { case (u, i) =>
      SeedRequest(u, method = if (i % 2 == 0) "HEAD" else null,
        headers = s"""{"x-job":"$i"}""")
    }
    val dir = Files.createTempDirectory("graft-opts2").toString
    val eng = new CrawlEngine(spark, web, cfg, dir)
    eng.initRequests(reqs)
    eng.run()
    import spark.implicits._
    val byUrl = eng.crawlLog()
      .select($"url_canon", $"method", $"headers")
      .as[(String, String, String)].collect()
      .map(t => t._1 -> (t._2, t._3)).toMap
    reqs.foreach { q =>
      val canon = graft.core.UrlCanonicalizer.canonicalize(q.url).get
      byUrl.get(canon).foreach { case (m, h) =>
        assert(m === q.method, s"method lost for $canon")
        assert(h === q.headers, s"headers lost for $canon")
      }
    }
    // the engine's fetch operator hands the source exactly each row's
    // options and resolved identity (UA pool rotation, header overrides,
    // referer, cookie bit), once per row
    import scala.jdk.CollectionConverters._
    import org.apache.spark.sql.graftshim.ColumnShim
    val idCfg = cfg.copy(userAgents = Seq("ua-a", "ua-b", "ua-c"),
      rotateUA = true, referer = Some("http://r.example/"))
    val rows = Seq(
      ("http://h0001.example/p/1", 0, 3L, "HEAD", """{"a":"b"}""", true),
      ("http://h0002.example/p/2", 1, 4L, null,
        """{"user-agent":"own/1","referer":"http://own.example/"}""", false),
      ("http://h0003.example/p/3", 0, 5L, "GET", null, true),
      ("http://h0000.example/p/0", 2, 7L, null, null, false))
    val seen = spark.sparkContext.collectionAccumulator[FetchRequest]("seam")
    final class Recording extends FetchSource {
      private val inner = new SyntheticFetchSource(web, idCfg)
      def fetch(req: FetchRequest): FetchResult = { seen.add(req); inner.fetch(req) }
    }
    def e(c: String) = Some(ColumnShim.expression(col(c)))
    val fetched = rows.toDF("url_canon", "retry_count", "discovered_seq",
        "method", "headers", "cookie_in").repartition(2)
      .select(ColumnShim.column(graft.functions.FetchExtractExpr(
        e("url_canon").get, e("retry_count").get, e("discovered_seq").get,
        web, idCfg, () => new Recording, method = e("method"),
        headers = e("headers"), cookie = e("cookie_in"))).as("f"))
      .select($"f.ua", $"f.cookie_sent").as[(String, Boolean)].collect()
    assert(fetched.length === rows.size)
    val expected = Seq(
      FetchRequest("http://h0001.example/p/1", 0, "HEAD", """{"a":"b"}""",
        RequestCtx("ua-a", cookie = true, referer = "http://r.example/")),
      FetchRequest("http://h0002.example/p/2", 1, null,
        """{"user-agent":"own/1","referer":"http://own.example/"}""",
        RequestCtx("own/1", cookie = false, referer = "http://own.example/")),
      FetchRequest("http://h0003.example/p/3", 0, "GET", null,
        RequestCtx("ua-c", cookie = true, referer = "http://r.example/")),
      FetchRequest("http://h0000.example/p/0", 2, null, null,
        RequestCtx("ua-b", cookie = false, referer = "http://r.example/")))
    assert(seen.value.asScala.toSeq.sortBy(_.urlCanon) === expected.sortBy(_.urlCanon))
    // the attempt-row identity is the identity the source received
    assert(fetched.toSeq.sorted ===
      expected.map(q => (q.ctx.userAgent, q.ctx.cookie)).sorted)
  }

  test("lineage rows cover every active round with per-bucket metrics") {
    val web = SyntheticWeb(nHosts = 4, pagesPerHost = 5, megaFactor = 2)
    val cfg = CrawlConfig(numBuckets = 4, roundMs = 1000, maxRounds = 4)
    val (_, eng, stats) = runBoth(web, 8, cfg)
    val lin = eng.lineage()
    val perRound = lin.groupBy("round")
      .agg(sum("admitted").as("admitted"), sum("enqueued").as("enqueued"))
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    stats.filter(s => s.admitted + s.enqueued > 0).foreach { s =>
      val (adm, enq) = perRound(s.round)
      assert(adm === s.admitted)
      assert(enq === s.enqueued)
    }
  }
}
