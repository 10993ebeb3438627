package graft.api

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.core.{CrawlConfig, SeedRequest, SiteSchemas, SyntheticWeb}
import graft.engine.CrawlEngine

/** Global crawler options, named after node-crawler's constructor
  * options [PK:high] with their Spark-native meaning:
  *
  *  - `maxConnections` → deterministic global per-round admission cap
  *    (`CrawlConfig.maxPerRound`; None = uncapped)
  *  - `rateLimitMs`    → the logical round budget (`roundMs`): a
  *    host's per-round quota is `roundMs / crawl_delay` (SURVEY §2.9
  *    replaces wall-clock pacing with the logical clock, which is what
  *    makes crawl order deterministic and testable)
  *  - `retries`        → max transient-failure retries, backoff in
  *    logical rounds
  *  - `maxRounds`      → drain guard (node-crawler runs its event loop
  *    until `drain`; a BSP loop bounds rounds)
  *  - `skipDuplicates` → always on: the URL-seen set is structural
  *    (bloom-prefiltered anti-join), not an option
  *  - `jQuery`/per-site extraction → the declarative [[SiteSchemas]]
  *    registry interpreted by the HTML extractor
  *  - `forceUTF8` / `incomingEncoding` → charset handling on the
  *    parseHtml byte path (sniff-and-convert by default; a forced
  *    charset skips sniffing; forceUTF8=false is byte-transparent)
  */
final case class CrawlerOptions(
    maxConnections: Option[Int] = None,
    // node-crawler's maxConnections is enforced PER rate limiter (each
    // limiter is its own bottleneck cluster): this is that ceiling,
    // capping fetches per (round, limiter) UNDER the global
    // maxConnections cap above. Runtime per-limiter values via
    // Crawler.setLimiterProperty(id, "maxConnections", n).
    perLimiterMaxConnections: Option[Int] = None,
    rateLimitMs: Long = 1000L,
    retries: Int = 2,
    maxRounds: Int = 64,
    numBuckets: Int = 32,
    parseHtml: Boolean = false,
    siteSchemas: SiteSchemas = SiteSchemas.Default,
    forceUTF8: Boolean = true,
    incomingEncoding: Option[String] = None,
    // per-limiter crawl-delay overrides (node-crawler
    // `setLimiterProperty(id, 'rateLimit', ms)`); also settable at
    // runtime via Crawler.setLimiterProperty
    rateLimits: Map[String, Long] = Map.empty,
    // node-crawler `preRequest(options, done)`: a pure per-candidate
    // predicate; false = stay pending and re-evaluate next round
    // (models both veto and delay)
    preRequest: Option[graft.core.PreRequest => Boolean] = None,
    // queue-during-crawl (callbacks enqueue while the event loop
    // runs): a pure, deterministic per-round injector — requests
    // enqueue exactly like queue() between drains, and a drain only
    // happens when the injector adds nothing and the frontier is empty
    midRunQueue: Option[Long => Seq[SeedRequest]] = None,
    // mid-crawl setLimiterProperty: per-round extra crawl-delay
    // overrides, layered over rateLimits for that round only
    rateLimitSchedule: Option[Long => Map[String, Long]] = None,
    // HTTP identity (node-crawler `userAgent`/`rotateUA`/`referer`/
    // `jar`/proxy pool [PK:high]): one UA or a rotated pool, a fixed
    // Referer, the per-host session-cookie jar, and a rotated proxy
    // pool recorded on every attempt row
    userAgents: Seq[String] = Nil,
    rotateUA: Boolean = false,
    referer: Option[String] = None,
    cookieJar: Boolean = false,
    proxies: Seq[String] = Nil)

/** One fetch attempt as node-crawler's per-task
  * `callback(error, res, done)` observes it [PK:high], in total crawl
  * order: `ok = false` is the error case (the attempt is retried /
  * dropped by the scheduler exactly as the reference's error branch
  * re-queues); `hasDoc` says whether a document row was produced.
  * Surfaced DRIVER-SIDE by [[Crawler.run(onAttempt*)]] as a porting
  * aid — data-scale per-document processing belongs in the returned
  * DataFrames, not in a driver loop. */
final case class AttemptEvent(
    round: Long, urlCanon: String, priority: Int, discoveredSeq: Long,
    retryCount: Int, ok: Boolean, hasDoc: Boolean,
    userData: String, limiter: String, method: String, headers: String,
    // resolved HTTP identity of the attempt (node-crawler options
    // surface): effective User-Agent, assigned proxy, cookie presented
    ua: String = null, proxy: String = null, cookieSent: Boolean = false)

/** What a drain returns. node-crawler hands each page to
  * `callback(error, res, done)` inside one process; a cluster engine
  * surfaces the same information as tables instead:
  *  - `documents`: the interleaved span rows (doc_id, spans)
  *  - `crawlLog`: the total fetch order, one row per attempt, carrying
  *    the per-request options (userData/limiter/method/headers)
  *  - `lineage`: per-partition per-round metrics
  *  - `stats`: per-round scheduling counters from this run */
final case class CrawlResult(
    stats: Seq[CrawlEngine#RoundStats],
    documents: DataFrame,
    crawlLog: DataFrame,
    lineage: DataFrame)

/** node-crawler-shaped programmatic facade over the BSP engine
  * [PK:high]: construct with global options, `queue()` tasks (bare
  * URIs or per-request option objects) at any time, `run()` to drain.
  *
  * `queue()` after a drain enqueues into the same state directory and
  * the next `run()` resumes from the committed snapshot — the
  * re-queue-after-drain pattern of the reference, minus the callback
  * event loop. Duplicate URLs (already pending, fetched, or queued in
  * the same batch) are dropped exactly like the reference's seen-check.
  *
  * Not thread-safe: `queue()` buffers driver-side and `run()` flushes;
  * interleave them from one thread (the reference is single-threaded
  * too). */
final class Crawler(
    spark: SparkSession,
    web: SyntheticWeb,
    stateDir: String,
    options: CrawlerOptions = CrawlerOptions()) {

  private def mkEngine(rateLimits: Map[String, Long],
      maxConns: Map[String, Int]): CrawlEngine =
    new CrawlEngine(spark, web,
      CrawlConfig(
        numBuckets = options.numBuckets,
        roundMs = options.rateLimitMs,
        maxPerRound = options.maxConnections,
        maxConnectionsPerLimiter = options.perLimiterMaxConnections,
        maxConnectionsOverrides = maxConns,
        maxRounds = options.maxRounds,
        maxRetries = options.retries,
        parseHtml = options.parseHtml,
        siteSchemas = options.siteSchemas,
        incomingEncoding = options.incomingEncoding,
        forceUTF8 = options.forceUTF8,
        rateLimitOverrides = rateLimits,
        preRequest = options.preRequest,
        midRunQueue = options.midRunQueue,
        rateLimitSchedule = options.rateLimitSchedule,
        userAgents = options.userAgents,
        rotateUA = options.rotateUA,
        referer = options.referer,
        cookieJar = options.cookieJar,
        proxies = options.proxies),
      stateDir)

  private var currentRateLimits = options.rateLimits
  private var currentMaxConnections = Map.empty[String, Int]
  private var eng = mkEngine(currentRateLimits, currentMaxConnections)
  private var engDirty = false

  /** The underlying engine (rebuilt lazily when limiter properties
    * change — crawl state lives on disk, so a rebuilt engine resumes). */
  def engine: CrawlEngine = {
    if (engDirty) {
      eng = mkEngine(currentRateLimits, currentMaxConnections)
      engDirty = false
    }
    eng
  }

  /** Forget completed URLs so a later `queue()` or rediscovery crawls
    * them again (cache-invalidation/recrawl maintenance; no
    * node-crawler analog — its seen-set is per-process and dies with
    * it, ours persists in the frontier store). Delegates to
    * [[graft.engine.CrawlEngine.forgetUrls]]: exact seen-set rows are
    * dropped always; the cuckoo sketch also deletes fingerprints,
    * bloom stays conservatively positive. Call between runs. */
  def forget(urls: Seq[String]): Long = engine.forgetUrls(urls)

  /** node-crawler `setLimiterProperty(id, 'rateLimit', ms)` [PK:high]:
    * change one limiter's crawl delay at runtime. Takes effect from
    * the next `run()` — the BSP analog of changing a live rate
    * limiter between dequeues. Rebuilds lazily: a setup loop of N
    * overrides costs one engine build, not N. Change-only semantics
    * (round-5 ADVICE): setting a limiter to its current value fires
    * no `limiterChange` — matching what the schedule-driven replay
    * already does. */
  def setLimiterProperty(limiter: String, rateLimitMs: Long): this.type = {
    val changed = !currentRateLimits.get(limiter).contains(rateLimitMs)
    currentRateLimits += (limiter -> rateLimitMs)
    engDirty = true
    if (changed) fireLimiterChange(limiter, Some(rateLimitMs))
    this
  }

  /** The reference's full `setLimiterProperty(id, property, value)`
    * signature: `"rateLimit"` routes to the delay override above;
    * `"maxConnections"` sets the limiter's concurrency ceiling
    * (fetches per round; see [[CrawlerOptions.perLimiterMaxConnections]]).
    * `limiterChange` events carry DELAYS only, so a maxConnections
    * change fires none (it is a ceiling, not a rate). */
  def setLimiterProperty(limiter: String, property: String,
      value: Long): this.type = property match {
    case "rateLimit" => setLimiterProperty(limiter, value)
    case "maxConnections" =>
      require(value >= 1, s"maxConnections must be >= 1, got $value")
      // clamp, don't truncate: a Long above Int.MaxValue means
      // "effectively unlimited", not a wrapped cap of 1
      currentMaxConnections +=
        (limiter -> math.min(value, Int.MaxValue.toLong).toInt)
      engDirty = true
      this
    case other =>
      throw new IllegalArgumentException(s"unknown limiter property: $other")
  }

  private val buffered = mutable.ListBuffer.empty[SeedRequest]

  // ---- EventEmitter analog (node-crawler events [PK:med]) ------------
  // Driver-side observers; golden-neutral (they observe, never steer).
  private val scheduleListeners = mutable.ListBuffer.empty[SeedRequest => Unit]
  private val limiterListeners = mutable.ListBuffer.empty[(String, Long) => Unit]
  private val limiterExpiryListeners = mutable.ListBuffer.empty[String => Unit]
  private val drainListeners = mutable.ListBuffer.empty[() => Unit]

  /** node-crawler `crawler.on('drain', ...)`: fires when a `run()`
    * ends with the frontier fully drained (no admissible candidates
    * left) — NOT when the run stops at `maxRounds` with work pending,
    * matching the reference's drain semantics. With
    * `run(onAttempt)`, drain fires AFTER every attempt callback has
    * been delivered — the reference emits 'drain' only once all task
    * callbacks completed. The drained state is also observable as the
    * `run()` return, which remains the primary surface. */
  def onDrain(f: => Unit): this.type = { drainListeners += (() => f); this }

  /** Deferred drain event (set by runInner, flushed by the public
    * entry points once their callbacks are done). */
  private var drainPending = false
  private def flushDrainEvent(): Unit =
    if (drainPending) { drainPending = false; drainListeners.foreach(_()) }

  /** node-crawler `crawler.on('schedule', options => ...)`: fires once
    * per facade-queued request as it is handed to the scheduler (at
    * `run()`'s queue flush, in deterministic queue order). Requests
    * injected by `midRunQueue` or discovered links are engine-internal
    * and do not fire it — same scope as the reference, whose schedule
    * event covers `queue()`d tasks. */
  def onSchedule(f: SeedRequest => Unit): this.type = {
    scheduleListeners += f; this
  }

  /** node-crawler `crawler.on('limiterChange', ...)`: fires whenever a
    * limiter's effective rate limit changes — immediately on
    * `setLimiterProperty` (when the value actually changes), and
    * (after each `run()`) once per (round, limiter) where the
    * `rateLimitSchedule` changed the effective override relative to
    * the previous round, in round order. A schedule override
    * DISAPPEARING also fires: for a HOST-keyed (default) limiter it
    * carries the delay the limiter reverts to (the host policy's crawl
    * delay); for a CUSTOM politeness group the revert is per-member-
    * host policy delay — one number cannot represent it (round-5
    * verdict #1) — so THIS listener is skipped and the expiry is
    * delivered only to [[onLimiterExpiry]], which carries no
    * fabricated delay. */
  def onLimiterChange(f: (String, Long) => Unit): this.type = {
    limiterListeners += f; this
  }

  /** Expiry of a schedule override on a CUSTOM (non-host) limiter
    * group: the group reverts to per-member-host policy delays, so the
    * event carries the limiter key only. Host-keyed limiters never
    * fire this — their expiry goes to [[onLimiterChange]] with the
    * concrete policy delay. */
  def onLimiterExpiry(f: String => Unit): this.type = {
    limiterExpiryListeners += f; this
  }

  private def fireLimiterChange(limiter: String, delay: Option[Long]): Unit =
    delay match {
      case Some(d) => limiterListeners.foreach(_(limiter, d))
      case None    => limiterExpiryListeners.foreach(_(limiter))
    }

  /** Replay the schedule's limiter changes for the rounds [from, until)
    * to the listeners, in round order — the driver-side view of the
    * engine's per-round overridesAt evaluation. */
  private def fireScheduleLimiterChanges(from: Long, until: Long): Unit = {
    if ((limiterListeners.isEmpty && limiterExpiryListeners.isEmpty) ||
        engine.cfg.rateLimitSchedule.isEmpty) return
    // before the first round only the static overrides are in force
    var prev =
      if (from <= 0L) engine.cfg.rateLimitOverrides
      else engine.cfg.overridesAt(from - 1)
    (from until until).foreach { r =>
      val cur = engine.cfg.overridesAt(r)
      (prev.keySet ++ cur.keySet).toSeq.sorted.foreach { k =>
        (prev.get(k), cur.get(k)) match {
          case (p, Some(v)) if !p.contains(v) =>
            fireLimiterChange(k, Some(v))
          case (Some(_), None) if web.isHostShaped(k) =>
            // override expired on a default (host) limiter — in-web or
            // out-of-web, the engine's quota reverts to exactly
            // policy(k).crawl_delay_ms, so that delay is reported
            fireLimiterChange(k, Some(web.policy(k).crawl_delay_ms))
          case (Some(_), None) =>
            // custom politeness group: reverts to per-member-host
            // delays — report the expiry without inventing a number
            fireLimiterChange(k, None)
          case _ => ()
        }
      }
      prev = cur
    }
  }

  /** Queue a bare URI with default options. */
  def queue(uri: String): this.type = queue(SeedRequest(uri))

  /** Queue one request with per-request options (priority, userData,
    * limiter, method, headers — node-crawler `queue({...})`). */
  def queue(req: SeedRequest): this.type = { buffered += req; this }

  /** Queue a batch (node-crawler accepts arrays). */
  def queue(reqs: Seq[SeedRequest]): this.type = { buffered ++= reqs; this }

  /** Number of requests queued and not yet flushed to the frontier. */
  def queueSize: Int = buffered.size

  /** node-crawler `crawler.direct(...)` [PK:med]: fetch ONE URL
    * immediately, bypassing the frontier, the seen set, and the rate
    * limiter — same content path (admission rule → FetchSource seam →
    * extract), no scheduling state touched. None = the URL doesn't
    * canonicalize or robots forbids it (direct() still respects robots:
    * it shares the admission content rule, not the queue). */
  def direct(uri: String, retryCount: Int = 0): Option[graft.core.FetchResult] =
    graft.core.RobotsMatcher.admit(web, uri).map { case (canon, _) =>
      // direct() sends the configured identity (UA/referer) like any
      // request, but bypasses the jar along with the rest of the
      // scheduler state (no round, no cookie visibility rule)
      val cfg = engine.cfg
      val req = graft.core.FetchRequest(canon, retryCount,
        ctx = graft.core.HttpIdentity.ctxFor(cfg, null, 0L, cookie = false))
      val source = new graft.core.SyntheticFetchSource(web, cfg)
      try source.fetch(req) finally source.close()
    }

  /** Flush queued requests and run rounds until drain (no admissible
    * candidates) or `maxRounds` — the `drain` event, as a return. */
  def run(): CrawlResult = {
    val r = runInner()
    flushDrainEvent()
    r
  }

  private def runInner(): CrawlResult = {
    if (buffered.nonEmpty) {
      val flushing = buffered.toList
      engine.enqueueRequests(flushing)
      buffered.clear()
      // 'schedule' events: one per queued request, queue order
      scheduleListeners.foreach(l => flushing.foreach(l))
    }
    val startRound = engine.nextRound
    val stats = engine.run()
    fireScheduleLimiterChanges(startRound, engine.nextRound)
    // drained = the loop's own probe said so, OR the run stopped at
    // maxRounds exactly as the frontier emptied (one pending probe,
    // paid only when a listener is registered and the flag is false)
    drainPending = drainListeners.nonEmpty &&
      (engine.lastRunDrained || engine.pending().limit(1).count() == 0)
    CrawlResult(stats, engine.documents(), engine.crawlLog(), engine.lineage())
  }

  /** `run()` with a per-attempt callback — the
    * `callback(error, res, done)` pattern [PK:high]: after the drain,
    * THIS run's attempts stream through `onAttempt` in exact crawl
    * order (a `toLocalIterator` over the pruned attempts projection —
    * one partition in driver memory at a time, no collect). Attempts
    * from earlier `run()`s are not replayed. The scheduler's own
    * behavior is untouched: retries/drops already happened in-engine,
    * like `done()` completing a task. */
  def run(onAttempt: AttemptEvent => Unit): CrawlResult = {
    val startRound = engine.nextRound
    val result = runInner()
    val events = engine.attemptEvents(startRound)
    if (events.columns.isEmpty) { // no attempts table yet
      flushDrainEvent()
      return result
    }
    // hoist the name→ordinal resolution out of the per-attempt loop
    val idx = Seq("round", "url_canon", "priority", "discovered_seq",
      "retry_count", "ok", "has_doc", "user_data", "limiter", "method",
      "headers", "ua", "proxy", "cookie_sent").map(events.schema.fieldIndex)
    val it = events.toLocalIterator()
    while (it.hasNext) {
      val r = it.next()
      onAttempt(AttemptEvent(
        r.getLong(idx(0)), r.getString(idx(1)), r.getInt(idx(2)),
        r.getLong(idx(3)), r.getInt(idx(4)), r.getBoolean(idx(5)),
        r.getBoolean(idx(6)), r.getString(idx(7)), r.getString(idx(8)),
        r.getString(idx(9)), r.getString(idx(10)),
        r.getString(idx(11)), r.getString(idx(12)), r.getBoolean(idx(13))))
    }
    // 'drain' fires only after every attempt callback was delivered
    flushDrainEvent()
    result
  }
}
