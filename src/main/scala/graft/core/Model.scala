package graft.core

/** Core data model for the crawl engine.
  *
  * Normative shape from BASELINE.json:15 (`input_hint`): the canonical
  * interleaved text+media document table is
  * `(doc_id: string, spans: array<struct<kind,text,media_ref,offset>>)`.
  * The reference checkout at /root/reference is empty (SURVEY.md §0), so
  * BASELINE.json is the behavioral contract; node-crawler semantics are
  * public knowledge (SURVEY.md §1.1).
  */

/** One span of an interleaved document. `kind` is "text" | "media";
  * `offset` is the 0-based order of the span within the document.
  * Per-row invariant vs the reference: equality on (kind, text,
  * media_ref, order=offset ascending). */
case class Span(kind: String, text: String, media_ref: String, offset: Int)

/** An extracted document: ordered interleaved text+media spans. */
case class Doc(doc_id: String, spans: Seq[Span])

/** A frontier row (SURVEY.md §1.2). Hash-partitioned by `host_bucket`
  * to co-locate per-host politeness state.
  *
  * `discovered_seq` is parallelism-invariant: seeds are numbered by file
  * order; a link discovered at index k on a parent with sequence p gets
  * `Hashing.childSeq(p, k)` — `p * 64 + 1 + k` while that fits in a
  * Long (≤63 links per page, enforced by the extractor), a
  * deterministic SplitMix64 remix past ~10 hops of depth.
  * First-discovery wins: within a round the minimum candidate seq is
  * kept per url_hash. */
case class FrontierEntry(
    url: String,
    url_canon: String,
    url_hash: Long,
    host: String,
    host_bucket: Int,
    priority: Int,
    discovered_seq: Long,
    retry_count: Int,
    due_round: Long,
    state: String, // "pending" | "done" | "dropped"
    // per-request opaque payload (node-crawler's `userData` [PK:high]):
    // set at queue time, carried through scheduling untouched, surfaced
    // on the attempt row. null for link-discovered URLs.
    user_data: String = null,
    // per-request politeness group (node-crawler's `limiter` [PK:high]):
    // requests sharing a limiter key share ONE rate bucket, across
    // hosts. null = the default limiter, the URL's host.
    limiter: String = null,
    // per-request HTTP options (node-crawler `method`/`headers`
    // [PK:high]): carried to the FetchSource seam and surfaced on the
    // attempt row. null = source defaults (GET, no extra headers).
    method: String = null,
    headers: String = null)

object FrontierEntry {
  val Pending = "pending"
  val Done = "done"
  val Dropped = "dropped"
}

/** One robots rule: longest-prefix-match, allow/disallow. */
case class RobotsRule(allow: Boolean, prefix: String)

/** Per-host politeness + robots config (SURVEY.md §1.2 `politeness`). */
case class HostPolicy(
    host: String,
    crawl_delay_ms: Long,
    rules: Seq[RobotsRule]) {
  /** Logical-clock politeness: URLs a host may serve per BSP round
    * (SURVEY.md §2.9/§5.2) — replaces node-crawler's wall-clock
    * `rateLimit` with a deterministic budget. */
  def quota(roundMs: Long): Int =
    math.max(1L, roundMs / math.max(1L, crawl_delay_ms)).toInt
}

/** Crawl run configuration. `maxPerRound` is the analog of
  * node-crawler's global `maxConnections`: a deterministic global cap on
  * fetches per round, applied on the total order
  * (priority, discovered_seq, url_hash). */
case class CrawlConfig(
    numBuckets: Int = 32,
    roundMs: Long = 1000L,
    maxPerRound: Option[Int] = None,
    maxRounds: Int = 64,
    maxRetries: Int = 2,
    failureModulus: Long = 17L, // deterministic transient-failure injection
    // GC frontier snapshots older than the N most recent after each
    // round (IceLite expire_snapshots); None keeps full history.
    retainSnapshots: Option[Int] = None,
    // squash the bloom sidecar's per-round delta rows into one blob per
    // bucket every N rounds (merge-on-read stays cheap in between).
    bloomCompactEvery: Int = 8,
    // URL-seen prefilter sketch: "bloom" (default) or "cuckoo"
    // (deletion-capable, lower fp — see graft.engine.SeenSketch).
    // Either way the exact anti-join remains the truth; the crawl
    // result is identical (golden-tested), only the prefilter routing
    // changes.
    seenFilter: String = "bloom",
    // fetch via the full byte pipeline (HTML render → charset sniff →
    // decode → HtmlSpanExtractor parse) instead of the direct content
    // function; results are byte-identical by the round-trip property,
    // so this exercises the production-shaped parse path end to end.
    parseHtml: Boolean = false,
    // store spans as one packed binary cell per page instead of
    // array<struct> (SpanCodec); documents() unpacks to the normative
    // schema on read. Cuts write-path allocation ~10x on rich pages.
    packedSpans: Boolean = false,
    // declarative per-site extraction schemas (host → SiteSchema),
    // interpreted on the parseHtml path; the default registry maps
    // every host to the generic p/img/a mapping.
    siteSchemas: SiteSchemas = SiteSchemas.Default,
    // node-crawler charset options [PK:high], honored on the parseHtml
    // byte path: incomingEncoding forces one charset (skips sniffing);
    // forceUTF8=false disables conversion (byte-transparent
    // ISO-8859-1). Defaults = sniff-and-convert, today's behavior.
    incomingEncoding: Option[String] = None,
    forceUTF8: Boolean = true,
    // runtime rate-limit overrides per limiter key (node-crawler
    // `setLimiterProperty(id, 'rateLimit', ms)` [PK:high]): an entry
    // beats the host policy's crawl delay in the quota formula. Keys
    // are limiter keys (custom `limiter` value, or the host for the
    // default limiter).
    rateLimitOverrides: Map[String, Long] = Map.empty,
    // node-crawler's preRequest hook [PK:med] as its BSP analog: a
    // PURE user predicate evaluated on every due candidate each round
    // BEFORE politeness/admission. false = the request stays PENDING
    // and is re-evaluated next round — which models both veto (return
    // false forever) and delay (return false until some condition),
    // node-crawler's two preRequest outcomes. Must be deterministic
    // and serializable (it runs inside tasks); the simulator applies
    // the identical predicate, so crawl order stays golden.
    preRequest: Option[PreRequest => Boolean] = None,
    // node-crawler's queue-DURING-crawl (callbacks enqueue more work
    // while the event loop runs [PK:high]) as its BSP analog: a PURE,
    // deterministic driver-side function called after every completed
    // round r; its requests enqueue exactly like `queue()` between
    // drains (seen-deduped, seq strictly after existing, due r+1). A
    // drain only happens when the hook injects nothing AND the pending
    // set is empty. The simulator runs the identical function at the
    // identical point, so crawl order stays golden. Must be
    // SERIALIZABLE (it rides CrawlConfig into executor-shipped
    // expressions — a lambda is; one capturing non-serializable driver
    // state fails task serialization), same contract as preRequest.
    midRunQueue: Option[Long => Seq[SeedRequest]] = None,
    // mid-crawl limiter changes (node-crawler `setLimiterProperty`
    // WHILE crawling [PK:high]) as the BSP analog: a PURE function of
    // the round number yielding extra per-limiter crawl-delay
    // overrides for that round, layered over `rateLimitOverrides`.
    // Evaluated identically by engine and simulator, so crawl order
    // stays golden. Must be SERIALIZABLE — HostQuotaExpr evaluates it
    // ON EXECUTORS (same contract as preRequest/midRunQueue).
    rateLimitSchedule: Option[Long => Map[String, Long]] = None,
    // ---- HTTP identity options (node-crawler [PK:high]) ------------
    // `userAgent`: one UA, or a pool rotated per request when
    // rotateUA=true — rotation is keyed by discovered_seq (the
    // deterministic, parallelism-invariant request ordinal: the
    // logical-clock analog of node-crawler's submission-order
    // round-robin). A per-request "user-agent" header beats both.
    // UA-cloaking hosts serve UA-dependent content (SyntheticWeb).
    userAgents: Seq[String] = Nil,
    rotateUA: Boolean = false,
    // `referer`: a fixed Referer on every request; a per-request
    // "referer" header beats it. Referer-tracking hosts surface it.
    referer: Option[String] = None,
    // `jar`: the cookie jar. A host grants its session cookie on its
    // first OK fetch; requests in STRICTLY LATER rounds present it
    // (BSP visibility — within-round fetches are concurrent, so none
    // sees a cookie granted the same round). Jar state is DERIVED
    // from the retired table, so it is crash/resume-consistent with
    // no extra state table. Cookie-personalizing hosts serve extra
    // content to cookie-bearing requests.
    cookieJar: Boolean = false,
    // proxy pool, rotated per request by the same ordinal; transport
    // identity only — recorded on the attempt row, no content effect.
    proxies: Seq[String] = Nil,
    // node-crawler `maxConnections` as its true PER-LIMITER concurrency
    // ceiling [PK:high] (each limiter cluster caps concurrent tasks;
    // the BSP analog caps fetches per (round, limiter), layered UNDER
    // the global maxPerRound cap). None = uncapped.
    maxConnectionsPerLimiter: Option[Int] = None,
    // runtime per-limiter ceilings (Crawler.setLimiterProperty(id,
    // "maxConnections", n)); an entry beats maxConnectionsPerLimiter.
    maxConnectionsOverrides: Map[String, Int] = Map.empty) {

  /** Effective per-round politeness quota for a limiter key: a runtime
    * rate-limit override beats the policy's crawl delay; same formula
    * as [[HostPolicy.quota]], shared by engine and simulator. */
  def quotaFor(limiterKey: String, policyDelayMs: => Long): Int =
    capConnections(limiterKey,
      quotaOfDelay(rateLimitOverrides.getOrElse(limiterKey, policyDelayMs)))

  /** THE quota formula for a resolved crawl delay — single-sourced for
    * engine (HostQuotaExpr) and simulator. */
  def quotaOfDelay(delayMs: Long): Int =
    math.max(1L, roundMs / math.max(1L, delayMs)).toInt

  /** The overrides in force during round `r`: the static map layered
    * with the schedule's round-specific entries. */
  def overridesAt(r: Long): Map[String, Long] =
    rateLimitSchedule match {
      case None    => rateLimitOverrides
      case Some(f) => rateLimitOverrides ++ f(r)
    }

  /** node-crawler's per-LIMITER `maxConnections` (each rate limiter is
    * a bottleneck cluster with its own concurrency ceiling [PK:high])
    * applied to a rate quota — the BSP analog caps fetches per
    * (round, limiter). Single-sourced for engine (HostQuotaExpr) and
    * simulator; the GLOBAL `maxPerRound` cap is a separate, later
    * stage (W2). A floor of 1 keeps every limiter live (a 0 cap would
    * starve the frontier forever — the reference's bottleneck also
    * rejects maxConnections < 1). */
  def capConnections(limiterKey: String, rateQuota: Int): Int = {
    val cap = maxConnectionsOverrides.get(limiterKey)
      .orElse(maxConnectionsPerLimiter).getOrElse(Int.MaxValue)
    math.min(rateQuota, math.max(1, cap))
  }

  /** Round-aware [[quotaFor]] — the form both schedulers use. */
  def quotaForAt(limiterKey: String, policyDelayMs: => Long, r: Long): Int =
    capConnections(limiterKey,
      quotaOfDelay(overridesAt(r).getOrElse(limiterKey, policyDelayMs)))
}

/** Result of fetching+extracting one page (shared shape between engine
  * and simulator; produced by the pure `Fetcher`/`SpanExtractor`). */
case class FetchResult(
    ok: Boolean,
    spans: Seq[Span],
    links: Seq[DiscoveredLink])

/** A link discovered on a page: absolute URL (pre-canonicalization) and
  * the priority the page assigns it (node-crawler: per-task `priority`,
  * 0..9, default 5). */
case class DiscoveredLink(url: String, priority: Int)

/** What node-crawler's `preRequest(options, done)` sees, in scheduler
  * terms: the candidate about to be considered for this round's
  * admission [PK:med]. */
final case class PreRequest(urlCanon: String, host: String, priority: Int,
    retryCount: Int, userData: String)

/** A queue request (node-crawler
  * `queue({uri, priority, userData, limiter, method, headers})`
  * [PK:high]): URL plus per-request scheduling priority, an opaque
  * payload that rides along to the attempt row, an optional politeness
  * group (`limiter` — requests sharing a key share one rate bucket;
  * null = per-host), and HTTP options (`method`, `headers` as an opaque
  * serialized map) passed through to the fetch seam. */
case class SeedRequest(url: String, priority: Int = 5, userData: String = null,
    limiter: String = null, method: String = null, headers: String = null)

/** Content-affecting request identity as the server sees it — resolved
  * by the SCHEDULER (engine and simulator run the identical
  * [[HttpIdentity]] resolution) and honored by [[SyntheticWeb]].
  * `cookie` is jar STATE, not an option: true iff the host granted a
  * session cookie in a strictly earlier round. */
final case class RequestCtx(
    userAgent: String = null,
    cookie: Boolean = false,
    referer: String = null)

object RequestCtx {
  val Empty: RequestCtx = RequestCtx()
}

/** Single-sourced resolution of the per-request HTTP identity
  * (node-crawler `userAgent`/`rotateUA`/`referer`/`proxy`/`jar`
  * [PK:high]) — shared verbatim by the engine's FetchExtractExpr and
  * the reference simulator so crawl order and content stay golden.
  * Row-local and deterministic: rotation is a pure function of
  * `discovered_seq`, so the result is invariant to partitioning. */
object HttpIdentity {

  /** Effective User-Agent: per-request header > rotating pool > single
    * UA > null (the source default). */
  def uaFor(cfg: CrawlConfig, headers: String, seq: Long): String = {
    val h = HeaderMap.get(headers, "user-agent")
    if (h != null) return h
    if (cfg.userAgents.isEmpty) null
    else if (!cfg.rotateUA || cfg.userAgents.size == 1) cfg.userAgents.head
    else cfg.userAgents(Hashing.pmod(seq, cfg.userAgents.size).toInt)
  }

  /** Effective Referer: per-request header > the global option. */
  def refererFor(cfg: CrawlConfig, headers: String): String = {
    val h = HeaderMap.get(headers, "referer")
    if (h != null) return h
    cfg.referer.orNull
  }

  /** The request identity the fetch seam receives ([[FetchRequest]]):
    * UA and referer resolved from (cfg, headers, seq), plus the
    * scheduler's cookie-jar bit. */
  def ctxFor(cfg: CrawlConfig, headers: String, seq: Long,
      cookie: Boolean): RequestCtx =
    RequestCtx(uaFor(cfg, headers, seq), cookie, refererFor(cfg, headers))

  /** Proxy-pool rotation by request ordinal (recorded on the attempt
    * row; transport-only). */
  def proxyFor(cfg: CrawlConfig, seq: Long): String =
    if (cfg.proxies.isEmpty) null
    else cfg.proxies(Hashing.pmod(seq, cfg.proxies.size).toInt)
}

/** Tokenizer for the opaque JSON-ish request-headers string
  * (`queue({headers})` carries `{"key":"value",...}`). Replaces the
  * round-5 regex scans (round-5 ADVICE): a value containing an escaped
  * quote, or a value that itself embeds a `"user-agent":"..."`
  * substring, misparsed under the regex — a real tokenizer walks the
  * string once, honoring `\\`-escapes, and looks keys up
  * case-insensitively. Shared by [[HttpIdentity]] and
  * [[ContentCodec.acceptsGzip]], so engine and simulator stay golden
  * by construction. Best-effort on malformed input: whatever
  * well-formed `"key":"value"` prefix pairs exist are returned. */
object HeaderMap {

  /** Case-insensitive lookup of one header; null if absent, the
    * headers string is null, or the value is not a JSON string.
    * Early-exits at the first key match and allocates no Map — this
    * runs up to three times per fetched row (ua/referer/encoding) on
    * the executor hot path. */
  def get(headers: String, lowerKey: String): String = {
    if (headers == null) return null
    var found: String = null
    walk(headers) { (k, v) =>
      if (k == lowerKey) { found = v; true } else false
    }
    found
  }

  /** Parse the headers string into a lowercase-keyed map. Only
    * string-valued entries are kept (header values are strings by
    * convention; non-string values are skipped, not errors).
    * Duplicate-key rule: FIRST occurrence wins — the same rule [[get]]
    * implements via its early exit, so the hot-path lookup and the
    * full parse can never disagree on the same headers string. */
  def parse(headers: String): Map[String, String] = {
    if (headers == null) return Map.empty
    var out = Map.empty[String, String]
    walk(headers) { (k, v) =>
      if (!out.contains(k)) out = out.updated(k, v)
      false
    }
    out
  }

  /** The tokenizer: streams lowercase (key, value) string pairs to
    * `f`; `f` returning true stops the walk (early-exit lookups). */
  private def walk(headers: String)(f: (String, String) => Boolean): Unit = {
    val n = headers.length
    var i = 0
    def skipWs(): Unit = while (i < n && headers.charAt(i).isWhitespace) i += 1
    // reads the JSON string starting at the opening quote headers(i);
    // returns null (and leaves i past the broken region) on malformed
    def readString(): String = {
      val sb = new java.lang.StringBuilder
      i += 1 // opening quote
      while (i < n) {
        val c = headers.charAt(i)
        if (c == '"') { i += 1; return sb.toString }
        else if (c == '\\' && i + 1 < n) {
          val e = headers.charAt(i + 1)
          e match {
            case '"'  => sb.append('"'); i += 2
            case '\\' => sb.append('\\'); i += 2
            case '/'  => sb.append('/'); i += 2
            case 'n'  => sb.append('\n'); i += 2
            case 't'  => sb.append('\t'); i += 2
            case 'r'  => sb.append('\r'); i += 2
            case 'b'  => sb.append('\b'); i += 2
            case 'f'  => sb.append('\f'); i += 2
            case 'u' if i + 5 < n =>
              try {
                sb.append(Integer.parseInt(headers.substring(i + 2, i + 6), 16)
                  .toChar)
                i += 6
              } catch { case _: NumberFormatException => sb.append(e); i += 2 }
            case other => sb.append(other); i += 2 // lenient: keep the char
          }
        } else { sb.append(c); i += 1 }
      }
      null // unterminated string
    }
    skipWs()
    if (i < n && headers.charAt(i) == '{') i += 1
    var done = false
    while (!done && i < n) {
      skipWs()
      if (i >= n || headers.charAt(i) == '}') done = true
      else if (headers.charAt(i) == ',') i += 1
      else if (headers.charAt(i) == '"') {
        val key = readString()
        if (key == null) done = true
        else {
          skipWs()
          if (i < n && headers.charAt(i) == ':') {
            i += 1; skipWs()
            if (i < n && headers.charAt(i) == '"') {
              val v = readString()
              if (v == null) done = true
              else if (f(key.toLowerCase, v)) return
            } else {
              // non-string value: skip to the next top-level
              // comma/close. Nested STRINGS are consumed whole — a
              // '}', ']' or ',' inside a quoted string (e.g.
              // {"tags":["a}b"],"user-agent":"X"}) must not steer the
              // depth counter.
              var depth = 0
              var stop = false
              while (i < n && !stop) {
                val c = headers.charAt(i)
                if (c == '"') { if (readString() == null) stop = true }
                else if (c == '[' || c == '{') { depth += 1; i += 1 }
                else if (c == ']' || c == '}') {
                  if (depth == 0 && c == '}') stop = true
                  else { depth -= 1; i += 1 }
                }
                else if (c == ',' && depth == 0) stop = true
                else i += 1
              }
            }
          } else done = true // malformed: key without ':'
        }
      } else done = true // unexpected token
    }
  }
}
