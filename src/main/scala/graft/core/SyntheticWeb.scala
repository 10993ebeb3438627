package graft.core

import Hashing.{draw, pmod, xxhash64}

/** Deterministic virtual web (SURVEY.md §5.2, FIXTURES.md A6).
  *
  * There is no network in the sandbox (zero egress), so the "fetch
  * source" (SURVEY.md §2.1 S3) is a pure function: page bytes for a URL
  * are a seeded deterministic function of `xxhash64(url_canon)`. Both
  * the Spark engine's fetch source and the single-threaded
  * reference simulator call the same generator, so they observe
  * identical content — scheduling differences remain the thing under
  * test.
  *
  * URL space: `http://h<i>.example/p/<j>` with `j < pages(host)`.
  * Host 0 is a mega-host (skew fixture: ~`megaFactor`× the pages of an
  * ordinary host, SURVEY.md §7.1 step 7). Some pages live under
  * `/private/...` which robots disallows for every third host.
  *
  * Page format (one token per line):
  * {{{
  *   t:<text>            text span
  *   m:<media_ref>       media span
  *   l:<pri>:<relative>  out-link with priority 0..9
  * }}}
  */
final case class SyntheticWeb(
    seed: Long = 42L,
    nHosts: Int = 20,
    pagesPerHost: Int = 50,
    megaFactor: Int = 8,
    // page richness: spans per page in [spanBase, spanBase+spanRange),
    // words per text span in [wordBase, wordBase+wordRange). Defaults
    // give toy pages for fast unit fixtures; the bench uses realistic
    // multi-KB pages.
    spanBase: Int = 2,
    spanRange: Int = 6,
    wordBase: Int = 3,
    wordRange: Int = 8) {

  def hostName(i: Int): String = f"h$i%04d.example"

  def pagesOf(host: String): Int =
    if (host == hostName(0)) pagesPerHost * megaFactor else pagesPerHost

  /** -1 for any host not shaped like h<digits>.example — out-of-web
    * hosts get the permissive default policy below and 404 on fetch
    * instead of crashing the job. */
  private def hostIndex(host: String): Int = {
    if (!host.startsWith("h") || !host.endsWith(".example")) return -1
    val digits = host.substring(1, host.length - 8)
    if (digits.nonEmpty && digits.length <= 9 && digits.forall(_.isDigit))
      digits.toInt
    else -1
  }

  /** Is this string a host of this web? Used by the facade's limiter
    * events to tell a default (host-keyed) limiter from a custom
    * politeness group — a custom group spans hosts and has no single
    * policy delay to revert to. */
  def isHost(name: String): Boolean = {
    val i = hostIndex(name)
    i >= 0 && i < nHosts
  }

  /** Host-SHAPED: any name `policy()` resolves by index — including
    * out-of-web hosts (crawlable via seeds; they carry a well-defined
    * drawn policy delay the engine's quota actually uses). Custom
    * politeness-group keys are not host-shaped; a group spans hosts
    * and has no single delay to revert to on override expiry. */
  def isHostShaped(name: String): Boolean = hostIndex(name) >= 0

  /** Deterministic per-host politeness + robots config. Unknown
    * (out-of-web) hosts get a permissive default — they fetch as 404s
    * and retire, like any other dead URL. */
  def policy(host: String): HostPolicy = {
    val i = hostIndex(host)
    if (i < 0) return HostPolicy(host, 500L, Seq.empty)
    val delays = Array(100L, 250L, 500L, 1000L)
    // mega-host crawls fast (it must, to be a skew problem at all)
    val delay = if (i == 0) 50L else delays(pmod(draw(seed ^ 0xB0B, i), delays.length).toInt)
    val rules =
      if (i % 3 == 2) Seq(RobotsRule(allow = false, "/private"), RobotsRule(allow = true, "/private/open"))
      else Seq.empty
    HostPolicy(host, delay, rules)
  }

  /** UA-cloaking hosts (every 5th, offset 2): the served page is a
    * deterministic function of (url, User-Agent) — the content draw
    * root mixes the UA hash. A request with no UA gets the base page,
    * so runs without identity options are byte-identical to before. */
  def uaCloaks(host: String): Boolean = {
    val i = hostIndex(host); i >= 0 && i % 5 == 2
  }

  /** Cookie-personalizing hosts (every 5th, offset 3): a request
    * presenting the host's session cookie gets one extra "logged-in"
    * text span and one extra same-host link appended — the
    * authenticated view. */
  def cookiePersonalizes(host: String): Boolean = {
    val i = hostIndex(host); i >= 0 && i % 5 == 3
  }

  /** Referer-tracking hosts (every 5th, offset 4): a request carrying
    * a Referer gets a tracking span appended, deterministic in
    * (url, referer). */
  def refererTracks(host: String): Boolean = {
    val i = hostIndex(host); i >= 0 && i % 5 == 4
  }

  def seedUrls(n: Int): Seq[String] =
    (0 until n).map { k =>
      val h = pmod(draw(seed ^ 0x5EED, k), nHosts).toInt
      val p = pmod(draw(seed ^ 0x5EED0 + 7, k), pagesOf(hostName(h))).toInt
      s"http://${hostName(h)}/p/$p"
    }

  /** Generate page CONTENT for a canonical URL — the source of truth.
    * Deterministic in (URL, request identity); None for URLs outside
    * the web (404). The textual page format (`page`) is a render of
    * this, so direct consumers (the fetch hot path) and parse
    * consumers (the SpanExtractor tests) agree by construction.
    * With the default (empty) [[RequestCtx]] the output is exactly the
    * pre-identity page — UA cloaking, cookie personalization, and
    * referer tracking only engage when the request carries the
    * corresponding identity AND the host is in that host class. */
  def content(urlCanon: String, ctx: RequestCtx = RequestCtx.Empty)
      : Option[(IndexedSeq[Span], IndexedSeq[DiscoveredLink])] = {
    val host = UrlCanonicalizer.hostOf(urlCanon)
    if (!host.endsWith(".example")) return None
    val hi = hostIndex(host)
    if (hi < 0 || hi >= nHosts) return None
    val path = UrlCanonicalizer.pathOf(urlCanon)
    val nPages = pagesOf(host)
    val pageNo: Int =
      if (path.startsWith("/p/")) {
        val s = path.drop(3); if (s.nonEmpty && s.forall(_.isDigit)) s.toInt else return None
      } else if (path.startsWith("/private/p/")) {
        val s = path.drop(11); if (s.nonEmpty && s.forall(_.isDigit)) s.toInt else return None
      } else return None
    if (pageNo >= nPages) return None

    // cloaking: the UA hash perturbs the draw root — a different UA is
    // a genuinely different page (spans AND links), like real cloaking
    val r0 = xxhash64(urlCanon)
    val r =
      if (ctx.userAgent != null && uaCloaks(host)) r0 ^ xxhash64("ua|" + ctx.userAgent)
      else r0
    val nSpans = spanBase + pmod(draw(r, 1), spanRange).toInt
    val spans = new Array[Span](nSpans)
    var k = 0
    while (k < nSpans) {
      val d = draw(r, 10 + k)
      spans(k) =
        if (pmod(d, 10) < 7) Span("text", textFor(d), null, k)
        else Span("media", null, s"media://$host/asset/${pmod(d, 1000)}", k)
      k += 1
    }
    val nLinks = 1 + pmod(draw(r, 2), 6).toInt
    val links = new Array[DiscoveredLink](nLinks)
    var j = 0
    while (j < nLinks) {
      val d = draw(r, 100 + j)
      val pri = pmod(d, 10).toInt
      val target =
        if (pmod(d, 7) == 0) { // cross-host absolute link
          val th = pmod(draw(d, 3), nHosts).toInt
          val tp = pmod(draw(d, 4), pagesOf(hostName(th))).toInt
          s"http://${hostName(th)}/p/$tp"
        } else if (pmod(d, 11) == 1) { // link into robots-restricted area
          s"/private/p/${pmod(draw(d, 5), nPages)}"
        } else { // same-host relative link
          s"/p/${pmod(draw(d, 6), nPages)}"
        }
      links(j) = DiscoveredLink(target, pri)
      j += 1
    }
    var outSpans: IndexedSeq[Span] = scala.collection.immutable.ArraySeq.unsafeWrapArray(spans)
    var outLinks: IndexedSeq[DiscoveredLink] = scala.collection.immutable.ArraySeq.unsafeWrapArray(links)
    if (ctx.cookie && cookiePersonalizes(host)) {
      // the authenticated view: one extra text span + one extra
      // same-host link, deterministic in the (possibly cloaked) page
      val d = draw(r, 7001)
      outSpans = outSpans :+ Span("text", "session " + textFor(d), null, outSpans.length)
      outLinks = outLinks :+ DiscoveredLink(s"/p/${pmod(draw(d, 1), nPages)}", pmod(d, 10).toInt)
    }
    if (ctx.referer != null && refererTracks(host)) {
      val d = draw(r ^ xxhash64("ref|" + ctx.referer), 7002)
      outSpans = outSpans :+ Span("text", "via " + textFor(d), null, outSpans.length)
    }
    Some((outSpans, outLinks))
  }

  /** Render the textual page format (FIXTURES.md A6) from `content` —
    * used by the parse-path tests and any consumer that wants bytes. */
  def page(urlCanon: String, ctx: RequestCtx = RequestCtx.Empty): Option[String] =
    content(urlCanon, ctx).map {
    case (spans, links) =>
      val sb = new StringBuilder
      spans.foreach { s =>
        if (s.kind == "text") sb.append("t:").append(s.text).append('\n')
        else sb.append("m:").append(s.media_ref).append('\n')
      }
      links.foreach { l =>
        sb.append("l:").append(l.priority).append(':').append(l.url).append('\n')
      }
      sb.toString
  }

  /** The same page as HTML bytes (UTF-8 with a meta charset tag) — the
    * fetch path input when CrawlConfig.parseHtml exercises the full
    * decode+parse pipeline (CharsetSniffer → HtmlSpanExtractor). */
  def pageHtmlBytes(urlCanon: String,
      ctx: RequestCtx = RequestCtx.Empty): Option[Array[Byte]] =
    content(urlCanon, ctx).map { case (spans, links) =>
      HtmlRenderer.render(urlCanon, spans, links)
        .getBytes(java.nio.charset.StandardCharsets.UTF_8)
    }

  /** Hosts that compress responses (server-side gzip is a host-level
    * deployment choice in practice): every 4th host. Served only when
    * the request accepts it — content negotiation. */
  def servesGzip(host: String): Boolean = {
    val i = hostIndex(host)
    i >= 0 && i % 4 == 1
  }

  /** The page as a wire response: (body bytes, Content-Encoding).
    * A gzip host serves `Content-Encoding: gzip` when the request
    * accepts it (no Accept-Encoding header = accepts, the `request`
    * default [PK:high]); everything else is identity. The fetch path
    * must run [[ContentCodec.decode]] before charset sniffing. */
  def pageResponse(urlCanon: String, acceptGzip: Boolean = true,
      ctx: RequestCtx = RequestCtx.Empty): Option[(Array[Byte], Option[String])] =
    pageHtmlBytes(urlCanon, ctx).map { b =>
      if (acceptGzip && servesGzip(UrlCanonicalizer.hostOf(urlCanon)))
        (ContentCodec.gzip(b), Some("gzip"))
      else (b, None)
    }

  /** Deterministic transient fetch failure (exercises the retry path):
    * fails on the first `retryCount` attempts for URLs whose hash hits
    * the failure modulus. */
  def fetchFails(urlCanon: String, retryCount: Int, cfg: CrawlConfig): Boolean = {
    val h = xxhash64(urlCanon)
    pmod(h, cfg.failureModulus) == 0 && retryCount == 0
  }

  private val words = Array(
    "graph", "frontier", "crawl", "span", "media", "token", "page",
    "host", "link", "queue", "delta", "index", "fetch", "robot")

  private def textFor(d: Long): String = {
    val n = wordBase + pmod(draw(d, 8), wordRange).toInt
    // hand-rolled join: this runs once per text span across the whole
    // fetch stage — the Range/map/mkString form was measurable
    // allocation traffic at bench scale
    val sb = new java.lang.StringBuilder(n * 8)
    var i = 0
    while (i < n) {
      if (i > 0) sb.append(' ')
      sb.append(words(pmod(draw(d, 20 + i), words.length).toInt))
      i += 1
    }
    sb.toString
  }
}
