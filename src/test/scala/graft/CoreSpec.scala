package graft

import org.scalatest.funsuite.AnyFunSuite
import org.scalacheck.Gen
import graft.core._

class CoreSpec extends AnyFunSuite {
  import GenCheck.forAllGen

  // ---- HTTP identity content effects ---------------------------------

  test("SyntheticWeb identity effects: UA cloaking, authenticated view, " +
    "referer tracking; the empty ctx is byte-identical to the legacy page") {
    val web = SyntheticWeb(nHosts = 10, pagesPerHost = 8)
    val u2 = s"http://${web.hostName(2)}/p/1" // cloaking host (i%5==2)
    assert(web.content(u2).get === web.content(u2, RequestCtx.Empty).get)
    val base = web.content(u2).get
    val ua1 = web.content(u2, RequestCtx(userAgent = "bot-A")).get
    val ua2 = web.content(u2, RequestCtx(userAgent = "bot-B")).get
    assert(ua1 !== base, "cloaking host ignored the UA")
    assert(ua1 !== ua2, "two UAs served the same cloaked page")
    // non-cloaking host ignores UA entirely
    val u0 = s"http://${web.hostName(0)}/p/1"
    assert(web.content(u0, RequestCtx(userAgent = "bot-A")).get
      === web.content(u0).get)

    // cookie personalization (i%5==3): exactly one extra span + link,
    // appended after the anonymous view, offsets contiguous
    val u3 = s"http://${web.hostName(3)}/p/1"
    val anon = web.content(u3).get
    val auth = web.content(u3, RequestCtx(cookie = true)).get
    assert(auth._1.size === anon._1.size + 1)
    assert(auth._1.init === anon._1)
    assert(auth._1.last.text.startsWith("session "))
    assert(auth._1.last.offset === anon._1.size)
    assert(auth._2.size === anon._2.size + 1)
    assert(web.content(u0, RequestCtx(cookie = true)).get === web.content(u0).get)

    // referer tracking (i%5==4): one extra span, deterministic in the
    // referer value
    val u4 = s"http://${web.hostName(4)}/p/1"
    val r0 = web.content(u4).get
    val r1 = web.content(u4, RequestCtx(referer = "http://a.example/")).get
    val r2 = web.content(u4, RequestCtx(referer = "http://b.example/")).get
    assert(r1._1.size === r0._1.size + 1)
    assert(r1._1.last.text.startsWith("via "))
    assert(r1._1.last !== r2._1.last, "tracking span ignores the referer")

    // identity-affected pages still render→parse round-trip, so the
    // byte path serves the same identity view as the direct path
    val ctx = RequestCtx(userAgent = "bot-A", cookie = true,
      referer = "http://a.example/")
    Seq(u2, u3, u4).foreach { u =>
      val (spans, links) = web.content(u, ctx).get
      val (ps, pl) = HtmlSpanExtractor.extract(HtmlRenderer.render(u, spans, links))
      assert(ps.toSeq === spans.toSeq, s"span round-trip broke under identity ctx: $u")
      assert(pl.toSeq === links.toSeq, s"link round-trip broke under identity ctx: $u")
    }
  }

  test("SyntheticFetchSource resolves the same HTTP identity as the engine " +
    "and simulator — the pluggable seam serves identity content too") {
    val web = SyntheticWeb(nHosts = 10, pagesPerHost = 8)
    val cfg = CrawlConfig(userAgents = Seq("sa/1", "sa/2"), rotateUA = true,
      referer = Some("http://r.example/"))
    val src = new SyntheticFetchSource(web, cfg)
    val u2 = s"http://${web.hostName(2)}/p/1" // cloaking host
    // the caller resolves the identity once (as the engine's expression
    // and Crawler.direct do); the source serves exactly that identity
    val ctx = HttpIdentity.ctxFor(cfg, null, 3L, cookie = false)
    assert(ctx === RequestCtx("sa/2", cookie = false, referer = "http://r.example/"))
    val got = src.fetch(FetchRequest(u2, 0, ctx = ctx))
    val expect = Fetcher.fetch(web, u2, 0, cfg, null, null,
      RequestCtx(HttpIdentity.uaFor(cfg, null, 3L), cookie = false,
        referer = "http://r.example/"))
    assert(got === expect)
    // identity really engaged: differs from the anonymous page
    assert(got.spans !== Fetcher.fetch(web, u2, 0, CrawlConfig()).spans)
    // the jar bit presented via the request is honored
    val u3 = s"http://${web.hostName(3)}/p/1" // personalizing host
    val anon = src.fetch(FetchRequest(u3, 0))
    val auth = src.fetch(FetchRequest(u3, 0, ctx = RequestCtx(cookie = true)))
    assert(auth.spans.size === anon.spans.size + 1)
  }

  test("HttpIdentity resolution: header overrides, rotation by ordinal, proxy pool") {
    val cfg = CrawlConfig(
      userAgents = Seq("ua-0", "ua-1", "ua-2"), rotateUA = true,
      referer = Some("http://global.ref/"), proxies = Seq("p0", "p1"))
    // rotation is pmod(seq, n) — deterministic, row-local
    assert((0L to 5L).map(HttpIdentity.uaFor(cfg, null, _))
      === Seq("ua-0", "ua-1", "ua-2", "ua-0", "ua-1", "ua-2"))
    assert((0L to 3L).map(HttpIdentity.proxyFor(cfg, _))
      === Seq("p0", "p1", "p0", "p1"))
    // per-request headers beat the global options (case-insensitive key)
    assert(HttpIdentity.uaFor(cfg, """{"User-Agent":"custom/9"}""", 1L) === "custom/9")
    assert(HttpIdentity.refererFor(cfg, """{"referer":"http://task.ref/"}""")
      === "http://task.ref/")
    assert(HttpIdentity.refererFor(cfg, """{"x":"y"}""") === "http://global.ref/")
    // no rotation: first UA always; empty config: nulls
    assert(HttpIdentity.uaFor(cfg.copy(rotateUA = false), null, 7L) === "ua-0")
    val none = CrawlConfig()
    assert(HttpIdentity.uaFor(none, null, 3L) == null)
    assert(HttpIdentity.proxyFor(none, 3L) == null)
    assert(HttpIdentity.refererFor(none, null) == null)
  }

  test("HeaderMap tokenizer: escaped quotes and embedded key-shaped text " +
    "cannot misparse (round-5 ADVICE regex fix)") {
    // a value containing an ESCAPED `"user-agent":"evil"` substring is
    // data, not a key — the old regex matched it
    val tricky =
      """{"x-note":"see \"user-agent\":\"evil\" in docs","user-agent":"good/1"}"""
    assert(HttpIdentity.uaFor(CrawlConfig(), tricky, 0L) === "good/1")
    assert(HeaderMap.parse(tricky)("x-note") === """see "user-agent":"evil" in docs""")
    // the embedded mention ALONE resolves to no UA at all
    val onlyEmbedded = """{"x-note":"see \"user-agent\":\"evil\" in docs"}"""
    assert(HttpIdentity.uaFor(CrawlConfig(), onlyEmbedded, 0L) == null)
    // escaped quotes inside the value round-trip
    assert(HttpIdentity.uaFor(CrawlConfig(),
      """{"user-agent":"A \"quoted\" UA"}""", 0L) === """A "quoted" UA""")
    // backslash + unicode escapes; keys lowercase case-insensitively
    val esc = """{"User-Agent":"a\\bA","Referer":"http://r/\n"}"""
    assert(HeaderMap.parse(esc) === Map(
      "user-agent" -> "a\\bA", "referer" -> "http://r/\n"))
    // non-string values are skipped, later string entries still parse
    assert(HeaderMap.parse("""{"retry":3,"tags":["a","b"],"referer":"http://r/"}""")
      === Map("referer" -> "http://r/"))
    // a '}' / ']' / ',' INSIDE a string nested in a skipped value is
    // data — the depth scan must consume nested strings whole
    assert(HeaderMap.parse("""{"tags":["a}b","c]d"],"user-agent":"Bot/2"}""")
      === Map("user-agent" -> "Bot/2"))
    assert(HeaderMap.parse("""{"meta":{"x":"a,b}c"},"referer":"http://r/"}""")
      === Map("referer" -> "http://r/"))
    // early-exit get agrees with the full parse
    assert(HeaderMap.get("""{"tags":["a}b"],"user-agent":"Bot/2"}""",
      "user-agent") === "Bot/2")
    // duplicate keys: FIRST occurrence wins in BOTH get and parse
    // (round-6 ADVICE: parse kept the last via Map overwrite while get
    // early-exited on the first — they could disagree)
    val dup = """{"user-agent":"first/1","User-Agent":"second/2"}"""
    assert(HeaderMap.get(dup, "user-agent") === "first/1")
    assert(HeaderMap.parse(dup)("user-agent") === "first/1")
    // malformed input: best-effort prefix, never a throw
    assert(HeaderMap.parse("""{"user-agent":"ok","broken""") === Map("user-agent" -> "ok"))
    assert(HeaderMap.parse("not json at all") === Map.empty)
    assert(HeaderMap.parse(null) === Map.empty)
    // acceptsGzip negotiation through the same tokenizer: an embedded
    // `"accept-encoding":"gzip"` inside another value is data
    assert(!ContentCodec.acceptsGzip(
      """{"accept-encoding":"identity","x":"try \"accept-encoding\":\"gzip\""}"""))
  }

  // ---- canonicalizer -------------------------------------------------

  test("canonicalize: lowercases scheme+host, strips fragment/default port") {
    assert(UrlCanonicalizer.canonicalize("HTTP://Example.COM:80/A/b#frag")
      === Some("http://example.com/A/b"))
    assert(UrlCanonicalizer.canonicalize("https://h.example:443/")
      === Some("https://h.example/"))
    assert(UrlCanonicalizer.canonicalize("https://h.example:8443/x")
      === Some("https://h.example:8443/x"))
  }

  test("canonicalize: path normalization") {
    assert(UrlCanonicalizer.canonicalize("http://h/a//b/./c/../d")
      === Some("http://h/a/b/d"))
    assert(UrlCanonicalizer.canonicalize("http://h") === Some("http://h/"))
    assert(UrlCanonicalizer.canonicalize("http://h/a/") === Some("http://h/a"))
  }

  test("canonicalize: query keys stable-sorted") {
    assert(UrlCanonicalizer.canonicalize("http://h/p?b=2&a=1&c=3")
      === Some("http://h/p?a=1&b=2&c=3"))
    assert(UrlCanonicalizer.canonicalize("http://h/p?")
      === Some("http://h/p"))
  }

  test("canonicalize: rejects non-http and junk") {
    assert(UrlCanonicalizer.canonicalize("ftp://h/x") === None)
    assert(UrlCanonicalizer.canonicalize("not a url") === None)
    assert(UrlCanonicalizer.canonicalize("http://") === None)
  }

  private val urlGen: Gen[String] = for {
    scheme <- Gen.oneOf("http", "HTTP", "https")
    host <- Gen.oneOf("H0.Example", "a.b.c", "x.example")
    port <- Gen.oneOf("", ":80", ":443", ":8080")
    path <- Gen.listOfN(3, Gen.oneOf("a", "B", "..", ".", "")).map(_.mkString("/", "/", ""))
    q <- Gen.oneOf("", "?b=2&a=1", "?z=9")
    frag <- Gen.oneOf("", "#f")
  } yield s"$scheme://$host$port$path$q$frag"

  test("canonicalize is idempotent (property)") {
    forAllGen(urlGen) { u =>
      UrlCanonicalizer.canonicalize(u).foreach { c =>
        assert(UrlCanonicalizer.canonicalize(c) === Some(c))
      }
    }
  }

  test("canonicalize fast path agrees with the full rebuild (property)") {
    // generator inputs + hand-picked boundary shapes: the fast path may
    // only return the input when the rebuild would return it unchanged
    val edge = Seq(
      "http://h.example/p/3", "http://h.example/", "http://h.example",
      "http://h.example/p/3/", "http://h.example//p", "http://h.example/p/./3",
      "http://h.example/p/../3", "http://h.example/.well-known/x",
      "http://h.example/a.b/c", "http://h.example:80/p", "http://h.example:8080/p",
      "http://h.example/p?b=2&a=1", "http://h.example/p#f", "HTTP://h.example/p",
      "http://H.example/p", "http://u@h.example/p", " http://h.example/p",
      "http://h.example/p ", "https://h.example/UPPER/Path", "http://h0001.example/p/12")
    (edge ++ Seq.empty).foreach { u =>
      assert(UrlCanonicalizer.canonicalize(u) === UrlCanonicalizer.canonicalizeSlow(u), u)
    }
    forAllGen(urlGen) { u =>
      assert(UrlCanonicalizer.canonicalize(u) === UrlCanonicalizer.canonicalizeSlow(u), u)
    }
  }

  test("resolve: absolute, protocol-relative, root-relative, dir-relative") {
    val base = "http://h.example/a/b"
    assert(UrlCanonicalizer.resolve(base, "http://x/y") === Some("http://x/y"))
    assert(UrlCanonicalizer.resolve(base, "//x/y") === Some("http://x/y"))
    assert(UrlCanonicalizer.resolve(base, "/p/1") === Some("http://h.example/p/1"))
    assert(UrlCanonicalizer.resolve(base, "c") === Some("http://h.example/a/c"))
  }

  test("hostOf / pathOf") {
    assert(UrlCanonicalizer.hostOf("http://h.example:8080/a?q=1") === "h.example")
    assert(UrlCanonicalizer.pathOf("http://h.example/a/b?q=1") === "/a/b")
    assert(UrlCanonicalizer.pathOf("http://h.example") === "/")
  }

  // ---- robots --------------------------------------------------------

  test("robots: longest prefix wins, tie prefers allow, default allow") {
    val rules = Seq(
      RobotsRule(allow = false, "/private"),
      RobotsRule(allow = true, "/private/open"))
    assert(RobotsMatcher.allows(rules, "/public"))
    assert(!RobotsMatcher.allows(rules, "/private/x"))
    assert(RobotsMatcher.allows(rules, "/private/open/x"))
    assert(RobotsMatcher.allows(Nil, "/anything"))
  }

  test("robots: fixture files parse to expected rules (FIXTURES.md A4)") {
    def load(name: String): String =
      new String(getClass.getResourceAsStream(s"/robots/$name").readAllBytes(), "UTF-8")
    val r2 = RobotsMatcher.parse(load("h0002.example.txt"))
    assert(r2 === Seq(
      RobotsRule(false, "/private"), RobotsRule(true, "/private/open"),
      RobotsRule(false, "/tmp")))
    assert(!RobotsMatcher.allows(r2, "/private/x"))
    assert(RobotsMatcher.allows(r2, "/private/open/y"))
    assert(!RobotsMatcher.allows(r2, "/tmp/z"))
    assert(RobotsMatcher.allows(r2, "/public"))
    val r5 = RobotsMatcher.parse(load("h0005.example.txt"))
    assert(r5 === Nil) // empty Disallow = allow all
    assert(RobotsMatcher.allows(r5, "/anything"))
  }

  test("robots: parse") {
    val txt =
      """# comment
        |User-agent: *
        |Disallow: /tmp
        |Allow: /tmp/ok
        |Disallow:
        |""".stripMargin
    val rules = RobotsMatcher.parse(txt)
    assert(rules === Seq(RobotsRule(false, "/tmp"), RobotsRule(true, "/tmp/ok")))
  }

  test("robots: group-aware parsePolicy — agent groups, Crawl-delay, fallbacks") {
    import RobotsMatcher.{parsePolicy, RobotsPolicy}
    val txt =
      """User-agent: *
        |Disallow: /private
        |Crawl-delay: 2
        |
        |User-agent: graftbot
        |User-agent: otherbot
        |Disallow: /graft-only
        |Allow: /graft-only/pub
        |Crawl-delay: 0.5
        |Sitemap: http://x.example/map.xml
        |""".stripMargin
    // the specific group wins for the named agent (case-insensitive,
    // product-token containment), * otherwise
    val g = parsePolicy(txt, "GraftBot/1.0")
    assert(g.rules === Seq(RobotsRule(false, "/graft-only"),
      RobotsRule(true, "/graft-only/pub")))
    assert(g.crawlDelayMs === Some(500L))
    val star = parsePolicy(txt, "unrelated-crawler")
    assert(star.rules === Seq(RobotsRule(false, "/private")))
    assert(star.crawlDelayMs === Some(2000L))
    // a User-agent line AFTER directives starts a new group
    val two =
      """User-agent: a
        |Disallow: /x
        |User-agent: b
        |Disallow: /y
        |""".stripMargin
    assert(parsePolicy(two, "a").rules === Seq(RobotsRule(false, "/x")))
    assert(parsePolicy(two, "b").rules === Seq(RobotsRule(false, "/y")))
    // no matching group and no * -> allow-all, no delay
    assert(parsePolicy(two, "c") === RobotsPolicy(Nil, None))
    // malformed Crawl-delay ignored; negative rejected
    val bad = "User-agent: *\nCrawl-delay: soon\nDisallow: /p\n"
    assert(parsePolicy(bad, "x").crawlDelayMs === None)
    assert(parsePolicy("User-agent: *\nCrawl-delay: -3\n", "x").crawlDelayMs === None)
  }

  // ---- hashing agrees with Spark SQL ---------------------------------

  test("Hashing.xxhash64 matches Spark's xxhash64; hostBucket matches pmod") {
    val spark = SparkTestBase.spark
    import spark.implicits._
    import org.apache.spark.sql.functions._
    val samples = Seq("http://h0.example/p/1", "abc", "", "ünïcode-€")
    val rows = samples.toDF("s")
      .select(xxhash64($"s").as("h"), pmod(xxhash64($"s"), lit(32)).as("b"))
      .collect()
    samples.zip(rows).foreach { case (s, r) =>
      assert(Hashing.xxhash64(s) === r.getLong(0), s"hash for '$s'")
      assert(Hashing.hostBucket(s, 32).toLong === r.getLong(1), s"bucket for '$s'")
    }
  }

  // ---- extractor + synthetic web -------------------------------------

  test("SpanExtractor: interleaved spans keep offsets; links parsed with priority") {
    val page = "t:hello world\nm:media://h/asset/1\nl:3:/p/7\nt:bye\nl:9:http://x/y\n"
    val (spans, links) = SpanExtractor.extract(page)
    assert(spans === Seq(
      Span("text", "hello world", null, 0),
      Span("media", null, "media://h/asset/1", 1),
      Span("text", "bye", null, 2)))
    assert(links === Seq(DiscoveredLink("/p/7", 3), DiscoveredLink("http://x/y", 9)))
  }

  test("SyntheticWeb: parse path agrees with direct content (render round-trip)") {
    val web = SyntheticWeb(nHosts = 6, pagesPerHost = 10, megaFactor = 3)
    web.seedUrls(40).flatMap(UrlCanonicalizer.canonicalize).distinct.foreach { u =>
      (web.content(u), web.page(u)) match {
        case (Some((spans, links)), Some(page)) =>
          val (pSpans, pLinks) = SpanExtractor.extract(page)
          assert(pSpans === spans.toSeq, s"span mismatch for $u")
          assert(pLinks === links.toSeq.take(SpanExtractor.MaxLinksPerPage), s"link mismatch for $u")
        case (a, b) => assert(a.isDefined === b.isDefined)
      }
    }
  }

  test("SyntheticWeb: pages deterministic; out-of-web URLs 404") {
    val web = SyntheticWeb(nHosts = 4, pagesPerHost = 5)
    val u = "http://h0001.example/p/3"
    assert(web.page(u) === web.page(u))
    assert(web.page(u).isDefined)
    assert(web.page("http://h0099.example/p/1") === None)
    assert(web.page("http://other.com/x") === None)
    assert(web.page("http://h0001.example/p/999") === None)
  }

  test("SyntheticWeb: policy deterministic, quota floor 1") {
    val web = SyntheticWeb()
    val p = web.policy("h0002.example")
    assert(p === web.policy("h0002.example"))
    assert(p.quota(1L) === 1)
    assert(web.policy("h0000.example").quota(1000L) === 20) // mega-host, 50ms
  }

  test("SyntheticWeb: out-of-web hosts get the permissive default policy") {
    val web = SyntheticWeb(nHosts = 4, pagesPerHost = 5)
    // must not throw NumberFormatException (ADVICE r1)
    for (h <- Seq("example.com", "h.example", "hx9.example",
        "h99999999999999.example", "")) {
      val p = web.policy(h)
      assert(p.rules.isEmpty && p.crawl_delay_ms === 500L, s"host $h")
    }
    // in-web hosts unchanged
    assert(web.policy("h0000.example").crawl_delay_ms === 50L)
  }

  test("Hashing.childSeq: dense while it fits, deterministic past the depth cap") {
    // dense regime: parent*64 + 1 + k
    assert(Hashing.childSeq(0L, 0) === 1L)
    assert(Hashing.childSeq(5L, 63) === 5L * 64 + 64)
    // deep regime: no overflow, stays positive, deterministic, k-distinct
    val deep = Long.MaxValue / 64 + 17
    val s1 = Hashing.childSeq(deep, 3)
    assert(s1 === Hashing.childSeq(deep, 3))
    assert(s1 >= 0L)
    assert(s1 !== Hashing.childSeq(deep, 4))
    // a ~10-hop chain never goes negative (the old p*64+1+k overflowed)
    var p = 62L // last seed seq of a 63-seed list
    (0 until 40).foreach { hop => p = Hashing.childSeq(p, 63); assert(p >= 0L, s"hop $hop") }
  }

  test("isValidUtf8: rejects overlongs, surrogates, >U+10FFFF, F5-FF leads") {
    import graft.core.CharsetSniffer.isValidUtf8
    def bs(xs: Int*) = xs.map(_.toByte).toArray
    assert(isValidUtf8("héllo — 日本語 👍".getBytes("UTF-8")))
    assert(!isValidUtf8(bs(0xE0, 0x80, 0x80)))       // overlong 3-byte
    assert(!isValidUtf8(bs(0xED, 0xA0, 0x80)))       // UTF-16 surrogate
    assert(!isValidUtf8(bs(0xF0, 0x80, 0x80, 0x80))) // overlong 4-byte
    assert(!isValidUtf8(bs(0xF4, 0x90, 0x80, 0x80))) // > U+10FFFF
    assert(!isValidUtf8(bs(0xF5, 0x80, 0x80, 0x80))) // invalid lead
    assert(!isValidUtf8(bs(0x80)))                    // stray continuation
    assert(isValidUtf8(bs(0xE0, 0xA0, 0x80)))        // smallest legal 3-byte
    assert(isValidUtf8(bs(0xF4, 0x8F, 0xBF, 0xBF)))  // U+10FFFF
  }

  test("FetchSource: per-partition lifecycle (one pool per task, closed at end)") {
    val web = SyntheticWeb(nHosts = 3, pagesPerHost = 4)
    val cfg = CrawlConfig(numBuckets = 2)
    val spark = SparkTestBase.spark
    // task closures serialize per task even in local mode — count with
    // accumulators, not driver-side objects
    val opened = spark.sparkContext.longAccumulator("opened")
    val closed = spark.sparkContext.longAccumulator("closed")
    final class Counting extends FetchSource {
      opened.add(1)
      private val inner = new SyntheticFetchSource(web, cfg)
      def fetch(req: FetchRequest): FetchResult = inner.fetch(req)
      override def close(): Unit = closed.add(1)
    }
    import spark.implicits._
    import org.apache.spark.sql.functions.lit
    import org.apache.spark.sql.graftshim.ColumnShim
    // the engine's fetch operator: fetch_extract over (url_canon,
    // retry_count, discovered_seq) rows, through the counting source
    def fetched(rows: Seq[(String, Int)]) =
      rows.toDF("url_canon", "retry_count").repartition(4)
        .select($"url_canon", ColumnShim.column(graft.functions.FetchExtractExpr(
          ColumnShim.expression($"url_canon"),
          ColumnShim.expression($"retry_count"),
          ColumnShim.expression(lit(0L)), web, cfg, () => new Counting)).as("f"))
        .select($"url_canon", $"f.ok", $"f.spans")
        .as[(String, Boolean, Seq[Span])]
    val urls = (0 until 3).flatMap(h => (0 until 4).map(p =>
      (s"http://${web.hostName(h)}/p/$p", 0)))
    val out = fetched(urls).collect()
    assert(out.length === 12)
    assert(out.count(_._2) === urls.count { case (u, _) =>
      !web.fetchFails(u, 0, cfg) })
    // one source per non-empty partition, every one closed
    assert(opened.value === closed.value)
    assert(opened.value >= 1 && opened.value <= 4)
    // content parity with Fetcher.fetch
    val direct = urls.map { case (u, r) => Fetcher.fetch(web, u, r, cfg) }
    assert(out.sortBy(_._1).map(_._3) ===
      urls.sortBy(_._1).map { case (u, r) => Fetcher.fetch(web, u, r, cfg).spans })
    assert(direct.nonEmpty)
    // early termination (limit): ~12 rows per partition, 3 taken — the
    // task-completion listener still closes every source opened
    val (o0, c0) = (opened.value, closed.value)
    assert(fetched(urls.flatMap { case (u, _) => (0 until 4).map((u, _)) })
      .limit(3).collect().length === 3)
    assert(opened.value > o0, "limit run should open at least one source")
    assert(opened.value - o0 === closed.value - c0,
      s"source leak under early termination: opened=${opened.value} closed=${closed.value}")
  }

  test("decodeWith: incomingEncoding overrides sniffing; forceUTF8=false is byte-transparent") {
    import graft.core.CharsetSniffer._
    import java.nio.charset.StandardCharsets._
    val utf8 = "héllo — 日本語".getBytes(UTF_8)
    // defaults reproduce decode() (sniff says valid UTF-8)
    assert(decodeWith(utf8) === "héllo — 日本語")
    assert(decodeWith(utf8) === decode(utf8))
    // a forced charset wins over a sniff that would say UTF-8:
    // every byte maps 1:1 (the reference hands incomingEncoding
    // straight to iconv, no second-guessing)
    assert(decodeWith(utf8, incomingEncoding = Some("ISO-8859-1"))
      === new String(utf8, ISO_8859_1))
    // forceUTF8=false: no conversion at all, byte-transparent
    assert(decodeWith(utf8, forceUTF8 = false) === new String(utf8, ISO_8859_1))
    // an unknown forced charset falls back to the sniffing path
    assert(decodeWith(utf8, incomingEncoding = Some("no-such-cs"))
      === decode(utf8))
    // forced charset also beats a contradicting Content-Type header
    val latin = "café".getBytes(ISO_8859_1)
    assert(decodeWith(latin, contentType = Some("text/html; charset=utf-8"),
      incomingEncoding = Some("ISO-8859-1")) === "café")
  }

  test("TimeoutFetchSource: slow fetches become retryable failures; stuck call interrupted") {
    val web = SyntheticWeb(nHosts = 2, pagesPerHost = 3)
    val cfg = CrawlConfig(numBuckets = 2)
    val interrupted = new java.util.concurrent.atomic.AtomicLong
    val innerClosed = new java.util.concurrent.atomic.AtomicLong
    // a source whose even-index calls stall "forever" (dead TCP peer):
    // the watchdog must turn those into ok=false without waiting
    final class Stalling extends FetchSource {
      private var n = 0
      private val inner = new SyntheticFetchSource(web, cfg)
      def fetch(req: FetchRequest): FetchResult = {
        n += 1
        if (n % 2 == 0) {
          try Thread.sleep(60000)
          catch { case _: InterruptedException => interrupted.incrementAndGet() }
          FetchResult(ok = false, Nil, Nil)
        } else inner.fetch(req)
      }
      override def close(): Unit = innerClosed.incrementAndGet()
    }
    val src = new TimeoutFetchSource(new Stalling, timeoutMs = 150)
    val urls = (0 until 6).map(p => s"http://${web.hostName(0)}/p/$p")
    val t0 = System.nanoTime()
    val out = urls.map(u => src.fetch(FetchRequest(u, 0)))
    val wallMs = (System.nanoTime() - t0) / 1e6
    // calls 2,4,6 (indices 1,3,5) stall -> forced ok=false; the others
    // hit the synthetic web and must match its direct answer
    assert(out.zipWithIndex.filter(_._2 % 2 == 1).forall(!_._1.ok))
    assert(out.zipWithIndex.filter(_._2 % 2 == 0).forall { case (r, i) =>
      r.ok === !web.fetchFails(urls(i), 0, cfg) })
    assert(wallMs < 10000, s"watchdog did not cut stalls: $wallMs ms")
    src.close()
    assert(innerClosed.get === 1)
    // the stuck sleeps were actually interrupted (no thread leak)
    val deadline = System.nanoTime() + 2e9.toLong
    while (interrupted.get < 3 && System.nanoTime() < deadline) Thread.sleep(20)
    assert(interrupted.get === 3)
  }

  test("TimeoutFetchSource: inner errors propagate; engine retry path recovers transients") {
    // erroring source: first attempt of each URL throws (connection
    // reset), the retry succeeds — the shape node-crawler's
    // retries/retryTimeout options exercise [PK:high]
    val web = SyntheticWeb(nHosts = 2, pagesPerHost = 3)
    val cfg = CrawlConfig(numBuckets = 2)
    final class ResetOnce extends FetchSource {
      private val failed = scala.collection.mutable.Set[String]()
      private val inner = new SyntheticFetchSource(web, cfg)
      def fetch(req: FetchRequest): FetchResult =
        if (failed.add(req.urlCanon))
          throw new java.io.IOException(s"connection reset: ${req.urlCanon}")
        else inner.fetch(req)
    }
    val src = new TimeoutFetchSource(new ResetOnce, timeoutMs = 5000)
    val u = s"http://${web.hostName(1)}/p/0"
    val e = intercept[java.io.IOException](src.fetch(FetchRequest(u, 0)))
    assert(e.getMessage.contains("connection reset"))
    val again = src.fetch(FetchRequest(u, 1)) // the engine reschedules with retryCount+1
    assert(again.ok === !web.fetchFails(u, 1, cfg))
    src.close()
  }

  // ---- content-coding (gzip byte path) -------------------------------

  test("ContentCodec: gzip/deflate round-trip; decode honors Content-Encoding") {
    val payload = ("the quick brown fox über ångström éü " * 50)
      .getBytes(java.nio.charset.StandardCharsets.UTF_8)
    assert(ContentCodec.gunzip(ContentCodec.gzip(payload)).toSeq === payload.toSeq)
    assert(ContentCodec.inflate(ContentCodec.deflate(payload)).toSeq === payload.toSeq)
    assert(ContentCodec.decode(ContentCodec.gzip(payload), Some("gzip")).toSeq === payload.toSeq)
    assert(ContentCodec.decode(ContentCodec.gzip(payload), Some("x-gzip")).toSeq === payload.toSeq)
    assert(ContentCodec.decode(ContentCodec.deflate(payload), Some("deflate")).toSeq === payload.toSeq)
    // identity / absent / unknown pass through untouched
    assert(ContentCodec.decode(payload, Some("identity")).toSeq === payload.toSeq)
    assert(ContentCodec.decode(payload, None).toSeq === payload.toSeq)
    assert(ContentCodec.decode(payload, Some("br")).toSeq === payload.toSeq)
  }

  test("ContentCodec.acceptsGzip: absent header accepts; explicit value negotiates") {
    assert(ContentCodec.acceptsGzip(null))
    assert(ContentCodec.acceptsGzip("""{"referer":"http://a/"}"""))
    assert(ContentCodec.acceptsGzip("""{"accept-encoding":"gzip, deflate"}"""))
    assert(ContentCodec.acceptsGzip("""{"Accept-Encoding":"x-gzip"}"""))
    assert(!ContentCodec.acceptsGzip("""{"accept-encoding":"identity"}"""))
    assert(!ContentCodec.acceptsGzip("""{"accept-encoding":"deflate","x":"1"}"""))
    // commas INSIDE the quoted value must not truncate the scan
    assert(ContentCodec.acceptsGzip("""{"accept-encoding":"deflate, gzip"}"""))
    // the key text appearing inside another header's VALUE is not a key
    assert(ContentCodec.acceptsGzip(
      """{"referer":"http://x/accept-encoding","cookie":"a=b"}"""))
  }

  test("gzip hosts serve Content-Encoding: gzip; decompress precedes charset " +
    "sniffing and the parse path stays span-identical") {
    val web = SyntheticWeb(nHosts = 8, pagesPerHost = 10, megaFactor = 2)
    val cfg = CrawlConfig(parseHtml = true, failureModulus = Long.MaxValue)
    val gzUrl = "http://h0001.example/p/3" // index 1 → gzip host
    val idUrl = "http://h0002.example/p/3"
    assert(web.servesGzip("h0001.example") && !web.servesGzip("h0002.example"))

    val (wire, enc) = web.pageResponse(gzUrl).get
    assert(enc === Some("gzip"))
    val plain = web.pageHtmlBytes(gzUrl).get
    assert(wire.toSeq !== plain.toSeq, "gzip host served identity bytes")
    assert(ContentCodec.decode(wire, enc).toSeq === plain.toSeq)
    // identity host: wire bytes ARE the page bytes
    val (idWire, idEnc) = web.pageResponse(idUrl).get
    assert(idEnc === None && idWire.toSeq === web.pageHtmlBytes(idUrl).get.toSeq)

    // end-to-end: the byte path through decompress+sniff+parse yields
    // the same spans/links as the direct content function, on BOTH host
    // kinds (the round-trip property now crosses the codec)
    Seq(gzUrl, idUrl).foreach { u =>
      val viaBytes = Fetcher.fetch(web, u, 0, cfg)
      val direct = Fetcher.fetch(web, u, 0, cfg.copy(parseHtml = false))
      assert(viaBytes.spans === direct.spans, s"span mismatch via bytes for $u")
      assert(viaBytes.links === direct.links, s"link mismatch via bytes for $u")
    }

    // content negotiation: a request whose Accept-Encoding excludes
    // gzip gets identity from a gzip host — and parses identically
    val (negWire, negEnc) = web.pageResponse(gzUrl, acceptGzip = false).get
    assert(negEnc === None && negWire.toSeq === plain.toSeq)
    val viaNeg = Fetcher.fetch(web, gzUrl, 0, cfg,
      headers = """{"accept-encoding":"identity"}""")
    assert(viaNeg.spans === Fetcher.fetch(web, gzUrl, 0, cfg).spans)
  }

  test("method=HEAD: body-less success — no spans, no links, retry still applies") {
    val web = SyntheticWeb(nHosts = 4, pagesPerHost = 6)
    val cfg = CrawlConfig(parseHtml = true, failureModulus = Long.MaxValue)
    val u = "http://h0001.example/p/2"
    val head = Fetcher.fetch(web, u, 0, cfg, method = "HEAD")
    assert(head.ok && head.spans.isEmpty && head.links.isEmpty)
    val get = Fetcher.fetch(web, u, 0, cfg, method = "GET")
    assert(get.ok && get.spans.nonEmpty)
    // transient failure beats HEAD (the wire request itself failed)
    val cfgFail = cfg.copy(failureModulus = 1L)
    assert(!Fetcher.fetch(web, u, 0, cfgFail, method = "HEAD").ok)
  }

  // ---- bloom ---------------------------------------------------------

  test("Bloom: no false negatives; OR merges; fp rate sane") {
    import graft.engine.Bloom
    val bits = Bloom.sizeFor(1000)
    val a = Bloom.empty(bits); val b = Bloom.empty(bits)
    val keysA = (0L until 500L).map(Hashing.splitmix64)
    val keysB = (1000L until 1500L).map(Hashing.splitmix64)
    keysA.foreach(Bloom.add(a, _)); keysB.foreach(Bloom.add(b, _))
    val m = Bloom.or(a, b)
    (keysA ++ keysB).foreach(k => assert(Bloom.mightContain(m, k)))
    val fp = (5000L until 15000L).map(Hashing.splitmix64)
      .count(Bloom.mightContain(m, _))
    assert(fp < 500, s"false positives too high: $fp/10000")
  }
}
