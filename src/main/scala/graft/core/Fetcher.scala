package graft.core

/** The deterministic synthetic "HTTP" fetch + extract step
  * (SURVEY.md §2.1 S3 + §2.7 F6/F7), shared verbatim between the Spark
  * engine's [[SyntheticFetchSource]] and the reference simulator. This
  * is content, not scheduling: in a real deployment a pooled HTTP
  * client replaces it behind the same [[FetchSource]] seam.
  */
object Fetcher {
  /** Fetch outcome: `ok=false` models a transient failure (retryable);
    * `ok=true` with empty spans+links models a 404/out-of-web URL.
    *
    * Per-request HTTP options (node-crawler `queue({method, headers})`
    * [PK:high]) reach the fetch itself:
    *  - `method = "HEAD"` → a body-less response: the attempt succeeds
    *    (and still exercises retry on transient failure) but yields no
    *    spans and no links — has_doc stays false downstream.
    *  - `headers` participates in content negotiation: an explicit
    *    `Accept-Encoding` without gzip makes a gzip-serving host
    *    respond identity; absent = transparently accepts gzip, the
    *    `request` default. The decompress step runs BEFORE charset
    *    sniffing, as node-crawler does via `request`.
    *  - `ctx` is the resolved HTTP identity ([[HttpIdentity]] — the
    *    scheduler resolves it, engine and simulator identically):
    *    UA-cloaking / cookie-personalizing / referer-tracking hosts
    *    serve identity-dependent content on BOTH byte and direct
    *    paths. */
  def fetch(web: SyntheticWeb, urlCanon: String, retryCount: Int,
      cfg: CrawlConfig, method: String = null, headers: String = null,
      ctx: RequestCtx = RequestCtx.Empty): FetchResult = {
    if (web.fetchFails(urlCanon, retryCount, cfg)) FetchResult(ok = false, Nil, Nil)
    else if (method != null && method.equalsIgnoreCase("HEAD"))
      FetchResult(ok = true, Nil, Nil)
    else if (cfg.parseHtml) {
      // production-shaped path: wire bytes → content-decoding → charset
      // sniff → decode → HTML parse (byte-identical to the direct path
      // by the round-trip property, HtmlSpec — gzip hosts included)
      web.pageResponse(urlCanon, ContentCodec.acceptsGzip(headers), ctx) match {
        case None => FetchResult(ok = true, Nil, Nil)
        case Some((wire, contentEncoding)) =>
          val bytes = ContentCodec.decode(wire, contentEncoding)
          val html = CharsetSniffer.decodeWith(bytes,
            incomingEncoding = cfg.incomingEncoding,
            forceUTF8 = cfg.forceUTF8)
          // per-site declarative schema (default registry → the shared
          // HtmlSpanExtractor instance, allocation-free)
          val extractor = cfg.siteSchemas
            .extractorFor(UrlCanonicalizer.hostOf(urlCanon))
          val (spans, links) = extractor.extract(html)
          FetchResult(ok = true, spans, links.take(SpanExtractor.MaxLinksPerPage))
      }
    } else web.content(urlCanon, ctx) match {
      case None => FetchResult(ok = true, Nil, Nil)
      case Some((spans, links)) =>
        // content() IS the page (the textual format is a render of it;
        // SpanExtractor.extract(page(u)) == content(u) is property-
        // tested), so the hot path skips the render+reparse round-trip.
        FetchResult(ok = true, spans, links.take(SpanExtractor.MaxLinksPerPage))
    }
  }
}
