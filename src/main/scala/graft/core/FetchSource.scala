package graft.core

/** Pluggable fetch source (SURVEY.md §2.1 S3) — the seam node-crawler
  * fills with its HTTP client pool [PK:high], and the one the crawl
  * engine fetches through: its `fetch_extract` expression
  * ([[graft.functions.FetchExtractExpr]]) holds a serializable factory
  * and calls `fetch` once per admitted row, as does `Crawler.direct`.
  *
  * Lifecycle contract ([[TaskScoped]]): ONE instance per task, created
  * by the factory inside the task on its first row and closed when the
  * task completes (early termination included), so an HTTP
  * implementation owns a connection pool / DNS cache / rate limiter per
  * task, exactly like node-crawler's per-worker agent. The project
  * ships only the deterministic synthetic source; a production
  * `HttpFetchSource` drops into the same seam:
  *
  * {{{
  * final class HttpFetchSource(timeoutMs: Int) extends FetchSource {
  *   private val pool = buildPooledClient(timeoutMs)   // per task
  *   def fetch(req: FetchRequest): FetchResult = {
  *     val resp = pool.send(req.method, req.urlCanon, req.headers,
  *       req.ctx)                                      // honors gzip etc.
  *     if (!resp.is2xx) FetchResult(ok = false, Nil, Nil)
  *     else {
  *       val body = CharsetSniffer.decode(resp.bytes, resp.contentType)
  *       val (spans, links) = HtmlSpanExtractor.extract(body)
  *       FetchResult(ok = true, spans, links)
  *     }
  *   }
  *   override def close(): Unit = pool.shutdown()
  * }
  * }}}
  */
trait FetchSource extends AutoCloseable {
  def fetch(req: FetchRequest): FetchResult
  override def close(): Unit = ()
}

/** One fetch task as the seam sees it: canonical URL, retry ordinal,
  * the per-request HTTP options node-crawler's `queue()` carries
  * (`method`, `headers` as an opaque serialized map; null = source
  * defaults — GET, no extra headers) [PK:high], and the HTTP identity
  * the caller already resolved ([[HttpIdentity.ctxFor]] — UA, referer,
  * and the cookie-jar bit, whose state belongs to the scheduler). */
final case class FetchRequest(urlCanon: String, retryCount: Int,
    method: String = null, headers: String = null,
    ctx: RequestCtx = RequestCtx.Empty)

/** The sandbox source: deterministic synthetic web (shared with the
  * reference simulator). Honors per-request method/headers (HEAD,
  * Accept-Encoding negotiation) and the request's identity, so it
  * serves what the simulator serves for the same request. */
final class SyntheticFetchSource(web: SyntheticWeb, cfg: CrawlConfig)
    extends FetchSource {
  def fetch(req: FetchRequest): FetchResult =
    Fetcher.fetch(web, req.urlCanon, req.retryCount, cfg, req.method,
      req.headers, req.ctx)
}

/** Timeout decorator for any [[FetchSource]] — node-crawler's
  * per-request `retryTimeout` semantics at the seam [PK:high]. A fetch
  * that exceeds `timeoutMs` is abandoned (the in-flight call is
  * interrupted) and reported as a failed attempt (`ok = false`), which
  * the engine's retry/backoff machinery reschedules exactly like any
  * transient fetch failure; errors thrown by the inner source
  * propagate unchanged (the task lifecycle still closes both).
  *
  * A blocking HTTP client cannot be trusted to honor its own timeout
  * (DNS stalls, TLS handshakes and dead TCP peers routinely escape
  * client-level timeouts), so enforcement needs a watchdog: one daemon
  * executor thread per source — i.e. per task, thanks to the
  * task-scoped lifecycle — so the cost is O(tasks), not O(rows). */
final class TimeoutFetchSource(inner: FetchSource, timeoutMs: Long)
    extends FetchSource {
  import java.util.concurrent.{Callable, ExecutionException, Executors,
    ExecutorService, TimeoutException, TimeUnit}
  import java.util.concurrent.atomic.AtomicBoolean
  private def mkExec(): ExecutorService =
    Executors.newSingleThreadExecutor(r => {
      val t = new Thread(r, "graft-fetch-watchdog"); t.setDaemon(true); t
    })
  private var exec = mkExec()
  def fetch(req: FetchRequest): FetchResult = {
    val running = new AtomicBoolean(false)
    val fut = exec.submit(new Callable[FetchResult] {
      def call(): FetchResult = {
        running.set(true)
        try inner.fetch(req) finally running.set(false)
      }
    })
    try fut.get(timeoutMs, TimeUnit.MILLISECONDS)
    catch {
      case _: TimeoutException =>
        fut.cancel(true) // interrupt the stuck call
        // an UNINTERRUPTIBLE inner call (blocking DNS, native I/O) keeps
        // the watchdog thread occupied after the cancel — if so, abandon
        // the executor and give later fetches a fresh thread; otherwise
        // every subsequent fetch in the task would queue behind the
        // stuck one and falsely time out, cascading ok=false. Stuckness
        // is judged by the EXECUTOR's active count, not only the
        // callable's own flag — that closes the (theoretical) window
        // where the cancel lands after the task started but before the
        // flag was set.
        def occupied: Boolean = running.get() || (exec match {
          case t: java.util.concurrent.ThreadPoolExecutor => t.getActiveCount > 0
          case _ => false
        })
        val grace = System.nanoTime() + 20L * 1000 * 1000
        while (occupied && System.nanoTime() < grace) Thread.onSpinWait()
        if (occupied) { exec.shutdownNow(); exec = mkExec() }
        FetchResult(ok = false, Nil, Nil)
      case e: ExecutionException => throw e.getCause
    }
  }
  override def close(): Unit = {
    exec.shutdownNow()
    inner.close()
  }
}
