package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.core._

/** `fetch_extract(url_canon, retry_count, discovered_seq)` — the crawl
  * engine's fetch + decode + extract step as a native Catalyst
  * expression (SURVEY.md §2.8 preference order: custom Expression over
  * UDF over mapPartitions), and the engine's only fetch operator.
  *
  * The fetch itself goes through the [[FetchSource]] seam: `source` is
  * a serializable factory, opened once per task on its first row and
  * closed when the task completes ([[TaskScoped]]). The expression
  * resolves the row's HTTP identity once ([[HttpIdentity.ctxFor]]) and
  * hands the source a [[FetchRequest]]; it then canonicalizes and
  * robots-gates the discovered links (robots rules from `web`).
  *
  * Compared to the typed-Dataset formulation this skips an entire
  * materialization layer: no tuple decode, no Scala case-class
  * allocation per span/link, no encoder re-serialization — the eval
  * builds InternalRow/GenericArrayData directly, and the constant
  * `kind` strings are shared UTF8String instances. Measured ~25% less
  * allocation in the fetch stage at bench scale.
  *
  * CodegenFallback is deliberate: the body is a full page parse; a
  * generated wrapper would save nothing (same trade as Spark's own
  * ParseUrl), and the surrounding stage still whole-stage-codegens.
  */
case class FetchExtractExpr(
    urlCanon: Expression,
    retryCount: Expression,
    discoveredSeq: Expression,
    web: SyntheticWeb,
    cfg: CrawlConfig,
    source: () => FetchSource,
    packedSpans: Boolean = false,
    // per-request HTTP options (node-crawler `queue({method, headers})`
    // [PK:high]); None = source defaults. Nullable columns — link-
    // discovered rows carry nulls.
    method: Option[Expression] = None,
    headers: Option[Expression] = None,
    // cookie-jar bit (node-crawler `jar` [PK:high]): true iff the
    // URL's host granted its session cookie in a strictly earlier
    // round. The only identity input that needs crawl STATE — ua /
    // referer / proxy resolve row-locally from (cfg, headers, seq)
    // via the shared HttpIdentity, identical in the simulator.
    cookie: Option[Expression] = None) extends Expression with CodegenFallback {

  override def children: Seq[Expression] =
    Seq(urlCanon, retryCount, discoveredSeq) ++ method ++ headers ++ cookie

  override def dataType: DataType =
    if (packedSpans) FetchExtractExpr.packedSchema else FetchExtractExpr.schema
  override def nullable: Boolean = false
  override def foldable: Boolean = false

  @transient private lazy val TEXT = UTF8String.fromString("text")
  @transient private lazy val MEDIA = UTF8String.fromString("media")
  @transient private lazy val sources = new TaskScoped(source)

  override def eval(input: InternalRow): Any = {
    val canonAny = urlCanon.eval(input)
    val retryAny = retryCount.eval(input)
    val seqAny = discoveredSeq.eval(input)
    // the engine's admitted rows never have null keys; be defensive for
    // ad-hoc use anyway
    if (canonAny == null || retryAny == null || seqAny == null)
      throw new IllegalArgumentException(
        "fetch_extract: url_canon/retry_count/discovered_seq must be non-null")
    def strOf(e: Option[Expression]): String = e.map(_.eval(input)) match {
      case Some(u: UTF8String) => u.toString
      case _ => null
    }
    val cookieSent = cookie.exists(_.eval(input) == true)
    nullSafeEval(canonAny, retryAny, seqAny, strOf(method), strOf(headers),
      cookieSent)
  }

  private def nullSafeEval(canonAny: Any, retryAny: Any, seqAny: Any,
      methodStr: String, headersStr: String, cookieSent: Boolean): Any = {
    val canon = canonAny.asInstanceOf[UTF8String].toString
    val retry = retryAny.asInstanceOf[Int]
    val seq = seqAny.asInstanceOf[Long]
    // resolved identity — recorded on the attempt row (output struct)
    // and honored by identity-sensitive hosts
    val ctx = HttpIdentity.ctxFor(cfg, headersStr, seq, cookieSent)
    val ua = ctx.userAgent
    val proxy = HttpIdentity.proxyFor(cfg, seq)
    val req = FetchRequest(canon, retry, methodStr, headersStr, ctx)
    val res = sources.use(_.fetch(req))

    val spansOut: Any =
      if (packedSpans) SpanCodec.pack(res.spans)
      else {
        val spanRows = new Array[Any](res.spans.length)
        var i = 0
        res.spans.foreach { s =>
          spanRows(i) = InternalRow(
            if (s.kind == "text") TEXT else MEDIA,
            if (s.text == null) null else UTF8String.fromString(s.text),
            if (s.media_ref == null) null else UTF8String.fromString(s.media_ref),
            s.offset)
          i += 1
        }
        new GenericArrayData(spanRows)
      }

    val linkRows = Array.newBuilder[Any]
    if (res.ok) {
      var k = 0
      res.links.foreach { link =>
        UrlCanonicalizer.resolve(canon, link.url).foreach { abs =>
          CrawlEngine2.toCandRow(web, abs, link.priority, Hashing.childSeq(seq, k),
            cfg.numBuckets).foreach(linkRows += _)
        }
        k += 1
      }
    }
    val links = linkRows.result()
    InternalRow(
      res.ok,
      res.ok && (res.spans.nonEmpty || res.links.nonEmpty),
      spansOut,
      new GenericArrayData(links),
      if (ua == null) null else UTF8String.fromString(ua),
      if (proxy == null) null else UTF8String.fromString(proxy),
      cookieSent)
  }

  override protected def withNewChildrenInternal(
      cs: IndexedSeq[Expression]): FetchExtractExpr = {
    // optional children appear in `children` order: method, headers,
    // cookie — consume positionally after the three fixed ones
    var i = 3
    def next(): Expression = { val e = cs(i); i += 1; e }
    copy(urlCanon = cs(0), retryCount = cs(1), discoveredSeq = cs(2),
      method = method.map(_ => next()),
      headers = headers.map(_ => next()),
      cookie = cookie.map(_ => next()))
  }

  override def prettyName: String = "fetch_extract"
}

/** Row-building helpers shared with the expression (named CrawlEngine2
  * to avoid a dependency cycle with graft.engine). */
object CrawlEngine2 {
  def toCandRow(web: SyntheticWeb, raw: String, priority: Int, seq: Long,
      numBuckets: Int): Option[InternalRow] =
    RobotsMatcher.admit(web, raw).map { case (canon, host) =>
      InternalRow(
        UTF8String.fromString(canon),
        Hashing.xxhash64(canon),
        UTF8String.fromString(host),
        Hashing.hostBucket(host, numBuckets),
        priority,
        seq)
    }
}

object FetchExtractExpr {
  val spanType: StructType = StructType(Seq(
    StructField("kind", StringType),
    StructField("text", StringType),
    StructField("media_ref", StringType),
    StructField("offset", IntegerType, nullable = false)))

  val linkType: StructType = StructType(Seq(
    StructField("url_canon", StringType),
    StructField("url_hash", LongType, nullable = false),
    StructField("host", StringType),
    StructField("host_bucket", IntegerType, nullable = false),
    StructField("priority", IntegerType, nullable = false),
    StructField("discovered_seq", LongType, nullable = false)))

  /** Resolved HTTP identity, recorded per attempt: effective UA,
    * assigned proxy (null when no pool), and whether the jar's
    * session cookie was presented. */
  private val identFields = Seq(
    StructField("ua", StringType),
    StructField("proxy", StringType),
    StructField("cookie_sent", BooleanType, nullable = false))

  val schema: StructType = StructType(Seq(
    StructField("ok", BooleanType, nullable = false),
    StructField("has_doc", BooleanType, nullable = false),
    StructField("spans", ArrayType(spanType, containsNull = false)),
    StructField("links", ArrayType(linkType, containsNull = false)))
    ++ identFields)

  /** Packed variant: spans as one binary cell (SpanCodec format). */
  val packedSchema: StructType = StructType(Seq(
    StructField("ok", BooleanType, nullable = false),
    StructField("has_doc", BooleanType, nullable = false),
    StructField("spans", BinaryType),
    StructField("links", ArrayType(linkType, containsNull = false)))
    ++ identFields)
}

/** Compact span-sequence codec: per span `kind:byte, len:int32(LE),
  * payload:utf8-bytes` in offset order. One binary cell per page
  * replaces ~55 nested rows + per-field UTF8String copies in the
  * write path — the documents() view unpacks back to the normative
  * array<struct> schema (byte-equal: the payload bytes are exactly the
  * span text/media_ref; offsets are positional). */
object SpanCodec {
  import java.nio.charset.StandardCharsets.UTF_8

  // one growable scratch buffer per task thread: pack() runs once per
  // page in the fetch stage's hottest loop, and the two-pass
  // byte[]-per-span form allocated 2N+2 arrays per page — the
  // single-buffer encode allocates exactly ONE (the result). ASCII
  // payloads (the overwhelming case) are written char-by-char with no
  // intermediate encoder; any non-ASCII span falls back to getBytes.
  private val scratch: ThreadLocal[Array[Byte]] =
    ThreadLocal.withInitial(() => new Array[Byte](8192))

  private def ensure(buf: Array[Byte], needed: Int): Array[Byte] =
    if (buf.length >= needed) buf
    else {
      val bigger = new Array[Byte](math.max(needed, buf.length * 2))
      System.arraycopy(buf, 0, bigger, 0, buf.length)
      scratch.set(bigger)
      bigger
    }

  def pack(spans: Seq[graft.core.Span]): Array[Byte] = {
    var buf = scratch.get()
    var o = 0
    spans.foreach { s =>
      val isText = s.kind == "text"
      val payload = if (isText) s.text else s.media_ref
      val pn = payload.length
      // reserve for the worst case (3 bytes per char) up front
      buf = ensure(buf, o + 5 + pn * 3)
      var ascii = true
      var j = 0
      var w = o + 5
      while (ascii && j < pn) {
        val c = payload.charAt(j)
        if (c < 0x80) { buf(w) = c.toByte; w += 1; j += 1 }
        else ascii = false
      }
      val len =
        if (ascii) pn
        else {
          val bytes = payload.getBytes(UTF_8)
          buf = ensure(buf, o + 5 + bytes.length)
          System.arraycopy(bytes, 0, buf, o + 5, bytes.length)
          bytes.length
        }
      buf(o) = if (isText) 0 else 1
      buf(o + 1) = (len & 0xFF).toByte
      buf(o + 2) = ((len >> 8) & 0xFF).toByte
      buf(o + 3) = ((len >> 16) & 0xFF).toByte
      buf(o + 4) = ((len >> 24) & 0xFF).toByte
      o += 5 + len
    }
    java.util.Arrays.copyOf(buf, o)
  }

  /** Unpack to InternalRows matching FetchExtractExpr.spanType. */
  def unpackRows(bytes: Array[Byte]): GenericArrayData = {
    val TEXT = UTF8String.fromString("text")
    val MEDIA = UTF8String.fromString("media")
    val rows = scala.collection.mutable.ArrayBuffer.empty[Any]
    var o = 0
    var k = 0
    while (o < bytes.length) {
      val isText = bytes(o) == 0
      val len = (bytes(o + 1) & 0xFF) | ((bytes(o + 2) & 0xFF) << 8) |
        ((bytes(o + 3) & 0xFF) << 16) | ((bytes(o + 4) & 0xFF) << 24)
      val payload = UTF8String.fromBytes(bytes, o + 5, len)
      rows += InternalRow(
        if (isText) TEXT else MEDIA,
        if (isText) payload else null,
        if (isText) null else payload,
        k)
      o += 5 + len
      k += 1
    }
    new GenericArrayData(rows.toArray)
  }
}

/** `unpack_spans(binary)` → the normative spans array<struct>. */
case class UnpackSpansExpr(child: Expression)
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType =
    ArrayType(FetchExtractExpr.spanType, containsNull = false)
  override def nullSafeEval(v: Any): Any =
    SpanCodec.unpackRows(v.asInstanceOf[Array[Byte]])
  override protected def withNewChildInternal(c: Expression): UnpackSpansExpr = copy(c)
  override def prettyName: String = "unpack_spans"
}
