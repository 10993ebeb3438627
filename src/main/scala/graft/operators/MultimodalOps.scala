package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal column plumbing (builder-prompt first-class requirement):
  * media payloads as opaque `binary` columns with typed metadata, and
  * per-partition batch "decode" / frame-sampling transforms.
  *
  * The container ships no image/audio libraries, so the decode step is
  * a clearly-marked DETERMINISTIC STUB (`StubDecoder`) that reads fake
  * header fields from the payload bytes; the Spark-side plumbing —
  * binary schema, typed Dataset batch decode via mapPartitions,
  * explode of sampled frames — is real and oracle-checked (payloads
  * are built from `documents.text` bytes, so DuckDB can recompute the
  * stub's outputs from the text with ascii()/substr arithmetic).
  *
  * In production the stub body is replaced by a real codec call with
  * the same batch-per-partition shape (one decoder instance per
  * partition, zero-copy byte access).
  */
object MultimodalOps {

  private def t(sfDir: String, name: String) = s"$sfDir/$name.parquet"

  final case class DecodedMeta(n_bytes: Long, width: Long, height: Long,
      format: String)

  /** Pluggable media-codec seam, mirroring `FetchSource`: ONE instance
    * per task — created inside the task on its first row, closed when
    * the task completes (early termination under a limit/take included)
    * — so a real codec owns its native buffers/handles per task. The
    * sandbox impl is the deterministic [[StubDecoder]]. */
  trait Decoder extends AutoCloseable {
    def decode(payload: Array[Byte]): DecodedMeta
    /** Sample "frames" (index, value) from the payload. */
    def sampleFrames(payload: Array[Byte], stride: Int): Seq[(Int, Int)]
    /** Fit the decoded dimensions into a `box`×`box` square preserving
      * aspect ratio (integer arithmetic — exact in any engine). The
      * geometry planning is codec-independent; a real decoder also
      * re-encodes pixels at the new size inside this seam. Callers
      * that already decoded pass the meta — no second decode per row. */
    def resizeBox(meta: DecodedMeta, box: Long): (Long, Long) = {
      val mx = math.max(meta.width, meta.height) max 1L
      (meta.width * box / mx, meta.height * box / mx)
    }
    def resizeBox(payload: Array[Byte], box: Long): (Long, Long) =
      resizeBox(decode(payload), box)
    /** Payload feature extraction: byte-level statistics (count, mean,
      * max, distinct) — the shape of a real feature head (a pooled
      * embedding) with a deterministic, engine-portable body. */
    def features(payload: Array[Byte]): (Long, Long, Long, Long) = {
      var sum = 0L; var mx = 0L
      val seen = new java.util.BitSet(256)
      var i = 0
      while (i < payload.length) {
        val b = payload(i) & 0xff
        sum += b; if (b > mx) mx = b; seen.set(b)
        i += 1
      }
      val n = payload.length.toLong
      (n, if (n == 0) 0L else sum / n, mx, seen.cardinality().toLong)
    }
    override def close(): Unit = ()
  }

  object Decoder {
    /** Per-partition decode: one decoder per task, opened on its first
      * row and closed on task completion (covers early termination) —
      * the [[graft.core.TaskScoped]] lifecycle that the fetch seam uses
      * too. */
    def decodePartition[R, T](it: Iterator[R], factory: () => Decoder)(
        f: (Decoder, R) => T): Iterator[T] = {
      val ts = new graft.core.TaskScoped(factory)
      it.map(r => ts.use(f(_, r)))
    }
  }

  /** Deterministic fake media decode: a real implementation would parse
    * a container header; the stub derives metadata from payload bytes.
    * (The `// ??? real codec` marker is the documented replacement
    * point — the container ships no image/audio libraries.) */
  final class StubDecoder extends Decoder {
    def decode(payload: Array[Byte]): DecodedMeta = {
      // ??? real codec goes here; deterministic fake below
      val b0 = if (payload.nonEmpty) payload(0) & 0xff else 0
      val b1 = if (payload.length > 1) payload(1) & 0xff else 0
      DecodedMeta(payload.length.toLong, (b0 % 64).toLong * 16 + 64,
        (b1 % 36).toLong * 16 + 64, if (b0 % 2 == 0) "fake_jpeg" else "fake_png")
    }
    /** Frame sampling stub: every 16th byte is a "frame". */
    def sampleFrames(payload: Array[Byte], stride: Int): Seq[(Int, Int)] =
      payload.indices.by(stride).map(i => (i / stride, payload(i) & 0xff))
  }

  final case class MediaRow(doc_id: Long, payload: Array[Byte])
  final case class MediaMeta(doc_id: Long, n_bytes: Long, width: Long,
      height: Long, format: String)
  final case class Frame(doc_id: Long, frame_idx: Int, frame_val: Int)
  final case class Resized(doc_id: Long, width: Long, height: Long,
      dst_w: Long, dst_h: Long)
  final case class MediaFeatures(doc_id: Long, n_bytes: Long,
      mean_byte: Long, max_byte: Long, n_distinct: Long)

  /** Target box for the q48 resize plan. */
  val ResizeBox = 256L

  final case class SpanMedia(doc_id: Long, i: Long, media_ref: String,
      payload: Array[Byte])
  final case class SpanMediaMeta(doc_id: Long, span_i: Long,
      media_ref: String, n_bytes: Long, width: Long, height: Long,
      format: String)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // q69: the multimodal seam applied to the INTERLEAVED corpus — the
    // media spans of the q61 derivation (BASELINE.json's input_hint
    // shape) decoded per partition through the same Decoder lifecycle
    // as q32. Payload = the blob's deterministic bytes (md5 hex of the
    // ref — the sandbox stand-in for fetched media bytes), so DuckDB
    // recomputes the stub's outputs with ascii()/substr arithmetic.
    // One scan + per-row lambda + mapPartitions decode, zero shuffle:
    // at 100 TB the media bytes stream through the codec exactly once,
    // co-partitioned with their documents.
    "q69_span_media_decode" -> ((s: SparkSession, dir: String) => {
      import s.implicits._
      val media = InterleavedOps.mediaSpans(s, dir)
        .select($"doc_id", $"i", $"media_ref",
          encode(md5($"media_ref"), "UTF-8").as("payload"))
        .as[SpanMedia]
      media.mapPartitions { it =>
        Decoder.decodePartition(it, () => new StubDecoder) { (dec, m) =>
          val meta = dec.decode(m.payload)
          SpanMediaMeta(m.doc_id, m.i, m.media_ref, meta.n_bytes,
            meta.width, meta.height, meta.format)
        }
      }.toDF().orderBy($"doc_id", $"span_i")
    }),

    // binary payload + batch decode to typed metadata through the
    // per-partition Decoder seam.
    "q32_media_decode" -> ((s: SparkSession, dir: String) => {
      import s.implicits._
      val media = Scans.widen(
          s.read.parquet(t(dir, "documents")).select($"doc_id", $"text"))
        .select($"doc_id", encode($"text", "UTF-8").as("payload"))
        .as[MediaRow]
      media.mapPartitions { it =>
        Decoder.decodePartition(it, () => new StubDecoder) { (dec, m) =>
          val meta = dec.decode(m.payload)
          MediaMeta(m.doc_id, meta.n_bytes, meta.width, meta.height, meta.format)
        }
      }.toDF().orderBy($"doc_id")
    }),

    // frame sampling: binary → exploded (frame_idx, frame_val) rows.
    "q33_frame_sample" -> ((s: SparkSession, dir: String) => {
      import s.implicits._
      val media = Scans.widen(s.read.parquet(t(dir, "documents"))
          .filter($"doc_id" % 50 === 0).select($"doc_id", $"text"))
        .select($"doc_id", encode($"text", "UTF-8").as("payload"))
        .as[MediaRow]
      media.mapPartitions { it =>
        Decoder.decodePartition(it, () => new StubDecoder) { (dec, m) =>
          dec.sampleFrames(m.payload, 16)
            .map { case (i, v) => Frame(m.doc_id, i, v) }
        }.flatten
      }.toDF().orderBy($"doc_id", $"frame_idx")
    }),

    // resize planning through the decoder seam: fit each media payload
    // into a ResizeBox² square preserving aspect ratio (integer
    // arithmetic, engine-portable). Same per-partition decoder
    // lifecycle as q32; a production codec re-encodes pixels at
    // (dst_w, dst_h) in this exact spot.
    "q48_media_resize" -> ((s: SparkSession, dir: String) => {
      import s.implicits._
      val media = s.read.parquet(t(dir, "documents"))
        .select($"doc_id", encode($"text", "UTF-8").as("payload"))
        .as[MediaRow]
      media.mapPartitions { it =>
        Decoder.decodePartition(it, () => new StubDecoder) { (dec, m) =>
          val meta = dec.decode(m.payload) // ONE decode per row
          val (dw, dh) = dec.resizeBox(meta, ResizeBox)
          Resized(m.doc_id, meta.width, meta.height, dw, dh)
        }
      }.toDF().orderBy($"doc_id")
    }),

    // feature extraction through the decoder seam: per-payload byte
    // statistics (the deterministic stand-in for a pooled embedding
    // head — same batch-per-partition shape, portable arithmetic).
    "q49_media_features" -> ((s: SparkSession, dir: String) => {
      import s.implicits._
      val media = s.read.parquet(t(dir, "documents"))
        .select($"doc_id", encode($"text", "UTF-8").as("payload"))
        .as[MediaRow]
      media.mapPartitions { it =>
        Decoder.decodePartition(it, () => new StubDecoder) { (dec, m) =>
          val (n, mean, mx, dist) = dec.features(m.payload)
          MediaFeatures(m.doc_id, n, mean, mx, dist)
        }
      }.toDF().orderBy($"doc_id")
    }))

  val oracles: Map[String, String] = Map(
    "q69_span_media_decode" ->
      s"""WITH ${InterleavedOps.SpanCtes},
         |m AS (SELECT doc_id, i,
         |  'media://blob/' || CAST((doc_id * 31 + i) % ${InterleavedOps.BlobMod} AS VARCHAR) AS media_ref
         |      FROM (SELECT doc_id, unnest(range(0, nch)) AS i FROM c)
         |      WHERE (doc_id * 31 + i) % ${InterleavedOps.InsertMod} = 0)
         |SELECT doc_id, i AS span_i, media_ref,
         |  CAST(32 AS BIGINT) AS n_bytes,
         |  CAST((ascii(substr(md5(media_ref), 1, 1)) % 64) * 16 + 64 AS BIGINT) AS width,
         |  CAST((ascii(substr(md5(media_ref), 2, 1)) % 36) * 16 + 64 AS BIGINT) AS height,
         |  CASE WHEN ascii(substr(md5(media_ref), 1, 1)) % 2 = 0
         |       THEN 'fake_jpeg' ELSE 'fake_png' END AS format
         |FROM m ORDER BY doc_id, span_i""".stripMargin,
    // text is ascii, so utf-8 payload bytes == character codes.
    "q32_media_decode" ->
      """SELECT doc_id, CAST(length(text) AS BIGINT) AS n_bytes,
        |  CAST((ascii(substr(text, 1, 1)) % 64) * 16 + 64 AS BIGINT) AS width,
        |  CAST((ascii(substr(text, 2, 1)) % 36) * 16 + 64 AS BIGINT) AS height,
        |  CASE WHEN ascii(substr(text, 1, 1)) % 2 = 0
        |    THEN 'fake_jpeg' ELSE 'fake_png' END AS format
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q33_frame_sample" ->
      """WITH f AS (
        |  SELECT doc_id, text, unnest(generate_series(1, length(text), 16)) AS i
        |  FROM documents WHERE doc_id % 50 = 0)
        |SELECT doc_id, CAST((i - 1) // 16 AS INTEGER) AS frame_idx,
        |  ascii(substr(text, CAST(i AS INTEGER), 1)) AS frame_val
        |FROM f
        |ORDER BY doc_id, frame_idx""".stripMargin,
    // the stub's width/height arithmetic (as q32) + integer fit-to-box
    "q48_media_resize" ->
      s"""WITH m AS (
         |  SELECT doc_id,
         |    CAST((ascii(substr(text, 1, 1)) % 64) * 16 + 64 AS BIGINT) AS width,
         |    CAST((ascii(substr(text, 2, 1)) % 36) * 16 + 64 AS BIGINT) AS height
         |  FROM documents)
         |SELECT doc_id, width, height,
         |  width * $ResizeBox // greatest(greatest(width, height), 1) AS dst_w,
         |  height * $ResizeBox // greatest(greatest(width, height), 1) AS dst_h
         |FROM m ORDER BY doc_id""".stripMargin,
    // byte statistics over the ascii payload: ord() folds per character
    "q49_media_features" ->
      """WITH l AS (
        |  SELECT doc_id, CAST(length(text) AS BIGINT) AS n,
        |    list_transform(string_split(text, ''), c -> ord(c)) AS os
        |  FROM documents)
        |SELECT doc_id, n AS n_bytes,
        |  CAST(CASE WHEN n = 0 THEN 0
        |    ELSE list_aggregate(os, 'sum') // n END AS BIGINT) AS mean_byte,
        |  CAST(list_aggregate(os, 'max') AS BIGINT) AS max_byte,
        |  CAST(len(list_distinct(os)) AS BIGINT) AS n_distinct
        |FROM l ORDER BY doc_id""".stripMargin)
}
