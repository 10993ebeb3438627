package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Persisted 64-bit SimHash signatures — the q70 warehouse artifact
  * (round-7 verdict #5; Manku, Jain & Das Sarma, WWW 2007 store their
  * fingerprints for exactly this reason): 8 bytes per document, so
  * near-dup gating of a new corpus drop reads the signature table, not
  * the corpus. The streaming near-dup gate
  * ([[graft.streaming.StreamingOps.simhashDedupStream]]) appends each
  * micro-batch's survivors as a `batch=<id>/` partition (the
  * exactly-once overwrite unit shared with the MinHash store).
  *
  * Layout: `<storeDir>/simhashes` — (doc_id, sh) parquet, flat from
  * [[build]] or `batch=<id>/`-partitioned from the stream
  * ([[simhashes]] reads both).
  *
  * Lifecycle (build/attach/token/detach) from
  * [[graft.store.PersistedStore]]; attaching routes q70's signature
  * read through the store (the route-change hook drops only the
  * session-cached simhash intermediates). */
object SimhashStore extends graft.store.PersistedStore {

  /** Build (or refresh) the store from `<dir>/documents.parquet` —
    * the EXACT q70 batch formula ([[TextOps.simhashOf]]). */
  def build(spark: SparkSession, dir: String, storeDir: String): Unit =
    TextOps.simhashOf(
        spark.read.parquet(s"$dir/documents.parquet").select("doc_id", "text"))
      .write.mode("overwrite").parquet(s"$storeDir/simhashes")

  /** The signature table (flat or `batch=<id>/` layout). */
  def simhashes(spark: SparkSession, storeDir: String): DataFrame =
    graft.store.PersistedStore.readTable(spark, s"$storeDir/simhashes")

  override protected def onRouteChange(dir: String): Unit =
    graft.store.SessionCache.invalidate(dir, TextOps.simhashCache)
}
