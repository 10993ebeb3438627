package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted form of the MinHash signature table — the warehouse
  * counterpart of the session-cached `TextOps.perDocSignatures`
  * intermediate (and the q36→IvfIndex pattern applied to text dedup):
  * a corpus refresh builds the signatures ONCE; dedup listing,
  * clustering, centrality, and re-ranking all read the store instead
  * of re-scanning text.
  *
  * Layout:
  *  - `<storeDir>/signatures`: (doc_id, mh_0..mh_31, ss) parquet —
  *    the per-document 32-minhash signature plus the distinct
  *    32-bit shingle-hash set used by exact Jaccard re-ranks.
  *  - scan-side pruning does the rest: a pair-gate read projects only
  *    (doc_id, mh_*) and never loads the `ss` arrays; a re-rank read
  *    projects (doc_id, ss). ReadSchema column pruning is asserted in
  *    the spec.
  *
  * At 100 TB the signatures table is ~1% the corpus bytes (32 longs +
  * a few hundred ints per document vs multi-KB text), so banding
  * experiments (retuning bands × rows against a quality bar) replay
  * against the store without touching the corpus — the operational
  * reason curation pipelines persist signatures.
  *
  * Lifecycle (build/attach/token/detach) comes from
  * [[graft.store.PersistedStore]] — the one store contract. The
  * attach token validates the session-cached entries that read the
  * store (signatures, pairs, clusters) with no listing. */
object SignatureStore extends graft.store.PersistedStore {

  /** Build (or refresh) the store from `<dir>/documents.parquet`. */
  def build(spark: SparkSession, dir: String, storeDir: String): Unit =
    TextOps.perDocSignatures(spark, dir)
      .write.mode("overwrite").parquet(s"$storeDir/signatures")

  /** The signature table. The streaming incremental writer lays the
    * same rows out as `batch=<id>/` subdirectories (its idempotent
    * retry unit); readTable drops the surfaced partition column so
    * both layouts read identically. */
  def signatures(spark: SparkSession, storeDir: String): DataFrame =
    graft.store.PersistedStore.readTable(spark, s"$storeDir/signatures")

  /** Routing changed: the session intermediates computed from the
    * previous routing are superseded. */
  override protected def onRouteChange(dir: String): Unit =
    graft.store.SessionCache.invalidate(dir,
      TextOps.sigCache, TextOps.pairsCache, PipelineOps.clustersCache)

  /** The q24 candidate-pair gate, served from the store: identical
    * banding, valve, and join shape to `TextOps.lshCandidatePairs`
    * (literally the same [[TextOps.pairsFromSignatures]] plan), but the
    * heavy input is a pruned (doc_id, mh_*) scan of the signatures
    * table — no text scan, no shingle explode, no md5. */
  def candidatePairs(spark: SparkSession, storeDir: String): DataFrame =
    TextOps.pairsFromSignatures(signatures(spark, storeDir))
}
