package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

/** Persisted character-trigram LM — q79's model as a warehouse
  * artifact: a quality-filtering pipeline trains the LM once per
  * reference-corpus refresh and scores every new document (batch or
  * stream) against it. Bounded vocabulary state (≤ |charset|³ rows of
  * (tri, micro_nats)) — broadcast-scale at any corpus size.
  *
  * A refresh also trains the TARGET-slice model (`lang = 'en'`, the
  * q80 contract) and persists the DSIR delta table — the serving
  * artifact for importance weighting: per shared-support trigram,
  * micro_nats_target − micro_nats_raw. Both stay in sync by
  * construction (one build writes all tables).
  *
  * Layout: `<storeDir>/trigram_lm` + `<storeDir>/dsir_delta` parquet.
  * Lifecycle from [[graft.store.PersistedStore]]. */
object LmStore extends graft.store.PersistedStore {

  /** Train on `<dir>/documents.parquet` — the exact q79 model, plus
    * the q80 DSIR delta (target = the `lang = 'en'` slice). */
  def build(spark: SparkSession, dir: String, storeDir: String): Unit = {
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    TextOps.lmModel(docs.select("doc_id", "text"))
      .write.mode("overwrite").parquet(s"$storeDir/trigram_lm")
    // delta reads the raw model BACK from the store (not the live
    // plan) so both delta terms reference the same written artifact;
    // the TARGET side still trains from the live documents plan, so a
    // consistent pair assumes a quiesced/single-writer source for the
    // duration of the build (the standard store-refresh discipline —
    // round-8 ADVICE)
    TextOps.dsirDelta(
        model(spark, storeDir),
        TextOps.lmModel(
          docs.filter(col("lang") === "en").select("doc_id", "text")))
      .write.mode("overwrite").parquet(s"$storeDir/dsir_delta")
  }

  /** The model table. */
  def model(spark: SparkSession, storeDir: String): DataFrame =
    graft.store.PersistedStore.readTable(spark, s"$storeDir/trigram_lm")

  /** The DSIR delta table: (tri, delta) over the raw and target
    * models' shared support. */
  def dsirDelta(spark: SparkSession, storeDir: String): DataFrame =
    graft.store.PersistedStore.readTable(spark, s"$storeDir/dsir_delta")

  override protected def onRouteChange(dir: String): Unit =
    graft.store.SessionCache.invalidate(dir,
      TextOps.lmRawCache, TextOps.dsirWeightsCache)
}
