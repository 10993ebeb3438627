package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Persisted BPE merge list — q77's training output as a warehouse
  * artifact: a tokenizer is induced once per reference-corpus refresh
  * and then APPLIED everywhere (q78 encode, token budgeting, packing),
  * exactly how production tokenizers are versioned. The merge list is
  * prefix-stable (greedy training: step k never depends on later
  * steps), so a store trained for N steps serves any request for
  * n ≤ N as `take(n)`.
  *
  * Layout: `<storeDir>/bpe_merges` — (step, pair, cnt) parquet, tiny
  * (N rows of driver-side state). Lifecycle from
  * [[graft.store.PersistedStore]]; attaching routes q77/q78's merge
  * training through the store. */
object BpeStore extends graft.store.PersistedStore {

  /** The default training depth — q77's contract. */
  val DefaultSteps = 10

  def build(spark: SparkSession, dir: String, storeDir: String): Unit =
    build(spark, dir, storeDir, DefaultSteps)

  /** Train `n` merge steps on `<dir>/documents.parquet` and persist
    * the ranked list. */
  def build(spark: SparkSession, dir: String, storeDir: String,
      n: Int): Unit = {
    import spark.implicits._
    TextOps.trainMergesUncached(spark, dir, n)
      .toDF("step", "pair", "cnt")
      .coalesce(1).write.mode("overwrite").parquet(s"$storeDir/bpe_merges")
  }

  /** The persisted ranked merge list, step-ordered. */
  def merges(spark: SparkSession, storeDir: String): Seq[(Long, String, Long)] = {
    import spark.implicits._
    graft.store.PersistedStore.readTable(spark, s"$storeDir/bpe_merges")
      .select("step", "pair", "cnt")
      .as[(Long, String, Long)].collect().sortBy(_._1).toSeq
  }

  override protected def onRouteChange(dir: String): Unit =
    graft.store.SessionCache.invalidate(dir, TextOps.bpeMergesCache)
}
