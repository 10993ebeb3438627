package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Persisted benchmark side of semantic decontamination (q57) — the
  * [[SignatureStore]] pattern applied to the decontamination gate's
  * OTHER input: the held-out benchmark's sign-LSH band table and its
  * embedding vectors are built once per benchmark refresh, and every
  * subsequent corpus drop decontaminates against the store without
  * recomputing (or even rescanning) the benchmark side.
  *
  * Layout:
  *  - `<storeDir>/bench_bands`: (band, chunk, bvec) — the benchmark's
  *    sign-band table, the broadcast build side of the candidate join.
  *  - `<storeDir>/bench_vectors`: (bvec, embedding) — the benchmark
  *    vectors for the exact cosine re-rank.
  *
  * Both tables are benchmark-bounded (thousands of rows, not corpus-
  * scale), so at 100 TB the win is not bytes saved — it is that a
  * benchmark refresh and a corpus drop become INDEPENDENT events: the
  * decontamination job's inputs are the corpus scan plus two tiny
  * store reads, with no dependency on how the benchmark table is
  * derived (which at production scale is its own pipeline with its
  * own cadence).
  *
  * Lifecycle (`build`/`attach(dir, storeDir[, token])`/`detach`/
  * `snapshotOf`) comes from [[graft.store.PersistedStore]] — the one
  * store contract. The attach token validates the session-cached
  * q57/q60 hit set (which reads the store) with no listing. */
object BenchmarkStore extends graft.store.PersistedStore {

  /** The benchmark membership rule (shared with the q57 oracle): every
    * 19th vector plays the held-out benchmark. */
  private[operators] val BenchMod = 19

  /** Build (or refresh) the store from `<dir>/embeddings.parquet`'s
    * benchmark split. */
  def build(spark: SparkSession, dir: String, storeDir: String): Unit = {
    import spark.implicits._
    val bench = spark.read.parquet(s"$dir/embeddings.parquet")
      .filter($"vec_id" % BenchMod === 0)
    VectorOps.signBandsOf(bench)
      .select($"band", $"chunk", $"vec_id".as("bvec"))
      .write.mode("overwrite").parquet(s"$storeDir/bench_bands")
    bench.select($"vec_id".as("bvec"), $"embedding")
      .write.mode("overwrite").parquet(s"$storeDir/bench_vectors")
  }

  /** The persisted band table (band, chunk, bvec). */
  def bands(spark: SparkSession, storeDir: String): DataFrame =
    spark.read.parquet(s"$storeDir/bench_bands")

  /** The persisted benchmark vectors (bvec, embedding). */
  def vectors(spark: SparkSession, storeDir: String): DataFrame =
    spark.read.parquet(s"$storeDir/bench_vectors")

  override protected def onRouteChange(dir: String): Unit =
    graft.store.SessionCache.invalidate(dir, VectorOps.decontamHitsCache)
}
