package graft

import org.apache.spark.sql.SparkSession
import graft.operators.{ClusterStore, LmStore, SignatureStore, SimhashStore}
import graft.store.SessionCache

/** Serving-mode A/B: the PersistedStore family's measured story.
  *
  * The oracle gate always runs DETACHED (derive-from-text — that is
  * the contract the driver checks); a production pipeline runs
  * ATTACHED (signatures / simhashes / cluster assignment built once
  * per corpus refresh, every consumer reads the store). This main
  * measures both modes on the store-family consumers and prints one
  * JSON line:
  *
  *   {"sf":…, "build_s":{…}, "detached_s":{…}, "attached_s":{…}}
  *
  * Protocol: fresh SparkSession per mode (the session caches key by
  * sessionUUID, so neither mode serves the other's intermediates);
  * 2 passes per mode, per-query MIN (the box's interference mode is
  * bimodal — see BENCH/BASELINE.md §5); q1 warms each session.
  *
  *   SPARK_GRAFT_SF_DIR=… scripts/runjava.sh graft.StoreModeBench
  */
object StoreModeBench {

  private val Queries = Seq("q24_minhash_lsh", "q25_ngram_jaccard",
    "q40_dedup_clusters", "q59_cluster_rep", "q70_simhash_neardup",
    "q72_split_assign", "q79_charlm_score", "q80_dsir_weights",
    "q81_dsir_select")

  private def newSession(): SparkSession = {
    val s = SparkSession.builder()
      .master("local[32]")
      .appName("graft-storemode")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", "-1")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** One mode's timings: (cold, warm) — the COLD first pass is where
    * the store pays (no text scan, no shingle explode, no fixpoint);
    * the warm second pass measures the steady state after the session
    * caches absorb whatever derivation the mode ran. */
  private def timeMode(sfDir: String): (Map[String, Double], Map[String, Double]) = {
    val s = newSession()
    try {
      SparkEntry.queries("q1_agg")(s, sfDir).count() // JVM/parquet warm
      def pass(): Map[String, Double] = Queries.map { q =>
        val t0 = System.nanoTime()
        // protocol v5: materialize every output row (count() lets
        // Catalyst prune projection-only work and eliminate the
        // zero-fill left joins — see Bench.scala)
        SparkEntry.queries(q)(s, sfDir).queryExecution.toRdd.foreach(_ => ())
        q -> (System.nanoTime() - t0) / 1e9
      }.toMap
      (pass(), pass())
    } finally s.stop()
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val root = java.nio.file.Files.createTempDirectory("graft-stores").toString

    // build the stores once (their own session, like a corpus refresh)
    val sb = newSession()
    val buildTimes = scala.collection.mutable.Map.empty[String, Double]
    def timed(name: String)(f: => Unit): Unit = {
      val t0 = System.nanoTime()
      f
      buildTimes.update(name, (System.nanoTime() - t0) / 1e9)
    }
    try {
      timed("signatures")(SignatureStore.build(sb, sfDir, s"$root/sig"))
      timed("simhashes")(SimhashStore.build(sb, sfDir, s"$root/simhash"))
      timed("clusters")(ClusterStore.build(sb, sfDir, s"$root/cluster"))
      timed("trigram_lm")(LmStore.build(sb, sfDir, s"$root/lm"))
    } finally sb.stop()

    val (detachedCold, detachedWarm) = timeMode(sfDir)

    SignatureStore.attach(sfDir, s"$root/sig", snapshot = "v1")
    SimhashStore.attach(sfDir, s"$root/simhash", snapshot = "v1")
    ClusterStore.attach(sfDir, s"$root/cluster", snapshot = "v1")
    LmStore.attach(sfDir, s"$root/lm", snapshot = "v1")
    val (attachedCold, attachedWarm) =
      try timeMode(sfDir)
      finally {
        SignatureStore.detach(sfDir)
        SimhashStore.detach(sfDir)
        ClusterStore.detach(sfDir)
        LmStore.detach(sfDir)
        SessionCache.invalidate(sfDir)
      }

    def js(m: Map[String, Double]): String =
      m.toSeq.sortBy(_._1)
        .map { case (k, v) => f""""$k":$v%.3f""" }.mkString("{", ",", "}")
    println(s"""{"sf":"$sfDir","build_s":${js(buildTimes.toMap)},""" +
      s""""detached_cold_s":${js(detachedCold)},""" +
      s""""attached_cold_s":${js(attachedCold)},""" +
      s""""detached_warm_s":${js(detachedWarm)},""" +
      s""""attached_warm_s":${js(attachedWarm)},""" +
      f""""detached_cold_total_s":${detachedCold.values.sum}%.3f,""" +
      f""""attached_cold_total_s":${attachedCold.values.sum}%.3f,""" +
      f""""detached_warm_total_s":${detachedWarm.values.sum}%.3f,""" +
      f""""attached_warm_total_s":${attachedWarm.values.sum}%.3f}""")
  }
}
