package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.scheduler.SparkListenerApplicationEnd
import graft.operators.{SignatureStore, TextOps}
import graft.store.SessionCache

/** The persisted signature store: pairs from the store equal pairs
  * computed fresh from text, and the gate's store read prunes the
  * heavy shingle-set column. */
class SignatureStoreSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  private val dir = "/root/testdata/sf0.01"

  test("store-served candidate pairs equal the text-computed gate") {
    import spark.implicits._
    val store = Files.createTempDirectory("graft-sigstore").toString
    SignatureStore.build(spark, dir, store)
    val fromStore = SignatureStore.candidatePairs(spark, store)
      .as[(Long, Long)].collect().toSet
    val fresh = TextOps.lshCandidatePairsUncached(spark, dir)
      .as[(Long, Long)].collect().toSet
    assert(fromStore === fresh)
    assert(fromStore.nonEmpty)

    // the gate must not read the ss (shingle-set) column: ReadSchema
    // of the signatures scan carries mh_* but not ss
    val plan = SignatureStore.candidatePairs(spark, store)
      .queryExecution.executedPlan.toString
    val readSchema = plan.linesIterator
      .filter(_.contains("ReadSchema")).mkString("\n")
    assert(readSchema.contains("mh_0"), readSchema)
    assert(!readSchema.contains("ss"), s"gate reads the set column:\n$readSchema")

    // and the stored table really carries the re-rank sets
    val sig = SignatureStore.signatures(spark, store)
    assert(sig.columns.contains("ss") && sig.columns.contains("mh_31"))
    assert(sig.count() === spark.read.parquet(s"$dir/documents.parquet").count())
  }

  private def writeDocs(dir: String, docs: Seq[(Long, String)]): Unit = {
    import spark.implicits._
    docs.toDF("doc_id", "text")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
  }

  test("corpus refresh under the same path invalidates the session cache " +
    "and releases checkpoint storage") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-refresh").toString
    val base = "the quick brown fox jumps over the lazy dog again and again " * 4
    // v1: docs 1/2 are near-dups, 3 is distinct
    writeDocs(dir, Seq(
      1L -> base, 2L -> (base + " tail"), 3L -> ("zebra quartz " * 20)))
    val before = spark.sparkContext.getPersistentRDDs.keySet
    val p1 = TextOps.lshCandidatePairs(spark, dir).as[(Long, Long)].collect().toSet
    assert(p1.contains((1L, 2L)), s"v1 near-dup pair missing: $p1")
    val ckIds = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(ckIds.nonEmpty, "expected localCheckpoint blocks for the cached gate")

    // rewrite the corpus IN PLACE: now 2/3 are the near-dups
    val other = "slate marble granite quartz onyx basalt gneiss shale " * 6
    writeDocs(dir, Seq(
      1L -> ("alpha beta gamma " * 20), 2L -> other, 3L -> (other + " tail")))
    val p2 = TextOps.lshCandidatePairs(spark, dir).as[(Long, Long)].collect().toSet
    assert(p2.contains((2L, 3L)) && !p2.contains((1L, 2L)),
      s"stale pairs served after refresh: $p2")
    // the stale entry's checkpoint blocks are gone from executor storage
    val live = spark.sparkContext.getPersistentRDDs.keySet
    assert(ckIds.forall(id => !live.contains(id)),
      s"stale checkpoint blocks still pinned: ${ckIds.intersect(live)}")

    // explicit invalidation releases the fresh entry too
    val fresh = spark.sparkContext.getPersistentRDDs.keySet -- before
    SessionCache.invalidate(dir)
    val after = spark.sparkContext.getPersistentRDDs.keySet
    assert(fresh.forall(id => !after.contains(id)),
      "invalidate left checkpoint blocks pinned")
  }

  test("a pinned snapshot token makes cache validation listing-free") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-snap").toString
    val txt = "lithium sodium potassium rubidium caesium francium metal " * 8
    writeDocs(dir, Seq(20L -> txt, 21L -> (txt + " y"), 22L -> ("halogen fluorine chlorine " * 15)))
    val store = Files.createTempDirectory("graft-snap-store").toString
    SignatureStore.build(spark, dir, store)
    // attach WITH a snapshot token: the token is the fingerprint — no
    // recursive store listing on any subsequent query-call validation
    SignatureStore.attach(dir, store, snapshot = "v1")
    def listings = Seq(TextOps.sigCache, TextOps.pairsCache).map(_.stats.listings).sum
    try {
      val n0 = listings
      val p1 = TextOps.lshCandidatePairs(spark, dir).as[(Long, Long)].collect().toSet
      (1 to 5).foreach { _ =>
        val p = TextOps.lshCandidatePairs(spark, dir).as[(Long, Long)].collect().toSet
        assert(p === p1)
        TextOps.perDocSignatures(spark, dir).count()
      }
      assert(listings === n0,
        "pinned-token validation still performed file listings")
      // rotating the token invalidates: the next call rebuilds the pair
      // graph exactly once (and the result stays correct — the store is
      // unchanged, so pairs agree)
      val m0 = TextOps.pairsCache.stats.misses
      SignatureStore.attach(dir, store, snapshot = "v2")
      val p2 = TextOps.lshCandidatePairs(spark, dir).as[(Long, Long)].collect().toSet
      TextOps.lshCandidatePairs(spark, dir).count()
      assert(p2 === p1)
      assert(TextOps.pairsCache.stats.misses === m0 + 1)
      assert(listings === n0)
    } finally SignatureStore.detach(dir)
  }

  test("a signature-store token validates only the entries read from " +
    "that store: q79 sees an in-place documents rewrite") {
    import spark.implicits._
    val q79 = SparkEntry.queries("q79_charlm_score")
    val dir = Files.createTempDirectory("graft-tokscope").toString
    writeDocs(dir, Seq(40L -> "ab ab ab", 41L -> "abc"))
    val store = Files.createTempDirectory("graft-tokscope-store").toString
    SignatureStore.build(spark, dir, store)
    SignatureStore.attach(dir, store, snapshot = "v1")
    val v2 = Seq(40L -> "the quick brown fox jumps over the lazy dog",
      41L -> "pack my box with five dozen liquor jugs", 42L -> "sphinx of black quartz")
    try {
      q79(spark, dir).collect()
      writeDocs(dir, v2)
      val got = q79(spark, dir).as[(Long, Long, Long)].collect().toSeq
      val freshDir = Files.createTempDirectory("graft-tokscope-fresh").toString
      writeDocs(freshDir, v2)
      val want = q79(spark, freshDir).as[(Long, Long, Long)].collect().toSeq
      assert(got === want, "q79 served the LM trained on the old documents")
      SessionCache.invalidate(freshDir)
    } finally SignatureStore.detach(dir)
  }

  test("q24, q40 and q45 share one pair-graph build: the counters show " +
    "one miss and two hits") {
    val dir = Files.createTempDirectory("graft-counters").toString
    val base = "the quick brown fox jumps over the lazy dog again and again " * 4
    writeDocs(dir, Seq(1L -> base, 2L -> (base + " tail"), 3L -> ("zebra quartz " * 20)))
    val before = TextOps.pairsCache.stats
    Seq("q24_minhash_lsh", "q40_dedup_clusters", "q45_sim_centrality")
      .foreach(q => SparkEntry.queries(q)(spark, dir).collect())
    val after = TextOps.pairsCache.stats
    assert(after.misses - before.misses === 1)
    assert(after.hits - before.hits === 2)
    assert(after.buildSeconds > before.buildSeconds)
    SessionCache.invalidate(dir)
  }

  test("ending a context's application evicts its session-cache entries " +
    "and releases their checkpoints") {
    val dir = Files.createTempDirectory("graft-stop").toString
    val base = "lorem ipsum dolor sit amet consectetur adipiscing elit " * 5
    writeDocs(dir, Seq(1L -> base, 2L -> (base + " tail"), 3L -> ("quartz " * 30)))
    val before = spark.sparkContext.getPersistentRDDs.keySet
    SparkEntry.queries("q24_minhash_lsh")(spark, dir).collect()
    val ckIds = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(ckIds.nonEmpty, "expected localCheckpoint blocks for the cached gate")
    // the shared test context cannot stop: deliver its application-end
    // event to the hook the cache registered on it
    val hook = SessionCache.stopHook(spark.sparkContext)
    assert(hook.isDefined, "no stop hook registered on the context")
    hook.get.onApplicationEnd(SparkListenerApplicationEnd(System.currentTimeMillis()))
    val left = SessionCache.stats.filter(_._2.entries > 0)
    assert(left.isEmpty, s"entries outlived their context: $left")
    val live = spark.sparkContext.getPersistentRDDs.keySet
    assert(ckIds.forall(id => !live.contains(id)),
      s"evicted checkpoint blocks still pinned: ${ckIds.intersect(live)}")
  }

  test("attachStore routes the session intermediates through the store") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-attach").toString
    val txt = "copper silver golden bronze nickel cobalt arsenic " * 8
    writeDocs(dir, Seq(10L -> txt, 11L -> (txt + " x"), 12L -> ("noble gas neon argon " * 15)))
    val freshPairs = TextOps.lshCandidatePairsUncached(spark, dir)
      .as[(Long, Long)].collect().toSet

    val store = Files.createTempDirectory("graft-attach-store").toString
    SignatureStore.build(spark, dir, store)
    SignatureStore.attach(dir, store)
    try {
      val sig = TextOps.perDocSignatures(spark, dir)
      val scans = sig.queryExecution.executedPlan.toString
      assert(scans.contains(store), s"attached read does not scan the store:\n$scans")
      val pairs = TextOps.lshCandidatePairs(spark, dir)
        .as[(Long, Long)].collect().toSet
      assert(pairs === freshPairs)
    } finally SignatureStore.detach(dir)
    // detached: back to text-derived signatures
    val planAfter = TextOps.perDocSignatures(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!planAfter.contains(store))
  }
}
