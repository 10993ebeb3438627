package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import graft.operators.{ClusterStore, PipelineOps}
import graft.store.SessionCache

/** The persisted cluster-assignment store (round-7 verdict #2):
  * store-served assignment equals the fresh fixpoint, attached routing
  * serves every consumer (q40/q59/q72) from the store, and the
  * session cache shares one fixpoint run across consumers. */
class ClusterStoreSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  private val dir = "/root/testdata/sf0.01"

  private def rows(df: org.apache.spark.sql.DataFrame): Set[(Long, Long, Long, Boolean)] = {
    import spark.implicits._
    df.select("doc_id", "cluster_id", "cluster_size", "keep")
      .as[(Long, Long, Long, Boolean)].collect().toSet
  }

  test("store-served cluster assignment equals the fresh fixpoint") {
    val store = Files.createTempDirectory("graft-clusterstore").toString
    ClusterStore.build(spark, dir, store)
    val fromStore = rows(ClusterStore.clusters(spark, store))
    val fresh = rows(PipelineOps.dedupClustersFresh(spark, dir))
    assert(fromStore === fresh)
    assert(fromStore.exists(!_._4), "expected at least one dropped near-dup")
    // one row per corpus document (singletons included)
    assert(fromStore.size.toLong ===
      spark.read.parquet(s"$dir/documents.parquet").count())
  }

  test("attach routes q40/q59/q72 through the store; detach restores") {
    import spark.implicits._
    val store = Files.createTempDirectory("graft-clusterstore-attach").toString
    ClusterStore.build(spark, dir, store)
    val detached = Map(
      "q40" -> graft.SparkEntry.queries("q40_dedup_clusters")(spark, dir).collect().toSeq,
      "q59" -> graft.SparkEntry.queries("q59_cluster_rep")(spark, dir).collect().toSeq,
      "q72" -> graft.SparkEntry.queries("q72_split_assign")(spark, dir).collect().toSeq)
    ClusterStore.attach(dir, store, snapshot = "v1")
    try {
      val plan = PipelineOps.dedupClusters(spark, dir)
        .queryExecution.executedPlan.toString
      assert(plan.contains(store), s"attached read does not scan the store:\n$plan")
      // no fixpoint machinery in the attached plan: a parquet scan has
      // no checkpointed LogicalRDD rounds behind it
      assert(!plan.contains("LogicalRDD"), plan)
      detached.foreach { case (k, want) =>
        val name = k match {
          case "q40" => "q40_dedup_clusters"
          case "q59" => "q59_cluster_rep"
          case _     => "q72_split_assign"
        }
        val got = graft.SparkEntry.queries(name)(spark, dir).collect().toSeq
        assert(got === want, s"$name drifted when served from the store")
      }
    } finally ClusterStore.detach(dir)
    val planAfter = PipelineOps.dedupClusters(spark, dir)
      .queryExecution.analyzed.toString
    assert(!planAfter.contains(store))
  }

  test("the session cache shares ONE fixpoint run across q40/q59/q72") {
    ClusterStore.detach(dir)
    SessionCache.invalidate(dir, PipelineOps.clustersCache)
    val before = spark.sparkContext.getPersistentRDDs.keySet
    PipelineOps.dedupClusters(spark, dir).count()
    val ckIds = spark.sparkContext.getPersistentRDDs.keySet -- before
    assert(ckIds.nonEmpty, "expected a localCheckpoint for the cached assignment")
    // the second consumer reads the SAME checkpointed plan — its
    // analyzed plan is the materialized LogicalRDD, not a fresh
    // fixpoint over the pair graph
    val second = PipelineOps.dedupClusters(spark, dir).queryExecution.analyzed
    assert(second.isInstanceOf[org.apache.spark.sql.execution.LogicalRDD],
      s"second consumer re-derived the assignment:\n$second")
    // explicit invalidation releases the checkpoint storage
    SessionCache.invalidate(dir, PipelineOps.clustersCache)
    val after = spark.sparkContext.getPersistentRDDs.keySet
    assert(ckIds.forall(id => !after.contains(id)),
      s"invalidate left checkpoint blocks pinned: ${ckIds.intersect(after)}")
  }
}
