package graft

import java.nio.file.Files
import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.operators.{PipelineOps, TextOps}

/** End-to-end curation pipeline composition: the per-operator oracles
  * prove each stage; this spec proves the STAGES COMPOSE over a
  * derived corpus — quality-filter → near-dup dedup (cluster
  * representatives) → DSIR target-distribution selection →
  * leakage-safe split → interleaved packing, with
  * each downstream stage running on the MATERIALIZED output of the
  * previous one (the production shape: every stage reads/writes
  * parquet, no stage needs the original corpus). */
class PipelineE2ESpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark
  private val src = "/root/testdata/sf0.001"

  test("filter -> dedup -> select -> split -> pack composes over materialized stages") {
    import spark.implicits._
    val docs = spark.read.parquet(s"$src/documents.parquet")

    // stage 1: quality filter — keep verdicts
    val keepIds = SparkEntry.queries("q46_quality_filter")(spark, src)
      .filter($"keep").select($"doc_id")
    val kept = docs.join(keepIds, "doc_id")
    val stage1 = Files.createTempDirectory("graft-e2e-s1").toString
    kept.coalesce(2).write.parquet(s"$stage1/documents.parquet")
    val nKept = spark.read.parquet(s"$stage1/documents.parquet").count()
    assert(nKept > 0 && nKept < docs.count(), "filter kept all or nothing")

    // stage 2: near-dup dedup ON THE FILTERED CORPUS — keep the
    // min-id representative of each cluster
    val reps = PipelineOps.dedupClusters(spark, stage1)
      .filter($"keep").select($"doc_id")
    val deduped = spark.read.parquet(s"$stage1/documents.parquet")
      .join(reps, "doc_id")
    val stage2 = Files.createTempDirectory("graft-e2e-s2").toString
    deduped.coalesce(2).write.parquet(s"$stage2/documents.parquet")
    val nDeduped = spark.read.parquet(s"$stage2/documents.parquet").count()
    assert(nDeduped > 0 && nDeduped <= nKept)
    // after dedup the derived corpus has NO remaining near-dup pair
    val residualPairs = TextOps.lshCandidatePairsUncached(spark, stage2).count()
    assert(residualPairs === 0L,
      s"$residualPairs near-dup pairs survived the dedup stage")

    // stage 3: DSIR selection on the deduped corpus — the k docs
    // sampled without replacement ∝ w(x) toward the lang='en' target
    // (the resampling a pipeline runs between dedup and split)
    val k = 100
    val selIds = TextOps.dsirSelect(spark, stage2, k).select($"doc_id")
    val selected = spark.read.parquet(s"$stage2/documents.parquet")
      .join(selIds, "doc_id")
    val stage3 = Files.createTempDirectory("graft-e2e-s3").toString
    selected.coalesce(2).write.parquet(s"$stage3/documents.parquet")
    val nSelected = spark.read.parquet(s"$stage3/documents.parquet").count()
    assert(nSelected === k.toLong && nSelected < nDeduped,
      s"selection must be a strict $k-subset: $nSelected of $nDeduped")

    // stage 4: leakage-safe split on the selected corpus — a partition
    // of exactly the selected ids
    val split = SparkEntry.queries("q72_split_assign")(spark, stage3)
      .select($"doc_id", $"split")
    val splitRows = split.collect()
    assert(splitRows.length.toLong === nSelected)
    assert(splitRows.map(_.getString(1)).toSet.subsetOf(Set("train", "val", "test")))
    assert(splitRows.map(_.getLong(0)).distinct.length.toLong === nSelected,
      "a document landed in two splits")

    // stage 5: interleaved packing of the selected corpus — every doc
    // packed exactly once, document-atomic
    val packed = SparkEntry.queries("q71_interleaved_pack")(spark, stage3)
    val packedIds = packed.select($"doc_id").as[Long].collect()
    assert(packedIds.length.toLong === nSelected &&
      packedIds.distinct.length === packedIds.length,
      "packing dropped or duplicated a document")

    // cross-stage coherence: nothing re-enters the pipeline — packed
    // ids == split ids == selected ids ⊂ deduped ids ⊆ kept ids
    val dedupedIds = spark.read.parquet(s"$stage2/documents.parquet")
      .select($"doc_id").as[Long].collect().toSet
    val selectedIds = spark.read.parquet(s"$stage3/documents.parquet")
      .select($"doc_id").as[Long].collect().toSet
    assert(packedIds.toSet === selectedIds)
    assert(splitRows.map(_.getLong(0)).toSet === selectedIds)
    assert(selectedIds.subsetOf(dedupedIds))
    graft.store.SessionCache.invalidate(stage1)
    graft.store.SessionCache.invalidate(stage2)
    graft.store.SessionCache.invalidate(stage3)
  }
}
