package graft.perfbench

import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.SparkEntry
import graft.operators._
import Stats.time

/** analytics: every `SparkEntry.queries` leaf on the benchmark's copy of
  * the sf0.001 tables, each fully materialized and digested in one pass.
  * The timed run makes one cold pass (fresh session, after a q1 warm-up);
  * the traced run adds a warm pass in the same session. No crawl layer
  * runs. The inputs are fixed tables, so the seed changes nothing. */
object AnalyticsWorkload {
  /** Registry of each leaf, by the `queries` map that defines it. */
  val registries: Seq[(String, Map[String, (SparkSession, String) => DataFrame])] = Seq(
    "relational" -> RelationalQueries.queries, "crawl" -> CrawlQueries.queries,
    "text" -> TextOps.queries, "vector" -> VectorOps.queries,
    "multimodal" -> MultimodalOps.queries, "pipeline" -> PipelineOps.queries,
    "interleaved" -> InterleavedOps.queries, "retrieval" -> RetrievalOps.queries)

  /** Leaves named by the roadmap, reported one by one. */
  val namedLeaves = Seq("q8", "q19", "q24", "q25", "q30", "q32", "q33", "q34",
    "q70", "q73", "q77", "q79")

  def registryOf(leaf: String): String =
    registries.find(_._2.contains(leaf)).map(_._1).getOrElse("other")

  def run(c: Ctx): Unit = {
    val dir = c.o.data.resolve("sf0.001").toString
    val all = SparkEntry.queries.keys.toSeq.sorted
    // smoke: the lowest-numbered leaf of each registry
    val leaves =
      if (c.o.smoke) registries.map(_._2.keys.minBy(_.drop(1).takeWhile(_.isDigit).toInt))
      else all
    val (_, warmS) = time(c.tracer.span("warmup", "q1_agg")(
      SparkEntry.queries("q1_agg")(c.spark, dir).queryExecution.toRdd.foreach(_ => ())))

    // program cpu seconds (Host.appCpuS) of each cold leaf
    val cpu = scala.collection.mutable.Map.empty[String, Double]
    def pass(tag: String): Seq[(String, Double)] =
      c.tracer.span("operators", s"$tag pass") {
        leaves.map { leaf =>
          var secs = 0.0
          c.check.op(s"$leaf $tag") {
            val c0 = Host.appCpuS()
            val (d, s) = time(c.tracer.span("operators", s"$tag $leaf")(
              Digest.of(SparkEntry.queries(leaf)(c.spark, dir))))
            secs = s
            if (tag == "cold") cpu(leaf) = Host.appCpuS() - c0
            Seq(Check.Obs("digest " + leaf, d))
          }
          c.inter.sample()
          leaf -> secs
        }
      }

    val cold = pass("cold")
    val coldS = cold.map(_._2)
    val m = c.m
    m.put("setup_s", c.sessionS + warmS, "s")
    m.put("throughput_per_s", cold.size / coldS.sum, "1/s")
    m.put("latency_s_p50", Stats.median(coldS), "s")
    m.put("cpu_s_per_op", cpu.values.sum / cold.size, "s")
    m.put("analytics_cold_s", coldS.sum, "s")
    m.put("analytics_cold_cpu_s", cpu.values.sum, "s")
    m.put("analytics_cold_geomean_s", Stats.geomean(coldS), "s")
    m.put("analytics_leaves", cold.size, "count")
    if (c.traced) {
      val warm = pass("warm")
      m.put("analytics_warm_s", warm.map(_._2).sum, "s")
      m.put("analytics_warm_geomean_s", Stats.geomean(warm.map(_._2)), "s")
      Seq("cold" -> cold, "warm" -> warm).foreach { case (tag, times) =>
        registries.foreach { case (reg, _) =>
          m.put(s"operators.$reg.${tag}_s",
            times.filter(t => registryOf(t._1) == reg).map(_._2).sum, "s")
        }
        val t = c.tracer.spark("operators", _ == s"$tag pass")
        val pre = if (tag == "cold") "operators" else "operators.warm"
        m.put(s"$pre.exec_cpu_s", t("cpu_ns") / 1e9, "s")
        m.put(s"$pre.shuffle_bytes", t("shuffle_write_bytes").toDouble, "B")
        m.put(s"$pre.spill_bytes", t("spill_bytes").toDouble, "B")
        m.put(s"$pre.gc_s", t("gc_ms") / 1000.0, "s")
        m.put(s"$pre.stages", t("stages").toDouble, "count")
        m.put(s"$pre.driver_s",
          c.tracer.idleSeconds("operators", _.startsWith(s"$tag q")).sum, "s")
      }
      namedLeaves.foreach { q =>
        cold.find(_._1.startsWith(q + "_")).foreach { case (_, s) =>
          m.put(s"operators.$q.cold_s", s, "s")
        }
      }
    }
  }
}

/** Digests of a `graft.Verify` output directory, in the form of
  * expected/analytics.json, for cross-checking the expected digests with
  * the DuckDB oracle: scripts/oracle_compare.py compares Verify's parquet
  * with DuckDB, and this digests the same parquet. Usage:
  * `graft.perfbench.VerifyDigests <verify out dir>`. */
object VerifyDigests {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder().master("local[2]")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    SparkEntry.queries.keys.toSeq.sorted.foreach { q =>
      println(s"digest $q\t${Digest.of(spark.read.parquet(s"${args(0)}/$q"))}")
    }
    spark.stop()
  }
}
