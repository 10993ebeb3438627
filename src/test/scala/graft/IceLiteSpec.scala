package graft

import java.nio.file.{Files, Paths}
import java.util.UUID
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.scalatest.funsuite.AnyFunSuite
import graft.core.{CrawlConfig, SyntheticWeb}
import graft.engine.CrawlEngine
import graft.icelite.IceLite

/** IceLite commit semantics (SURVEY.md §5.2 item 4): atomicity, crash
  * safety (orphan data never becomes visible), read-at-snapshot; the
  * recorded-schema read (no Parquet inference job) and its fallbacks. */
class IceLiteSpec extends AnyFunSuite {
  private lazy val spark = SparkTestBase.spark

  /** Runs `body` and counts the Spark jobs it submitted (jobs carry the
    * calling thread's job group). A sentinel job submitted afterwards
    * flushes the listener bus: its start is delivered after every
    * earlier job's. */
  private def jobsDuring[T](body: => T): (T, Int) = {
    val sc = spark.sparkContext
    val group = s"icelite-${UUID.randomUUID()}"
    val counted = new AtomicInteger(0)
    val flushed = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).map(_.getProperty("spark.jobGroup.id")) match {
          case Some(`group`) => counted.incrementAndGet()
          case Some(g) if g == s"$group-sentinel" => flushed.countDown()
          case _ => ()
        }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "counted")
      val out = try body finally sc.clearJobGroup()
      sc.setJobGroup(s"$group-sentinel", "sentinel")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      assert(flushed.await(60, TimeUnit.SECONDS), "sentinel job never seen")
      (out, counted.get)
    } finally sc.removeSparkListener(listener)
  }

  private def dataDirs(root: String, table: String): Seq[String] =
    Files.list(Paths.get(root, table, "data")).iterator().asScala
      .map(_.toString).toSeq.sorted

  test("append and replace snapshots; read-at-snapshot") {
    import spark.implicits._
    val root = Files.createTempDirectory("icelite").toString
    val ice = new IceLite(root)
    val s0 = ice.writeCommit(Seq(1, 2, 3).toDF("x"), "t", "a", append = false,
      props = Map("round" -> "0"))
    val s1 = ice.writeCommit(Seq(4, 5).toDF("x"), "t", "b", append = true,
      props = Map("round" -> "1"))
    assert(s0 === 0L && s1 === 1L)
    assert(ice.read(spark, "t").get.count() === 5)
    assert(ice.read(spark, "t", Some(0L)).get.count() === 3)
    val s2 = ice.writeCommit(Seq(9).toDF("x"), "t", "c", append = false)
    assert(ice.read(spark, "t").get.count() === 1)
    assert(ice.read(spark, "t", Some(1L)).get.count() === 5)
    assert(ice.currentSnapshotId("t") === Some(s2))
    assert(ice.props("t").get("round") === None) // replace wrote no round
    assert(ice.manifest("t", 1L).props("round") === "1")
  }

  test("crash between data write and manifest rename leaves old snapshot intact") {
    import spark.implicits._
    val root = Files.createTempDirectory("icelite2").toString
    val ice = new IceLite(root)
    ice.writeCommit(Seq(1, 2).toDF("x"), "t", "a", append = false)
    // simulate a crash: data written, tmp manifest written, no rename
    val orphan = ice.writeData(Seq(99).toDF("x"), "t", "crash")
    Files.writeString(Paths.get(root, "t", "snapshot-1.json.tmp"),
      "{\"snapshot\":1,\"files\":[\"" + orphan + "\"]}")
    // a fresh reader sees only the committed snapshot
    val ice2 = new IceLite(root)
    assert(ice2.currentSnapshotId("t") === Some(0L))
    assert(ice2.read(spark, "t").get.count() === 2)
    // recovery: the next commit gets id 1 and ignores the orphan
    val s1 = ice2.writeCommit(Seq(3).toDF("x"), "t", "b", append = true)
    assert(s1 === 1L)
    assert(ice2.read(spark, "t").get.count() === 3)
  }

  test("expireSnapshots removes old manifests, unreferenced + orphan data") {
    import spark.implicits._
    val root = Files.createTempDirectory("icelite4").toString
    val ice = new IceLite(root)
    ice.writeCommit(Seq(1).toDF("x"), "t", "a", append = false)
    ice.writeCommit(Seq(2).toDF("x"), "t", "b", append = false) // replaces
    ice.writeCommit(Seq(3).toDF("x"), "t", "c", append = false) // replaces
    ice.writeData(Seq(9).toDF("x"), "t", "orphan") // never committed
    val (expired, deleted) = ice.expireSnapshots("t", keepLast = 1)
    assert(expired === 2)
    assert(deleted === 3) // two expired replace-dirs + one orphan
    assert(ice.currentSnapshotId("t") === Some(2L))
    assert(ice.read(spark, "t").get.collect().map(_.getInt(0)).toSeq === Seq(3))
    // expired snapshots are gone
    intercept[Exception](ice.manifest("t", 0L))
  }

  test("empty table reads as None") {
    val root = Files.createTempDirectory("icelite3").toString
    val ice = new IceLite(root)
    assert(ice.read(spark, "missing") === None)
    assert(ice.currentSnapshotId("missing") === None)
  }

  test("every engine table's data dir reads with exactly the inferred " +
    "schema, from its sidecar, with zero Spark jobs") {
    val web = SyntheticWeb(nHosts = 4, pagesPerHost = 5, megaFactor = 2)
    Seq(false, true).foreach { packed =>
      val root = Files.createTempDirectory("icelite-engine").toString
      val cfg = CrawlConfig(numBuckets = 4, roundMs = 1000, maxRounds = 4,
        packedSpans = packed, bloomCompactEvery = 2)
      val eng = new CrawlEngine(spark, web, cfg, root)
      eng.init(web.seedUrls(6)); eng.run()
      eng.compactRetired()
      val tables = Seq("frontier", "retired", "attempts", "lineage", "bloom")
      tables.foreach { t =>
        val dirs = dataDirs(root, t)
        assert(dirs.nonEmpty, s"$t wrote no data dir")
        dirs.foreach { d =>
          assert(Files.isRegularFile(Paths.get(d, "_schema.json")), s"$d has no sidecar")
          assert(!Files.exists(Paths.get(d, "_SUCCESS")), s"$d has a _SUCCESS marker")
          val (schema, jobs) = jobsDuring(eng.ice.readFiles(spark, d).schema)
          assert(jobs === 0, s"$d: recorded-schema read submitted jobs")
          // names, types and nullability (file-source columns read
          // nullable either way)
          assert(schema === spark.read.parquet(d).schema, s"$d (packedSpans=$packed)")
        }
        val (tableSchema, jobs) = jobsDuring(eng.ice.read(spark, t).map(_.schema))
        assert(jobs === 0, s"$t: table read submitted jobs")
        val files = eng.ice.currentManifest(t).get.files
        assert(tableSchema === Some(spark.read.parquet(files: _*).schema), t)
      }
      // the sidecar read returns the rows the inferred read returns
      val files = eng.ice.currentManifest("attempts").get.files
      val viaSidecar = eng.ice.readFiles(spark, files: _*)
        .select("url_canon", "round").collect().map(_.toString).sorted
      val inferred = spark.read.parquet(files: _*)
        .select("url_canon", "round").collect().map(_.toString).sorted
      assert(viaSidecar.toSeq === inferred.toSeq)
    }
  }

  test("a dir without a sidecar reads through inference (one job)") {
    import spark.implicits._
    val root = Files.createTempDirectory("icelite-nosidecar").toString
    val ice = new IceLite(root)
    ice.writeCommit(Seq((1, "a"), (2, "b")).toDF("x", "y"), "t", "a", append = false)
    ice.writeCommit(Seq((3, "c")).toDF("x", "y"), "t", "b", append = true)
    val (_, sidecarJobs) = jobsDuring(ice.read(spark, "t").get.schema)
    assert(sidecarJobs === 0)
    // drop one dir's sidecar: the dir now looks like one written before
    // sidecars existed, and the whole read falls back
    val files = ice.currentManifest("t").get.files
    Files.delete(Paths.get(files.head, "_schema.json"))
    val (df, jobs) = jobsDuring {
      val d = ice.read(spark, "t").get; d.schema; d
    }
    assert(jobs === 1)
    assert(df.schema === spark.read.parquet(files: _*).schema)
    assert(df.as[(Int, String)].collect().sortBy(_._1).toSeq ===
      Seq((1, "a"), (2, "b"), (3, "c")))
  }

  test("dirs whose sidecars disagree fall back to inference (one job)") {
    import spark.implicits._
    val root = Files.createTempDirectory("icelite-mixed").toString
    val ice = new IceLite(root)
    ice.writeCommit(Seq(1, 2).toDF("x"), "t", "a", append = false)
    ice.writeCommit(Seq((3, "c")).toDF("x", "y"), "t", "b", append = true)
    val files = ice.currentManifest("t").get.files
    assert(files.map(f => Files.readString(Paths.get(f, "_schema.json"))).distinct.size === 2)
    val (schema, jobs) = jobsDuring(ice.read(spark, "t").get.schema)
    assert(jobs === 1)
    assert(schema === spark.read.parquet(files: _*).schema)
    // mergeSchema reads every footer and sees both columns, as before
    val merged = ice.read(spark, "t", mergeSchema = true).get
    assert(merged.columns.toSeq === Seq("x", "y"))
    assert(merged.count() === 3)
  }
}
