package graft.icelite

import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.util.UUID
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.{DataType, StructType}

/** IceLite — a thin Iceberg-style snapshot/manifest layer over Parquet
  * (SURVEY.md §1.2 caveat: no Iceberg runtime jar exists in this
  * zero-egress sandbox, so the "Iceberg tables" of BASELINE.json are
  * satisfied by this self-written layer with the same commit semantics
  * at sandbox scale: atomic rename-based snapshot commits, read-at-
  * snapshot, append/replace, and snapshot properties for lineage).
  *
  * Layout per table:
  * {{{
  *   <root>/<table>/data/<label>-<uuid>/   parquet dirs (one per commit)
  *   <root>/<table>/data/<label>-<uuid>/_schema.json   the dir's schema
  *   <root>/<table>/snapshot-<n>.json      manifest: file list + props
  * }}}
  *
  * Like Iceberg's table metadata, each data dir records its schema in
  * `_schema.json`, written atomically after the Parquet files (Spark's
  * file listing skips `_`-prefixed names). A read passes that schema to
  * Spark and opens no footer to infer it; Parquet inference costs a
  * one-task Spark job per read. Inference still runs when any dir of a
  * read lacks the sidecar (dirs written before it existed, or rewritten
  * outside IceLite), when the dirs' sidecars disagree (a table spanning
  * a schema change), and on `mergeSchema` reads. No `_SUCCESS` marker
  * is written: the manifest commit is what makes a dir visible.
  *
  * A manifest is committed by writing `snapshot-<n>.json.tmp` and
  * atomically renaming it. Data dirs not referenced by any manifest are
  * invisible (orphans) — a crash between data write and manifest rename
  * leaves the previous snapshot intact (crash-safety is unit-tested).
  */
final class IceLite(rootDir: String) {
  private val mapper = new ObjectMapper()
  private def tableDir(table: String): Path = Paths.get(rootDir, table)

  private val SnapRe = "snapshot-(\\d+)\\.json".r
  private val SchemaFile = "_schema.json"

  def currentSnapshotId(table: String): Option[Long] = {
    val dir = tableDir(table)
    if (!Files.isDirectory(dir)) None
    else {
      val ids = Files.list(dir).iterator().asScala.flatMap { p =>
        p.getFileName.toString match {
          case SnapRe(n) => Some(n.toLong)
          case _         => None
        }
      }.toSeq
      if (ids.isEmpty) None else Some(ids.max)
    }
  }

  final case class Manifest(snapshotId: Long, files: Seq[String], props: Map[String, String])

  def manifest(table: String, snapshotId: Long): Manifest = {
    val p = tableDir(table).resolve(s"snapshot-$snapshotId.json")
    val node = mapper.readTree(Files.readString(p))
    val files = node.get("files").elements().asScala.map(_.asText()).toSeq
    val props = Option(node.get("props")).map { pn =>
      pn.properties().asScala.map(e => e.getKey -> e.getValue.asText()).toMap
    }.getOrElse(Map.empty)
    Manifest(snapshotId, files, props)
  }

  def currentManifest(table: String): Option[Manifest] =
    currentSnapshotId(table).map(manifest(table, _))

  /** Write a DataFrame as a new data dir for `table` (NOT yet visible —
    * call commit), recording `df.schema` in its `_schema.json` sidecar.
    * Returns the data dir path. */
  def writeData(df: DataFrame, table: String, label: String): String = {
    val dir = tableDir(table).resolve("data")
      .resolve(s"$label-${UUID.randomUUID().toString.take(8)}")
    Files.createDirectories(dir.getParent)
    df.write.mode("overwrite")
      .option("mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
      .parquet(dir.toString)
    val tmp = dir.resolve(".schema.json.tmp")
    Files.writeString(tmp, df.schema.json)
    Files.move(tmp, dir.resolve(SchemaFile), StandardCopyOption.ATOMIC_MOVE)
    dir.toString
  }

  /** The schema every one of `dirs` recorded, if they all recorded the
    * same one; None sends the read to Parquet inference. */
  private def recordedSchema(dirs: Seq[String]): Option[StructType] = {
    val recorded = dirs.map { d =>
      val p = Paths.get(d, SchemaFile)
      if (Files.isRegularFile(p)) Some(Files.readString(p)) else None
    }.distinct
    recorded match {
      case Seq(Some(json)) => Some(DataType.fromJson(json).asInstanceOf[StructType])
      case _               => None
    }
  }

  /** Read data dirs written by [[writeData]] with their recorded schema
    * (no inference job); dirs without one, or with differing ones, read
    * through Parquet inference. */
  def readFiles(spark: SparkSession, files: String*): DataFrame =
    recordedSchema(files) match {
      case Some(schema) => spark.read.schema(schema).parquet(files: _*)
      case None         => spark.read.parquet(files: _*)
    }

  /** Atomically commit a new snapshot. `append=true` carries forward the
    * base snapshot's file list; `append=false` replaces it.
    *
    * `parentId` selects the base snapshot for the append file list:
    * None = the table's current snapshot (the default, single-writer
    * semantics); Some(id ≥ 0) = that exact snapshot — the multi-table
    * atomic-commit building block (a crash can leave a newer orphan
    * snapshot on a side table; a resumed writer appends relative to the
    * snapshot its root manifest pinned, so orphan files never leak into
    * the recommitted lineage); Some(id < 0) = no base (fresh table).
    * The new snapshot id is always current-max + 1, so ids stay
    * monotonic even when the base is older. */
  def commit(table: String, newFiles: Seq[String], append: Boolean,
      props: Map[String, String] = Map.empty,
      parentId: Option[Long] = None): Long = {
    val dir = tableDir(table)
    Files.createDirectories(dir)
    val current = currentManifest(table)
    val prev = parentId match {
      case None                  => current
      case Some(id) if id >= 0L  => Some(manifest(table, id))
      case Some(_)               => None
    }
    val id = current.map(_.snapshotId + 1).getOrElse(0L)
    val files = (if (append) prev.map(_.files).getOrElse(Nil) else Nil) ++ newFiles
    val node: ObjectNode = mapper.createObjectNode()
    node.put("snapshot", id)
    prev.foreach(m => node.put("parent", m.snapshotId))
    val fa = node.putArray("files"); files.foreach(fa.add)
    val pn = node.putObject("props"); props.foreach { case (k, v) => pn.put(k, v) }
    val tmp = dir.resolve(s"snapshot-$id.json.tmp")
    Files.writeString(tmp, mapper.writerWithDefaultPrettyPrinter().writeValueAsString(node))
    Files.move(tmp, dir.resolve(s"snapshot-$id.json"),
      StandardCopyOption.ATOMIC_MOVE)
    id
  }

  /** Convenience: writeData + commit in one step. */
  def writeCommit(df: DataFrame, table: String, label: String, append: Boolean,
      props: Map[String, String] = Map.empty): Long = {
    val f = writeData(df, table, label)
    commit(table, Seq(f), append, props)
  }

  /** Read a table at a snapshot (default: current). None if the table
    * has no snapshot or the snapshot is empty. */
  def read(spark: SparkSession, table: String,
      snapshotId: Option[Long] = None, mergeSchema: Boolean = false): Option[DataFrame] = {
    val m = snapshotId.map(manifest(table, _)).orElse(currentManifest(table))
    // mergeSchema reads EVERY file's footer (schema evolution across
    // appended deltas — e.g. an upgraded build appending wider rows to
    // a pre-upgrade table); the default read takes the recorded schema
    m.filter(_.files.nonEmpty).map(mm =>
      if (mergeSchema)
        spark.read.option("mergeSchema", "true").parquet(mm.files: _*)
      else readFiles(spark, mm.files: _*))
  }

  def props(table: String): Map[String, String] =
    currentManifest(table).map(_.props).getOrElse(Map.empty)

  /** Expire snapshots older than the `keepLast` most recent (Iceberg's
    * expire_snapshots): removes their manifest files and deletes data
    * dirs no longer referenced by any retained snapshot.
    *
    * `sweepOrphans=true` (the default) additionally removes data dirs
    * referenced by NO manifest at all (written but never committed —
    * e.g. a crash between write and commit). A concurrent writer may
    * have in-flight uncommitted data dirs, so — exactly like Iceberg,
    * which splits expire_snapshots from remove_orphan_files for this
    * reason — callers that overlap commits with new writes (the
    * pipelined round loop) must pass `sweepOrphans=false` and run
    * [[removeOrphans]] only while the table is quiescent.
    * Returns (#snapshots expired, #data dirs deleted). */
  def expireSnapshots(table: String, keepLast: Int,
      sweepOrphans: Boolean = true): (Int, Int) = {
    val dir = tableDir(table)
    if (!Files.isDirectory(dir)) return (0, 0)
    val ids = Files.list(dir).iterator().asScala.flatMap { p =>
      p.getFileName.toString match {
        case SnapRe(n) => Some(n.toLong)
        case _         => None
      }
    }.toSeq.sorted
    val (expire, keep) = ids.splitAt(math.max(0, ids.size - math.max(1, keepLast)))
    val referenced = keep.flatMap(id => manifest(table, id).files).toSet
    val expiredRefs = expire.flatMap(id => manifest(table, id).files).toSet
    // delete expired manifests first (atomic per file)
    expire.foreach(id => Files.deleteIfExists(dir.resolve(s"snapshot-$id.json")))
    val dataRoot = dir.resolve("data")
    var deleted = 0
    if (Files.isDirectory(dataRoot)) {
      Files.list(dataRoot).iterator().asScala.toSeq.foreach { d =>
        val retained = referenced.contains(d.toString)
        val doomed =
          if (sweepOrphans) !retained // expired-ref or never-committed
          else expiredRefs.contains(d.toString) && !retained
        if (doomed) {
          deleteRecursively(d)
          deleted += 1
        }
      }
    }
    (expire.size, deleted)
  }

  /** Remove data dirs referenced by no manifest (crash leftovers).
    * Iceberg's remove_orphan_files analog — only safe while no writer
    * has in-flight uncommitted data for this table. */
  def removeOrphans(table: String): Int = {
    val dir = tableDir(table)
    if (!Files.isDirectory(dir)) return 0
    val ids = Files.list(dir).iterator().asScala.flatMap { p =>
      p.getFileName.toString match {
        case SnapRe(n) => Some(n.toLong)
        case _         => None
      }
    }.toSeq
    val referenced = ids.flatMap(id => manifest(table, id).files).toSet
    val dataRoot = dir.resolve("data")
    var deleted = 0
    if (Files.isDirectory(dataRoot)) {
      Files.list(dataRoot).iterator().asScala.toSeq.foreach { d =>
        if (!referenced.contains(d.toString)) {
          deleteRecursively(d)
          deleted += 1
        }
      }
    }
    deleted
  }

  private def deleteRecursively(p: Path): Unit = {
    if (Files.isDirectory(p))
      Files.list(p).iterator().asScala.toSeq.foreach(deleteRecursively)
    Files.deleteIfExists(p)
  }
}
