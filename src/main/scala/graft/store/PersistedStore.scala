package graft.store

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.hadoop.fs.{FileSystem, Path => HPath}

/** THE persisted-artifact contract (round-6 verdict #7): every
  * derived table the library persists — MinHash signatures, the
  * benchmark band/vector side, the decontamination shingle set, the
  * corpus-diff index — follows one lifecycle, implemented once here
  * instead of per store:
  *
  *  - **build once per refresh**: [[build]] (re)writes the store's
  *    tables from the corpus under `dir`; a refresh is a new store
  *    version, not an edit.
  *  - **attach to route**: [[attach]] maps a corpus `dir` to the store
  *    so the query family under that dir reads the persisted tables
  *    instead of re-deriving them; [[detach]] restores the in-query
  *    path. Implementations hook [[onRouteChange]] to invalidate
  *    anything derived from the previous routing.
  *  - **token-validated**: the optional snapshot token names the
  *    store's immutable version — [[SessionCache]] validates entries
  *    read from the store against it in O(1), no file listing (the
  *    table-format contract; on an object store a recursive listing
  *    per query call is seconds of metadata I/O). The caller owns
  *    refresh discipline: rotate the token when the store is rebuilt.
  *  - **`batch=<id>/` overwrite layout** for incrementally-maintained
  *    tables (companion helpers): each micro-batch OWNS its partition
  *    and OVERWRITES it, so a foreachBatch replay atomically replaces
  *    its own partial rows (exactly-once without a transaction log),
  *    and a reader gates on batches strictly before its own id.
  *    Flat-layout stores adopt into `batch=-1` ([[PersistedStore.adoptFlat]]).
  */
trait PersistedStore {

  /** Build (or refresh) the store's tables from the corpus under
    * `dir`. Overwrites: a build IS the new store version. */
  def build(spark: SparkSession, dir: String, storeDir: String): Unit

  private val attached =
    new java.util.concurrent.ConcurrentHashMap[String, (String, Option[String])]()

  /** Route reads under `dir` through this store. */
  final def attach(dir: String, storeDir: String): Unit =
    attachImpl(dir, storeDir, None)

  /** Attach with the store's immutable version token (rotate on
    * refresh): validation becomes O(1) — no per-call file listing. */
  final def attach(dir: String, storeDir: String, snapshot: String): Unit =
    attachImpl(dir, storeDir, Some(snapshot))

  private def attachImpl(dir: String, storeDir: String,
      tok: Option[String]): Unit = {
    attached.put(dir, (storeDir, tok))
    onRouteChange(dir)
  }

  /** Restore the in-query (store-less) path for `dir`. */
  final def detach(dir: String): Unit = {
    attached.remove(dir)
    onRouteChange(dir)
  }

  /** The attached token, if any — lets a pipeline assert which store
    * version a run read. */
  final def snapshotOf(dir: String): Option[String] =
    Option(attached.get(dir)).flatMap(_._2)

  /** The attached store dir, if any. */
  final def attachedStore(dir: String): Option[String] =
    Option(attached.get(dir)).map(_._1)

  /** Hook: routing under `dir` changed — invalidate anything derived
    * from the previous routing (the store's [[SessionCache]]
    * families). */
  protected def onRouteChange(dir: String): Unit = ()
}

object PersistedStore {

  /** Write one batch's rows into its OWNED partition — the
    * exactly-once overwrite unit. */
  def writeBatch(df: DataFrame, tableRoot: String, batchId: Long): Unit =
    df.write.mode("overwrite").parquet(s"$tableRoot/batch=$batchId")

  /** The batch ids present under `tableRoot`, strictly below `before`
    * (a retry must not gate on its own partial rows). Resolved through
    * the session's Hadoop FileSystem so hdfs://s3a:// roots list
    * correctly. */
  def batchIds(spark: SparkSession, tableRoot: String,
      before: Long = Long.MaxValue): Seq[Long] = {
    val root = new HPath(tableRoot)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) Nil
    else fs.listStatus(root).toSeq
      .filter(st => st.isDirectory && st.getPath.getName.startsWith("batch="))
      .map(_.getPath.getName.stripPrefix("batch=").toLong)
      .filter(_ < before)
  }

  /** Read a store table whose layout may be flat OR `batch=<id>/`
    * partitioned: partition discovery surfaces the batch id as a
    * column, dropped so both layouts read identically. */
  def readTable(spark: SparkSession, path: String): DataFrame = {
    val df = spark.read.parquet(path)
    if (df.columns.contains("batch")) df.drop("batch") else df
  }

  /** Adopt a FLAT-layout table into the `batch=-1` pre-stream
    * partition: (a) its rows then gate like any prior batch instead of
    * being silently skipped, and (b) partition discovery never sees a
    * mixed flat/partitioned layout (which Spark rejects as conflicting
    * directory structures). Renames are per-file metadata ops; a crash
    * mid-migration just leaves fewer flat files for the next call to
    * move. Spark readers ignore the `_SUCCESS`/dot files left in the
    * root.
    *
    * SINGLE-WRITER CONTRACT (round-5 ADVICE): when this runs inside a
    * stream's first micro-batch, a CONCURRENT batch reader that lists
    * mid-migration can observe the mixed layout and fail with a
    * conflicting-directory-structure error. Either quiesce batch
    * readers for that first batch, or run the migration explicitly
    * BEFORE starting the stream — afterwards the layout is stable. */
  def adoptFlat(fs: FileSystem, root: HPath): Unit = {
    if (!fs.exists(root)) return
    val flat = fs.listStatus(root).filter { st =>
      st.isFile && {
        val n = st.getPath.getName
        !n.startsWith("_") && !n.startsWith(".")
      }
    }
    if (flat.isEmpty) return
    val legacy = new HPath(root, "batch=-1")
    fs.mkdirs(legacy)
    flat.foreach { st =>
      val dst = new HPath(legacy, st.getPath.getName)
      // a previous partially-failed adoption may have copied the
      // file already (object stores rename by copy+delete): the
      // source is then a duplicate — drop it, don't re-adopt. A
      // failed delete strands the same mixed layout a failed
      // rename would, so it fails the batch identically.
      if (fs.exists(dst)) {
        if (!fs.delete(st.getPath, false))
          throw new java.io.IOException(
            s"failed to drop already-adopted flat store file ${st.getPath}")
      }
      else if (!fs.rename(st.getPath, dst))
        // a silently-stranded flat file next to batch= dirs would
        // fail every subsequent read with conflicting directory
        // structures — fail THIS batch instead (foreachBatch
        // retries it; the adoption loop is idempotent)
        throw new java.io.IOException(
          s"failed to adopt flat store file ${st.getPath} into $legacy")
    }
  }
}
