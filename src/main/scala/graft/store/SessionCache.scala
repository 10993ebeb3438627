package graft.store

import java.util.concurrent.{ConcurrentHashMap, CopyOnWriteArrayList}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.{Dataset, SparkSession}

import graft.core.Hashing

/** THE in-memory session-cache contract — the twin of
  * [[PersistedStore]]. Build-once intermediates that several queries
  * read (the LSH pair graph, the trigram LMs, the decontamination
  * hits, the PQ codebooks, the BPE merges, …) each live in one
  * FAMILY: one `SessionCache` instance, one map. Families stay
  * separate because builds nest (the pairs build reads the signature
  * family, the DSIR weights read both LM families) and a nested
  * `compute` on one shared map throws "Recursive update".
  *
  *  - **key**: (session UUID, corpus dir, variant) — an entry never
  *    crosses sessions.
  *  - **validation**: an entry records the [[Source]]s it derives
  *    from. A source is a corpus table, validated by a listing of its
  *    files (path + size + mtime); or the table set of the store that
  *    routes the dir, validated by that store's attach token when it
  *    has one (O(1), no listing). A token therefore validates only
  *    the entries that read from its store.
  *  - **build and release**: per-key atomic (`compute`); a stale
  *    entry is released before its rebuild, with one rule for every
  *    value — a DataFrame's localCheckpoint blocks are unpersisted,
  *    driver-side values (merge lists, codebooks) need nothing.
  *  - **invalidation**: [[SessionCache.invalidate]] drops and releases
  *    a dir's entries in every family (or the named ones — each
  *    store's route-change hook names its own).
  *  - **lifetime**: the first build on a SparkContext registers one
  *    listener; when the application ends, every entry built on that
  *    context is evicted.
  *  - **counters** per family: hits, misses, listings, build seconds
  *    and live entries ([[SessionCache.stats]]). */
final class SessionCache[V] private (val family: String) {
  import SessionCache._

  private val entries = new ConcurrentHashMap[Key, Entry[V]]()
  private val hits, misses, listings, buildNanos = new AtomicLong(0L)

  /** The cached value for (`s`, `dir`, `variant`), built by `build`
    * when absent or when a source changed since it was built. */
  def apply(s: SparkSession, dir: String, sources: Seq[Source],
      variant: String = "")(build: => V): V = {
    val key = Key(sessionKey(s), dir, variant)
    val token = sources.distinct.map(validationToken(s, _)).mkString("+")
    val hit = entries.get(key)
    if (hit != null && hit.token == token) {
      hits.incrementAndGet()
      hit.value
    } else {
      watch(s.sparkContext)
      var built = false
      // per-KEY atomicity: unrelated (session, dir) entries build
      // concurrently; a global monitor would serialize every build
      // behind whichever scan got there first
      val e = entries.compute(key, (_, old) =>
        if (old != null && old.token == token) old
        else {
          if (old != null) release(old.value) // stale: a source changed
          built = true
          val t0 = System.nanoTime()
          val v = build
          buildNanos.addAndGet(System.nanoTime() - t0)
          Entry(token, s.sparkContext, v)
        })
      (if (built) misses else hits).incrementAndGet()
      e.value
    }
  }

  private def validationToken(s: SparkSession, src: Source): String =
    src.token match {
      case Some(tok) => s"snap:${src.path}@$tok"
      case None =>
        listings.incrementAndGet()
        fingerprint(s, src.path)
    }

  private def drop(p: (Key, Entry[V]) => Boolean): Unit =
    entries.asScala.foreach { case (k, e) =>
      if (p(k, e) && entries.remove(k, e)) release(e.value)
    }

  private[store] def invalidate(dir: String): Unit = drop((k, _) => k.dir == dir)

  private[store] def evict(sc: SparkContext): Unit = drop((_, e) => e.sc eq sc)

  def stats: Stats = Stats(hits.get, misses.get, listings.get,
    buildNanos.get / 1e9, entries.size)
}

object SessionCache {

  /** One input of a cached entry: a table path, validated by its
    * `token` when set, else by a listing of its files. */
  final case class Source(path: String, token: Option[String] = None)

  object Source {

    /** The table set of `store` when it routes `dir` (validated by the
      * store's attach token when it has one). */
    def stored(store: PersistedStore, dir: String): Option[Source] =
      store.attachedStore(dir).map(sd => Source(sd, store.snapshotOf(dir)))

    /** `dir`'s input routed through `store`: the store when attached,
      * else the corpus table `detached`. */
    def routed(store: PersistedStore, dir: String, detached: String): Source =
      stored(store, dir).getOrElse(Source(detached))
  }

  final case class Stats(hits: Long, misses: Long, listings: Long,
      buildSeconds: Double, entries: Int)

  private final case class Key(session: String, dir: String, variant: String)
  private final case class Entry[V](token: String, sc: SparkContext, value: V)

  private val families = new CopyOnWriteArrayList[SessionCache[_]]()

  /** A new, registered family. */
  def apply[V](family: String): SessionCache[V] = families.synchronized {
    require(!families.asScala.exists(_.family == family),
      s"session-cache family $family registered twice")
    val c = new SessionCache[V](family)
    families.add(c)
    c
  }

  /** Drop and release every cached entry for `dir` (all sessions) in
    * `only`, or in every family when none is named — the explicit form
    * for callers that rewrite a corpus in place and want the storage
    * back now, and each store's route-change hook. */
  def invalidate(dir: String, only: SessionCache[_]*): Unit =
    (if (only.isEmpty) families.asScala else only).foreach(_.invalidate(dir))

  /** Counters of every family, by family name. */
  def stats: Map[String, Stats] =
    families.asScala.map(c => c.family -> c.stats).toMap

  /** Evicts a context's entries when its application ends. */
  private final class StopHook(sc: SparkContext) extends SparkListener {
    override def onApplicationEnd(end: SparkListenerApplicationEnd): Unit = {
      hooks.remove(sc, this)
      families.asScala.foreach(_.evict(sc))
    }
  }

  private val hooks = new ConcurrentHashMap[SparkContext, SparkListener]()

  private def watch(sc: SparkContext): Unit =
    hooks.computeIfAbsent(sc, _ => {
      val h = new StopHook(sc)
      sc.addSparkListener(h)
      h
    })

  /** The stop hook registered on `sc`, if any entry was built there. */
  private[graft] def stopHook(sc: SparkContext): Option[SparkListener] =
    Option(hooks.get(sc))

  /** Stable session identity (identityHashCode can collide across GC'd
    * sessions). */
  private def sessionKey(s: SparkSession): String =
    org.apache.spark.sql.graftshim.ColumnShim.sessionUUID(s)
      .getOrElse("sys-" + System.identityHashCode(s))

  /** Content fingerprint of a parquet path (file or directory): every
    * data file's (path, length, mtime) folded into one hash. Any
    * rewrite — even same-size — bumps mtime, so a refreshed corpus
    * can't serve a stale intermediate. CAVEAT: mtime granularity is
    * filesystem-dependent (1 s on some) — an in-place same-size
    * rewrite landing within one tick fingerprints identically; callers
    * that rewrite in place should [[invalidate]] (or attach a store
    * with a token and rotate it). Resolved through the session's
    * Hadoop FileSystem, so hdfs://, s3a://, file:// and bare local
    * paths all fingerprint correctly (a java.nio walk would return a
    * constant for remote URIs — a stale-cache bug). */
  private def fingerprint(s: SparkSession, path: String): String = {
    import org.apache.hadoop.fs.{Path => HPath}
    try {
      val root = new HPath(path)
      val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (!fs.exists(root)) return "missing"
      val entries = scala.collection.mutable.ArrayBuffer.empty[String]
      val it = fs.listFiles(root, true) // recursive, files only
      while (it.hasNext) {
        val f = it.next()
        entries += s"${f.getPath.toUri.getPath}|${f.getLen}|${f.getModificationTime}"
      }
      java.lang.Long.toHexString(Hashing.xxhash64(entries.sorted.mkString("\n")))
    } catch {
      // a listing failure must NOT silently pin a stale entry: a
      // unique token forces a rebuild instead
      case _: Exception => s"unreadable-${System.nanoTime()}"
    }
  }

  private def release(v: Any): Unit = v match {
    case ds: Dataset[_] => releaseCheckpoint(ds)
    case _              => () // driver-side value: nothing pinned
  }

  /** Release a frame's localCheckpoint storage (no-op for plans
    * without one, e.g. a store-served parquet read). Shared with the
    * fixpoint rounds and the streaming per-batch intermediates. */
  def releaseCheckpoint(ds: Dataset[_]): Unit =
    ds.queryExecution.analyzed.foreach {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        // after a stop the blocks died with their executors, and
        // unpersisting on a stopped SparkContext NPEs in the
        // block-manager RPC
        if (!l.rdd.sparkContext.isStopped)
          try l.rdd.unpersist(blocking = false)
          catch { case _: Exception => () }
      case _ => ()
    }
}
