package graft.engine

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import org.apache.spark.storage.StorageLevel

import graft.core._
import graft.icelite.IceLite

/** Spark-native BSP crawl engine (SURVEY.md §3.2).
  *
  * Replaces node-crawler's event-loop scheduling [PK:high, SURVEY.md
  * §3.1] with a deterministic bulk-synchronous round loop over IceLite
  * snapshots: each round reads frontier snapshot s_r, admits under
  * per-host politeness quotas, "fetches" + extracts spans, discovers
  * links, and atomically commits snapshot s_{r+1} (checkpoint/resume =
  * restart from the last committed snapshot, BASELINE.json:14).
  *
  * Scale design (the sandbox runs local[32]; the plan is sized for a
  * 10^10-URL frontier on a 1000-executor cluster):
  *  - the frontier is SPLIT BY LIFECYCLE: `frontier` holds only
  *    pending rows and is rewritten each round (O(|pending|), which
  *    shrinks as the crawl matures); `retired` holds done/dropped rows
  *    and is APPEND-ONLY (per-round delta = the round's attempts), so
  *    per-round frontier I/O is independent of the total URL-seen set;
  *  - every row carries `host_bucket` = pmod(xxhash64(host),
  *    numBuckets), the key of the per-bucket seen sketches and of the
  *    dedup cogroup (politeness co-locates through the dequeue window's
  *    own shuffle on the limiter key). The stored files are not
  *    bucket-partitioned: seed, enqueue, compaction and forget writes
  *    cluster by `host_bucket` (each bucket wholly in one file, one file
  *    per shuffle partition); the per-round pending rewrite is the union
  *    of kept, retried and newly discovered rows, coalesced to at most
  *    one file per core; a retired delta keeps the layout of the round's
  *    attempts;
  *  - per-host politeness quota is a pure function of the host name,
  *    computed by a native expression (HostQuotaExpr) on the candidate
  *    rows — no per-round host-dim distinct/broadcast job, nothing that
  *    grows with the number of distinct hosts;
  *  - the per-host priority dequeue is a two-phase top-K window:
  *    phase 1 ranks within (host, salt) — explicit salting so a
  *    mega-host's pending rows spread over `saltFanout` tasks — and
  *    phase 2 re-merges the ≤ salt×quota survivors per host
  *    (SURVEY.md §4: AQE cannot fix Window skew, salting must be
  *    explicit); this preserves exact per-host ordering because a
  *    global top-q row is a top-q row of its salt bucket;
  *  - the global per-round cap is orderBy(total order).limit(k) which
  *    Spark executes as TakeOrderedAndProject (per-partition top-k +
  *    driver merge — no global sort shuffle);
  *  - the seen set IS the frontier key set (pending ∪ retired), so
  *    dedup is one left_anti join on url_hash, prefiltered by
  *    per-bucket bloom sketches held in an IceLite side TABLE and
  *    applied EXECUTOR-SIDE (cogroup on host_bucket) — the driver
  *    never holds or broadcasts filter bits, so the design scales to
  *    the ~12 GB of bloom bits a 10^10-URL frontier needs. Deltas are
  *    appended per round (merge-on-read by bitwise OR inside the
  *    cogroup) and compacted every `bloomCompactEvery` rounds;
  *  - all ordering keys form a total order (priority, discovered_seq,
  *    url_hash) with parallelism-invariant discovered_seq, so results
  *    are invariant to the number of partitions/cores (property-tested);
  *  - ROUND ATOMICITY across the five tables: side tables (attempts,
  *    retired, lineage, bloom) commit first, then the frontier commit —
  *    the LAST write — pins their snapshot ids in its props. Readers
  *    and resume go through the pins, so a crash between commits leaves
  *    orphan side-table snapshots that are simply never referenced;
  *    re-running the round appends relative to the pinned parents
  *    (IceLite commit parentId) and cannot duplicate rows.
  */
final class CrawlEngine(
    val spark: SparkSession,
    val web: SyntheticWeb,
    val cfg: CrawlConfig,
    rootDir: String,
    saltFanout: Int = 8) extends Serializable {

  import spark.implicits._

  val ice = new IceLite(rootDir)

  private val FRONTIER = "frontier" // pending rows only (replace per round)
  private val RETIRED = "retired"   // done/dropped rows (append-only)
  private val ATTEMPTS = "attempts"
  private val LINEAGE = "lineage"
  private val BLOOM = "bloom"       // (host_bucket, n, bits) deltas

  // construction is a quiescent point (no tail can be in flight for a
  // table this engine hasn't touched yet), so reclaim crash leftovers —
  // data dirs written but never committed. The pipelined round loop can
  // only expire with sweepOrphans=false (uncommitted next-round writes
  // are legitimately in flight there), so without this sweep a crashed
  // run's orphan dirs would leak forever (Iceberg's remove_orphan_files
  // split, run at the safe moment).
  Seq(FRONTIER, RETIRED, ATTEMPTS, LINEAGE, BLOOM).foreach(ice.removeOrphans)

  // ---- pinned reads (the frontier commit is the atomic round root) ---

  private def pin(table: String): Option[Long] =
    ice.props(FRONTIER).get(s"${table}_snap").map(_.toLong).filter(_ >= 0)

  private def readPinned(table: String): Option[DataFrame] =
    pin(table).flatMap(id => ice.read(spark, table, Some(id)))

  // ---- initialization ------------------------------------------------

  /** Seed the frontier (round 0). Seeds get priority 5 and
    * discovered_seq = position in the seed list (FIXTURES.md A3). */
  def init(seeds: Seq[String]): Unit =
    initRequests(seeds.map(SeedRequest(_)))

  /** Seed with per-request options (node-crawler `queue()` [PK:high]):
    * priority 0..9, an opaque userData payload surfaced on the attempt
    * row, an optional `limiter` politeness group (requests sharing a
    * key share ONE rate bucket across hosts; null = per-host), and
    * method/headers passed through to the fetch seam. */
  def initRequests(reqs: Seq[SeedRequest]): Unit = {
    val w = web; val c = cfg
    val entries = reqs.zipWithIndex.flatMap { case (req, i) =>
      CrawlEngine.toEntry(w, req.url, req.priority, i.toLong, due = 0L, c)
        .map(_.copy(user_data = req.userData, limiter = req.limiter,
          method = req.method, headers = req.headers))
    }.groupBy(_.url_hash).map { case (_, g) => g.minBy(_.discovered_seq) }.toSeq
    // ship the seed list in slices (one giant createDataset closure hits
    // the RPC task-size ceiling at ~1M+ seeds)
    val slices = math.max(spark.sparkContext.defaultParallelism,
      entries.size / 100000 + 1)
    val df = spark.createDataset(
      spark.sparkContext.parallelize(entries, slices)).toDF()
      .repartition($"host_bucket")
    val pendFile = ice.writeData(df, FRONTIER, "seed")
    val seedRows = ice.readFiles(spark, pendFile)
    val bloomFile = ice.writeData(
      bloomDelta(seedRows.select($"host_bucket", $"url_hash")), BLOOM, "seed")
    val bloomSnap = ice.commit(BLOOM, Seq(bloomFile), append = false)
    ice.commit(FRONTIER, Seq(pendFile), append = false,
      props = Map("round" -> "0", "bloom_snap" -> bloomSnap.toString,
        "seen_filter" -> cfg.seenFilter,
        "num_buckets" -> cfg.numBuckets.toString,
        "attempts_snap" -> "-1", "retired_snap" -> "-1", "lineage_snap" -> "-1"))
  }

  /** Resume guard: a store's seen-sketch blobs are typed at init —
    * merging/probing them with the OTHER sketch would be garbage (and
    * a bloom blob probed as cuckoo could yield a false negative, the
    * one forbidden outcome). Fail fast on mismatch; a store from
    * before the seen_filter prop existed is bloom. */
  def validateSeenFilter(): Unit = {
    // an UNINITIALIZED store has no typed blobs yet — any configured
    // sketch is fine, and the absent seen_filter prop must not read as
    // an implicit "bloom" (a cuckoo-configured engine calling run()
    // before any seed/queue would fail with a misleading mismatch
    // instead of the graceful empty-run)
    if (ice.currentSnapshotId(FRONTIER).isEmpty) return
    val stored = ice.props(FRONTIER).getOrElse("seen_filter", "bloom")
    require(stored == cfg.seenFilter,
      s"frontier store was initialized with seenFilter=$stored but config says ${cfg.seenFilter}")
    // numBuckets is equally load-bearing on resume: the host→bucket
    // mapping keys the politeness state, the per-bucket sketch blobs,
    // AND the (host_bucket, url_hash) scoping of forgetUrls — probing
    // blobs under a remapped bucket would report definitely-new for
    // already-seen URLs (the forbidden false negative). Stores from
    // before the prop existed skip the check (their operator owns it).
    ice.props(FRONTIER).get("num_buckets").foreach { nb =>
      require(nb.toInt == cfg.numBuckets,
        s"frontier store was initialized with numBuckets=$nb but config " +
          s"says ${cfg.numBuckets} — changing it remaps every host's " +
          "bucket (sketch blobs, politeness state, retired scoping); " +
          "resume with the original value or start a fresh store")
    }
  }

  /** node-crawler's incremental `queue()` between drains [PK:high]:
    * enqueue more requests into an EXISTING crawl state. New URLs are
    * canonicalized + robots-gated like seeds, deduped within the batch
    * and against the full URL-seen set (pending ∪ retired keys),
    * assigned `discovered_seq` strictly after every existing row (the
    * order of already-scheduled work is untouched, so the operation is
    * deterministic), due the current round, and committed atomically:
    * the pending delta and its bloom delta are appended, with the
    * frontier commit — the atomic round root — re-pinning the bloom
    * snapshot. Call between runs (or via `midRunQueue` between
    * rounds), never concurrently with an in-flight round. Returns the
    * number of genuinely NEW rows enqueued (0 = everything was a
    * duplicate or inadmissible) — informational for callers; the run
    * loop's drain probe reads the committed pending set directly. */
  def enqueueRequests(reqs: Seq[SeedRequest]): Long = {
    if (ice.currentManifest(FRONTIER).isEmpty) {
      initRequests(reqs)
      return pendingRaw().count()
    }
    // this append writes sketch delta blobs — same mismatch guard as
    // run()/forgetUrls (a wrong-typed blob in the sidecar is garbage)
    validateSeenFilter()
    awaitTail()
    val w = web; val c = cfg
    val due = nextRound
    // coalesce: a manifest can exist with ZERO rows (every initial seed
    // failed canonicalization / was robots-blocked) — max() is null then
    val seqOff = frontier()
      .agg(coalesce(max($"discovered_seq"), lit(-1L))).head().getLong(0) + 1L
    val entries = reqs.zipWithIndex.flatMap { case (req, i) =>
      CrawlEngine.toEntry(w, req.url, req.priority, seqOff + i, due, c)
        .map(_.copy(user_data = req.userData, limiter = req.limiter,
          method = req.method, headers = req.headers))
    }.groupBy(_.url_hash).map { case (_, g) => g.minBy(_.discovered_seq) }.toSeq
    if (entries.isEmpty) return 0L
    val cols = spark.emptyDataset[FrontierEntry].toDF().columns
    val slices = math.max(spark.sparkContext.defaultParallelism,
      entries.size / 100000 + 1)
    val fresh = spark.createDataset(
        spark.sparkContext.parallelize(entries, slices)).toDF()
      .join(frontier().select($"url_hash"), Seq("url_hash"), "left_anti")
      .select(cols.map(col).toSeq: _*)
      .repartition($"host_bucket")
    val pendFile = ice.writeData(fresh, FRONTIER, "enqueue")
    val newRows = ice.readFiles(spark, pendFile)
    val nFresh = newRows.count()
    if (nFresh == 0L) return 0L // every request was already seen
    val bloomFile = ice.writeData(
      bloomDelta(newRows.select($"host_bucket", $"url_hash")), BLOOM, "enqueue")
    val bloomSnap = ice.commit(BLOOM, Seq(bloomFile), append = true)
    ice.commit(FRONTIER, Seq(pendFile), append = true,
      props = ice.props(FRONTIER) + ("bloom_snap" -> bloomSnap.toString))
    carriedPending = None // the cached pending view misses the delta
    nFresh
  }

  /** Maintenance: squash the retired table's per-round append deltas
    * into one file set clustered by host_bucket — the Iceberg
    * `rewrite_data_files` analog. Retired accumulates one delta per
    * round; a 10⁵-round crawl would otherwise open 10⁵ small files on
    * every seen-set read. Quiescent operation (between runs): rewrites
    * the PINNED retired snapshot, commits the rewrite as a
    * replacement, then re-pins the frontier root at it — so a crash
    * between the two commits just leaves an unreferenced rewrite
    * snapshot (swept by GC), and the row set is unchanged either way. */
  def compactRetired(): Unit = {
    awaitTail()
    readPinned(RETIRED).foreach { df =>
      val file = ice.writeData(
        df.repartition($"host_bucket"), RETIRED, "compact")
      val snap = ice.commit(RETIRED, Seq(file), append = false)
      ice.commit(FRONTIER, Nil, append = true,
        props = ice.props(FRONTIER) + ("retired_snap" -> snap.toString))
      carriedPending = None
    }
  }

  /** Forget completed URLs so a later discovery recrawls them — the
    * maintenance flow the deletion-capable cuckoo sketch exists for.
    * Drops the URLs' rows from the retired table (the exact seen-set
    * TRUTH — this alone makes them recrawlable, because the anti-join
    * no longer sees them) and, under `seenFilter="cuckoo"`, also
    * deletes their fingerprints from the per-bucket seen blobs so the
    * prefilter stays tight. Under bloom the blobs cannot delete: the
    * forgotten URLs stay sketch-positive and merely pay the exact
    * anti-join pass on rediscovery (correct, marginally slower —
    * exactly the bloom-vs-cuckoo trade the config switch encodes).
    * Pending/in-flight URLs are not touched. Returns the number of
    * retired rows dropped. Runs between rounds (same contract as
    * [[compactRetired]]). */
  def forgetUrls(urls: Seq[String]): Long = {
    validateSeenFilter()
    awaitTail()
    // (bucket -> hashes) so a hash is only ever removed from the blob
    // it was inserted into — probing a FOREIGN bucket's blob could
    // strip a colliding live key's fingerprint (a false negative, the
    // forbidden outcome); same-bucket removal is safe by the cuckoo
    // deletion contract (counts conserve per (bucket, fp)).
    val requested: Map[Int, Seq[Long]] = urls
      .flatMap(UrlCanonicalizer.canonicalize)
      .map { canon =>
        val host = UrlCanonicalizer.hostOf(canon)
        Hashing.hostBucket(host, cfg.numBuckets) -> Hashing.xxhash64(canon)
      }
      .groupBy(_._1).map { case (b, xs) => b -> xs.map(_._2).distinct }
    if (requested.isEmpty) return 0L
    // the retired-row drop is constrained to the requested
    // (host_bucket, url_hash) PAIRS — matching the per-bucket scope of
    // sketch deletion, so an xxhash64 collision between two distinct
    // URLs in DIFFERENT buckets cannot silently forget (make
    // recrawlable) the unrelated one. A same-bucket full-64-bit
    // collision remains theoretically possible and conservative-safe:
    // both rows drop and both fingerprints stay probe-able.
    val dropCond = requested.map { case (b, hs) =>
      $"host_bucket" === b && $"url_hash".isInCollection(hs)
    }.reduce(_ || _)
    // sketch deletion is restricted to pairs ACTUALLY dropped from
    // the retired table: a requested-but-pending URL is still live in
    // the sketch (inserted at admission, not yet retired), and a
    // never-inserted URL's removal could strip a colliding live key's
    // fingerprint — both would be the forbidden false negative.
    var droppedPairs = Set.empty[(Int, Long)]
    val dropped = readPinned(RETIRED).map { df =>
      droppedPairs = df.filter(dropCond)
        .select($"host_bucket", $"url_hash").distinct()
        .as[(Int, Long)].collect().toSet
      if (droppedPairs.isEmpty) 0L
      else {
        val keep = df.filter(!dropCond)
        val file = ice.writeData(
          keep.repartition($"host_bucket"), RETIRED, "forget")
        val snap = ice.commit(RETIRED, Seq(file), append = false)
        ice.commit(FRONTIER, Nil, append = true,
          props = ice.props(FRONTIER) + ("retired_snap" -> snap.toString))
        carriedPending = None
        droppedPairs.size.toLong
      }
    }.getOrElse(0L)
    val byBucket = requested
      .map { case (b, hs) => b -> hs.filter(h => droppedPairs((b, h))) }
      .filter(_._2.nonEmpty)
    if (cfg.seenFilter == "cuckoo" && dropped > 0) {
      val sk = sketch
      val bb = byBucket
      pin(BLOOM).filter(_ >= 0).foreach { atSnap =>
        ice.read(spark, BLOOM, Some(atSnap)).foreach { df =>
          val rewritten = df.select($"host_bucket", $"n", $"bits")
            .as[(Int, Long, Array[Byte])]
            .groupByKey(_._1)
            .mapGroups { (bucket, it) =>
              val rows = it.toSeq
              val merged = rows.map(_._3).reduce(sk.merge)
              // n tracks LIVE keys: subtract the fingerprints actually
              // removed, so future sizing/compaction heuristics that
              // trust the sidecar count don't overstate occupancy
              val removed = bb.getOrElse(bucket, Nil)
                .count(Cuckoo.remove(merged, _))
              (bucket, rows.map(_._2).sum - removed, merged)
            }
            .toDF("host_bucket", "n", "bits")
          val f = ice.writeData(rewritten, BLOOM, "forget")
          val snap = ice.commit(BLOOM, Seq(f), append = false)
          ice.commit(FRONTIER, Nil, append = true,
            props = ice.props(FRONTIER) + ("bloom_snap" -> snap.toString))
        }
      }
    }
    dropped
  }

  def nextRound: Long = ice.props(FRONTIER).getOrElse("round", "0").toLong

  // ---- the round loop ------------------------------------------------

  final case class RoundStats(round: Long, candidates: Long, admitted: Long,
      fetchedOk: Long, failed: Long, discovered: Long, enqueued: Long)

  /** Run until drain or `maxRounds` total rounds. Returns per-round
    * stats. Resumable: picks up from the last committed snapshot.
    *
    * PIPELINED: round r's commit tail (bloom delta, lineage, snapshot
    * commits, GC) runs concurrently with round r+1's admission window
    * and fetch stage — the driver-floor work hides behind the next
    * round's heavy stage. BSP cleanliness is preserved because (a) the
    * next round reads its pending set from the very file the in-flight
    * tail will commit, (b) the tail is awaited before the dedup cogroup
    * touches the pinned bloom/retired tables, and (c) tails execute
    * strictly one at a time, so commits still land in round order and a
    * crash resumes from the last fully-committed round exactly as in
    * the sequential loop. */
  /** Whether the most recent `run()` on this engine ended because the
    * frontier drained (vs stopping at `maxRounds`). Set from the run
    * loop's own drain probe — no extra job to re-derive it. */
  @volatile private var lastDrainedFlag = false
  def lastRunDrained: Boolean = lastDrainedFlag

  def run(): Seq[RoundStats] = {
    validateSeenFilter()
    val stats = scala.collection.mutable.ArrayBuffer.empty[RoundStats]
    var r = nextRound
    var draining = false
    while (r < cfg.maxRounds && !draining) {
      val s = roundCore(r)
      stats += s
      r += 1
      // drain probe FIRST when the round was empty: the simulator only
      // runs (and only invokes the injector after) rounds where pending
      // work existed, so a fully-drained frontier must exit WITHOUT
      // consulting midRunQueue — the engine's trailing empty round is a
      // probe, not a round the reference semantics ever execute
      if (s.admitted == 0) {
        // no attempts → no links → nothing enqueued this round; the
        // drain probe needs the committed pending set, so sync first
        awaitTail()
        draining = pendingRaw().limit(1).count() == 0
      }
      if (!draining) {
        // queue-during-crawl (node-crawler callbacks enqueue while the
        // loop runs): the injector's requests land exactly like a
        // between-drains queue() — the tail must commit first so the
        // delta appends to round r+1's root
        val injected = cfg.midRunQueue.map(_(r - 1)).getOrElse(Nil)
        if (injected.nonEmpty) enqueueRequests(injected) // awaits the tail
      }
    }
    awaitTail()
    lastDrainedFlag = draining
    stats.toSeq.map(s => s.copy(enqueued = tailEnqueued.getOrElse(s.round, 0L)))
  }

  // ---- pipelining machinery -------------------------------------------

  /** What the deferred commit tail reports back. */
  private final case class TailDone(round: Long, enqueued: Long)

  /** The previous round's tail, still committing while this round's
    * window+fetch run. At most one tail is ever in flight. */
  @volatile private var tailInFlight: Option[scala.concurrent.Future[TailDone]] = None
  /** (round, pendingFiles) written by the previous roundCore — readable
    * before their commit lands, so the next round starts immediately. */
  private var carriedPending: Option[(Long, Seq[String])] = None
  private val tailEnqueued = scala.collection.mutable.Map[Long, Long]()

  private def awaitTail(): Unit = tailInFlight.foreach { f =>
    val d = scala.concurrent.Await.result(
      f, scala.concurrent.duration.Duration.Inf)
    tailEnqueued(d.round) = d.enqueued
    tailInFlight = None
  }

  /** The pending set as round `r` must see it: the carried
    * not-yet-committed file when pipelining, else the committed table. */
  private def pendingView(r: Long): DataFrame = carriedPending match {
    case Some((round, files)) if round == r => ice.readFiles(spark, files: _*)
    case _ => awaitTail(); pendingRaw()
  }

  /** Stored-form frontier rows: the `url` cell is NULL whenever it
    * equals `url_canon` (every discovered link and most seeds — the
    * raw URL is only distinct when canonicalization changed it).
    * Dropping the duplicate string from the stored/shuffled row cuts
    * ~25% of the frontier row bytes through the round's hottest
    * paths — the dequeue window's shuffle+sort and the per-round
    * pending rewrite — which is shared-memory-bus traffic, the
    * measured N→4N efficiency ceiling (BENCH/BASELINE.md §3).
    * Measured (lean local[8], 300k seeds × 2 rounds, same-phase
    * before/after, round 8): executor-cpu 83.9 → 63.8–69.2 s,
    * alloc 33.6 → 30.9–32.0 GB, tput 192k → 253–270k urls/s. The
    * engine's internal loop runs on this slim form; the public views
    * below restore `url` by coalesce, so observable behavior is
    * unchanged (old state dirs with `url` filled read identically). */
  private def pendingRaw(): DataFrame =
    ice.read(spark, FRONTIER).getOrElse(spark.emptyDataset[FrontierEntry].toDF())

  private def retiredRaw(): DataFrame =
    readPinned(RETIRED).getOrElse(spark.emptyDataset[FrontierEntry].toDF())

  private def withRawUrl(df: DataFrame): DataFrame =
    df.withColumn("url", coalesce($"url", $"url_canon"))

  /** The pending frontier (the scheduling working set). */
  def pending(): DataFrame = withRawUrl(pendingRaw())

  /** The retired (done/dropped) frontier rows — append-only history. */
  def retired(): DataFrame = withRawUrl(retiredRaw())

  /** The full frontier view (pending ∪ retired); its key set IS the
    * URL-seen set. */
  def frontier(): DataFrame = pending().unionByName(retired())

  /** The canonical interleaved documents table — a pruned projection
    * of the attempts fact table (parquet reads only doc_id + spans).
    * With packedSpans the stored binary cell is unpacked back to the
    * normative array<struct> schema here (byte-equal by codec). */
  def documents(): DataFrame =
    readPinned(ATTEMPTS)
      .map { df =>
        import org.apache.spark.sql.graftshim.ColumnShim
        import org.apache.spark.sql.types.BinaryType
        val spansCol =
          if (df.schema("spans").dataType == BinaryType)
            ColumnShim.column(graft.functions.UnpackSpansExpr(
              ColumnShim.expression($"spans"))).as("spans")
          else $"spans"
        df.filter($"has_doc").select($"url_canon".as("doc_id"), spansCol)
      }
      .getOrElse(spark.emptyDataset[Doc].toDF())

  /** Crawl order — a slim projection of the attempts fact table,
    * totally ordered by (round, priority, discovered_seq, url_hash). */
  /** Attempts reads, schema-evolution-safe across the HTTP-identity
    * upgrade: a pre-identity table — or a MIXED one, where this build
    * resumed an old state dir and appended new-schema deltas — always
    * reads with the identity columns present. The recorded-schema
    * read stays the hot path; only a read whose schema LACKS the
    * identity columns (an old dir sends the read to single-footer
    * inference, which sampled an old file) pays the mergeSchema re-read, and `cookie_sent` is null-coalesced because
    * old files surface merged columns as null (identity was "none"). */
  /** Merged-schema attempts reads memoized per pinned snapshot id — a
    * pinned snapshot is immutable, so a pure pre-identity table pays
    * the every-footer mergeSchema inference once per snapshot, not on
    * every crawlLog/attemptEvents call. Access-ordered LRU (round-5
    * verdict #3: the old size>64 → clear() re-inferred EVERY live
    * snapshot after an eviction; evicting only the least-recently-read
    * entry keeps a long-lived engine alternating across snapshots at
    * one inference per genuinely-cold snapshot). Reads are
    * driver-side and engine ops are single-threaded per instance
    * (facade contract), so a synchronized LinkedHashMap suffices. */
  private val mergedAttemptsCache =
    java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[Long, DataFrame](16, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[Long, DataFrame]): Boolean = size() > 64
      })

  private def readAttempts(): Option[DataFrame] =
    pin(ATTEMPTS).flatMap { id =>
      ice.read(spark, ATTEMPTS, Some(id)).map { df0 =>
        val df =
          if (df0.columns.contains("cookie_sent")) df0
          else {
            mergedAttemptsCache.computeIfAbsent(id, _ =>
              ice.read(spark, ATTEMPTS, Some(id), mergeSchema = true)
                .getOrElse(df0))
          }
        val cols = df.columns.toSet
        var out = df
        if (!cols("ua")) out = out.withColumn("ua", lit(null).cast("string"))
        if (!cols("proxy")) out = out.withColumn("proxy", lit(null).cast("string"))
        out =
          if (!cols("cookie_sent")) out.withColumn("cookie_sent", lit(false))
          else out.withColumn("cookie_sent", coalesce($"cookie_sent", lit(false)))
        out
      }
    }

  def crawlLog(): DataFrame =
    readAttempts()
      .map(_.select($"round", $"priority", $"discovered_seq", $"url_hash",
        $"url_canon", $"retry_count", $"user_data",
        $"limiter", $"method", $"headers",
        $"ua", $"proxy", $"cookie_sent")
        .orderBy($"round", $"priority", $"discovered_seq", $"url_hash"))
      .getOrElse(spark.emptyDataFrame)

  def lineage(): DataFrame =
    readPinned(LINEAGE).getOrElse(spark.emptyDataFrame)

  /** Per-attempt outcome rows in crawl order, from `fromRound` on — the
    * crawlLog projection plus the outcome flags (ok / has_doc). Feeds
    * the facade's `onAttempt` hook (node-crawler's per-task
    * `callback(error, res, done)` [PK:high]); a pruned read of the
    * attempts fact table — span/link columns are never touched. */
  def attemptEvents(fromRound: Long = 0L): DataFrame =
    readAttempts()
      .map(_.filter($"round" >= fromRound)
        .select($"round", $"priority", $"discovered_seq", $"url_hash",
          $"url_canon", $"retry_count", $"ok", $"has_doc",
          $"user_data", $"limiter", $"method", $"headers",
          $"ua", $"proxy", $"cookie_sent")
        .orderBy($"round", $"priority", $"discovered_seq", $"url_hash"))
      .getOrElse(spark.emptyDataFrame)

  /** One fully-synchronous round (public API compatibility): compute,
    * commit, and report. `run()` instead pipelines consecutive rounds
    * via `roundCore`. */
  def runRound(r: Long): RoundStats = {
    val s = roundCore(r)
    awaitTail()
    s.copy(enqueued = tailEnqueued.getOrElse(r, 0L))
  }

  /** Compute round r and hand its commit tail to a background future
    * (stats reported with enqueued = -1 until the tail lands). */
  private def roundCore(r: Long): RoundStats = {
    val w = web; val c = cfg
    import org.apache.spark.sql.graftshim.ColumnShim
    val pend = pendingView(r)
    val cands0 = pend.filter($"due_round" <= r)
    // preRequest gate (node-crawler parity): vetoed rows stay pending
    // and re-evaluate next round; the simulator applies the same pure
    // predicate at the same point
    val cands = c.preRequest match {
      case None => cands0
      case Some(f) =>
        val pred = udf((u: String, h: String, p: Int, rc: Int, ud: String) =>
          f(graft.core.PreRequest(u, h, p, rc, ud)))
        cands0.filter(pred(
          $"url_canon", $"host", $"priority", $"retry_count", $"user_data"))
    }

    // J3→F: politeness quota is a pure function of the LIMITER key —
    // the per-request politeness group, defaulting to the URL's host
    // (node-crawler: tasks sharing a `limiter` share one rate bucket
    // [PK:high]) — computed in place by a native expression. No
    // distinct(), no broadcast, no extra job, no bound on #hosts.
    // `lim` stays an INLINE expression: materializing it as a column
    // would carry a near-copy of `host` (limiter is null on all
    // link-discovered rows) through the dequeue window's shuffle+sort
    // rows; as an expression it is evaluated into the hash-partition
    // key and the quota column only (the same bus-traffic discipline
    // as the null-when-equal `url` cell).
    val limCol = coalesce($"limiter", $"host")
    val quotaCol = ColumnShim.column(graft.functions.HostQuotaExpr(
      ColumnShim.expression(limCol), w, c, r))
    val joined = cands.withColumn("quota", quotaCol)

    // W1: per-limiter priority dequeue, two-phase salted top-K. The
    // salting phase pays a full extra shuffle+sort, so it's worth it
    // only when a mega-host's pending set is far larger than
    // salt×quota (the 10^10-frontier case); saltFanout=1 selects the
    // single-window plan. Results are identical either way (phase 2
    // is definitive; a global top-q row is a top-q row of its salt).
    val ord = Seq($"priority", $"discovered_seq", $"url_hash")
    val w2 = Window.partitionBy(limCol).orderBy(ord: _*)
    val preFiltered =
      if (saltFanout <= 1) joined
      else {
        val w1 = Window.partitionBy(limCol, $"salt").orderBy(ord: _*)
        joined
          .withColumn("salt", pmod($"url_hash", lit(saltFanout)))
          .withColumn("rn1", row_number().over(w1))
          .filter($"rn1" <= $"quota")
          .drop("salt", "rn1")
      }
    val admitted = preFiltered
      .withColumn("rn", row_number().over(w2))
      .filter($"rn" <= $"quota")
      .drop("rn", "quota")

    // W2: global cap (maxConnections analog) — TakeOrderedAndProject.
    // (A leg-split that overlapped the keep-set rewrite with the fetch
    // stage was measured and REVERTED: materializing the admitted set
    // up front added a serial count stage, and the discoveries leg —
    // the bulk of the rewrite in a growing crawl — still trailed the
    // fetch, so the split cost more than it hid at both 2 and 8 cores.)
    val capped = c.maxPerRound match {
      case Some(k) => admitted.orderBy(ord: _*).limit(k)
      case None    => admitted
    }
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    implicit val ec = CrawlEngine.jobEc

    // S3+F6+F7: fetch + decode + extract — ONE pass over the admitted
    // set, staged straight into the `attempts` fact table (columnar
    // parquet). The documents table and the crawl log are *pruned
    // projections* of this table (parquet column pruning makes them
    // cheap), so the heavy nested span/link columns are shuffled
    // never and written exactly once. No row-object caching: columnar
    // scan beats a deserialized cache at every scale.
    // rebalance the slim admitted rows by url_hash before the heavy
    // fetch+encode stage: the window leaves host-hash partitioning,
    // whose skew (mega-host) would otherwise become a straggler task
    // in the most expensive stage of the round. The fetch itself is
    // the native FetchExtractExpr expression calling the FetchSource
    // seam (one source per task) — Catalyst internal rows end-to-end,
    // no case-class/encoder layer (SURVEY.md §2.8).
    val fetchCol = ColumnShim.column(graft.functions.FetchExtractExpr(
      ColumnShim.expression($"url_canon"),
      ColumnShim.expression($"retry_count"),
      ColumnShim.expression($"discovered_seq"), w, c,
      () => new SyntheticFetchSource(w, c), c.packedSpans,
      method = Some(ColumnShim.expression($"method")),
      headers = Some(ColumnShim.expression($"headers")),
      cookie = Some(ColumnShim.expression($"cookie_in"))))
    // HTTP identity (node-crawler userAgent/rotateUA/referer/proxy/jar
    // [PK:high]): ua/proxy/referer resolve ROW-LOCALLY inside
    // FetchExtractExpr (pure functions of cfg/headers/discovered_seq —
    // no extra job, no bound on cluster size). Only the cookie-jar bit
    // needs crawl state: hosts with an OK fetch in a strictly EARLIER
    // round, derived from the pinned retired table (Done rows retire
    // with due_round = their completion round), so the jar is
    // crash/resume-consistent with no extra table or commit. The
    // distinct done-host set is broadcast (bounded by hosts crawled so
    // far — fine at sandbox scale); at 10^10-frontier scale this
    // becomes a bucketed co-located join on host_bucket, the same
    // shape as the seen-set join. cookieJar=false keeps the column a
    // literal and the round pipeline untouched.
    val preFetch0 = capped
      .select($"url", $"url_canon", $"url_hash", $"host", $"host_bucket",
        $"priority", $"discovered_seq", $"retry_count", $"user_data",
        $"limiter", $"method", $"headers")
    val preFetch =
      if (!c.cookieJar) preFetch0.withColumn("cookie_in", lit(false))
      else {
        awaitTail() // the jar must see round r-1's retirees
        val jar = retiredRaw()
          .filter($"state" === FrontierEntry.Done && $"due_round" < r)
          .select($"host").distinct()
          .withColumn("has_cookie", lit(true))
        preFetch0.join(broadcast(jar), Seq("host"), "left")
          .withColumn("cookie_in", coalesce($"has_cookie", lit(false)))
          .drop("has_cookie")
      }
    val attemptsOut = preFetch
      .repartition($"url_hash")
      .withColumn("f", fetchCol)
      .select($"url", $"url_canon", $"url_hash", $"host", $"host_bucket",
        $"priority", $"discovered_seq", $"retry_count", $"user_data",
        $"limiter", $"method", $"headers",
        $"f.ok".as("ok"), $"f.has_doc".as("has_doc"),
        $"f.ua".as("ua"), $"f.proxy".as("proxy"),
        $"f.cookie_sent".as("cookie_sent"),
        $"f.spans".as("spans"), $"f.links".as("links"))
      .withColumn("round", lit(r))
    // round stats ride the write itself (Dataset.observe / CollectMetrics)
    // — no follow-up count job, no separate stats aggregate job
    val obs = org.apache.spark.sql.Observation(
      s"attempts-r$r-${CrawlEngine.obsId.incrementAndGet()}")
    val observed = attemptsOut.observe(obs,
      count(lit(1)).as("n"),
      sum(when($"ok", 1L).otherwise(0L)).as("n_ok"),
      sum(size($"links")).as("n_links"))
    val attemptsFile = ice.writeData(observed, ATTEMPTS, s"r$r")
    val metrics = obs.get
    def metric(k: String): Long = metrics.get(k) match {
      case Some(v: Long) => v
      case Some(v: Number) => v.longValue()
      case _ => 0L
    }
    val nAdmitted = metric("n")
    val nOk = metric("n_ok")
    val nDiscovered = metric("n_links")
    val nFailed = nAdmitted - nOk
    val attempts = ice.readFiles(spark, attemptsFile)
    val newRetry = when($"ok", $"retry_count").otherwise($"retry_count" + 1)
    val nCandidates = -1L // derivable but not worth a frontier scan

    // frontier update: attempted rows leave the pending set; retries
    // come back with a bumped due_round; done/dropped append to the
    // retired table. Per-round write = O(|pending| + |attempted|),
    // NOT O(|seen set|).
    val updates = attempts.select(
      $"url", $"url_canon", $"url_hash", $"host", $"host_bucket",
      $"priority", $"discovered_seq",
      newRetry.cast("int").as("retry_count"),
      when($"ok", lit(r))
        .when(newRetry > c.maxRetries, lit(r))
        .otherwise(lit(r + 1) + newRetry).cast("long").as("due_round"),
      when($"ok", FrontierEntry.Done)
        .when(newRetry > c.maxRetries, FrontierEntry.Dropped)
        .otherwise(FrontierEntry.Pending).as("state"),
      $"user_data", $"limiter", $"method", $"headers")

    // jobs that read only this round's attempts file are independent of
    // the previous round's commits — start them BEFORE awaiting the
    // in-flight tail so they overlap it (and the frontier rewrite below)
    val futLinLeft = Future {
      attempts.groupBy($"host_bucket").agg(
        count(lit(1)).as("admitted"),
        sum(when($"ok", 1L).otherwise(0L)).as("fetched_ok"),
        sum(when(!$"ok", 1L).otherwise(0L)).as("failed"))
        .collect()
    }
    val futRetired = Future {
      if (nAdmitted > 0) {
        // row count rides the write (Observation) — no follow-up
        // metadata-count job in the tail
        val obsR = org.apache.spark.sql.Observation(
          s"retired-r$r-${CrawlEngine.obsId.incrementAndGet()}")
        val f = ice.writeData(
          updates.filter($"state" =!= FrontierEntry.Pending)
            .observe(obsR, count(lit(1)).as("n")),
          RETIRED, s"r$r")
        val n = obsR.get.get("n") match {
          case Some(v: Number) => v.longValue()
          case _ => 0L
        }
        if (n > 0) Some(f) else None
      } else None
    }

    // the previous round's commit tail must land before the dedup
    // cogroup reads the pinned bloom/retired tables
    awaitTail()

    // link discovery: flatten (links column only), then ONE shuffle on
    // host_bucket does both the within-round min-seq dedup and the
    // bloom prefilter — same-URL candidates share their host, hence
    // their host_bucket, so they co-locate in the cogroup (J1/J2/A2).
    val flat = attempts.select(explode($"links").as("l")).select("l.*")
    val tagged = bloomTag(flat)
      .persist(StorageLevel.MEMORY_AND_DISK)
    val definitelyNew = tagged.filter(!$"maybe_seen")
    // the exact check only runs for the bloom-positive minority; the
    // seen-key columns come from a url_hash-only parquet read of
    // pending ∪ retired
    val seenKeys = pend.select($"url_hash")
      .unionByName(retiredRaw().select($"url_hash"))
    val survivors = tagged.filter($"maybe_seen")
      .join(seenKeys, Seq("url_hash"), "left_anti")
    val newEntries = definitelyNew.unionByName(survivors)
      .select(lit(null).cast("string").as("url"), $"url_canon", $"url_hash", $"host",
        $"host_bucket", $"priority", $"discovered_seq",
        lit(0).as("retry_count"), lit(r + 1).as("due_round"),
        lit(FrontierEntry.Pending).as("state"),
        lit(null).cast("string").as("user_data"),
        lit(null).cast("string").as("limiter"),
        lit(null).cast("string").as("method"),
        lit(null).cast("string").as("headers"))

    // the attempted-key set is quota-bounded (small next to the pending
    // set at steady state) — broadcasting it turns the retire anti-join
    // into a map-side hash probe, so the pending rewrite is a single
    // shuffle-free pass: probe + union + write. Large admitted sets
    // shuffle-join instead — the driver-side broadcast build is serial
    // and linear in |admitted|, so past the threshold the parallel
    // shuffle wins on wall clock. (At 10^10-frontier scale the endgame
    // is a bucketed co-partitioned storage join; both forms here keep
    // the exact same semantics.)
    val attemptKeys =
      if (nAdmitted <= 500000L) broadcast(attempts.select($"url_hash"))
      else attempts.select($"url_hash")
    val cols = updates.columns.map(col)
    val newPending = pend.select(cols: _*)
      .join(attemptKeys, Seq("url_hash"), "left_anti")
      .select(cols: _*)
      .unionByName(updates.filter($"state" === FrontierEntry.Pending))
      .unionByName(newEntries.select(cols: _*))
    // a narrow coalesce to one file per core: the union would otherwise
    // write one file per input partition of each leg, and every file
    // is a write task now and a read partition next round
    val pendingFile = ice.writeData(
      newPending.coalesce(spark.sparkContext.defaultParallelism), FRONTIER, s"r$r")
    tagged.unpersist()
    val pendingFiles = Seq(pendingFile)
    carriedPending = Some((r + 1, pendingFiles))

    // everything left — bloom delta, lineage, the atomic commit chain,
    // snapshot GC — is the round's COMMIT TAIL: it only reads files
    // already written this round, so it runs in the background while
    // the next round's window+fetch occupy the cluster. run() awaits it
    // before the next round's dedup cogroup.
    tailInFlight = Some(Future {
      commitTail(r, attemptsFile, pendingFiles, pendingFile, nAdmitted,
        futLinLeft, futRetired)
    })
    RoundStats(r, nCandidates, nAdmitted, nOk, nFailed, nDiscovered, -1L)
  }

  /** Round r's commit tail (runs on jobEc, strictly one at a time). */
  private def commitTail(r: Long, attemptsFile: String,
      pendingFiles: Seq[String], newRowsFile: String, nAdmitted: Long,
      futLinLeft: scala.concurrent.Future[Array[org.apache.spark.sql.Row]],
      futRetired: scala.concurrent.Future[Option[String]]): TailDone = {
    val c = cfg
    import scala.concurrent.Await
    import scala.concurrent.duration.Duration
    val retiredFile = Await.result(futRetired, Duration.Inf)

    // newly enqueued rows, read back from the written pending file
    // (unique signature: due r+1, no retries) as a slim 2-column scan,
    // re-keyed by host_bucket (a shuffle of ONLY the new rows — the
    // pending write itself stays shuffle-free), then folded into
    // per-bucket bloom deltas.
    val written = ice.readFiles(spark, newRowsFile)
    // partition count = session parallelism, NOT numBuckets: the
    // per-partition fold handles many buckets per task, and hashing on
    // host_bucket still puts each bucket wholly inside one partition
    val newRows = written.filter($"due_round" === (r + 1) && $"retry_count" === 0)
      .select($"host_bucket", $"url_hash")
      .repartition($"host_bucket")
    val deltaDf = bloomDelta(newRows)
    val bloomFile = ice.writeData(deltaDf, BLOOM, s"r$r")
    val enqRows =
      ice.readFiles(spark, bloomFile).select($"host_bucket", $"n").collect()
    val enqByBucket = enqRows.groupBy(_.getInt(0))
      .map { case (b, rs) => b -> rs.map(_.getLong(1)).sum }
    val nEnqueued = enqByBucket.valuesIterator.sum

    // per-partition lineage + metrics (BASELINE.json:14): both sides
    // are bucket-count-sized — assemble driver-side, one tiny write
    val lineageFile =
      if (nAdmitted + nEnqueued > 0) {
        val left = Await.result(futLinLeft, Duration.Inf)
          .map(row => row.getInt(0) ->
            (row.getLong(1), row.getLong(2), row.getLong(3))).toMap
        val rows = (left.keySet ++ enqByBucket.keySet).toSeq.sorted.map { b =>
          val (adm, ok, fl) = left.getOrElse(b, (0L, 0L, 0L))
          (r, b, adm, ok, fl, enqByBucket.getOrElse(b, 0L))
        }
        val lineageDf = spark.createDataset(rows)
          .toDF("round", "host_bucket", "admitted", "fetched_ok", "failed",
            "enqueued")
          .coalesce(1)
        Some(ice.writeData(lineageDf, LINEAGE, s"r$r"))
      } else None

    // ---- commits: side tables first (parented at the pins), then the
    // frontier commit — the single atomic round boundary — pins them.
    val attemptsSnap =
      if (nAdmitted > 0)
        ice.commit(ATTEMPTS, Seq(attemptsFile), append = true,
          Map("round" -> (r + 1).toString), parentId = Some(pin(ATTEMPTS).getOrElse(-1L)))
      else pin(ATTEMPTS).getOrElse(-1L)
    val retiredSnap = retiredFile match {
      case Some(f) => ice.commit(RETIRED, Seq(f), append = true,
        Map("round" -> (r + 1).toString), parentId = Some(pin(RETIRED).getOrElse(-1L)))
      case None => pin(RETIRED).getOrElse(-1L)
    }
    val lineageSnap = lineageFile match {
      case Some(f) => ice.commit(LINEAGE, Seq(f), append = true,
        Map("round" -> (r + 1).toString), parentId = Some(pin(LINEAGE).getOrElse(-1L)))
      case None => pin(LINEAGE).getOrElse(-1L)
    }
    var bloomSnap =
      if (nEnqueued > 0)
        ice.commit(BLOOM, Seq(bloomFile), append = true,
          Map("round" -> (r + 1).toString), parentId = Some(pin(BLOOM).getOrElse(-1L)))
      else pin(BLOOM).getOrElse(-1L)
    // compaction: squash the accumulated deltas into one blob per
    // bucket so the merge-on-read OR stays O(1) per bucket
    if (bloomSnap >= 0 && (r + 1) % c.bloomCompactEvery == 0)
      bloomSnap = compactBloom(bloomSnap)

    ice.commit(FRONTIER, pendingFiles, append = false,
      Map("round" -> (r + 1).toString,
        "seen_filter" -> cfg.seenFilter,
        "num_buckets" -> cfg.numBuckets.toString,
        "admitted" -> nAdmitted.toString, "enqueued" -> nEnqueued.toString,
        "attempts_snap" -> attemptsSnap.toString,
        "retired_snap" -> retiredSnap.toString,
        "lineage_snap" -> lineageSnap.toString,
        "bloom_snap" -> bloomSnap.toString))
    // snapshot GC: data dirs referenced only by expired frontier/bloom
    // snapshots are physically deleted; append-table history stays valid
    // because the latest manifest references all live files.
    // sweepOrphans=false — the next round's UNCOMMITTED attempt/pending
    // writes are already in flight while this tail runs (pipelining), so
    // never-committed dirs must not be swept here; crash leftovers are
    // reclaimed by IceLite.removeOrphans at quiescence (Iceberg's
    // expire_snapshots / remove_orphan_files split).
    c.retainSnapshots.foreach { k =>
      Seq(FRONTIER, BLOOM, ATTEMPTS, RETIRED, LINEAGE)
        .foreach(t => ice.expireSnapshots(t, k, sweepOrphans = false))
    }

    TailDone(r, nEnqueued)
  }

  // ---- bloom/cuckoo sidecar (all executor-side) -----------------------

  // expected URLs per bucket: (nHosts-1) ordinary hosts + one mega-host
  private def expectedPerBucket: Long = {
    val totalPages = (web.nHosts - 1).toLong * web.pagesPerHost +
      web.pagesPerHost.toLong * web.megaFactor
    math.max(1L, totalPages / math.max(1, cfg.numBuckets))
  }

  /** The configured seen-sketch (SeenSketch scaladoc): per-bucket blob
    * construction, probe, and merge all go through this instance, so
    * the bloom/cuckoo choice is invisible to the dedup plan. */
  private val sketch: SeenSketch =
    if (cfg.seenFilter == "cuckoo") {
      // size for the WORST bucket, not the cross-bucket average:
      // hostBucket concentrates the whole mega-host into one bucket,
      // and an overflowed cuckoo table degrades PERMANENTLY (sticky
      // flag; the dropped fingerprints cannot be recovered from the
      // blob) — unlike bloom, where undersizing only raises the fp
      // rate. ~4 B/key of slack is the price of never degrading.
      val megaPages = web.pagesPerHost.toLong * web.megaFactor
      CuckooSketch(expectedPerBucket + megaPages)
    } else BloomSketch(Bloom.sizeFor(expectedPerBucket))

  /** Per-bucket bloom delta + enqueued count, built with a
    * per-partition fold over host_bucket-partitioned input (each
    * bucket's rows live in one partition; if a caller ever passes
    * split partitions, duplicate partial rows per bucket are fine —
    * the prefilter ORs all delta rows of a bucket anyway). Map-side
    * bloom partials (BloomAggregator) are deliberately NOT used here:
    * a 128 KB+ blob per (task, bucket) dwarfs the raw (bucket, hash)
    * pairs at any realistic density. */
  private def bloomDelta(bucketHash: DataFrame): DataFrame = {
    val sk = sketch
    bucketHash.as[(Int, Long)]
      .mapPartitions { it =>
        val acc = new scala.collection.mutable.HashMap[Int, (Array[Byte], Long)]
        it.foreach { case (b, h) =>
          val (arr, n) = acc.getOrElseUpdate(b, (sk.empty(), 0L))
          sk.add(arr, h)
          acc(b) = (arr, n + 1)
        }
        acc.iterator.map { case (b, (arr, n)) => (b, n, arr) }
      }
      .toDF("host_bucket", "n", "bits")
  }

  /** Within-round dedup + bloom tag in ONE shuffle, executor-side:
    * raw link candidates cogroup on host_bucket with the pinned bloom
    * table. Same-URL duplicates necessarily share their host_bucket,
    * so the first-discovery-wins rule (min (discovered_seq, priority)
    * per url_hash — duplicates of a URL agree on every other field) is
    * resolved inside the task; then each task ORs its buckets' delta
    * blobs (merge-on-read) and probes. A bucket with no blobs yet tags
    * everything definitely-new (correct: bloom has no false negatives
    * and the exact anti-join remains the truth for positives). No
    * driver collect, no broadcast, no per-round serialization of
    * filter bits. */
  private def bloomTag(rawCands: DataFrame): DataFrame = {
    import CrawlEngine.{Cand, TaggedCand}
    val sk = sketch
    val candDs = rawCands
      .select($"url_hash", $"url_canon", $"host", $"host_bucket",
        $"priority", $"discovered_seq")
      .as[Cand]
    val bloomDs = readPinned(BLOOM)
      .map(_.select($"host_bucket", $"bits").as[(Int, Array[Byte])])
      .getOrElse(spark.emptyDataset[(Int, Array[Byte])])
    candDs.groupByKey(_.host_bucket)
      .cogroup(bloomDs.groupByKey(_._1)) { (_, cit, bit) =>
        val best = new scala.collection.mutable.HashMap[Long, Cand]
        cit.foreach { c =>
          best.get(c.url_hash) match {
            case Some(b) if b.discovered_seq < c.discovered_seq ||
              (b.discovered_seq == c.discovered_seq &&
                b.priority <= c.priority) => ()
            case _ => best(c.url_hash) = c
          }
        }
        val merged = bit.map(_._2).reduceOption(sk.merge)
        best.valuesIterator.map { c =>
          TaggedCand(c.url_hash, c.url_canon, c.host, c.host_bucket,
            c.priority, c.discovered_seq,
            maybe_seen = merged.exists(sk.mightContain(_, c.url_hash)))
        }
      }
      .toDF()
  }

  /** Merge all delta rows into one blob per bucket and replace-commit. */
  private def compactBloom(atSnap: Long): Long = {
    val df = ice.read(spark, BLOOM, Some(atSnap))
      .getOrElse(return atSnap)
    val sk = sketch
    val compacted = df.select($"host_bucket", $"n", $"bits")
      .as[(Int, Long, Array[Byte])]
      .groupByKey(_._1)
      .reduceGroups((a, b) => (a._1, a._2 + b._2, sk.merge(a._3, b._3)))
      .map(_._2)
      .toDF("host_bucket", "n", "bits")
    val f = ice.writeData(compacted, BLOOM, "compact")
    ice.commit(BLOOM, Seq(f), append = false)
  }
}

object CrawlEngine {

  /** Unique suffix for Observation names (one per attempts write; the
    * session may host many engines/rounds). */
  private[engine] val obsId = new java.util.concurrent.atomic.AtomicLong(0L)

  /** Thread pool for concurrent same-round Spark job submission (the
    * jobs are independent; Spark's scheduler interleaves their stages
    * onto free cores). Small and daemon — only a handful of jobs per
    * round overlap. */
  lazy val jobEc: scala.concurrent.ExecutionContext =
    scala.concurrent.ExecutionContext.fromExecutorService(
      java.util.concurrent.Executors.newCachedThreadPool(r => {
        val t = new Thread(r, "graft-round-job")
        t.setDaemon(true)
        t
      }))

  /** Candidate row shape for the executor-side bloom cogroup. */
  final case class Cand(url_hash: Long, url_canon: String, host: String,
      host_bucket: Int, priority: Int, discovered_seq: Long)
  final case class TaggedCand(url_hash: Long, url_canon: String, host: String,
      host_bucket: Int, priority: Int, discovered_seq: Long, maybe_seen: Boolean)

  /** Canonicalize + robots-gate one raw seed URL into a pending
    * frontier entry (shared content rule; scheduling stays engine-side).
    * url is stored NULL when canonicalization was the identity — the
    * duplicate string never enters the frontier (public views coalesce
    * it back; see pendingRaw's scaladoc). */
  def toEntry(web: SyntheticWeb, raw: String, priority: Int, seq: Long,
      due: Long, cfg: CrawlConfig): Option[FrontierEntry] =
    RobotsMatcher.admit(web, raw).map { case (canon, host) =>
      FrontierEntry(if (raw == canon) null else raw, canon,
        Hashing.xxhash64(canon), host,
        Hashing.hostBucket(host, cfg.numBuckets), priority, seq, 0, due,
        FrontierEntry.Pending)
    }
}
