package graft.meta

import java.io.{File, RandomAccessFile}
import java.nio.channels.FileLock
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption, StandardOpenOption}
import java.util.UUID
import java.util.concurrent.ConcurrentHashMap
import scala.jdk.CollectionConverters._

import org.json4s._
import org.json4s.jackson.Serialization
import org.json4s.jackson.Serialization.{read => jread, write => jwrite}

/** Thrown when an optimistic commit loses a CAS race; callers re-read the
  * snapshot and retry. Reference: MetaRerunException
  * (TransactionCommit.scala:398-427). */
class MetaRerunException(msg: String,
    /** The table whose CAS failed, when the conflict names one — lets a
      * multi-table transaction re-stage only the conflicted table instead
      * of rewriting every table's data files on each retry. */
    val conflictedTable: Option[String] = None,
    /** Underlying store error, kept when a rewrap renames the conflict —
      * retry-exhaustion reports must distinguish a real CAS race from an
      * unexpected database failure. */
    cause: Throwable = null,
    /** True when the conflict is the writer-side re-bucket CAS (the
      * table's bucketNum moved under files already written): retrying the
      * SAME commit can never succeed — the caller must re-stage the write
      * under the new count (or, for a planned streaming batch, fail the
      * batch so the restarted query re-plans). Typed so callers never
      * match on message text. */
    val bucketConflict: Boolean = false) extends RuntimeException(msg, cause)

/** Metadata store API — the same five logical tables as the reference's
  * PostgreSQL catalog (SURVEY.md §1.1), behind a trait so other backends can
  * be added later. */
trait MetaStore {
  def createTable(info: TableInfo): Unit
  def getTableInfo(tablePath: String): Option[TableInfo]
  def updateTableInfo(info: TableInfo): Unit

  /** ATOMIC read-modify-write of the table's properties, under the store's
    * table lock: concurrent property writers (clone registration racing
    * vacuum's lazy prune, two clones registering at once) must not lose
    * updates the way read-then-updateTableInfo does. */
  def updateProperties(tablePath: String)(
      f: Map[String, String] => Map[String, String]): Unit =
    updateInfo(tablePath)(t => t.copy(properties = f(t.properties)))

  /** ATOMIC read-modify-write of the WHOLE table info (the generalization
    * of [[updateProperties]] to fields like bucketNum): `f` sees the
    * freshest info under the store's table lock / CAS, so flips that must
    * pair with a property write — a re-bucket's count + its mapping-change
    * marker — land as ONE visible transition. */
  def updateInfo(tablePath: String)(f: TableInfo => TableInfo): Unit = {
    val t = getTableInfo(tablePath).getOrElse(throw new IllegalArgumentException(
      s"no graft table at $tablePath"))
    updateTableInfo(f(t))
  }

  /** [[updateInfo]] with a FLIP TIMESTAMP: `f` additionally receives a
    * timestamp on the store's own commit clock, allocated inside the same
    * critical section data commits use, STRICTLY GREATER than every commit
    * timestamp already stamped for this table and STRICTLY SMALLER than
    * any future one. Mapping-change markers record it as their boundary
    * (RebucketLog event ts0), which makes per-commit epoch replay
    * ([[RebucketLog.epochsOf]]) an EXACT happened-before comparison — no
    * clock cushion, no ambiguity for commits landing milliseconds around
    * the flip. */
  def updateInfoAtFlip(tablePath: String)(f: (TableInfo, Long) => TableInfo): Unit

  /** Atomically publish `commits` (one per touched partition), bumping each
    * partition's version. `expectedVersions` maps partitionDesc -> version the
    * writer read (-1 = partition did not exist); a mismatch at publish time
    * raises [[MetaRerunException]].
    *
    * `expectedBucketNum` (when set) is verified against the table's CURRENT
    * bucketNum inside the same critical section — the writer-side half of
    * the empty-table re-bucket CAS (ADVICE r13): a first write that
    * bucketed its files under a bucket count that [[rebucketIfNoPartitions]]
    * has since changed must rerun (mixed bucket counts duplicate PKs), and
    * the partition-version CAS alone cannot catch it because brand-new
    * partitions carry expected version -1.
    *
    * Every store decides the commit with ONE function, [[MetaStore.publish]]
    * (both CASes, the per-partition fold, the snapshot rule per commit
    * kind); a store only supplies its lock, its clock and its storage. */
  def commit(
      tablePath: String,
      commits: Seq[DataCommitInfo],
      expectedVersions: Map[String, Int],
      expectedBucketNum: Option[Int] = None): Unit

  /** Atomically set `bucketNum` iff the table still has NO partitions —
    * the metadata-only re-bucket of an empty/truncated table. Runs under
    * the same per-table critical section as [[commit]], which closes the
    * TOCTOU window a read-check-update sequence leaves: either this lands
    * first (and a racing first write's `expectedBucketNum` check fails and
    * reruns against the new count), or the write lands first (and this
    * returns false, telling the caller to retry as a rewriting re-bucket).
    * Returns true iff the update was applied. */
  def rebucketIfNoPartitions(tablePath: String, newBucketNum: Int): Boolean

  /** Head (latest) version of every partition. */
  def listPartitionHeads(tablePath: String): Seq[PartitionInfo]

  /** Head of ONE partition (None if absent or dropped). Semantically
    * `listPartitionHeads(tp).find(_.partitionDesc == desc)`, but stores can
    * answer it as a point lookup without materializing every head — the
    * equal-value partition-prune path at 100k+ partitions (the reference
    * serves this from an indexed PG query, partition_info PK
    * `(table_id, partition_desc)`, meta_init.sql:85-99). */
  def partitionHead(tablePath: String, partitionDesc: String): Option[PartitionInfo] =
    listPartitionHeads(tablePath).find(_.partitionDesc == partitionDesc)

  /** Newest version-log line timestamp (0 for an empty table) — the
    * streaming source polls this EVERY trigger and the compaction daemon
    * every sweep per table, so stores should answer it without
    * materializing heads (the JDBC store runs one MAX down its ts index).
    * Log-max, NOT live-head-max, deliberately: a dropPartition appends a
    * log line, so the log max is MONOTONIC — a head-max would REWIND when
    * the newest-committed partition is dropped, and a streaming offset
    * must never go backward (snapshotAt(lastCommitTs) would also disagree
    * with the current state). This default derives from live heads (the
    * best a generic store can do); stores with log access override. */
  def maxCommitTs(tablePath: String): Long = {
    val heads = listPartitionHeads(tablePath)
    if (heads.isEmpty) 0L else heads.map(_.timestamp).max
  }

  /** Version lineages of MANY partitions in one round — time travel on a
    * wide table resolves every (pred-surviving) partition's lineage, and
    * per-desc point queries turn that into O(partitions) database
    * round-trips; stores batch it (the JDBC store: chunked IN-list probes
    * down its (table_path, partition_desc) index). Absent descs map to
    * empty lineages. */
  def partitionVersionsBulk(tablePath: String,
      descs: Seq[String]): Map[String, Seq[PartitionInfo]] =
    descs.map(d => d -> partitionVersions(tablePath, d)).toMap

  /** Live partitions with at least one version line in (startTime,
    * endTime] — the partitions a streaming micro-batch must resolve. May
    * return a SUPERSET (this default returns every live partition; the
    * per-partition version filters downstream do the exact work); the
    * JDBC store answers with one indexed range query, so planning a
    * micro-batch over a 100k-partition table touches O(changed)
    * partitions, not O(all). */
  def partitionsChangedBetween(
      tablePath: String, startTime: Long, endTime: Long): Seq[String] =
    listPartitionHeads(tablePath).map(_.partitionDesc)

  /** Distinct commit timestamps in the log, ascending — the table-level
    * commit boundaries (every publish stamps ONE shared ts). Serves SQL
    * `VERSION AS OF v` resolution without materializing lineages: on a
    * wide table the full [[partitionVersionsBulk]] the history listing
    * needs costs seconds, where this is one indexed DISTINCT scan. */
  def commitTimestamps(tablePath: String): Seq[Long]

  /** EVERY retained log line, log order, NO tombstone cut — the raw
    * commit boundaries. DESCRIBE HISTORY numbers these, and
    * [[commitTimestamps]] (the `VERSION AS OF` resolver) is exactly their
    * distinct-ts projection, so the two can never disagree on what
    * "version v" means — including across dropPartition/restoreTable,
    * whose tombstone/replay commits are real boundaries both surfaces
    * must count. */
  def rawVersionLines(tablePath: String): Seq[PartitionInfo]

  /** Partitions whose log carries a DROP tombstone (version == -1 —
    * dropPartition, or restoreTable on a partition created after the
    * boundary) in (startTime, endTime], with the tombstone's commit
    * timestamp, ascending by timestamp. [[MetaStore.lineage]] cuts history
    * at the tombstone and [[partitionsChangedBetween]] filters to LIVE
    * heads, so neither surfaces an in-window drop — a STRICT incremental
    * reader (streaming source) must consult this to fail loudly with
    * [[NonIncrementalWindowException]] instead of silently skipping the
    * dropped partition's delivered/undelivered rows and advancing its
    * offset past the gap. */
  def droppedBetween(tablePath: String, startTime: Long,
      endTime: Long): Seq[(String, Long)]

  /** Full version history of one partition, oldest first. */
  def partitionVersions(tablePath: String, partitionDesc: String): Seq[PartitionInfo]

  def getCommits(tablePath: String, ids: Seq[String]): Map[String, DataCommitInfo]

  /** Repoint a partition head to an old version (C10 rollbackPartition). */
  def rollbackPartition(tablePath: String, partitionDesc: String, toVersion: Int): Unit

  /** Atomically publish commits to SEVERAL tables in ONE catalog
    * transaction — entries are (tablePath, commits, expectedVersions),
    * each with [[commit]]'s CAS semantics; a version conflict on ANY
    * table aborts ALL of them with [[MetaRerunException]]. Only a
    * transactional catalog can promise this: the default delegates a
    * single entry to [[commit]] and refuses more (the file store's
    * per-table logs cannot make two tables' commits crash-atomic). */
  def commitMany(
      entries: Seq[(String, Seq[DataCommitInfo], Map[String, Int])],
      expectedBucketNums: Map[String, Int] = Map.empty): Unit =
    entries match {
      case Seq() => ()
      case Seq((tp, commits, expected)) =>
        commit(tp, commits, expected, expectedBucketNums.get(tp))
      case _ => throw new UnsupportedOperationException(
        "multi-table atomic commit requires a transactional catalog " +
          "(JdbcMetaStore; select with -Dgraft.meta.uri=jdbc:...)")
    }

  /** Whole-table RESTORE: atomically repoint EVERY partition to its state
    * as of `asOfTs` (millis, inclusive — the same boundary `snapshotAt`
    * reads), in ONE commit — readers switch from the old head set to the
    * restored one atomically, never observing a half-restored table. Per
    * partition a NEW head version carrying the boundary snapshot is
    * appended (Delta-RESTORE shape — history, old versions and time
    * travel stay intact); partitions created after the boundary get a
    * drop tombstone; partitions already at their boundary content append
    * nothing (idempotent). Metadata-only (O(partitions), no data IO); the
    * restore is itself a commit — undoable by another restore, by version
    * or timestamp. Returns the appended lines.
    *
    * `infoUpdate` (when set) is applied to the table info INSIDE the same
    * critical section as the head repointing: a restore that crosses a
    * re-bucket must flip bucketNum back WITH the restore — done as two
    * calls, a concurrent PK writer between them writes files under the
    * pre-restore count, passes its expectedBucketNum commit CAS (info not
    * yet flipped), and the late flip plants the mixed-bucket
    * duplicate-key state the commit CAS protocol exists to prevent. */
  def restoreTable(tablePath: String, asOfTs: Long,
      infoUpdate: Option[TableInfo => TableInfo] = None): Seq[PartitionInfo]

  def dropTable(tablePath: String): Unit
  def dropPartition(tablePath: String, partitionDesc: String): Unit

  /** Drop MANY partitions as ONE commit (single log append / database
    * transaction, one shared timestamp like every publish): a partition-TTL
    * sweep can expire thousands at once — per-desc drops cost one commit
    * each and leave a crash window with half the sweep applied. Stores
    * override; this default keeps correctness, not atomicity. */
  def dropPartitions(tablePath: String, descs: Seq[String]): Unit =
    descs.foreach(dropPartition(tablePath, _))

  /** Streaming sink exactly-once bookkeeping (LakeSoulSink.scala:46-49). */
  def getMaxBatchId(tablePath: String, queryId: String): Long
  def recordBatchId(tablePath: String, queryId: String, batchId: Long): Unit

  /** Prune version history: keep, per partition, every line newer than
    * `retainAfterTs` plus the newest line at-or-before it (the base the
    * retained lineage folds onto). Bounds log length so snapshot resolution
    * stays O(heads + retained history), not O(all history) — the reference's
    * `cleanMetaUptoTime`. Time travel before the boundary is no longer
    * possible afterwards. Returns lines dropped. */
  def compactVersionLog(tablePath: String, retainAfterTs: Long): Long

  /** The version lines [[compactVersionLog]] with the same boundary would
    * KEEP — per partition, every line newer than `retainAfterTs` plus the
    * newest at-or-before base. This is the liveness set a vacuum must
    * honor: any file referenced by one of these versions is still
    * time-travel-reachable after the matching log compaction. */
  def retainedVersions(tablePath: String, retainAfterTs: Long): Seq[PartitionInfo]

  /** Drop any cached snapshot state for `tablePath` (reference
    * `LakeSoulTable.uncached`, LakeSoulTable.scala:624-637). The file store's
    * caches self-invalidate on (mtime, size) so this is only needed when an
    * EXTERNAL process rewrote meta files in place without changing either. */
  def invalidateCache(tablePath: String): Unit = ()
}

/** Filesystem-embedded [[MetaStore]]: per-table directory
  * `<tablePath>/_graft_meta/` holding `table_info.json`, one JSON file per
  * commit under `commits/`, and an append-only `versions.jsonl` log whose last
  * line per partition is the head. Multi-partition commits are atomic under a
  * JVM striped lock + OS file lock (single-driver assumption documented in
  * SURVEY.md §7.5).
  */
class FileMetaStore extends MetaStore {
  private implicit val fmts: Formats = Serialization.formats(NoTypeHints)

  import FileMetaStore._

  // ------------------------------------------------------------- caches
  // Snapshot resolution is on every query's planning path (the reference
  // caches snapshots in SnapshotManagement.scala:139-156 for the same
  // reason). versions.jsonl is append-only under the table lock, so a cache
  // entry is extended by reading only the bytes past the previously seen
  // size — resolution is O(new lines), and O(1) stat when nothing changed.
  // Commit JSONs are immutable once written (UUID-keyed), so they cache
  // forever. Single-driver assumption as documented on the class.
  // `maxTs` = the log max (drop tombstones included), extended with each
  // tail read so the clock floor and maxCommitTs need no pass over the log
  private case class LogState(size: Long, lines: Vector[PartitionInfo],
      lastByDesc: Map[String, PartitionInfo], maxTs: Long) {
    // computed once per log state, not per call: at 100k partitions a
    // per-call filter+sort costs ~150 ms — the difference between a
    // sub-ms and a 100 ms warm partition prune
    lazy val liveHeads: Map[String, PartitionInfo] =
      lastByDesc.filter(_._2.version >= 0) // -1 = dropped
    lazy val headsSorted: Seq[PartitionInfo] =
      liveHeads.values.toSeq.sortBy(_.partitionDesc)
  }
  private val logCache = new ConcurrentHashMap[String, LogState]()
  private val infoCache = new ConcurrentHashMap[String, (Long, Long, TableInfo)]()
  private val commitCache = new ConcurrentHashMap[String, DataCommitInfo]()
  private val locks = new ConcurrentHashMap[String, Object]()
  private def lockFor(tablePath: String): Object =
    locks.computeIfAbsent(canonical(tablePath), _ => new Object)
  private def canonical(p: String): String = new File(p).getCanonicalPath

  private def metaDir(tablePath: String) = Paths.get(canonical(tablePath), "_graft_meta")
  private def tableInfoPath(tp: String) = metaDir(tp).resolve("table_info.json")
  private def commitsDir(tp: String) = metaDir(tp).resolve("commits")
  private def versionsPath(tp: String) = metaDir(tp).resolve("versions.jsonl")
  private def batchesPath(tp: String) = metaDir(tp).resolve("stream_batches.jsonl")

  private var lastTs: Long = 0L

  /** The ONE file-store clock rule, for every log append and flip boundary:
    * strictly past this instance's last stamp (commits within one
    * millisecond stay ordered) AND past every stamp already persisted for
    * the table by ANY store instance — the log max, drop tombstones
    * included, and the newest recorded mapping-event boundary of `info`
    * (the info the caller read under the lock). So log order is timestamp
    * order across instances: commit-vs-flip order is happened-before order
    * (exact epoch replay), and a drop or rollback never lands at or below
    * an earlier commit, where `maxCommitTs` would not advance and a strict
    * streaming reader's [[droppedBetween]] would miss it. Callers hold the
    * table's file lock. */
  private def nextStamp(tablePath: String, info: Option[TableInfo]): Long = {
    val floor = MetaStore.stampFloor(logState(tablePath).maxTs, info)
    synchronized {
      lastTs = math.max(math.max(System.currentTimeMillis(), lastTs + 1),
        floor + 1)
      lastTs
    }
  }

  override def updateInfoAtFlip(tablePath: String)(
      f: (TableInfo, Long) => TableInfo): Unit = withFileLock(tablePath) {
    val t = rawInfo(tablePath).getOrElse(
      throw new IllegalArgumentException(s"no graft table at $tablePath"))
    val ts0 = nextStamp(tablePath, Some(t))
    writeInfoAtomic(tableInfoPath(tablePath), jwrite(f(t, ts0)))
    infoCache.remove(canonical(tablePath))
  }

  private def withFileLock[T](tablePath: String)(body: => T): T =
    lockFor(tablePath).synchronized {
      Files.createDirectories(metaDir(tablePath))
      val raf = new RandomAccessFile(metaDir(tablePath).resolve("_lock").toFile, "rw")
      var lock: FileLock = null
      try { lock = raf.getChannel.lock(); body }
      finally { if (lock != null) lock.release(); raf.close() }
    }

  /** The file store has no identity arbitration (its lock is a driver-local
    * file lock, its rows have no row-level security) — a caller logged into
    * a non-public domain would get NO isolation here, so refuse loudly
    * instead of silently granting everything. */
  private def checkSingleUser(): Unit = {
    val a = AuthContext.current
    if (!a.isPublic)
      throw new UnsupportedOperationException(
        s"FileMetaStore is a single-user store and cannot enforce domain " +
          s"'${a.domain}' for user '${a.user}': domain-scoped access " +
          "control requires the JDBC catalog (-Dgraft.meta.uri=jdbc:...)")
  }

  /** ATOMIC info-file replace: `Files.writeString` truncates in place, and
    * getTableInfo is deliberately lock-free — a concurrent reader could
    * observe an empty/partial JSON (seen as a jackson end-of-input in the
    * re-bucket race property). Write-to-temp + atomic rename means readers
    * always see the old or the new content, never a torn one. */
  private def writeInfoAtomic(p: Path, content: String): Unit = {
    val tmp = p.resolveSibling(p.getFileName.toString + "." +
      UUID.randomUUID().toString + ".tmp")
    Files.writeString(tmp, content)
    try Files.move(tmp, p,
      StandardCopyOption.ATOMIC_MOVE, StandardCopyOption.REPLACE_EXISTING)
    catch { case _: java.nio.file.AtomicMoveNotSupportedException =>
      Files.move(tmp, p, StandardCopyOption.REPLACE_EXISTING)
    }
  }

  override def createTable(info: TableInfo): Unit = withFileLock(info.tablePath) {
    checkSingleUser()
    val p = tableInfoPath(info.tablePath)
    if (Files.exists(p))
      throw new IllegalStateException(s"graft table already exists at ${info.tablePath}")
    Files.createDirectories(commitsDir(info.tablePath))
    writeInfoAtomic(p, jwrite(info))
  }

  override def getTableInfo(tablePath: String): Option[TableInfo] = {
    checkSingleUser()
    val p = tableInfoPath(tablePath)
    if (!Files.exists(p)) None
    else {
      val key = canonical(tablePath)
      val (mtime, size) = (Files.getLastModifiedTime(p).toMillis, Files.size(p))
      val cached = infoCache.get(key)
      if (cached != null && cached._1 == mtime && cached._2 == size) Some(cached._3)
      else {
        val info = jread[TableInfo](Files.readString(p))
        infoCache.put(key, (mtime, size, info))
        Some(info)
      }
    }
  }

  override def updateTableInfo(info: TableInfo): Unit = withFileLock(info.tablePath) {
    writeInfoAtomic(tableInfoPath(info.tablePath), jwrite(info))
    infoCache.remove(canonical(info.tablePath))
  }

  override def rebucketIfNoPartitions(
      tablePath: String, newBucketNum: Int): Boolean = withFileLock(tablePath) {
    if (headMap(tablePath).nonEmpty) false
    else {
      // read the info FILE directly (not the mtime+size-validated cache):
      // a same-length rewrite within the cached read's millisecond would
      // serve stale info here, resurrecting old properties or bucketNum
      val t = rawInfo(tablePath).getOrElse(
        throw new IllegalArgumentException(s"no graft table at $tablePath"))
      // record the mapping-change event in the SAME write as the flip: a
      // diff window may span from data that existed before a
      // truncate/drop to data written after this re-bucket. Boundary on
      // the store's commit clock (exact epoch replay).
      val ts = nextStamp(tablePath, Some(t))
      writeInfoAtomic(tableInfoPath(tablePath),
        jwrite(t.copy(bucketNum = newBucketNum, properties =
          RebucketLog.appendClosed(t.properties, ts, ts,
            t.bucketNum, newBucketNum))))
      infoCache.remove(canonical(tablePath))
      true
    }
  }

  /** Uncached info read — for decisions made UNDER the file lock, where
    * the (mtime, size) cache validation is not collision-proof (a
    * same-length JSON rewrite inside one millisecond revalidates stale). */
  private def rawInfo(tablePath: String): Option[TableInfo] = {
    val p = tableInfoPath(tablePath)
    if (!Files.exists(p)) None else Some(jread[TableInfo](Files.readString(p)))
  }

  /** Read + modify + write the WHOLE info under ONE file lock (see
    * [[updateProperties]]). */
  override def updateInfo(tablePath: String)(f: TableInfo => TableInfo): Unit =
    withFileLock(tablePath) {
      val t = rawInfo(tablePath).getOrElse(
        throw new IllegalArgumentException(s"no graft table at $tablePath"))
      writeInfoAtomic(tableInfoPath(tablePath), jwrite(f(t)))
      infoCache.remove(canonical(tablePath))
    }

  /** One critical-section body only: the property RMW is [[updateInfo]]
    * restricted to properties (a second hand-rolled lock/read/write copy
    * here already missed one hardening — the uncached rawInfo read). */
  override def updateProperties(tablePath: String)(
      f: Map[String, String] => Map[String, String]): Unit =
    updateInfo(tablePath)(t => t.copy(properties = f(t.properties)))

  override def commit(
      tablePath: String,
      commits: Seq[DataCommitInfo],
      expectedVersions: Map[String, Int],
      expectedBucketNum: Option[Int]): Unit = withFileLock(tablePath) {
    // ONE uncached info read serves the guard, the bucket CAS and the
    // clock: decisions under the lock must see the freshest state (a second
    // store instance's (mtime, size) cache can revalidate a same-length
    // re-bucket rewrite landing in the same millisecond)
    val freshInfo = rawInfo(tablePath)
    // restore-pending guard — file store only: its restore repoints heads
    // and flips the bucket count in two file writes, and a crash between
    // them makes the count this commit bucketed under unresolvable (the
    // JDBC store restores in ONE transaction and never sets the marker).
    // Refuse loudly; re-running the restore recovers
    freshInfo.map(_.properties)
      .flatMap(_.get(MetaStore.RestorePendingProp)).foreach { pv =>
        val pts = pv.split(":").head
        throw new IllegalStateException(
          s"a whole-table restore (to $pts) on $tablePath is incomplete " +
            "(interrupted between head repointing and the bucket-count " +
            s"flip); re-run restoreToTimestamp($pts) to complete it " +
            "before writing")
      }
    val ts = nextStamp(tablePath, freshInfo)
    val lines = MetaStore.publish(headMap(tablePath), freshInfo.map(_.bucketNum),
      commits, expectedVersions, expectedBucketNum, ts)
    commits.foreach(c => Files.writeString(
      commitsDir(tablePath).resolve(s"${c.commitId}.json"), jwrite(c.copy(timestamp = ts))))
    appendVersions(tablePath, lines)
  }

  private def appendVersions(tablePath: String, infos: Seq[PartitionInfo]): Unit = {
    val lines = infos.map(jwrite(_)).mkString("", "\n", "\n")
    Files.write(versionsPath(tablePath), lines.getBytes(StandardCharsets.UTF_8),
      StandardOpenOption.CREATE, StandardOpenOption.APPEND)
    // Next read extends the cached state by a tail read of just these lines.
    // (Callers hold the table lock, so dropping vs extending here is only a
    // question of who pays the parse; the tail read keeps this path simple.)
    maybeRefreshIndex(tablePath)
  }

  // ----------------------------------------------------------- head index
  // Hash-bucketed sidecar of versions.jsonl for partition-HEAVY tables (the
  // reference serves equal-value partition queries from PG's btree on
  // partition_info(table_id, partition_desc) — ~50 ms at 1M partitions): a
  // cold point lookup must not pay a full log parse. `heads_idx/b<000..255>`
  // hold the raw log lines whose partitionDesc hashes to the bucket (in log
  // order); `heads_idx/_watermark` records the log byte size the buckets
  // cover. A point lookup reads ONE bucket (~1/256 of the log) plus the
  // uncovered log tail. The index is DERIVED data: writers maintain it under
  // the table lock — created once the log passes IndexCreateBytes, folded
  // forward when the uncovered tail passes IndexLagBytes — and readers
  // overlay the authoritative tail, so a crash between log append and fold
  // costs tail bytes, never correctness. A crash INSIDE a fold can leave
  // bucket lines past the watermark; the next fold re-appends them, and the
  // resulting duplicates are benign: head lookup takes the LAST line, and
  // partitionVersions collapses by version (rollback re-appends already do).
  private val IndexCreateBytes = 1L << 20
  private val IndexLagBytes = 256L << 10
  private val IndexBuckets = 256

  private def indexDir(tp: String) = metaDir(tp).resolve("heads_idx")
  private def watermarkPath(tp: String) = indexDir(tp).resolve("_watermark")
  private def bucketPath(tp: String, b: Int) = indexDir(tp).resolve(f"b$b%03d")
  private def bucketOf(desc: String): Int =
    math.floorMod(desc.hashCode, IndexBuckets)

  private def readWatermark(tp: String): Option[Long] = {
    val p = watermarkPath(tp)
    if (!Files.exists(p)) None
    else scala.util.Try(Files.readString(p).trim.toLong).toOption
  }

  private def writeWatermark(tp: String, v: Long): Unit = {
    val tmp = indexDir(tp).resolve("_watermark.tmp")
    Files.writeString(tmp, v.toString)
    Files.move(tmp, watermarkPath(tp),
      java.nio.file.StandardCopyOption.ATOMIC_MOVE,
      java.nio.file.StandardCopyOption.REPLACE_EXISTING)
  }

  /** Log bytes [from, to) as text. */
  private def readRange(tp: String, from: Long, to: Long): String = {
    val ch = java.nio.channels.FileChannel.open(versionsPath(tp),
      StandardOpenOption.READ)
    try {
      ch.position(from)
      val b = java.nio.ByteBuffer.allocate((to - from).toInt)
      while (b.hasRemaining && ch.read(b) >= 0) {}
      b.flip()
      new String(b.array(), 0, b.limit(), StandardCharsets.UTF_8)
    } finally ch.close()
  }

  /** Parse, skipping malformed lines (a torn concurrent append's half-line;
    * the tail overlay re-covers anything skipped). */
  private def parseLines(text: String): Iterator[(String, PartitionInfo)] =
    text.split('\n').iterator.filter(_.nonEmpty).flatMap(l =>
      scala.util.Try(l -> jread[PartitionInfo](l)).toOption)

  /** Fold log bytes [from, to) into the bucket files, then advance the
    * watermark (that order makes a crash re-fold, not lose). Lock held. */
  private def foldIntoIndex(tp: String, from: Long, to: Long): Unit = {
    Files.createDirectories(indexDir(tp))
    if (to > from)
      parseLines(readRange(tp, from, to)).toSeq
        .groupBy { case (_, pi) => bucketOf(pi.partitionDesc) }
        .foreach { case (b, entries) =>
          Files.write(bucketPath(tp, b),
            entries.map(_._1).mkString("", "\n", "\n")
              .getBytes(StandardCharsets.UTF_8),
            StandardOpenOption.CREATE, StandardOpenOption.APPEND)
        }
    writeWatermark(tp, to)
  }

  private def deleteIndex(tp: String): Unit = {
    val d = indexDir(tp).toFile
    if (d.exists()) { d.listFiles().foreach(_.delete()); d.delete() }
  }

  /** Called after every log append (lock held): keep the index within
    * IndexLagBytes of the log, creating it once the log is big enough for
    * a full parse to hurt. Small tables never pay anything here beyond a
    * watermark existence check. */
  private def maybeRefreshIndex(tp: String): Unit = {
    val size = Files.size(versionsPath(tp))
    readWatermark(tp) match {
      case Some(w) if w <= size =>
        if (size - w >= IndexLagBytes) foldIntoIndex(tp, w, size)
      case Some(_) => // log shrank under the index (external rewrite): rebuild
        deleteIndex(tp); foldIntoIndex(tp, 0L, size)
      case None =>
        if (size >= IndexCreateBytes) foldIntoIndex(tp, 0L, size)
    }
  }

  /** Some(log lines of `desc`, in order) when the index can answer without a
    * full log parse; None = no index. Reader-side, lock-free: one bucket
    * read + the uncovered tail of the authoritative log. */
  private def indexDescLines(
      tp: String, desc: String, curSize: Long): Option[Seq[PartitionInfo]] =
    readWatermark(tp).flatMap { w =>
      if (w > curSize) None // stale index over a rewritten log: fall back
      else {
        val bp = bucketPath(tp, bucketOf(desc))
        val fromBucket =
          if (!Files.exists(bp)) Vector.empty[PartitionInfo]
          else parseLines(Files.readString(bp))
            .collect { case (_, pi) if pi.partitionDesc == desc => pi }.toVector
        val fromTail =
          if (curSize > w)
            parseLines(readRange(tp, w, curSize))
              .collect { case (_, pi) if pi.partitionDesc == desc => pi }.toVector
          else Vector.empty[PartitionInfo]
        Some(fromBucket ++ fromTail)
      }
    }

  /** Cached, incrementally-extended view of versions.jsonl. */
  private def logState(tablePath: String): LogState = {
    val key = canonical(tablePath)
    val p = versionsPath(tablePath)
    val size = if (Files.exists(p)) Files.size(p) else 0L
    val cached = logCache.get(key)
    if (cached != null && cached.size == size) { statOnlyHits.incrementAndGet(); cached }
    else {
      val next =
        if (cached != null && size > cached.size) {
          // Append-only log: parse only the new bytes.
          tailReads.incrementAndGet()
          val ch = java.nio.channels.FileChannel.open(p,
            StandardOpenOption.READ)
          val buf = try {
            ch.position(cached.size)
            val b = java.nio.ByteBuffer.allocate((size - cached.size).toInt)
            while (b.hasRemaining && ch.read(b) >= 0) {}
            b.flip(); b
          } finally ch.close()
          val tail = new String(buf.array(), 0, buf.limit(), StandardCharsets.UTF_8)
          val fresh = tail.split('\n').iterator.filter(_.nonEmpty)
            .map(jread[PartitionInfo](_)).toVector
          LogState(size, cached.lines ++ fresh,
            cached.lastByDesc ++ fresh.map(pi => pi.partitionDesc -> pi),
            fresh.foldLeft(cached.maxTs)((m, pi) => math.max(m, pi.timestamp)))
        } else {
          fullReads.incrementAndGet()
          val all = if (size == 0L) Vector.empty[PartitionInfo] else parseAll(p)
          LogState(size, all, all.map(pi => pi.partitionDesc -> pi).toMap,
            all.foldLeft(0L)((m, pi) => math.max(m, pi.timestamp)))
        }
      logCache.put(key, next)
      next
    }
  }

  /** Full-log parse — parse-bound single-threaded (~8 s at 1M partitions),
    * so lines parse on the common pool, order preserved by index (Jackson
    * read paths are thread-safe). */
  private def parseAll(p: java.nio.file.Path): Vector[PartitionInfo] = {
    val lines = Files.readAllLines(p).asScala.filter(_.nonEmpty).toArray
    val out = new Array[PartitionInfo](lines.length)
    java.util.stream.IntStream.range(0, lines.length).parallel()
      .forEach(i => out(i) = jread[PartitionInfo](lines(i)))
    out.toVector
  }

  private def allVersionLines(tablePath: String): Seq[PartitionInfo] =
    logState(tablePath).lines

  /** Log-max of the cached parsed log (monotonic across drops — see the
    * trait scaladoc); stat-warm like every other read here. */
  override def maxCommitTs(tablePath: String): Long = logState(tablePath).maxTs

  /** One pass over the cached log instead of per-desc scans (the
    * single-desc read filters the whole log per call — O(descs x lines)
    * if looped). */
  override def partitionVersionsBulk(tablePath: String,
      descs: Seq[String]): Map[String, Seq[PartitionInfo]] = {
    val grouped = allVersionLines(tablePath).groupBy(_.partitionDesc)
    descs.iterator.map(d =>
      d -> MetaStore.lineage(grouped.getOrElse(d, Nil))).toMap
  }

  /** One pass over the cached log (the trait default returns every live
    * head — a superset that makes each micro-batch O(partitions) again). */
  override def partitionsChangedBetween(
      tablePath: String, startTime: Long, endTime: Long): Seq[String] = {
    val live = headMap(tablePath).keySet
    allVersionLines(tablePath).iterator
      .filter(l => l.timestamp > startTime && l.timestamp <= endTime)
      .map(_.partitionDesc).filter(live).distinct.toSeq.sorted
  }

  override def commitTimestamps(tablePath: String): Seq[Long] =
    allVersionLines(tablePath).iterator.map(_.timestamp)
      .toSeq.distinct.sorted

  override def rawVersionLines(tablePath: String): Seq[PartitionInfo] =
    allVersionLines(tablePath)

  /** Same one-pass shape as [[partitionsChangedBetween]], but surfacing the
    * tombstone lines that pass deliberately hides (trait scaladoc). */
  override def droppedBetween(tablePath: String, startTime: Long,
      endTime: Long): Seq[(String, Long)] =
    allVersionLines(tablePath).iterator
      .filter(l => l.version == -1 &&
        l.timestamp > startTime && l.timestamp <= endTime)
      .map(l => (l.partitionDesc, l.timestamp)).toSeq.distinct.sortBy(_._2)

  /** Per partition keep everything newer than the boundary plus the newest
    * at-or-before line (the base of the retained lineage — may be a
    * tombstone, which partitionVersions still needs to cut history at).
    * Shared by [[compactVersionLog]] and [[retainedVersions]] so log
    * pruning and vacuum liveness can never disagree. */
  private def retainIdx(all: Seq[PartitionInfo], retainAfterTs: Long): scala.collection.mutable.BitSet =
    MetaStore.retainIndices(all, retainAfterTs)

  override def retainedVersions(tablePath: String, retainAfterTs: Long): Seq[PartitionInfo] = {
    val all = allVersionLines(tablePath)
    all.indices.filter(retainIdx(all, retainAfterTs)).map(all).toSeq
  }

  /** Head per partition = last log line per desc (a rollback/drop appends a
    * new line, so log order — not max version — defines the head). */
  private def headMap(tablePath: String): Map[String, PartitionInfo] =
    logState(tablePath).liveHeads

  override def listPartitionHeads(tablePath: String): Seq[PartitionInfo] =
    logState(tablePath).headsSorted

  override def partitionHead(tablePath: String, desc: String): Option[PartitionInfo] = {
    val key = canonical(tablePath)
    val p = versionsPath(tablePath)
    val size = if (Files.exists(p)) Files.size(p) else 0L
    val cached = logCache.get(key)
    if (cached != null && cached.size == size) cached.liveHeads.get(desc)
    else indexDescLines(tablePath, desc, size) match {
      case Some(lines) => lines.lastOption.filter(_.version >= 0)
      case None => logState(tablePath).liveHeads.get(desc)
    }
  }

  /** All log lines of one partition, in log order — from the in-memory state
    * when current, else from the head index (one bucket + tail) when present,
    * else by parsing the full log. */
  private def descLines(tablePath: String, desc: String): Seq[PartitionInfo] = {
    val key = canonical(tablePath)
    val p = versionsPath(tablePath)
    val size = if (Files.exists(p)) Files.size(p) else 0L
    val cached = logCache.get(key)
    if (cached != null && cached.size == size)
      cached.lines.filter(_.partitionDesc == desc)
    else indexDescLines(tablePath, desc, size).getOrElse(
      allVersionLines(tablePath).filter(_.partitionDesc == desc))
  }

  override def partitionVersions(tablePath: String, desc: String): Seq[PartitionInfo] =
    // Versions valid for the current head lineage: cut history at the last
    // tombstone, and collapse rollback re-appends (same version re-published).
    MetaStore.lineage(descLines(tablePath, desc))

  override def getCommits(tablePath: String, ids: Seq[String]): Map[String, DataCommitInfo] = {
    if (commitCache.size() > 131072) commitCache.clear() // crude bound; refills lazily
    val prefix = canonical(tablePath) + "\u0000"
    ids.map { id =>
      id -> commitCache.computeIfAbsent(prefix + id, _ =>
        jread[DataCommitInfo](Files.readString(commitsDir(tablePath).resolve(s"$id.json"))))
    }.toMap
  }

  override def rollbackPartition(tablePath: String, desc: String, toVersion: Int): Unit =
    withFileLock(tablePath) {
      val target = partitionVersions(tablePath, desc).find(_.version == toVersion)
        .getOrElse(throw new IllegalArgumentException(
          s"no version $toVersion for partition '$desc'"))
      appendVersions(tablePath,
        Seq(target.copy(timestamp = nextStamp(tablePath, rawInfo(tablePath)))))
    }

  override def restoreTable(tablePath: String, asOfTs: Long,
      infoUpdate: Option[TableInfo => TableInfo] = None): Seq[PartitionInfo] =
    withFileLock(tablePath) {
      def info(): TableInfo = rawInfo(tablePath).getOrElse(
        throw new IllegalArgumentException(s"no graft table at $tablePath"))
      // the repointing and the info flip are two FILES — not crash-atomic
      // together even under the lock. Bracket the pair with the
      // RESTORE-PENDING marker (its own atomic write, BEFORE the heads
      // move): a crash between the writes leaves the marker set, which
      // (a) blocks writers loudly — see commit() — instead of letting one
      // bucket files under a count the unfinished flip was about to
      // change, and (b) routes readers onto the mapping-agnostic
      // cross-bucket paths. Re-running the restore is the recovery: the
      // re-appends are no-ops against already-repointed heads and the
      // flip + marker clear complete the pair.
      infoUpdate.foreach { f =>
        val cur = info()
        // Dry-run the update against the CURRENT info to learn whether it
        // flips the bucket count. A bucket-neutral restore creates no
        // mapping ambiguity — same count, same key->bucket mapping — so it
        // skips the marker entirely: setting it unconditionally opened a
        // crash window in which ALL writers refuse (commit() blocks on the
        // marker) until someone manually re-ran the restore, for a restore
        // that never needed the protection. Stable decision: everything f
        // reads (info fields, the event log) is fixed for the duration of
        // this lock, so the dry-run verdict matches the real run below.
        val flips = f(cur).bucketNum != cur.bucketNum
        if (flips) {
          // value = "asOfTs:wallClock". The wall clock is the RECOVERY
          // anchor: if this run crashes after the heads move, the re-run's
          // infoUpdate records the mapping-change event FROM this instant —
          // stamping it at recovery time instead would leave the
          // crash-to-recovery gap (heads already restored-mapping) with no
          // recorded event once the marker clears, and a diff window over
          // the gap would pair buckets across two mappings. An unfinished
          // marker from an EARLIER crash keeps ITS anchor (min) so the
          // eventual event covers the oldest possible head movement.
          val anchor = cur.properties.get(MetaStore.RestorePendingProp)
            .flatMap(_.split(":").lift(1)).map(_.toLong)
            .getOrElse(nextStamp(tablePath, Some(cur)))
          writeInfoAtomic(tableInfoPath(tablePath), jwrite(
            cur.copy(properties = cur.properties +
              (MetaStore.RestorePendingProp -> s"$asOfTs:$anchor"))))
          infoCache.remove(canonical(tablePath))
        }
      }
      // ONE commit timestamp for every appended line (like commit()): time
      // travel must never resolve a boundary INSIDE the restore
      val ts = nextStamp(tablePath, rawInfo(tablePath))
      val appends = MetaStore.restoreAppends(allVersionLines(tablePath), asOfTs)
        .map(_.copy(timestamp = ts))
      if (appends.nonEmpty) appendVersions(tablePath, appends)
      // same critical section as the repointing (see trait scaladoc): a
      // bucket-restoring flip must not open a window for a stale-count
      // writer between the two. `f` runs with the pending marker still
      // visible (it reads the recovery anchor from it); the marker is
      // stripped from f's RESULT so completion clears it atomically with
      // the flip.
      infoUpdate.foreach { f =>
        val updated = f(info())
        writeInfoAtomic(tableInfoPath(tablePath), jwrite(updated.copy(
          properties = updated.properties - MetaStore.RestorePendingProp)))
        infoCache.remove(canonical(tablePath))
      }
      appends
    }

  override def dropTable(tablePath: String): Unit = withFileLock(tablePath) {
    def rec(f: File): Unit = {
      if (f.isDirectory) f.listFiles().foreach(rec)
      f.delete()
    }
    val d = metaDir(tablePath).toFile
    if (d.exists()) rec(d)
    val key = canonical(tablePath)
    logCache.remove(key)
    infoCache.remove(key)
    commitCache.keySet().removeIf(_.startsWith(key + "\u0000"))
  }

  override def dropPartition(tablePath: String, desc: String): Unit =
    dropPartitions(tablePath, Seq(desc))

  /** ONE lock + ONE append + ONE shared ts for the whole sweep. */
  override def dropPartitions(tablePath: String, descs: Seq[String]): Unit =
    if (descs.nonEmpty) withFileLock(tablePath) {
      val ts = nextStamp(tablePath, rawInfo(tablePath))
      appendVersions(tablePath,
        descs.map(d => PartitionInfo(d, -1, Nil, CommitOp.Update, ts)))
    }

  override def getMaxBatchId(tablePath: String, queryId: String): Long = {
    val p = batchesPath(tablePath)
    if (!Files.exists(p)) -1L
    else Files.readAllLines(p).asScala
      .filter(_.startsWith(queryId + "\t"))
      .map(_.split("\t")(1).toLong)
      .foldLeft(-1L)(math.max)
  }

  override def recordBatchId(tablePath: String, queryId: String, batchId: Long): Unit =
    withFileLock(tablePath) {
      Files.write(batchesPath(tablePath),
        s"$queryId\t$batchId\n".getBytes(StandardCharsets.UTF_8),
        StandardOpenOption.CREATE, StandardOpenOption.APPEND)
    }

  override def compactVersionLog(tablePath: String, retainAfterTs: Long): Long =
    withFileLock(tablePath) {
      val p = versionsPath(tablePath)
      if (!Files.exists(p)) return 0L
      val all = parseAll(p)
      val kept = all.indices.filter(retainIdx(all, retainAfterTs)).map(all)
      val tmp = metaDir(tablePath).resolve("versions.jsonl.tmp")
      Files.writeString(tmp,
        kept.map(jwrite(_)).mkString("", "\n", if (kept.isEmpty) "" else "\n"))
      Files.move(tmp, p, java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      logCache.remove(canonical(tablePath))
      // the bucket index mirrors byte offsets of the rewritten log: rebuild
      // (still big) or drop (small again)
      deleteIndex(tablePath)
      val size = Files.size(p)
      if (size >= IndexCreateBytes) foldIntoIndex(tablePath, 0L, size)
      (all.size - kept.size).toLong
    }

  override def invalidateCache(tablePath: String): Unit = {
    val key = canonical(tablePath)
    logCache.remove(key)
    infoCache.remove(key)
    // commit JSONs are UUID-keyed per commit, not per table; they are
    // immutable so no table-scoped eviction is needed
  }
}

object FileMetaStore {
  /** Instrumentation for tests/Probe: how version-log resolution was served.
    * statOnlyHits = cache current (no bytes read); tailReads = only new log
    * bytes parsed; fullReads = whole log parsed (first touch per process). */
  val statOnlyHits = new java.util.concurrent.atomic.AtomicLong
  val tailReads = new java.util.concurrent.atomic.AtomicLong
  val fullReads = new java.util.concurrent.atomic.AtomicLong
}

object MetaStore {
  /** Process-wide default store. `-Dgraft.meta.uri=jdbc:...` selects the
    * [[JdbcMetaStore]] (multi-host catalog: Derby embedded/in-memory for
    * tests, PostgreSQL on a real cluster — the reference's deployment);
    * unset = the single-driver embedded [[FileMetaStore]]. */
  lazy val default: MetaStore =
    sys.props.get("graft.meta.uri").filter(_.startsWith("jdbc:"))
      .map(new JdbcMetaStore(_)).getOrElse(new FileMetaStore)
  def newCommitId(): String = UUID.randomUUID().toString

  /** Table property bracketing a file-store restore whose head repointing
    * and info flip are two separate file writes (the JDBC store does both
    * in one transaction and never sets this): present = a restore may
    * have crashed between them. Writers REFUSE while it is set (a commit
    * could bucket under the wrong count) and readers treat the table as
    * mapping-ambiguous (RebucketLog.epochsOf / GraftTable.cuttableWindow
    * route to the mapping-agnostic cross-bucket paths); re-running the
    * restore completes the pair and clears it. */
  val RestorePendingProp = "graft.restore.pending"

  /** The commit clock's floor, for both stores: the newest stamp already
    * persisted for the table (`logMax`, drop tombstones included) and the
    * newest mapping-event boundary recorded in `info`, the table info read
    * under the table lock. Every new stamp goes strictly past it, so
    * commit-vs-flip timestamp order is happened-before order across store
    * instances and processes. */
  def stampFloor(logMax: Long, info: Option[TableInfo]): Long =
    math.max(logMax, info.map(t => RebucketLog.maxBoundary(t.properties)).getOrElse(0L))

  /** THE commit decision — the one optimistic-CAS protocol (reference
    * `DBManager.commitData`) every store runs inside its own critical
    * section, with `heads` = the current LIVE heads of the touched
    * partitions and `ts` = the commit timestamp the store allocated.
    * Returns the new log lines in commit order, or throws
    * [[MetaRerunException]]:
    *   - bucket-count CAS (trait [[MetaStore.commit]] scaladoc), only when
    *     `expectedBucketNum` is set;
    *   - version CAS: every touched partition must still be at the version
    *     the writer read (-1 = absent);
    *   - sequential fold: ONE call may carry several commits for the same
    *     partition (a MERGE publishing an update delta plus a tombstone
    *     run), and each extends the running head, not the pre-call one;
    *   - snapshot rule: Append, Merge and Rewrite extend the snapshot;
    *     Update and Compaction replace it; an unknown op is rejected.
    * A protocol change (e.g. placing a compaction below deltas that won
    * the race) is made here, once, for every backend. */
  private[meta] def publish(
      heads: Map[String, PartitionInfo],
      currentBucketNum: Option[Int],
      commits: Seq[DataCommitInfo],
      expectedVersions: Map[String, Int],
      expectedBucketNum: Option[Int],
      ts: Long): Seq[PartitionInfo] = {
    expectedBucketNum.foreach { exp =>
      if (!currentBucketNum.contains(exp))
        throw new MetaRerunException(
          s"table bucketNum moved: files written under $exp, table now at " +
            s"${currentBucketNum.getOrElse(-1)} (concurrent re-bucket) — rerun the write",
          bucketConflict = true)
    }
    commits.foreach { c =>
      val cur = heads.get(c.partitionDesc).map(_.version).getOrElse(-1)
      val exp = expectedVersions.getOrElse(c.partitionDesc, -1)
      if (cur != exp)
        throw new MetaRerunException(
          s"partition '${c.partitionDesc}' moved: expected v$exp, found v$cur")
    }
    var running = heads
    commits.map { c =>
      val prev = running.get(c.partitionDesc)
      val snapshot = c.commitOp match {
        case CommitOp.Append | CommitOp.Merge | CommitOp.Rewrite =>
          prev.map(_.snapshot).getOrElse(Nil) :+ c.commitId
        case CommitOp.Update | CommitOp.Compaction => Seq(c.commitId)
        case other => throw new IllegalArgumentException(s"unknown commitOp $other")
      }
      val pi = PartitionInfo(c.partitionDesc, prev.map(_.version + 1).getOrElse(0),
        snapshot, c.commitOp, ts)
      running += c.partitionDesc -> pi
      pi
    }
  }

  /** Version-log retention contract, shared by every store so log pruning
    * and vacuum liveness can never disagree: per partition keep everything
    * newer than the boundary PLUS the newest at-or-before line (the base
    * the retained lineage folds onto — may be a drop tombstone, which
    * [[lineage]] still needs to cut history at). Returns indices into
    * `all` (log order) to KEEP. */
  private[meta] def retainIndices(all: Seq[PartitionInfo],
      retainAfterTs: Long): scala.collection.mutable.BitSet = {
    val keepIdx = scala.collection.mutable.BitSet()
    all.zipWithIndex.groupBy(_._1.partitionDesc).foreach { case (_, lines) =>
      val (old, fresh) = lines.partition(_._1.timestamp <= retainAfterTs)
      fresh.foreach(keepIdx += _._2)
      old.lastOption.foreach(keepIdx += _._2)
    }
    keepIdx
  }

  /** The log lines a whole-table restore to `asOfTs` must append. Delta-
    * RESTORE shape, NOT the rollback re-append: each restored partition
    * gets a NEW head version carrying the boundary state's snapshot, so
    * forward history, old versions, `VERSION AS OF` and pre-restore time
    * travel all stay intact (a rollback-style re-append would collapse
    * the lineage and discard them). The boundary state is the LAST log
    * line at-or-before `asOfTs` — exactly what a reader at that time saw,
    * including a drop tombstone if the partition was dropped then. A
    * partition with no line at-or-before the boundary did not exist yet:
    * it gets a drop tombstone. op = Update because the restored snapshot
    * replaces the head wholesale and is NOT a consumable delta (incremental
    * consumers must abort, as for any rewrite). Partitions whose current
    * content already equals the boundary state append nothing (restore is
    * idempotent). Timestamps on the returned lines are placeholders — the
    * store reassigns them at append time. */
  private[meta] def restoreAppends(all: Seq[PartitionInfo],
      asOfTs: Long): Seq[PartitionInfo] =
    all.groupBy(_.partitionDesc).toSeq.sortBy(_._1).flatMap { case (d, lines) =>
      val cur = lines.last
      lines.filter(_.timestamp <= asOfTs).lastOption match {
        case None =>
          // no line at-or-before the boundary. "Created after the
          // boundary" is only trustworthy when the partition's CREATION
          // line (version 0) is still in the log — after retention pruning
          // (compactVersionLog) the earliest retained line may postdate a
          // boundary the partition in fact existed at, and dropping it
          // would silently empty data the user asked to restore. Fail
          // loudly instead of guessing.
          if (cur.version != -1 && lines.head.version != 0)
            throw new IllegalStateException(
              s"cannot restore partition '$d' to $asOfTs: its log before " +
                s"${lines.head.timestamp} was pruned by retention " +
                "(compactVersionLog); the boundary state is unrecoverable")
          if (cur.version == -1) None
          else Some(PartitionInfo(d, -1, Nil, CommitOp.Update, 0L))
        case Some(PartitionInfo(_, -1, _, _, _)) =>
          // dropped at the boundary: drop now, once
          if (cur.version == -1) None
          else Some(PartitionInfo(d, -1, Nil, CommitOp.Update, 0L))
        case Some(b) =>
          if (cur.version >= 0 && cur.snapshot == b.snapshot) None
          else Some(PartitionInfo(d, cur.version + 1, b.snapshot,
            CommitOp.Update, 0L))
      }
    }

  /** Collapse ONE partition's log lines (log order) into the version
    * lineage valid for the current head: cut history at the last drop
    * (version -1), collapse rollback re-appends (same version republished
    * — last wins), and trim to at most the head version. Shared by every
    * store so time travel sees identical history on all backends. */
  private[meta] def lineage(lines: Seq[PartitionInfo]): Seq[PartitionInfo] = {
    val afterDrop = lines.lastIndexWhere(_.version == -1) match {
      case -1 => lines
      case i => lines.drop(i + 1)
    }
    val m = scala.collection.mutable.LinkedHashMap[Int, PartitionInfo]()
    afterDrop.foreach(pi => m(pi.version) = pi)
    val head = afterDrop.lastOption.map(_.version).getOrElse(-1)
    m.values.toSeq.filter(_.version <= head).sortBy(_.version)
  }
}
