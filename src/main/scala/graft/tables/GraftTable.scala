package graft.tables

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{StructField, StructType}

import graft.meta._
import graft.read.GraftRead
import graft.write.TransactionalWrite

/** User-facing table handle — the analogue of the reference's
  * `LakeSoulTable` (tables/LakeSoulTable.scala:30-837; SURVEY.md §2.8).
  *
  * All operations are optimistic transactions: write files to a
  * commit-unique directory, then CAS-publish against the partition versions
  * read at start; a lost race raises MetaRerunException and the operation
  * re-runs against the new snapshot (TransactionCommit.scala:398-427).
  */
class GraftTable(val spark: SparkSession, val tablePath: String,
    private[tables] val store: MetaStore = MetaStore.default) {

  private val resolver = new SnapshotResolver(store)

  def info: TableInfo = store.getTableInfo(tablePath).getOrElse(
    throw new IllegalArgumentException(s"no graft table at $tablePath"))

  def schema: StructType = graft.util.SchemaUtil.fromJson(info.schemaJson)

  // ---------------------------------------------------------------- reads

  /** Current snapshot, merged + CDC-filtered.
    *
    * Routes through the DSv2 scan (GraftScanV2) whenever the table's merge
    * operators support the k-way merge: the read then gets Catalyst filter
    * pushdown, zone-map + runtime file pruning, KeyGroupedPartitioning, and
    * the COLUMNAR merge (batch pass-through on unique-key stretches) — the
    * identical surface `spark.table("graft_cat.ns.t")` uses. Agg-only
    * custom merge operators stay on the library path for the
    * aggregate-merge fallback. */
  def toDF: DataFrame =
    if (GraftRead.scanMerges(info, schema))
      org.apache.spark.sql.graft.StreamShim.dsv2Df(spark,
        new graft.catalog.GraftTableV2(spark, this, tablePath))
    else toDF(_ => true)

  /** Reference accessor parity (LakeSoulTable.scala): `data`/`path` and
    * `as`/`alias` — the aliased handle changes only what `toDF`/`data`
    * return; every table operation still targets the same path. */
  def data: DataFrame = toDF
  def path: String = tablePath
  def as(aliasName: String): GraftTable = {
    val self = this
    new GraftTable(spark, tablePath, store) {
      override def toDF: DataFrame = self.toDF.as(aliasName)
    }
  }
  def alias(aliasName: String): GraftTable = as(aliasName)
  /** Reference `truncateTable` (LakeSoulTable.scala): metadata-only expiry
    * of every partition — the no-predicate [[delete()]]. */
  def truncateTable(): Unit = delete()

  /** Reference `onlySaveOnceCompaction` (LakeSoulTable.scala:535-538):
    * when set, compaction SKIPS partitions already at a single run instead
    * of re-saving their bytes. Fluent, like the TTL setters. */
  def onlySaveOnceCompaction(value: Boolean): GraftTable = {
    setProperties(Map(GraftTable.OnlyOnceCompactionProp -> value.toString))
    this
  }

  def toDF(partitionPred: String => Boolean): DataFrame =
    GraftRead.read(spark, info, resolver.currentFiles(tablePath, partitionPred))

  /** Column-pruned read: only `requiredColumns` (+ merge keys + CDC marker)
    * reach the parquet scans (F1). */
  def toDF(partitionPred: String => Boolean, requiredColumns: Seq[String]): DataFrame =
    GraftRead.read(spark, info, resolver.currentFiles(tablePath, partitionPred),
      requiredColumns = Some(requiredColumns))

  /** Per-QUERY merge-operator selection (M4; reference
    * rules/ExtractMergeOperator.scala:20-88 extracts merge-op marker UDFs
    * from the projection at analysis time): read the current snapshot with
    * `ops` (column -> operator name, builtin or [[graft.mergeop.MergeOps
    * .register]]ed) applied across runs INSTEAD of the table-property
    * operators. Write-time dedup-on-write is unaffected, exactly like the
    * reference's scan-time rule. */
  def readWithMergeOps(ops: Map[String, String],
      partitionPred: String => Boolean = _ => true): DataFrame = {
    ops.values.foreach(graft.mergeop.MergeOps.forName) // validate eagerly
    val ti = info
    val overridden = ti.copy(properties = ti.properties ++
      ops.map { case (c, op) => TableInfo.mergeOpProp(c) -> op })
    GraftRead.read(spark, overridden,
      resolver.currentFiles(tablePath, partitionPred))
  }

  /** One partition pinned at a specific PARTITION version number
    * (reference `forPath(path, partitionDesc, partitionVersion)`,
    * LakeSoulTable.scala:683 / SnapshotManagement(p, desc, version)). */
  def snapshotAtPartitionVersion(partitionDesc: String, version: Int): DataFrame = {
    val pi = store.partitionVersions(tablePath, partitionDesc)
      .find(_.version == version)
      .getOrElse(throw new IllegalArgumentException(
        s"no version $version for partition '$partitionDesc' of $tablePath"))
    GraftRead.read(spark, info, resolver.filesAt(tablePath, pi))
  }

  /** Time travel (C1 forPathSnapshot): state as of `endTime` (ms). */
  def snapshotAt(endTime: Long, partitionPred: String => Boolean = _ => true): DataFrame =
    GraftRead.read(spark, info, resolver.filesUptoTime(tablePath, endTime, partitionPred))

  /** Incremental read over (startTime, endTime] (C1 forPathIncremental):
    * the merged delta; CDC marker rows are KEPT (F6 exemption). `strict`
    * (streaming sources) throws [[graft.meta.NonIncrementalWindowException]]
    * when the window crosses a RESTORE/overwrite boundary instead of the
    * batch semantics' silent abort-to-empty. */
  def incremental(startTime: Long, endTime: Long,
      partitionPred: String => Boolean = _ => true,
      strict: Boolean = false): DataFrame = {
    val files = resolver.incrementalFilesAll(tablePath, startTime, endTime,
      partitionPred, strict = strict)
    // read after the files, the info records every re-bucket flip a
    // resolved commit can follow: a window spanning one delivers runs of
    // both mappings, which the scan plans under the final mapping
    GraftRead.read(spark, info, files, keepCdcRows = true)
  }

  /** Row-level change feed over (startTime, endTime] — the CDF shape
    * (Delta's `table_changes`, Iceberg's changelog scan; beyond the
    * reference, which stops at the file-level incremental read): full rows
    * plus `_change_type` ∈ {insert, update_preimage, update_postimage,
    * delete}.
    *
    * CDC tables answer from the incremental file set alone — the stored
    * marker IS the change type, O(delta) cost (the format stores
    * postimages only, so no preimage rows by construction). Non-CDC PK
    * tables reconstruct exact row changes by comparing the two snapshots
    * on the merge key: one DSv2 scan ([[graft.read.GraftDiffScan]]) whose
    * every input partition merges one key range of both snapshots and
    * walks them in lockstep — no shuffle, and a key range whose runs are
    * unchanged is not read. Exact for every commit type (upsert,
    * UPDATE/DELETE rewrites, compaction, re-bucket), where marking every
    * row of a rewritten file — the naive incremental-files approach —
    * would fabricate updates for untouched rows that merely rode along in
    * a rewrite. Both snapshots read under the CURRENT schema (per-file
    * evolution null-fills), so the comparison is well-typed across schema
    * changes. */
  def diff(startTime: Long, endTime: Long, strict: Boolean = false): DataFrame = {
    val ct = "_change_type"
    info.cdcColumn match {
      case Some(cdc) =>
        // strict only matters here: the CDC branch rides the incremental
        // file set; the snapshot-comparison branch below is exact across
        // ANY commit type (a restore shows up as the deletes/updates it is)
        incremental(startTime, endTime, strict = strict)
          .withColumn(ct,
            when(col(cdc) === "delete", lit("delete"))
              .when(col(cdc) === "update", lit("update_postimage"))
              .otherwise(lit("insert")))
          .drop(cdc)
      case None =>
        require(info.hasPrimaryKey,
          s"diff requires a primary-key or CDC table: $tablePath")
        val oldFiles = resolver.filesUptoTime(tablePath, startTime)
        val newFiles = resolver.filesUptoTime(tablePath, endTime)
        // read after the files, the info records every re-bucket flip a
        // resolved commit can follow: the scan pairs both snapshots under
        // the mapping of their union
        val t = info
        val s = graft.util.SchemaUtil.fromJson(t.schemaJson)
        if (graft.read.BucketMergeRead.opsSupported(t, s) &&
            (oldFiles.iterator ++ newFiles.iterator).forall(_.file.bucketId >= 0))
          graft.read.GraftDiffScan.read(spark, t, oldFiles, newFiles)
        else diffViaJoin(startTime, endTime)
    }
  }

  /** Join-based CDF form — the fallback [[diff]] uses when the diff scan
    * can't (custom agg-only merge ops, negative bucket ids), kept callable
    * for the kernel-vs-join probe (`tools/DiffProbe`). Shuffles BOTH
    * snapshots on the merge key: range columns lead it, as in the merge
    * itself (a hash key may repeat across range partitions). */
  private[graft] def diffViaJoin(startTime: Long, endTime: Long): DataFrame = {
    val ct = "_change_type"
    val pks = (info.rangeColumns ++ info.hashColumns).distinct
    val cols = schema.fieldNames.toSeq
    def pack(df: DataFrame, as: String): DataFrame = df.select(
      struct(pks.map(graft.util.SchemaUtil.qcol): _*).as("_gk"),
      struct(cols.map(graft.util.SchemaUtil.qcol): _*).as(as))
    val j = pack(snapshotAt(startTime), "_gb")
      .join(pack(snapshotAt(endTime), "_ga"), Seq("_gk"), "full_outer")
    // unchanged rows explode a NULL (zero output rows); updates emit
    // the pre- and post-image as two rows from the one joined row
    val noChange = org.apache.spark.sql.types.ArrayType(StructType(Seq(
      StructField("r", StructType(schema.fields)),
      StructField("t", org.apache.spark.sql.types.StringType))))
    val change = when(col("_gb").isNull,
        array(struct(col("_ga").as("r"), lit("insert").as("t"))))
      .when(col("_ga").isNull,
        array(struct(col("_gb").as("r"), lit("delete").as("t"))))
      .when(!(col("_ga") <=> col("_gb")), array(
        struct(col("_gb").as("r"), lit("update_preimage").as("t")),
        struct(col("_ga").as("r"), lit("update_postimage").as("t"))))
      .otherwise(lit(null).cast(noChange))
    j.select(explode(change).as("_gc"))
      .select((cols.map(c =>
        col(s"_gc.r.`${c.replace("`", "``")}`").as(c)) :+
        col("_gc.t").as(ct)): _*)
  }

  /** Table-level commit history (DESCRIBE-HISTORY / `VERSION AS OF`
    * surface): every publish writes its partition versions with ONE shared
    * timestamp, so grouping the version lines by timestamp reconstructs the
    * table-level commits. Ascending, 1-based; each entry is
    * (version, commitTsMillis, ops, partitions touched, files added).
    * After `CALL graft.compact_meta` history before the checkpoint boundary
    * is no longer listable (same contract as the reference's
    * cleanMetaUptoTime). */
  def history: Seq[(Int, Long, String, Int, Int)] = {
    // RAW log lines, one round — the same source commitTimestamps (the
    // `VERSION AS OF v` resolver) projects, so history row v and version v
    // can never diverge. The lineage-cut view this replaced hid
    // dropPartition/restore commits (and pre-drop commits whose ts no live
    // partition shared), shifting the 1-based numbering away from the
    // boundaries time travel actually reads.
    // stable-sorted by timestamp (ties keep log order) so the added-file
    // attribution below walks lines in the SAME order the display groups
    // them — raw log order alone would misattribute added counts if
    // same-partition commits ever landed with non-monotonic timestamps
    val lines = store.rawVersionLines(tablePath).sortBy(_.timestamp)
    // files added by this commit = snapshot minus the partition's PREVIOUS
    // line in display order (head count alone would double-count; version
    // order is wrong across restore, which replays an older version as a
    // new line)
    val prevSnap = scala.collection.mutable.HashMap.empty[String, Set[String]]
    val enriched = lines.map { v =>
      val prev = prevSnap.getOrElse(v.partitionDesc, Set.empty[String])
      prevSnap(v.partitionDesc) = v.snapshot.toSet
      (v, v.snapshot.count(!prev.contains(_)))
    }
    enriched.groupBy(_._1.timestamp).toSeq.sortBy(_._1).zipWithIndex.map {
      case ((ts, vs), i) =>
        val ops = vs.map { case (v, _) =>
          if (v.version == -1) "drop" else v.commitOp
        }.distinct.sorted.mkString("+")
        (i + 1, ts, ops, vs.size, vs.map(_._2).sum)
    }
  }

  /** Commit timestamp (ms) of 1-based table version `v` — the boundary SQL
    * `VERSION AS OF v` reads at. Resolved from the distinct-ts log scan
    * ([[graft.meta.MetaStore.commitTimestamps]]), NOT the full history
    * listing: on a 100k-partition table the lineages history materializes
    * cost ~2 s of planning tax per VERSION AS OF query, the ts list ~ms. */
  def timestampOfVersion(v: Int): Long = {
    val ts = store.commitTimestamps(tablePath)
    require(v >= 1 && v <= ts.length,
      s"version $v out of range [1, ${ts.length}] for $tablePath")
    ts(v - 1)
  }

  /** Latest commit timestamp (for snapshot/incremental boundaries) —
    * served by the store without materializing heads where it can
    * ([[graft.meta.MetaStore.maxCommitTs]]): the streaming source polls
    * this every trigger, the compaction daemon every sweep per table. */
  def lastCommitTs: Long = store.maxCommitTs(tablePath)

  def partitions: Seq[PartitionInfo] = store.listPartitionHeads(tablePath)

  /** Distinct commit operations recorded in `(startTime, endTime]` across
    * all partitions — lets incremental consumers (e.g.
    * [[graft.pipeline.MaterializedView]]) verify a window is a consumable
    * delta before folding it in. Consults only partitions with in-window
    * commits ([[graft.meta.MetaStore.partitionsChangedBetween]]) — this
    * runs per incremental refresh, so it must not point-read every
    * partition's history on a wide table. */
  def commitOpsBetween(startTime: Long, endTime: Long): Set[String] =
    store.partitionVersionsBulk(tablePath,
        store.partitionsChangedBetween(tablePath, startTime, endTime))
      .valuesIterator.flatten
      .filter(v => v.timestamp > startTime && v.timestamp <= endTime)
      .map(_.commitOp).toSet

  /** SHALLOW CLONE: a new table at `targetPath` whose commits REFERENCE
    * this table's data files — a metadata-only snapshot copy (O(files),
    * zero data movement; the Delta/Iceberg shallow-clone shape, not in the
    * reference). `asOfTime` clones the time-travel state instead of the
    * head. MOR run order is preserved (each source run becomes one clone
    * commit), so merge-on-read and merge operators behave identically.
    *
    * Semantics after the clone: writes/compaction on the clone land under
    * the CLONE's directory; its vacuum only sweeps that directory, so
    * referenced source files are never deleted from the clone side —
    * `compaction()` on the clone rewrites the referenced state into its
    * own files (= materialize into a deep copy). The standard shallow-clone
    * hazard — source-side vacuum/TTL deleting files a clone references —
    * is closed: clones register on the source ([[GraftTable.ClonesProp]],
    * listed via [[clones]]) and the source's [[vacuum]] keeps every file a
    * registered clone still references; dropping the clone releases them.
    * Incremental/streaming reads of the clone deliver
    * only commits made AFTER the clone (the pre-clone history is one
    * opaque snapshot, published as compaction+rewrite commits which the
    * incremental reader deliberately refuses to treat as a delta). */
  def cloneTo(targetPath: String, asOfTime: Option[Long] = None): GraftTable = {
    val t = info
    val tp = graft.util.PathUtil.local(targetPath)
    require(store.getTableInfo(tp).isEmpty,
      s"graft table already exists at $targetPath")
    require(t.cdcColumn.isEmpty,
      "shallow clone of CDC tables is not supported (delta files with CDC " +
        "markers cannot be republished as a compacted snapshot verbatim)")
    val files = asOfTime match {
      case Some(ts) => resolver.filesUptoTime(tablePath, ts, _ => true)
      case None => resolver.currentFiles(tablePath)
    }
    // stream-maintained views/indexes cannot be cloned: their maintenance
    // progress lives in the stream checkpoint (the cursor stays at its
    // pre-stream value), so a refreshed clone would re-fold everything the
    // stream already counted
    require(!t.properties.contains("graft.mview.stream") &&
      !t.properties.contains("graft.index.stream"),
      "cannot shallow-clone a stream-maintained view/index — its progress " +
        "lives in the stream checkpoint, not the table cursor")
    val props = t.properties --
      Seq("graft.mview.lastbatch", "graft.index.lastbatch")
    store.createTable(TableInfo(MetaStore.newCommitId(),
      new java.io.File(tp).getCanonicalPath, t.schemaJson,
      t.rangeColumns, t.hashColumns, t.bucketNum, props))
    val target = new GraftTable(spark, tp, store)
    // one clone commit per source run, oldest first, per partition
    val runsByPartition = files.groupBy(_.partitionDesc).view.mapValues(
      _.groupBy(_.commitOrdinal).toSeq.sortBy(_._1).map(_._2)).toMap
    val maxLevels = runsByPartition.values.map(_.size).maxOption.getOrElse(0)
    (0 until maxLevels).foreach { level =>
      val commits = runsByPartition.toSeq.sortBy(_._1).collect {
        case (desc, runs) if runs.size > level =>
          DataCommitInfo(MetaStore.newCommitId(), desc,
            runs(level).map(_.file.copy(fileOp = "add")),
            if (level == 0) CommitOp.Compaction else CommitOp.Rewrite, 0L)
      }
      store.commit(target.tablePath, commits,
        commits.map(c => c.partitionDesc -> (level - 1)).toMap)
    }
    // register the clone on the SOURCE so its cleaners (vacuum/TTL) skip
    // files the clone still references — closing the standard shallow-clone
    // hazard where expiring source history breaks clones. ATOMIC RMW under
    // the store's table lock: a plain read-then-setProperties racing
    // vacuum's lazy prune (or a concurrent cloneTo) could lose this
    // registration, after which source-side vacuum deletes files the live
    // clone references — the exact hazard the registration closes.
    store.updateProperties(tablePath) { props =>
      val registered = props.get(GraftTable.ClonesProp)
        .map(_.split('\n').filter(_.nonEmpty).toSeq).getOrElse(Nil)
      props + (GraftTable.ClonesProp ->
        (registered :+ target.tablePath).distinct.mkString("\n"))
    }
    target
  }

  /** Shallow clones registered against this table (targets of [[cloneTo]]);
    * dropped clones are pruned lazily by [[vacuum]]. */
  def clones: Seq[String] = info.properties.get(GraftTable.ClonesProp)
    .map(_.split('\n').filter(_.nonEmpty).toSeq).getOrElse(Nil)

  /** Every file any still-existing registered clone references — protected
    * from this table's [[vacuum]] regardless of version age. Conservative:
    * the clone's FULL retained history counts (its own time travel must
    * keep working). Clones dropped from the catalog are pruned from the
    * registration here. */
  private def cloneReferencedFiles(): Set[String] = {
    val registered = clones
    if (registered.isEmpty) return Set.empty
    val (alive, gone) = registered.partition(p => store.getTableInfo(p).isDefined)
    if (gone.nonEmpty)
      // prune under the table lock, re-checking each candidate INSIDE the
      // critical section: a registration that raced in since the read
      // survives, and a clone is dropped from the list only on a CONFIRMED
      // second absent read (dropTable removed its table_info) — never on a
      // single failed read, which would permanently unprotect a live clone
      store.updateProperties(tablePath) { props =>
        val cur = props.get(GraftTable.ClonesProp)
          .map(_.split('\n').filter(_.nonEmpty).toSeq).getOrElse(Nil)
        val keep = cur.filterNot(p =>
          gone.contains(p) && store.getTableInfo(p).isEmpty)
        props + (GraftTable.ClonesProp -> keep.mkString("\n"))
      }
    alive.flatMap { p =>
      resolver.filesAtMany(p, store.retainedVersions(p, 0L)).map(_.file.path)
    }.toSet
  }

  /** Files visible at the current head (post del-fold), with run ordinals. */
  def liveFiles: Seq[ResolvedFile] = resolver.currentFiles(tablePath)

  def liveFiles(partitionPred: String => Boolean): Seq[ResolvedFile] =
    resolver.currentFiles(tablePath, partitionPred)

  /** Point-lookup file resolution for exactly the named partitions — the
    * equal-value prune fast path (no full head listing). */
  def liveFilesForDescs(descs: Seq[String]): Seq[ResolvedFile] =
    resolver.currentFilesForDescs(tablePath, descs)

  /** File set as of `endTime` (time travel — DSv2 scan options). */
  def filesUptoTime(endTime: Long,
      partitionPred: String => Boolean = _ => true): Seq[ResolvedFile] =
    resolver.filesUptoTime(tablePath, endTime, partitionPred)

  def filesUptoTimeForDescs(endTime: Long, descs: Seq[String]): Seq[ResolvedFile] =
    resolver.filesUptoTimeForDescs(tablePath, endTime, descs)

  /** Incremental file set over (startTime, endTime] (DSv2 scan options).
    * `strict` = streaming semantics: throw on a RESTORE/overwrite boundary
    * inside the window instead of silently dropping the partition. */
  def incrementalFiles(startTime: Long, endTime: Long,
      partitionPred: String => Boolean = _ => true,
      strict: Boolean = false): Seq[ResolvedFile] =
    resolver.incrementalFilesAll(tablePath, startTime, endTime, partitionPred,
      strict = strict)

  def incrementalFilesForDescs(startTime: Long, endTime: Long,
      descs: Seq[String]): Seq[ResolvedFile] =
    resolver.incrementalFilesForDescs(tablePath, startTime, endTime, descs)

  /** Commit timestamps in (startTs, endTs] with added file/byte counts —
    * the streaming source's admission-control pacing unit. `maxBoundaries`
    * bounds the metadata decoded to the first n boundaries. */
  def commitBatches(startTs: Long, endTs: Long,
      maxBoundaries: Int = Int.MaxValue): Seq[graft.meta.CommitBatch] =
    resolver.commitBatches(tablePath, startTs, endTs, maxBoundaries)

  // --------------------------------------------------------------- writes

  /** Plain append (INSERT INTO). */
  def append(df: DataFrame): Unit = withRetry {
    val t = info
    publish(TransactionalWrite.writeFiles(spark, t, df, CommitOp.Append),
      headsNow, bucketGuard(t))
  }

  /** Overwrite the whole table (INSERT OVERWRITE): new data replaces every
    * existing partition; untouched old partitions are expired. */
  def overwrite(df: DataFrame): Unit = withRetry {
    val t = info
    val commits = TransactionalWrite.writeFiles(spark, t, df, CommitOp.Update)
    publish(commits ++ expireCommitsFor(
      partitions.map(_.partitionDesc).toSet -- commits.map(_.partitionDesc)),
      headsNow, bucketGuard(t))
  }

  /** Filtered overwrite (replaceWhere): atomically replace the partitions
    * matching a predicate over the range columns with `df`'s rows. Rows that
    * would land OUTSIDE the matching partitions fail the write (an
    * assert_true inside the write plan — no extra validation pass), so the
    * predicate is both the expiry set and the write contract. Partitions the
    * predicate does not match are untouched — at 100 TB this is the
    * "recompute one day of the lake" primitive. */
  def overwriteWhere(df: DataFrame, partitionCond: Column): Unit = withRetry {
    val t = info
    require(t.rangeColumns.nonEmpty,
      "overwriteWhere requires a range-partitioned table")
    val checked = df.filter(coalesce(
      assert_true(partitionCond,
        lit("replaceWhere: row outside the target partitions"))
        .cast("boolean"), lit(true)))
    val commits = TransactionalWrite.writeFiles(spark, t, checked, CommitOp.Update)
    publish(commits ++ expireCommitsFor(
      partitionsMatching(partitionCond) -- commits.map(_.partitionDesc)),
      headsNow, bucketGuard(t))
  }

  /** Dynamic partition overwrite (partitionOverwriteMode=dynamic): replace
    * exactly the partitions PRESENT in `df`; every other partition is left
    * untouched. The Update commit itself supersedes each touched
    * partition's head, so this is one write job + one meta publish. */
  def overwriteDynamic(df: DataFrame): Unit = withRetry {
    val t = info
    publish(TransactionalWrite.writeFiles(spark, t, df, CommitOp.Update),
      headsNow, bucketGuard(t))
  }

  /** Publish one streaming micro-batch of executor-written files (the DSv2
    * streaming sink, [[graft.streaming.GraftStreamingWrite]]): same
    * (queryId, batchId) exactly-once guard as the DSv1 sink — a replayed
    * epoch is a no-op; `truncate` = complete-mode semantics (the batch
    * replaces the table). */
  def commitStreamBatch(queryId: String, batchId: Long,
      files: Seq[(String, DataFileInfo)], truncate: Boolean,
      writtenBucketNum: Option[Int] = None): Unit = withRetry {
    if (batchId <= store.getMaxBatchId(tablePath, queryId)) return
    val t = info
    val commitId = MetaStore.newCommitId()
    val op = if (truncate) CommitOp.Update
      else if (t.hasPrimaryKey) CommitOp.Merge else CommitOp.Append
    val adds = files.groupBy(_._1).map { case (desc, fs) =>
      DataCommitInfo(
        if (desc == TableInfo.RootPartition) commitId
        else s"$commitId-${math.abs(desc.hashCode)}",
        desc, fs.map(_._2), op, 0L)
    }.toSeq
    val commits =
      if (truncate) adds ++ expireCommitsFor(
        partitions.map(_.partitionDesc).toSet -- adds.map(_.partitionDesc))
      else adds
    // executor-written files were bucketed at PLAN time — the guard must
    // carry THAT count, not a commit-time re-read (which would trivially
    // match). A bucket-CAS failure cannot be healed by retrying this
    // commit (the files are already written under the old count), so it
    // converts to a terminal error: the streaming engine fails the batch,
    // and the restarted query re-plans against the new bucketNum and
    // replays the epoch (batchId was never recorded — exactly-once holds).
    val guard = writtenBucketNum.filter(_ => t.hasPrimaryKey)
    try publish(commits, headsNow, guard)
    catch {
      case e: graft.meta.MetaRerunException if guard.isDefined && e.bucketConflict =>
        throw new IllegalStateException(
          s"micro-batch $batchId was planned under bucketNum ${guard.get} " +
            "but the table was re-bucketed concurrently; restart the " +
            "streaming query to re-plan", e)
    }
    store.recordBatchId(tablePath, queryId, batchId)
  }

  /** Upsert (C2, delta-file mode): shuffle the batch into PK buckets and
    * commit it as a new sorted run — zero read of existing data
    * (UpsertCommand.scala:98-102). Readers merge on read. New columns are
    * auto-added to the table schema (additive evolution). */
  def upsert(df: DataFrame): Unit = withRetry {
    // preamble INSIDE the retry: its store reads can surface transient
    // catalog contention (MetaRerunException) under concurrent writers,
    // and mergeSchema's additive update is idempotent across attempts
    require(info.hasPrimaryKey, "upsert requires a primary-key (hash-partitioned) table")
    mergeSchema(df.schema)
    val t = info
    publish(TransactionalWrite.writeFiles(spark, t, df, CommitOp.Merge),
      headsNow, bucketGuard(t))
  }

  /** Reference-parity overload (`LakeSoulTable.upsert(source, condition)`,
    * LakeSoulTable.scala:256): `condition` is a SQL predicate scoping the
    * upsert to matching partitions — the reference keeps only the conjuncts
    * that reference range-partition columns exclusively and drops the rest
    * (UpsertCommand.scala:105-108 filters to `targetOnlyPredicates`); in
    * this engine's delta-upsert model the batch itself determines the
    * touched partitions, so filtering the SOURCE rows by the range-column
    * conjuncts yields the identical visible state (range columns are
    * mandatory batch columns). Conjuncts on other batch columns are applied
    * too — a documented tightening over the reference, which silently drops
    * them (see README "Divergences from the reference"). A conjunct on a
    * TARGET column the (possibly partial) batch does
    * not carry is scoping-inert like in the reference, not an analysis
    * error; one referencing a column the table does not have at all still
    * fails loudly. Reference parity guard
    * (UpsertCommand.scala:110-115 / upsertConditionNotFoundException): a
    * RANGE-PARTITIONED table requires at least one conjunct over range
    * columns only — a condition that scopes nothing partition-wise is
    * almost always a mis-aimed full-table upsert; set
    * `spark.graft.allowFullTableUpsert=true` (the reference's
    * ALLOW_FULL_TABLE_UPSERT) to permit it. Empty condition = plain
    * upsert (reference: condition is an Option, None never hits the
    * guard). */
  def upsert(df: DataFrame, condition: String): Unit =
    if (condition == null || condition.trim.isEmpty) upsert(df)
    else {
      import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute => CUA}
      import org.apache.spark.sql.catalyst.expressions.{And => CAnd, Expression => CExpr}
      val res = org.apache.spark.sql.catalyst.analysis.caseInsensitiveResolution
      val srcCols = df.columns.toSeq
      val tblCols = schema.fieldNames.toSeq
      def conjuncts(e: CExpr): Seq[CExpr] = e match {
        case CAnd(l, r) => conjuncts(l) ++ conjuncts(r)
        case o => Seq(o)
      }
      val all = conjuncts(
        spark.sessionState.sqlParser.parseExpression(condition))
      all.foreach { c =>
        c.collect { case a: CUA => a.nameParts.head }.toSet.foreach { r: String =>
          require(tblCols.exists(res(_, r)) || srcCols.exists(res(_, r)),
            s"upsert condition references unknown column '$r' " +
              s"(table columns: ${tblCols.mkString(", ")})")
        }
      }
      val rangeCols = info.rangeColumns
      if (rangeCols.nonEmpty && !GraftTable.boolSetting(
          "spark.graft.allowFullTableUpsert", spark.conf.getOption).contains(true)) {
        val hasRangeConjunct = all.exists { c =>
          val refs = c.collect { case a: CUA => a.nameParts.head }.toSet
          refs.nonEmpty && refs.forall(r => rangeCols.exists(res(_, r)))
        }
        require(hasRangeConjunct,
          "upsert condition on a range-partitioned table must contain at " +
            s"least one conjunct over range columns (${rangeCols.mkString(", ")}) " +
            "only — it scopes no partitions as written; set " +
            "spark.graft.allowFullTableUpsert=true to allow a full-table upsert")
      }
      val kept = all.filter { c =>
        val refs = c.collect { case a: CUA => a.nameParts.head }.toSet
        refs.forall(r => srcCols.exists(res(_, r)))
      }
      upsert(kept.reduceOption(CAnd)
        .map(e => df.filter(org.apache.spark.sql.graft.StreamShim.columnOf(e)))
        .getOrElse(df))
    }

  /** Write (but do NOT publish) the delta-upsert data files for `df` and
    * return this table's [[graft.meta.MetaStore.commitMany]] entry — the
    * staging half of [[GraftTransaction.upsertAll]]. The files are
    * invisible until the entry is committed; an abandoned stage leaves
    * only orphan files for vacuum. */
  private[tables] def stageUpsert(df: DataFrame): StagedEntry = {
    require(info.hasPrimaryKey, "upsert requires a primary-key (hash-partitioned) table")
    mergeSchema(df.schema)
    val t = info
    stagedEntry(headsNow,
      TransactionalWrite.writeFiles(spark, t, df, CommitOp.Merge),
      bucketGuard(t))
  }

  /** Stage (write, do NOT publish) a tombstone DELETE — the transaction
    * counterpart of [[deleteTombstone]], same eligibility rules. */
  private[tables] def stageDeleteTombstone(cond: Column): StagedEntry = {
    val t = info
    requireTombstoneDeletable(t)
    val heads = headsNow
    stagedEntry(heads, tombstoneDeleteCommits(t, cond), bucketGuard(t))
  }

  /** Stage (write, do NOT publish) a delta UPDATE — the transaction
    * counterpart of [[updateDelta]], same eligibility rules. */
  private[tables] def stageUpdateDelta(cond: Column,
      set: Map[String, Column]): StagedEntry = {
    val t = info
    val topSet = normalizeSet(set)
    requireDeltaUpdatable(t, topSet)
    val heads = headsNow
    stagedEntry(heads, deltaUpdateCommits(t, cond, topSet), bucketGuard(t))
  }

  private def stagedEntry(heads: Map[String, Int],
      commits: Seq[graft.meta.DataCommitInfo],
      bucket: Option[Int]): StagedEntry =
    StagedEntry(tablePath, commits, commits.map(c =>
      c.partitionDesc -> heads.getOrElse(c.partitionDesc, -1)).toMap, bucket)

  /** Current-head expectations for already-staged commits — ONLY safe for
    * base-independent stagings (pure delta upserts, which commute with
    * interleaved commits exactly like [[publish]]'s publish-time heads);
    * lets a multi-table retry refresh an unconflicted table's expectations
    * without rewriting its data files. */
  private[tables] def refreshedExpectations(
      commits: Seq[graft.meta.DataCommitInfo]): Map[String, Int] = {
    val heads = headsNow
    commits.map(c =>
      c.partitionDesc -> heads.getOrElse(c.partitionDesc, -1)).toMap
  }

  /** Upsert (J1 REWRITE / copy-on-write mode, reference
    * UpsertCommand.scala:125-143): full-outer join the batch against the
    * current merged state of the touched partitions and REWRITE them
    * (del+add), leaving single-run partitions behind — the mode for
    * read-latency-sensitive tables or batches that cannot be expressed as
    * a pure delta. Batch columns win over existing values per column
    * (`coalesce(source, target)`), unmatched batch keys insert, unmatched
    * existing keys carry over. `partitionCond` (range columns only) prunes
    * the rewrite to the partitions it names and filters the batch the same
    * way (the reference's columnFilter). */
  def upsertRewrite(df: DataFrame, partitionCond: Option[Column] = None): Unit = {
    val t0 = info
    require(t0.hasPrimaryKey, "upsert requires a primary-key (hash-partitioned) table")
    require(t0.cdcColumn.isEmpty,
      "rewrite-mode upsert on a CDC table is unsupported (use delta upsert)")
    partitionCond.foreach { c =>
      val ok = condConjuncts(c).forall(n =>
        refNames(n).exists(rs => rs.nonEmpty && rs.subsetOf(t0.rangeColumns.toSet)))
      require(ok, "partitionCond may reference range-partition columns only")
    }
    mergeSchema(df.schema)
    withRetry {
      val t = info
      val heads = headsNow // attempt-start heads: CAS catches interleavers
      val files = partitionCond.map(targetFiles).getOrElse(liveFiles)
      val src = partitionCond.map(df.filter).getOrElse(df)
      if (files.isEmpty) {
        // empty target: the batch IS the rewritten state
        publish(TransactionalWrite.writeFiles(spark, t, src, CommitOp.Merge),
          heads, bucketGuard(t))
      } else {
        val keys = t.rangeColumns ++ t.hashColumns
        val srcCols = src.columns.toSet
        val outCols = graft.util.SchemaUtil.fromJson(t.schemaJson).fieldNames.toSeq
        // full-outer joined rows land in arbitrary partitions, so the write
        // re-shuffles them into bucket placement (bucketAligned = false)
        rewriteFiles(files, heads, bucketAligned = false) { target =>
          val joined = target.join(src, keys, "full_outer")
          joined.select(outCols.map { c =>
            if (keys.contains(c)) col(c)
            else if (srcCols.contains(c)) coalesce(src(c), target(c)).as(c)
            else target(c)
          }: _*)
        }
      }
    }
  }

  /** UPDATE (C3), TIERED (reference UpdateCommand.scala:85-89): partition
    * conjuncts of the predicate prune candidate partitions on METADATA; a
    * full primary-key equality narrows to ONE bucket's files — only the
    * targeted files are read, rewritten and swapped (del+add commit), so a
    * 1-row update of a PK table no longer rewrites the whole table.
    *
    * SET keys may be NESTED struct paths (`"s.a" -> lit(1)` rewrites leaf
    * `a` of struct column `s`, leaving its siblings intact — reference
    * UpdateExpressionsSupport.scala:39-108 semantics, see [[NestedUpdate]]);
    * unknown columns and conflicting paths (`s` + `s.a`) fail loudly
    * instead of writing a flat backtick-named column. */
  def update(cond: Column, set: Map[String, Column]): Unit =
    updatePaths(cond,
      set.toSeq.map { case (k, v) => NestedUpdate.parsePath(k) -> v })

  private[graft] def updatePaths(
      cond: Column, ops: Seq[(Seq[String], Column)]): Unit = withRetry {
    val t = info
    val set = normalizeSet(ops)
    val bad = set.keySet.intersect((t.rangeColumns ++ t.hashColumns).toSet)
    require(bad.isEmpty, s"cannot update partition/primary-key columns: $bad")
    val heads = headsNow
    if (t.properties.get(TableInfo.UpdateModeProp).contains("delta") &&
        t.cdcColumn.isDefined && !set.contains(t.cdcColumn.get) &&
        deltaUpdateOpsOk(t, set.keySet)) {
      markerUpdate(t, heads, cond, set)
    } else if (t.properties.get(TableInfo.UpdateModeProp).contains("delta") &&
        deltaUpdateEligible(t, set.keySet)) {
      deltaUpdate(t, heads, cond, set)
    } else rewriteFiles(targetFiles(cond), heads) { df =>
      set.foldLeft(df) { case (d, (c, expr)) =>
        d.withColumn(c, when(cond, expr).otherwise(col(s"`${c.replace("`", "``")}`")))
      }
    }
  }

  /** Rewrite possibly-nested SET paths into top-level column replacements
    * (validated; struct leaves rebuilt) — the one normalization every
    * update flavor (API, SQL, delta, marker) funnels through. */
  private def normalizeSet(
      ops: Seq[(Seq[String], Column)]): Map[String, Column] =
    NestedUpdate.toTopLevelSet(schema, ops,
      spark.sessionState.conf.caseSensitiveAnalysis)

  /** [[normalizeSet]] over string keys (dotted = nested path). */
  private def normalizeSet(set: Map[String, Column]): Map[String, Column] =
    normalizeSet(set.toSeq.map { case (k, v) =>
      NestedUpdate.parsePath(k) -> v })

  /** UPDATE as an O(matched-rows) DELTA run (beyond-ref; the companion to
    * [[deleteTombstone]]): instead of rewriting every targeted file, read
    * the matching rows (pruned), apply the SET expressions, and commit the
    * result as an ordinary upsert delta — last-writer-wins makes the new
    * row the visible version, and no data file is touched. Exact only when
    * EVERY non-key column merges with use_last / use_last_not_null:
    * re-writing a row's untouched columns must be an overwrite, not a
    * contribution (sum/concat operators would double-count them).
    * `update(cond, set)` routes here automatically under table property
    * `graft.update.mode=delta`. Unlike tombstones, the delta IS a
    * consumable incremental batch (full rows, commit op `merge`), so
    * streaming consumers receive the updated rows instead of aborting. */
  def updateDelta(cond: Column, set: Map[String, Column]): Unit = withRetry {
    val t = info
    val topSet = normalizeSet(set)
    requireDeltaUpdatable(t, topSet)
    deltaUpdate(t, headsNow, cond, topSet)
  }

  private def requireDeltaUpdatable(
      t: TableInfo, set: Map[String, Column]): Unit = {
    val bad = set.keySet.intersect((t.rangeColumns ++ t.hashColumns).toSet)
    require(bad.isEmpty, s"cannot update partition/primary-key columns: $bad")
    require(t.hasPrimaryKey, "delta update requires a primary-key table")
    require(t.cdcColumn.isEmpty,
      "CDC tables update via their marker column — delta updates are for " +
        "plain PK tables")
    require(deltaUpdateOpsOk(t, set.keySet),
      "delta update requires use_last/use_last_not_null on every non-key " +
        "column, and use_last on every SET column (other operators would " +
        "treat the re-written row as a new contribution, and a SET to NULL " +
        "could not overwrite under use_last_not_null); use the rewrite path")
  }

  /** APPLY CHANGES INTO (beyond-ref; the replication primitive that
    * composes [[diff]] with the delta DML family): fold one batch of a
    * row-level change feed — full rows + `_change_type` in {insert,
    * update_postimage, delete}; `update_preimage` rows are ignored — into
    * this table as ONE atomic commit: insert/update rows land as an upsert
    * delta run, delete rows as a [[Tombstone]] run, published together
    * under the same CAS. Replicating table A to B is then
    * `B.applyChanges(A.diff(tsPrev, tsNow))` per cycle, with cost
    * O(changed rows) on both sides — no rewrite, no full-table shuffle.
    * Requires the use_last-family/tombstone eligibility of the delta DML
    * (change rows carry FULL values, so applying them must be an
    * overwrite, and deletes need the k-way merge).
    *
    * EXPECTATIONS BYPASS — BY DESIGN: soft expectations (drop/quarantine)
    * declared on the REPLICA do not gate the feed, inserts included. A
    * replica's contract is fidelity to its source — gating would silently
    * diverge the two tables (a dropped insert is missing forever, a
    * dropped postimage leaves a stale row), which is strictly worse than
    * admitting a row the source already admitted. Declare expectations on
    * the SOURCE table, where ingestion actually happens; hard invariants
    * (fail/check constraints) still run here on every write. */
  def applyChanges(changes: DataFrame): Unit = {
    val ct = "_change_type"
    require(changes.columns.contains(ct),
      s"applyChanges needs a `$ct` column (diff/change-feed shape)")
    val t = info
    require(t.hasPrimaryKey, "applyChanges requires a primary-key table")
    require(t.cdcColumn.isEmpty,
      "CDC tables ingest change feeds natively (upsert rows carrying the " +
        "marker column); applyChanges is for plain PK tables")
    // EVERY column of a change row is effectively SET (full-value
    // overwrite), so use_last is required on all non-key columns: under
    // use_last_not_null a NULL postimage could not overwrite an older
    // non-null value and the replica would silently diverge
    val allValueCols = schema.fieldNames.toSet --
      (t.rangeColumns ++ t.hashColumns)
    require(deltaUpdateOpsOk(t, allValueCols),
      "applyChanges requires use_last on every non-key column (change rows " +
        "carry full values, including NULLs, and applying them must be an " +
        "overwrite — use_last_not_null would keep stale non-null values)")
    withRetry {
      val heads = headsNow
      val sch = schema
      val keyCols = (t.rangeColumns ++ t.hashColumns).distinct
      val dataCols = sch.fieldNames.toSeq
      // the feed (often a two-snapshot diff) is consumed up to three times
      // (upsert write, delete probe, tombstone write) — materialize once
      val cached = changes.persist(
        org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        // the upsert run and the tombstone run publish as ONE commit with
        // the tombstone run newer, so a feed carrying several events for
        // one key (delete then reinsert) would resolve to deleted — the
        // at-most-one-change-per-key shape a two-snapshot diff guarantees
        // must hold for any feed. Validate it (O(delta) groupBy on the
        // cached feed) instead of silently losing the reinsert.
        val dup = cached
          .filter(col(ct).isin("insert", "update_postimage", "delete"))
          .groupBy(keyCols.map(graft.util.SchemaUtil.qcol): _*).count()
          .filter(col("count") > 1).limit(1).collect()
        require(dup.isEmpty,
          s"applyChanges batch carries multiple effective events for key " +
            s"${dup.headOption.map(_.toString).getOrElse("")} — a change " +
            "batch must hold at most one insert/update_postimage/delete " +
            "per key (split the feed into per-snapshot batches and apply " +
            "them in order)")
        val ups = cached
          .filter(col(ct).isin("insert", "update_postimage"))
          .select(dataCols.map(graft.util.SchemaUtil.qcol): _*)
        val upCommits = TransactionalWrite.writeFiles(spark, t, ups,
          CommitOp.Merge, internal = true)
        val dels = cached.filter(col(ct) === "delete")
        val delCommits =
          if (dels.isEmpty) Nil
          else {
            require(graft.read.BucketMergeRead.supports(t, sch, Nil) &&
              !t.properties.get(TableInfo.SkipMergeOnReadProp).contains("true"),
              "delete changes need tombstone support (bucket-merge operators, " +
                "merge-on-read enabled)")
            TransactionalWrite.writeFiles(spark, t,
              tombstoneProjection(dels, sch, keyCols, col),
              CommitOp.Rewrite, tombstone = true)
          }
        publish(upCommits ++ delCommits, heads)
      } finally cached.unpersist()
    }
  }

  /** Full-schema tombstone rows: key columns via `keyOf`, every other
    * column null — the one shape the merge reader, [[Validator]] and the
    * existCols marker all agree on. */
  private def tombstoneProjection(df: DataFrame, sch: StructType,
      keyCols: Seq[String], keyOf: String => Column): DataFrame =
    df.select(sch.fields.map { f =>
      if (keyCols.contains(f.name)) keyOf(f.name).cast(f.dataType).as(f.name)
      else lit(null).cast(f.dataType).as(f.name)
    }.toSeq: _*)

  /** Consistency check (fsck, beyond-ref ops tooling — see [[Validator]]):
    * verifies file existence/sizes against metadata and, per
    * (partition, bucket, run), the sorted-run order, PK uniqueness, bucket
    * placement, footer row counts and tombstone shape. Empty = healthy. */
  def validate(maxIssues: Int = 100): Seq[String] =
    Validator.validate(this, maxIssues)

  /** Idempotent writer token (Delta's txnAppId/txnVersion shape, beyond
    * the reference): run `body` only if `version` is strictly greater than
    * the last version recorded for `appId` on this table, then record it.
    * An orchestrator RETRY of the same job version becomes a no-op instead
    * of a duplicate append; returns whether the body ran. Persistence
    * rides the streaming sink's exactly-once batch bookkeeping. The record
    * lands AFTER the write commit (same shape as the sink): a crash
    * between the two replays that version once on restart — pair it with
    * per-version-idempotent writes (upsert of a deterministic batch) for
    * end-to-end exactly-once. */
  def txn(appId: String, version: Long)(body: => Unit): Boolean = {
    val key = s"txn:$appId"
    if (version <= store.getMaxBatchId(tablePath, key)) false
    else {
      body
      store.recordBatchId(tablePath, key, version)
      true
    }
  }

  /** Continuous replication ([[applyChanges]] in a resumable loop): pull
    * this table up to date with `src` by applying
    * `src.diff(cursor, src.lastCommitTs)`, where the cursor persists as a
    * property on THIS table so restarts resume where they left off. The
    * first call (cursor 0) backfills the full snapshot as inserts. The
    * cursor write is a separate meta update AFTER the atomic applyChanges
    * commit — a crash between the two replays the same window next call,
    * which converges because applyChanges is replay-idempotent. Returns
    * the new cursor (src commit timestamp), or the old one if src had no
    * new commits. */
  def replicateFrom(src: GraftTable): Long = {
    val cursor = info.properties.get(GraftTable.ReplicaCursorProp)
      .map(_.toLong).getOrElse(0L)
    val now = src.lastCommitTs
    if (now <= cursor) return cursor
    applyChanges(src.diff(cursor, now))
    setProperties(Map(GraftTable.ReplicaCursorProp -> now.toString))
    now
  }

  private def deltaUpdateEligible(t: TableInfo, setCols: Set[String]): Boolean =
    t.hasPrimaryKey && t.cdcColumn.isEmpty && deltaUpdateOpsOk(t, setCols)

  /** Whole-row delta rewrites are exact iff untouched columns merge with
    * use_last/use_last_not_null (the re-written merged value is an
    * overwrite, not a contribution) and SET columns with use_last exactly
    * (under use_last_not_null a SET producing NULL could not overwrite). */
  private def deltaUpdateOpsOk(t: TableInfo, setCols: Set[String]): Boolean = {
    val keys = (t.rangeColumns ++ t.hashColumns).toSet
    schema.fields.filterNot(f => keys.contains(f.name)).forall { f =>
      TransactionalWrite.mergeOpFor(t, f.name) match {
        case graft.mergeop.MergeOps.UseLast => true
        case graft.mergeop.MergeOps.UseLastNotNull => !setCols.contains(f.name)
        case _ => false
      }
    }
  }

  private def deltaUpdate(t: TableInfo, heads: Map[String, Int],
      cond: Column, set: Map[String, Column]): Unit = {
    // snapshot-dependent (SET expressions may read current values), so
    // CAS on attempt-start heads like every rewrite
    val commits = deltaUpdateCommits(t, cond, set)
    if (commits.nonEmpty) publish(commits, heads)
  }

  /** The write half of [[deltaUpdate]]: staged, unpublished commits. */
  private def deltaUpdateCommits(t: TableInfo, cond: Column,
      set: Map[String, Column]): Seq[DataCommitInfo] = {
    val files = targetFiles(cond)
    if (files.isEmpty) Nil
    else {
      val matched = GraftRead.read(spark, t, files).filter(cond)
      val updated = set.foldLeft(matched) { case (d, (c, e)) =>
        d.withColumn(c, e)
      }
      TransactionalWrite.writeFiles(spark, t, updated,
        CommitOp.Merge, internal = true)
    }
  }

  /** UPDATE every row (reference LakeSoulTable.scala:94-134). */
  def update(set: Map[String, Column]): Unit = update(lit(true), set)

  /** UPDATE with SQL-string set expressions (reference `updateExpr`,
    * LakeSoulTable.scala:177-254). */
  def updateExpr(set: Map[String, String]): Unit =
    update(set.map { case (k, v) => k -> expr(v) })

  def updateExpr(condition: String, set: Map[String, String]): Unit =
    update(expr(condition), set.map { case (k, v) => k -> expr(v) })

  /** DELETE with a SQL-string condition (reference LakeSoulTable.scala:59-66). */
  def delete(condition: String): Unit = delete(expr(condition))

  /** DELETE (C4). No-arg = truncate (expire all partitions, no rewrite). */
  def delete(): Unit = withRetry {
    publish(expireCommitsFor(partitions.map(_.partitionDesc).toSet))
  }

  /** DELETE (C4), TIERED (reference DeleteCommand.scala:66-72): a predicate
    * over range columns only expires whole partitions METADATA-ONLY (zero
    * scan, zero rewrite); otherwise the rewrite is file-targeted like
    * [[update]]. */
  def delete(cond: Column): Unit = withRetry {
    val t = info
    val heads = headsNow
    val conj = condConjuncts(cond)
    if (t.rangeColumns.nonEmpty &&
        conj.forall(c => refNames(c).exists(_.subsetOf(t.rangeColumns.toSet)))) {
      val hit = partitionsMatching(cond, partitions.map(_.partitionDesc))
      publish(expireCommitsFor(hit))
    } else if (t.properties.get(TableInfo.DeleteModeProp).contains("tombstone") &&
        t.cdcColumn.isDefined) {
      markerDelete(t, heads, cond)
    } else if (t.properties.get(TableInfo.DeleteModeProp).contains("tombstone") &&
        tombstoneEligible(t)) {
      tombstoneDelete(t, heads, cond)
    } else rewriteFiles(targetFiles(cond), heads) { df =>
      df.filter(!coalesce(cond, lit(false)))
    }
  }

  /** DELETE on a CDC table as an O(matched-rows) delta of `delete`-marker
    * rows — the CDC-native tombstone (the format already hides marker
    * deletes on read and drops them at full compaction, M8/F6): no data
    * file is rewritten, and incremental/streaming consumers receive the
    * deletions as proper CDC rows. `delete(cond)` routes here for CDC
    * tables under graft.delete.mode=tombstone. */
  def deleteMarker(cond: Column): Unit = withRetry {
    val t = info
    require(t.cdcColumn.isDefined,
      "deleteMarker requires a CDC table (plain PK tables: deleteTombstone)")
    markerDelete(t, headsNow, cond)
  }

  private def markerDelete(t: TableInfo, heads: Map[String, Int],
      cond: Column): Unit = {
    val files = targetFiles(cond)
    if (files.nonEmpty) {
      // visible rows only (existing delete markers auto-hidden on read)
      val matched = GraftRead.read(spark, t, files).filter(cond)
        .withColumn(t.cdcColumn.get, lit("delete"))
      publish(TransactionalWrite.writeFiles(spark, t, matched,
        CommitOp.Merge, internal = true), heads)
    }
  }

  /** UPDATE on a CDC table as an O(matched-rows) delta of `update`-marker
    * rows (see [[deleteMarker]]); same use_last eligibility as
    * [[updateDelta]]. `update(cond, set)` routes here for CDC tables under
    * graft.update.mode=delta. */
  def updateMarker(cond: Column, set: Map[String, Column]): Unit = withRetry {
    val t = info
    val topSet = normalizeSet(set)
    require(t.cdcColumn.isDefined,
      "updateMarker requires a CDC table (plain PK tables: updateDelta)")
    require(!topSet.contains(t.cdcColumn.get), "cannot SET the CDC marker column")
    require(deltaUpdateOpsOk(t, topSet.keySet),
      "marker update requires use_last-family merge operators " +
        "(the re-written row must overwrite)")
    markerUpdate(t, headsNow, cond, topSet)
  }

  private def markerUpdate(t: TableInfo, heads: Map[String, Int],
      cond: Column, set: Map[String, Column]): Unit = {
    val files = targetFiles(cond)
    if (files.nonEmpty) {
      val matched = GraftRead.read(spark, t, files).filter(cond)
      val updated = set.foldLeft(matched) { case (d, (c, e)) =>
        d.withColumn(c, e)
      }.withColumn(t.cdcColumn.get, lit("update"))
      publish(TransactionalWrite.writeFiles(spark, t, updated,
        CommitOp.Merge, internal = true), heads)
    }
  }

  /** DELETE as an O(matched-rows) TOMBSTONE delta run (beyond-ref; the LSM
    * answer to deletion vectors): instead of rewriting every targeted file,
    * write the matching primary keys as a key-only tombstone run — the
    * k-way merge drops any key whose newest holder is a tombstone. At
    * 100 TB a predicate DELETE stops rewriting whole buckets and costs one
    * pruned read (to find the keys) plus a write proportional to the
    * MATCHED rows, not the touched files. Snapshot-dependent: CASes on
    * attempt-start heads like every rewrite. A later upsert of the same key
    * re-inserts it (the run order revives it); tombstones are physically
    * removed by FULL compaction — leveled compaction carries them, since
    * merging a tombstone without every older run would resurrect the
    * deleted keys. `delete(cond)` routes here automatically when the table
    * property `graft.delete.mode=tombstone` is set. */
  def deleteTombstone(cond: Column): Unit = withRetry {
    val t = info
    requireTombstoneDeletable(t)
    tombstoneDelete(t, headsNow, cond)
  }

  private def requireTombstoneDeletable(t: TableInfo): Unit = {
    require(t.hasPrimaryKey, "tombstone delete requires a primary-key table")
    require(t.cdcColumn.isEmpty,
      "CDC tables delete via their marker column (upsert rows with the " +
        "delete marker) — tombstone runs are for plain PK tables")
    require(!t.properties.get(TableInfo.SkipMergeOnReadProp).contains("true"),
      "tombstone delete requires merge-on-read (skip_merge_on_read is set)")
    require(graft.read.BucketMergeRead.supports(t, schema, Nil),
      "tombstone delete requires merge operators supported by the " +
        "bucket-merge reader (custom aggregate-only operators route to the " +
        "SQL fallback, which cannot express tombstone semantics)")
  }

  private def tombstoneEligible(t: TableInfo): Boolean =
    t.hasPrimaryKey && t.cdcColumn.isEmpty &&
      !t.properties.get(TableInfo.SkipMergeOnReadProp).contains("true") &&
      graft.read.BucketMergeRead.supports(t, schema, Nil)

  private def tombstoneDelete(t: TableInfo, heads: Map[String, Int],
      cond: Column): Unit = {
    val commits = tombstoneDeleteCommits(t, cond)
    if (commits.nonEmpty) publish(commits, heads)
  }

  /** The write half of [[tombstoneDelete]]: the staged tombstone-run
    * commits for `cond`'s matches, NOT yet published (empty when no file
    * can match). */
  private def tombstoneDeleteCommits(
      t: TableInfo, cond: Column): Seq[DataCommitInfo] = {
    val files = targetFiles(cond)
    if (files.isEmpty) Nil
    else {
      val sch = schema
      val keyCols = (t.rangeColumns ++ t.hashColumns).distinct
      // read only the columns the predicate needs (falling back to all
      // when the reference set is unresolvable)
      val needed = refNames(cond) match {
        case Some(rs) => (keyCols ++ rs.toSeq.sorted).distinct
          .filter(sch.fieldNames.contains(_))
        case None => sch.fieldNames.toSeq
      }
      val matched = GraftRead.read(spark, t, files,
        requiredColumns = Some(needed)).filter(cond)
      // full table schema with non-key columns null: the tombstone run
      // shares the format's sorted-bucketed shape; existCols marks only
      // the keys (+ the tombstone marker) as meaningful
      val tombDf = tombstoneProjection(matched, sch, keyCols, col)
      // CommitOp.Rewrite: folds like a delta (appends the run) but ABORTS
      // incremental/streaming delivery — a deletion is not a consumable
      // delta for a non-CDC table (reference Update-commit semantics)
      TransactionalWrite.writeFiles(spark, t, tombDf,
        CommitOp.Rewrite, tombstone = true)
    }
  }

  /** Compaction (C6): collapse each partition's sorted runs into one.
    * Full compaction rewrites CDC `update` markers to `insert` and drops
    * `delete` tombstones (M8, TransactionalWrite.scala:165-180). */
  def compaction(partitionPred: String => Boolean = _ => true): Unit =
    compaction(CompactionOptions(), partitionPred)

  /** Reference-parity surface (`LakeSoulTable.newCompaction`,
    * LakeSoulTable.scala:344-352): string-sized fileSizeLimit ("128MB"),
    * optional re-bucketing, and cleanOldCompaction (delete the targeted
    * partitions' files superseded by this compaction — time travel to
    * versions before it is gone afterwards, same trade as the reference's
    * flag). Hive sync args are not part of this engine. */
  def newCompaction(conditionStr: String = "",
      cleanOldCompaction: Boolean = false,
      fileNumLimit: Option[Int] = None,
      fileSizeLimit: Option[String] = None,
      newBucketNum: Option[Int] = None): Unit = {
    val opts = CompactionOptions(fileNumLimit,
      fileSizeLimit.map(GraftTable.parseByteSize), newBucketNum)
    val pred: String => Boolean =
      if (conditionStr == null || conditionStr.trim.isEmpty) _ => true
      else {
        val matched = partitionsMatching(expr(conditionStr))
        d => matched.contains(d)
      }
    // clean ONLY the partitions this pass actually rewrote, each at the
    // boundary of THIS PASS'S OWN commit (located by commit id in the
    // lineage) — a later head timestamp would let a concurrent rewrite
    // landing between our publish and the cleanup widen the boundary and
    // delete this pass's own compacted files
    val published = compactionRun(opts, pred)
    if (cleanOldCompaction) published.foreach { case (desc, cids) =>
      store.partitionVersions(tablePath, desc)
        .find(_.snapshot.exists(cids.contains))
        .foreach(v => cleanupPartitionData(desc, v.timestamp))
    }
  }

  /** Reference-parity condition-string form
    * (`LakeSoulTable.compaction("range=1", ...)`, LakeSoulTable.scala:315):
    * the SQL predicate is evaluated over the RANGE columns against the
    * tiny in-memory partition-values frame, never against data files. */
  def compaction(condition: String): Unit = compaction(condition, CompactionOptions())

  def compaction(condition: String, opts: CompactionOptions): Unit =
    if (condition == null || condition.trim.isEmpty) compaction(opts, _ => true)
    else {
      val matched = partitionsMatching(expr(condition))
      compaction(opts, d => matched.contains(d))
    }

  /** Compaction with the reference's knobs (C6/C7,
    * CompactionCommand.scala:40+, LakeSoulTable.scala:314-523):
    *  - fileNumLimit: only compact partitions with more than N sorted runs
    *    (the size-tiered trigger — leave freshly-compacted partitions alone);
    *  - fileSizeLimit: only merge runs smaller than this (large compacted
    *    files are carried over untouched, the leveled-compaction idea);
    *  - newBucketNum: re-bucket the table while compacting (re-bucketing
    *    compaction, LakeSoulTable.scala:516-522). */
  def compaction(opts: CompactionOptions,
      partitionPred: String => Boolean): Unit =
    compactionRun(opts, partitionPred)

  /** [[compaction]] body, returning desc -> the COMMIT IDS this pass
    * published for it (skipped-by-filter partitions absent) — the scope
    * [[newCompaction]]'s cleanOldCompaction may clean, identified by OUR
    * commit ids so a concurrent later rewrite can never widen the cleanup
    * boundary past this pass's own version. */
  private def compactionRun(opts: CompactionOptions,
      partitionPred: String => Boolean): Map[String, Set[String]] = withRetry {
    val t0 = info
    val heads = headsNow // attempt-start heads: CAS catches interleavers
    val live = partitions
    val candidates = live.filter(p => partitionPred(p.partitionDesc))
    // re-bucketing must cover the WHOLE table: a partition left at the old
    // bucket count cannot merge with deltas bucketed under the new one
    // (keys land in different per-bucket groups — duplicate/resurrected
    // rows; reproduced in RebucketMixSuite), so a scoped re-bucket is
    // refused loudly rather than silently planting that state
    opts.newBucketNum.filter(_ != t0.bucketNum).foreach { _ =>
      require(candidates.size == live.size,
        "re-bucketing compaction must cover every partition: drop the " +
          "condition/partition filter (old-bucket files cannot merge with " +
          "new-bucket deltas)")
    }
    // graft.compaction.onlyOnce (reference onlySaveOnceCompaction): skip
    // partitions already at one run — their bytes were saved by a previous
    // compaction and a re-save rewrites them for nothing. Opt-in: the
    // default full compaction still rewrites single-run CDC partitions to
    // drop delete markers (M8). NEVER under re-bucketing: a skipped
    // partition would keep files at the OLD bucket count after bucketNum
    // updates, and mixed bucket ids break the key-disjoint read dispatch
    // (same exemption the fileSizeLimit carry-over takes below).
    val onlyOnce = opts.newBucketNum.isEmpty &&
      t0.properties.get(GraftTable.OnlyOnceCompactionProp).contains("true")
    // fileNumLimit is likewise ignored under re-bucketing (a skipped
    // partition's old-bucket files would coexist with the new bucketNum)
    val descs = candidates
      .filter(p => opts.newBucketNum.nonEmpty ||
        opts.fileNumLimit.forall(n => p.snapshot.size >= n))
      .filter(p => !onlyOnce || p.snapshot.size > 1)
      .map(_.partitionDesc).toSet
    if (descs.nonEmpty) {
      // re-bucketing updates bucketNum BEFORE the rewrite so writeFiles
      // places rows with the new bucket count; readers use per-file bucket
      // ids from the path so old files stay readable until expired. The
      // flip carries an OPEN mapping-change marker in the SAME info write
      // (RebucketLog): recording the interval only after the rewrite
      // published left a crash window in which a re-bucketed table had no
      // recorded event — incremental/diff readers resolving that window
      // would pair merge groups per bucket id across two mappings
      // (double-surfaced keys / fabricated delete+insert pairs). The open
      // marker flags every window past ts0 as mapping-ambiguous until the
      // publish below closes it.
      var published = Map.empty[String, Set[String]]
      val isRebucket = opts.newBucketNum.exists(_ != t0.bucketNum)
      val t = opts.newBucketNum match {
        case Some(n) if n != t0.bucketNum =>
          // flip boundary allocated on the STORE'S COMMIT CLOCK inside the
          // critical section (updateInfoAtFlip): strictly after every
          // already-stamped commit, strictly before any future one — the
          // exactness per-commit epoch replay (RebucketLog.epochsOf) needs
          // to classify files around the flip with no clock cushion
          store.updateInfoAtFlip(tablePath)((cur, ts0) =>
            cur.copy(bucketNum = n,
              properties = graft.meta.RebucketLog.appendOpen(
                cur.properties, ts0, cur.bucketNum, n)))
          info // re-read: keep any concurrent property updates visible
        case _ => t0
      }
      val all = resolver.currentFiles(tablePath, descs.contains)
      // leveled carry-over: runs above fileSizeLimit are kept as-is (unless
      // re-bucketing forces a full rewrite)
      val (keep, merge) = opts.fileSizeLimit match {
        case Some(limit) if opts.newBucketNum.isEmpty =>
          // a "run" is one commit ordinal within a partition (small = any
          // file under the limit). The merged output is published as the
          // NEWEST run, so only the maximal SUFFIX of consecutive small
          // runs may merge: merging a small run from below a carried-over
          // large run would lift its older values above the carried run's
          // newer ones (last-writer-wins resurrection). Older small runs
          // stranded under a large run wait for full compaction.
          val perDesc = all.groupBy(_.partitionDesc).values.map { fs =>
            val runs = fs.groupBy(_.commitOrdinal).toSeq.sortBy(_._1).map(_._2)
            val suffix0 = runs.reverse
              .takeWhile(_.exists(_.file.size < limit)).reverse
            // a tombstone run may only merge together with ALL older runs
            // (else the deleted keys in carried-over runs resurrect): when
            // the suffix covers the whole partition that holds; otherwise
            // trim it to start strictly after the newest tombstone run
            val suffix =
              if (suffix0.size == runs.size) suffix0
              else suffix0.reverse.takeWhile(
                !_.exists(f => Tombstone.isTombstone(f.file))).reverse
            (runs.dropRight(suffix.size).flatten, suffix.flatten)
          }
          (perDesc.flatMap(_._1).toSeq, perDesc.flatMap(_._2).toSeq)
        case _ => (Nil, all)
      }
      if (merge.nonEmpty) {
        // zero-shuffle compaction (r16; attestation hardened r17): when the
        // read's scan plans one key-ordered partition per bucket
        // (GraftScan.groupAligned, via GraftRead.readTracked), the write can
        // keep that placement instead of re-shuffling the whole table by
        // bucket id — never under re-bucketing (rows genuinely move to new
        // buckets). The CDC rewrite below is a narrow map (filter +
        // withColumn), so the alignment survives it.
        val (current, readAligned) =
          GraftRead.readTracked(spark, t, merge, keepCdcRows = true)
        val aligned = opts.newBucketNum.forall(_ == t0.bucketNum) && readAligned
        if (keep.isEmpty) {
          // FULL compaction: one run replaces the partition snapshot;
          // CDC markers are rewritten (M8)
          val compacted = t.cdcColumn match {
            case Some(cdc) =>
              current.filter(col(cdc) =!= "delete")
                .withColumn(cdc,
                  when(col(cdc) === "update", "insert").otherwise(col(cdc)))
            case None => current
          }
          val commits = TransactionalWrite.writeFiles(
            spark, t, compacted, CommitOp.Compaction, skipPreMerge = true,
            inputBucketAligned = aligned)
          publish(commits ++ expireCommitsFor(descs -- commits.map(_.partitionDesc),
            CommitOp.Compaction), heads)
          published = commits.groupBy(_.partitionDesc)
            .view.mapValues(_.map(_.commitId).toSet).toMap
        } else {
          // PARTIAL (leveled) compaction: publish the merged small runs as a
          // new sorted run + `del` ops for the files it replaces — large
          // carried-over runs stay in place and still merge-on-read with the
          // new run (the reference's discard-file list, CompactBucketIO).
          // internal = true: this rewrites ALREADY-ADMITTED rows — the
          // ingestion-only expectation gates must not re-run here (a drop/
          // quarantine expectation added after the rows loaded would
          // silently delete them on the next leveled compaction; r17
          // code-review finding, same hazard the delta-DML paths guard)
          val commits = TransactionalWrite.writeFiles(
            spark, t, current, CommitOp.Merge, skipPreMerge = true,
            internal = true, inputBucketAligned = aligned)
          val delsByDesc = merge.groupBy(_.partitionDesc)
            .view.mapValues(_.map(f => f.file.copy(fileOp = "del"))).toMap
          val withDels = commits.map(c =>
            c.copy(files = c.files ++ delsByDesc.getOrElse(c.partitionDesc, Nil)))
          val leftover = (delsByDesc.keySet -- commits.map(_.partitionDesc)).toSeq
            .map(d => DataCommitInfo(MetaStore.newCommitId(), d,
              delsByDesc(d), CommitOp.Merge, 0L))
          publish(withDels ++ leftover, heads)
          published = (withDels ++ leftover).groupBy(_.partitionDesc)
            .view.mapValues(_.map(_.commitId).toSet).toMap
        }
      }
      // the rewrite published every partition under the new mapping: CLOSE
      // the open marker (and any marker a crashed earlier attempt left
      // open — the table is mapping-consistent from here on), bounding the
      // interval diff/incremental windows must treat as cross-bucket. The
      // close boundary is stamped on the store's commit clock, like the
      // open's, so a commit after it is stamped after it on either store.
      // A plain FULL whole-table compaction closes orphaned markers too:
      // it leaves every partition a single run bucketed under the current
      // count, which is exactly the consistency a re-bucket's own publish
      // establishes — this is the roll-forward [[repair]] relies on (a
      // crashed re-bucket otherwise keeps the id-derived optimizations off
      // and every snapshot on the conservative split/cross paths forever).
      val fullWholeTable = keep.isEmpty && !onlyOnce &&
        descs.size == live.size && candidates.size == live.size &&
        opts.fileNumLimit.isEmpty
      if (isRebucket ||
          (fullWholeTable && graft.meta.RebucketLog.hasOpen(info.properties)))
        store.updateInfoAtFlip(tablePath)((cur, ts1) =>
          cur.copy(properties = graft.meta.RebucketLog.close(cur.properties, ts1)))
      published
    } else {
      // no live partitions (under re-bucketing descs == all live descs:
      // the whole-table require above plus the ignored run filters) — the
      // bucketNum update must still land, or newCompaction(newBucketNum=N)
      // on an empty/truncated table reports success while the table keeps
      // the old bucket count and the next write buckets under it
      opts.newBucketNum.filter(_ != t0.bucketNum).foreach { n =>
        // ATOMIC empty-table re-bucket (ADVICE r13 — the read-check-update
        // sequence here was a TOCTOU): the store checks no-partitions and
        // updates bucketNum inside the same critical section commit() uses,
        // and data commits carry an expectedBucketNum CAS — so either this
        // lands first (a racing first write reruns under the new count) or
        // the write lands first (this returns false and the retry takes
        // the rewriting path). Mixed bucket counts (RebucketMixSuite's
        // duplicate-key state) can no longer be planted by any interleave.
        // the store records the mapping-change event in the SAME critical
        // section as the flip (a diff window may span from data that
        // existed before a truncate/drop to data written after this
        // re-bucket; recording it separately left a crash window with no
        // recorded event)
        if (!store.rebucketIfNoPartitions(tablePath, n))
          throw new graft.meta.MetaRerunException(
            "concurrent first write landed during an empty-table " +
              "re-bucket; retrying as a rewriting re-bucket")
      }
      Map.empty[String, Set[String]]
    }
  }

  /** Re-cluster a NON-PK table by sort columns: every partition is
    * rewritten range-partitioned + sorted on `cols`, so each file carries a
    * TIGHT min/max range on those columns and [[graft.read.StatsSkipping]]
    * prunes most files for predicates over them — the linear form of
    * Z-order clustering (the common single-dimension case: cluster by
    * event time / tenant / key prefix, then range scans skip).
    *
    * PK tables are rejected: their sorted runs must stay PK-ordered for
    * the k-way merge; bucket pruning (M6) already serves their point
    * lookups.
    *
    * With `zorder = true` and 2+ columns, files are placed by the
    * interleaved-bit Morton value ([[graft.operators.ZOrder]]) instead of
    * lexicographic ranges: every file keeps a small bounding box in ALL
    * cluster dimensions, so predicates on ANY of them skip files — the
    * multi-dimensional generalization of this method (lexicographic
    * clustering only serves the leading column).
    *
    * @param numFiles target file count per clustering job (default: the
    *                 session's shuffle partitions) */
  def cluster(cols: Seq[String], numFiles: Int = 0,
      zorder: Boolean = false): Unit = withRetry {
    val t = info
    require(!t.hasPrimaryKey,
      "cluster() applies to non-PK tables (PK runs must stay PK-sorted " +
        "for merge-on-read; use bucket pruning for PK lookups)")
    require(cols.nonEmpty, "cluster() needs at least one sort column")
    val sch = schema
    cols.foreach(c => require(sch.fieldNames.contains(c),
      s"unknown cluster column $c"))
    val heads = headsNow // attempt-start heads: CAS catches interleavers
    val files = liveFiles
    if (files.nonEmpty) {
      val n = if (numFiles > 0) numFiles
        else spark.conf.get("spark.sql.shuffle.partitions").toInt
      // range-partition by (range columns, cluster columns): rows of one
      // partition stay together, and within it files split on
      // cluster-column ranges; the write side sorts tasks on the DIRECTORY
      // columns + cluster columns so the dynamic-partition writer keeps
      // the clustering (no downstream re-sort). In z-order mode the file
      // PLACEMENT key is the Morton value (dropped before the write — file
      // bounds tightness comes from the partitioning, not the stored
      // columns), while the within-file sort stays on the real columns.
      val df = GraftRead.read(spark, t, files)
      val clustered =
        if (zorder && cols.length > 1) {
          val zv = graft.operators.ZOrder.zvalue(df, cols)
          df.withColumn("__g_zv", zv)
            .repartitionByRange(n, (t.rangeColumns.map(graft.util.SchemaUtil.qcol) :+ col("__g_zv")): _*)
            .drop("__g_zv")
        } else {
          val keys = (t.rangeColumns ++ cols).distinct.map(graft.util.SchemaUtil.qcol)
          df.repartitionByRange(n, keys: _*)
        }
      val commits = TransactionalWrite.writeFiles(
        spark, t, clustered, CommitOp.Compaction, skipPreMerge = true,
        clusterCols = cols)
      val descs = files.map(_.partitionDesc).toSet
      publish(commits ++ expireCommitsFor(descs -- commits.map(_.partitionDesc),
        CommitOp.Compaction), heads)
    }
  }

  /** Partition pruning against the catalog with an arbitrary predicate over
    * the range-partition COLUMNS (F4 "general path",
    * PartitionFilter.scala:177-273): the predicate is evaluated once against
    * the tiny in-memory frame of live partition values — never against data
    * files — and the scan reads only surviving partitions. */
  def toDFWherePartitions(partitionCond: Column): DataFrame =
    toDF(partitionsMatching(partitionCond).contains)

  /** Live partition descs whose range values satisfy an arbitrary predicate
    * over the range-partition COLUMNS — evaluated once against the tiny
    * in-memory frame of partition values, never against data files. */
  def partitionsMatching(partitionCond: Column): Set[String] = {
    val t = info
    require(t.rangeColumns.nonEmpty, "table has no range partitions")
    val sch = schema
    val descs = partitions.map(_.partitionDesc)
    // decode desc strings back to typed range values
    val rows = descs.map { d =>
      val vals = d.split(",").map { kv =>
        val v = kv.substring(kv.indexOf('=') + 1)
        if (v == TransactionalWrite.NullSentinel) null
        else if (v == TransactionalWrite.EmptySentinel) "" else v
      }
      org.apache.spark.sql.Row.fromSeq(vals.toIndexedSeq :+ d)
    }
    val descSchema = StructType(
      t.rangeColumns.map(c => StructField(c, org.apache.spark.sql.types.StringType)) :+
        StructField("__g_desc", org.apache.spark.sql.types.StringType))
    val partDF = spark.createDataFrame(
      new java.util.ArrayList(rows.asJava), descSchema)
    val typed = t.rangeColumns.foldLeft(partDF) { (df, c) =>
      df.withColumn(c, col(c).cast(sch(c).dataType))
    }
    typed.filter(partitionCond)
      .select("__g_desc").collect().map(_.getString(0)).toSet
  }

  /** Primary-key point lookup with bucket pruning (M6): the scan's pushed
    * full-key equality reads only the files of bucket
    * `pmod(hash(pkValues), bucketNum)` — the same expression the write path
    * used, so they can never disagree (the reference had to re-implement
    * Spark murmur3 in Rust for this, spark_murmur3.rs) — and only while the
    * files' mapping is the current count's (mid re-bucket every bucket is
    * read). */
  def lookupByPk(pkValues: Seq[Any]): DataFrame = {
    val t = info
    require(t.hasPrimaryKey, "lookupByPk requires a primary-key table")
    require(pkValues.length == t.hashColumns.length,
      s"expected ${t.hashColumns.length} pk values, got ${pkValues.length}")
    val sch = graft.util.SchemaUtil.fromJson(t.schemaJson)
    val pred = t.hashColumns.zip(pkValues)
      .map { case (c, v) => col(c) === lit(v).cast(sch(c).dataType) }
      .reduce(_ && _)
    GraftRead.read(spark, t, resolver.currentFiles(tablePath)).filter(pred)
  }

  /** Maintain a materialized JOIN table against a DIM-side delta (J2,
    * upsertOnJoinKey, LakeSoulTableOperations.scala:91-111): select this
    * join table's (joinKey, PK/partition) mapping, inner-join the
    * broadcast delta on the join key to route the new dim values to the
    * affected join-table keys, and upsert. `partitionDesc` (reference
    * `Seq("range1=1", ...)`) scopes the mapping to listed partitions;
    * `condition` passes through to [[upsert]]. */
  def upsertOnJoinKey(deltaDF: DataFrame, joinKeys: Seq[String],
      partitionDesc: Seq[String] = Nil, condition: String = ""): Unit = {
    val t = info
    require(t.hasPrimaryKey, "upsertOnJoinKey requires a primary-key table")
    val unknown = joinKeys.filterNot(schema.fieldNames.contains)
    require(unknown.isEmpty,
      s"join keys not in the table: ${unknown.mkString(", ")}")
    val keyCols = (t.hashColumns ++ t.rangeColumns).distinct
      .filterNot(joinKeys.contains)
    val mapping0 = toDF.select((joinKeys ++ keyCols).distinct.map(graft.util.SchemaUtil.qcol): _*)
    val mapping = if (partitionDesc.isEmpty) mapping0
      else mapping0.filter(expr(partitionDesc.mkString(" and ")))
    upsert(mapping.join(broadcast(deltaDF), joinKeys, "inner"), condition)
  }

  /** Maintain a materialized JOIN table against a FACT-side delta (J3,
    * joinWithTablePathsAndUpsert, LakeSoulTableOperations.scala:113-167):
    * for each dimension table, LEFT-OUTER-join the broadcast delta with
    * the dim's CURRENT state on the dim's hash columns (delta rows with no
    * dim match keep null dim columns, exactly like the original join) and
    * upsert the enriched rows into THIS join table. `partitionFilters`
    * scopes each dim read (one `Seq("range1=1", ...)` per dim, reference
    * `tablePartitionDesc`). */
  def joinWithTablesAndUpsert(deltaLeftDF: DataFrame, dims: Seq[GraftTable],
      partitionFilters: Seq[Seq[String]] = Nil,
      condition: String = ""): Unit = {
    val filters = if (partitionFilters.isEmpty) dims.map(_ => Seq.empty[String])
      else partitionFilters
    require(filters.length == dims.length,
      s"got ${dims.length} tables but ${filters.length} partition filters")
    dims.zip(filters).foreach { case (dim, f) =>
      val hashCols = dim.info.hashColumns
      val missing = hashCols.filterNot(schema.fieldNames.contains)
      require(missing.isEmpty,
        s"dim hash columns not in the join table: ${missing.mkString(", ")}")
      val dimDF = if (f.isEmpty) dim.toDF
        else dim.toDF.filter(expr(f.mkString(" and ")))
      upsert(broadcast(deltaLeftDF).join(dimDF, hashCols, "left_outer"),
        condition)
    }
  }

  /** Path/name conveniences matching the reference's exact entry points
    * (`joinWithTablePathsAndUpsert` / `joinWithTableNamesAndUpsert`). */
  def joinWithTablePathsAndUpsert(deltaLeftDF: DataFrame,
      tablePaths: Seq[String],
      partitionFilters: Seq[Seq[String]] = Nil,
      condition: String = ""): Unit =
    joinWithTablesAndUpsert(deltaLeftDF,
      tablePaths.map(p => GraftTable.forPath(spark, p, store)),
      partitionFilters, condition)

  def joinWithTableNamesAndUpsert(deltaLeftDF: DataFrame,
      tableNames: Seq[String],
      partitionFilters: Seq[Seq[String]] = Nil,
      condition: String = ""): Unit =
    joinWithTablesAndUpsert(deltaLeftDF,
      tableNames.map(n => GraftTable.forName(spark, n, store)),
      partitionFilters, condition)

  /** Shuffle-free equi-join with another table bucketed on the same PK
    * (SURVEY.md §2.4 J4; reference: rules/SetPartitionAndOrdering.scala).
    *
    * A sort-merge join of the two tables' live-file reads. Both scans
    * report `bucket(n, pk)` partitioning and their (range, pk) order, so
    * Spark plans a storage-partitioned join: no exchange on either side,
    * and no sort when neither table has range columns. CDC delete rows are
    * elided on both sides, as in every snapshot read. Inner join on the
    * hash columns; output = keys ++ left non-keys ++ right non-keys, a
    * right column whose name the left side also has renamed `<name>_r`.
    *
    * The checks below are what make the plan exchange-free, so a pair that
    * fails one is refused rather than joined with a shuffle. */
  def bucketedJoin(other: GraftTable): DataFrame = {
    val li = info; val ri = other.info
    require(li.hasPrimaryKey && ri.hasPrimaryKey,
      "bucketedJoin requires primary-key tables on both sides")
    require(li.hashColumns == ri.hashColumns,
      s"hash columns differ: ${li.hashColumns} vs ${ri.hashColumns}")
    require(li.bucketNum == ri.bucketNum,
      s"bucket counts differ: ${li.bucketNum} vs ${ri.bucketNum}")
    val ls = schema; val rs = other.schema
    val keys = li.hashColumns
    keys.foreach { k =>
      require(ls(k).dataType == rs(k).dataType,
        s"join key '$k' type mismatch: ${ls(k).dataType} vs ${rs(k).dataType}")
    }
    val lFiles = liveFiles; val rFiles = other.liveFiles
    require(graft.read.BucketMergeRead.supports(li, ls, lFiles)
      && graft.read.BucketMergeRead.supports(ri, rs, rFiles),
      "bucketedJoin requires bucket-merge-readable tables (no schema drift)")
    // bucket-index pairing assumes BOTH sides' files were hashed under the
    // CURRENT count's mapping: mid re-bucket (open marker / crashed
    // attempt) or mid restore recovery a side can carry another mapping,
    // and its scan then reports no partitioning to pair by
    Seq(("left", li, lFiles), ("right", ri, rFiles)).foreach {
      case (side, ti, fs) =>
        require(RebucketLog.settledAt(ti.properties, ti.bucketNum, fs),
          s"bucketedJoin: the $side table's key->bucket mapping is not " +
            "settled (re-bucket in progress, a crashed re-bucket's open " +
            "marker, or an unfinished restore); finish or repair() it, or " +
            "use a regular join until it completes")
    }
    val rRenamed = rs.fieldNames.map { c =>
      val q = graft.util.SchemaUtil.qcol(c)
      if (!keys.contains(c) && ls.fieldNames.contains(c)) q.as(c + "_r") else q
    }
    GraftRead.read(spark, li, lFiles).hint("merge")
      .join(GraftRead.read(spark, ri, rFiles).select(rRenamed.toIndexedSeq: _*), keys)
  }

  /** SQL MERGE INTO, restricted translation (C5,
    * PreprocessTableMergeInto.scala:17-92): condition must be PK equality,
    * one unconditional matched-UPDATE (attributes only) + one unconditional
    * not-matched-INSERT — which is exactly an upsert. The restriction is
    * validated here instead of at parse time. */
  def mergeInto(source: DataFrame): Unit = {
    val t = info
    require(t.hasPrimaryKey, "MERGE INTO requires a primary-key table")
    val unknown = source.columns.filterNot(schema.fieldNames.contains)
    require(unknown.isEmpty,
      s"MERGE INTO source has columns not in the table: ${unknown.mkString(", ")}")
    upsert(source)
  }

  /** General multi-clause MERGE INTO (the superset of [[mergeInto]]'s
    * reference-parity upsert shape): conditional WHEN MATCHED UPDATE/DELETE,
    * conditional WHEN NOT MATCHED INSERT, and WHEN NOT MATCHED BY SOURCE,
    * with first-matching-clause-wins SQL semantics.
    *
    * Plan (copy-on-write, tiered like [[update]]): the source's primary keys
    * identify the touched BUCKETS (a collect of at most bucketNum ints), only
    * those buckets' files are read (merged), full-outer-joined with the
    * source on the PK mapping `onKeys` (target hash column -> source column),
    * clause actions are applied as one codegen'd when-chain projection, and
    * the targeted files are swapped del+add — untouched buckets keep their
    * file lists byte-identical. NOT MATCHED BY SOURCE clauses inspect every
    * target row, so their presence widens the rewrite to all live files.
    * Clause expressions reference rows via [[GraftMerge.target]] /
    * [[GraftMerge.source]]. */
  def mergeIntoClauses(
      source: DataFrame,
      onKeys: Map[String, String],
      matched: Seq[MergeMatchedClause],
      notMatched: Seq[MergeNotMatchedClause],
      notMatchedBySource: Seq[MergeMatchedClause] = Nil): Unit = {
    val t0 = info
    require(t0.hasPrimaryKey, "MERGE INTO requires a primary-key table")
    require(t0.cdcColumn.isEmpty,
      "general MERGE INTO on a CDC table is unsupported (use delta upsert)")
    require(t0.hashColumns.forall(onKeys.contains),
      s"ON condition must equate every primary-key column; missing: " +
        t0.hashColumns.filterNot(onKeys.contains).mkString(", "))
    require(matched.nonEmpty || notMatched.nonEmpty || notMatchedBySource.nonEmpty,
      "MERGE INTO needs at least one WHEN clause")
    // nested SET paths (`"st.a" -> ...`) rebuild the touched leaf from the
    // TARGET side of the merge frame — same contract as UPDATE's nested
    // keys (see [[NestedUpdate]]); after normalization every key is a
    // top-level schema column, so the guards and the per-column output
    // projection below stay unchanged
    // an empty map stays empty: Spark's assignment alignment can elide
    // EVERY assignment of a clause as a self-copy (SET v = t.v), and an
    // empty update clause is a legal keep-target no-op, not an error
    def normSet(m: Map[String, Column]): Map[String, Column] =
      if (m.isEmpty) m
      else NestedUpdate.toTopLevelSet(schema,
        m.toSeq.map { case (k, v) => NestedUpdate.parsePath(k) -> v },
        spark.sessionState.conf.caseSensitiveAnalysis,
        n => GraftMerge.targetTop(n))
    val matchedN = matched.map(c => c.copy(set = c.set.map(normSet)))
    val notMatchedBySourceN =
      notMatchedBySource.map(c => c.copy(set = c.set.map(normSet)))
    val frozen = (t0.rangeColumns ++ t0.hashColumns).toSet
    val badAssign = (matchedN ++ notMatchedBySourceN)
      .flatMap(_.set.toSeq.flatMap(_.keySet)).toSet.intersect(frozen)
    require(badAssign.isEmpty,
      s"cannot update partition/primary-key columns: ${badAssign.mkString(", ")}")

    withRetry {
      val t = info
      val heads = headsNow // attempt-start heads: CAS catches interleavers
      val sch = schema
      val outCols = sch.fieldNames.toSeq
      val files =
        if (notMatchedBySource.nonEmpty) liveFiles
        else {
          // touched buckets: the source keys hash with the SAME murmur3-mod
          // expression the write side uses, so this is exact; result size is
          // bounded by bucketNum (a tiny driver collect even at 100 TB)
          val keyCols = t.hashColumns.map(c =>
            graft.util.SchemaUtil.qcol(onKeys(c)).cast(sch(c).dataType))
          val ids = source
            .select(TransactionalWrite.bucketIdExpr(keyCols, t.bucketNum).as("b"))
            .distinct().collect().map(_.getInt(0)).toSet
          liveFiles.filter(f => f.file.bucketId < 0 || ids.contains(f.file.bucketId))
        }

      val src = source.withColumn("_g_s_present", lit(true)).alias(GraftMerge.SourceAlias)
      val KeepTarget = -1
      val Drop = -2

      def actionChain(conds: Seq[Option[Column]], base: Int, default: Int): Column =
        if (conds.isEmpty) lit(default)
        else {
          var e = when(conds.head.getOrElse(lit(true)), lit(base))
          conds.zipWithIndex.drop(1).foreach { case (c, i) =>
            e = e.when(c.getOrElse(lit(true)), lit(base + i))
          }
          e.otherwise(lit(default))
        }

      // delete-clause action ids (matched i / not-matched-by-source 2000+i)
      val deleteActions: Seq[Int] =
        matchedN.zipWithIndex.collect { case (c, i) if c.set.isEmpty => i } ++
          notMatchedBySourceN.zipWithIndex.collect {
            case (c, i) if c.set.isEmpty => 2000 + i
          }

      /** Full-outer join frame with the winning clause id in `_g_action`. */
      def withActions(target: DataFrame): DataFrame = {
        val tgt = target.withColumn("_g_t_present", lit(true)).alias(GraftMerge.TargetAlias)
        val joinCond = t.hashColumns.map { c =>
          GraftMerge.targetTop(c) ===
            GraftMerge.sourceTop(onKeys(c)).cast(sch(c).dataType)
        }.reduce(_ && _)
        val joined = tgt.join(src, joinCond, "full_outer")
        val tP = coalesce(col(s"${GraftMerge.TargetAlias}._g_t_present"), lit(false))
        val sP = coalesce(col(s"${GraftMerge.SourceAlias}._g_s_present"), lit(false))
        val action =
          when(tP && sP, actionChain(matchedN.map(_.condition), 0, KeepTarget))
            .when(sP && !tP, actionChain(notMatched.map(_.condition), 1000, Drop))
            .otherwise(actionChain(notMatchedBySourceN.map(_.condition), 2000, KeepTarget))
        joined.withColumn("_g_action", action)
      }

      /** Output-row projection per action (update SET / insert values /
        * carried target row), one codegen'd when-chain per column. */
      def projectOut(frame: DataFrame): DataFrame = {
        val outExprs = outCols.map { c =>
          val cases: Seq[(Int, Column)] =
            matchedN.zipWithIndex.collect {
              case (cl, i) if cl.set.exists(_.contains(c)) => (i, cl.set.get(c))
            } ++
              notMatched.zipWithIndex.map { case (cl, j) =>
                (1000 + j, cl.values.getOrElse(c, lit(null)))
              } ++
              notMatchedBySourceN.zipWithIndex.collect {
                case (cl, i) if cl.set.exists(_.contains(c)) => (2000 + i, cl.set.get(c))
              }
          val e = cases.foldLeft(null: Column) { case (acc, (id, v)) =>
            if (acc == null) when(col("_g_action") === id, v)
            else acc.when(col("_g_action") === id, v)
          }
          val full = if (e == null) GraftMerge.targetTop(c)
            else e.otherwise(GraftMerge.targetTop(c))
          full.cast(sch(c).dataType).as(c)
        }
        frame.select(outExprs: _*)
      }

      def applyClauses(target: DataFrame): DataFrame =
        projectOut(withActions(target)
          .filter(!col("_g_action").isin((deleteActions :+ Drop): _*)))

      val deltaMode =
        t.properties.get(TableInfo.MergeModeProp).contains("delta") &&
          deltaMergeEligible(t, matchedN, notMatchedBySourceN)

      if (files.isEmpty) {
        // nothing to rewrite — only NOT MATCHED inserts can produce rows;
        // run the same clause logic against an empty target
        val emptyTarget = spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], sch)
        // every produced row is a NOT MATCHED insert: expectations gate
        val inserted = TransactionalWrite.gateIngestion(t, applyClauses(emptyTarget))
        publish(TransactionalWrite.writeFiles(spark, t, inserted, CommitOp.Rewrite),
          heads, bucketGuard(t))
      } else if (deltaMode) {
        // DELTA MERGE (beyond-ref; the MERGE companion of updateDelta /
        // deleteTombstone): only the rows a clause actually touched are
        // written — update/insert rows as an upsert delta run, deleted
        // keys as a tombstone run — and the targeted files are NOT
        // rewritten. Both commits publish in ONE atomic CAS'd call (the
        // store folds same-partition commits sequentially). Cost is
        // O(source + matched rows), not O(touched buckets).
        val target = GraftRead.read(spark, t, files)
        val frame0 = withActions(target)
        // persist when >1 subplan consumes the frame (tombstone split,
        // and/or the insert-gating split below)
        val needBoth = deleteActions.nonEmpty || notMatched.nonEmpty
        val frame =
          if (needBoth)
            frame0.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          else frame0
        try {
          val keep = frame.filter(col("_g_action") >= 0 &&
            !col("_g_action").isin(deleteActions: _*))
          // WHEN NOT MATCHED inserts (action ids 1000..1999) are genuinely
          // NEW rows entering through user-facing DML, so declared
          // drop/quarantine expectations gate them like any ingestion;
          // matched/not-matched-by-source updates re-write ALREADY-ADMITTED
          // rows and stay exempt (a late expectation must not swallow them)
          val insertPred = col("_g_action") >= 1000 && col("_g_action") < 2000
          val writes =
            if (notMatched.isEmpty) projectOut(keep)
            else TransactionalWrite
              .gateIngestion(t, projectOut(keep.filter(insertPred)))
              .unionByName(projectOut(keep.filter(!insertPred)))
          val upCommits = TransactionalWrite.writeFiles(spark, t, writes,
            CommitOp.Merge, internal = true)
          val delCommits =
            if (deleteActions.isEmpty) Nil
            else {
              val keyCols = (t.rangeColumns ++ t.hashColumns).distinct
              val delRows = tombstoneProjection(
                frame.filter(col("_g_action").isin(deleteActions: _*)),
                sch, keyCols, GraftMerge.targetTop)
              TransactionalWrite.writeFiles(spark, t, delRows,
                CommitOp.Rewrite, tombstone = true)
            }
          publish(upCommits ++ delCommits, heads)
        } finally if (needBoth) frame.unpersist()
      } else rewriteFiles(files, heads, bucketAligned = false) { target =>
        // rewrite-mode MERGE: same insert-gating split as the delta path
        // (NOT MATCHED rows are new data; rewritten rows are exempt). The
        // union consumes the target twice only when insert clauses exist.
        val keep = withActions(target)
          .filter(!col("_g_action").isin((deleteActions :+ Drop): _*))
        val insertPred = col("_g_action") >= 1000 && col("_g_action") < 2000
        if (notMatched.isEmpty) projectOut(keep)
        else TransactionalWrite
          .gateIngestion(t, projectOut(keep.filter(insertPred)))
          .unionByName(projectOut(keep.filter(!insertPred)))
      }
    }
  }

  /** Delta MERGE is exact iff: update clauses only touch use_last-family
    * tables (whole matched rows are re-written — see [[deltaUpdateOpsOk]]),
    * and delete clauses can ride tombstone runs (bucket-merge-supported,
    * no skip_merge_on_read; CDC is already rejected by mergeIntoClauses).
    * Insert-only merges are always eligible: NOT MATCHED keys are fresh,
    * so any merge operator sees a first contribution. */
  private def deltaMergeEligible(t: TableInfo,
      matched: Seq[MergeMatchedClause],
      notMatchedBySource: Seq[MergeMatchedClause]): Boolean = {
    val updateClauses = (matched ++ notMatchedBySource).exists(_.set.isDefined)
    val deleteClauses = (matched ++ notMatchedBySource).exists(_.set.isEmpty)
    val setCols = (matched ++ notMatchedBySource)
      .flatMap(_.set.toSeq.flatMap(_.keySet)).toSet
    val opsOk = !updateClauses || deltaUpdateOpsOk(t, setCols)
    val delOk = !deleteClauses ||
      (!t.properties.get(TableInfo.SkipMergeOnReadProp).contains("true") &&
        graft.read.BucketMergeRead.supports(t, schema, Nil))
    opsOk && delOk
  }

  /** Delete physical files no longer referenced by any retained version and
    * prune version history (C11 TTL sweeper, CleanExpiredData.scala).
    * Files must be older than `retainMs` AND unreferenced by every version
    * the log compaction below retains (all versions newer than the cutoff
    * plus the per-partition boundary base) — head-only liveness would
    * delete files that a still-time-travel-reachable version references
    * whenever a recent compaction replaced a long-lived file. */
  def vacuum(retainMs: Long = 0L): Long = {
    val cutoff = System.currentTimeMillis() - retainMs
    // registered shallow clones keep their referenced files alive: a
    // source-side vacuum must never break a clone (clone -> source vacuum
    // -> clone still reads)
    // one chunked commit fetch for ALL retained versions (filesAtMany) —
    // a filesAt per version paid a getCommits round per retained line
    val live = resolver
      .filesAtMany(tablePath, store.retainedVersions(tablePath, cutoff))
      .map(_.file.path).toSet ++
      cloneReferencedFiles()
    val dataDir = java.nio.file.Paths.get(tablePath, "data")
    if (!java.nio.file.Files.exists(dataDir)) return 0L
    // Distributed sweep: one task per commit directory (the immediate
    // children of data/), so listing and deletion scale out with the table
    // instead of walking the whole tree on the driver.
    val commitDirs = {
      val s = java.nio.file.Files.list(dataDir)
      try s.iterator().asScala.map(_.toAbsolutePath.toString).toVector
      finally s.close()
    }
    if (commitDirs.isEmpty) return 0L
    val liveB = spark.sparkContext.broadcast(live)
    val deleted = spark.sparkContext
      .parallelize(commitDirs, math.min(commitDirs.size, 64))
      .map { dir =>
        var n = 0L
        val it = java.nio.file.Files.walk(java.nio.file.Paths.get(dir)).iterator()
        while (it.hasNext) {
          val p = it.next()
          if (java.nio.file.Files.isRegularFile(p)
              && p.getFileName.toString.endsWith(".parquet")
              && !liveB.value.contains(p.toAbsolutePath.toString)
              && java.nio.file.Files.getLastModifiedTime(p).toMillis < cutoff) {
            java.nio.file.Files.delete(p); n += 1
          }
        }
        n
      }.sum().toLong
    liveB.destroy()
    // History at-or-before the cutoff now references deleted files — prune it
    // so snapshot resolution stays O(heads + retained history) (C11;
    // reference cleanMetaUptoTime).
    store.compactVersionLog(tablePath, cutoff)
    deleted
  }

  /** Partition TTL (C11): expire partitions whose newest commit is older
    * than `graft.partition.ttl.days`. */
  def cleanExpiredPartitions(nowMs: Long = System.currentTimeMillis()): Seq[String] =
    info.properties.get("graft.partition.ttl.days") match {
      case None => Nil
      case Some(days) =>
        val cutoff = nowMs - days.toLong * 24 * 3600 * 1000
        val expired = partitions.filter(_.timestamp < cutoff).map(_.partitionDesc)
        // one commit for the whole sweep: crash-atomic and O(1) commits
        // where a per-desc loop paid one transaction per expired partition
        store.dropPartitions(tablePath, expired)
        expired
    }

  // ------------------------------------------------- TTL properties (C11)
  // Fluent setters matching the reference's LakeSoulTable.scala:525-548;
  // the TTLs are table properties consumed by the sweepers below (the
  // reference's external CleanExpiredData job reads the same two fields).

  /** Partition TTL in days: partitions with no commit newer than this are
    * dropped by [[cleanExpiredPartitions]]. */
  /** Data-quality expectation on every future write: rows failing
    * `predicate` are failed/dropped/quarantined per `action`
    * (TransactionalWrite.applyExpectations). `fail` is a hard check
    * constraint; `drop` removes violating rows; `quarantine` removes them
    * AND persists them under `<tablePath>/_quarantine` (read back via
    * [[quarantined]]). */
  def expect(name: String, predicate: String,
      action: String = "fail"): GraftTable = {
    require(Set("fail", "drop", "quarantine")(action),
      s"action must be fail|drop|quarantine, got '$action'")
    if (action == "fail")
      setProperties(Map(s"graft.check.$name" -> predicate))
    else setProperties(Map(
      s"graft.expect.$name" -> predicate,
      s"graft.expect.$name.action" -> action))
    this
  }

  /** Rows quarantined by `expect(..., action = "quarantine")`: source
    * columns + `_g_violations` (names of the failed expectations) +
    * `_g_expect_ts`. Empty frame with that shape when nothing has been
    * quarantined yet. */
  def quarantined: DataFrame = {
    val dir = new java.io.File(tablePath, "_quarantine")
    if (dir.isDirectory && dir.list().exists(_.endsWith(".parquet")) ||
        dir.isDirectory && dir.list().exists(!_.startsWith("_")))
      spark.read.parquet(dir.getPath)
    else spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      schema.add("_g_violations",
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.StringType))
        .add("_g_expect_ts", org.apache.spark.sql.types.TimestampType))
  }

  /** AUTO RE-BUCKETING (100 TB lifecycle): the bucket count is fixed at
    * creation, so a table that grows 100x ends up with huge buckets —
    * long merge tasks, capped parallelism. With the
    * `graft.bucket.targetBytes` property set, this check re-buckets
    * (newBucketNum compaction — one full rewrite) to the next power-of-2
    * count that brings avg live bytes/bucket back under target. Growth is
    * geometric, so a table pays at most log2(growth) rewrites over its
    * lifetime; the CompactionDaemon calls this each sweep. Returns the new
    * bucket count when it re-bucketed. */
  def autoRebucket(): Option[Int] =
    info.properties.get("graft.bucket.targetBytes").map(_.toLong)
      .filter(_ > 0).filter(_ => info.hasPrimaryKey).flatMap { target =>
        val live = liveFiles.map(_.file.size).sum
        val n = info.bucketNum
        if (live / math.max(1, n) <= target) None
        else {
          var k = n
          while (live / k > target) k *= 2
          compaction(CompactionOptions(newBucketNum = Some(k)), _ => true)
          Some(k)
        }
      }

  /** Opt in to [[autoRebucket]] at `targetBytes` avg bucket size. */
  def setBucketTargetBytes(targetBytes: Long): GraftTable = {
    setProperties(Map("graft.bucket.targetBytes" -> targetBytes.toString)); this
  }

  def setPartitionTtl(days: Int): GraftTable = {
    setProperties(Map("graft.partition.ttl.days" -> days.toString)); this
  }

  def cancelPartitionTtl(): GraftTable = {
    unsetProperty("graft.partition.ttl.days"); this
  }

  /** Redundant-data (compaction) TTL in days: files superseded by compaction
    * or rewrite stay readable for time travel this long; after that
    * [[cleanExpiredRedundantData]] deletes them and prunes the version log. */
  def setCompactionTtl(days: Int): GraftTable = {
    setProperties(Map("graft.compaction.ttl.days" -> days.toString)); this
  }

  def cancelCompactionTtl(): GraftTable = {
    unsetProperty("graft.compaction.ttl.days"); this
  }

  /** Redundant-data TTL sweep (C11; reference CleanExpiredData's
    * redundant-data branch): [[vacuum]] with retention read from
    * `graft.compaction.ttl.days`. No-op when the property is unset. */
  def cleanExpiredRedundantData(): Long =
    info.properties.get("graft.compaction.ttl.days") match {
      case None => 0L
      case Some(days) => vacuum(days.toLong * 24 * 3600 * 1000)
    }

  /** Partition-scoped old-version cleanup (reference
    * `cleanupPartitionData`, LakeSoulTable.scala:587-596): delete files of
    * ONE partition that only versions STRICTLY OLDER than the boundary
    * version (the newest at-or-before `toTimeMs`) reference. The boundary
    * version itself stays readable — any `snapshotAt(T)` with T >= its
    * timestamp resolves to it or newer; time travel to versions before it
    * fails afterwards (matching the reference, which deletes that slice of
    * data+meta). Other partitions' history is untouched — run [[vacuum]]
    * for a table-wide sweep that also prunes the version log. */
  def cleanupPartitionData(partitionDesc: String, toTimeMs: Long): Long = {
    val versions = store.partitionVersions(tablePath, partitionDesc)
    val (oldV, newV) = versions.partition(_.timestamp <= toTimeMs)
    // retained: every post-boundary version (incl. the head, which is the
    // last entry of whichever side holds it) PLUS the newest at-or-before
    // version — a snapshotAt(T) for T in (boundary, next commit) resolves
    // to that boundary version, so its files must survive; only files
    // exclusively owned by strictly-older versions are deletable
    val retained = resolver.filesAtMany(tablePath, newV ++ oldV.lastOption)
      .map(_.file.path).toSet ++
      cloneReferencedFiles() // registered clones keep their files (see vacuum)
    val old = resolver.filesAtMany(tablePath, oldV.dropRight(1))
      .map(_.file.path).distinct
    var deleted = 0L
    old.filterNot(retained).foreach { p =>
      if (java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(p)))
        deleted += 1
    }
    deleted
  }

  /** Roll a partition head back to an old version (C10). Refused when a
    * re-bucket lies between that version and now: the version's files
    * were bucketed under a different key->bucket mapping than the rest of
    * the table, and a PER-PARTITION rollback cannot also move the
    * table-level bucketNum without breaking every other partition — use
    * whole-table [[restore]], which restores the count too. */
  def rollbackPartition(partitionDesc: String, toVersion: Int): Unit = {
    val t = info
    store.partitionVersions(tablePath, partitionDesc)
      .find(_.version == toVersion).map(_.timestamp).foreach { ts =>
        graft.meta.RebucketLog.horizon(t.properties).filter(ts < _).foreach(
          h => throw new IllegalArgumentException(
            s"rollbackPartition($partitionDesc, v$toVersion) targets a " +
              s"version older than the retained re-bucket event horizon " +
              s"$h: whether it crosses a re-bucket is no longer decidable"))
        require(
          GraftTable.bucketNumAt(ts, t.properties, t.bucketNum) == t.bucketNum,
          s"rollbackPartition($partitionDesc, v$toVersion) crosses a " +
            "re-bucket boundary: that version's files use a different " +
            "bucket count; use whole-table restore instead")
      }
    store.rollbackPartition(tablePath, partitionDesc, toVersion)
  }

  /** Time-based rollback (reference LakeSoulTable.scala:574-585): resolve
    * the newest version at-or-before `toTime` (`yyyy-MM-dd HH:mm:ss`,
    * optional zone id) and roll back to it; no-op when no version predates
    * the time — matching the reference. */
  def rollbackPartition(partitionDesc: String, toTime: String,
      timeZoneID: String): Unit = {
    val zone =
      if (timeZoneID.isEmpty ||
        !java.time.ZoneId.getAvailableZoneIds.contains(timeZoneID))
        java.time.ZoneId.systemDefault()
      else java.time.ZoneId.of(timeZoneID)
    val ms = java.time.LocalDateTime.parse(toTime.replace(' ', 'T'))
      .atZone(zone).toInstant.toEpochMilli
    resolver.versionUptoTime(tablePath, partitionDesc, ms)
      .foreach(pi => rollbackPartition(partitionDesc, pi.version))
  }

  def dropPartition(partitionDesc: String): Unit =
    store.dropPartition(tablePath, partitionDesc)

  /** Whole-table RESTORE (beyond-ref; the table-wide companion of C10's
    * per-partition rollback — the operation Delta ships as RESTORE TABLE
    * and Iceberg as rollback_to_timestamp): atomically repoint EVERY
    * partition to its state as of `toTime` (`yyyy-MM-dd HH:mm:ss`,
    * optional zone id), in ONE meta commit — a concurrent reader sees
    * either the old table or the restored one, never a mix (N sequential
    * rollbackPartition calls cannot promise that). Partitions created
    * after the boundary are dropped. Metadata-only: O(partitions), no
    * data IO, and the restore is itself a commit — time-travelable, and
    * undoable by restoring to just before it. Files older than the
    * cleanup/TTL horizon may be gone (same contract as rollbackPartition
    * and time travel: restore targets must lie within the retention
    * window). Returns the partitions whose head moved. */
  def restore(toTime: String, timeZoneID: String = ""): Seq[String] = {
    val zone =
      if (timeZoneID.isEmpty ||
        !java.time.ZoneId.getAvailableZoneIds.contains(timeZoneID))
        java.time.ZoneId.systemDefault()
      else java.time.ZoneId.of(timeZoneID)
    val ms = java.time.LocalDateTime.parse(toTime.replace(' ', 'T'))
      .atZone(zone).toInstant.toEpochMilli
    restoreToTimestamp(ms)
  }

  /** [[restore]] with an epoch-millis boundary (inclusive — the same
    * boundary `snapshotAt` reads, so `restore(ts)` makes `toDF` return
    * exactly what `snapshotAt(ts)` returned before it). */
  def restoreToTimestamp(ms: Long): Seq[String] = {
    import graft.meta.RebucketLog
    // past the event-log prune horizon the bucket count at `ms` is not
    // reconstructible — restoring there could repoint old-mapping files
    // under a silently-wrong count (the duplicate-key state RebucketMix
    // pins). Unreachable in practice (256 retained re-bucket events).
    RebucketLog.horizon(info.properties).filter(ms < _).foreach(h =>
      throw new IllegalArgumentException(
        s"restore target $ms predates the retained re-bucket event " +
          s"horizon $h: the bucket count in effect then is no longer " +
          "recorded; restore to a boundary at or after the horizon"))
    // restoring across a re-bucket must also restore the bucket COUNT:
    // the repointed files carry the mapping in effect at the boundary,
    // and the next upsert buckets under info.bucketNum — a mismatch
    // splits the same key across merge groups (duplicate rows; pinned in
    // RebucketMixSuite). The count is resolved and flipped INSIDE the
    // store's restore critical section: a two-call flip let a concurrent
    // PK writer commit old-count files between them, its expectedBucketNum
    // CAS passing against the not-yet-flipped info.
    store.restoreTable(tablePath, ms, infoUpdate = Some { cur =>
      val target = RebucketLog.bucketNumAt(ms, cur.properties, cur.bucketNum)
      if (target == cur.bucketNum) cur
      else {
        // the restore is itself a mapping change for diff windows. The
        // event STARTS at the pending marker's anchor (the file store sets
        // it before the heads move): after a crash-and-re-run, the heads
        // carried the restored mapping from the CRASHED attempt on — an
        // event stamped only at recovery time would leave that gap
        // unrecorded once the marker clears.
        val ts0 = cur.properties.get(MetaStore.RestorePendingProp)
          .flatMap(_.split(":").lift(1)).map(_.toLong)
          .getOrElse(System.currentTimeMillis())
        cur.copy(bucketNum = target, properties = RebucketLog.appendClosed(
          cur.properties, ts0, System.currentTimeMillis(),
          cur.bucketNum, target))
      }
    }).map(_.partitionDesc)
  }

  /** [[restore]] to a 1-based table-level commit version — the same
    * numbering `history`, `CALL graft.history` and SQL `VERSION AS OF`
    * use. */
  def restoreToVersion(v: Int): Seq[String] =
    restoreToTimestamp(timestampOfVersion(v))

  /** Roll forward interrupted maintenance (SQL: `CALL graft.repair`).
    * Two crash states leave a table loudly-or-slowly degraded until an
    * operator intervenes; this is the one-call intervention:
    *
    *  - an unfinished whole-table RESTORE (file store, crash between head
    *    repointing and the bucket-count flip): writers refuse with the
    *    pending marker's guidance — re-runs the recorded restore, which
    *    completes the pair and clears the marker;
    *  - a crashed RE-BUCKET's open mapping marker: reads stay correct but
    *    conservative (id-derived point pruning and storage-partitioned
    *    joins off, flip-spanning windows on the split/cross paths) until a
    *    completed whole-table rewrite closes it — runs a full whole-table
    *    compaction, which rewrites every partition under the current count
    *    and closes the marker.
    *
    * Idempotent; returns true when something needed repair. */
  def repair(): Boolean = {
    var did = false
    info.properties.get(MetaStore.RestorePendingProp).foreach { v =>
      restoreToTimestamp(v.split(":").head.toLong)
      did = true
    }
    if (graft.meta.RebucketLog.hasOpen(info.properties)) {
      compaction()
      did = true
    }
    did
  }

  // ------------------------------------------------------------------- DDL

  /** ALTER TABLE ADD COLUMN (C12, alterTableCommands.scala:48-310) —
    * additive only; existing files read the new column as null.
    * `position`: `None` appends at the end, `Some(None)` is FIRST,
    * `Some(Some(after))` is AFTER `after` — threaded here so ADD COLUMN
    * ... FIRST/AFTER is ONE schema commit (a separate
    * updateColumnPosition call would let a failure or concurrent reader
    * between the two commits observe the column appended at the end). */
  def addColumn(name: String, dataType: org.apache.spark.sql.types.DataType,
      nullable: Boolean = true, comment: Option[String] = None,
      position: Option[Option[String]] = None): Unit = {
    val t = info
    val cur = schema
    require(!cur.fieldNames.contains(name), s"column '$name' already exists")
    // files written before the column existed read it as NULL — a NOT NULL
    // claim on such a column would make codegen skip the null check and
    // surface garbage zeros (same contract as updateColumnNullability)
    require(nullable, s"cannot ADD a NOT NULL column '$name': existing " +
      "files read it as null (add it nullable, backfill, then it still " +
      "must stay nullable — merge-on-read cannot promise NOT NULL)")
    var f = StructField(name, dataType, nullable)
    comment.foreach(c => f = f.withComment(c))
    val fields = position match {
      case None => cur.fields :+ f
      case Some(None) => f +: cur.fields
      case Some(Some(a)) =>
        require(cur.fieldNames.contains(a), s"no column '$a' to position after")
        cur.fields.flatMap(g => if (g.name == a) Seq(g, f) else Seq(g))
    }
    store.updateTableInfo(t.copy(schemaJson = StructType(fields).json))
  }

  /** ALTER TABLE ALTER COLUMN ... COMMENT (C12). */
  def updateColumnComment(name: String, comment: String): Unit = {
    val t = info
    val cur = schema
    require(cur.fieldNames.contains(name), s"no column '$name'")
    store.updateTableInfo(t.copy(schemaJson = StructType(cur.fields.map(f =>
      if (f.name == name) f.withComment(comment) else f)).json))
  }

  /** ALTER TABLE ALTER COLUMN ... DROP NOT NULL — relaxation only; existing
    * files may already contain nulls, so tightening is rejected
    * (alterTableCommands.scala:48-310). */
  def updateColumnNullability(name: String, nullable: Boolean): Unit = {
    val t = info
    val cur = schema
    require(cur.fieldNames.contains(name), s"no column '$name'")
    require(nullable || t.hashColumns.contains(name),
      s"cannot add NOT NULL to existing column '$name' (only relaxation is safe)")
    require(!(nullable && t.hashColumns.contains(name)),
      s"primary-key column '$name' must stay non-nullable")
    store.updateTableInfo(t.copy(schemaJson = StructType(cur.fields.map(f =>
      if (f.name == name) f.copy(nullable = nullable) else f)).json))
  }

  /** ALTER TABLE ALTER COLUMN ... TYPE — WIDENING only (the promotions
    * Spark's parquet readers perform at scan time, so existing files stay
    * readable: integral upcasts, float->double, integral->double, and
    * scale-preserving decimal precision growth; reference
    * alterTableCommands.scala:48-310). Primary-key columns are rejected:
    * bucket placement murmur3-hashes the PHYSICAL type, so widening a pk
    * column would silently re-home every existing key. */
  def updateColumnType(name: String, to: org.apache.spark.sql.types.DataType): Unit = {
    val t = info
    val cur = schema
    require(cur.fieldNames.contains(name), s"no column '$name'")
    require(!t.hashColumns.contains(name),
      s"cannot change the type of primary-key column '$name' " +
        "(bucket placement hashes the physical type)")
    val from = cur(name).dataType
    require(widens(from, to),
      s"cannot change column '$name': $from -> $to is not a widening conversion")
    store.updateTableInfo(t.copy(schemaJson = StructType(cur.fields.map(f =>
      if (f.name == name) f.copy(dataType = to) else f)).json))
  }

  private def widens(from: org.apache.spark.sql.types.DataType,
      to: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    (from, to) match {
      case (a, b) if a == b => true
      case (ByteType, ShortType | IntegerType | LongType) => true
      case (ShortType, IntegerType | LongType) => true
      case (IntegerType, LongType) => true
      case (FloatType, DoubleType) => true
      case (ByteType | ShortType | IntegerType, DoubleType) => true
      case (a: DecimalType, b: DecimalType) =>
        b.scale == a.scale && b.precision >= a.precision
      case _ => false
    }
  }

  /** ALTER TABLE ALTER COLUMN ... FIRST / AFTER — metadata-only reorder
    * (files are name-bound, scans project by name, so position is purely
    * the SELECT * presentation order). */
  def updateColumnPosition(name: String, after: Option[String]): Unit = {
    val t = info
    val cur = schema
    require(cur.fieldNames.contains(name), s"no column '$name'")
    val moved = cur(name)
    val rest = cur.fields.filter(_.name != name)
    val fields = after match {
      case None => moved +: rest
      case Some(a) =>
        require(rest.exists(_.name == a), s"no column '$a' to position after")
        rest.flatMap(f => if (f.name == a) Seq(f, moved) else Seq(f))
    }
    store.updateTableInfo(t.copy(schemaJson = StructType(fields).json))
  }

  /** ALTER TABLE SET/UNSET TBLPROPERTIES (C12). */
  def setProperties(props: Map[String, String]): Unit = {
    val t = info
    store.updateTableInfo(t.copy(properties = t.properties ++ props))
  }

  def unsetProperty(key: String): Unit = {
    val t = info
    store.updateTableInfo(t.copy(properties = t.properties - key))
  }

  def dropTable(): Unit = store.dropTable(tablePath)

  // -------------------------------------------------------------- helpers

  // ------------------------------------------------- tiered rewrite helpers
  // Predicate analysis happens over the pre-analysis ColumnNode tree via
  // PredicateShim (the nodes are private[sql]): conjunct split, referenced
  // columns, and PK-equality extraction.

  private def condConjuncts(cond: Column): Seq[Column] =
    org.apache.spark.sql.graft.PredicateShim.conjuncts(cond)

  private def refNames(c: Column): Option[Set[String]] =
    org.apache.spark.sql.graft.PredicateShim.refNames(c)

  /** Partition descs whose RANGE VALUES satisfy `cond` — evaluated over the
    * partition metadata only (a tiny local job over N descs; no data scan).
    * Only valid when `cond` references range columns exclusively. */
  private def partitionsMatching(cond: Column, descs: Seq[String]): Set[String] = {
    val t = info
    val sch = schema
    if (descs.isEmpty) return Set.empty
    val rows = descs.map { d =>
      val kv = d.split(",").map { s =>
        val i = s.indexOf('='); s.substring(0, i) -> s.substring(i + 1)
      }.toMap
      org.apache.spark.sql.Row.fromSeq(d +: t.rangeColumns.map { c =>
        kv.getOrElse(c, TransactionalWrite.NullSentinel) match {
          case TransactionalWrite.NullSentinel => null
          case TransactionalWrite.EmptySentinel => ""
          case v => v
        }
      })
    }
    val raw = spark.createDataFrame(spark.sparkContext.parallelize(rows, 1),
      StructType(StructField("__g_desc", org.apache.spark.sql.types.StringType) +:
        t.rangeColumns.map(c =>
          StructField(c, org.apache.spark.sql.types.StringType))))
    val typed = t.rangeColumns.foldLeft(raw)((d, c) =>
      d.withColumn(c, col(c).cast(sch(c).dataType)))
    typed.filter(cond).select("__g_desc").collect().map(_.getString(0)).toSet
  }

  /** The minimal file set that can contain rows matching `cond`:
    *  1. partition pruning on metadata via the predicate's range-column
    *     conjuncts;
    *  2. bucket pruning when the conjuncts pin EVERY primary-key column to a
    *     literal (pmod-murmur3 of the values — M6);
    *  3. a probe scan over the remaining candidates (only when range
    *     partitioning leaves several candidates) to drop partitions with no
    *     matching rows. */
  private def targetFiles(cond: Column): Seq[ResolvedFile] = {
    val t = info
    val conj = condConjuncts(cond)
    val rangeSet = t.rangeColumns.toSet

    // tier 1: metadata partition pruning by partition-only conjuncts
    val partConj = conj.filter(n => refNames(n) match {
      case Some(rs) => rs.nonEmpty && rs.subsetOf(rangeSet)
      case None => false
    })
    // tier-1 fast path: every range column STRING-typed and pinned by a
    // string-literal equality -> the candidate desc is fully determined
    // (identity rendering) and resolves by META POINT LOOKUP — no head
    // listing, no local prune job (the DML planning cost at 100k+
    // partitions). Restricted to string columns because typed literals
    // (timestamps, doubles) have no guaranteed string rendering match; an
    // over-broad candidate here is safe — the rewrite re-applies the full
    // predicate row-level — but a mis-rendered desc would silently target
    // nothing, so anything non-string falls back to typed evaluation.
    val rangeEqLit: Map[String, Any] =
      org.apache.spark.sql.graft.PredicateShim.equalities(cond)
        .filter { case (k, _) => rangeSet.contains(k) }
    val sch = schema
    val pinnedStrings = t.rangeColumns.nonEmpty &&
      t.rangeColumns.forall(c => rangeEqLit.get(c).exists(v =>
        sch(c).dataType == org.apache.spark.sql.types.StringType &&
          (v.isInstanceOf[String] ||
            v.isInstanceOf[org.apache.spark.unsafe.types.UTF8String])))
    var candidates: Set[String] =
      if (pinnedStrings) {
        val desc = t.rangeColumns.map { c =>
          val s = String.valueOf(rangeEqLit(c))
          val enc = if (s.isEmpty) TransactionalWrite.EmptySentinel else s
          s"$c=$enc"
        }.mkString(",")
        if (store.partitionHead(tablePath, desc).isDefined) Set(desc)
        else Set.empty
      } else {
        val allDescs = partitions.map(_.partitionDesc)
        if (partConj.isEmpty || t.rangeColumns.isEmpty) allDescs.toSet
        else partitionsMatching(partConj.reduce(_ && _), allDescs)
      }

    // tier 2: single-bucket narrowing on a full PK-equality predicate,
    // only while the files' key->bucket mapping is the current count's:
    // mid re-bucket a key's rows may sit in its old-mapping bucket, so
    // every bucket is read
    val pkEq: Map[String, Any] =
      org.apache.spark.sql.graft.PredicateShim.equalities(cond)
        .filter { case (k, _) => t.hashColumns.contains(k) }
    val bucket: Option[Int] =
      if (t.hasPrimaryKey && t.hashColumns.forall(pkEq.contains))
        Some(TransactionalWrite.bucketOf(spark, schema,
          t.hashColumns.map(c => c -> pkEq(c)), t.bucketNum))
      else None
    def inBucket(files: Seq[ResolvedFile]): Seq[ResolvedFile] = bucket match {
      case Some(b) if RebucketLog.settledAt(t.properties, t.bucketNum, files) =>
        files.filter(f => f.file.bucketId == b || f.file.bucketId < 0)
      case _ => files
    }

    // tier 3: probe only when several range partitions remain AND the
    // predicate has non-partition conjuncts (the probe scans candidates only)
    if (t.rangeColumns.nonEmpty && candidates.size > 1 &&
        conj.exists(n => !refNames(n).exists(_.subsetOf(rangeSet)))) {
      val probeFiles = inBucket(resolver.currentFiles(tablePath, candidates.contains))
      val hit = GraftRead.read(spark, t, probeFiles).filter(cond)
        .select(t.rangeColumns.map(c => col(c).cast("string")): _*)
        .distinct().collect().map { r =>
          t.rangeColumns.zipWithIndex.map { case (c, i) =>
            val v = r.getString(i)
            val enc = if (v == null) TransactionalWrite.NullSentinel
              else if (v.isEmpty) TransactionalWrite.EmptySentinel else v
            s"$c=$enc"
          }.mkString(",")
        }.toSet
      candidates = candidates.intersect(hit)
    }

    // tier 4: metadata file skipping on min/max stats — whole
    // (partition, bucket) groups only, so the rewrite invariant (all runs
    // of a targeted bucket replaced together) is preserved
    val resolved = inBucket(resolver.currentFiles(tablePath, candidates.contains))
    val filters = org.apache.spark.sql.graft.PredicateShim.sourceFilters(cond)
    graft.read.StatsSkipping.pruneGroups(t, schema, resolved, filters)
  }

  /** File-targeted rewrite: read-merge ONLY `files`, transform, and publish
    * ONE Merge commit per partition containing `del` entries for every
    * replaced file plus the rewritten rows as a new sorted run — untouched
    * buckets/partitions keep their file lists byte-identical. All runs of a
    * targeted (partition, bucket) are replaced together, so any merge
    * operator stays exact. */
  private def rewriteFiles(
      files: Seq[ResolvedFile],
      expectedHeads: Map[String, Int],
      bucketAligned: Boolean = true)(
      fn: DataFrame => DataFrame): Unit = {
    if (files.isEmpty) return
    val t = info
    val current = GraftRead.read(spark, t, files, keepCdcRows = true)
    val rewritten = fn(current)
    val adds = TransactionalWrite.writeFiles(
      spark, t, rewritten, CommitOp.Rewrite, skipPreMerge = bucketAligned)
    val delsByDesc: Map[String, Seq[DataFileInfo]] =
      files.groupBy(_.partitionDesc).map { case (d, fs) =>
        d -> fs.map(_.file.copy(fileOp = "del"))
      }
    val addByDesc = adds.map(c => c.partitionDesc -> c).toMap
    val commits = (delsByDesc.keySet ++ addByDesc.keySet).toSeq.map { d =>
      val addC = addByDesc.get(d)
      DataCommitInfo(
        addC.map(_.commitId).getOrElse(MetaStore.newCommitId()), d,
        delsByDesc.getOrElse(d, Nil) ++ addC.map(_.files).getOrElse(Nil),
        CommitOp.Rewrite, 0L)
    }
    publish(commits, expectedHeads)
  }

  /** Empty `update` commits expiring entire partitions (metadata-only delete,
    * DeleteCommand.scala:29-138). */
  private def expireCommitsFor(descs: Set[String],
      op: String = CommitOp.Update): Seq[DataCommitInfo] =
    descs.toSeq.map(d =>
      DataCommitInfo(MetaStore.newCommitId(), d, Nil, op, 0L))

  /** Partition heads at this instant — capture at the START of an optimistic
    * attempt and pass to [[publish]] so the CAS detects ANY commit that
    * interleaves after the snapshot was read (not just ones racing the
    * publish call itself). */
  private def headsNow: Map[String, Int] =
    partitions.map(p => p.partitionDesc -> p.version).toMap

  /** Publish with publish-time heads — ONLY safe for operations that commute
    * with concurrent commits (append / delta-upsert runs, expire-newest-wins
    * deletes). Snapshot-dependent rewrites must pass the attempt-start heads
    * explicitly. */
  private def publish(commits: Seq[DataCommitInfo]): Unit =
    publish(commits, headsNow)

  private def publish(commits: Seq[DataCommitInfo],
      heads: Map[String, Int],
      expectedBucket: Option[Int] = None): Unit = {
    if (commits.isEmpty) return
    val expected = commits.map(c =>
      c.partitionDesc -> heads.getOrElse(c.partitionDesc, -1)).toMap
    store.commit(tablePath, commits, expected, expectedBucket)
  }

  /** Writer-side half of the empty-table re-bucket CAS: commits of
    * PK-BUCKETED data carry the bucket count the files were written under,
    * verified at publish inside the store's critical section. Brand-new
    * partitions commit with expected version -1, so without this a first
    * write racing [[MetaStore.rebucketIfNoPartitions]] could land
    * old-bucket files under the new bucketNum (RebucketMixSuite's
    * duplicate-key state) with no CAS to catch it. */
  private def bucketGuard(t: TableInfo): Option[Int] =
    if (t.hasPrimaryKey) Some(t.bucketNum) else None

  /** Additive schema merge on upsert (ImplicitMetadataOperation.scala:116-178). */
  private def mergeSchema(incoming: StructType): Unit = {
    val t = info
    val cur = graft.util.SchemaUtil.fromJson(t.schemaJson)
    val known = cur.fieldNames.toSet
    // a CASE-VARIANT of a known column is the same column under the Spark
    // default spark.sql.caseSensitive=false (normalize renames it before
    // the write) — evolving it as a new field would split the column in two
    val caseSensitive =
      org.apache.spark.sql.internal.SQLConf.get.caseSensitiveAnalysis
    val knownLc = cur.fieldNames.map(_.toLowerCase).toSet
    val added = incoming.fields
      .filterNot(f => known.contains(f.name) ||
        (!caseSensitive && knownLc.contains(f.name.toLowerCase)))
      .map(f => StructField(f.name, f.dataType, nullable = true))
    if (added.nonEmpty) {
      // Schema-merge GATE (reference SchemaEnforcementSuite /
      // LakeSoulOptions.MERGE_SCHEMA_OPTION semantics): precedence is the
      // per-handle writer option (`.option("mergeSchema", ...)` on the
      // DSv1 writer), then the table property, then the session conf.
      // DEFAULT here is true — earlier rounds documented additive
      // evolution as this engine's default (the reference defaults to
      // reject); set either knob to false to get the reference's strict
      // behavior, where a typo'd batch column fails the write instead of
      // silently splitting the table.
      val allow = mergeSchemaOverride
        .orElse(GraftTable.boolSetting(GraftTable.AutoMergeProp, t.properties.get))
        .getOrElse(GraftTable.boolSetting(GraftTable.AutoMergeConf,
          spark.conf.getOption).getOrElse(true))
      if (!allow) throw new IllegalArgumentException(
        s"batch adds columns not in the table schema " +
          s"(${added.map(_.name).mkString(", ")}) and schema merging is " +
          s"disabled: drop them, or enable mergeSchema " +
          s"(writer .option(\"mergeSchema\",\"true\"), table property " +
          s"${GraftTable.AutoMergeProp}, or ${GraftTable.AutoMergeConf})")
      store.updateTableInfo(t.copy(schemaJson = StructType(cur.fields ++ added).json))
    }
  }

  /** Per-handle writer override for the schema-merge gate (DSv1
    * `.option("mergeSchema", ...)`); None = property/conf decide. */
  private var mergeSchemaOverride: Option[Boolean] = None

  /** A handle whose writes allow (true) or reject (false) additive schema
    * changes regardless of table property / session conf. */
  def withMergeSchema(enabled: Boolean): GraftTable = {
    val t = new GraftTable(spark, tablePath, store)
    t.mergeSchemaOverride = Some(enabled)
    t
  }

  private def withRetry[T](body: => T): T = {
    var attempts = 0
    while (true) {
      try return body
      catch {
        case _: MetaRerunException if attempts < 15 =>
          attempts += 1
          // Jittered backoff: a snapshot-dependent rewrite (compaction /
          // copy-on-write) can lose several CAS races in a row against a
          // busy delta writer; without a pause the loser re-reads, rewrites
          // and loses again — a livelock the concurrency suite reproduces.
          // Driver-side sleep only; attempt work itself is already spent.
          Thread.sleep((10L + scala.util.Random.nextInt(20)) *
            math.min(attempts, 5))
      }
    }
    throw new IllegalStateException("unreachable")
  }
}

/** Knobs for [[GraftTable.compaction]] (reference: LakeSoulTable.scala:314-523,
  * LakeSoulSQLConf.scala:201-308). */
case class CompactionOptions(
    fileNumLimit: Option[Int] = None,
    fileSizeLimit: Option[Long] = None,
    newBucketNum: Option[Int] = None)

object GraftTable {
  /** Replication cursor ([[GraftTable.replicateFrom]]): the source commit
    * timestamp this replica has applied up to. */
  val ReplicaCursorProp = "graft.replica.cursor"

  /** Compaction skips single-run partitions when "true"
    * ([[GraftTable.onlySaveOnceCompaction]]). */
  val OnlyOnceCompactionProp = "graft.compaction.onlyOnce"

  /** Wall-clock key->bucket MAPPING-CHANGE events
    * ("start:end:oldN:newN,..." ms, oldest first, pruned to the last 256 —
    * one entry per re-bucket or bucket-reverting restore; a massive
    * rewrite op, so the list stays tiny). Two consumers: every read and
    * diff of a file set plans it under the mapping(s) its files' commits
    * were written with ([[graft.meta.RebucketLog.epochsOf]] — bucket ids
    * are not comparable across a mapping change), and
    * [[GraftTable.restoreToTimestamp]] replays the event log to restore
    * the bucketNum in effect at the target boundary (RESTORE pointing
    * old-mapping files under a new bucketNum would plant the
    * duplicate-key state RebucketMixSuite pins). */
  val RebucketIntervalsProp: String = graft.meta.RebucketLog.Prop

  private[tables] def bucketNumAt(ts: Long,
      props: Map[String, String], current: Int): Int =
    graft.meta.RebucketLog.bucketNumAt(ts, props, current)

  /** "128MB"/"1g"/"4096" → bytes (reference DBUtil.parseMemoryExpression
    * shape; binary units). */
  private[tables] def parseByteSize(s: String): Long = {
    val t = s.trim.toUpperCase
    val (num, mult) =
      if (t.endsWith("KB") || t.endsWith("K")) (t.stripSuffix("KB").stripSuffix("K"), 1L << 10)
      else if (t.endsWith("MB") || t.endsWith("M")) (t.stripSuffix("MB").stripSuffix("M"), 1L << 20)
      else if (t.endsWith("GB") || t.endsWith("G")) (t.stripSuffix("GB").stripSuffix("G"), 1L << 30)
      else if (t.endsWith("B")) (t.stripSuffix("B"), 1L)
      else (t, 1L)
    (num.trim.toDouble * mult).toLong
  }

  /** Reference `LakeSoulTable.registerMergeOperator` (LakeSoulTable.scala:
    * 761-766): mount a no-arg [[graft.mergeop.MergeOp]] class under an
    * explicit function name. The SparkSession is accepted for signature
    * parity; registration is process-wide. */
  def registerMergeOperator(spark: SparkSession, className: String,
      funName: String): Unit =
    graft.mergeop.MergeOps.register(funName, className)

  /** Newline-separated target paths of shallow clones taken from this
    * table ([[GraftTable.cloneTo]]); the table's cleaners keep every file
    * a registered clone still references. */
  val ClonesProp = "graft.clones"

  /** Table property gating additive schema merge on write ("false" =
    * reject new columns, the reference's default). */
  val AutoMergeProp = "graft.schema.autoMerge"
  /** Session-conf form of [[AutoMergeProp]]. */
  val AutoMergeConf = "spark.graft.schema.autoMerge"

  /** The boolean setting `key` as found by `lookup` (a session conf or a
    * table property map); a value other than true/false fails naming the
    * key instead of surfacing mid-operation as a bare parse error. */
  private[graft] def boolSetting(key: String,
      lookup: String => Option[String]): Option[Boolean] =
    lookup(key).map(v => v.toBooleanOption.getOrElse(
      throw new IllegalArgumentException(s"$key must be true or false, got '$v'")))

  /** Resolve requested partition/key columns against the data's field
    * names, case-insensitively when the session is (the Spark default —
    * reference CaseSensitivitySuite accepts `rangePartitions=key` for
    * column `Key`). Returns the SCHEMA's canonical names; ambiguity under
    * case-insensitive resolution and absence both fail loudly. */
  private def resolveColumns(fieldNames: Seq[String], requested: Seq[String],
      what: String): Seq[String] = {
    val caseSensitive =
      org.apache.spark.sql.internal.SQLConf.get.caseSensitiveAnalysis
    requested.map { c =>
      fieldNames.find(_ == c).getOrElse {
        if (caseSensitive)
          throw new IllegalArgumentException(
            s"$what columns not in data: $c")
        else fieldNames.filter(_.equalsIgnoreCase(c)) match {
          case Seq(one) => one
          case Seq() => throw new IllegalArgumentException(
            s"$what columns not in data: $c")
          case many => throw new IllegalArgumentException(
            s"$what column '$c' is ambiguous under case-insensitive " +
              s"resolution: ${many.mkString(", ")}")
        }
      }
    }
  }


  /** Stored-schema nullability is the MERGE-ON-READ contract, not the
    * batch's (reference ImplicitMetadataOperation.scala:106-113): hash/PK
    * columns are forced NOT NULL (present and non-null in every run by
    * construction), every other column is stored NULLABLE — a partial
    * upsert may omit it, and a key first written by such a batch reads it
    * as null (there is no older run to fall through to). Keeping a batch's
    * nullable=false claim would make codegen skip isNullAt on exactly that
    * slot and read garbage 0 — a real bug ModelCheckSuite caught in r12. */
  private def normalizeNullability(schema: StructType,
      hash: Seq[String]): StructType =
    StructType(schema.fields.map { f =>
      if (hash.contains(f.name)) f.copy(nullable = false)
      else f.copy(dataType = nullableType(f.dataType), nullable = true)
    })

  private def nullableType(dt: org.apache.spark.sql.types.DataType)
      : org.apache.spark.sql.types.DataType = dt match {
    case st: StructType => StructType(st.fields.map(f =>
      f.copy(dataType = nullableType(f.dataType), nullable = true)))
    case at: org.apache.spark.sql.types.ArrayType =>
      at.copy(elementType = nullableType(at.elementType), containsNull = true)
    case mt: org.apache.spark.sql.types.MapType =>
      mt.copy(keyType = nullableType(mt.keyType),
        valueType = nullableType(mt.valueType), valueContainsNull = true)
    case other => other
  }

  /** Create a table from an initial DataFrame (cf. LakeSoulTable create +
    * write, SURVEY.md §7.3). */
  def create(
      spark: SparkSession,
      df: DataFrame,
      tablePath: String,
      rangeColumns: Seq[String] = Nil,
      hashColumns: Seq[String] = Nil,
      bucketNum: Int = 4,
      properties: Map[String, String] = Map.empty,
      store: MetaStore = MetaStore.default): GraftTable = {
    val tp = graft.util.PathUtil.local(tablePath)
    val range = resolveColumns(df.columns, rangeColumns, "partition")
    val hash = resolveColumns(df.columns, hashColumns, "partition")
    val schema = normalizeNullability(df.schema, hash)
    store.createTable(TableInfo(
      MetaStore.newCommitId(), new java.io.File(tp).getCanonicalPath,
      schema.json, range, hash, bucketNum, properties))
    val t = new GraftTable(spark, tp, store)
    t.append(df)
    t
  }

  /** Create table metadata with an explicit schema and NO initial data —
    * the CREATE TABLE (DDL) path. */
  def createEmpty(
      spark: SparkSession,
      schema: StructType,
      tablePath: String,
      rangeColumns: Seq[String] = Nil,
      hashColumns: Seq[String] = Nil,
      bucketNum: Int = 4,
      properties: Map[String, String] = Map.empty,
      store: MetaStore = MetaStore.default): GraftTable = {
    val tp = graft.util.PathUtil.local(tablePath)
    val range = resolveColumns(schema.fieldNames, rangeColumns, "partition")
    val hash = resolveColumns(schema.fieldNames, hashColumns, "partition")
    val s = normalizeNullability(schema, hash)
    store.createTable(TableInfo(
      MetaStore.newCommitId(), new java.io.File(tp).getCanonicalPath,
      s.json, range, hash, bucketNum, properties))
    new GraftTable(spark, tp, store)
  }

  def forPath(spark: SparkSession, tablePath: String,
      store: MetaStore = MetaStore.default): GraftTable =
    new GraftTable(spark, graft.util.PathUtil.local(tablePath), store)

  /** Resolve `namespace.table` through the warehouse catalog (C1 forName). */
  def forName(spark: SparkSession, name: String,
      store: MetaStore = MetaStore.default): GraftTable = {
    val path = graft.catalog.GraftCatalog.resolve(spark, name).getOrElse(
      throw new IllegalArgumentException(s"no graft table named '$name'"))
    new GraftTable(spark, path, store)
  }

  /** Create + register under a short name. */
  def createNamed(
      spark: SparkSession,
      name: String,
      df: DataFrame,
      tablePath: String,
      rangeColumns: Seq[String] = Nil,
      hashColumns: Seq[String] = Nil,
      bucketNum: Int = 4,
      properties: Map[String, String] = Map.empty): GraftTable = {
    val t = create(spark, df, tablePath, rangeColumns, hashColumns, bucketNum,
      properties)
    graft.catalog.GraftCatalog.register(spark, name, t.info.tablePath)
    t
  }

  def exists(tablePath: String, store: MetaStore = MetaStore.default): Boolean =
    store.getTableInfo(graft.util.PathUtil.local(tablePath)).isDefined

  /** Reference `LakeSoulTable.isLakeSoulTable` (LakeSoulTable.scala:757-759). */
  def isGraftTable(tablePath: String): Boolean = exists(tablePath)

  /** Drop cached snapshot state for a path (reference `uncached`,
    * LakeSoulTable.scala:624-637). */
  def uncached(tablePath: String, store: MetaStore = MetaStore.default): Unit =
    store.invalidateCache(graft.util.PathUtil.local(tablePath))

  /** Snapshot read handle pinned at-or-before `endTime`, optionally scoped
    * to one partition (reference `forPathSnapshot`,
    * LakeSoulTable.scala:642-660). */
  /** Reference parity: `forPath(path, partitionDesc, partitionVersion)` —
    * one partition at a pinned partition-version number. */
  def forPathPartitionVersion(spark: SparkSession, tablePath: String,
      partitionDesc: String, partitionVersion: Int): DataFrame =
    forPath(spark, tablePath)
      .snapshotAtPartitionVersion(partitionDesc, partitionVersion)

  def forPathSnapshot(spark: SparkSession, tablePath: String, endTime: Long,
      partitionDesc: String = ""): DataFrame = {
    val t = forPath(spark, tablePath)
    t.snapshotAt(endTime,
      if (partitionDesc.isEmpty) _ => true else _ == partitionDesc)
  }

  /** Incremental read over (startTime, endTime], optionally scoped to one
    * partition (reference `forPathIncremental`, LakeSoulTable.scala:662-671). */
  def forPathIncremental(spark: SparkSession, tablePath: String,
      startTime: Long, endTime: Long, partitionDesc: String = ""): DataFrame = {
    val t = forPath(spark, tablePath)
    t.incremental(startTime, endTime,
      if (partitionDesc.isEmpty) _ => true else _ == partitionDesc)
  }

  /** Fluent creation builder (reference `TableCreator`,
    * LakeSoulTable.scala:773-834):
    * {{{
    * GraftTable.createTable(df, path)
    *   .rangePartitions("dt").hashPartitions("id").hashBucketNum(8)
    *   .shortTableName("events").tableProperty("k" -> "v").create()
    * }}} */
  def createTable(data: DataFrame, tablePath: String): TableCreator =
    new TableCreator(data, tablePath)

  final class TableCreator private[GraftTable] (
      data: DataFrame, tablePath: String) {
    private var rangeCols: Seq[String] = Nil
    private var hashCols: Seq[String] = Nil
    private var bucketNum: Int = 4
    private var name: Option[String] = None
    private var props: Map[String, String] = Map.empty

    def rangePartitions(cols: String): TableCreator =
      rangePartitions(cols.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
    def rangePartitions(cols: Seq[String]): TableCreator = { rangeCols = cols; this }
    def hashPartitions(cols: String): TableCreator =
      hashPartitions(cols.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
    def hashPartitions(cols: Seq[String]): TableCreator = { hashCols = cols; this }
    def hashBucketNum(n: Int): TableCreator = { bucketNum = n; this }
    def hashBucketNum(n: String): TableCreator = { bucketNum = n.toInt; this }
    def shortTableName(n: String): TableCreator = { name = Some(n); this }
    def tableProperty(kv: (String, String)): TableCreator = { props = props + kv; this }

    def create(): GraftTable = {
      val t = GraftTable.create(data.sparkSession, data, tablePath,
        rangeCols, hashCols, bucketNum, props)
      name.foreach(n =>
        graft.catalog.GraftCatalog.register(data.sparkSession, n, t.info.tablePath))
      t
    }
  }
}
