package graft.read

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.meta._
import graft.util.SchemaUtil.qcol
import graft.write.TransactionalWrite

/** Snapshot + merge-on-read scan (SURVEY.md §2.1 S1-S9, §2.2).
  *
  * Scan dispatch mirrors the reference's LakeSoulScanBuilder.build
  * (catalog/LakeSoulScanBuilder.scala:104-134):
  *   - no primary key, or `skip_merge_on_read`, or every visible partition is
  *     a single sorted run (freshly written or compacted) -> plain vectorized
  *     parquet scan, no merge;
  *   - otherwise -> merge-on-read: each commit's files are read with the full
  *     table schema (absent columns surface as null — schema evolution,
  *     MergeParquetScan.scala:211-257), tagged with their commit ordinal and
  *     physical column list, unioned, and collapsed per (range, pk) group by
  *     the per-column merge operators.
  *
  * The merge is expressed as codegen'd aggregate expressions (no UDFs), so
  * Catalyst plans a partial/final hash aggregate — map-side combine happens
  * before the shuffle. Dedup-on-write guarantees each run has unique PKs, so
  * the shuffled volume is bounded by live rows, not total written rows.
  * (A shuffle-free bucket-co-located merge via a DSv2 scan reporting
  * HashPartitioning is the planned next step — SURVEY.md §4 J4.)
  */
object GraftRead {

  /** Test toggle: route every multi-epoch window through the cross-bucket
    * one-task-per-partition merge instead of the cursor split — the
    * equivalence ORACLE of SplitWindowSuite / CdcModelCheckSuite (the two
    * paths must agree row-for-row on any history). Plan-time only. */
  @volatile private[graft] var forceCrossBucketRead = false

  def emptyDF(spark: SparkSession, schema: StructType): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)

  /** Whether a snapshot read of this table can route through the DSv2
    * scan's k-way merge (see GraftTable.toDF). */
  def bucketMergeSupported(table: TableInfo, schema: StructType): Boolean =
    BucketMergeRead.opsSupported(table, schema)

  /** Read the given resolved file set as a merged DataFrame.
    * @param keepCdcRows when true (incremental/streaming reads), CDC `delete`
    *                    marker rows are kept (F6 exemption). */
  def read(
      spark: SparkSession,
      table: TableInfo,
      files: Seq[ResolvedFile],
      keepCdcRows: Boolean = false,
      requiredColumns: Option[Seq[String]] = None,
      crossBucketMerge: Boolean = false): DataFrame =
    readTracked(spark, table, files, keepCdcRows, requiredColumns,
      crossBucketMerge)._1

  /** [[read]], additionally reporting whether the read is GROUP-ALIGNED:
    * every file dispatched through the bucket k-way merge — no (desc,
    * bucket) group split across tasks, one Spark partition per bucket id
    * (spanning that bucket's range partitions), rows in key order — with
    * no plain-scan union (whose file packing/splitting can slice or
    * combine groups arbitrarily) and no aggregate fallback (which
    * shuffles). Callers that rewrite the read verbatim (compaction) may
    * then skip their bucket re-shuffle on the write side
    * ([[graft.write.TransactionalWrite.writeFiles]] inputBucketAligned) —
    * at 100 TB that shuffle is a second full pass of the table over the
    * network. r17 (VERDICT r16 items 2/5): the flag is a PRODUCT of this
    * dispatch — set true exactly on the all-groups-bucket-merged branch —
    * replacing the hand-maintained mirror predicate (groupAlignedRead)
    * that could silently drift from the real dispatch. */
  def readTracked(
      spark: SparkSession,
      table: TableInfo,
      files: Seq[ResolvedFile],
      keepCdcRows: Boolean = false,
      requiredColumns: Option[Seq[String]] = None,
      crossBucketMerge: Boolean = false): (DataFrame, Boolean) = {
    val fullSchema = graft.util.SchemaUtil.fromJson(table.schemaJson)
    // column pruning (F1): scan only requested columns + merge keys + the
    // CDC marker; extra service columns are dropped at the end
    val pruned = requiredColumns match {
      case None => fullSchema
      case Some(req) =>
        val need = (table.rangeColumns ++ table.hashColumns ++
          table.cdcColumn.toSeq ++ req).toSet
        StructType(fullSchema.fields.filter(f => need.contains(f.name)))
    }
    val outputCols = requiredColumns.getOrElse(fullSchema.fieldNames.toSeq)
    if (files.isEmpty)
      return (emptyDF(spark, pruned).select(outputCols.map(qcol): _*), false)
    // pre-r12 tables can claim NOT NULL on columns a contributing file
    // lacks — relax like the DSv2 scan does (shared helper; see
    // BucketMergeRead.relaxMissing for the garbage-0 codegen hazard)
    val schema = BucketMergeRead.relaxMissing(pruned, files)

    val skipMerge = table.properties.get(TableInfo.SkipMergeOnReadProp).contains("true")
    val hasTombs = files.exists(f => Tombstone.isTombstone(f.file))
    require(!hasTombs || (table.hasPrimaryKey && !skipMerge),
      "table has tombstone delete runs but the read cannot merge " +
        "(skip_merge_on_read / no primary key); run full compaction() to " +
        "materialize the deletes first")

    // MAPPING-CONSISTENCY gate (every merged read, central): mid re-bucket
    // (open marker: the count flips before the rewrite) a snapshot can mix
    // files bucketed under TWO key->bucket mappings — the per-(partition,
    // bucket) dispatch below is key-disjoint only under one mapping, so a
    // straddling key's old- and new-mapping rows would land in different
    // groups and BOTH surface (and a compaction reading that way BAKES the
    // duplicates in: its write skips dedup by contract). Cut the set at
    // the recorded flip boundaries: cleanly mixed -> the cursor-split read
    // (bucket-parallel sides, one delta-only shuffle); ambiguous (pending
    // restore, unknown/cushioned commit ts) -> the mapping-agnostic
    // cross-bucket merge.
    // r17 (code-review finding): ALIGNMENT additionally requires the file
    // set's single mapping to BE the current one. Between a re-bucket's
    // count flip and its rewrite (crashed re-bucket; the roll-forward is a
    // plain full compaction) the snapshot is a single OLD-mapping epoch —
    // raw-id grouping still reads it exactly, but a write that keeps the
    // read's placement would stamp OLD-mapping bucket ids into a table
    // whose current count differs, splitting keys across merge groups
    // (duplicate pks, missed bucket-pruned point reads). Such reads stay
    // correct but report aligned=false, so the compaction re-shuffles.
    var mappingIsCurrent = false
    val crossForMapping =
      if (!table.hasPrimaryKey || skipMerge || crossBucketMerge) false
      else RebucketLog.epochsOf(table.properties, table.bucketNum, files) match {
        case Some(es) if es.size >= 2 =>
          return (readSplitEpochs(spark, table, es, keepCdcRows,
            requiredColumns), false)
        case Some(es) => // one mapping: raw-id grouping is exact
          mappingIsCurrent = es.headOption.forall(_._1 == table.bucketNum)
          false
        case None => true
      }
    // split by (range partition, bucket): only groups with >1 sorted run
    // pay the merge; single-run groups — the bulk of a regularly-compacted
    // table, plus every bucket a small delta did NOT touch — stream through
    // a plain vectorized scan. Buckets are key-disjoint, so the dispatch is
    // safe at bucket granularity, and at cluster scale it keeps a
    // partition-local upsert from dragging the partition's other buckets
    // onto the row-at-a-time merge path. Tombstone runs force the merge
    // path (they are deletion markers, not data — a plain scan would
    // surface their key-only rows).
    // crossBucketMerge (incremental windows spanning a re-bucket): the
    // bucket-granularity dispatch below is key-disjoint only under ONE
    // key->bucket mapping — a straddling file set must merge per
    // PARTITION with per-(commit,bucket) runs in one global key order
    // (BucketMergeRead.readCrossBucket), no plain-scan split at all
    if ((crossBucketMerge || crossForMapping) && table.hasPrimaryKey && !skipMerge) {
      // the cross merge groups per (commit, bucket id) and never consults
      // table.bucketNum — widen the supports gate's id bound the same way
      // the merged branch below does (a cross window whose old epoch used
      // a LARGER count than current carries ids >= bucketNum)
      val maxId = files.iterator.map(_.file.bucketId).max
      val tm = if (maxId >= table.bucketNum)
        table.copy(bucketNum = maxId + 1) else table
      val df0 =
        if (BucketMergeRead.supports(tm, schema, files))
          BucketMergeRead.readCrossBucket(spark, tm, schema, files)
        else mergeRead(spark, table, schema, files) // PK-agg: bucket-agnostic
      val vis0 = table.cdcColumn match {
        case Some(cdc) if !keepCdcRows => df0.filter(col(cdc) =!= "delete")
        case _ => df0
      }
      // the cross-bucket merge runs one task per range partition, not per
      // (desc, bucket) group — never group-aligned
      return (vis0.select(outputCols.map(qcol).toSeq: _*), false)
    }

    val byGroup = files.groupBy(f => (f.partitionDesc, f.file.bucketId))
    val (multiRun, singleRun) =
      if (!table.hasPrimaryKey || skipMerge)
        (Map.empty[(String, Int), Seq[ResolvedFile]], byGroup)
      else byGroup.partition { case (_, fs) =>
        fs.map(_.commitOrdinal).distinct.size > 1 ||
          fs.exists(f => Tombstone.isTombstone(f.file))
      }

    val plainFiles = singleRun.values.flatten.map(_.file.path).toSeq
    val plain =
      if (plainFiles.isEmpty) None
      else Some(spark.read.schema(schema).parquet(plainFiles: _*))
    var bucketMerged = false
    val merged =
      if (multiRun.isEmpty) None
      else {
        val fs = multiRun.values.flatten.toSeq
        // bucket ids may legitimately EXCEED table.bucketNum mid
        // DOWN-re-bucket: the count flips before the rewrite, so a
        // snapshot read (and the rewrite's own read) sees old-mapping
        // files under the new, smaller count. The ids only drive
        // GROUPING here — this read's dispatch already assumes the file
        // set is mapping-consistent (cross-mapping sets route through
        // crossBucketMerge above) — so widen the grouping count to cover
        // the observed ids instead of falling to the aggregate path
        // (which cannot serve tombstone runs and pays a shuffle; found
        // by the r15 soak: down-re-bucket x tombstones crashed the
        // rewrite's own read).
        val maxId = fs.iterator.map(_.file.bucketId).max
        val tm = if (maxId >= table.bucketNum)
          table.copy(bucketNum = maxId + 1) else table
        // prefer the shuffle-free bucket-aligned k-way merge (M1) — handles
        // schema evolution in-merge; the aggregate-based fallback covers
        // custom merge operators only
        if (BucketMergeRead.supports(tm, schema, fs)) {
          bucketMerged = true
          Some(BucketMergeRead.read(spark, tm, schema, fs))
        } else Some(mergeRead(spark, table, schema, fs))
      }
    val df = (plain, merged) match {
      case (Some(p), Some(m)) => p.select(schema.fieldNames.map(qcol).toSeq: _*)
        .union(m.select(schema.fieldNames.map(qcol).toSeq: _*))
      case (Some(p), None) => p
      case (None, Some(m)) => m
      case (None, None) => emptyDF(spark, schema)
    }

    val visible = table.cdcColumn match {
      // auto-hide delete tombstones (ProcessCDCTableMergeOnRead.scala:17-66)
      case Some(cdc) if !keepCdcRows => df.filter(col(cdc) =!= "delete")
      case _ => df
    }
    // GROUP-ALIGNED iff every group went through the k-way bucket merge
    // (no plain-scan union, no aggregate fallback; narrow CDC filter /
    // column select above preserve partitioning) AND the set's single
    // mapping is the current one (see mappingIsCurrent above) — a widened
    // grouping count (ids >= bucketNum) can never claim alignment.
    val maxSeenId = files.iterator.map(_.file.bucketId).max
    (visible.select(outputCols.map(qcol).toSeq: _*),
      plain.isEmpty && bucketMerged && mappingIsCurrent &&
        maxSeenId < table.bucketNum)
  }

  /** Read a window RESOLVED PER MAPPING-CONSISTENT SUB-WINDOW (epoch):
    * `epochs` = (bucketNum, files) oldest -> newest, the last being the
    * final mapping (GraftTable cuts the window at recorded re-bucket
    * boundaries). A single live epoch takes the NORMAL bucket-dispatch
    * read under that epoch's count — fully parallel, zero shuffle; multi-
    * epoch windows take the cursor-split merge (BucketMergeRead
    * .readSplitWindow — bucket-parallel sides, one delta-only shuffle);
    * anything the split kernel can't serve (custom agg-only merge ops,
    * skip-merge, bucket ids inconsistent with their epoch's count) falls
    * back to [[read]]'s cross-bucket one-task-per-partition merge. */
  def readSplitEpochs(
      spark: SparkSession,
      table: TableInfo,
      epochs: Seq[(Int, Seq[ResolvedFile])],
      keepCdcRows: Boolean = false,
      requiredColumns: Option[Seq[String]] = None): DataFrame = {
    val live = epochs.filter(_._2.nonEmpty)
    if (live.size <= 1) {
      val (n, fs) = live.headOption.getOrElse((table.bucketNum, Seq.empty[ResolvedFile]))
      return read(spark, table.copy(bucketNum = n), fs, keepCdcRows,
        requiredColumns)
    }
    // commit ordinals restart at 0 per sub-window resolution: REBASE them
    // into one global sequence before any whole-window use — the
    // cross-bucket fallback groups runs by ordinal, and an epoch-1/epoch-2
    // ordinal collision would concatenate runs from different epochs into
    // one, folding same-key rows in file order instead of commit order
    val allFiles = {
      var base = 0
      live.flatMap { case (_, fs) =>
        val out = fs.map(f => f.copy(commitOrdinal = f.commitOrdinal + base))
        base += fs.iterator.map(_.commitOrdinal).max + 1
        out
      }
    }
    val fullSchema = graft.util.SchemaUtil.fromJson(table.schemaJson)
    val pruned = requiredColumns match {
      case None => fullSchema
      case Some(req) =>
        val need = (table.rangeColumns ++ table.hashColumns ++
          table.cdcColumn.toSeq ++ req).toSet
        StructType(fullSchema.fields.filter(f => need.contains(f.name)))
    }
    val outputCols = requiredColumns.getOrElse(fullSchema.fieldNames.toSeq)
    val schema = BucketMergeRead.relaxMissing(pruned, allFiles)
    val skipMerge = table.properties.get(TableInfo.SkipMergeOnReadProp).contains("true")
    val splitOk = table.hasPrimaryKey && !skipMerge &&
      live.forall { case (n, fs) =>
        BucketMergeRead.supports(table.copy(bucketNum = n), schema, fs) }
    if (!splitOk || forceCrossBucketRead)
      return read(spark, table, allFiles, keepCdcRows, requiredColumns,
        crossBucketMerge = true)
    val df0 = BucketMergeRead.readSplitWindow(spark,
      table.copy(bucketNum = live.last._1), schema, live)
    val visible = table.cdcColumn match {
      case Some(cdc) if !keepCdcRows => df0.filter(col(cdc) =!= "delete")
      case _ => df0
    }
    visible.select(outputCols.map(qcol).toSeq: _*)
  }

  private def mergeRead(
      spark: SparkSession,
      table: TableInfo,
      schema: StructType,
      files: Seq[ResolvedFile]): DataFrame = {
    // the aggregate fallback serves custom agg-only merge operators; its
    // SQL aggregation cannot express "discard contributions older than the
    // newest tombstone", so tombstoned tables must stay on the k-way merge
    // (deleteTombstone enforces this at write time — defense in depth here)
    require(!files.exists(f => Tombstone.isTombstone(f.file)),
      "tombstone delete runs require the bucket-merge reader; this table's " +
        "merge operators route to the aggregate fallback — run full " +
        "compaction() to materialize the deletes first")
    // One scan per (commit ordinal, physical column list): the version tag and
    // column-presence flags are literals per scan, so they constant-fold.
    val groups = files.groupBy(f => (f.commitOrdinal, f.file.existCols))
      .toSeq.sortBy(_._1)
    val allCols = schema.fieldNames.toSeq
    val tagged = groups.map { case ((ord, exist), fs) =>
      val existCols: Seq[String] =
        if (exist == null || exist.isEmpty) allCols else exist.split(",").toSeq
      spark.read.schema(schema).parquet(fs.map(_.file.path): _*)
        .withColumn("_g_ver", lit(ord))
        .withColumn("_g_exist", typedLit(existCols))
    }
    val union = tagged.reduce(_ union _)

    val keys = (table.rangeColumns ++ table.hashColumns).distinct
    val valueFields = schema.fields.filterNot(f => keys.contains(f.name))
    if (valueFields.isEmpty) {
      union.select(keys.map(qcol): _*).distinct()
    } else {
      val aggs = valueFields.map { f =>
        val present = col("_g_exist").isNull || array_contains(col("_g_exist"), f.name)
        TransactionalWrite.mergeOpFor(table, f.name)
          .agg(qcol(f.name), col("_g_ver"), present, f.dataType).as(f.name)
      }
      union.groupBy(keys.map(qcol): _*).agg(aggs.head, aggs.tail.toSeq: _*)
    }
  }
}
