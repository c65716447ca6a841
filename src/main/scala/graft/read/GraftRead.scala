package graft.read

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.meta._
import graft.util.SchemaUtil.qcol
import graft.write.TransactionalWrite

/** Library merge-on-read over a resolved file set (SURVEY.md §2.1 S1-S9,
  * §2.2): snapshot, time travel, incremental, compaction and DML reads.
  *
  * Every merged read of a file set plans through the DSv2 [[GraftScan]] —
  * the planner `toDF` and SQL use, as the reference plans every MOR scan
  * through LakeSoulScanBuilder.build (catalog/LakeSoulScanBuilder.scala:
  * 104-134) — so the mapping-consistency gate, the widened bucket count,
  * the tombstone refusal, the nullable relaxation, the CDC filter and the
  * bucket prune exist once. Only two reads plan elsewhere:
  *   - custom merge operators the k-way merge cannot run (agg-only) take
  *     the aggregate merge ([[mergeRead]]): tagged per-commit parquet
  *     scans, unioned and collapsed per key by codegen'd aggregates;
  *   - a set cut into two or more mapping epochs (a window spanning a
  *     re-bucket) takes the cursor-split merge ([[readSplitEpochs]]).
  */
object GraftRead {

  /** Test toggle: route every multi-epoch window through the cross-bucket
    * one-task-per-partition merge instead of the cursor split — the
    * equivalence ORACLE of SplitWindowSuite / CdcModelCheckSuite (the two
    * paths must agree row-for-row on any history). Plan-time only. */
  @volatile private[graft] var forceCrossBucketRead = false

  def emptyDF(spark: SparkSession, schema: StructType): DataFrame =
    spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)

  /** Whether [[GraftScan]] can serve a merged read of this table: no
    * primary key, merge skipped, or merge operators its k-way merge runs.
    * Otherwise (agg-only custom operators) only the aggregate merge
    * ([[mergeRead]]) can — `GraftTable.toDF` and `format("graft")` then
    * plan the library read instead of the scan. */
  def scanMerges(table: TableInfo, schema: StructType): Boolean =
    !table.hasPrimaryKey ||
      table.properties.get(TableInfo.SkipMergeOnReadProp).contains("true") ||
      BucketMergeRead.opsSupported(table, schema)

  /** Read the given resolved file set as a merged DataFrame.
    * @param keepCdcRows when true (incremental/streaming reads), CDC `delete`
    *                    marker rows are kept (F6 exemption).
    * @param crossBucketMerge merge per range partition with every (commit,
    *                    bucket) subgroup its own run, whatever the set's
    *                    mapping (windows spanning a re-bucket that cannot be
    *                    cut into epochs). */
  def read(
      spark: SparkSession,
      table: TableInfo,
      files: Seq[ResolvedFile],
      keepCdcRows: Boolean = false,
      requiredColumns: Option[Seq[String]] = None,
      crossBucketMerge: Boolean = false): DataFrame = {
    val fullSchema = graft.util.SchemaUtil.fromJson(table.schemaJson)
    val outputCols = requiredColumns.getOrElse(fullSchema.fieldNames.toSeq)
      .map(qcol)
    if (files.isEmpty) return emptyDF(spark, fullSchema).select(outputCols: _*)
    val pruned = prunedSchema(table, fullSchema, requiredColumns)
    if (!scanMerges(table, pruned))
      return visible(table, keepCdcRows, mergeRead(spark, table,
        BucketMergeRead.relaxMissing(pruned, files), files))
        .select(outputCols: _*)
    // a set spanning a re-bucket flip (post-flip writes under an open
    // marker, a window across a re-bucket) is key-disjoint per bucket
    // only within each mapping epoch: read it per epoch. Ambiguous sets
    // (None) take the scan's mapping-agnostic cross-bucket merge.
    val merged = table.hasPrimaryKey &&
      !table.properties.get(TableInfo.SkipMergeOnReadProp).contains("true")
    if (merged && !crossBucketMerge)
      RebucketLog.epochsOf(table.properties, table.bucketNum, files) match {
        case Some(es) if es.size >= 2 =>
          return readSplitEpochs(spark, table, es, keepCdcRows,
            requiredColumns)
        case _ =>
      }
    org.apache.spark.sql.graft.StreamShim.dsv2Df(spark,
      new GraftReadTable(spark, table,
        FixedFiles(files, keepCdcRows, crossBucketMerge)))
      .select(outputCols: _*)
  }

  /** [[read]], additionally reporting whether the read is GROUP-ALIGNED
    * ([[GraftScan.groupAligned]] of the one scan it plans): callers that
    * rewrite the read verbatim (compaction) may then skip their bucket
    * re-shuffle on the write side
    * ([[graft.write.TransactionalWrite.writeFiles]] inputBucketAligned) —
    * at 100 TB that shuffle is a second full pass of the table over the
    * network. The aggregate merge and the cursor split are never aligned. */
  def readTracked(
      spark: SparkSession,
      table: TableInfo,
      files: Seq[ResolvedFile],
      keepCdcRows: Boolean = false,
      requiredColumns: Option[Seq[String]] = None,
      crossBucketMerge: Boolean = false): (DataFrame, Boolean) = {
    val df = read(spark, table, files, keepCdcRows, requiredColumns,
      crossBucketMerge)
    val scans = df.queryExecution.optimizedPlan.collect {
      case r: DataSourceV2ScanRelation => r.scan
    }
    (df, scans match {
      case Seq(s: GraftScan) => s.groupAligned
      case _ => false
    })
  }

  /** Read a window RESOLVED PER MAPPING-CONSISTENT SUB-WINDOW (epoch):
    * `epochs` = (bucketNum, files) oldest -> newest, the last being the
    * final mapping (GraftTable cuts the window at recorded re-bucket
    * boundaries). A single live epoch takes the NORMAL scan under that
    * epoch's count — fully parallel, zero shuffle; multi-epoch windows
    * take the cursor-split merge (BucketMergeRead.readSplitWindow —
    * bucket-parallel sides, one delta-only shuffle); anything the split
    * kernel can't serve (custom agg-only merge ops, skip-merge, bucket ids
    * inconsistent with their epoch's count) falls back to [[read]]'s
    * cross-bucket one-task-per-partition merge. */
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
    val outputCols = requiredColumns.getOrElse(fullSchema.fieldNames.toSeq)
    val schema = BucketMergeRead.relaxMissing(
      prunedSchema(table, fullSchema, requiredColumns), allFiles)
    val skipMerge = table.properties.get(TableInfo.SkipMergeOnReadProp).contains("true")
    val splitOk = table.hasPrimaryKey && !skipMerge &&
      live.forall { case (n, fs) =>
        BucketMergeRead.supports(table.copy(bucketNum = n), schema, fs) }
    if (!splitOk || forceCrossBucketRead)
      return read(spark, table, allFiles, keepCdcRows, requiredColumns,
        crossBucketMerge = true)
    visible(table, keepCdcRows, BucketMergeRead.readSplitWindow(spark,
      table.copy(bucketNum = live.last._1), schema, live))
      .select(outputCols.map(qcol).toSeq: _*)
  }

  /** Column pruning (F1): the requested columns + merge keys + the CDC
    * marker; extra service columns are dropped by the caller's select. */
  private def prunedSchema(table: TableInfo, fullSchema: StructType,
      requiredColumns: Option[Seq[String]]): StructType = requiredColumns match {
    case None => fullSchema
    case Some(req) =>
      val need = (table.rangeColumns ++ table.hashColumns ++
        table.cdcColumn.toSeq ++ req).toSet
      StructType(fullSchema.fields.filter(f => need.contains(f.name)))
  }

  /** Auto-hide CDC delete markers (ProcessCDCTableMergeOnRead.scala:17-66)
    * on the reads the scan's own filter does not cover. */
  private def visible(table: TableInfo, keepCdcRows: Boolean,
      df: DataFrame): DataFrame = table.cdcColumn match {
    case Some(cdc) if !keepCdcRows => df.filter(col(cdc) =!= "delete")
    case _ => df
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
