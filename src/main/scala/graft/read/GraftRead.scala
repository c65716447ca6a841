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
  * bucket prune exist once. A set spanning a re-bucket plans there too,
  * one task per bucket of the final mapping. Only custom merge operators
  * the k-way merge cannot run (agg-only) plan elsewhere: the aggregate
  * merge ([[mergeRead]]), tagged per-commit parquet scans unioned and
  * collapsed per key by codegen'd aggregates.
  */
object GraftRead {

  /** Test toggle: plan every merged PK read through the scan's
    * one-task-per-range-partition merge, claiming no bucket layout — the
    * equivalence ORACLE of SplitWindowSuite / CdcModelCheckSuite (a set
    * spanning a re-bucket must read row-for-row the same through its
    * final-mapping partitions). Plan-time only. */
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
    *                    marker rows are kept (F6 exemption). */
  def read(
      spark: SparkSession,
      table: TableInfo,
      files: Seq[ResolvedFile],
      keepCdcRows: Boolean = false,
      requiredColumns: Option[Seq[String]] = None): DataFrame = {
    val fullSchema = graft.util.SchemaUtil.fromJson(table.schemaJson)
    val outputCols = requiredColumns.getOrElse(fullSchema.fieldNames.toSeq)
      .map(qcol)
    if (files.isEmpty) return emptyDF(spark, fullSchema).select(outputCols: _*)
    val pruned = prunedSchema(table, fullSchema, requiredColumns)
    if (!scanMerges(table, pruned))
      return visible(table, keepCdcRows, mergeRead(spark, table,
        BucketMergeRead.relaxMissing(pruned, files), files))
        .select(outputCols: _*)
    org.apache.spark.sql.graft.StreamShim.dsv2Df(spark,
      new GraftReadTable(spark, table, FixedFiles(files, keepCdcRows)))
      .select(outputCols: _*)
  }

  /** [[read]], additionally reporting whether the read is GROUP-ALIGNED
    * ([[GraftScan.groupAligned]] of the one scan it plans): callers that
    * rewrite the read verbatim (compaction) may then skip their bucket
    * re-shuffle on the write side
    * ([[graft.write.TransactionalWrite.writeFiles]] inputBucketAligned) —
    * at 100 TB that shuffle is a second full pass of the table over the
    * network. The aggregate merge and a set spanning a re-bucket are never
    * aligned. */
  def readTracked(
      spark: SparkSession,
      table: TableInfo,
      files: Seq[ResolvedFile],
      keepCdcRows: Boolean = false,
      requiredColumns: Option[Seq[String]] = None): (DataFrame, Boolean) = {
    val df = read(spark, table, files, keepCdcRows, requiredColumns)
    val scans = df.queryExecution.optimizedPlan.collect {
      case r: DataSourceV2ScanRelation => r.scan
    }
    (df, scans match {
      case Seq(s: GraftScan) => s.groupAligned
      case _ => false
    })
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
