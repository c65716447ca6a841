package graft.sources

import scala.jdk.CollectionConverters._

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Row, SQLContext, SaveMode, SparkSession}
import org.apache.spark.sql.catalyst.util.CaseInsensitiveMap
import org.apache.spark.sql.connector.catalog.{SupportsWrite, Table, TableCapability, TableCatalog, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, V1Write, WriteBuilder}
import org.apache.spark.sql.execution.streaming.{Offset, Sink, Source}
import org.apache.spark.sql.execution.streaming.runtime.LongOffset
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.sources._
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.read.{CatalogFiles, GraftRead, GraftReadTable}
import graft.streaming.GraftSink
import graft.tables.GraftTable
import graft.util.Filters

/** `format("graft")` — the reference's DataSource surface (SURVEY.md §3.1,
  * §3.3; sources/LakeSoulDataSource.scala):
  *
  *   spark.read.format("graft").load(path)            // batch read
  *     .option("readtype", "snapshot"|"incremental"|"diff")  // time travel / CDF
  *     .option("readendtime", <ms>) .option("readstarttime", <ms>)
  *     .option("partitiondesc", "k=v")                // partition pruning
  *   df.write.format("graft")                         // batch write
  *     .option("hashPartitions", "id").option("hashBucketNum", "4")
  *     .option("rangePartitions", "date")
  *     .mode("append"|"overwrite").save(path)         // append=upsert on PK
  *   spark.readStream.format("graft").load(path)      // incremental source
  *   df.writeStream.format("graft")                   // exactly-once sink
  *     .option("path", path).option("queryId", "q1")
  *
  * Batch reads are DSv2 ([[TableProvider]]): `getTable` returns a read-only
  * table over the table's snapshot resolvers, so the read plans the same
  * [[graft.read.GraftScanBuilder]] as `graft_cat.ns.t` and
  * `GraftTable.toDF`, with the read options pinning the snapshot. The
  * reads that scan cannot plan get a table without `BATCH_READ`, and Spark
  * falls back to the DSv1 [[GraftRelation]]: `readtype=diff` and tables
  * whose merge operators only the aggregate merge runs. Writes and streaming
  * stay DSv1: the table reports neither `BATCH_WRITE` nor a streaming
  * capability, so Spark calls `createRelation(mode, ...)`, `createSource`
  * and `createSink`. A table registered in the session catalog
  * (`saveAsTable`, `CREATE TABLE ... USING graft`) loads as its
  * `V1Table`, so its commands, guard rails and reads stay DSv1 too.
  *
  * Option names mirror the reference (LakeSoulDataSource.scala:121-148).
  */
class GraftDataSource extends TableProvider with RelationProvider
    with CreatableRelationProvider with StreamSourceProvider
    with StreamSinkProvider with SchemaRelationProvider with DataSourceRegister {

  override def shortName(): String = "graft"

  private def pathOf(parameters: Map[String, String]): String =
    graft.util.PathUtil.local(parameters.getOrElse("path",
      throw new IllegalArgumentException("'path' option (or load(path)) required")))

  /** The table schema; empty when no table exists yet (a first write or a
    * streaming sink asks too), so the read falls back to the DSv1 relation
    * and fails there with "no graft table at ...". */
  override def inferSchema(options: CaseInsensitiveStringMap): StructType = {
    val path = pathOf(options.asScala.toMap)
    if (GraftTable.exists(path)) GraftTable.forPath(SparkSession.active, path).schema
    else new StructType()
  }

  /** A user-specified schema is ignored, as [[SchemaRelationProvider]]
    * ignores it. */
  override def supportsExternalMetadata(): Boolean = true

  override def getTable(userSchema: StructType, partitioning: Array[Transform],
      properties: java.util.Map[String, String]): Table = {
    val spark = SparkSession.active
    val parameters = CaseInsensitiveMap(properties.asScala.toMap)
    // no table yet (a first write, a streaming sink, the session catalog's
    // CTAS, which may not have placed a managed table yet): no read, and
    // the CTAS writes through the DSv1 write
    if (!parameters.get("path").exists(GraftTable.exists(_))) return new Table
        with SupportsWrite {
      override def name(): String = parameters.getOrElse("path", "")
      override def schema(): StructType = userSchema
      override def capabilities(): java.util.Set[TableCapability] =
        java.util.EnumSet.of(TableCapability.V1_BATCH_WRITE)
      override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
        new WriteBuilder {
          override def build(): V1Write = () => (data, _) =>
            createRelation(data.sparkSession.sqlContext, SaveMode.Append,
              CaseInsensitiveMap(parameters ++ info.options.asScala), data)
        }
    }
    // a table registered in the session catalog (`saveAsTable`; only the
    // catalog's load passes its reserved provider property) keeps its V1
    // commands, guard rails and relation
    val path = pathOf(parameters)
    if (properties.containsKey(TableCatalog.PROP_PROVIDER))
      org.apache.spark.sql.graft.StreamShim.sessionCatalogV1Table(spark, path)
        .foreach(return _)
    val t = GraftTable.forPath(spark, path)
    val ti = t.info
    new GraftReadTable(spark, ti, CatalogFiles(t),
      batchRead = !parameters.get("readtype").contains("diff") &&
        GraftRead.scanMerges(ti, t.schema))
  }

  override def createRelation(
      sqlContext: SQLContext,
      parameters: Map[String, String]): BaseRelation =
    GraftRelation(sqlContext, pathOf(parameters), parameters)

  override def createRelation(
      sqlContext: SQLContext,
      parameters: Map[String, String],
      schema: StructType): BaseRelation =
    createRelation(sqlContext, parameters)

  /** Batch write: creates the table on first write (bucketing options),
    * then append (non-PK) / upsert (PK) / overwrite. */
  override def createRelation(
      sqlContext: SQLContext,
      mode: SaveMode,
      parameters: Map[String, String],
      data: DataFrame): BaseRelation = {
    val path = pathOf(parameters)
    val spark = sqlContext.sparkSession
    // DSv1 `.partitionBy(cols)` arrives encoded under Spark's
    // __partition_columns option — the reference treats it as the range
    // spec, with an explicit rangePartitions option taking priority when
    // both are given (schema/CaseSensitivitySuite.scala:90-111)
    val byPartitionBy = parameters
      .get(org.apache.spark.sql.execution.datasources.DataSourceUtils
        .PARTITIONING_COLUMNS_KEY)
      .map(org.apache.spark.sql.execution.datasources.DataSourceUtils
        .decodePartitioningColumns)
      .getOrElse(Nil)
    if (!GraftTable.exists(path)) {
      val byOption = parameters.get("rangePartitions").toSeq
        .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
      val range = if (byOption.nonEmpty) byOption else byPartitionBy
      val hash = parameters.get("hashPartitions").toSeq
        .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
      val buckets = parameters.getOrElse("hashBucketNum", "4").toInt
      val props = parameters.view.filterKeys(_.startsWith("graft.")).toMap
      GraftTable.create(spark, data, path, range, hash, buckets, props)
    } else {
      val t0 = GraftTable.forPath(spark, path)
      // a partitionBy against an EXISTING table must name its range spec —
      // resolved case-insensitively like every partition option (the
      // reference's option resolution is mode-independent); a different
      // layout fails loudly instead of silently writing rows the table's
      // partition pruning would file under the wrong scheme
      if (byPartitionBy.nonEmpty) {
        val canon = t0.info.rangeColumns
        require(byPartitionBy.length == canon.length &&
          byPartitionBy.zip(canon).forall { case (r, c) => r.equalsIgnoreCase(c) },
          s"partitionBy(${byPartitionBy.mkString(",")}) does not match the " +
            s"table's range columns (${canon.mkString(",")}) at $path")
      }
      // .option("mergeSchema", true|false): per-write override of the
      // additive-schema-merge gate (reference MERGE_SCHEMA_OPTION)
      val t = parameters.get("mergeSchema")
        .map(v => t0.withMergeSchema(v.toBoolean)).getOrElse(t0)
      mode match {
        case SaveMode.Append =>
          if (t.info.hasPrimaryKey) t.upsert(data) else t.append(data)
        // .option("replaceWhere", "<predicate over range columns>"):
        // partition-targeted overwrite — only matching partitions replaced
        case SaveMode.Overwrite => parameters.get("replaceWhere") match {
          case Some(cond) =>
            t.overwriteWhere(data, org.apache.spark.sql.functions.expr(cond))
          case None => t.overwrite(data)
        }
        case SaveMode.Ignore => ()
        case SaveMode.ErrorIfExists =>
          throw new IllegalStateException(s"graft table already exists at $path")
      }
    }
    GraftRelation(sqlContext, path, parameters)
  }

  override def sourceSchema(
      sqlContext: SQLContext,
      schema: Option[StructType],
      providerName: String,
      parameters: Map[String, String]): (String, StructType) = {
    val t = GraftTable.forPath(sqlContext.sparkSession, pathOf(parameters))
    val s = if (parameters.get("readtype").contains("diff")) {
      val cdc = t.info.cdcColumn.getOrElse(throw new IllegalArgumentException(
        "streaming readtype=diff needs a CDC table (the stored marker makes " +
          "each micro-batch O(delta)); a non-CDC PK table would pay a full " +
          "two-snapshot comparison per trigger — use batch diff() instead"))
      StructType(t.schema.filterNot(_.name == cdc))
        .add("_change_type", org.apache.spark.sql.types.StringType)
    } else t.schema
    (shortName(), s)
  }

  override def createSource(
      sqlContext: SQLContext,
      metadataPath: String,
      schema: Option[StructType],
      providerName: String,
      parameters: Map[String, String]): Source =
    new GraftStreamSource(sqlContext.sparkSession, pathOf(parameters), parameters)

  override def createSink(
      sqlContext: SQLContext,
      parameters: Map[String, String],
      partitionColumns: Seq[String],
      outputMode: OutputMode): Sink =
    new GraftStreamSink(sqlContext.sparkSession, pathOf(parameters),
      parameters, outputMode)
}

/** The DSv1 batch relation behind the reads [[graft.read.GraftScan]]
  * cannot plan (see [[GraftDataSource]]): the change feed (`diff`) and
  * tables whose agg-only merge operators need the aggregate merge, which
  * the library read (`snapshotAt`, `incremental`, `toDF`) routes. Spark
  * re-applies every filter above the relation; the pushed ones also prune
  * partitions here. */
case class GraftRelation(
    sqlContext: SQLContext,
    path: String,
    parameters: Map[String, String]) extends BaseRelation with PrunedFilteredScan {

  private def table: GraftTable = GraftTable.forPath(sqlContext.sparkSession, path)

  override lazy val schema: StructType =
    if (parameters.get("readtype").contains("diff")) {
      // CDF shape: table columns (CDC marker consumed into the change type)
      // + _change_type — matches GraftTable.diff's output
      val t = table
      val base = t.info.cdcColumn match {
        case Some(cdc) => StructType(t.schema.filterNot(_.name == cdc))
        case None => t.schema
      }
      base.add("_change_type", org.apache.spark.sql.types.StringType)
    } else table.schema

  override def buildScan(requiredColumns: Array[String],
      filters: Array[Filter]): RDD[Row] = {
    val t = table
    val (partPred, _) = Filters.partitionPruning(filters.toSeq,
      t.info.rangeColumns, t.schema, parameters.get("partitiondesc"))
    val start = parameters.getOrElse("readstarttime", "0").toLong
    def end = parameters.get("readendtime").map(_.toLong).getOrElse(t.lastCommitTs)
    val df = parameters.getOrElse("readtype", "full") match {
      case "snapshot" => t.snapshotAt(parameters("readendtime").toLong, partPred)
      case "incremental" => t.incremental(start, end, partPred)
      // row-level change feed (full rows + _change_type) over
      // (readstarttime, readendtime]; see GraftTable.diff
      case "diff" => t.diff(start, end)
      case _ => t.toDF(partPred)
    }
    filters.flatMap(Filters.toColumn).foldLeft(df)(_ filter _)
      .select(requiredColumns.map(col).toIndexedSeq: _*).rdd
  }
}

/** Incremental micro-batch source (S10): offsets are commit timestamps; each
  * batch reads the (start, end] incremental file set
  * (MergeParquetScan.scala:342-374). */
class GraftStreamSource(
    spark: SparkSession,
    path: String,
    parameters: Map[String, String]) extends Source
    with org.apache.spark.sql.connector.read.streaming.SupportsAdmissionControl
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {

  private def table: GraftTable = GraftTable.forPath(spark, path)
  private val startTime = parameters.getOrElse("readstarttime", "0").toLong
  // streaming change feed (CDC tables only — validated in sourceSchema):
  // each micro-batch is the O(delta) diff of its offset range
  private val diffMode = parameters.get("readtype").contains("diff")

  // admission control (same semantics as the DSv2 stream): pace deep
  // backlogs by whole-commit budgets instead of one giant first batch.
  // Implemented on the v2 mixins (a v1 Source IS a SparkDataStream, the
  // same route Spark's own file/Kafka v1 sources take) so it composes
  // with Trigger.AvailableNow natively — the v1 wrapper would otherwise
  // freeze the FIRST paced offset as the terminal one and stop early.
  import graft.streaming.StreamPacing
  private val maxCommits = StreamPacing.intOption(parameters, "maxCommitsPerTrigger")
  private val maxFiles = StreamPacing.longOption(parameters, "maxFilesPerTrigger")
  private val maxBytes = StreamPacing.longOption(parameters, "maxBytesPerTrigger")
  // newest offset handed to the engine; getBatch re-seeds it from the
  // checkpoint on restart (Spark replays the last batch first)
  @volatile private var handedOut: Long = startTime
  @volatile private var availableNowCap: Option[Long] = None

  override def schema: StructType =
    if (diffMode) {
      val t = table
      StructType(t.schema.filterNot(f => t.info.cdcColumn.contains(f.name)))
        .add("_change_type", org.apache.spark.sql.types.StringType)
    } else table.schema

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowCap = Some(table.lastCommitTs)

  override def getDefaultReadLimit
      : org.apache.spark.sql.connector.read.streaming.ReadLimit = {
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    maxFiles.map(n => ReadLimit.maxFiles(n.toInt))
      .getOrElse(ReadLimit.allAvailable())
  }

  override def latestOffset(
      start: org.apache.spark.sql.connector.read.streaming.Offset,
      limit: org.apache.spark.sql.connector.read.streaming.ReadLimit)
      : org.apache.spark.sql.connector.read.streaming.Offset = {
    val newest = availableNowCap.getOrElse(table.lastCommitTs)
    if (newest <= 0L) return null // nothing committed yet
    val s = math.max(handedOut,
      Option(start).map(_.json.trim.toLong).getOrElse(startTime))
    // cut candidate windows at re-bucket flip boundaries: each side is
    // then mapping-consistent, so the batch reads each file once under its
    // own mapping instead of reading old-mapping files into several final
    // buckets (or, for diff mode, the per-partition bucket-merged
    // pairing) — matters for a catch-up batch after a restart from a
    // pre-re-bucket checkpoint
    def clamp(cand: Long): Long =
      graft.meta.RebucketLog.clampAtFlip(table.info.properties, s, cand)
    if (newest <= s || StreamPacing.unpaced(maxCommits, maxFiles, maxBytes)) {
      val end = clamp(math.max(s, newest))
      handedOut = math.max(handedOut, end)
      return LongOffset(end)
    }
    val batches = table.commitBatches(s, newest,
      StreamPacing.boundaryCap(maxCommits, maxFiles))
    val end = clamp(if (batches.isEmpty) newest
      else StreamPacing.boundedEnd(batches, s, maxCommits, maxFiles, maxBytes))
    handedOut = end
    LongOffset(end)
  }

  override def getOffset: Option[Offset] = {
    // legacy entry point — only reached when admission control is not
    // consulted; keep the unpaced contract
    val ts = table.lastCommitTs
    if (ts <= 0L) None else Some(LongOffset(ts))
  }

  override def getBatch(start: Option[Offset], end: Offset): DataFrame = {
    val s = start.map(o => offsetValue(o)).getOrElse(startTime)
    val e = offsetValue(end)
    if (e > handedOut) handedOut = e
    // strict: fail loudly (with re-pin guidance) when a RESTORE/overwrite
    // landed inside the stream's window — see NonIncrementalWindowException
    val batch = if (diffMode) table.diff(s, e, strict = true)
      else table.incremental(s, e, strict = true)
    org.apache.spark.sql.graft.StreamShim.asStreaming(batch)
  }

  private def offsetValue(o: Offset): Long = o match {
    case LongOffset(v) => v
    case other => other.json.toLong
  }

  override def stop(): Unit = ()
}

/** Streaming sink (S11) — exactly-once via (queryId, batchId) bookkeeping.
  * Without a `queryId` option the id is the streaming query's own, which
  * its checkpoint keeps across restarts: two queries writing one table
  * never share a batch-id sequence. */
class GraftStreamSink(
    spark: SparkSession,
    path: String,
    parameters: Map[String, String],
    outputMode: OutputMode) extends Sink {

  override def addBatch(batchId: Long, data: DataFrame): Unit = {
    // the query's id is a local property of its execution thread, which
    // runs addBatch (the sink is created on the thread that starts it)
    val queryId = parameters.getOrElse("queryId",
      Option(spark.sparkContext.getLocalProperty(
        org.apache.spark.sql.execution.streaming.runtime.StreamExecution
          .QUERY_ID_KEY)).getOrElse("graft-stream"))
    // DSv1 hands us a streaming DF; re-plan it as a batch DF without
    // collecting to the driver
    val batch = org.apache.spark.sql.graft.StreamShim.asBatch(data)
    if (!GraftTable.exists(path)) {
      val range = parameters.get("rangePartitions").toSeq
        .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
      val hash = parameters.get("hashPartitions").toSeq
        .flatMap(_.split(",")).map(_.trim).filter(_.nonEmpty)
      val buckets = parameters.getOrElse("hashBucketNum", "4").toInt
      GraftTable.create(spark, batch, path, range, hash, buckets)
      graft.meta.MetaStore.default.recordBatchId(
        GraftTable.forPath(spark, path).tablePath, queryId, batchId)
    } else {
      val mode =
        if (outputMode == OutputMode.Complete()) "complete"
        else if (outputMode == OutputMode.Update()) "update"
        else "append"
      val t = GraftTable.forPath(spark, path)
      val m = if (mode == "append" && t.info.hasPrimaryKey) "update" else mode
      new GraftSink(t, queryId, m).addBatch(batchId, batch)
    }
  }
}
