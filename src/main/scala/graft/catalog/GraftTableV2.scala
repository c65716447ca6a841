package graft.catalog

import java.util.{Map => JMap, Set => JSet}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Cast, GenericInternalRow, Literal}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.{Expressions, Transform}
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, SupportsOverwrite, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.sources.{AlwaysTrue, Filter, InsertableRelation}
import org.apache.spark.sql.types.{DataType, StringType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import graft.read.GraftScanBuilder
import graft.tables.GraftTable
import graft.util.Filters

/** DSv2 Table for graft (reference: catalog/LakeSoulTableV2.scala:91-225):
  * the SQL-surface handle behind `graft_cat.ns.t`. Reads go through
  * [[GraftScanBuilder]] (pushdown + KeyGroupedPartitioning); writes reuse the
  * transactional DSv1 write path via the V1Write fallback (INSERT INTO a PK
  * table upserts, matching `format("graft")`); DELETE WHERE is handled
  * metadata/command-side through [[GraftTable.delete]]. */
class GraftTableV2(spark: SparkSession, val table: GraftTable, ident: String,
    pinned: Map[String, String] = Map.empty)
    extends Table with SupportsRead with SupportsWrite with SupportsDelete
    with SupportsPartitionManagement {

  override def name(): String = ident

  private def requireWritable(): Unit =
    if (pinned.nonEmpty) throw new UnsupportedOperationException(
      s"$ident is a time-travel (VERSION/TIMESTAMP AS OF) view and is read-only")

  override def schema(): StructType = table.schema

  override def partitioning(): Array[Transform] = {
    val ti = table.info
    val ranges = ti.rangeColumns.map(graft.util.SchemaUtil.qidentity)
    val bucket =
      if (ti.hasPrimaryKey) Seq(graft.util.SchemaUtil.qbucket(ti.bucketNum, ti.hashColumns))
      else Nil
    (ranges ++ bucket).toArray
  }

  override def properties(): JMap[String, String] = {
    val ti = table.info
    (ti.properties ++ Map(
      TableCatalog.PROP_PROVIDER -> "graft",
      TableCatalog.PROP_LOCATION -> ti.tablePath,
      "hashColumns" -> ti.hashColumns.mkString(","),
      "bucketNum" -> ti.bucketNum.toString)).asJava
  }

  override def capabilities(): JSet[TableCapability] =
    Set(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ,
      TableCapability.V1_BATCH_WRITE, TableCapability.TRUNCATE,
      TableCapability.OVERWRITE_BY_FILTER,
      TableCapability.OVERWRITE_DYNAMIC,
      TableCapability.STREAMING_WRITE).asJava

  // `pinned` wins over per-read options: a VERSION AS OF table handle must
  // stay at its snapshot no matter what the reader asks for
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new GraftScanBuilder(spark, table, options.asScala.toMap ++ pinned)

  // SupportsStreamingUpdateAsAppend: update-mode micro-batches write as
  // appended Merge commits — for a PK table that IS upsert semantics (the
  // same contract as the DSv1 sink's update mode).
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    requireWritable()
    new WriteBuilder with SupportsOverwrite
        with org.apache.spark.sql.connector.write.SupportsDynamicOverwrite
        with org.apache.spark.sql.internal.connector.SupportsStreamingUpdateAsAppend {
      private var overwriteAll = false
      private var overwriteCond: Option[org.apache.spark.sql.Column] = None
      private var dynamicPartitions = false

      override def truncate(): WriteBuilder = { overwriteAll = true; this }

      // INSERT OVERWRITE t PARTITION (r = v, ...): static partition values
      // arrive as filters over the range columns -> replaceWhere overwrite.
      // Filters on non-range columns (row-level replaceWhere) stay
      // unsupported — the format replaces partitions, not rows.
      override def overwrite(filters: Array[Filter]): WriteBuilder = {
        val full = filters.isEmpty || filters.forall(_.isInstanceOf[AlwaysTrue])
        if (full) { overwriteAll = true; return this }
        val rangeCols = table.info.rangeColumns.toSet
        val conds = filters.map(f =>
          if (f.references.forall(rangeCols.contains)) graft.util.Filters.toColumn(f)
          else None)
        if (conds.exists(_.isEmpty)) throw new UnsupportedOperationException(
          "graft supports filtered INSERT OVERWRITE on range-partition " +
            s"columns only (got ${filters.mkString(", ")})")
        overwriteCond = Some(conds.flatten.reduce(_ && _))
        this
      }

      // partitionOverwriteMode=dynamic: replace exactly the partitions
      // present in the incoming data
      override def overwriteDynamicPartitions(): WriteBuilder = {
        dynamicPartitions = true; this
      }

      override def build(): Write = new V1Write {
        override def toInsertableRelation: InsertableRelation =
          new InsertableRelation {
            override def insert(data: DataFrame, overwrite: Boolean): Unit = {
              if (overwriteCond.isDefined) table.overwriteWhere(data, overwriteCond.get)
              else if (dynamicPartitions) table.overwriteDynamic(data)
              else if (overwriteAll || overwrite) table.overwrite(data)
              else if (table.info.hasPrimaryKey) table.upsert(data)
              else table.append(data)
            }
          }

        // writeStream.toTable: executor-side bucketed sorted parquet write
        // with the (queryId, epoch) exactly-once commit (S11 through DSv2)
        override def toStreaming
          : org.apache.spark.sql.connector.write.streaming.StreamingWrite = {
          val ti = table.info
          new graft.streaming.GraftStreamingWrite(
            ti.tablePath, ti.schemaJson, ti.rangeColumns, ti.hashColumns,
            ti.bucketNum, info.queryId(), overwriteAll,
            org.apache.spark.sql.graft.StreamShim.parquetRowWriters(
              spark, graft.util.SchemaUtil.fromJson(ti.schemaJson),
              graft.write.TransactionalWrite.writeOptions(spark, ti)))
        }
      }
    }
  }

  // ---- SupportsPartitionManagement (reference LakeSoulTableV2.scala:154-225)
  // Range partitions are metadata (`c1=v1,c2=v2` desc strings in the version
  // log), so SHOW PARTITIONS lists the live heads and ALTER TABLE ... DROP
  // PARTITION is the same metadata tombstone the API's dropPartition writes.

  override def partitionSchema(): StructType =
    StructType(table.info.rangeColumns.map(c => table.schema(c)))

  private def tz = Some(spark.sessionState.conf.sessionLocalTimeZone)

  /** Render one typed partition value exactly like the write path's
    * directory layout does (string form + null/empty sentinels). */
  private def valueToDescPart(v: Any, dt: DataType): String =
    if (v == null) graft.write.TransactionalWrite.NullSentinel
    else {
      val s = String.valueOf(Cast(Literal(v, dt), StringType, tz).eval(null))
      if (s.isEmpty) graft.write.TransactionalWrite.EmptySentinel else s
    }

  private def descPartToValue(raw: String, dt: DataType): Any =
    if (raw == graft.write.TransactionalWrite.NullSentinel) null
    else {
      val s = if (raw == graft.write.TransactionalWrite.EmptySentinel) "" else raw
      Cast(Literal(UTF8String.fromString(s), StringType), dt, tz).eval(null)
    }

  private def descOf(partIdent: InternalRow): String = {
    val ps = partitionSchema()
    require(partIdent.numFields == ps.length,
      s"partition ident has ${partIdent.numFields} fields, expected ${ps.length}")
    ps.fields.zipWithIndex.map { case (f, i) =>
      val v = if (partIdent.isNullAt(i)) null else partIdent.get(i, f.dataType)
      s"${f.name}=${valueToDescPart(v, f.dataType)}"
    }.mkString(",")
  }

  private def identOf(desc: String): InternalRow = {
    val ps = partitionSchema()
    val kv = desc.split(",").map { s =>
      val i = s.indexOf('='); s.substring(0, i) -> s.substring(i + 1)
    }.toMap
    new GenericInternalRow(ps.fields.map(f =>
      descPartToValue(kv(f.name), f.dataType)).toArray[Any])
  }

  override def createPartition(partIdent: InternalRow, properties: JMap[String, String]): Unit =
    throw new UnsupportedOperationException(
      "graft partitions are created implicitly when rows are written")

  override def dropPartition(partIdent: InternalRow): Boolean = {
    requireWritable()
    val desc = descOf(partIdent)
    val exists = table.partitions.exists(_.partitionDesc == desc)
    if (exists) table.dropPartition(desc)
    exists
  }

  override def replacePartitionMetadata(partIdent: InternalRow, properties: JMap[String, String]): Unit =
    throw new UnsupportedOperationException(
      "graft table partitions carry no metadata")

  override def loadPartitionMetadata(partIdent: InternalRow): JMap[String, String] =
    java.util.Collections.emptyMap()

  override def listPartitionIdentifiers(
      names: Array[String], partIdent: InternalRow): Array[InternalRow] = {
    val ps = partitionSchema()
    require(names.length == partIdent.numFields,
      s"${names.length} partition names but ${partIdent.numFields} values")
    val idx = names.map(ps.fieldIndex)
    val all = table.partitions.map(_.partitionDesc)
      .filter(_ != graft.meta.TableInfo.RootPartition).map(identOf)
    all.filter { row =>
      idx.indices.forall { i =>
        val dt = ps.fields(idx(i)).dataType
        val want = if (partIdent.isNullAt(i)) null else partIdent.get(i, dt)
        val have = if (row.isNullAt(idx(i))) null else row.get(idx(i), dt)
        want == have
      }
    }.toArray
  }

  // DELETE FROM ... WHERE: runs as a metadata/rewrite command through the
  // table API (reference DeleteCommand.scala); only predicates we can
  // translate are accepted — Spark falls back to an analysis error otherwise.
  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    pinned.isEmpty && filters.forall(f => Filters.toColumn(f).isDefined)

  override def deleteWhere(filters: Array[Filter]): Unit = {
    requireWritable()
    val cond = filters.flatMap(Filters.toColumn)
      .reduceOption(_ && _)
      .getOrElse(org.apache.spark.sql.functions.lit(true))
    table.delete(cond)
  }
}

/** Staged CTAS/RTAS handle ([[graft.catalog.GraftCatalogV2.stageCreate]]):
  * delegates the Table surface to the already-created (but unregistered)
  * [[GraftTableV2]]; commit publishes the name registration, abort removes
  * the staged files + meta. */
class GraftStagedTable(
    delegate: GraftTableV2,
    commit: () => Unit,
    abort: () => Unit) extends StagedTable with SupportsRead with SupportsWrite {

  override def name(): String = delegate.name()
  override def schema(): StructType = delegate.schema()
  override def partitioning(): Array[Transform] = delegate.partitioning()
  override def properties(): JMap[String, String] = delegate.properties()
  override def capabilities(): JSet[TableCapability] = delegate.capabilities()
  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    delegate.newScanBuilder(options)
  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    delegate.newWriteBuilder(info)

  override def commitStagedChanges(): Unit = commit()
  override def abortStagedChanges(): Unit = abort()
}
