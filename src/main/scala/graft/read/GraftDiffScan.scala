package graft.read

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.connector
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.types.{StringType, StructType}

import graft.meta.{ResolvedFile, TableInfo}

/** One input partition of a snapshot diff: the old and the new snapshot's
  * ordered runs of one key range (a bucket of one range partition, or a
  * whole range partition), walked in lockstep by the diff kernel of
  * [[GraftPartitionReaderFactory]]. */
case class GraftDiffPartition(oldRuns: Array[GraftRunSpec],
    newRuns: Array[GraftRunSpec]) extends InputPartition

/** Read-only DSv2 table of the row-level change feed between two resolved
  * snapshots of a non-CDC PK table ([[graft.tables.GraftTable.diff]]): the
  * table's columns plus `_change_type`. Its scan prunes no column, pushes
  * no filter and skips no file — each would change what counts as an
  * update — so every filter and projection stays above it. */
private[graft] class GraftDiffTable(spark: SparkSession, info: TableInfo,
    oldFiles: Seq[ResolvedFile], newFiles: Seq[ResolvedFile])
    extends connector.catalog.Table with connector.catalog.SupportsRead {
  private val tableSchema = graft.util.SchemaUtil.fromJson(info.schemaJson)
  private val outSchema = BucketMergeRead.relaxMissing(tableSchema,
    oldFiles ++ newFiles).add("_change_type", StringType)

  override def name(): String = s"graft diff of ${info.tablePath}"
  override def schema(): StructType = outSchema
  override def capabilities(): java.util.Set[connector.catalog.TableCapability] =
    java.util.EnumSet.of(connector.catalog.TableCapability.BATCH_READ)
  override def newScanBuilder(
      options: org.apache.spark.sql.util.CaseInsensitiveStringMap): ScanBuilder =
    () => new GraftDiffScan(spark, info, tableSchema, outSchema, oldFiles, newFiles)
}

class GraftDiffScan(
    spark: SparkSession,
    info: TableInfo,
    tableSchema: StructType,
    outSchema: StructType,
    oldFiles: Seq[ResolvedFile],
    newFiles: Seq[ResolvedFile]) extends Scan with Batch {

  /** [[GraftRead.forceCrossBucketRead]], read at plan time. */
  private val forceCrossBucket = GraftRead.forceCrossBucketRead

  override def readSchema(): StructType = outSchema
  override def toBatch: Batch = this

  private lazy val partitions: Array[InputPartition] =
    GraftDiffScan.partitions(info, tableSchema, oldFiles, newFiles,
      forceCrossBucket).toArray

  override def planInputPartitions(): Array[InputPartition] = partitions

  override def createReaderFactory(): PartitionReaderFactory = {
    val keyIdx = (info.rangeColumns ++ info.hashColumns)
      .map(tableSchema.fieldIndex).toArray
    GraftPartitionReaderFactory(
      org.apache.spark.sql.graft.StreamShim.parquetReadFunction(spark, tableSchema),
      keyIdx, keyIdx.map(tableSchema.fields(_).dataType),
      BucketMergeRead.fieldMerges(info, tableSchema), tableSchema, cdcIdx = -1,
      maxOpenRuns = BoundedMerge.cap(spark, tableSchema),
      hashIdx = info.hashColumns.map(tableSchema.fieldIndex).toArray,
      exactDiff = BucketMergeRead.forceExactDiffPath)
  }
}

object GraftDiffScan {

  /** The change feed between two snapshots as one DSv2 scan. */
  def read(spark: SparkSession, info: TableInfo, oldFiles: Seq[ResolvedFile],
      newFiles: Seq[ResolvedFile]): DataFrame =
    org.apache.spark.sql.graft.StreamShim.dsv2Df(spark,
      new GraftDiffTable(spark, info, oldFiles, newFiles))

  /** Pair the two snapshots' runs key range by key range. Both sides plan
    * under the mapping of their UNION ([[graft.meta.RebucketLog.epochsOf]]),
    * so pair i holds the same keys on either side: one epoch plans one
    * pair per bucket id (widened to the observed ids), two or more one per
    * bucket of the final mapping ([[GraftScan.epochPartitions]]), and an
    * ambiguous union — or `forceCrossBucket` — one per range partition.
    * Range partitions are key-disjoint, so each plans on its own, and a
    * pair whose sides hold identical runs cannot differ and is dropped: a
    * window touching one partition's buckets diffs only those. */
  private[read] def partitions(info: TableInfo, schema: StructType,
      oldFiles: Seq[ResolvedFile], newFiles: Seq[ResolvedFile],
      forceCrossBucket: Boolean): Seq[GraftDiffPartition] = {
    val all = oldFiles ++ newFiles
    val oldBy = oldFiles.groupBy(_.partitionDesc)
    val newBy = newFiles.groupBy(_.partitionDesc)
    val descs = (oldBy.keySet ++ newBy.keySet).toSeq.sorted
    def runsOf(ps: Array[InputPartition]): Seq[Array[GraftRunSpec]] =
      ps.toSeq.map { case GraftBucketPartition(_, runs) => runs }
    def pair(plan: Seq[ResolvedFile] => Option[Seq[Array[GraftRunSpec]]])
        : Option[Seq[GraftDiffPartition]] = {
      val sides = descs.map(d =>
        (plan(oldBy.getOrElse(d, Nil)), plan(newBy.getOrElse(d, Nil))))
      if (sides.exists(s => s._1.isEmpty || s._2.isEmpty)) None
      else Some(sides.flatMap { case (o, n) => o.get.zip(n.get) }
        .filter { case (o, n) => !o.map(_.signature).sameElements(n.map(_.signature)) }
        .map { case (o, n) => GraftDiffPartition(o, n) })
    }
    val epochs =
      if (forceCrossBucket) None
      else graft.meta.RebucketLog.epochsOf(info.properties, info.bucketNum, all)
    (epochs match {
      case Some(es) if es.size <= 1 =>
        val n = math.max(info.bucketNum,
          all.iterator.map(_.file.bucketId).foldLeft(-1)(math.max) + 1)
        pair(fs => Some(runsOf(GraftScan.bucketPartitions(info, schema, fs, 0 until n))))
      case Some(es) =>
        pair(fs => GraftScan.epochPartitions(info, schema, fs, es).map(runsOf))
      case None => None
    }).getOrElse(
      pair(fs => Some(Seq(GraftScan.crossBucketRuns(info, schema, fs)))).get)
  }
}
