package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast, UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
import org.apache.spark.sql.connector.expressions.{Expressions, SortDirection, SortOrder}
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.graft.ParquetRowWriters
import org.apache.spark.sql.types.{StringType, StructType}

import graft.meta.DataFileInfo
import graft.tables.GraftTable
import graft.write.TransactionalWrite

/** DSv2 streaming sink (S11/S13 through the catalog;
  * `df.writeStream.toTable("graft_cat.ns.t")` — reference every-scan
  * `LakeSoulSink`): a true executor-side write.
  *
  * Spark-first design: instead of re-planning the micro-batch on the driver
  * (the DSv1 `Sink.addBatch` shape), the write declares its layout needs via
  * [[RequiresDistributionAndOrdering]] — cluster by (range..., bucket(n, pk))
  * and sort by (range..., bucket, pk) — and Catalyst inserts the single
  * shuffle + local sort. Each task then streams rows straight into
  * bucket-rolled sorted parquet files (Spark's own parquet writer via
  * [[ParquetRowWriters]]); the driver commit publishes the file list as one
  * Merge/Append commit with the same (queryId, batchId) exactly-once guard
  * as [[GraftSink]].
  *
  * Within a micro-batch, duplicate primary keys collapse row-level
  * last-writer-wins (rows arrive pk-sorted, so the dedup is a one-row
  * buffer); across batches the table's per-column merge operators apply as
  * usual on read. Tables whose intra-batch semantics must be a per-column
  * aggregate (e.g. `sum_all` of in-batch duplicates) should ingest via
  * `foreachBatch(GraftSink.forEachBatchWriter(...))`, which pre-merges.
  */
class GraftStreamingWrite(
    tablePath: String,
    schemaJson: String,
    rangeCols: Seq[String],
    hashCols: Seq[String],
    bucketNum: Int,
    queryId: String,
    truncate: Boolean,
    writers: ParquetRowWriters) extends StreamingWrite
    with RequiresDistributionAndOrdering {

  private def hasPk = hashCols.nonEmpty

  override def requiredDistribution(): Distribution = {
    val cluster = rangeCols.map(graft.util.SchemaUtil.qidentity) ++
      (if (hasPk) Seq(graft.util.SchemaUtil.qbucket(bucketNum, hashCols)) else Nil)
    if (cluster.isEmpty) Distributions.unspecified()
    else Distributions.clustered(cluster.toArray)
  }

  override def requiredOrdering(): Array[SortOrder] = {
    val orders = rangeCols.map(c =>
      Expressions.sort(graft.util.SchemaUtil.qidentity(c), SortDirection.ASCENDING)) ++
      (if (hasPk)
        Expressions.sort(graft.util.SchemaUtil.qbucket(bucketNum, hashCols),
          SortDirection.ASCENDING) +:
          hashCols.map(c =>
            Expressions.sort(graft.util.SchemaUtil.qidentity(c), SortDirection.ASCENDING))
      else Nil)
    orders.toArray
  }

  override def createStreamingWriterFactory(
      info: PhysicalWriteInfo): StreamingDataWriterFactory =
    GraftStreamWriterFactory(tablePath, schemaJson, rangeCols, hashCols,
      bucketNum, queryId, writers)

  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val files = messages.toSeq.collect {
      case m: GraftStreamCommitMessage => m.files
    }.flatten
    GraftTable.forPath(SparkSession.active, tablePath)
      .commitStreamBatch(queryId, epochId, files, truncate,
        writtenBucketNum = if (hasPk) Some(bucketNum) else None)
  }

  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val fs = new org.apache.hadoop.fs.Path(tablePath)
      .getFileSystem(writers.hadoopConf)
    messages.collect { case m: GraftStreamCommitMessage => m.files }
      .flatten.foreach { case (_, f) =>
        fs.delete(new org.apache.hadoop.fs.Path(f.path), false)
      }
  }
}

case class GraftStreamCommitMessage(files: Seq[(String, DataFileInfo)])
    extends WriterCommitMessage

/** Executor side: rows arrive clustered by (range, bucket) and sorted by
  * (range, bucket, pk); the writer rolls a parquet file per (partition-desc,
  * bucket) within the task and collapses consecutive duplicate keys
  * last-writer-wins. */
case class GraftStreamWriterFactory(
    tablePath: String,
    schemaJson: String,
    rangeCols: Seq[String],
    hashCols: Seq[String],
    bucketNum: Int,
    queryId: String,
    writers: ParquetRowWriters) extends StreamingDataWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] =
    new GraftStreamDataWriter(tablePath, schemaJson, rangeCols, hashCols,
      bucketNum, queryId, partitionId, taskId, epochId, writers)
}

class GraftStreamDataWriter(
    tablePath: String,
    schemaJson: String,
    rangeCols: Seq[String],
    hashCols: Seq[String],
    bucketNum: Int,
    queryId: String,
    partitionId: Int,
    taskId: Long,
    epochId: Long,
    writers: ParquetRowWriters) extends DataWriter[InternalRow] {

  private val schema: StructType = graft.util.SchemaUtil.fromJson(schemaJson)
  private val existCols = schema.fieldNames.mkString(",")
  private def ref(c: String) = {
    val i = schema.fieldIndex(c)
    BoundReference(i, schema.fields(i).dataType, schema.fields(i).nullable)
  }
  private val bucketProj =
    if (hashCols.isEmpty) null
    else UnsafeProjection.create(Seq(
      graft.write.TransactionalWrite.bucketExpr(hashCols.map(ref), bucketNum)))
  private val keyProj =
    if (hashCols.isEmpty) null
    else UnsafeProjection.create((rangeCols ++ hashCols).map(ref))
  // range values rendered like the batch path's directory columns
  private val descProj =
    if (rangeCols.isEmpty) null
    else UnsafeProjection.create(rangeCols.map(c =>
      Cast(ref(c), StringType, Some("UTC"))))

  private def descOf(row: InternalRow): String =
    if (rangeCols.isEmpty) graft.meta.TableInfo.RootPartition
    else {
      val r = descProj(row)
      rangeCols.indices.map { i =>
        val v =
          if (r.isNullAt(i)) TransactionalWrite.NullSentinel
          else {
            val s = r.getUTF8String(i).toString
            if (s.isEmpty) TransactionalWrite.EmptySentinel else s
          }
        s"${rangeCols(i)}=$v"
      }.mkString(",")
    }

  private val dir = new org.apache.hadoop.fs.Path(
    s"$tablePath/data/stream-${math.abs(queryId.hashCode)}-$epochId")

  private var current: org.apache.spark.sql.graft.ParquetRowWriter = _
  private var currentDesc: String = _
  private var currentBucket: Int = -1
  private var fileSeq = 0
  private val done = scala.collection.mutable.ArrayBuffer[(String, DataFileInfo)]()
  // one-row buffer for consecutive-duplicate-pk collapse (last writer wins)
  private var pendingRow: InternalRow = _
  private var pendingKey: UnsafeRow = _
  private var pendingDesc: String = _
  private var pendingBucket: Int = -1

  private def roll(desc: String, bucket: Int): Unit = {
    closeCurrent()
    val name = f"part-$partitionId%05d-$fileSeq%04d.parquet"
    fileSeq += 1
    val sub = (if (desc == graft.meta.TableInfo.RootPartition) ""
      else desc.replace(',', '/') + "/") +
      (if (bucket >= 0) s"b$bucket/" else "")
    val path = new org.apache.hadoop.fs.Path(dir, sub + name)
    path.getFileSystem(writers.hadoopConf).mkdirs(path.getParent)
    current = writers.open(path.toString, partitionId, taskId)
    currentDesc = desc
    currentBucket = bucket
  }

  private def closeCurrent(): Unit = if (current != null) {
    current.close()
    val p = new org.apache.hadoop.fs.Path(current.path)
    val size = p.getFileSystem(writers.hadoopConf).getFileStatus(p).getLen
    done += ((currentDesc,
      DataFileInfo(current.path, "add", size, currentBucket, existCols)))
    current = null
  }

  private def emit(row: InternalRow, desc: String, bucket: Int): Unit = {
    if (current == null || currentDesc != desc || currentBucket != bucket)
      roll(desc, bucket)
    current.write(row)
  }

  override def write(row: InternalRow): Unit = {
    val desc = descOf(row)
    val bucket = if (bucketProj == null) -1 else bucketProj(row).getInt(0)
    if (keyProj == null) emit(row, desc, bucket)
    else {
      val key = keyProj(row)
      if (pendingRow != null && key == pendingKey) {
        // same pk as buffered row: last writer wins within the batch
        pendingRow = row.asInstanceOf[UnsafeRow].copy()
      } else {
        if (pendingRow != null) emit(pendingRow, pendingDesc, pendingBucket)
        pendingRow = row.asInstanceOf[UnsafeRow].copy()
        pendingKey = key.copy()
        pendingDesc = desc
        pendingBucket = bucket
      }
    }
  }

  override def commit(): WriterCommitMessage = {
    if (pendingRow != null) { emit(pendingRow, pendingDesc, pendingBucket); pendingRow = null }
    closeCurrent()
    GraftStreamCommitMessage(done.toSeq)
  }

  override def abort(): Unit = {
    if (current != null) { current.close(); current = null }
    val fs = dir.getFileSystem(writers.hadoopConf)
    done.foreach { case (_, f) =>
      fs.delete(new org.apache.hadoop.fs.Path(f.path), false)
    }
  }

  override def close(): Unit = if (current != null) closeCurrent()
}
