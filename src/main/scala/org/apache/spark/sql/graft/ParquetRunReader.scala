package org.apache.spark.sql.graft

import java.time.ZoneId

import scala.jdk.CollectionConverters._

import org.apache.hadoop.mapred.{FileSplit, JobConf}
import org.apache.hadoop.mapreduce.{JobID, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.parquet.filter2.predicate.FilterApi
import org.apache.parquet.hadoop.ParquetInputFormat

import org.apache.spark.TaskContext
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.{DataSourceUtils, PartitionedFile}
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFilters,
  ParquetFooterReader, ParquetOptions, ParquetReadSupport, ParquetWriteSupport,
  VectorizedParquetRecordReader}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.SerializableConfiguration

/** Driver-side half of graft's parquet run reader ([[StreamShim.parquetReadFunction]]):
  * the session settings Spark's `ParquetFileFormat` reader captures, resolved
  * once, plus the broadcast hadoop conf. Serializable; executors call
  * [[forTask]] once per input partition.
  *
  * WHY graft owns this: Spark's per-file closure builds a
  * `TaskAttemptContextImpl` per file, which copies the whole hadoop conf
  * (`new JobConf(conf)`, ~1,000 entries), and sizes every reader's column
  * vectors at `columnarReaderBatchSize` rows. A merge task opens every run
  * of its bucket — 101 files at 100 deltas — so both costs are paid per run,
  * for delta files that hold a few hundred rows. Here the conf is copied
  * once per task and each reader's batch is sized to its file.
  *
  * Schemas the vectorized reader cannot decode (nested types, or the
  * vectorized reader switched off) keep Spark's own reader: `fallback` is
  * set and `conf` is null. Otherwise `fallback` is null. */
final class ParquetRunReader private[graft] (
    conf: Broadcast[SerializableConfiguration],
    filters: Seq[Filter],
    returningBatch: Boolean,
    s: ParquetRunReader.Settings,
    fallback: PartitionedFile => Iterator[InternalRow]) extends Serializable {

  /** The reader for ONE task (one input partition). It holds the task's
    * `JobConf`, so it must not be shared across tasks or threads.
    * `closeAtTaskEnd` registers a task-completion listener that closes the
    * readers the task left open; call it from an RDD compute function, so
    * the listener runs after those of the operators consuming the rows. A
    * DSv2 `PartitionReader` passes false and calls `close()` from its own
    * `close()`, which Spark runs from the listener it registered first. */
  def forTask(closeAtTaskEnd: Boolean = true): ParquetTaskReader = {
    val r = new ParquetTaskReader(if (fallback == null) conf.value.value else null,
      filters, returningBatch, s, fallback)
    if (closeAtTaskEnd)
      Option(TaskContext.get()).foreach(_.addTaskCompletionListener[Unit](_ => r.close()))
    r
  }
}

object ParquetRunReader {

  /** The reader settings Spark's parquet closure captures on the driver. */
  private[graft] case class Settings(
      offHeap: Boolean,
      int96TimestampConversion: Boolean,
      batchSize: Int,
      filterPushDown: Boolean,
      pushDownDate: Boolean,
      pushDownTimestamp: Boolean,
      pushDownDecimal: Boolean,
      pushDownStringPredicate: Boolean,
      pushDownInFilterThreshold: Int,
      caseSensitive: Boolean,
      datetimeRebaseModeInRead: String,
      int96RebaseModeInRead: String)

  private[graft] def settings(sql: SQLConf): Settings = {
    val opts = new ParquetOptions(Map.empty[String, String], sql)
    Settings(
      offHeap = sql.offHeapColumnVectorEnabled,
      int96TimestampConversion = sql.isParquetINT96TimestampConversion,
      batchSize = sql.parquetVectorizedReaderBatchSize,
      filterPushDown = sql.parquetFilterPushDown,
      pushDownDate = sql.parquetFilterPushDownDate,
      pushDownTimestamp = sql.parquetFilterPushDownTimestamp,
      pushDownDecimal = sql.parquetFilterPushDownDecimal,
      pushDownStringPredicate = sql.parquetFilterPushDownStringPredicate,
      pushDownInFilterThreshold = sql.parquetFilterPushDownInFilterThreshold,
      caseSensitive = sql.caseSensitiveAnalysis,
      datetimeRebaseModeInRead = opts.datetimeRebaseModeInRead,
      int96RebaseModeInRead = opts.int96RebaseModeInRead)
  }

  /** The hadoop keys `ParquetFileFormat.setupHadoopConf` (private) sets
    * before it broadcasts the conf: read support, requested schema,
    * session time zone (INT96 conversion reads it back) and the
    * schema-converter flags. */
  private[graft] def setupHadoopConf(hadoopConf: org.apache.hadoop.conf.Configuration,
      sql: SQLConf, schema: StructType): Unit = {
    hadoopConf.set(ParquetInputFormat.READ_SUPPORT_CLASS,
      classOf[ParquetReadSupport].getName)
    hadoopConf.set(ParquetReadSupport.SPARK_ROW_REQUESTED_SCHEMA, schema.json)
    hadoopConf.set(ParquetWriteSupport.SPARK_ROW_SCHEMA, schema.json)
    hadoopConf.set(SQLConf.SESSION_LOCAL_TIMEZONE.key, sql.sessionLocalTimeZone)
    hadoopConf.setBoolean(SQLConf.NESTED_SCHEMA_PRUNING_ENABLED.key,
      sql.nestedSchemaPruningEnabled)
    hadoopConf.setBoolean(SQLConf.CASE_SENSITIVE.key, sql.caseSensitiveAnalysis)
    hadoopConf.setBoolean(SQLConf.PARQUET_BINARY_AS_STRING.key,
      sql.isParquetBinaryAsString)
    hadoopConf.setBoolean(SQLConf.PARQUET_INT96_AS_TIMESTAMP.key,
      sql.isParquetINT96AsTimestamp)
    hadoopConf.setBoolean(SQLConf.PARQUET_INFER_TIMESTAMP_NTZ_ENABLED.key,
      sql.parquetInferTimestampNTZEnabled)
    hadoopConf.setBoolean(SQLConf.LEGACY_PARQUET_NANOS_AS_LONG.key,
      sql.legacyParquetNanosAsLong)
    hadoopConf.setBoolean(SQLConf.PARQUET_READER_RESPECT_UNKNOWN_TYPE_ANNOTATION.key,
      sql.parquetReaderRespectUnknownTypeAnnotation)
  }

  private[graft] val FilterPredicateReadable =
    ParquetInputFormat.FILTER_PREDICATE + ".human.readable"
}

/** Executor-side reader for one task: `apply(file)` opens one parquet file.
  * One `JobConf` and one `TaskAttemptContextImpl` serve every file the task
  * opens. Files open one after another on the task thread and the reader
  * reads the pushed predicate from the conf only while it initializes, so
  * setting (or clearing) `FILTER_PREDICATE` per file is race-free.
  *
  * Counts the files it opened and the time spent opening them (footer read
  * plus reader init) for the scan's task metrics. Readers close themselves
  * when drained; `close()` closes any still open. */
final class ParquetTaskReader private[graft] (
    sharedConf: org.apache.hadoop.conf.Configuration,
    filters: Seq[Filter],
    returningBatch: Boolean,
    s: ParquetRunReader.Settings,
    fallback: PartitionedFile => Iterator[InternalRow])
    extends (PartitionedFile => Iterator[InternalRow]) {

  private var opened = 0L
  private var openNanos = 0L

  /** Files opened so far by this task. */
  def filesOpened: Long = opened

  /** Milliseconds spent in footer reads and reader init so far. */
  def openMs: Long = openNanos / 1000000L

  private lazy val ctx = new TaskAttemptContextImpl(new JobConf(sharedConf),
    new TaskAttemptID(new TaskID(new JobID(), TaskType.MAP, 0), 0))

  private val live = new java.util.HashSet[RunFileIterator]()

  /** Close the readers the task left open (a merge that stopped early, a
    * failed task). Idempotent. */
  def close(): Unit = {
    val open = live.toArray(Array.empty[RunFileIterator])
    open.foreach(_.close())
  }

  override def apply(file: PartitionedFile): Iterator[InternalRow] = {
    val t0 = System.nanoTime()
    try if (fallback == null) openVectorized(file) else fallback(file)
    finally {
      opened += 1
      openNanos += System.nanoTime() - t0
    }
  }

  // Spark's vectorized per-file path (ParquetFileFormat's reader closure)
  // with the task's conf instead of a per-file copy and a file-sized batch
  private def openVectorized(file: PartitionedFile): Iterator[InternalRow] = {
    val footer = ParquetFooterReader.openFileAndReadFooter(sharedConf, file, true)
    var closeStream = true
    try {
      val meta = footer.footer.getFileMetaData
      val kv = meta.getKeyValueMetaData
      val datetimeRebase =
        DataSourceUtils.datetimeRebaseSpec(kv.get, s.datetimeRebaseModeInRead)
      val int96Rebase =
        DataSourceUtils.int96RebaseSpec(kv.get, s.int96RebaseModeInRead)
      val pushed =
        if (!s.filterPushDown || filters.isEmpty) None
        else {
          val pf = new ParquetFilters(meta.getSchema, s.pushDownDate,
            s.pushDownTimestamp, s.pushDownDecimal, s.pushDownStringPredicate,
            s.pushDownInFilterThreshold, s.caseSensitive, datetimeRebase)
          filters.flatMap(pf.createFilter(_)).reduceOption(FilterApi.and)
        }
      val conf = ctx.getConfiguration
      pushed match {
        case Some(p) => ParquetInputFormat.setFilterPredicate(conf, p)
        case None =>
          conf.unset(ParquetInputFormat.FILTER_PREDICATE)
          conf.unset(ParquetRunReader.FilterPredicateReadable)
      }
      // INT96 zone conversion only for files not written by parquet-mr,
      // decided per file as Spark does
      val convertTz: ZoneId =
        if (s.int96TimestampConversion &&
            !meta.getCreatedBy.startsWith("parquet-mr"))
          org.apache.spark.sql.catalyst.util.DateTimeUtils.getZoneId(
            sharedConf.get(SQLConf.SESSION_LOCAL_TIMEZONE.key))
        else null
      val rows = footer.footer.getBlocks.asScala.iterator.map(_.getRowCount).sum
      val capacity = math.min(s.batchSize.toLong, math.max(1L, rows)).toInt
      val reader = new VectorizedParquetRecordReader(convertTz,
        datetimeRebase.mode.toString, datetimeRebase.timeZone,
        int96Rebase.mode.toString, int96Rebase.timeZone,
        s.offHeap && TaskContext.get() != null, capacity)
      val iter = new RunFileIterator(reader)
      try {
        reader.initialize(
          new FileSplit(file.toPath, file.start, file.length, Array.empty[String]),
          ctx, Some(footer.inputFile), Some(footer.inputStream), Some(footer.footer))
        closeStream = false // the reader owns the stream now
        reader.initBatch(new StructType(), file.partitionValues)
        if (returningBatch) reader.enableReturningBatches()
        live.add(iter)
        iter.asInstanceOf[Iterator[InternalRow]]
      } catch {
        case e: Throwable =>
          iter.close()
          throw e
      }
    } finally if (closeStream) footer.inputStreamOpt.ifPresent(_.close())
  }

  /** Rows (or ColumnarBatches, erased) of one file; closes its reader when
    * drained, like Spark's RecordReaderIterator. */
  private final class RunFileIterator(private var reader: VectorizedParquetRecordReader)
      extends Iterator[AnyRef] {
    private var havePair = false
    private var finished = false

    override def hasNext: Boolean = {
      if (!finished && !havePair) {
        finished = !reader.nextKeyValue()
        if (finished) close()
        havePair = !finished
      }
      !finished
    }

    override def next(): AnyRef = {
      if (!hasNext) throw new NoSuchElementException("end of parquet file")
      havePair = false
      reader.getCurrentValue
    }

    def close(): Unit = if (reader != null) {
      finished = true
      live.remove(this)
      try reader.close() finally reader = null
    }
  }
}
