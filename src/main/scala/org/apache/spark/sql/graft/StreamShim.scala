package org.apache.spark.sql.graft

import org.apache.spark.sql.DataFrame

/** Lives under org.apache.spark.sql to reach private[sql] internals — the
  * same integration technique the reference uses (its Spark module is rooted
  * at org/apache/spark/sql/lakesoul). Only used by the streaming source:
  * DSv1 Source.getBatch must return a DataFrame flagged isStreaming. */
object StreamShim {
  def asStreaming(df: DataFrame): DataFrame = {
    val spark = df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    spark.internalCreateDataFrame(
      df.queryExecution.toRdd, df.schema, isStreaming = true)
  }

  /** Re-plan a streaming micro-batch DF as a batch DF (Sink.addBatch). */
  def asBatch(df: DataFrame): DataFrame = {
    val spark = df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    spark.internalCreateDataFrame(
      df.queryExecution.toRdd, df.schema, isStreaming = false)
  }

  /** DataFrame over an RDD of InternalRow (bucket-merge read output). */
  def dfFromInternalRows(
      session: org.apache.spark.sql.SparkSession,
      rdd: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
      schema: org.apache.spark.sql.types.StructType): DataFrame = {
    val spark = session.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    spark.internalCreateDataFrame(rdd, schema, isStreaming = false)
  }

  /** Catalyst Expression of a Column (private[sql] in Spark 4). */
  def expressionOf(c: org.apache.spark.sql.Column)
    : org.apache.spark.sql.catalyst.expressions.Expression =
    org.apache.spark.sql.classic.ExpressionUtils.expression(c)

  /** Column from a catalyst Expression (private[sql] in Spark 4). */
  def columnOf(e: org.apache.spark.sql.catalyst.expressions.Expression)
    : org.apache.spark.sql.Column =
    org.apache.spark.sql.classic.ExpressionUtils.column(e)

  /** DataFrame from a resolved logical plan (DML command execution). */
  def ofRows(
      session: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): DataFrame = {
    val spark = session.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    org.apache.spark.sql.classic.Dataset.ofRows(spark, plan)
  }

  /** Serializable executor-side parquet row writer (Spark's own
    * ParquetFileFormat output path — OutputWriterFactory is private[sql],
    * hence this shim): `open(path, partitionId, taskId)` returns
    * (write(row), close) closures usable from a DSv2 streaming DataWriter. */
  def parquetRowWriters(
      session: org.apache.spark.sql.SparkSession,
      schema: org.apache.spark.sql.types.StructType): ParquetRowWriters = {
    val spark = session.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val job = org.apache.hadoop.mapreduce.Job.getInstance(
      spark.sessionState.newHadoopConf())
    val factory = new org.apache.spark.sql.execution.datasources.parquet
      .ParquetFileFormat().prepareWrite(spark, job, Map.empty, schema)
    new ParquetRowWriters(factory, schema,
      new org.apache.spark.util.SerializableConfiguration(job.getConfiguration))
  }

  /** Executor-safe parquet run reader ([[ParquetRunReader]]): the driver
    * resolves the reader settings and broadcasts one hadoop conf; each task
    * calls `forTask()` once and gets a per-file open function backed by ONE
    * `JobConf` for the whole task, whose vectorized readers size their
    * batches to min(columnarReaderBatchSize, file rows). `filters` are
    * converted per file against that file's parquet schema (row-group
    * pruning). Schemas the vectorized reader cannot decode (nested types)
    * read through Spark's own `ParquetFileFormat` reader. */
  def parquetReadFunction(
      session: org.apache.spark.sql.SparkSession,
      schema: org.apache.spark.sql.types.StructType,
      filters: Seq[org.apache.spark.sql.sources.Filter] = Nil): ParquetRunReader = {
    val spark = session.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val sql = spark.sessionState.conf
    val fmt = new org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat()
    // NULLABLE-relaxed request: a partial upsert batch legally omits table
    // columns — including NON-NULLABLE ones (file_exist_cols fall-through
    // supplies them from older runs at merge time) — and the vectorized
    // reader refuses to null-fill a missing column it believes is required
    // (VectorizedParquetRecordReader.checkColumn). Decode-side nullability
    // is dynamic anyway; the scan's declared schema keeps the table's.
    val readSchema = schema.asNullable
    // VECTORIZED decode whenever the schema allows it: the reader then yields
    // ColumnarBatch objects (erased to InternalRow) that the merge flattens
    // into row VIEWS — columnar decode speed without a row materialization,
    // the same shape the reference gets from its Arrow-native merge reader
    // (sorted_stream_merger.rs). Row mode only for nested/unsupported types.
    val batched = fmt.supportBatch(spark, readSchema)
    val settings = ParquetRunReader.settings(sql)
    if (org.apache.spark.sql.execution.datasources.parquet.ParquetUtils
        .isBatchReadSupportedForSchema(sql, readSchema)) {
      val conf = spark.sessionState.newHadoopConf()
      ParquetRunReader.setupHadoopConf(conf, sql, readSchema)
      new ParquetRunReader(
        spark.sparkContext.broadcast(
          new org.apache.spark.util.SerializableConfiguration(conf)),
        filters, batched, settings, fallback = null)
    } else
      new ParquetRunReader(conf = null, filters, batched, settings,
        fmt.buildReaderWithPartitionValues(
          spark,
          dataSchema = readSchema,
          partitionSchema = new org.apache.spark.sql.types.StructType(),
          requiredSchema = readSchema,
          filters = filters,
          options = Map(org.apache.spark.sql.execution.datasources.FileFormat
            .OPTION_RETURNING_BATCH -> batched.toString),
          hadoopConf = spark.sessionState.newHadoopConf()))
  }

  /** DataFrame over a DSv2 Table handle (logical DataSourceV2Relation —
    * private[sql] create, hence this shim): library snapshot reads route
    * through the same GraftScanV2 the SQL catalog uses, so they get filter
    * pushdown, KeyGroupedPartitioning, and the columnar merge. */
  def dsv2Df(
      session: org.apache.spark.sql.SparkSession,
      table: org.apache.spark.sql.connector.catalog.Table): DataFrame = {
    val rel = org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
      .create(table, None, None)
    ofRows(session, rel)
  }

  /** Executor-local scratch directory for merge spill files — Spark's own
    * configured local dir (spark.local.dir / YARN container dirs), the same
    * place shuffle and spill data land; java.io.tmpdir outside a Spark env. */
  def localSpillDir(): String = {
    val env = org.apache.spark.SparkEnv.get
    if (env == null) System.getProperty("java.io.tmpdir")
    else org.apache.spark.util.Utils.getLocalDir(env.conf)
  }

  /** Whether [[parquetReadFunction]] for this schema yields ColumnarBatches
    * (the same `supportBatch` decision it makes internally) — callers use
    * this to offer DSv2 columnar reads on merge-free partitions. */
  def parquetSupportsBatch(
      session: org.apache.spark.sql.SparkSession,
      schema: org.apache.spark.sql.types.StructType): Boolean = {
    val spark = session.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    new org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat()
      .supportBatch(spark, schema)
  }

  // EXACT (non-parsing) DSv2 connector references: the public
  // Expressions.column/bucket/identity helpers parse their string args, so
  // a column name containing a literal dot becomes a nested path and fails
  // V2ExpressionUtils.resolveRef at plan time. FieldReference and
  // LogicalExpressions are private[sql] — hence these shims.
  import org.apache.spark.sql.connector.expressions.{FieldReference,
    LogicalExpressions, NamedReference, Transform}

  def exactRef(name: String): NamedReference = FieldReference(Seq(name))

  def exactBucket(n: Int, cols: Seq[String]): Transform =
    LogicalExpressions.bucket(n,
      cols.map(c => FieldReference(Seq(c)): NamedReference).toArray)

  def exactIdentity(name: String): Transform =
    LogicalExpressions.identity(FieldReference(Seq(name)))
}

/** Serializable handle around Spark's parquet OutputWriterFactory (see
  * [[StreamShim.parquetRowWriters]]). One open() per output file. */
class ParquetRowWriters(
    factory: org.apache.spark.sql.execution.datasources.OutputWriterFactory,
    schema: org.apache.spark.sql.types.StructType,
    conf: org.apache.spark.util.SerializableConfiguration) extends Serializable {

  /** The hadoop conf shipped with this handle (for FileSystem access). */
  def hadoopConf: org.apache.hadoop.conf.Configuration = conf.value

  def open(path: String, partitionId: Int, taskId: Long): ParquetRowWriter = {
    val attempt = new org.apache.hadoop.mapreduce.TaskAttemptID(
      new org.apache.hadoop.mapreduce.TaskID(
        new org.apache.hadoop.mapreduce.JobID("graft-stream", 0),
        org.apache.hadoop.mapreduce.TaskType.MAP, partitionId),
      (taskId % Int.MaxValue).toInt)
    val tac = new org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl(
      conf.value, attempt)
    new ParquetRowWriter(factory.newInstance(path, schema, tac), path)
  }
}

class ParquetRowWriter(
    w: org.apache.spark.sql.execution.datasources.OutputWriter,
    val path: String) {
  def write(row: org.apache.spark.sql.catalyst.InternalRow): Unit = w.write(row)
  def close(): Unit = w.close()
}
