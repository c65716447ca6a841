package org.apache.spark.sql.graft

import java.util.UUID

import org.apache.hadoop.mapreduce.Job
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{QueryExecution, SQLExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.InsertAdaptiveSparkPlan
import org.apache.spark.sql.execution.datasources.{FileFormatWriter, OutputWriterFactory, SQLHadoopMapReduceCommitProtocol, WriteJobStatsTracker}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.StructType

/** Spark's parquet format with graft's fixed write setting: timestamps as
  * INT64 micros. INT96 (Spark's default) has no usable parquet statistics,
  * which would blind the file-skipping bounds. The setting goes on the write
  * job's own Hadoop conf, so the session's `parquet.outputTimestampType`
  * stays as the user set it. */
class GraftParquetFormat extends ParquetFileFormat {
  override def prepareWrite(spark: SparkSession, job: Job,
      options: Map[String, String], dataSchema: StructType): OutputWriterFactory = {
    val factory = super.prepareWrite(spark, job, options, dataSchema)
    job.getConfiguration.set(SQLConf.PARQUET_OUTPUT_TIMESTAMP_TYPE.key,
      SQLConf.ParquetOutputTimestampType.TIMESTAMP_MICROS.toString)
    factory
  }
}

/** One graft write job: Spark's `FileFormatWriter` called directly, as the
  * reference's and Delta's `TransactionalWrite` do, so the format, the plan,
  * the committer and the stats trackers are arguments of this write and no
  * session conf changes while it runs. */
object WriteShim {

  /** Write `df` as parquet under `path`, one directory level per entry of
    * `partitionColumns` (dynamic partitions), with Spark's default
    * committer. `options` carry the codec, `maxRecordsPerFile` and
    * `parquet.*` Hadoop keys. `adaptive = false` plans `df` without
    * adaptive execution; `df`'s own sort must already satisfy the
    * partition-column ordering, so the writer adds no second sort. The job
    * runs under its own SQL execution id, so the SQL tab and listeners see
    * it. */
  def write(df: DataFrame, path: String, partitionColumns: Seq[String],
      options: Map[String, String], statsTrackers: Seq[WriteJobStatsTracker],
      adaptive: Boolean): Unit = {
    val spark = df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    val qe =
      if (adaptive) df.queryExecution
      else new NonAdaptiveExecution(spark, df.queryExecution.analyzed)
    SQLExecution.withNewExecutionId(qe, Some("graftWrite")) {
      val plan = qe.executedPlan
      FileFormatWriter.write(spark, plan, new GraftParquetFormat,
        new SQLHadoopMapReduceCommitProtocol(UUID.randomUUID().toString, path),
        FileFormatWriter.OutputSpec(path, Map.empty, plan.output),
        spark.sessionState.newHadoopConfWithOptions(options),
        partitionColumns.map(c => plan.output.find(_.name == c).get),
        None, statsTrackers, options)
    }
  }
}

/** A query execution whose physical preparations leave out
  * `InsertAdaptiveSparkPlan`: the plan runs as one job, whatever the
  * session's `spark.sql.adaptive.enabled`. */
private class NonAdaptiveExecution(
    spark: org.apache.spark.sql.classic.SparkSession, plan: LogicalPlan)
    extends QueryExecution(spark, plan) {
  override protected def preparations: Seq[Rule[SparkPlan]] =
    super.preparations.filterNot(_.isInstanceOf[InsertAdaptiveSparkPlan])
}
