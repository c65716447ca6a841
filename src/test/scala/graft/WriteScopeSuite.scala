package graft

import java.nio.file.{Files, Paths}
import java.sql.Timestamp
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicBoolean

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration._
import scala.jdk.CollectionConverters._

import org.apache.parquet.schema.LogicalTypeAnnotation.{TimeUnit => PTimeUnit, TimestampLogicalTypeAnnotation}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.util.QueryExecutionListener

import graft.meta.CommitOp
import graft.tables.GraftTable
import graft.write.{FileStatsCollector, TransactionalWrite}

/** A graft write's settings are arguments of its own `FileFormatWriter`
  * job (format, plan, committer, stats tracker), so queries and writes
  * beside it on the same session keep the session's confs. */
class WriteScopeSuite extends SparkFixture {
  import spark.implicits._

  private def parquetFiles(dir: String): Seq[String] =
    Files.walk(Paths.get(dir)).iterator().asScala
      .map(_.toString).filter(_.endsWith(".parquet")).toSeq

  private def tsColumn(file: String) =
    parquetFooter(file).getFileMetaData.getSchema.getType(Seq("ts"): _*).asPrimitiveType

  test("a graft write held mid-job leaves the session's confs, AQE " +
    "planning and plain parquet writes untouched") {
    withTempPath { path =>
      val keys = Seq(SQLConf.ADAPTIVE_EXECUTION_ENABLED.key,
        SQLConf.FILE_COMMIT_PROTOCOL_CLASS.key,
        SQLConf.PARQUET_OUTPUT_TIMESTAMP_TYPE.key)
      def confs = keys.map(k => k -> spark.conf.getOption(k))
      val before = confs
      val ts = Timestamp.valueOf("2024-01-02 03:04:05")
      val t = GraftTable.create(spark, Seq((0L, "a", ts)).toDF("id", "v", "ts"),
        s"$path/t", hashColumns = Seq("id"), bucketNum = 2)
      // an inert input (leaf scan + project) whose one map task holds the
      // write job until the checks below are done
      val hold = udf { (id: Long) => WriteScopeSuite.holdOnce(); s"v$id" }
      val batch = spark.range(0, 10, 1, 1)
        .select(col("id"), hold(col("id")).as("v"), lit(ts).as("ts"))
      implicit val ec: ExecutionContext = ExecutionContext.global
      val write = Future(
        TransactionalWrite.writeFiles(spark, t.info, batch, CommitOp.Merge))
      try {
        assert(WriteScopeSuite.held.await(60, TimeUnit.SECONDS),
          "the graft write job never reached its held task")
        assert(confs == before, "a running graft write changed session confs")
        val agg = spark.range(100).groupBy(col("id") % 3).count()
        assert(agg.queryExecution.executedPlan.isInstanceOf[AdaptiveSparkPlanExec],
          s"an aggregate beside a graft write lost AQE:\n${agg.queryExecution.executedPlan}")
        Seq(ts).toDF("ts").write.parquet(s"$path/plain")
        val plain = parquetFiles(s"$path/plain")
        assert(plain.nonEmpty && plain.forall(tsColumn(_).getPrimitiveTypeName ==
          PrimitiveTypeName.INT96), "a plain parquet write must keep the session's INT96")
      } finally WriteScopeSuite.release.countDown()
      val files = Await.result(write, 2.minutes).flatMap(_.files)
      assert(files.nonEmpty && files.forall { f =>
        val c = tsColumn(f.path)
        c.getPrimitiveTypeName == PrimitiveTypeName.INT64 &&
          (c.getLogicalTypeAnnotation match {
            case a: TimestampLogicalTypeAnnotation => a.getUnit == PTimeUnit.MICROS
            case _ => false
          })
      }, "graft data files keep INT64 micros timestamps")
      assert(confs == before)
    }
  }

  /** The executed plans of the graft write jobs `body` runs. */
  private def writePlans(body: => Unit): Seq[SparkPlan] = {
    val plans = new ConcurrentLinkedQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, ns: Long): Unit =
        if (funcName == "graftWrite") plans.add(qe.executedPlan)
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      body
      val deadline = System.currentTimeMillis() + 10000
      while (plans.isEmpty && System.currentTimeMillis() < deadline) Thread.sleep(20)
      plans.asScala.toSeq
    } finally spark.listenerManager.unregister(listener)
  }

  test("AQE is the write plan's own decision: an inert upsert plans " +
    "without it, an upsert whose input joins keeps it") {
    withTempPath { path =>
      val t = GraftTable.create(spark, Seq((1L, "a")).toDF("id", "v"), path,
        hashColumns = Seq("id"), bucketNum = 2)
      val inert = writePlans(t.upsert(Seq((2L, "b")).toDF("id", "v")))
      assert(inert.nonEmpty && inert.forall(
        _.find(_.isInstanceOf[AdaptiveSparkPlanExec]).isEmpty), inert.mkString("\n"))
      val keys = Seq(1L, 3L).toDF("id")
      val joined = writePlans(t.upsert(
        Seq((1L, "c"), (3L, "d")).toDF("id", "v").join(keys, "id")))
      assert(joined.nonEmpty && joined.forall(_.isInstanceOf[AdaptiveSparkPlanExec]),
        joined.mkString("\n"))
      assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
      assertRows(t.toDF, Seq("[1,c]", "[2,b]", "[3,d]"))
    }
  }

  test("flat-bucket writes with stats off drop zero-row files by the " +
    "write tasks' row counts") {
    withTempPath { path =>
      val t = GraftTable.create(spark,
        (1L to 40L).map(i => (i, s"v$i")).toDF("id", "v"), path,
        hashColumns = Seq("id"), bucketNum = 4,
        properties = Map(FileStatsCollector.EnabledProp -> "false"))
      val before = t.liveFiles.map(_.file.path).toSet
      t.upsert(Seq((7L, "x")).toDF("id", "v"))
      val added = t.liveFiles.map(_.file.path).filterNot(before)
      assert(added.size == 1, s"a one-key upsert commits one file: $added")
      assert(t.liveFiles.forall(_.file.stats.isEmpty), "stats collection is off")
      val rows = parquetFiles(s"$path/data").map(f =>
        f -> parquetFooter(f).getBlocks.asScala.map(_.getRowCount).sum)
      assert(!rows.exists(_._2 == 0L), s"zero-row files left on disk: $rows")
      assertRows(t.toDF.filter("id = 7"), Seq("[7,x]"))
      assert(t.toDF.count() == 40)
    }
  }
}

object WriteScopeSuite {
  val held = new CountDownLatch(1)
  val release = new CountDownLatch(1)
  private val first = new AtomicBoolean(true)

  /** Blocks the first caller (a write task) until [[release]]. */
  def holdOnce(): Unit =
    if (first.compareAndSet(true, false)) {
      held.countDown()
      release.await(120, TimeUnit.SECONDS)
    }
}
