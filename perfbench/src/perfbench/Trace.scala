package perfbench

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong


import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.util.QueryExecutionListener

import graft.meta._

/** Epoch-aligned microsecond clock: Spark listener events carry epoch
  * milliseconds, op and metadata spans use this clock so the two line up. */
object Clock {
  private val baseMs = System.currentTimeMillis()
  private val baseNs = System.nanoTime()
  def nowUs: Long = baseMs * 1000 + (System.nanoTime() - baseNs) / 1000
}

/** The public operation a span belongs to. `kind` is one of [[Ops.All]], or
  * a bookkeeping context ("setup", "check", "poll") whose work is attributed
  * but not reported. */
final class OpCtx(val id: Long, val kind: String) {
  def group: String = s"op-$id"
}

final case class MetaCall(op: OpCtx, method: String, startUs: Long, endUs: Long,
    outcome: String, filesAdded: Int, bytesAdded: Long)

final class JobRec(val jobId: Int, val group: String, val startMs: Long) {
  @volatile var endMs: Long = -1
  var tasks = 0
  var cpuNs = 0L
  var shuffleBytes = 0L
}

/** Outside-in tracer: spans come from the benchmark's own wrappers around
  * the table API ([[OpCtx]]), from a delegating [[MetaStore]] and from Spark
  * listeners. Nothing inside the library is instrumented. */
final class Tracer(spark: SparkSession) {
  val current = new InheritableThreadLocal[OpCtx]
  val metaCalls = new ConcurrentLinkedQueue[MetaCall]()
  val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stageJob = new ConcurrentHashMap[Int, JobRec]()
  private val queryFiles = new java.util.IdentityHashMap[QueryExecution, (Long, Long)]()
  /** op id -> the query execution its action ran */
  val opQueries = new ConcurrentHashMap[Long, QueryExecution]()

  /** Run `body` attributed to `op`: Spark jobs by job group, store calls by
    * the inheritable thread-local. */
  def within[T](op: OpCtx)(body: => T): T = {
    val sc = spark.sparkContext
    val prev = current.get
    current.set(op)
    sc.setJobGroup(op.group, op.kind, interruptOnCancel = false)
    try body
    finally {
      if (prev == null) { current.remove(); sc.clearJobGroup() }
      else { current.set(prev); sc.setJobGroup(prev.group, prev.kind, interruptOnCancel = false) }
    }
  }

  def noteQuery(op: OpCtx, qe: QueryExecution): Unit = opQueries.put(op.id, qe)

  def filesOf(qe: QueryExecution): Option[(Long, Long)] =
    queryFiles.synchronized(Option(queryFiles.get(qe)))

  private object planHelper extends AdaptiveSparkPlanHelper

  val sparkListener: SparkListener = new SparkListener {
    override def onJobStart(js: SparkListenerJobStart): Unit = {
      val group = Option(js.properties).flatMap(p =>
        Option(p.getProperty("spark.jobGroup.id"))).getOrElse("")
      val rec = new JobRec(js.jobId, group, js.time)
      jobs.put(js.jobId, rec)
      js.stageIds.foreach(s => stageJob.put(s, rec))
    }
    override def onJobEnd(je: SparkListenerJobEnd): Unit =
      Option(jobs.get(je.jobId)).foreach(_.endMs = je.time)
    override def onTaskEnd(te: SparkListenerTaskEnd): Unit =
      Option(stageJob.get(te.stageId)).foreach { r =>
        r.synchronized {
          r.tasks += 1
          Option(te.taskMetrics).foreach { m =>
            r.cpuNs += m.executorCpuTime
            r.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
          }
        }
      }
  }

  /** Reads the DSv2 scan's driver metrics (files planned / skipped). */
  val queryListener: QueryExecutionListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val scans = planHelper.collect(qe.executedPlan) {
        case b: BatchScanExec if b.metrics.contains("graftFilesPlanned") => b.metrics
      }
      if (scans.nonEmpty) {
        val planned = scans.map(_("graftFilesPlanned").value).sum
        val skipped = scans.map(_.get("graftFilesSkipped").map(_.value).getOrElse(0L)).sum
        queryFiles.synchronized(queryFiles.put(qe, (planned, skipped)))
      }
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  def install(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
  }

  /** Block until the listener bus has delivered every queued event. */
  def drain(): Unit = org.apache.spark.perfbench.BusDrain.drain(spark.sparkContext)
}

/** A [[MetaStore]] that forwards every call to `inner` and records it as a
  * metadata-layer span of the calling operation. Passed to the table through
  * `GraftTable.create(..., store = ...)`, so every snapshot resolve, listing
  * and CAS commit of that table is seen here. */
final class TracingStore(inner: MetaStore, tracer: Tracer) extends MetaStore {
  /** Successful commits per table path. */
  val commitsOk = new ConcurrentHashMap[String, AtomicLong]()

  private def span[T](method: String, added: Seq[DataCommitInfo] = Nil)(body: => T): T = {
    val op = tracer.current.get
    val s = Clock.nowUs
    var outcome = "error"
    try {
      val r = body
      outcome = "ok"
      r
    } catch {
      case e: MetaRerunException => outcome = "conflict"; throw e
    } finally {
      val files = if (outcome == "ok") added.flatMap(_.files).filter(_.fileOp == "add") else Nil
      tracer.metaCalls.add(MetaCall(op, method, s, Clock.nowUs, outcome,
        files.size, files.map(_.size).sum))
    }
  }

  private def commitSpan[T](tables: Seq[String], added: Seq[DataCommitInfo])(body: => T): T = {
    val r = span("commit", added)(body)
    tables.distinct.foreach(tp => commitsOk.computeIfAbsent(tp, _ => new AtomicLong()).incrementAndGet())
    r
  }

  def createTable(info: TableInfo): Unit = span("createTable")(inner.createTable(info))
  def getTableInfo(tp: String): Option[TableInfo] = span("getTableInfo")(inner.getTableInfo(tp))
  def updateTableInfo(info: TableInfo): Unit = span("updateTableInfo")(inner.updateTableInfo(info))
  override def updateProperties(tp: String)(f: Map[String, String] => Map[String, String]): Unit =
    span("updateProperties")(inner.updateProperties(tp)(f))
  override def updateInfo(tp: String)(f: TableInfo => TableInfo): Unit =
    span("updateInfo")(inner.updateInfo(tp)(f))
  def updateInfoAtFlip(tp: String)(f: (TableInfo, Long) => TableInfo): Unit =
    span("updateInfoAtFlip")(inner.updateInfoAtFlip(tp)(f))
  def commit(tp: String, commits: Seq[DataCommitInfo], expectedVersions: Map[String, Int],
      expectedBucketNum: Option[Int]): Unit =
    commitSpan(Seq(tp), commits)(inner.commit(tp, commits, expectedVersions, expectedBucketNum))
  override def commitMany(entries: Seq[(String, Seq[DataCommitInfo], Map[String, Int])],
      expectedBucketNums: Map[String, Int]): Unit =
    commitSpan(entries.map(_._1), entries.flatMap(_._2))(inner.commitMany(entries, expectedBucketNums))
  def rebucketIfNoPartitions(tp: String, n: Int): Boolean =
    span("rebucketIfNoPartitions")(inner.rebucketIfNoPartitions(tp, n))
  def listPartitionHeads(tp: String): Seq[PartitionInfo] =
    span("listPartitionHeads")(inner.listPartitionHeads(tp))
  override def partitionHead(tp: String, desc: String): Option[PartitionInfo] =
    span("partitionHead")(inner.partitionHead(tp, desc))
  override def maxCommitTs(tp: String): Long = span("maxCommitTs")(inner.maxCommitTs(tp))
  override def partitionVersionsBulk(tp: String, descs: Seq[String]): Map[String, Seq[PartitionInfo]] =
    span("partitionVersionsBulk")(inner.partitionVersionsBulk(tp, descs))
  override def partitionsChangedBetween(tp: String, s: Long, e: Long): Seq[String] =
    span("partitionsChangedBetween")(inner.partitionsChangedBetween(tp, s, e))
  def commitTimestamps(tp: String): Seq[Long] = span("commitTimestamps")(inner.commitTimestamps(tp))
  def rawVersionLines(tp: String): Seq[PartitionInfo] = span("rawVersionLines")(inner.rawVersionLines(tp))
  def droppedBetween(tp: String, s: Long, e: Long): Seq[(String, Long)] =
    span("droppedBetween")(inner.droppedBetween(tp, s, e))
  def partitionVersions(tp: String, desc: String): Seq[PartitionInfo] =
    span("partitionVersions")(inner.partitionVersions(tp, desc))
  def getCommits(tp: String, ids: Seq[String]): Map[String, DataCommitInfo] =
    span("getCommits")(inner.getCommits(tp, ids))
  def rollbackPartition(tp: String, desc: String, v: Int): Unit =
    commitSpan(Seq(tp), Nil)(inner.rollbackPartition(tp, desc, v))
  def restoreTable(tp: String, asOfTs: Long, infoUpdate: Option[TableInfo => TableInfo]): Seq[PartitionInfo] =
    commitSpan(Seq(tp), Nil)(inner.restoreTable(tp, asOfTs, infoUpdate))
  def dropTable(tp: String): Unit = span("dropTable")(inner.dropTable(tp))
  def dropPartition(tp: String, desc: String): Unit = commitSpan(Seq(tp), Nil)(inner.dropPartition(tp, desc))
  override def dropPartitions(tp: String, descs: Seq[String]): Unit =
    commitSpan(Seq(tp), Nil)(inner.dropPartitions(tp, descs))
  def getMaxBatchId(tp: String, q: String): Long = span("getMaxBatchId")(inner.getMaxBatchId(tp, q))
  def recordBatchId(tp: String, q: String, b: Long): Unit = span("recordBatchId")(inner.recordBatchId(tp, q, b))
  def compactVersionLog(tp: String, retainAfterTs: Long): Long =
    span("compactVersionLog")(inner.compactVersionLog(tp, retainAfterTs))
  def retainedVersions(tp: String, retainAfterTs: Long): Seq[PartitionInfo] =
    span("retainedVersions")(inner.retainedVersions(tp, retainAfterTs))
  override def invalidateCache(tp: String): Unit = span("invalidateCache")(inner.invalidateCache(tp))
}
