package perfbench

import java.lang.management.ManagementFactory

import scala.jdk.CollectionConverters._

/** Per-layer metrics of a traced run. Layers: `tables` (graft.tables: the
  * op's own driver time), `meta` (graft.meta: store calls), `write` /
  * `read` (graft.write / graft.read: the Spark jobs an op launched). Each
  * op's wall time is split into self times by instant: a job of the op
  * running -> write/read, else a store call running -> meta, else tables. */
object Layers {
  type Metric = (String, Double, String)

  def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum / 1e3

  private type Iv = (Long, Long)

  private def union(xs: Seq[Iv]): List[Iv] =
    xs.filter(x => x._2 > x._1).sortBy(_._1).foldLeft(List.empty[Iv]) {
      case ((s, e) :: rest, (a, b)) if a <= e => (s, math.max(e, b)) :: rest
      case (acc, x) => x :: acc
    }.reverse

  private def len(xs: Seq[Iv]): Long = xs.map(x => x._2 - x._1).sum

  private def clip(xs: Seq[Iv], s: Long, e: Long): List[Iv] =
    union(xs.map(x => (math.max(x._1, s), math.min(x._2, e))))

  private def intersect(a: List[Iv], b: List[Iv]): Long =
    (for (x <- a; y <- b) yield math.max(0L, math.min(x._2, y._2) - math.max(x._1, y._1))).sum

  /** Layer split of one op. */
  final case class OpSplit(op: OpRec, wall: Double, plan: Double, tail: Double, tablesSelf: Double,
      metaSelf: Double, jobSelf: Double, outside: Double, metaCalls: Int, metaBusy: Double,
      tasks: Int, cpu: Double, shuffle: Long, filesAdded: Int, bytesAdded: Long,
      filesPlanned: Option[(Long, Long)])

  def split(t: Tracer, ops: Seq[OpRec]): Seq[OpSplit] = {
    val metaByOp = t.metaCalls.asScala.toSeq.filter(_.op != null).groupBy(_.op.id)
    val jobsByGroup = t.jobs.values.asScala.toSeq.groupBy(_.group)
    ops.map { o =>
      val (s, e) = (o.startUs, o.endUs)
      val jobs = jobsByGroup.getOrElse(o.ctx.group, Nil)
      val meta = metaByOp.getOrElse(o.ctx.id, Nil)
      val jobIv = jobs.map(j => (j.startMs * 1000, (if (j.endMs < 0) j.startMs else j.endMs) * 1000))
      val metaIv = meta.map(m => (m.startUs, m.endUs))
      val jobIn = clip(jobIv, s, e)
      val metaIn = clip(metaIv, s, e)
      val allIn = clip(jobIv ++ metaIv, s, e)
      val outside = len(union(jobIv ++ metaIv)) - len(allIn)
      val wall = (e - s).toDouble
      val firstJob = jobIn.headOption.map(_._1).getOrElse(e)
      val lastJob = jobIn.lastOption.map(_._2).getOrElse(e)
      OpSplit(o, wall / 1e6, (firstJob - s) / 1e6, (e - lastJob) / 1e6,
        (wall - len(allIn)) / 1e6, (len(metaIn) - intersect(metaIn, jobIn)) / 1e6, len(jobIn) / 1e6,
        outside / 1e6, meta.size, meta.map(m => m.endUs - m.startUs).sum / 1e6,
        jobs.map(_.tasks).sum, jobs.map(_.cpuNs).sum / 1e9, jobs.map(_.shuffleBytes).sum,
        meta.map(_.filesAdded).sum, meta.map(_.bytesAdded).sum,
        Option(t.opQueries.get(o.ctx.id)).flatMap(t.filesOf))
    }
  }

  def compute(t: Tracer, ops: Seq[OpRec], runs: Seq[RunsObs], gcS: Double, userBytes: Long,
      freshness: Seq[Double], commitsInLog: Long, commitsRecorded: Long): Seq[Metric] = {
    val splits = split(t, ops.filter(_.ok))
    val by = splits.groupBy(_.op.kind)
    // CAS conflicts count for failed ops too: an op that used up its
    // retries is the livelock case
    val opIds = ops.map(_.ctx.id).toSet
    val conflicts = t.metaCalls.asScala.toSeq
      .filter(m => m.op != null && opIds(m.op.id) && m.method == "commit" && m.outcome == "conflict")
      .groupBy(_.op.kind).map { case (k, v) => k -> v.size }
    def of(k: String) = by.getOrElse(k, Nil)
    def mean(k: String)(f: OpSplit => Double) = Stats.mean(of(k).map(f))
    def med(k: String)(f: OpSplit => Double) = Stats.median(of(k).map(f))
    val out = Seq.newBuilder[Metric]
    Ops.All.foreach { k =>
      out += ((s"tables.$k.plan_s", med(k)(_.plan), "s"))
      out += ((s"tables.$k.tail_s", med(k)(_.tail), "s"))
      out += ((s"tables.$k.self_s", mean(k)(_.tablesSelf), "s"))
      out += ((s"tables.$k.retries", conflicts.getOrElse(k, 0).toDouble, "count"))
      out += ((s"meta.$k.calls", mean(k)(_.metaCalls.toDouble), "count"))
      out += ((s"meta.$k.busy_s", mean(k)(_.metaBusy), "s"))
      out += ((s"meta.$k.self_s", mean(k)(_.metaSelf), "s"))
      val walls = of(k).map(_.wall)
      out += ((s"op.$k.mean_s", Stats.mean(walls), "s"))
      out += ((s"op.$k.p50_s", Stats.median(walls), "s"))
      out += ((s"op.$k.tail_s", Stats.tail(walls), "s"))
      out += ((s"op.$k.samples", walls.size.toDouble, "count"))
      out += ((s"op.$k.failed", ops.count(o => o.kind == k && !o.ok).toDouble, "count"))
    }
    Ops.Writes.foreach { k =>
      val files = of(k).map(_.filesAdded).sum
      out += ((s"write.$k.job_s", mean(k)(_.jobSelf), "s"))
      out += ((s"write.$k.tasks", mean(k)(_.tasks.toDouble), "count"))
      out += ((s"write.$k.task_cpu_s", mean(k)(_.cpu), "s"))
      out += ((s"write.$k.shuffle_bytes", mean(k)(_.shuffle.toDouble), "bytes"))
      out += ((s"write.$k.files_added", mean(k)(_.filesAdded.toDouble), "count"))
      out += ((s"write.$k.tasks_per_file",
        if (files == 0) 0.0 else of(k).map(_.tasks).sum.toDouble / files, "ratio"))
    }
    val written = Ops.Writes.flatMap(of).map(_.bytesAdded).sum
    out += (("write.bytes_per_user_byte", if (userBytes == 0) 0.0 else written.toDouble / userBytes, "ratio"))
    Ops.Reads.foreach { k =>
      out += ((s"read.$k.job_s", mean(k)(_.jobSelf), "s"))
      out += ((s"read.$k.tasks", mean(k)(_.tasks.toDouble), "count"))
      out += ((s"read.$k.task_cpu_s", mean(k)(_.cpu), "s"))
    }
    // the most-degraded state a scan saw: the read path's worst case
    val worst = runs.sortBy(r => (-r.runsMax, -r.runsMean)).headOption
    out += (("read.runs_per_bucket_max", worst.map(_.runsMax).getOrElse(0.0), "count"))
    out += (("read.runs_per_bucket_mean", worst.map(_.runsMean).getOrElse(0.0), "count"))
    out += (("read.merge_ratio",
      worst.filter(_.rowsIn > 0).map(r => r.rowsOut.toDouble / r.rowsIn).getOrElse(0.0), "ratio"))
    val planned = (of("scan") ++ of("lookup")).flatMap(_.filesPlanned)
    out += (("read.files_planned", Stats.mean(planned.map(_._1.toDouble)), "count"))
    out += (("read.files_skipped", Stats.mean(planned.map(_._2.toDouble)), "count"))
    val commits = t.metaCalls.asScala.toSeq
      .filter(m => m.op != null && opIds(m.op.id) && m.method == "commit")
    out += (("meta.commit.p50_s",
      Stats.median(commits.filter(_.outcome == "ok").map(c => (c.endUs - c.startUs) / 1e6)), "s"))
    out += (("meta.cas_conflict_frac",
      if (commits.isEmpty) 0.0 else commits.count(_.outcome == "conflict").toDouble / commits.size, "ratio"))
    out += (("jvm.gc_s", gcS, "s"))
    out += (("op.freshness_p50_s", Stats.median(freshness), "s"))
    // completeness of the outside-in trace
    val unattributed = t.metaCalls.asScala.count(_.op == null) +
      t.jobs.values.asScala.count(_.group.isEmpty)
    val wall = splits.map(_.wall).sum
    out += (("trace.unattributed", unattributed.toDouble, "count"))
    out += (("trace.outside_frac", if (wall == 0) 0.0 else splits.map(_.outside).sum / wall, "ratio"))
    out += (("trace.commits_recorded", commitsRecorded.toDouble, "count"))
    out += (("trace.commits_match", if (commitsRecorded == commitsInLog) 1.0 else 0.0, "bool"))
    out.result()
  }
}

/** Writes every span of a traced run as one JSON object per line. */
object Spans {
  def write(path: String, t: Tracer, ops: Seq[OpRec]): Unit = {
    new java.io.File(path).getParentFile.mkdirs()
    val w = new java.io.PrintWriter(path)
    try {
      ops.foreach { o =>
        w.println(s"""{"layer": "tables", "id": ${o.ctx.id}, "op": ${Json.str(o.kind)}, """ +
          s""""phase": ${Json.str(o.phase)}, "start_us": ${o.startUs}, "end_us": ${o.endUs}, "ok": ${o.ok}}""")
      }
      val kinds = ops.map(o => o.ctx.group -> o.kind).toMap
      t.jobs.values.asScala.toSeq.sortBy(_.jobId).foreach { j =>
        val layer = kinds.get(j.group).map(k => if (Ops.Writes.contains(k)) "write" else "read")
          .getOrElse("other")
        w.println(s"""{"layer": "$layer", "parent": ${Json.str(j.group)}, "job": ${j.jobId}, """ +
          s""""start_us": ${j.startMs * 1000}, "end_us": ${j.endMs * 1000}, "tasks": ${j.tasks}, """ +
          s""""cpu_ns": ${j.cpuNs}, "shuffle_bytes": ${j.shuffleBytes}}""")
      }
      t.metaCalls.asScala.foreach { m =>
        val parent = Option(m.op).map(_.id.toString).getOrElse("null")
        w.println(s"""{"layer": "meta", "parent": $parent, "call": ${Json.str(m.method)}, """ +
          s""""start_us": ${m.startUs}, "end_us": ${m.endUs}, "outcome": ${Json.str(m.outcome)}}""")
      }
    } finally w.close()
  }
}
