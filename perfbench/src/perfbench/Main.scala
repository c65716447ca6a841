package perfbench

import java.util.concurrent.ConcurrentLinkedQueue

import scala.collection.mutable
import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration.Duration
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.col

import graft.meta.{CommitOp, FileMetaStore, FileStats, MetaStore}
import graft.tables.{CompactionOptions, GraftTable}

/** Entry point; see perfbench/run.py for the command line. */
object Main {
  /** Spark runs local[Cores] and no workload has more client threads. */
  val Cores = 4

  def main(args: Array[String]): Unit = {
    val a = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val trace = a("trace") == "1"
    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .config("spark.sql.shuffle.partitions", Cores)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.sql.GraftSparkExtensions")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"${a("work")}/warehouse")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tracer = if (trace) Some(new Tracer(spark)) else None
    tracer.foreach(_.install())
    val code =
      try {
        val r = new Runner(spark, workload, a("seed").toLong, a("seconds").toInt, a("work"), tracer)
        val json = r.run()
        tracer.foreach(t => Spans.write(a("spans"), t, r.ops.asScala.toSeq))
        val w = new java.io.PrintWriter(a("out"))
        try w.println(json) finally w.close()
        0
      } catch {
        case NonFatal(e) => e.printStackTrace(); 1
      }
    spark.stop()
    sys.exit(code)
  }
}

/** One call of the public table API. `phase` says which part of the
  * workload issued it: "main" (the measured loop), "warmup" (cold first
  * calls that are checked but not reported), "compacted" (read mix after
  * the compaction in read_after_100), "end" (closing checks), "pre" /
  * "post" (scans before / after the final full compaction). */
final case class OpRec(kind: String, phase: String, startUs: Long, endUs: Long,
    ok: Boolean, ctx: OpCtx) {
  def seconds: Double = (endUs - startUs) / 1e6
}

object Ops {
  val All: Seq[String] = Seq("upsert", "delete", "compaction", "scan", "lookup", "incremental")
  val Writes: Seq[String] = Seq("upsert", "delete", "compaction")
  val Reads: Seq[String] = Seq("scan", "lookup", "incremental")
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0 else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  /** The highest percentile with at least ten samples beyond it (the
    * median when there are fewer than twenty samples). */
  def tail(xs: Seq[Double]): Double = quantile(xs, math.max(0.5, 1.0 - 10.0 / xs.size))
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
}

final case class ScanObs(op: OpCtx, phase: String, got: Agg, tsLo: Long, tsHi: Long)
final case class LookupObs(op: OpCtx, key: Long, got: Seq[Row], ts: Long)
final case class IncrObs(op: OpCtx, from: Long, to: Long, got: Agg)
final case class RunsObs(runsMax: Double, runsMean: Double, rowsIn: Long, rowsOut: Long)

final class Runner(spark: SparkSession, workload: String, seed: Long, seconds: Int,
    work: String, tracer: Option[Tracer]) {
  private val dataDir = s"$work/data"
  private val inner: MetaStore = new FileMetaStore
  private val store: MetaStore = tracer.fold(inner)(t => new TracingStore(inner, t))

  val ops = new ConcurrentLinkedQueue[OpRec]()
  private val scans = new ConcurrentLinkedQueue[ScanObs]()
  private val lookups = new ConcurrentLinkedQueue[LookupObs]()
  private val incrs = new ConcurrentLinkedQueue[IncrObs]()
  private val runsObs = new ConcurrentLinkedQueue[RunsObs]()
  private val mismatches = mutable.ArrayBuffer[(OpCtx, String)]()
  /** Writer state: the events in commit order, upserted rows and bytes,
    * and the time each upsert's commit returned. */
  private val events = mutable.ArrayBuffer[Event]()
  private var rowsIngested = 0L
  private var userBytes = 0L
  private val commitReturns = mutable.ArrayBuffer[Long]()
  private val deleted = mutable.Set[Long]()
  private var batchBytes: Map[Int, Long] = Map.empty
  private var schema: org.apache.spark.sql.types.StructType = _

  @volatile private var lastWindowEnd = 0L // the CDC reader's position

  private var table: GraftTable = _
  private var createTs = 0L

  private def now: Long = Clock.nowUs

  private val opIds = new java.util.concurrent.atomic.AtomicLong()

  /** Times one public API call; a throw is recorded as a failed op. */
  private def op[T](kind: String, phase: String = "main")(body: OpCtx => T): Option[T] = {
    val ctx = new OpCtx(opIds.incrementAndGet(), kind)
    val s = now
    try {
      val r = tracer.fold(body(ctx))(_.within(ctx)(body(ctx)))
      ops.add(OpRec(kind, phase, s, now, ok = true, ctx))
      Some(r)
    } catch {
      case NonFatal(e) =>
        ops.add(OpRec(kind, phase, s, now, ok = false, ctx))
        System.err.println(s"perfbench: $kind failed: $e")
        None
    }
  }

  /** Untimed work (setup, checks, the compactor's poll), still attributed
    * so the traced run can tell it apart from unattributed layer work. */
  private def context[T](kind: String)(body: => T): T =
    tracer.fold(body)(_.within(new OpCtx(opIds.incrementAndGet(), kind))(body))

  private val t0 = now
  private def log(msg: String): Unit =
    System.err.println(f"perfbench[$workload] ${(now - t0) / 1e6}%7.2f s: $msg")

  // ------------------------------------------------------------- operations

  /** Upsert number `i` sends generated batch `i`, cycling through the
    * generated ones if the loop outruns them. */
  private def upsert(i: Int): Unit = {
    val b = (i - 1) % batchBytes.size + 1
    op("upsert")(_ => table.upsert(Data.batch(spark, dataDir, b, schema))).map { _ =>
      synchronized {
        events += Upsert(b)
        commitReturns += now
      }
      rowsIngested += batchRows
      userBytes += batchBytes(b)
    }
  }

  private def batchRows: Long =
    if (workload == "read_after_100") Data.BaseRows / 100 else Data.BaseRows / 5

  /** Tombstone-deletes 0.1% of the keys; targets are base keys never deleted
    * before, so every delete matches live rows and commits. */
  private def delete(phase: String = "main"): Unit = {
    val rnd = new scala.util.Random(seed * 1000003L + events.size)
    val keys = mutable.LinkedHashSet[Long]()
    while (keys.size < Data.BaseRows / 1000) {
      val k = (rnd.nextDouble() * Data.BaseRows).toLong
      if (!deleted.contains(k)) keys += k
    }
    val ks = keys.toArray
    op("delete", phase)(_ => table.deleteTombstone(col("o_orderkey").isin(ks.toSeq: _*))).foreach { _ =>
      synchronized(events += Delete(ks))
      deleted ++= ks
    }
  }

  private def leveledCompaction(phase: String = "main"): Unit =
    op("compaction", phase)(_ => table.compaction(CompactionOptions(fileNumLimit = Some(4)), _ => true))

  private def ts: Long = context("check")(table.lastCommitTs)

  private def scan(phase: String): Unit = {
    val lo = ts
    op("scan", phase) { ctx =>
      val df = table.toDF.agg(Data.aggCols.head, Data.aggCols.tail: _*)
      val got = Agg.of(df.collect().head)
      tracer.foreach(_.noteQuery(ctx, df.queryExecution))
      (ctx, got)
    }.foreach { case (ctx, got) =>
      scans.add(ScanObs(ctx, phase, got, lo, ts))
      if (tracer.isDefined) runsObs.add(runsOf(got.rows))
    }
  }

  /** Point lookup by primary key. The DataFrame is built inside the op:
    * resolving the snapshot is part of a lookup's cost. */
  private def lookup(key: Long, phase: String): Unit = {
    val at = ts
    op("lookup", phase) { ctx =>
      val df = table.toDF.filter(col("o_orderkey") === key).select(Data.Columns.map(col): _*)
      val rows = df.collect().toSeq
      tracer.foreach(_.noteQuery(ctx, df.queryExecution))
      (ctx, rows)
    }.foreach { case (ctx, rows) => lookups.add(LookupObs(ctx, key, rows, at)) }
  }

  /** CDC read of the commits in (from, lastCommitTs]; returns the new end. */
  private def incremental(from: Long, phase: String, to: Option[Long] = None): Long = {
    val r = op("incremental", phase) { ctx =>
      val end = to.getOrElse(table.lastCommitTs)
      (ctx, end, Data.agg(table.incremental(from, end)))
    }
    r.fold(from) { case (ctx, end, got) =>
      incrs.add(IncrObs(ctx, from, end, got))
      end
    }
  }

  /** Seeded base-range keys: every lookup probes a key that exists in the
    * base run, so all lookups of a run cost alike (keys above the base
    * range are pruned by file min/max stats and would make the median
    * bimodal). */
  private def lookupKeys(n: Int, salt: Int): Seq[Long] = {
    val rnd = new scala.util.Random(seed * 31 + salt)
    Seq.fill(n)((rnd.nextDouble() * Data.BaseRows).toLong)
  }

  /** Sorted runs per bucket and rows in live files (from footer stats) for
    * the scan that returned `rowsOut` rows. */
  private def runsOf(rowsOut: Long): RunsObs = {
    val files = context("check")(table.liveFiles)
    val perBucket = files.groupBy(_.file.bucketId).values.map(_.size.toDouble).toSeq
    val rowsIn = files.map(f => FileStats.rowCount(FileStats.decode(f.file.stats)).getOrElse(0L)).sum
    RunsObs(perBucket.maxOption.getOrElse(0.0), Stats.mean(perBucket), rowsIn, rowsOut)
  }

  // ------------------------------------------------------------------ phases

  private var setupS = 0.0

  /** Creates the table three times from the base parquet and reports the
    * median; the last copy is the one the workload uses. There is no
    * separate warm-up: every reported metric is a median over at least
    * three samples, so the first, cold call of an operation does not set it. */
  private def setup(batches: Int): Unit = {
    batchBytes = context("setup")(Data.generate(spark, seed, dataDir, batches, batchRows))
    schema = context("setup")(Data.base(spark, dataDir).schema)
    log("inputs generated")
    val made = (1 to 3).map { i =>
      val s = now
      val t = context("setup")(GraftTable.create(spark, Data.base(spark, dataDir), s"$work/table$i",
        hashColumns = Seq("o_orderkey"), bucketNum = Data.Buckets, store = store))
      ((now - s) / 1e6, t)
    }
    setupS = Stats.median(made.map(_._1))
    table = made.last._2
    createTs = ts
    log(f"setup ${setupS}%.3f s (creates ${made.map(_._1).map(x => f"$x%.2f").mkString(", ")})")
  }

  private def cdcIngest(deadline: Long): Unit = {
    var i = 0
    while (i < 6 || now < deadline || i % 4 != 2) {
      i += 1
      upsert(i)
      if (i % 2 == 0) delete()
      if (i % 4 == 0) leveledCompaction()
    }
  }

  private def readAfter100(): Unit = {
    (1 to 100).foreach(upsert)
    log("100 upserts done")
    def mix(phase: String, until: Long, minCycles: Int, lookups: Int): Unit = {
      var i = 0
      while (now < until || i < minCycles) {
        scan(phase)
        lookupKeys(lookups, i).foreach(lookup(_, phase))
        i += 1
      }
    }
    // the first scans and lookups of the 100-run table are slow while the
    // JIT compiles the merge path: they are model-checked but not reported
    mix("warmup", 0L, 1, 1)
    mix("warmup", 0L, 4, 0)
    val start = now
    mix("main", start + (seconds * 0.75 * 1e6).toLong, 10, 1)
    op("compaction")(_ => table.compaction())
    // the compacted phase is the denominator of read_degradation: it must
    // really read one run per bucket
    val compacted = runsOf(0)
    if (compacted.runsMax != 1)
      mismatches += ((null, s"compacted phase starts from ${compacted.runsMax} runs per bucket"))
    mix("compacted", start + (seconds * 1e6).toLong, 10, 0)
  }

  /** Writer, compactor and CDC reader on one table, each a closed loop. */
  private def mixedCdc(deadline: Long): Unit = {
    val writer = thread("writer") {
      var i = 0
      while (now < deadline) {
        i += 1
        upsert(i)
        if (i % 2 == 0) delete()
      }
    }
    val compactor = thread("compactor") {
      while (now < deadline) {
        val runs = context("poll")(table.liveFiles).groupBy(_.file.bucketId).values.map(_.size)
        if (runs.nonEmpty && runs.max >= 4) leveledCompaction()
        else Thread.sleep(50)
      }
    }
    val reader = thread("reader") {
      var last = createTs
      while (now < deadline) {
        last = incremental(last, "main")
        scan("main")
      }
      lastWindowEnd = last
    }
    Seq(writer, compactor, reader).foreach(_.join())
    incremental(lastWindowEnd, "end")
    writerEvents = events.size
  }
  private var writerEvents = 0 // events the CDC consumer must have seen

  private def thread(name: String)(body: => Unit): Thread = {
    val t = new Thread(() => try body catch { case NonFatal(e) =>
      log(s"$name thread died: $e"); e.printStackTrace()
    }, s"perfbench-$name")
    t.start()
    t
  }

  // ------------------------------------------------------------------ checks

  /** Commit timestamp of every event (index i = event i + 1), recovered from
    * the table's own log: the writer is one thread, so its data commits
    * appear in the log in the order it made them. */
  private def eventTimestamps(): IndexedSeq[Long] = {
    val lines = inner.rawVersionLines(table.tablePath).filter(_.commitOp != CommitOp.Compaction)
    if (lines.size != events.size + 1)
      mismatches += ((null, s"log holds ${lines.size - 1} data commits, writer made ${events.size}"))
    lines.drop(1).map(_.timestamp).toIndexedSeq
  }

  /** Adds what the loop never issued, so every workload reports every
    * metric. The first call of an op kind the run has not made yet is a
    * "warmup" op: model-checked, but cold, so no metric reports it. */
  private def closingChecks(): Unit = {
    val has = ops.asScala.filter(_.phase == "main").map(_.kind).toSet
    if (!has("lookup")) {
      val keys = lookupKeys(13, 99)
      lookup(keys.head, "warmup")
      keys.tail.foreach(lookup(_, "end"))
    }
    if (!has("incremental")) {
      val tsOf = eventTimestamps()
      val ups = events.indices.filter(i => events(i).isInstanceOf[Upsert])
      // 6 single-commit windows spread over the upserts (repeating
      // windows when there are fewer than 6 upserts)
      (0 until 6).map(j => ups(j * ups.size / 6)).foreach { i =>
        val from = if (i == 0) createTs else tsOf(i - 1)
        incremental(from, "end", Some(tsOf(i)))
      }
    }
    if (!has("delete")) (1 to 2).foreach(_ => delete("warmup"))
    (1 to 5).foreach(_ => delete("end"))
    if (workload != "read_after_100") {
      scan("warmup")
      (1 to 8).foreach(_ => scan("pre"))
    }
    val before = context("check")(table.liveFiles.map(_.file.size).sum)
    context("check")(table.compaction())
    val after = context("check")(table.liveFiles.map(_.file.size).sum)
    require(after > 0, "the table is empty after the final compaction")
    spaceAmp = before.toDouble / after
    // read_after_100 takes read_degradation from its compacted phase: its
    // post scans only check the final state
    (1 to (if (workload == "read_after_100") 2 else 8)).foreach(_ => scan("post"))
  }
  private var spaceAmp = 0.0

  /** Compares every read against the model; returns false on any mismatch. */
  private def verify(): Boolean = context("check") {
    val tsOf = eventTimestamps()
    def prefix(t: Long): Int = tsOf.count(_ <= t)
    val model = new Model(spark, dataDir, events.toIndexedSeq)
    val ws = incrs.asScala.toIndexedSeq
    val ranges = ws.map(w => (prefix(w.from), prefix(w.to)))
    // the three model queries are independent: run them side by side
    def async[T](body: => T): Future[T] = Future(context("check")(body))
    val aggsF = async(model.prefixAggs)
    val rowsF = async(lookups.asScala.groupBy(l => prefix(l.ts)).map { case (k, ls) =>
      k -> model.rowsAt(k, ls.map(_.key).toSeq.distinct) })
    val wantF = async(model.windowAggs(ranges))
    val aggs = Await.result(aggsF, Duration.Inf)
    scans.asScala.foreach { s =>
      if (!(prefix(s.tsLo) to prefix(s.tsHi)).exists(k => aggs(k) == s.got))
        mismatches += ((s.op, s"scan ${s.phase} got ${s.got}, model ${aggs(prefix(s.tsHi))}"))
    }
    val rows = Await.result(rowsF, Duration.Inf)
    lookups.asScala.foreach { l =>
      val want = rows(prefix(l.ts)).get(l.key)
      if (l.got.map(_.toSeq) != want.toSeq.map(_.toSeq))
        mismatches += ((l.op, s"lookup ${l.key} got ${l.got}, model $want"))
    }
    val want = Await.result(wantF, Duration.Inf)
    ws.indices.foreach { i =>
      if (ws(i).got != want(i))
        mismatches += ((ws(i).op, s"incremental window $i got ${ws(i).got}, model ${want(i)}"))
    }
    if (workload == "mixed_cdc") {
      // the consumer's windows must tile (create, last commit] exactly
      val tiled = ws.nonEmpty && ws.head.from == createTs &&
        ws.sliding(2).forall(p => p.size < 2 || p(1).from == p(0).to) &&
        ranges.map(r => r._2 - r._1).sum == writerEvents
      if (!tiled) mismatches += ((null, "CDC windows do not cover every commit exactly once"))
    } else if (ranges.exists(r => r._2 - r._1 != 1))
      mismatches += ((null, "a single-commit CDC window did not hold exactly one commit"))
    mismatches.foreach(m => log(s"MISMATCH ${m._2}"))
    mismatches.isEmpty
  }

  // ----------------------------------------------------------------- metrics

  private def samples(kind: String, phases: String*): Seq[Double] =
    ops.asScala.filter(o => o.ok && o.kind == kind && phases.contains(o.phase)).map(_.seconds).toSeq

  /** The ops a metric of `kind` reports: those of the measured loop and the
    * closing checks; scans of the loop, or else the closing delta-state
    * ("pre") scans. */
  private def reported(kind: String): Seq[OpRec] = {
    val ofKind = ops.asScala.toSeq.filter(_.kind == kind)
    val main = ofKind.filter(o => o.phase == "main" || o.phase == "end")
    if (main.nonEmpty || kind != "scan") main else ofKind.filter(_.phase == "pre")
  }

  private def opSamples(kind: String): Seq[Double] = reported(kind).filter(_.ok).map(_.seconds)

  /** Median of a reported metric's samples; a metric with no successful
    * sample is an error, never a silent 0. */
  private def median(what: String, xs: Seq[Double]): Double = {
    require(xs.nonEmpty, s"no successful samples for $what")
    Stats.median(xs)
  }

  private def endToEnd(): Seq[(String, Double, String)] = {
    val p50 = (k: String) => median(k, opSamples(k))
    val degradation =
      if (workload == "read_after_100") p50("scan") / median("compacted scan", samples("scan", "compacted"))
      else median("pre scan", samples("scan", "pre")) / median("post scan", samples("scan", "post"))
    val upserts = samples("upsert", "main")
    require(upserts.nonEmpty, "no successful upsert in the measured loop")
    val all = ops.asScala.toSeq
    val failed = failedOps
    Seq(
      ("setup_s", setupS, "s"),
      ("upsert_p50_s", p50("upsert"), "s"),
      ("delete_p50_s", p50("delete"), "s"),
      ("scan_p50_s", p50("scan"), "s"),
      ("lookup_p50_s", p50("lookup"), "s"),
      ("read_degradation", degradation, "ratio"),
      ("space_amp", spaceAmp, "ratio"),
      ("ingest_rows_per_s", rowsIngested / upserts.sum, "1/s"),
      ("ops_ok_frac", 1.0 - failed.toDouble / all.size, "ratio"))
  }

  /** Ops that raised, plus ops whose result the model rejected. */
  private def failedOps: Int =
    ops.asScala.count(!_.ok) + mismatches.flatMap(m => Option(m._1)).map(_.id).distinct.size

  def run(): String = {
    setup(if (workload == "read_after_100") 100 else 8)
    val gc0 = Layers.gcSeconds()
    val deadline = now + seconds * 1000000L
    workload match {
      case "cdc_ingest" => cdcIngest(deadline)
      case "read_after_100" => readAfter100()
      case "mixed_cdc" => mixedCdc(deadline)
    }
    val gcS = Layers.gcSeconds() - gc0
    log("measured loop done")
    closingChecks()
    log("closing checks done")
    val all = ops.asScala.toSeq
    // only mixed_cdc may have ops that raise (compactions that use up their
    // CAS retries); anywhere else a raised op makes the run incorrect
    val raised = all.count(!_.ok)
    if (raised > 0 && workload != "mixed_cdc") log(s"$raised operations raised")
    val correct = verify() && (raised == 0 || workload == "mixed_cdc")
    log("model checks done")
    val failed = failedOps
    for (k <- Ops.All; (phase, xs) <- all.filter(_.kind == k).groupBy(_.phase).toSeq.sortBy(_._1)) {
      val t = xs.filter(_.ok).map(_.seconds)
      log(f"$k%-11s $phase%-9s n=${xs.size}%3d failed=${xs.count(!_.ok)}%2d p50=${Stats.median(t)}%.3f s " +
        t.map(x => f"$x%.3f").mkString("[", " ", "]"))
    }
    val metrics = tracer match {
      case None => endToEnd()
      case Some(t) =>
        t.drain()
        val commitsInLog = inner.commitTimestamps(table.tablePath).size.toLong
        val layers = Layers.compute(t, Ops.All.flatMap(reported), runsObs.asScala.toSeq, gcS,
          userBytes, freshnessSamples(), commitsInLog,
          Option(store.asInstanceOf[TracingStore].commitsOk.get(table.tablePath)).fold(0L)(_.get))
        layers
    }
    val traceOk = tracer.isEmpty || metrics.exists(m => m._1 == "trace.commits_match" && m._2 == 1.0)
    Json.result(correct && traceOk, all.size, failed, metrics)
  }

  /** Writer commit return -> the end of the first reader op that began
    * after it (mixed_cdc only; its snapshot necessarily holds the commit). */
  private def freshnessSamples(): Seq[Double] =
    if (workload != "mixed_cdc") Nil
    else {
      val reads = ops.asScala.filter(o => o.ok && (o.kind == "scan" || o.kind == "incremental"))
        .toSeq.sortBy(_.startUs)
      commitReturns.toSeq.flatMap(c => reads.find(_.startUs >= c).map(r => (r.endUs - c) / 1e6))
    }
}

object Json {
  private def num(d: Double): String = {
    require(!d.isNaN && !d.isInfinite, s"metric value $d is not a number")
    java.lang.Double.toString(d)
  }
  def result(correct: Boolean, attempted: Int, failed: Int, metrics: Seq[(String, Double, String)]): String =
    metrics.map { case (n, v, u) => s""""$n": {"value": ${num(v)}, "unit": "$u"}""" }
      .mkString(s"""{"correct": $correct, "attempted": $attempted, "failed": $failed, "metrics": {""",
        ", ", "}}")
  def str(s: String): String = "\"" + s.replace("\\", "\\\\").replace("\"", "\\\"") + "\""
}
