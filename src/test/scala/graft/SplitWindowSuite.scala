package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, StageInfo}
import org.apache.spark.sql.DataFrame

import graft.meta.TableInfo
import graft.read.GraftRead
import graft.tables.{CompactionOptions, GraftTable}

/** The split read for re-bucket-straddling windows (one scan task per
  * bucket of the final mapping, GraftScan.epochPartitions): every
  * assertion here runs the SAME window twice, once through the split and
  * once through the cross-bucket one-task-per-partition merge (the
  * r14-proven oracle, forced via the plan-time toggles), and demands
  * row-identical results — plus the parallelism claim that motivates the
  * split. */
class SplitWindowSuite extends SparkFixture {
  import spark.implicits._

  // histories here are built in milliseconds: shrink the clock cushion so
  // the split planner can actually cut (with the production 1 s cushion
  // every fast-test delta lands "inside" an event zone and the planner
  // correctly falls back to the cross path — itself covered below by the
  // ambiguous-history rounds that keep the default-cushion behavior)
  private val cushion = 5L
  override def beforeAll(): Unit = {
    super.beforeAll()
    graft.meta.RebucketLog.cushionMs = cushion
  }
  override def afterAll(): Unit = {
    graft.meta.RebucketLog.cushionMs = 1000L
    super.afterAll()
  }
  /** Step past the cushion so the next commit is outside any event zone. */
  private def tick(): Unit = Thread.sleep(3 * cushion)

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  /** Evaluate `mk` under both read paths and assert equality; returns the
    * split-path rows for additional assertions. */
  private def bothWays(what: String)(mk: => DataFrame): Seq[String] = {
    GraftRead.forceCrossBucketRead = false
    GraftTable.forceBucketMergedDiff = false
    val split = rows(mk)
    GraftRead.forceCrossBucketRead = true
    GraftTable.forceBucketMergedDiff = true
    val cross = try rows(mk) finally {
      GraftRead.forceCrossBucketRead = false
      GraftTable.forceBucketMergedDiff = false
    }
    assert(split == cross,
      s"$what: split vs cross-bucket diverged\nsplit:\n${split.mkString("\n")}" +
        s"\ncross:\n${cross.mkString("\n")}")
    split
  }

  test("random histories: incremental + diff across re-buckets are " +
    "byte-equal between the split and cross-bucket paths (multi-event " +
    "windows common — readSplitWindow accepts N epochs, so the soak must " +
    "routinely hand it 2-3 mixed up/down flips per window)") {
    val rnd = new scala.util.Random(1515)
    var windowsChecked = 0
    var windowsMultiEvent = 0
    for (round <- 1 to 3) {
      // alternate CDC and plain-PK (tombstone-delete) tables
      val cdc = round % 2 == 1
      withTempPath { path =>
        val keys = 0 until (12 + rnd.nextInt(20))
        val init = keys.map(k => (k.toLong, s"v${rnd.nextInt(9)}", "insert"))
        val props = if (cdc) Map(TableInfo.CdcColumnProp -> "op") else Map.empty[String, String]
        val t = GraftTable.create(spark, init.toDF("id", "data", "op"), path,
          hashColumns = Seq("id"), bucketNum = 1 + rnd.nextInt(3),
          properties = props)
        var boundaries = Vector(0L, t.lastCommitTs)
        for (_ <- 0 until 8 + rnd.nextInt(4)) {
          rnd.nextInt(6) match {
            case 0 | 1 =>
              val b = rnd.shuffle(keys.toList).take(1 + rnd.nextInt(keys.size))
                .map { k =>
                  val op = if (rnd.nextInt(4) == 0) "delete" else "insert"
                  (k.toLong, s"v${rnd.nextInt(9)}", op)
                }
              if (cdc) t.upsert(b.toDF("id", "data", "op"))
              else {
                val (del, ins) = b.partition(_._3 == "delete")
                if (ins.nonEmpty) t.upsert(ins.toDF("id", "data", "op"))
                if (del.nonEmpty)
                  t.deleteTombstone($"id".isin(del.map(_._1): _*))
              }
            case 2 | 3 => // re-bucket: THE event under test — weighted so
              // most full-history windows span SEVERAL flips (mixed
              // up/down: the new count is drawn independently each time)
              t.compaction(CompactionOptions(
                newBucketNum = Some(1 + rnd.nextInt(5))), _ => true)
            case 4 => t.compaction()
            case 5 => // schema evolution mid-history: absent-column masks
              // must survive the split
              val k = keys(rnd.nextInt(keys.size)).toLong
              t.upsert(Seq((k, s"w${rnd.nextInt(9)}", "insert",
                rnd.nextInt(100))).toDF("id", "data", "op", s"extra$round"))
          }
          tick()
          boundaries :+= t.lastCommitTs
        }
        // windows: full history + a few random sub-windows
        val head = t.lastCommitTs
        val windows = Seq((0L, head)) ++ (1 to 3).map { _ =>
          val a = boundaries(rnd.nextInt(boundaries.size - 1))
          (a, head)
        }
        windows.distinct.foreach { case (a, b) =>
          windowsChecked += 1
          if (graft.meta.RebucketLog.overlapping(
              t.info.properties, a, b).size >= 2)
            windowsMultiEvent += 1
          bothWays(s"round $round incremental($a,$b) cdc=$cdc") {
            t.incremental(a, b)
          }
          bothWays(s"round $round diff($a,$b) cdc=$cdc") { t.diff(a, b) }
        }
        assert(t.validate() == Nil)
      }
    }
    // the soak only earns its name if multi-flip windows are COMMON —
    // guard the generator itself against drifting back to 0-1 events
    assert(windowsMultiEvent * 5 >= windowsChecked,
      s"only $windowsMultiEvent of $windowsChecked checked windows spanned " +
        ">=2 re-bucket events; the generator no longer exercises the " +
        "multi-epoch split")
  }

  test("sum_all operator state (null poison) survives the epoch boundary") {
    withTempPath { path =>
      val t = GraftTable.create(spark,
        Seq((1L, Some(5), "x"), (2L, Some(3), "x")).toDF("id", "v", "pad"), path,
        hashColumns = Seq("id"), bucketNum = 2,
        properties = Map(TableInfo.mergeOpProp("v") -> "sum_all"))
      val t0 = t.lastCommitTs
      tick()
      t.upsert(Seq((1L, Option.empty[Int], "y")).toDF("id", "v", "pad")) // poison 1
      tick()
      t.compaction(CompactionOptions(newBucketNum = Some(3)), _ => true)
      tick()
      t.upsert(Seq((1L, Some(7), "z"), (2L, Some(4), "z")).toDF("id", "v", "pad"))
      // window starts AFTER the initial insert: key 1 folds (null, 7) ->
      // poisoned null; key 2 folds (4) -> 4. The one-merge and the split
      // must agree on the poison (GroupMerger state across the boundary).
      val got = bothWays("sum poison")(t.incremental(t0, t.lastCommitTs)
        .select("id", "v"))
      assert(got == Seq("[1,null]", "[2,4]"), got)
    }
  }

  test("tombstone delete inside the window ABORTS incremental delivery on " +
    "both paths (Rewrite semantics survive the cut), and the split never " +
    "resurrects the deleted key elsewhere") {
    withTempPath { path =>
      val t = GraftTable.create(spark,
        (1 to 8).map(i => (i.toLong, s"a$i")).toDF("id", "data"), path,
        hashColumns = Seq("id"), bucketNum = 2)
      val t0 = t.lastCommitTs
      tick()
      t.upsert(Seq((100L, "newcomer")).toDF("id", "data")) // epoch-1 insert
      tick()
      t.compaction(CompactionOptions(newBucketNum = Some(4)), _ => true)
      tick()
      t.deleteTombstone($"id" === 100L || $"id" === 3L) // epoch-2 tombstone
      tick()
      t.upsert(Seq((3L, "revived")).toDF("id", "data")) // epoch-2 revive
      // a non-CDC tombstone publishes as Rewrite, which ABORTS incremental
      // delivery for the partition over ANY window containing it — the
      // epoch cut must preserve the whole-window abort (a per-sub-window
      // abort alone would leak epoch-1's files for the partition)
      val got = bothWays("tombstone across epochs") {
        t.incremental(t0, t.lastCommitTs)
      }
      assert(got.isEmpty,
        s"a Rewrite (tombstone) inside the window must abort delivery: $got")
      // the snapshot itself is exact: 8 initial - deleted 3 + revived 3
      assert(t.toDF.count() == 8)
      assert(t.toDF.filter($"id" === 3L).select("data").as[String]
        .collect().toSeq == Seq("revived"))
      // and the snapshot diff across the same window still reports the
      // row-exact changes (diff is restore/rewrite-exact by design)
      val d = bothWays("diff across tombstones")(t.diff(t0, t.lastCommitTs))
      assert(d.contains("[3,a3,update_preimage]") &&
        d.contains("[3,revived,update_postimage]"), d)
      assert(!d.exists(_.startsWith("[100,")),
        s"100 inserted+deleted within the window must net out: $d")
    }
  }

  test("schema evolution across the boundary: an absent column never " +
    "overwrites through the synthetic run") {
    withTempPath { path =>
      val t = GraftTable.create(spark,
        Seq((1L, "a"), (2L, "b")).toDF("id", "data"), path,
        hashColumns = Seq("id"), bucketNum = 2)
      val t0 = t.lastCommitTs
      tick()
      // epoch 1 adds column extra for key 1 only
      t.upsert(Seq((1L, "a2", 41)).toDF("id", "data", "extra"))
      tick()
      t.compaction(CompactionOptions(newBucketNum = Some(3)), _ => true)
      tick()
      // epoch 2 writes key 1 WITHOUT extra: the old value must survive
      // (mask semantics), not be nulled by the newer run
      t.upsert(Seq((1L, "a3")).toDF("id", "data"))
      val got = bothWays("evolution across epochs") {
        t.incremental(t0, t.lastCommitTs).select("id", "data", "extra")
      }
      assert(got == Seq("[1,a3,41]"), got)
    }
  }

  test("straddling window on an 8-bucket table re-bucketed to 16 runs one " +
    "stage of >=16 tasks and no shuffle") {
    withTempPath { path =>
      val t = GraftTable.create(spark,
        (1 to 400).map(i => (i.toLong, s"a$i")).toDF("id", "data"), path,
        hashColumns = Seq("id"), bucketNum = 8)
      val t0 = t.lastCommitTs
      tick()
      t.upsert((1 to 400).map(i => (i.toLong, s"b$i")).toDF("id", "data"))
      tick()
      t.compaction(CompactionOptions(newBucketNum = Some(16)), _ => true)
      tick()
      t.upsert((1 to 400).map(i => (i.toLong, s"c$i")).toDF("id", "data"))
      // the read's own jobs (by job group) and every completed stage
      val readStages = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
      val completed =
        new java.util.concurrent.ConcurrentHashMap[Int, StageInfo]()
      val listener = new SparkListener {
        override def onJobStart(e: SparkListenerJobStart): Unit =
          if (Option(e.properties).exists(
              _.getProperty("spark.jobGroup.id") == "split-window"))
            e.stageIds.foreach(readStages.add(_))
        override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
          completed.put(e.stageInfo.stageId, e.stageInfo)
      }
      spark.sparkContext.addSparkListener(listener)
      try {
        GraftRead.forceCrossBucketRead = false
        spark.sparkContext.setJobGroup("split-window", "split-window read")
        val got = try t.incremental(t0, t.lastCommitTs).collect()
          finally spark.sparkContext.clearJobGroup()
        // listener events are async; give the bus a moment to drain
        Thread.sleep(500)
        assert(got.length == 400)
        assert(got.map(_.getString(1)).forall(_.startsWith("c")),
          "last epoch must win per key")
        val seen = readStages.toArray(Array.empty[Integer]).toSeq
          .flatMap(id => Option(completed.get(id.intValue)))
        val shape = seen.map(st => (st.numTasks,
          st.taskMetrics.shuffleReadMetrics.recordsRead,
          st.taskMetrics.shuffleWriteMetrics.recordsWritten))
        assert(seen.size == 1 && seen.head.numTasks >= 16,
          s"expected one stage of >=16 tasks; (tasks, shuffle read, " +
            s"shuffle write) per stage: $shape")
        assert(shape.forall { case (_, r, w) => r == 0 && w == 0 },
          s"expected no shuffle; (tasks, shuffle read, shuffle write) per " +
            s"stage: $shape")
      } finally spark.sparkContext.removeSparkListener(listener)
    }
  }

  test("RANGE-PARTITIONED tables across re-buckets: split equals cross, " +
    "including partition-pruned windows and a dropped partition") {
    val rnd = new scala.util.Random(909)
    for (round <- 1 to 2) {
      withTempPath { path =>
        val nParts = 2 + round
        val keys = 0 until 24
        def part(k: Int) = s"p${k % nParts}"
        val init = keys.map(k => (k.toLong, part(k), s"v$k", "insert"))
        val t = GraftTable.create(spark,
          init.toDF("id", "part", "data", "op"), path,
          rangeColumns = Seq("part"), hashColumns = Seq("id"),
          bucketNum = 2,
          properties = Map(TableInfo.CdcColumnProp -> "op"))
        val t0 = t.lastCommitTs
        tick()
        t.upsert(keys.filter(_ % 2 == 0).map(k =>
          (k.toLong, part(k), s"w$k", "insert")).toDF("id", "part", "data", "op"))
        tick()
        t.compaction(CompactionOptions(newBucketNum = Some(3 + round)), _ => true)
        tick()
        // partition-scoped delta: only p0 moves in the new epoch
        t.upsert(keys.filter(k => k % nParts == 0).map(k =>
          (k.toLong, part(k), s"x$k", "insert")).toDF("id", "part", "data", "op"))
        tick()
        t.dropPartition(s"part=p${nParts - 1}")
        val head = t.lastCommitTs
        bothWays(s"round $round partitioned incremental") {
          t.incremental(t0, head)
        }
        bothWays(s"round $round partitioned diff")(t.diff(t0, head))
        bothWays(s"round $round partition-pruned incremental") {
          t.incremental(t0, head, partitionPred = _ == "part=p0")
        }
        assert(t.validate() == Nil)
      }
    }
  }

  test("strict incremental across a re-bucket still THROWS on a non-delta " +
    "commit (the abort mask must not hide it from the sub-windows)") {
    withTempPath { path =>
      val t = GraftTable.create(spark,
        (1 to 8).map(i => (i.toLong, s"a$i")).toDF("id", "data"), path,
        hashColumns = Seq("id"), bucketNum = 2)
      val t0 = t.lastCommitTs
      tick()
      t.upsert(Seq((9L, "x")).toDF("id", "data"))
      tick()
      t.compaction(CompactionOptions(newBucketNum = Some(4)), _ => true)
      tick()
      t.deleteTombstone($"id" === 3L) // Rewrite commit inside the window
      intercept[graft.meta.NonIncrementalWindowException] {
        t.incremental(t0, t.lastCommitTs, strict = true).collect()
      }
    }
  }

  test("diff across a re-bucket: segment composition elides A->B->A and " +
    "nets insert+delete to nothing") {
    withTempPath { path =>
      val t = GraftTable.create(spark,
        Seq((1L, "A"), (2L, "keep"), (3L, "gone")).toDF("id", "data"), path,
        hashColumns = Seq("id"), bucketNum = 2)
      val t0 = t.lastCommitTs
      tick()
      t.upsert(Seq((1L, "B"), (9L, "temp")).toDF("id", "data")) // epoch 1
      tick()
      t.compaction(CompactionOptions(newBucketNum = Some(4)), _ => true)
      tick()
      t.upsert(Seq((1L, "A"), (4L, "new")).toDF("id", "data")) // back to A
      tick()
      t.deleteTombstone($"id" === 9L || $"id" === 3L)
      val got = bothWays("diff compose") {
        t.diff(t0, t.lastCommitTs)
      }
      // 1: A->B->A elides; 9: insert+delete nets out; 3: delete; 4: insert
      assert(got == Seq("[3,gone,delete]", "[4,new,insert]"), got)
    }
  }
}
