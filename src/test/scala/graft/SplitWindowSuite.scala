package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageCompleted, StageInfo}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.{col, lit, max_by}

import graft.meta.{RebucketLog, TableInfo}
import graft.read.GraftRead
import graft.tables.{CompactionOptions, GraftTable}

/** The split read for re-bucket-straddling windows (one scan task per
  * bucket of the final mapping, GraftScan.epochPartitions; for a diff, one
  * per final bucket pairing both snapshots, GraftDiffScan): every
  * assertion here runs the SAME window twice, once through the split and
  * once through the cross-bucket one-task-per-partition merge (the
  * r14-proven oracle, forced via the plan-time toggle), and demands
  * row-identical results — plus the parallelism claim that motivates the
  * split. */
class SplitWindowSuite extends SparkFixture {
  import spark.implicits._

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  /** Evaluate `mk` under both read paths and assert equality; returns the
    * split-path rows for additional assertions. */
  private def bothWays(what: String)(mk: => DataFrame): Seq[String] = {
    GraftRead.forceCrossBucketRead = false
    val split = rows(mk)
    GraftRead.forceCrossBucketRead = true
    val cross = try rows(mk) finally GraftRead.forceCrossBucketRead = false
    assert(split == cross,
      s"$what: split vs cross-bucket diverged\nsplit:\n${split.mkString("\n")}" +
        s"\ncross:\n${cross.mkString("\n")}")
    split
  }

  /** Run `body` under job group `group` and return its result with the
    * (tasks, shuffle bytes read, shuffle bytes written) of every stage its
    * jobs ran. */
  private def stagesOf[T](group: String)(body: => T): (T, Seq[(Int, Long, Long)]) = {
    val readStages = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val completed =
      new java.util.concurrent.ConcurrentHashMap[Int, StageInfo]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(
            _.getProperty("spark.jobGroup.id") == group))
          e.stageIds.foreach(readStages.add(_))
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        completed.put(e.stageInfo.stageId, e.stageInfo)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      spark.sparkContext.setJobGroup(group, group)
      val out = try body finally spark.sparkContext.clearJobGroup()
      // listener events are async; give the bus a moment to drain
      Thread.sleep(500)
      (out, readStages.toArray(Array.empty[Integer]).toSeq
        .flatMap(id => Option(completed.get(id.intValue)))
        .map(st => (st.numTasks,
          st.taskMetrics.shuffleReadMetrics.totalBytesRead,
          st.taskMetrics.shuffleWriteMetrics.bytesWritten)))
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  /** Re-bucket flips recorded inside (a, b]. */
  private def flipsIn(t: GraftTable, a: Long, b: Long): Int =
    t.info.properties.get(RebucketLog.Prop).toSeq.flatMap(_.split(","))
      .count { e => val ts0 = e.split(":")(0).toLong; ts0 > a && ts0 <= b }

  test("random histories: incremental + diff across re-buckets are " +
    "byte-equal between the final-bucket partitions and the cross-bucket " +
    "merge (multi-flip windows common — the epoch planner accepts N " +
    "epochs, so the soak must routinely hand it 2-3 mixed up/down flips " +
    "per window)") {
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
          if (flipsIn(t, a, b) >= 2) windowsMultiEvent += 1
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
      t.upsert(Seq((1L, Option.empty[Int], "y")).toDF("id", "v", "pad")) // poison 1
      t.compaction(CompactionOptions(newBucketNum = Some(3)), _ => true)
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
      t.upsert(Seq((100L, "newcomer")).toDF("id", "data")) // epoch-1 insert
      t.compaction(CompactionOptions(newBucketNum = Some(4)), _ => true)
      t.deleteTombstone($"id" === 100L || $"id" === 3L) // epoch-2 tombstone
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
      // epoch 1 adds column extra for key 1 only
      t.upsert(Seq((1L, "a2", 41)).toDF("id", "data", "extra"))
      t.compaction(CompactionOptions(newBucketNum = Some(3)), _ => true)
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
      t.upsert((1 to 400).map(i => (i.toLong, s"b$i")).toDF("id", "data"))
      t.compaction(CompactionOptions(newBucketNum = Some(16)), _ => true)
      t.upsert((1 to 400).map(i => (i.toLong, s"c$i")).toDF("id", "data"))
      GraftRead.forceCrossBucketRead = false
      val (got, shape) = stagesOf("split-window") {
        t.incremental(t0, t.lastCommitTs).collect()
      }
      assert(got.length == 400)
      assert(got.map(_.getString(1)).forall(_.startsWith("c")),
        "last epoch must win per key")
      assert(shape.size == 1 && shape.head._1 >= 16,
        s"expected one stage of >=16 tasks; (tasks, shuffle bytes read, " +
          s"shuffle bytes written) per stage: $shape")
      assert(shape.forall { case (_, r, w) => r == 0 && w == 0 },
        s"expected no shuffle; (tasks, shuffle bytes read, shuffle bytes " +
          s"written) per stage: $shape")
    }
  }

  test("a diff across an 8->16 re-bucket with upserts on both sides of the " +
    "flip runs one stage of >=16 tasks and no shuffle, rows equal to the " +
    "cross path and a plain-Spark model") {
    withTempPath { path =>
      val init = (1 to 400).map(i => (i.toLong, s"a$i")).toDF("id", "data")
      val before = (1 to 400 by 2).map(i => (i.toLong, s"b$i")).toDF("id", "data")
      val after = ((1 to 400 by 3) ++ (401 to 450))
        .map(i => (i.toLong, s"c$i")).toDF("id", "data")
      val t = GraftTable.create(spark, init, path,
        hashColumns = Seq("id"), bucketNum = 8)
      val t0 = t.lastCommitTs
      t.upsert(before)
      t.compaction(CompactionOptions(newBucketNum = Some(16)), _ => true)
      t.upsert(after)
      val t1 = t.lastCommitTs
      GraftRead.forceCrossBucketRead = false
      val (got, shape) = stagesOf("split-diff")(rows(t.diff(t0, t1)))
      assert(shape.size == 1 && shape.head._1 >= 16,
        s"expected one stage of >=16 tasks; (tasks, shuffle bytes read, " +
          s"shuffle bytes written) per stage: $shape")
      assert(shape.forall { case (_, r, w) => r == 0 && w == 0 },
        s"expected no shuffle; (tasks, shuffle bytes read, shuffle bytes " +
          s"written) per stage: $shape")
      assert(bothWays("diff across 8->16")(t.diff(t0, t1)) == got)
      // plain-Spark model: the newest write per key, compared with the
      // initial rows on the key
      val newest = Seq(init, before, after).zipWithIndex
        .map { case (d, v) => d.withColumn("_v", lit(v)) }.reduce(_ union _)
        .groupBy("id").agg(max_by(col("data"), col("_v")).as("data"))
      val model = init.as("o").join(newest.as("n"), Seq("id"), "full_outer")
        .select(col("id"), col("o.data").as("od"), col("n.data").as("nd"))
        .as[(Long, Option[String], Option[String])].collect().toSeq
        .flatMap {
          case (k, None, Some(n)) => Seq(s"[$k,$n,insert]")
          case (k, Some(o), None) => Seq(s"[$k,$o,delete]")
          case (k, Some(o), Some(n)) if o != n =>
            Seq(s"[$k,$o,update_preimage]", s"[$k,$n,update_postimage]")
          case _ => Nil
        }.sorted
      assert(got == model)
      assert(got.size == 2 * 267 + 50, got.size)
    }
  }

  test("a non-CDC diff plans one DSv2 scan with no exchange on " +
    "single-mapping, straddling (8->16, 16->8, 8->12) and ambiguous windows") {
    def planOf(df: DataFrame): String = {
      df.collect()
      df.queryExecution.executedPlan.toString
    }
    for ((oldN, newN) <- Seq((8, 16), (16, 8), (8, 12))) {
      withTempPath { path =>
        val t = GraftTable.create(spark,
          (1 to 200).map(i => (i.toLong, s"a$i")).toDF("id", "data"), path,
          hashColumns = Seq("id"), bucketNum = oldN)
        val t0 = t.lastCommitTs
        t.upsert((1 to 200 by 2).map(i => (i.toLong, s"b$i")).toDF("id", "data"))
        val t1 = t.lastCommitTs
        t.compaction(CompactionOptions(newBucketNum = Some(newN)), _ => true)
        t.upsert((1 to 200 by 3).map(i => (i.toLong, s"c$i")).toDF("id", "data"))
        val t2 = t.lastCommitTs
        val windows = Seq("single" -> (t0, t1), "straddling" -> (t0, t2))
        for ((shape, (a, b)) <- windows) {
          val plan = planOf(t.diff(a, b))
          assert(plan.contains("BatchScan") && plan.contains("GraftDiffScan") &&
            !plan.contains("Exchange") && !plan.contains("ExistingRDD"),
            s"$oldN->$newN $shape:\n$plan")
          bothWays(s"$oldN->$newN $shape")(t.diff(a, b))
        }
        // an unfinished restore makes every file set mapping-ambiguous:
        // both snapshots pair per range partition, still one scan
        graft.meta.MetaStore.default.updateProperties(path)(_ +
          (graft.meta.MetaStore.RestorePendingProp -> "0:0"))
        val plan = planOf(t.diff(t0, t2))
        assert(plan.contains("GraftDiffScan") && !plan.contains("Exchange") &&
          !plan.contains("ExistingRDD"), s"$oldN->$newN ambiguous:\n$plan")
        assert(t.diff(t0, t2).rdd.getNumPartitions == 1)
        bothWays(s"$oldN->$newN ambiguous")(t.diff(t0, t2))
      }
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
        t.upsert(keys.filter(_ % 2 == 0).map(k =>
          (k.toLong, part(k), s"w$k", "insert")).toDF("id", "part", "data", "op"))
        t.compaction(CompactionOptions(newBucketNum = Some(3 + round)), _ => true)
        // partition-scoped delta: only p0 moves in the new epoch
        t.upsert(keys.filter(k => k % nParts == 0).map(k =>
          (k.toLong, part(k), s"x$k", "insert")).toDF("id", "part", "data", "op"))
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
      t.upsert(Seq((9L, "x")).toDF("id", "data"))
      t.compaction(CompactionOptions(newBucketNum = Some(4)), _ => true)
      t.deleteTombstone($"id" === 3L) // Rewrite commit inside the window
      intercept[graft.meta.NonIncrementalWindowException] {
        t.incremental(t0, t.lastCommitTs, strict = true).collect()
      }
    }
  }

  test("diff across a re-bucket elides A->B->A and nets insert+delete " +
    "to nothing") {
    withTempPath { path =>
      val t = GraftTable.create(spark,
        Seq((1L, "A"), (2L, "keep"), (3L, "gone")).toDF("id", "data"), path,
        hashColumns = Seq("id"), bucketNum = 2)
      val t0 = t.lastCommitTs
      t.upsert(Seq((1L, "B"), (9L, "temp")).toDF("id", "data")) // epoch 1
      t.compaction(CompactionOptions(newBucketNum = Some(4)), _ => true)
      t.upsert(Seq((1L, "A"), (4L, "new")).toDF("id", "data")) // back to A
      t.deleteTombstone($"id" === 9L || $"id" === 3L)
      val got = bothWays("diff compose") {
        t.diff(t0, t.lastCommitTs)
      }
      // 1: A->B->A elides; 9: insert+delete nets out; 3: delete; 4: insert
      assert(got == Seq("[3,gone,delete]", "[4,new,insert]"), got)
    }
  }
}
