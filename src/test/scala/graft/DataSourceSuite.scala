package graft

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.execution.datasources.LogicalRelation
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.tables.{CompactionOptions, GraftTable}

class DataSourceSuite extends SparkFixture {
  import spark.implicits._

  /** Whether `df` reads through the DSv2 GraftScan (true) or the DSv1
    * fallback relation (false); exactly one of the two must be planned. */
  private def plansGraftScan(df: DataFrame): Boolean = {
    val plan = df.queryExecution.optimizedPlan
    val scan = plan.collect { case r: DataSourceV2ScanRelation => r.scan }
      .exists(_.isInstanceOf[graft.read.GraftScan])
    val relation = plan.collect { case l: LogicalRelation => l.relation }
      .exists(_.isInstanceOf[graft.sources.GraftRelation])
    assert(scan != relation, s"expected exactly one graft reader in:\n$plan")
    if (scan) assert(df.queryExecution.executedPlan.toString.contains("BatchScan"))
    scan
  }

  test("format(graft) full, snapshot and incremental reads plan the DSv2 " +
    "GraftScan; a PK-equality read plans only its bucket's files") {
    withTempPath { path =>
      val t = GraftTable.create(spark,
        (1 to 100).map(i => (i.toLong, s"v$i")).toDF("id", "v"), path,
        hashColumns = Seq("id"), bucketNum = 8)
      val ts1 = t.lastCommitTs
      t.upsert(Seq((1L, "u1"), (42L, "u42")).toDF("id", "v"))
      val full = spark.read.format("graft").load(path)
      assert(plansGraftScan(full))
      assertSameRows(full, t.toDF)
      val snap = spark.read.format("graft").option("readtype", "snapshot")
        .option("readendtime", ts1.toString).load(path)
      assert(plansGraftScan(snap))
      assertSameRows(snap, t.snapshotAt(ts1))
      val incr = spark.read.format("graft").option("readtype", "incremental")
        .option("readstarttime", ts1.toString).load(path)
      assert(plansGraftScan(incr))
      assertRows(incr, Seq("[1,u1]", "[42,u42]"))
      // a user-specified schema is ignored, as the DSv1 relation ignored it
      assert(plansGraftScan(spark.read.schema("id BIGINT").format("graft").load(path)))
      val b = graft.write.TransactionalWrite.bucketOf(spark, t.schema,
        Seq("id" -> 42L), 8)
      val mine = t.liveFiles.count(_.file.bucketId == b).toLong
      assert(mine > 0 && mine < t.liveFiles.size)
      assert(graftFilesPlanned(spark.read.format("graft").load(path)
        .filter($"id" === 42L)) == mine)
      val missing = intercept[IllegalArgumentException](
        spark.read.format("graft").load(s"$path-missing"))
      assert(missing.getMessage.contains("no graft table at"))
    }
  }

  test("format(graft) reads GraftScan cannot plan fall back to the DSv1 " +
    "relation: diff and agg-only merge operators") {
    withTempPath { path =>
      val t = GraftTable.create(spark,
        (1 to 20).map(i => (i.toLong, s"v$i")).toDF("id", "v"), path,
        hashColumns = Seq("id"), bucketNum = 2)
      val ts1 = t.lastCommitTs
      t.upsert(Seq((1L, "u1"), (21L, "v21")).toDF("id", "v"))
      t.compaction(CompactionOptions(newBucketNum = Some(4)), _ => true)
      t.upsert(Seq((2L, "u2")).toDF("id", "v"))
      val diff = spark.read.format("graft").option("readtype", "diff")
        .option("readstarttime", ts1.toString).load(path)
      assert(!plansGraftScan(diff))
      assertSameRows(diff, t.diff(ts1, t.lastCommitTs))
      // an incremental window across the re-bucket is the scan's
      val incr = spark.read.format("graft").option("readtype", "incremental")
        .option("readstarttime", ts1.toString).load(path)
      assert(plansGraftScan(incr))
      assertSameRows(incr, t.incremental(ts1, t.lastCommitTs))
    }
    graft.mergeop.MergeOps.register(new graft.mergeop.MergeOp {
      val name = "keep_max_ds"
      def agg(value: Column, version: Column, present: Column,
          dt: org.apache.spark.sql.types.DataType): Column =
        max(when(present, value)).cast(dt)
    })
    withTempPath { path =>
      val t = GraftTable.create(spark, Seq((1L, 7), (2L, 1)).toDF("id", "v"), path,
        hashColumns = Seq("id"), bucketNum = 2,
        properties = Map(graft.meta.TableInfo.mergeOpProp("v") -> "keep_max_ds"))
      t.upsert(Seq((1L, 3), (2L, 5)).toDF("id", "v"))
      val agg = spark.read.format("graft").load(path)
      assert(!plansGraftScan(agg))
      assertRows(agg, Seq("[1,7]", "[2,5]"))
      assertSameRows(agg, t.toDF)
    }
  }

  test("format(graft) incremental across an 8->16 re-bucket of an " +
    "unpartitioned table plans GraftScan with 16 tasks, rows equal to the " +
    "per-range-partition merge") {
    withTempPath { path =>
      val t = GraftTable.create(spark,
        (1 to 200).map(i => (i.toLong, s"a$i")).toDF("id", "v"), path,
        hashColumns = Seq("id"), bucketNum = 8)
      val ts1 = t.lastCommitTs
      t.upsert((1 to 200 by 2).map(i => (i.toLong, s"b$i")).toDF("id", "v"))
      t.compaction(CompactionOptions(newBucketNum = Some(16)), _ => true)
      t.upsert((1 to 200 by 3).map(i => (i.toLong, s"c$i")).toDF("id", "v"))
      def read(): (Boolean, Int, Seq[String]) = {
        val df = spark.read.format("graft").option("readtype", "incremental")
          .option("readstarttime", ts1.toString).load(path)
        (plansGraftScan(df), df.rdd.getNumPartitions,
          df.collect().map(_.toString).sorted.toSeq)
      }
      val (scan, tasks, rows) = read()
      assert(scan && tasks == 16, s"GraftScan $scan with $tasks tasks")
      graft.read.GraftRead.forceCrossBucketRead = true
      val (oracleScan, oracleTasks, oracle) =
        try read() finally graft.read.GraftRead.forceCrossBucketRead = false
      assert(oracleScan && oracleTasks == 1)
      assert(rows == oracle)
      // every key the window touched, the last writer winning
      assert(rows == (1 to 200).filter(i => i % 2 == 1 || i % 3 == 1)
        .map(i => s"[$i,${if (i % 3 == 1) "c" else "b"}$i]").sorted)
    }
  }

  test("format(graft) stream sink: queries without a queryId option keep " +
    "their own batch ids, so a second query's first batches land") {
    withTempPath { srcA =>
      withTempPath { srcB =>
        withTempPath { dst =>
          withTempPath { ckpt =>
            GraftTable.create(spark, Seq((1L, "a")).toDF("id", "v"), srcA,
              hashColumns = Seq("id"), bucketNum = 1)
            GraftTable.create(spark, Seq((2L, "b")).toDF("id", "v"), srcB,
              hashColumns = Seq("id"), bucketNum = 1)
            def pipe(src: String, checkpoint: String): Unit =
              spark.readStream.format("graft").load(src)
                .writeStream.format("graft")
                .option("path", dst)
                .option("hashPartitions", "id").option("hashBucketNum", "1")
                .option("checkpointLocation", checkpoint)
                .trigger(Trigger.AvailableNow())
                .start().awaitTermination(60000)
            pipe(srcA, s"$ckpt/a")
            assertRows(spark.read.format("graft").load(dst), Seq("[1,a]"))
            pipe(srcB, s"$ckpt/b")
            assertRows(spark.read.format("graft").load(dst),
              Seq("[1,a]", "[2,b]"))
          }
        }
      }
    }
  }

  test("a table registered in the session catalog keeps its DSv1 surface: " +
    "managed saveAsTable, append, SQL read") {
    try {
      Seq((5L, "e")).toDF("id", "v").write.format("graft")
        .option("hashPartitions", "id").saveAsTable("ds_sat")
      Seq((5L, "e2"), (6L, "f")).toDF("id", "v").write.format("graft")
        .mode("append").saveAsTable("ds_sat")
      val df = spark.sql("SELECT * FROM ds_sat")
      assert(!plansGraftScan(df))
      assertRows(df, Seq("[5,e2]", "[6,f]"))
    } finally spark.sql("DROP TABLE IF EXISTS ds_sat")
  }

  test("format(graft): write creates table, append upserts on PK, read back") {
    withTempPath { path =>
      Seq((1, "a"), (2, "b")).toDF("id", "v").write.format("graft")
        .option("hashPartitions", "id").option("hashBucketNum", "2")
        .save(path)
      Seq((2, "b2"), (3, "c")).toDF("id", "v").write.format("graft")
        .mode("append").save(path)
      val back = spark.read.format("graft").load(path)
      assertRows(back, Seq("[1,a]", "[2,b2]", "[3,c]"))
      // column pruning path
      assertRows(back.select("id"), Seq("[1]", "[2]", "[3]"))
      assertRows(back.filter($"id" === 2).select("v"), Seq("[b2]"))
    }
  }

  test("format(graft): snapshot and incremental read options") {
    withTempPath { path =>
      Seq((1, "a")).toDF("id", "v").write.format("graft")
        .option("hashPartitions", "id").save(path)
      val t = GraftTable.forPath(spark, path)
      val ts1 = t.lastCommitTs
      t.upsert(Seq((2, "b")).toDF("id", "v"))
      val snap = spark.read.format("graft")
        .option("readtype", "snapshot").option("readendtime", ts1.toString)
        .load(path)
      assertRows(snap, Seq("[1,a]"))
      val incr = spark.read.format("graft")
        .option("readtype", "incremental")
        .option("readstarttime", ts1.toString)
        .option("readendtime", t.lastCommitTs.toString)
        .load(path)
      assertRows(incr, Seq("[2,b]"))
    }
  }

  test("format(graft): replaceWhere overwrite replaces only matching partitions") {
    withTempPath { path =>
      Seq((1, "a", 1), (2, "b", 1), (3, "c", 2), (4, "d", 3))
        .toDF("id", "v", "r").write.format("graft")
        .option("rangePartitions", "r").save(path)
      Seq((10, "A", 1), (30, "C", 2)).toDF("id", "v", "r")
        .write.format("graft").mode("overwrite")
        .option("replaceWhere", "r <= 2").save(path)
      assertRows(spark.read.format("graft").load(path),
        Seq("[4,d,3]", "[10,A,1]", "[30,C,2]"))
    }
  }

  test("structured streaming: graft source -> memory sink, graft sink e2e") {
    withTempPath { src =>
      withTempPath { dst =>
        withTempPath { ckpt =>
          val t = GraftTable.create(spark, Seq((1L, "a")).toDF("id", "v"), src,
            hashColumns = Seq("id"), bucketNum = 1)
          // graft -> graft streaming pipe
          val q = spark.readStream.format("graft").load(src)
            .writeStream.format("graft")
            .option("path", dst)
            .option("hashPartitions", "id").option("hashBucketNum", "1")
            .option("checkpointLocation", s"$ckpt/sink")
            .trigger(Trigger.AvailableNow())
            .start()
          q.awaitTermination(60000)
          assertRows(spark.read.format("graft").load(dst), Seq("[1,a]"))
          // second batch flows through on restart
          t.upsert(Seq((2L, "b"), (1L, "a2")).toDF("id", "v"))
          val q2 = spark.readStream.format("graft").load(src)
            .writeStream.format("graft")
            .option("path", dst)
            .option("checkpointLocation", s"$ckpt/sink")
            .trigger(Trigger.AvailableNow())
            .start()
          q2.awaitTermination(60000)
          assertRows(spark.read.format("graft").load(dst), Seq("[1,a2]", "[2,b]"))
        }
      }
    }
  }

  test("DSv1 source admission control paces the backlog") {
    withTempPath { src =>
      withTempPath { ckpt =>
        val t = GraftTable.create(spark, Seq((1L, "a")).toDF("id", "v"), src,
          hashColumns = Seq("id"), bucketNum = 1)
        t.upsert(Seq((2L, "b")).toDF("id", "v"))
        t.upsert(Seq((3L, "c")).toDF("id", "v"))
        val q = spark.readStream.format("graft")
          .option("maxCommitsPerTrigger", "1").load(src)
          .writeStream.format("memory").queryName("v1_paced")
          .option("checkpointLocation", s"$ckpt/q")
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination(120000)
        assertRows(spark.table("v1_paced"), Seq("[1,a]", "[2,b]", "[3,c]"))
        val batches = q.recentProgress.map(_.numInputRows).filter(_ > 0)
        assert(batches.length == 3, s"expected 3 paced batches, got ${batches.toSeq}")
      }
    }
  }

  test("structured streaming composition: watermark + event-time window agg " +
    "over the graft source (SURVEY §2.9 delegation)") {
    withTempPath { src =>
      withTempPath { ckpt =>
        def ts(s: String) = java.sql.Timestamp.valueOf(s)
        val t = GraftTable.create(spark, Seq(
          (1L, ts("2024-01-01 00:00:10"), 1.0),
          (2L, ts("2024-01-01 00:00:40"), 2.0),
          (3L, ts("2024-01-01 00:01:10"), 10.0)).toDF("id", "ts", "v"), src,
          hashColumns = Seq("id"), bucketNum = 1)
        def run(): Unit = {
          val q = spark.readStream.format("graft").load(src)
            .withWatermark("ts", "30 seconds")
            .groupBy(org.apache.spark.sql.functions.window(col("ts"), "1 minute"))
            .agg(org.apache.spark.sql.functions.sum("v").as("sv"))
            .selectExpr("window.start AS ws", "sv")
            .writeStream.outputMode("complete")
            .format("memory").queryName("wm_out")
            .option("checkpointLocation", s"$ckpt/q")
            .trigger(Trigger.AvailableNow())
            .start()
          q.awaitTermination(60000)
        }
        run()
        assertRows(spark.table("wm_out").selectExpr("CAST(ws AS STRING)", "sv"),
          Seq("[2024-01-01 00:00:00,3.0]", "[2024-01-01 00:01:00,10.0]"))
        // late-but-in-watermark row lands in its event-time window on replay
        t.upsert(Seq((4L, ts("2024-01-01 00:01:20"), 5.0)).toDF("id", "ts", "v"))
        run()
        assertRows(spark.table("wm_out").selectExpr("CAST(ws AS STRING)", "sv"),
          Seq("[2024-01-01 00:00:00,3.0]", "[2024-01-01 00:01:00,15.0]"))
      }
    }
  }

  test("structured streaming custom state: mapGroupsWithState running " +
    "per-user counts over the graft source, state survives restart") {
    import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout}
    withTempPath { src =>
      withTempPath { dst =>
        withTempPath { ckpt =>
          val t = GraftTable.create(spark,
            Seq(("a", 1L), ("a", 2L), ("b", 3L)).toDF("user", "ev"), src)
          def run(): Unit = {
            val q = spark.readStream.format("graft").load(src)
              .as[(String, Long)]
              .groupByKey(_._1)
              .mapGroupsWithState(GroupStateTimeout.NoTimeout) {
                (user: String, rows: Iterator[(String, Long)],
                 st: GroupState[Long]) =>
                  val n = st.getOption.getOrElse(0L) + rows.size
                  st.update(n)
                  (user, n)
              }
              .toDF("user", "n")
              .writeStream.outputMode("update")
              .format("graft").option("path", dst)
              .option("hashPartitions", "user").option("hashBucketNum", "1")
              .option("checkpointLocation", s"$ckpt/q")
              .trigger(Trigger.AvailableNow())
              .start()
            q.awaitTermination(60000)
          }
          run()
          assertRows(spark.read.format("graft").load(dst),
            Seq("[a,2]", "[b,1]"))
          // restart: restored state continues the counts; new key starts at 1
          t.append(Seq(("a", 4L), ("c", 5L)).toDF("user", "ev"))
          run()
          assertRows(spark.read.format("graft").load(dst),
            Seq("[a,3]", "[b,1]", "[c,1]"))
        }
      }
    }
  }

  test("structured streaming dedup: dropDuplicatesWithinWatermark over the " +
    "graft source, state survives restarts") {
    withTempPath { src =>
      withTempPath { dst =>
        withTempPath { ckpt =>
          def ts(s: String) = java.sql.Timestamp.valueOf(s)
          val t = GraftTable.create(spark, Seq(
            (1L, ts("2024-01-01 00:00:01"), "a"),
            (1L, ts("2024-01-01 00:00:02"), "a-dup"),
            (2L, ts("2024-01-01 00:00:03"), "b")).toDF("id", "ts", "v"), src)
          def run(): Unit = {
            val q = spark.readStream.format("graft").load(src)
              .withWatermark("ts", "10 minutes")
              .dropDuplicatesWithinWatermark("id")
              .writeStream.format("graft")
              .option("path", dst)
              .option("checkpointLocation", s"$ckpt/q")
              .trigger(Trigger.AvailableNow())
              .start()
            q.awaitTermination(60000)
          }
          run()
          val out = spark.read.format("graft").load(dst)
          assert(out.count() == 2, "one row per id after streaming dedup")
          assert(out.filter(col("id") === 1L).count() == 1)
          // a later duplicate of id=1 within the watermark is dropped by the
          // RESTORED dedup state; the genuinely new id flows through
          t.append(Seq(
            (3L, ts("2024-01-01 00:00:04"), "c"),
            (1L, ts("2024-01-01 00:00:05"), "a-again")).toDF("id", "ts", "v"))
          run()
          val out2 = spark.read.format("graft").load(dst)
          assert(out2.count() == 3, s"expected 3 rows, got ${out2.count()}")
          assert(out2.filter(col("id") === 1L).count() == 1)
        }
      }
    }
  }

  test("stream ingestion: topics route into auto-created tables, schema " +
    "evolves, replay is exactly-once (S12 shape)") {
    withTempPath { root =>
      val src = s"$root/src"; val wh = s"$root/wh"; val ckpt = s"$root/ckpt"
      val t0 = GraftTable.create(spark, Seq(
        ("events", """{"id":1,"kind":"click"}"""),
        ("events", """{"id":2,"kind":"view"}"""),
        ("users", """{"uid":10,"name":"ann"}""")).toDF("topic", "value"), src)
      def run(): Unit = {
        val q = graft.streaming.StreamIngest.start(
          spark.readStream.format("graft").load(src), wh, "ing", s"$ckpt/q",
          hourPartition = true,
          trigger = Trigger.AvailableNow(), clock = () => "2026010100")
        q.awaitTermination(120000)
      }
      run()
      val events = GraftTable.forPath(spark, s"$wh/ing/events")
      assertRows(events.toDF.select("id", "kind", "graft_ingest_dt"),
        Seq("[1,click,2026010100]", "[2,view,2026010100]"))
      assertRows(GraftTable.forPath(spark, s"$wh/ing/users").toDF
        .select("uid", "name"), Seq("[10,ann]"))
      // tables are name-registered like the reference's DBManager catalog
      assert(GraftTable.forName(spark, "ing.events").toDF.count() == 2)

      // batch 2: a NEW topic and a NEW field on an existing topic
      t0.append(Seq(
        ("orders", """{"oid":7,"total":9.5}"""),
        ("events", """{"id":3,"kind":"click","extra":"x"}"""))
        .toDF("topic", "value"))
      run()
      assertRows(GraftTable.forPath(spark, s"$wh/ing/orders").toDF
        .select("oid", "total"), Seq("[7,9.5]"))
      val evolved = events.toDF.select("id", "extra").orderBy("id")
      assertRows(evolved, Seq("[1,null]", "[2,null]", "[3,x]"))

      // replayed restart with no new data: exactly-once, counts unchanged
      run()
      assert(events.toDF.count() == 3)
      assert(GraftTable.forPath(spark, s"$wh/ing/orders").toDF.count() == 1)
    }
  }

  test("readtype=diff returns the exact row-level change feed (CDF): " +
    "insert/update pre+post/delete, untouched rows absent") {
    withTempPath { dir =>
      val t = GraftTable.create(spark,
        Seq((1L, "a"), (2L, "b"), (4L, "d")).toDF("id", "v"), dir,
        hashColumns = Seq("id"), bucketNum = 2)
      val ts1 = t.lastCommitTs
      t.upsert(Seq((2L, "B"), (3L, "c")).toDF("id", "v"))
      t.delete("id = 1")
      val diff = spark.read.format("graft")
        .option("readtype", "diff").option("readstarttime", ts1.toString)
        .load(dir)
      assertRows(diff.orderBy("id", "_change_type"),
        Seq("[1,a,delete]", "[2,B,update_postimage]", "[2,b,update_preimage]",
          "[3,c,insert]"))
      // a compaction rewrites every file but fabricates no changes
      t.compaction()
      assert(t.diff(ts1, t.lastCommitTs).orderBy("id", "_change_type")
        .collect().map(_.toString).toSeq ==
        Seq("[1,a,delete]", "[2,B,update_postimage]", "[2,b,update_preimage]",
          "[3,c,insert]"))
    }
  }

  test("diff kernel prunes untouched (partition, bucket) pairs: an append " +
    "to one partition diffs only that partition's buckets") {
    withTempPath { dir =>
      val df = (1 to 400).map(i => (i.toLong, s"p${i % 4}", i * 2))
        .toDF("id", "p", "v")
      val t = GraftTable.create(spark, df, dir,
        rangeColumns = Seq("p"), hashColumns = Seq("id"), bucketNum = 4)
      val ts1 = t.lastCommitTs
      t.append(Seq((1001L, "p2", -1), (1002L, "p2", -2)).toDF("id", "p", "v"))
      val oldF = t.filesUptoTime(ts1)
      val newF = t.filesUptoTime(t.lastCommitTs)
      val rdd = graft.read.BucketMergeRead.diffRdd(spark, t.info, t.schema,
        oldF, newF)
      // only p=p2's touched buckets become tasks (2 new keys land in <= 2
      // buckets), not 4 partitions x 4 buckets
      assert(rdd.getNumPartitions <= 2, s"got ${rdd.getNumPartitions} tasks")
      assert(t.diff(ts1, t.lastCommitTs).orderBy("id")
        .collect().map(_.toString).toSeq ==
        Seq("[1001,p2,-1,insert]", "[1002,p2,-2,insert]"))
    }
  }

  test("KafkaIngest fails fast with guidance when the connector is absent " +
    "(S12: source wiring is real, the jar is the only missing piece)") {
    import graft.streaming.KafkaIngest
    // this sandbox has no spark-sql-kafka jars: availability must report
    // false and source() must raise the actionable message, not a deep
    // ClassNotFoundException out of query start
    assert(!KafkaIngest.available(spark))
    val e = intercept[IllegalStateException] {
      KafkaIngest.source(spark,
        KafkaIngest.KafkaOptions("localhost:9092", "events.*"))
    }
    assert(e.getMessage.contains("kafka connector not on the classpath"))
  }

  test("lookupByPk prunes to one bucket and returns the row") {
    withTempPath { path =>
      val df = (1 to 100).map(i => (i.toLong, s"v$i")).toDF("id", "v")
      val t = GraftTable.create(spark, df, path,
        hashColumns = Seq("id"), bucketNum = 8)
      t.upsert(Seq((1L, "u1"), (42L, "u42")).toDF("id", "v"))
      assertRows(t.lookupByPk(Seq(42L)), Seq("[42,u42]"))
      val b = graft.write.TransactionalWrite.bucketOf(spark, t.schema,
        Seq("id" -> 42L), 8)
      val mine = t.liveFiles.count(_.file.bucketId == b).toLong
      assert(mine > 0 && mine < t.liveFiles.size)
      assert(graftFilesPlanned(t.lookupByPk(Seq(42L))) == mine)
      assert(t.lookupByPk(Seq(4242L)).count() == 0)
    }
  }

  test("upsertOnJoinKey enriches delta via broadcast join") {
    withTempPath { path =>
      val t = GraftTable.create(spark,
        Seq((1L, "k1", 10), (2L, "k2", 20)).toDF("id", "key", "amount"), path,
        hashColumns = Seq("id"), bucketNum = 2)
      // delta keyed by `key`, no id column
      t.upsertOnJoinKey(Seq(("k2", 99)).toDF("key", "amount"), Seq("key"))
      assertRows(t.toDF, Seq("[1,k1,10]", "[2,k2,99]"))
    }
  }

  test("delta join: upsertOnJoinKey + joinWithTablesAndUpsert keep a " +
    "materialized join table equal to the recomputed join (reference " +
    "DeltaJoinSuite shape)") {
    withTempPath { pl =>
      withTempPath { pr =>
        withTempPath { pj =>
          val left0 = Seq((1L, "a", "v1-1"), (2L, "b", "v1-2"), (3L, "c", "v1-3"))
            .toDF("hash_left", "hash_right", "v1")
          val right0 = Seq(("a", "v2-a"), ("b", "v2-b"), ("c", "v2-c"))
            .toDF("hash_right", "v2")
          val left = GraftTable.create(spark, left0, pl,
            hashColumns = Seq("hash_left"), bucketNum = 2)
          val right = GraftTable.create(spark, right0, pr,
            hashColumns = Seq("hash_right"), bucketNum = 2)
          val join = GraftTable.create(spark,
            left.toDF.join(right.toDF, Seq("hash_right"), "left_outer"), pj,
            hashColumns = Seq("hash_left"), bucketNum = 2)
          // deltas land in the base tables...
          val deltaLeft = Seq((3L, "c", "v1-31"), (4L, "d", "v1-4"), (5L, "e", "v1-5"))
            .toDF("hash_left", "hash_right", "v1")
          val deltaRight = Seq(("c", "v2-c1"), ("d", "v2-d"), ("f", "v2-f"))
            .toDF("hash_right", "v2")
          left.upsert(deltaLeft)
          right.upsert(deltaRight)
          // ...and the JOIN table folds them in incrementally: the
          // dim-side delta routes through the join key, the fact-side
          // delta enriches against the dim's current state
          join.upsertOnJoinKey(deltaRight, Seq("hash_right"))
          join.joinWithTablePathsAndUpsert(deltaLeft, Seq(pr))
          assertSameRows(join.toDF,
            left.toDF.join(right.toDF, Seq("hash_right"), "left_outer"))
        }
      }
    }
  }

  test("CDC table streams tombstones: a downstream consumer sees the " +
    "delete marker (reference CDC incremental-read semantics)") {
    withTempPath { src =>
      withTempPath { ckpt =>
        import graft.meta.TableInfo
        val t = GraftTable.create(spark,
          Seq((1L, "a", "insert"), (2L, "b", "insert")).toDF("id", "v", "op"),
          src, hashColumns = Seq("id"), bucketNum = 1,
          properties = Map(TableInfo.CdcColumnProp -> "op"))
        val got = scala.collection.mutable.ArrayBuffer[String]()
        def drain(): Unit = {
          val q = spark.readStream.format("graft").load(src)
            .writeStream.foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
              got.synchronized { got ++= b.collect().map(_.toString) }; ()
            }
            .option("checkpointLocation", s"$ckpt/q")
            .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
            .start()
          q.awaitTermination(60000)
        }
        drain()
        assert(got.sorted == Seq("[1,a,insert]", "[2,b,insert]"), got)
        got.clear()
        t.upsert(Seq((2L, "b", "delete"), (3L, "c", "insert")).toDF("id", "v", "op"))
        drain()
        // the DELETE row itself flows to the consumer — a batch read of the
        // same table hides it (visibility filter), the stream must not
        assert(got.sorted == Seq("[2,b,delete]", "[3,c,insert]"), got)
        assertRows(t.toDF.select("id"), Seq("[1]", "[3]"))
      }
    }
  }

  test("streaming change feed (readtype=diff): CDC micro-batches emit " +
    "_change_type rows; non-CDC tables are rejected with guidance") {
    withTempPath { src =>
      withTempPath { ckpt =>
        import graft.meta.TableInfo
        val t = GraftTable.create(spark,
          Seq((1L, "a", "insert"), (2L, "b", "insert")).toDF("id", "v", "op"),
          src, hashColumns = Seq("id"), bucketNum = 1,
          properties = Map(TableInfo.CdcColumnProp -> "op"))
        t.upsert(Seq((2L, "b", "delete"), (3L, "c", "update")).toDF("id", "v", "op"))
        val got = scala.collection.mutable.ArrayBuffer[String]()
        val q = spark.readStream.format("graft")
          .option("readtype", "diff").load(src)
          .writeStream.foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
            got.synchronized { got ++= b.collect().map(_.toString) }; ()
          }
          .option("checkpointLocation", s"$ckpt/q")
          .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
          .start()
        q.awaitTermination(60000)
        assert(got.sorted == Seq("[1,a,insert]", "[2,b,delete]",
          "[3,c,update_postimage]"), got)

        // non-CDC: per-trigger snapshot comparison would be O(table) — the
        // source refuses and points at batch diff()
        withTempPath { plain =>
          GraftTable.create(spark, Seq((1L, "x")).toDF("id", "v"), plain,
            hashColumns = Seq("id"), bucketNum = 1)
          val e = intercept[IllegalArgumentException] {
            spark.readStream.format("graft")
              .option("readtype", "diff").load(plain)
          }
          assert(e.getMessage.contains("needs a CDC table"))
        }
      }
    }
  }
}
