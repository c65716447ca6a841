package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.catalog.GraftCatalog
import graft.tables.{CompactionOptions, GraftTable}

class CommandSuite extends SparkFixture {
  import spark.implicits._

  test("mergeInto validates and upserts") {
    withTempPath { path =>
      val t = GraftTable.create(spark, Seq((1, "a")).toDF("id", "v"), path,
        hashColumns = Seq("id"), bucketNum = 1)
      t.mergeInto(Seq((1, "a2"), (2, "b")).toDF("id", "v"))
      assertRows(t.toDF, Seq("[1,a2]", "[2,b]"))
      val e = intercept[IllegalArgumentException] {
        t.mergeInto(Seq((1, "x")).toDF("id", "nope"))
      }
      assert(e.getMessage.contains("nope"))
    }
  }

  test("leveled compaction: fileNumLimit skips fresh partitions, " +
    "fileSizeLimit carries big runs") {
    withTempPath { path =>
      val t = GraftTable.create(spark, (1 to 500).map(i => (i, i)).toDF("id", "v"),
        path, hashColumns = Seq("id"), bucketNum = 1)
      (1 to 4).foreach(i => t.upsert(Seq((i, i * 100)).toDF("id", "v")))
      assert(t.partitions.head.snapshot.size == 5)
      // fileNumLimit=10 -> nothing compacts
      t.compaction(CompactionOptions(fileNumLimit = Some(10)), _ => true)
      assert(t.partitions.head.snapshot.size == 5)
      // fileSizeLimit: the big initial run carries over, small deltas merge
      val before = t.toDF.collect().map(_.toString).sorted
      t.compaction(CompactionOptions(fileSizeLimit = Some(2000L)), _ => true)
      val runsAfter = t.liveFiles.map(_.commitOrdinal).distinct.size
      assert(runsAfter < 5, s"expected fewer live runs, got $runsAfter")
      assert(t.toDF.collect().map(_.toString).sorted.toSeq == before.toSeq)
      // full compaction collapses to one
      t.compaction()
      assert(t.partitions.head.snapshot.size == 1)
      assert(t.toDF.collect().map(_.toString).sorted.toSeq == before.toSeq)
    }
  }

  test("re-bucketing compaction changes bucket count, preserves data") {
    withTempPath { path =>
      val t = GraftTable.create(spark, (1 to 200).map(i => (i, i)).toDF("id", "v"),
        path, hashColumns = Seq("id"), bucketNum = 2)
      t.upsert(Seq((1, 999)).toDF("id", "v"))
      val before = t.toDF.collect().map(_.toString).sorted
      t.compaction(CompactionOptions(newBucketNum = Some(8)), _ => true)
      assert(t.info.bucketNum == 8)
      assert(t.toDF.collect().map(_.toString).sorted.toSeq == before.toSeq)
      assert(t.lookupByPk(Seq(1)).head.getInt(1) == 999)
    }
  }

  test("vacuum deletes unreferenced files only") {
    withTempPath { path =>
      val t = GraftTable.create(spark, Seq((1, "a")).toDF("id", "v"), path,
        hashColumns = Seq("id"), bucketNum = 1)
      (1 to 3).foreach(i => t.upsert(Seq((1, s"v$i")).toDF("id", "v")))
      t.compaction()
      val deleted = t.vacuum(retainMs = 0L)
      assert(deleted >= 3, s"expected >=3 stale files deleted, got $deleted")
      assertRows(t.toDF, Seq("[1,v3]"))
    }
  }

  test("vacuum keeps files referenced by retained time-travel versions") {
    withTempPath { path =>
      // v0: initial write (file A); v1: upsert (adds B); v2: compaction
      // (writes C, dels A+B at head). A cutoff between v1 and v2 retains
      // v2 plus v1 as the boundary base, so A and B must survive a vacuum
      // with that retention and a time-travel read into the window must
      // still answer — head-only liveness would delete them (their mtime
      // predates the cutoff, they are unreferenced at head).
      val t = GraftTable.create(spark, Seq((1, "a"), (2, "b")).toDF("id", "v"),
        path, hashColumns = Seq("id"), bucketNum = 1)
      Thread.sleep(150)
      t.upsert(Seq((1, "a2")).toDF("id", "v"))
      Thread.sleep(150)
      val tMid = System.currentTimeMillis()
      Thread.sleep(150)
      t.compaction()
      val expectMid = Seq("[1,a2]", "[2,b]")
      val deleted = t.vacuum(retainMs = System.currentTimeMillis() - tMid)
      assert(deleted == 0L,
        s"files of retained versions must survive vacuum, deleted $deleted")
      assertRows(GraftTable.forPathSnapshot(spark, path, tMid).toDF, expectMid)
      assertRows(t.toDF, expectMid)
      // with zero retention only the head survives: A and B go
      val deleted2 = t.vacuum(retainMs = 0L)
      assert(deleted2 >= 2, s"expected the two pre-compaction files, got $deleted2")
      assertRows(t.toDF, expectMid)
    }
  }

  test("a write that never publishes is invisible and vacuum reclaims it") {
    withTempPath { path =>
      val t = GraftTable.create(spark, Seq((1, "a")).toDF("id", "v"), path,
        hashColumns = Seq("id"), bucketNum = 1)
      val tsBefore = t.lastCommitTs
      // simulate a writer that dies between materializing parquet and the
      // meta commit: writeFiles runs, publish never happens
      val orphan = graft.write.TransactionalWrite.writeFiles(
        spark, t.info, Seq((2, "b")).toDF("id", "v"), graft.meta.CommitOp.Merge)
      val nOrphan = orphan.flatMap(_.files).size
      assert(nOrphan > 0, "the aborted write must have materialized files")
      // no partial visibility: batch readers and stream offsets unchanged
      assertRows(t.toDF, Seq("[1,a]"))
      assert(t.lastCommitTs == tsBefore)
      // a retention window keeps the orphans (they could be an in-flight
      // commit racing the sweep); zero retention reclaims exactly them
      assert(t.vacuum(retainMs = 3600000L) == 0L)
      assert(t.vacuum(retainMs = 0L) == nOrphan.toLong)
      assertRows(t.toDF, Seq("[1,a]"))
    }
  }

  test("partition TTL expires old partitions") {
    withTempPath { path =>
      val t = GraftTable.create(spark,
        Seq(("p1", 1, 1), ("p2", 2, 2)).toDF("r", "id", "v"), path,
        rangeColumns = Seq("r"), hashColumns = Seq("id"), bucketNum = 1,
        properties = Map("graft.partition.ttl.days" -> "1"))
      // pretend "now" is 2 days ahead -> everything expires
      val expired = t.cleanExpiredPartitions(
        System.currentTimeMillis() + 2L * 24 * 3600 * 1000)
      assert(expired.size == 2)
      assert(t.toDF.count() == 0)
    }
  }

  test("invariants: null PK rejected; check constraint enforced") {
    withTempPath { path =>
      val t = GraftTable.create(spark,
        Seq((Some(1), 10)).toDF("id", "v"), path,
        hashColumns = Seq("id"), bucketNum = 1,
        properties = Map("graft.check.positive_v" -> "v > 0"))
      val e1 = intercept[Exception] {
        t.upsert(Seq((None: Option[Int], 5)).toDF("id", "v"))
      }
      assert(e1.getMessage.contains("primary-key")
        || e1.getCause != null && e1.getCause.getMessage.contains("primary-key"))
      val e2 = intercept[Exception] {
        t.upsert(Seq((Some(2), -1)).toDF("id", "v"))
      }
      assert(e2.getMessage.contains("positive_v")
        || e2.getCause != null && e2.getCause.getMessage.contains("positive_v"))
      assertRows(t.toDF, Seq("[1,10]"))
      // non-key nullability is NORMALIZED at create (reference
      // ImplicitMetadataOperation.scala:106-113): v arrived non-nullable
      // from the primitive encoder but is STORED nullable — partial
      // batches may omit it and a NULL stores as a real null (never the
      // garbage 0 a false NOT NULL claim would let codegen read)
      assert(t.schema("v").nullable && !t.schema("id").nullable, t.schema)
      t.upsert(Seq((Some(3), None: Option[Int])).toDF("id", "v"))
      assertRows(t.toDF, Seq("[1,10]", "[3,null]"))
    }
  }

  test("expectations: drop removes violating rows, quarantine persists " +
    "them for triage, fail stays a hard constraint") {
    withTempPath { path =>
      val t = GraftTable.create(spark,
        Seq((0L, "seed", 1)).toDF("id", "v", "n"), path,
        hashColumns = Seq("id"), bucketNum = 1)
      t.expect("minlen", "length(v) >= 3", "quarantine")
      t.expect("nonneg", "n >= 0", "drop")
      t.append(Seq(
        (1L, "good", 5),   // passes both
        (2L, "x", 1),      // minlen -> quarantined
        (3L, "okay", -2),  // nonneg -> silently dropped
        (4L, "y", -9)      // both -> quarantined (minlen recorded)
      ).toDF("id", "v", "n"))
      assertRows(t.toDF.select("id").orderBy("id"), Seq("[0]", "[1]"))
      val quar = t.quarantined
        .select(col("id"), col("_g_violations")(0).as("viol")).orderBy("id")
      assertRows(quar, Seq("[2,minlen]", "[4,minlen]"))
      // fail action = check constraint
      t.expect("cap", "id < 100")
      val e = intercept[Exception] {
        t.append(Seq((200L, "zzz", 1)).toDF("id", "v", "n"))
      }
      assert(e.getMessage.contains("cap")
        || e.getCause != null && e.getCause.getMessage.contains("cap"))
      // quarantined reader on a table with no quarantine dir: empty, typed
      assert(GraftTable.create(spark, Seq((1L, "a", 1)).toDF("id", "v", "n"),
        path + "-clean", hashColumns = Seq("id"), bucketNum = 1)
        .quarantined.count() == 0)
      // SQL surface: CALL graft.expect sets the same properties
      spark.sql(s"CALL graft.expect(table_path => '$path', " +
        "name => 'sqlgate', predicate => 'n < 1000', action => 'drop')")
      t.append(Seq((9L, "fine", 5000)).toDF("id", "v", "n"))
      assert(t.toDF.filter(col("id") === 9L).count() == 0)
      // expectations gate INGESTION only: an expectation added after rows
      // loaded must not let a maintenance rewrite remove them
      t.expect("late_gate", "id <> 0", "drop")
      val before = t.toDF.count()
      t.compaction()
      assert(t.toDF.count() == before,
        "compaction must not re-apply expectations to admitted rows")
      assert(t.toDF.filter(col("id") === 0L).count() == 1)
    }
  }

  test("expectations stay ingestion-only across delta DML (Merge-op internal writes)") {
    withTempPath { path =>
      // plain PK table, delta update mode
      val t = GraftTable.create(spark,
        (1L to 10L).map(i => (i, s"val$i", i.toInt)).toDF("id", "v", "n"), path,
        hashColumns = Seq("id"), bucketNum = 2,
        properties = Map(graft.meta.TableInfo.UpdateModeProp -> "delta"))
      // late expectation every existing row violates
      t.expect("late", "n >= 1000", "drop")
      // delta UPDATE re-writes admitted rows with CommitOp.Merge — the
      // expectation must NOT swallow them (the row would silently vanish)
      t.update(col("id") === 3L, Map("v" -> lit("updated3")))
      assert(t.toDF.count() == 10, "delta update must not drop admitted rows")
      assert(t.toDF.filter(col("id") === 3L).select("v").head.getString(0)
        == "updated3")
      // applyChanges (replication): the source admitted these rows; the
      // replica's expectation must not re-gate the feed
      import spark.implicits._
      val feed = Seq(
        (4L, "post4", 4, "update_postimage"),
        (99L, "new", 5, "insert"),
        (5L, null.asInstanceOf[String], 0, "delete")
      ).toDF("id", "v", "n", "_change_type")
      t.applyChanges(feed)
      val after = t.toDF.select("id", "v").as[(Long, String)].collect().toMap
      assert(after(4L) == "post4", "postimage swallowed by late expectation")
      assert(after(99L) == "new")
      assert(!after.contains(5L), "delete change must apply")
      // but NEW data through upsert() is still gated
      t.upsert(Seq((200L, "gated", 1)).toDF("id", "v", "n"))
      assert(t.toDF.filter(col("id") === 200L).count() == 0,
        "plain upsert must still run expectations")
      t.upsert(Seq((201L, "passes", 5000)).toDF("id", "v", "n"))
      assert(t.toDF.filter(col("id") === 201L).count() == 1)
    }
    withTempPath { path =>
      // MERGE WHEN NOT MATCHED inserts are NEW data through user-facing
      // DML: late expectations DO gate them — while matched updates of
      // admitted rows stay exempt. Both merge modes (delta + rewrite).
      import spark.implicits._
      Seq(graft.meta.TableInfo.MergeModeProp -> "delta", "" -> "").foreach {
        case (pk, pv) =>
          withTempPath { p2 =>
            val props = if (pk.isEmpty) Map.empty[String, String] else Map(pk -> pv)
            val t = GraftTable.create(spark,
              (1L to 5L).map(i => (i, s"v$i", i.toInt)).toDF("id", "v", "n"),
              p2, hashColumns = Seq("id"), bucketNum = 2, properties = props)
            t.expect("late", "n >= 1000", "drop")
            val src = Seq((2L, "upd2", 2), (50L, "newpass", 5000),
              (51L, "newfail", 7)).toDF("id", "v", "n")
            t.mergeIntoClauses(src, Map("id" -> "id"),
              matched = Seq(graft.tables.MergeMatchedClause(None, Some(Map(
                "v" -> graft.tables.GraftMerge.source("v"),
                "n" -> graft.tables.GraftMerge.source("n"))))),
              notMatched = Seq(graft.tables.MergeNotMatchedClause(None, Map(
                "id" -> graft.tables.GraftMerge.source("id"),
                "v" -> graft.tables.GraftMerge.source("v"),
                "n" -> graft.tables.GraftMerge.source("n")))))
            val after = t.toDF.select("id", "v").as[(Long, String)]
              .collect().toMap
            assert(after(2L) == "upd2",
              s"matched update swallowed by late expectation (props=$props)")
            assert(after(50L) == "newpass", s"passing insert lost (props=$props)")
            assert(!after.contains(51L),
              s"NOT MATCHED insert must be gated by expectations (props=$props)")
            assert(after.size == 6)
          }
      }
    }
    withTempPath { path =>
      // CDC table: marker delete/update rows must never be re-gated
      val t = GraftTable.create(spark,
        (1L to 6L).map(i => (i, s"v$i", "insert")).toDF("id", "v", "op"), path,
        hashColumns = Seq("id"), bucketNum = 2,
        properties = Map(graft.meta.TableInfo.CdcColumnProp -> "op",
          graft.meta.TableInfo.DeleteModeProp -> "tombstone"))
      t.expect("late", "length(v) >= 100", "drop")
      t.deleteMarker(col("id") <= 2L)
      assert(t.toDF.count() == 4,
        "marker delete must not be swallowed by a late expectation")
      t.updateMarker(col("id") === 5L, Map("v" -> lit("upd")))
      assert(t.toDF.filter(col("id") === 5L).select("v").head.getString(0)
        == "upd")
    }
  }

  test("catalog: forName, listTables, drop") {
    withTempPath { path =>
      val name = s"default.t${System.nanoTime()}"
      GraftTable.createNamed(spark, name, Seq((1, "a")).toDF("id", "v"), path,
        hashColumns = Seq("id"), bucketNum = 1)
      assertRows(GraftTable.forName(spark, name).toDF, Seq("[1,a]"))
      assert(GraftCatalog.listTables(spark).contains(name))
      GraftCatalog.drop(spark, name)
      assert(!GraftCatalog.listTables(spark).contains(name))
    }
  }

  test("CALL graft.compact_meta bounds the version log, reads stay exact") {
    val parser = new graft.sql.GraftSqlParser(spark.sessionState.sqlParser)
    def call(sql: String) =
      parser.parsePlan(sql).asInstanceOf[graft.sql.GraftCallCommand].run(spark)
    withTempPath { path =>
      val t = GraftTable.create(spark, Seq((1L, "a")).toDF("id", "v"), path,
        hashColumns = Seq("id"), bucketNum = 1)
      (1 to 15).foreach(i => t.upsert(Seq((1L, s"v$i"), (i + 100L, "x"))
        .toDF("id", "v")))
      val logFile = java.nio.file.Paths.get(path, "_graft_meta", "versions.jsonl")
      val linesBefore = java.nio.file.Files.readAllLines(logFile).size
      val out = call(s"CALL graft.compact_meta(table_path => '$path')")
      assert(out.head.getString(0).startsWith("dropped "))
      val linesAfter = java.nio.file.Files.readAllLines(logFile).size
      assert(linesAfter < linesBefore, s"$linesBefore -> $linesAfter")
      // merged state is untouched: pk 1 holds the last write, inserts live
      assert(t.toDF.count() == 16)
      assert(t.toDF.filter(col("id") === 1L).head.getString(1) == "v15")
      // and new commits continue cleanly on the compacted log
      t.upsert(Seq((1L, "z")).toDF("id", "v"))
      assert(t.toDF.filter(col("id") === 1L).head.getString(1) == "z")
    }
  }

  test("file: URI table paths normalize to the local filesystem") {
    withTempPath { path =>
      // Spark's session catalog hands DSv1 providers the QUALIFIED location
      // (file:/tmp/...); both API and option("path") entry points must land
      // on the real local path, not a relative "file:..." dir under the CWD
      val t = GraftTable.create(spark, Seq((1L, "a")).toDF("id", "v"),
        s"file:$path", hashColumns = Seq("id"), bucketNum = 1)
      assert(t.toDF.count() == 1)
      assert(new java.io.File(path, "_graft_meta").exists)
      assert(GraftTable.exists(s"file://$path"))
      val r = spark.read.format("graft").option("path", s"file:$path").load()
      assert(r.count() == 1)
      assert(!new java.io.File("file:").exists, "stray relative 'file:' dir created")
    }
  }

  test("guard rails: unsupported v1 commands fail with clear errors (C16)") {
    withTempPath { path =>
      Seq((1, "a")).toDF("id", "v").write.format("graft")
        .option("path", path).option("hashPartitions", "id")
        .option("hashBucketNum", "1").saveAsTable("c16_t")
      try {
        val e1 = intercept[UnsupportedOperationException] {
          spark.sql("CREATE TABLE c16_like LIKE c16_t")
        }
        assert(e1.getMessage.contains("CREATE TABLE LIKE"))
        val e2 = intercept[UnsupportedOperationException] {
          spark.sql("ALTER TABLE c16_t ADD PARTITION (id=5)")
        }
        assert(e2.getMessage.contains("created implicitly"))
        val e3 = intercept[UnsupportedOperationException] {
          spark.sql(s"LOAD DATA LOCAL INPATH '$path' INTO TABLE c16_t")
        }
        assert(e3.getMessage.contains("INSERT INTO"))
      } finally spark.sql("DROP TABLE IF EXISTS c16_t")
    }
  }

  test("SQL extension: CALL graft.compaction / rollback / vacuum") {
    // session extensions only apply at session construction; exercise the
    // injected parser directly against the shared session
    val parser = new graft.sql.GraftSqlParser(spark.sessionState.sqlParser)
    def call(sql: String) =
      parser.parsePlan(sql).asInstanceOf[graft.sql.GraftCallCommand].run(spark)
    withTempPath { path =>
      val t = GraftTable.create(spark, Seq((1, "a")).toDF("id", "v"), path,
        hashColumns = Seq("id"), bucketNum = 1)
      t.upsert(Seq((1, "b")).toDF("id", "v"))
      call(s"CALL graft.compaction(table_path => '$path')")
      assert(t.partitions.head.snapshot.size == 1)
      call(s"CALL graft.rollback(table_path => '$path', version => '0')")
      assert(t.toDF.collect().map(_.toString).toSeq == Seq("[1,a]"))
      val res = call(s"CALL graft.vacuum(table_path => '$path')")
      assert(res.head.getString(0).startsWith("deleted"))
      // plain SQL still parses through the delegate
      assert(!parser.parsePlan("SELECT 1 + 1")
        .isInstanceOf[graft.sql.GraftCallCommand])
    }
    withTempPath { path =>
      val t = GraftTable.create(spark,
        (1L to 1000L).map(i => ((i * 677L) % 1000L, i)).toDF("k", "n")
          .repartition(4), path)
      call(s"CALL graft.cluster(table_path => '$path', " +
        "columns => 'k', num_files => '4')")
      val stats = t.liveFiles.map(f => graft.meta.FileStats.decode(f.file.stats))
      // clustered: per-file k ranges are disjoint-ish, so min < max only
      // inside narrow windows — assert ranges don't all span the full domain
      val spans = stats.flatMap(s => for {
        cs <- s.get("k"); mn <- cs.mn; mx <- cs.mx
      } yield mx.toLong - mn.toLong)
      assert(spans.nonEmpty && spans.min < 500,
        s"expected narrow per-file ranges after clustering, got $spans")
      assert(t.toDF.count() == 1000)
    }
  }

  test("auto re-bucketing: growth past targetBytes re-buckets to the next " +
    "power-of-2 count, data intact; under target is a no-op") {
    withTempPath { path =>
      val df = (1 to 2000).map(i => (i.toLong, s"value-$i" * 8)).toDF("id", "v")
      val t = GraftTable.create(spark, df, path,
        hashColumns = Seq("id"), bucketNum = 2)
      val live = t.liveFiles.map(_.file.size).sum
      // target above current avg -> no-op
      t.setBucketTargetBytes(live)
      assert(t.autoRebucket().isEmpty)
      assert(t.info.bucketNum == 2)
      // target at ~1/3 of avg -> buckets double until avg fits (2 -> 8)
      t.setBucketTargetBytes(live / 6)
      assert(t.autoRebucket().contains(8))
      assert(t.info.bucketNum == 8)
      assert(t.toDF.count() == 2000)
      assert(t.lookupByPk(Seq(1777L)).count() == 1) // PK pruning still right
    }
  }

  test("compaction daemon compacts only tables over the run threshold") {
    withTempPath { p1 =>
      withTempPath { p2 =>
        import spark.implicits._
        val busy = GraftTable.create(spark,
          (1 to 50).map(i => (i.toLong, i)).toDF("id", "v"), p1,
          hashColumns = Seq("id"), bucketNum = 2)
        (1 to 4).foreach(k =>
          busy.upsert(Seq((k.toLong, k * 100)).toDF("id", "v")))
        val quiet = GraftTable.create(spark,
          (1 to 10).map(i => (i.toLong, i)).toDF("id", "v"), p2,
          hashColumns = Seq("id"), bucketNum = 2)
        val daemon = new graft.tools.CompactionDaemon(spark,
          () => Seq(busy.tablePath, quiet.tablePath), fileNumLimit = 3)
        val compacted = daemon.runOnce()
        assert(compacted == Seq(busy.tablePath))
        assert(busy.liveFiles.map(_.commitOrdinal).distinct.size == 1)
        assert(busy.toDF.filter($"id" === 2L).head.getInt(1) == 200)
        assert(quiet.liveFiles.map(_.commitOrdinal).distinct.size == 1)
        assert(daemon.runOnce().isEmpty) // steady state
      }
    }
  }

  test("budgeted daemon sweep compacts the deepest-backlog partition first") {
    withTempPath { p =>
      import spark.implicits._
      // range-partitioned table with a SKEWED backlog: r=1 takes 12 upserts
      // (deep buckets), r=2 takes 5, r=3 stays quiet
      val base = (1L to 60L).map(i => (i % 3 + 1, i, 0L)).toDF("r", "id", "v")
      val t = GraftTable.create(spark, base, p,
        rangeColumns = Seq("r"), hashColumns = Seq("id"), bucketNum = 2)
      (1 to 12).foreach(k =>
        t.upsert(Seq((1L, (k % 20 + 1) * 3L, k.toLong)).toDF("r", "id", "v")))
      (1 to 5).foreach(k =>
        t.upsert(Seq((2L, (k % 20 + 1) * 3L + 1, k.toLong)).toDF("r", "id", "v")))
      def runsOf(desc: String): Int = t.liveFiles
        .filter(_.partitionDesc == desc).map(_.commitOrdinal).distinct.size

      // surface run depth through t$partitions (the daemon's priority key)
      spark.conf.set("spark.sql.catalog.graft_cat", "graft.catalog.GraftCatalogV2")
      if (spark.conf.getOption("spark.graft.warehouse").isEmpty)
        spark.conf.set("spark.graft.warehouse", p + "-wh")
      graft.catalog.GraftCatalog.register(spark, "cdp.skew", p)
      val depths = spark.sql("SELECT partition_desc, max_bucket_runs FROM " +
        "graft_cat.cdp.`skew$partitions` ORDER BY max_bucket_runs DESC")
        .collect().map(r => r.getString(0) -> r.getInt(1))
      assert(depths.head._1 == "r=1" && depths.head._2 > depths(1)._2,
        s"run-depth surface wrong: ${depths.toSeq}")

      // a budget of ONE partition per sweep must spend it on r=1
      val daemon = new graft.tools.CompactionDaemon(spark,
        () => Seq(t.tablePath), fileNumLimit = 3, maxPartitionsPerSweep = 1)
      assert(daemon.runOnce().nonEmpty)
      assert(runsOf("r=1") == 1, "deepest partition should compact first")
      assert(runsOf("r=2") == 6, "budget of 1 must not touch r=2 yet")
      // next sweep clears the runner-up; quiet partition untouched throughout
      assert(daemon.runOnce().nonEmpty)
      assert(runsOf("r=2") == 1 && runsOf("r=3") == 1)
      assert(daemon.runOnce().isEmpty) // steady state
      assert(t.toDF.count() == 60)
    }
  }

  test("budget-truncated backlog drains over sweeps with NO further writes") {
    withTempPath { p =>
      import spark.implicits._
      // three backlogged partitions, budget of one: the quiescent fast path
      // must NOT arm after a truncated sweep — the backlog has to drain to
      // empty without any external commit moving the table's timestamp
      val base = (1L to 60L).map(i => (i % 3 + 1, i, 0L)).toDF("r", "id", "v")
      val t = GraftTable.create(spark, base, p,
        rangeColumns = Seq("r"), hashColumns = Seq("id"), bucketNum = 2)
      for (r <- 1L to 3L; k <- 1 to 5)
        t.upsert(Seq((r, (k % 20 + 1) * 3L + r - 1, k.toLong)).toDF("r", "id", "v"))
      def dueParts: Int = t.liveFiles.groupBy(_.partitionDesc).values
        .count(_.map(_.commitOrdinal).distinct.size > 3)
      assert(dueParts == 3)
      val daemon = new graft.tools.CompactionDaemon(spark,
        () => Seq(t.tablePath), fileNumLimit = 3, maxPartitionsPerSweep = 1)
      assert(daemon.runOnce().nonEmpty && dueParts == 2)
      assert(daemon.lastSweepSkipped == 0)
      assert(daemon.runOnce().nonEmpty && dueParts == 1)
      assert(daemon.lastSweepSkipped == 0, "truncated sweep must stay armed")
      assert(daemon.runOnce().nonEmpty && dueParts == 0)
      assert(daemon.runOnce().isEmpty) // fully drained -> steady state
      daemon.runOnce()
      assert(daemon.lastSweepSkipped == 1, "quiet table should fast-path now")
      assert(t.toDF.count() == 60)
    }
  }

  test("daemon reports throwing tables instead of silently skipping them") {
    withTempPath { p =>
      import spark.implicits._
      val t = GraftTable.create(spark,
        Seq((1L, 1)).toDF("id", "v"), p, hashColumns = Seq("id"), bucketNum = 1)
      (1 to 5).foreach(k => t.upsert(Seq((1L, k)).toDF("id", "v")))
      val daemon = new graft.tools.CompactionDaemon(spark,
        () => Seq(p + "-does-not-exist", t.tablePath), fileNumLimit = 3)
      val compacted = daemon.runOnce()
      assert(compacted == Seq(t.tablePath), "healthy table still compacts")
      assert(daemon.lastSweepErrors.map(_._1) == Seq(p + "-does-not-exist"),
        s"missing table must surface in lastSweepErrors: ${daemon.lastSweepErrors}")
    }
  }

  test("daemon thread survives a throwing tablePaths() and keeps sweeping") {
    val calls = new java.util.concurrent.atomic.AtomicInteger(0)
    val daemon = new graft.tools.CompactionDaemon(spark, () => {
      val n = calls.incrementAndGet()
      // the first two sweeps blow up INSIDE tablePaths() — outside
      // runOnce()'s per-table absorption — the loop guard must log and
      // keep sweeping instead of dying with `running` stuck true
      if (n <= 2) throw new IllegalStateException("catalog hiccup")
      Seq.empty
    }, intervalMs = 20)
    daemon.start()
    val deadline = System.currentTimeMillis() + 10000
    while (calls.get() < 4 && System.currentTimeMillis() < deadline) Thread.sleep(10)
    daemon.stop()
    assert(calls.get() >= 4, "daemon must keep sweeping after tablePaths() throws")
  }

  test("size-capped rolling writer splits files, merge read stays correct") {
    withTempPath { p =>
      import spark.implicits._
      val t = GraftTable.create(spark,
        (1 to 1000).map(i => (i.toLong, s"v$i")).toDF("id", "v"), p,
        hashColumns = Seq("id"), bucketNum = 2,
        properties = Map(
          graft.write.TransactionalWrite.MaxRecordsPerFileProp -> "100"))
      // ~500 rows per bucket at 100 rows/file -> >1 file per bucket per run
      val perBucket = t.liveFiles.groupBy(_.file.bucketId).view.mapValues(_.size)
      assert(perBucket.values.forall(_ > 1), s"no file rolling: $perBucket")
      t.upsert(Seq((7L, "V7")).toDF("id", "v"))
      assert(t.toDF.count() == 1000)
      assert(t.toDF.filter($"id" === 7L).head.getString(1) == "V7")
    }
  }

  test("leveled compaction never re-runs ingestion expectations on " +
    "admitted rows (r17 pin)") {
    withTempPath { p =>
      import spark.implicits._
      val t = GraftTable.create(spark,
        (1 to 40).map(i => (i.toLong, i)).toDF("id", "v"), p,
        hashColumns = Seq("id"), bucketNum = 2)
      (1 to 4).foreach(r =>
        t.upsert((1 to 40).map(i => (i.toLong, i + r * 100)).toDF("id", "v")))
      // expectation added AFTER the rows loaded: an internal rewrite that
      // re-ran it would silently delete previously-admitted rows
      t.setProperties(Map(
        "graft.expect.small" -> "v < 10", "graft.expect.small.action" -> "drop"))
      t.compaction(graft.tables.CompactionOptions(
        fileSizeLimit = Some(1024L * 1024 * 1024)), _ => true)
      assert(t.toDF.count() == 40,
        "leveled compaction dropped admitted rows via a later expectation")
      // the gate still applies to NEW data
      t.upsert(Seq((1000L, 1), (1001L, 50)).toDF("id", "v"))
      assert(t.toDF.filter($"id" >= 1000L).count() == 1)
    }
  }

  test("graft.write.codec table property pins the data-file codec (r17)") {
    withTempPath { p =>
      import spark.implicits._
      val t = GraftTable.create(spark,
        (1 to 100).map(i => (i.toLong, s"v$i")).toDF("id", "v"), p,
        hashColumns = Seq("id"), bucketNum = 2,
        properties = Map(graft.write.TransactionalWrite.CodecProp -> "snappy"))
      assert(t.liveFiles.nonEmpty &&
        t.liveFiles.forall(_.file.path.endsWith(".snappy.parquet")),
        s"expected snappy files, got ${t.liveFiles.map(_.file.path)}")
      assert(t.toDF.count() == 100)
    }
  }

  test("ALTER COLUMN comment/nullability; rename is guarded") {
    withTempPath { p =>
      import spark.implicits._
      val t = GraftTable.create(spark, Seq((1L, "a")).toDF("id", "v"), p,
        hashColumns = Seq("id"), bucketNum = 1)
      t.updateColumnComment("v", "the value")
      assert(t.schema("v").getComment().contains("the value"))
      intercept[IllegalArgumentException](t.updateColumnNullability("id", true))
      intercept[IllegalArgumentException](t.updateColumnNullability("v", false))
    }
  }
}
