package graft

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.apache.spark.sql.sources._
import org.apache.spark.sql.types._

import graft.meta.{ColStats, FileStats}
import graft.read.StatsSkipping
import graft.tables.GraftTable

/** File-level min/max statistics: write-side collection from parquet
  * footers and metadata-level skipping on read. */
class StatsSkippingSuite extends SparkFixture {
  import spark.implicits._

  test("writes record per-file min/max bounds; decode round-trips") {
    withTempPath { path =>
      val t = GraftTable.create(spark,
        Seq((1L, 10.0, "alpha"), (2L, 20.0, "beta")).toDF("id", "v", "s"),
        path, hashColumns = Seq("id"), bucketNum = 1)
      val stats = FileStats.decode(t.liveFiles.head.file.stats)
      assert(stats.keySet == Set("id", "v", "s", FileStats.RowCountKey))
      assert(FileStats.rowCount(stats).contains(2L))
      assert(stats("id") == ColStats(Some("1"), Some("2"), hn = false, an = false))
      assert(stats("v") == ColStats(Some("10.0"), Some("20.0"), hn = false, an = false))
      assert(stats("s") == ColStats(Some("alpha"), Some("beta"), hn = false, an = false))
    }
  }

  test("stats come from the write tasks, not the driver fallback") {
    withTempPath { path =>
      val before = graft.write.FileStatsCollector.collectedFiles.get()
      val t = GraftTable.create(spark,
        (1L to 200L).map(i => (i, i * 1.5)).toDF("id", "v"),
        path, hashColumns = Seq("id"), bucketNum = 4)
      t.upsert(Seq((5L, 99.0)).toDF("id", "v"))
      val taskCollected =
        graft.write.FileStatsCollector.collectedFiles.get() - before
      val live = t.liveFiles
      assert(live.forall(_.file.stats.nonEmpty), "every file needs stats")
      assert(taskCollected == live.size.toLong,
        s"expected all ${live.size} files collected task-side, got $taskCollected")
    }
  }

  test("write-task retry: stats land once, row counts exact, no stale " +
    "first-attempt entries (fixture runs local[4,2] so tasks retry)") {
    withTempPath { path =>
      import spark.implicits._
      val before = graft.write.FileStatsCollector.collectedFiles.get()
      // single-stage write (non-PK, no range dirs: no exchange between the
      // source and FileFormatWriter) so the throw fails the WRITE task
      // itself — late in the partition, after the task opened its temp
      // file — then Spark's second attempt rewrites the partition in full.
      // Both attempts produce the same final file name, so even if a
      // zombie first attempt reached commitTask its entries would collide
      // into the committed attempt's keys instead of duplicating.
      val df = spark.range(0, 400, 1, 4).map { i =>
        val tc = org.apache.spark.TaskContext.get()
        if (tc != null && tc.attemptNumber() == 0 && i % 100 == 99)
          throw new RuntimeException("injected first-attempt failure")
        (i, i * 1.5, s"s$i")
      }.toDF("id", "v", "s")
      val t = GraftTable.create(spark, df, path)
      assert(t.toDF.count() == 400)
      val live = t.liveFiles
      assert(live.nonEmpty && live.forall(_.file.stats.nonEmpty),
        "every file needs stats despite the retried first attempts")
      val taskCollected =
        graft.write.FileStatsCollector.collectedFiles.get() - before
      assert(taskCollected == live.size.toLong,
        s"expected ${live.size} files collected task-side, got $taskCollected")
      // row counts exact: per-file footer counts must sum to the real total
      // (a stale 99-row first-attempt entry would break the sum)
      val counted = live.map(f =>
        FileStats.rowCount(FileStats.decode(f.file.stats)).getOrElse(-1L))
      assert(counted.forall(_ >= 0), s"row count missing: $counted")
      assert(counted.sum == 400L, s"per-file counts must sum exact: $counted")
      // min/max exact over the merged state
      val idStats = FileStats.decode(
        live.minBy(f => FileStats.decode(f.file.stats)("id").mn.get.toLong)
          .file.stats)("id")
      assert(idStats.mn.contains("0"))
    }
  }

  test("CONCURRENT writes both stay on the task-side stats path (each " +
    "write job carries its own stats tracker)") {
    withTempPath { pa =>
      withTempPath { pb =>
        import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
        val before = graft.write.FileStatsCollector.collectedFiles.get()
        val pool = Executors.newFixedThreadPool(2)
        val start = new CountDownLatch(1)
        val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
        def writer(p: String, base: Long): Runnable = () => {
          start.await()
          try {
            val t = GraftTable.create(spark,
              (base to base + 300L).map(i => (i, i * 1.5)).toDF("id", "v"),
              p, hashColumns = Seq("id"), bucketNum = 2)
            t.upsert(Seq((base, 9.9)).toDF("id", "v"))
          } catch { case e: Throwable => errs.add(e) }
        }
        pool.submit(writer(pa, 0L)); pool.submit(writer(pb, 10000L))
        start.countDown()
        pool.shutdown()
        assert(pool.awaitTermination(120, TimeUnit.SECONDS), "timeout")
        assert(errs.isEmpty, s"writer failed: ${errs.peek()}")
        val files = GraftTable.forPath(spark, pa).liveFiles ++
          GraftTable.forPath(spark, pb).liveFiles
        assert(files.forall(_.file.stats.nonEmpty), "stats missing")
        val collected =
          graft.write.FileStatsCollector.collectedFiles.get() - before
        assert(collected == files.size.toLong,
          s"expected all ${files.size} files collected task-side " +
            s"(no writer dropped to the driver fallback), got $collected")
      }
    }
  }

  test("nulls tracked: hasNull and allNull flags") {
    withTempPath { path =>
      val t = GraftTable.create(spark,
        Seq((1L, Some(5.0), None: Option[String]),
          (2L, None: Option[Double], None: Option[String]))
          .toDF("id", "v", "s"), path, hashColumns = Seq("id"), bucketNum = 1)
      val stats = FileStats.decode(t.liveFiles.head.file.stats)
      assert(stats("v") == ColStats(Some("5.0"), Some("5.0"), hn = true, an = false))
      assert(stats("s") == ColStats(None, None, hn = true, an = true))
    }
  }

  test("timestamp columns get bounds (INT64 micros encoding)") {
    withTempPath { path =>
      val df = Seq((1L, java.sql.Timestamp.valueOf("2024-01-01 00:00:00")),
        (2L, java.sql.Timestamp.valueOf("2024-06-01 12:30:00")))
        .toDF("id", "ts")
      val t = GraftTable.create(spark, df.coalesce(1), path)
      val stats = FileStats.decode(t.liveFiles.head.file.stats)
      assert(stats.contains("ts"),
        s"timestamp stats missing (INT96 write?): ${stats.keySet}")
      assert(stats("ts").mn.isDefined && stats("ts").mx.isDefined)
    }
  }

  test("mightMatch three-valued evaluation") {
    val stats = Map(
      "a" -> ColStats(Some("10"), Some("20"), hn = false, an = false),
      "s" -> ColStats(Some("banana"), Some("cherry"), hn = true, an = false),
      "n" -> ColStats(None, None, hn = true, an = true))
    val types = Map("a" -> LongType, "s" -> StringType, "n" -> LongType,
      "unknown" -> LongType).asInstanceOf[Map[String, DataType]]
    def m(f: Filter) = StatsSkipping.mightMatch(f, stats, types)

    assert(m(EqualTo("a", 15L)) && m(EqualTo("a", 10L)) && m(EqualTo("a", 20L)))
    assert(!m(EqualTo("a", 9L)) && !m(EqualTo("a", 21L)))
    assert(m(GreaterThan("a", 19L)) && !m(GreaterThan("a", 20L)))
    assert(m(GreaterThanOrEqual("a", 20L)) && !m(GreaterThanOrEqual("a", 21L)))
    assert(m(LessThan("a", 11L)) && !m(LessThan("a", 10L)))
    assert(m(LessThanOrEqual("a", 10L)) && !m(LessThanOrEqual("a", 9L)))
    assert(m(In("a", Array(1L, 15L))) && !m(In("a", Array(1L, 2L))))
    assert(!m(EqualTo("n", 5L)) && m(IsNull("n")) && !m(IsNotNull("n")))
    assert(m(IsNotNull("a")) && !m(IsNull("a")) && m(IsNull("s")))
    assert(m(EqualTo("unknown", 99L))) // no stats -> keep
    assert(m(And(EqualTo("a", 15L), IsNull("s"))))
    assert(!m(And(EqualTo("a", 15L), EqualTo("a", 25L))))
    assert(m(Or(EqualTo("a", 25L), EqualTo("a", 15L))))
    assert(!m(Or(EqualTo("a", 25L), EqualTo("a", 26L))))
    // string range [banana, cherry]
    assert(m(EqualTo("s", "candy")) && !m(EqualTo("s", "apple")) && !m(EqualTo("s", "date")))
    assert(m(StringStartsWith("s", "ban")) && m(StringStartsWith("s", "cher")))
    assert(!m(StringStartsWith("s", "app")) && !m(StringStartsWith("s", "dat")))
    // Not is unknown -> keep
    assert(m(Not(EqualTo("a", 15L))))
  }

  test("DSv2 scan skips files by predicate: partitions shrink, results exact") {
    withTempPath { path =>
      // non-PK table: two appends with disjoint id ranges -> 2 files
      val t = GraftTable.create(spark,
        (1L to 100L).map(i => (i, s"r$i")).toDF("id", "v").coalesce(1), path)
      t.append((101L to 200L).map(i => (i, s"r$i")).toDF("id", "v").coalesce(1))
      assert(t.liveFiles.size == 2)

      spark.conf.set("spark.sql.catalog.g_stats", "graft.catalog.GraftCatalogV2")
      graft.catalog.GraftCatalog.register(spark, "default.stats_t", path)
      val full = spark.sql("SELECT * FROM g_stats.default.stats_t")
      assert(full.rdd.getNumPartitions == 2)
      val pruned = spark.sql("SELECT * FROM g_stats.default.stats_t WHERE id > 150")
      assert(pruned.rdd.getNumPartitions == 1, "expected one file skipped")
      assert(pruned.count() == 50)
      // range fully outside both files
      val none = spark.sql("SELECT * FROM g_stats.default.stats_t WHERE id > 500")
      assert(none.count() == 0)

      // pruning effectiveness surfaces as DSv2 custom metrics in the UI
      pruned.collect()
      val scan = pruned.queryExecution.executedPlan.collectFirst {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
      }.getOrElse(fail("no BatchScanExec in plan"))
      assert(scan.metrics.contains("graftFilesPlanned"))
      assert(scan.metrics("graftFilesPlanned").value == 1L,
        s"planned = ${scan.metrics("graftFilesPlanned").value}")
      assert(scan.metrics("graftFilesSkipped").value == 1L,
        s"skipped = ${scan.metrics("graftFilesSkipped").value}")
    }
  }

  test("a PK lookup plans only its bucket's files; the other buckets' " +
    "files count as skipped and the readers open exactly the planned ones") {
    withTempPath { path =>
      val t = GraftTable.create(spark,
        (1L to 400L).map(i => (i, s"v$i")).toDF("id", "v"), path,
        hashColumns = Seq("id"), bucketNum = 4)
      t.upsert((1L to 400L by 3).map(i => (i, s"u$i")).toDF("id", "v"))
      t.upsert((2L to 400L by 5).map(i => (i, s"w$i")).toDF("id", "v"))
      val k = 77L // 77 = 2 + 15 * 5: last written by the second upsert
      val b = graft.write.TransactionalWrite.bucketOf(spark, t.schema,
        Seq("id" -> k), 4)
      val live = t.liveFiles
      val mine = live.count(_.file.bucketId == b).toLong
      assert(mine > 0 && mine < live.size, s"bucket $b holds $mine of ${live.size}")

      spark.conf.set("spark.sql.catalog.g_stats", "graft.catalog.GraftCatalogV2")
      graft.catalog.GraftCatalog.register(spark, "default.stats_pk", path)
      val q = spark.sql(s"SELECT * FROM g_stats.default.stats_pk WHERE id = $k")
      assert(q.collect().map(r => (r.getLong(0), r.getString(1))).toSeq ==
        Seq((k, s"w$k")))
      val scan = q.queryExecution.executedPlan.collectFirst {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
      }.getOrElse(fail("no BatchScanExec in plan"))
      def metric(n: String): Long = scan.metrics(n).value
      assert(metric("graftFilesPlanned") == mine,
        s"planned = ${metric("graftFilesPlanned")}, bucket $b has $mine files")
      assert(metric("graftFilesSkipped") == live.size - mine,
        s"skipped = ${metric("graftFilesSkipped")}")
      assert(metric("graftRunFilesOpened") == mine,
        s"opened = ${metric("graftRunFilesOpened")}")
      assert(scan.metrics.contains("graftReaderOpenMs"))
    }
  }

  test("MOR multi-run: value filters do NOT skip files, key filters do") {
    withTempPath { path =>
      val t = GraftTable.create(spark,
        (1L to 50L).map(i => (i, 1.0)).toDF("id", "v"), path,
        hashColumns = Seq("id"), bucketNum = 1)
      // delta run shifts v for ids 1-10: merged v differs from base file's v
      t.upsert((1L to 10L).map(i => (i, 100.0)).toDF("id", "v"))
      assert(t.liveFiles.size == 2)

      graft.catalog.GraftCatalog.register(spark, "default.stats_mor", path)
      spark.conf.set("spark.sql.catalog.g_stats", "graft.catalog.GraftCatalogV2")
      // value filter would exclude the base file ([1,1]) — but merged rows
      // for ids 1-10 are 100.0 and must still appear
      val hit = spark.sql("SELECT * FROM g_stats.default.stats_mor WHERE v > 50")
      assert(hit.count() == 10)
      // key filter outside both files' id range -> zero rows, exact
      assert(spark.sql(
        "SELECT * FROM g_stats.default.stats_mor WHERE id > 1000").count() == 0)
    }
  }

  test("cluster() sorts a non-PK table; range predicates then skip files") {
    withTempPath { path =>
      // shuffled ids -> every file initially spans the whole id range
      val df = (1L to 20000L).map(i => ((i * 7919L) % 20000L, s"v$i"))
        .toDF("id", "v").repartition(8)
      val t = GraftTable.create(spark, df, path)
      graft.catalog.GraftCatalog.register(spark, "default.clus_t", path)
      spark.conf.set("spark.sql.catalog.g_stats", "graft.catalog.GraftCatalogV2")
      def parts(sql: String) = spark.sql(sql).rdd.getNumPartitions
      val q = "SELECT * FROM g_stats.default.clus_t WHERE id < 1000"
      val before = parts(q)
      assert(before >= 8, "pre-clustering scan reads every file")

      t.cluster(Seq("id"), numFiles = 8)
      assert(spark.sql(q).count() == 1000)
      val after = parts(q)
      assert(after <= 2, s"clustered scan should skip most files, read $after")
      // clustering preserved the data exactly
      assert(spark.sql("SELECT * FROM g_stats.default.clus_t").count() == 20000)
      // PK tables refuse (sorted-run contract)
      val pk = GraftTable.create(spark,
        Seq((1L, "a")).toDF("id", "v"), path + "_pk",
        hashColumns = Seq("id"), bucketNum = 1)
      intercept[IllegalArgumentException](pk.cluster(Seq("v")))
    }
  }

  test("cluster(zorder): both dimensions of a 2-D box predicate skip files") {
    withTempPath { path =>
      // x and y are independent: lexicographic (x, y) clustering gives the
      // TRAILING column full-range bounds in every file, z-order bounds both
      val df = (0L until 40000L).map { i =>
        (((i * 7919L) % 200L), ((i * 104729L) % 200L).toDouble, s"v$i")
      }.toDF("x", "y", "v").repartition(8)
      val t = GraftTable.create(spark, df, path)
      graft.catalog.GraftCatalog.register(spark, "default.zord_t", path)
      spark.conf.set("spark.sql.catalog.g_stats", "graft.catalog.GraftCatalogV2")
      t.cluster(Seq("x", "y"), numFiles = 16, zorder = true)
      val n = t.liveFiles.size
      def parts(sql: String) = spark.sql(sql).rdd.getNumPartitions
      // y-only predicate: a lexicographic sort on (x, y) could skip nothing
      val yOnly = parts(
        "SELECT * FROM g_stats.default.zord_t WHERE y BETWEEN 0 AND 24")
      assert(yOnly * 2 < n, s"y-only predicate read $yOnly of $n files")
      // 2-D box: both dimensions compound
      val box = parts("SELECT * FROM g_stats.default.zord_t " +
        "WHERE x BETWEEN 0 AND 49 AND y BETWEEN 0 AND 49")
      assert(box * 2 < n, s"2-D box read $box of $n files")
      // clustering preserved the data exactly
      assert(spark.sql("SELECT * FROM g_stats.default.zord_t").count() == 40000)
      assert(spark.sql("SELECT * FROM g_stats.default.zord_t " +
        "WHERE y BETWEEN 0 AND 24").count() ==
        (0L until 40000L).count(i => (i * 104729L) % 200L <= 24L))
    }
  }

  test("runtime filtering: In() filters prune a clustered scan's files") {
    withTempPath { path =>
      val df = (1L to 20000L).map(i => ((i * 7919L) % 20000L, s"v$i"))
        .toDF("id", "v").repartition(8)
      val t = GraftTable.create(spark, df, path)
      t.cluster(Seq("id"), numFiles = 8)
      val scan = new graft.read.GraftScanBuilder(spark, t)
        .build().asInstanceOf[graft.read.GraftScan]
      val before = scan.planInputPartitions().length
      assert(before >= 8)
      // what Spark hands a SupportsRuntimeFiltering scan after the join's
      // build side materializes: the build keys as an In()
      scan.filter(Array[org.apache.spark.sql.sources.Filter](
        In("id", Array[Any](5L, 10L, 4000L))))
      val after = scan.planInputPartitions().length
      assert(after < before && after >= 1,
        s"runtime In should prune files: $before -> $after")
      // e2e: a selective dim join over the same table returns exact rows
      graft.catalog.GraftCatalog.register(spark, "default.rtf_t", path)
      spark.conf.set("spark.sql.catalog.g_stats", "graft.catalog.GraftCatalogV2")
      spark.createDataFrame(Seq((5L, "a"), (4000L, "b"))).toDF("k", "tag")
        .createOrReplaceTempView("rtf_dim")
      val j = spark.sql("SELECT f.id, f.v, d.tag FROM g_stats.default.rtf_t f " +
        "JOIN rtf_dim d ON f.id = d.k")
      assert(j.count() == 2)
    }
  }

  test("graft.bloom.columns writes parquet bloom filters; lookups stay exact") {
    withTempPath { path =>
      val df = (1L to 5000L).map(i => (i, s"v$i")).toDF("id", "v")
      val t = GraftTable.create(spark, df, path,
        hashColumns = Seq("id"), bucketNum = 2,
        properties = Map(
          graft.write.TransactionalWrite.BloomColumnsProp -> "id",
          graft.write.TransactionalWrite.BloomNdvProp -> "10000"))
      // the footer of every written file must carry a bloom for `id`
      val file = new org.apache.hadoop.fs.Path(t.liveFiles.head.file.path)
      val conf = spark.sessionState.newHadoopConf()
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(file, conf))
      try {
        val col = reader.getFooter.getBlocks.get(0).getColumns.asScala
          .find(_.getPath.toDotString == "id").get
        assert(col.getBloomFilterOffset > 0, "no bloom filter written for id")
        assert(reader.getBloomFilterDataReader(reader.getFooter.getBlocks.get(0))
          .readBloomFilter(col) != null)
      } finally reader.close()
      // lookups through the scan remain exact (bloom is pruning-only)
      assert(t.lookupByPk(Seq(42L)).count() == 1)
      assert(t.lookupByPk(Seq(999999L)).count() == 0)
    }
  }

  test("tiered DELETE/UPDATE rewrite only files that might match (tier 4)") {
    withTempPath { path =>
      val df = (1L to 20000L).map(i => ((i * 7919L) % 20000L, s"v$i"))
        .toDF("id", "v").repartition(8)
      val t = GraftTable.create(spark, df, path)
      t.cluster(Seq("id"), numFiles = 8)
      val before = t.liveFiles.map(_.file.path).toSet
      t.delete(col("id") < 100L)
      val after = t.liveFiles.map(_.file.path).toSet
      // only the file(s) whose id range reaches below 100 were replaced
      val untouched = before.intersect(after)
      assert(untouched.size >= before.size - 2,
        s"expected at most 2 files rewritten, kept ${untouched.size}/${before.size}")
      assert(t.toDF.count() == 20000 - 100)
      // update: same shape
      val before2 = t.liveFiles.map(_.file.path).toSet
      t.update(col("id") === 19999L, Map("v" -> lit("X")))
      val after2 = t.liveFiles.map(_.file.path).toSet
      assert(before2.intersect(after2).size >= before2.size - 2)
      assert(t.toDF.filter(col("v") === "X").count() == 1)
    }
  }

  test("DSv1 format(\"graft\") reads skip files on pushed filters") {
    withTempPath { path =>
      val t = GraftTable.create(spark,
        (1L to 100L).map(i => (i, s"r$i")).toDF("id", "v").coalesce(1), path)
      t.append((101L to 200L).map(i => (i, s"r$i")).toDF("id", "v").coalesce(1))
      val base = spark.read.format("graft").option("path", path).load()
      assert(base.filter(col("id") > 150).rdd.getNumPartitions == 1)
      assert(base.filter(col("id") > 150).count() == 50)
      assert(base.filter(col("id") > 500).count() == 0)
      assert(base.count() == 200)
    }
  }

  test("update/compaction rewrites refresh stats") {
    withTempPath { path =>
      val t = GraftTable.create(spark,
        (1L to 20L).map(i => (i, i.toDouble)).toDF("id", "v"), path,
        hashColumns = Seq("id"), bucketNum = 1)
      t.update(col("id") === 5L, Map("v" -> lit(999.0)))
      val stats = FileStats.decode(t.liveFiles.head.file.stats)
      assert(stats("v").mx.contains("999.0"))
      t.compaction()
      val cStats = FileStats.decode(t.liveFiles.head.file.stats)
      assert(cStats("v").mx.contains("999.0") && cStats("id").mn.contains("1"))
    }
  }
}
