package graft

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import org.apache.spark.sql.functions._
import graft.meta.{JdbcMetaStore, MetaStore}
import graft.tables.GraftTable

/** Optimistic-commit correctness under concurrency (SURVEY.md §7.5 hard
  * part: MetaRerunException retry path, TransactionCommit.scala:398-427). */
class ConcurrencySuite extends SparkFixture {
  import spark.implicits._

  /** Registers a concurrent-writer case once per metadata store. The body
    * gets `store()`, which hands each writer its store: on the file store
    * the one process-wide instance (two instances in one JVM cannot both
    * hold the table's OS file lock); on JDBC a new instance per call over
    * a Derby in-memory database of the case's own — separate connections,
    * as on distinct hosts. */
  private def onBothStores(fileName: String, jdbcName: String)(
      body: (() => MetaStore) => Unit): Unit = {
    test(fileName)(body(() => MetaStore.default))
    test(jdbcName) {
      val url = s"jdbc:derby:memory:conc${java.util.UUID.randomUUID().toString
        .replace("-", "")};create=true"
      body(() => new JdbcMetaStore(url))
    }
  }

  onBothStores("concurrent upserts all land (CAS retry), no lost updates",
    "jdbc: concurrent upserts all land, no lost updates") { store =>
    withTempPath { path =>
      val t = GraftTable.create(spark, Seq((0, 0)).toDF("id", "v"), path,
        hashColumns = Seq("id"), bucketNum = 2, store = store())
      val n = 6
      val pool = Executors.newFixedThreadPool(n)
      val start = new CountDownLatch(1)
      val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      (1 to n).foreach { i =>
        pool.submit(new Runnable {
          def run(): Unit = {
            start.await()
            try GraftTable.forPath(spark, path, store())
              .upsert(Seq((i, i * 10)).toDF("id", "v"))
            catch { case e: Throwable => errs.add(e) }
          }
        })
      }
      start.countDown()
      pool.shutdown()
      assert(pool.awaitTermination(120, TimeUnit.SECONDS))
      assert(errs.isEmpty, s"concurrent upserts failed: ${errs.peek()}")
      // every writer's row is present
      assertRows(t.toDF.select("id", "v"),
        (0 to n).map(i => s"[$i,${i * 10}]"))
      // version advanced once per committed upsert
      assert(t.partitions.head.version == n)
    }
  }

  test("concurrent filtered lookups and unfiltered scans on one session " +
    "each read with their own task readers") {
    withTempPath { wh =>
      spark.conf.set("spark.sql.catalog.graft_cc", "graft.catalog.GraftCatalogV2")
      spark.conf.set("spark.graft.warehouse", wh)
      spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_cc.cc")
      try {
        spark.sql("CREATE TABLE graft_cc.cc.t (id BIGINT, v STRING) " +
          "PARTITIONED BY (bucket(4, id))")
        spark.sql("INSERT INTO graft_cc.cc.t " +
          "SELECT id, concat('v', id) FROM range(0, 2000)")
        // several runs per bucket: every read merges, every lookup pushes
        // its own key predicate into the readers of the same table
        (1 to 4).foreach { i =>
          spark.sql(s"INSERT INTO graft_cc.cc.t SELECT id, concat('u$i-', id) " +
            s"FROM range($i, 2000, ${i + 2})")
        }
        val keys = (0L until 2000L by 37L).toIndexedSeq
        def lookup(k: Long): Seq[String] = spark.sql(
          s"SELECT v FROM graft_cc.cc.t WHERE id = $k").collect().map(_.getString(0)).toSeq
        def scan(): (Long, Long) = {
          val r = spark.sql("SELECT count(*), sum(length(v)) FROM graft_cc.cc.t").head
          (r.getLong(0), r.getLong(1))
        }
        // single-threaded answers first
        val expectLookup = keys.map(k => k -> lookup(k)).toMap
        val expectScan = scan()
        assert(expectScan._1 == 2000L && expectLookup.values.forall(_.size == 1))

        val pool = Executors.newFixedThreadPool(2)
        val start = new CountDownLatch(1)
        val errs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
        pool.submit(new Runnable {
          def run(): Unit = {
            start.await()
            try (0 until 20).foreach { round =>
              val k = keys((round * 7) % keys.size)
              val got = lookup(k)
              if (got != expectLookup(k))
                errs.add(s"lookup $k round $round: $got != ${expectLookup(k)}")
            } catch { case e: Throwable => errs.add(e.toString) }
          }
        })
        pool.submit(new Runnable {
          def run(): Unit = {
            start.await()
            try (0 until 20).foreach { round =>
              val got = scan()
              if (got != expectScan)
                errs.add(s"scan round $round: $got != $expectScan")
            } catch { case e: Throwable => errs.add(e.toString) }
          }
        })
        start.countDown()
        pool.shutdown()
        assert(pool.awaitTermination(300, TimeUnit.SECONDS))
        assert(errs.isEmpty, errs.toArray.mkString("\n"))
      } finally spark.sql("DROP TABLE IF EXISTS graft_cc.cc.t")
    }
  }

  onBothStores("concurrent clause-merges (copy-on-write) all land via CAS retry",
    "jdbc: concurrent clause-merges all land via CAS retry") { store =>
    withTempPath { path =>
      import graft.tables.{GraftMerge, MergeMatchedClause, MergeNotMatchedClause}
      val t = GraftTable.create(spark,
        (1 to 20).map(i => (i.toLong, 0.0)).toDF("id", "bal"), path,
        hashColumns = Seq("id"), bucketNum = 2, store = store())
      val n = 4
      val pool = Executors.newFixedThreadPool(n)
      val start = new CountDownLatch(1)
      val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      (1 to n).foreach { i =>
        pool.submit(new Runnable {
          def run(): Unit = {
            start.await()
            // each writer bumps a DISJOINT id range and inserts one new key,
            // so the merged end state is exact regardless of interleaving
            try GraftTable.forPath(spark, path, store()).mergeIntoClauses(
              Seq((i * 5L - 4, 1.0), (i * 5L - 3, 1.0), (100L + i, 7.0))
                .toDF("k", "amt"),
              Map("id" -> "k"),
              matched = Seq(MergeMatchedClause(None, Some(Map(
                "bal" -> (GraftMerge.target("bal") + GraftMerge.source("amt")))))),
              notMatched = Seq(MergeNotMatchedClause(None, Map(
                "id" -> GraftMerge.source("k"),
                "bal" -> GraftMerge.source("amt")))))
            catch { case e: Throwable => errs.add(e) }
          }
        })
      }
      start.countDown()
      pool.shutdown()
      assert(pool.awaitTermination(180, TimeUnit.SECONDS))
      assert(errs.isEmpty, s"concurrent merges failed: ${errs.peek()}")
      assert(t.toDF.count() == 20 + n)
      assert(t.toDF.filter(col("bal") === 1.0).count() == 2 * n)
      assert(t.toDF.filter(col("id") > 100).count() == n)
    }
  }

  onBothStores("compaction racing concurrent upserts never loses a delta",
    "jdbc: compaction racing upserts never loses a delta") { store =>
    withTempPath { path =>
      val t = GraftTable.create(spark,
        (0 until 100).map(i => (i.toLong, 0L)).toDF("id", "v"), path,
        hashColumns = Seq("id"), bucketNum = 2, store = store())
      val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val upsertTable = GraftTable.forPath(spark, path, store())
      val upserter = new Thread(() => {
        try (1 to 8).foreach { k =>
          upsertTable.upsert((0 until 100).map(i => (i.toLong, k.toLong)).toDF("id", "v"))
        } catch { case e: Throwable => errs.add(e) }
      })
      upserter.start()
      // compaction reads snapshot S and rewrites; any upsert landing after S
      // must force a CAS retry, never be swallowed by the rewrite commit
      try (1 to 4).foreach { _ => t.compaction(); Thread.sleep(10) }
      catch { case e: Throwable => errs.add(e) }
      upserter.join(120000)
      assert(errs.isEmpty, s"racing ops failed: ${errs.peek()}")
      val got = t.toDF.select("id", "v").as[(Long, Long)].collect().toMap
      assert(got == (0 until 100).map(i => i.toLong -> 8L).toMap,
        "last upsert's values must survive every compaction interleaving")
    }
  }

  test("two separate JVMs upsert one table concurrently (cross-process CAS)") {
    // the reference arbitrates multi-DRIVER writers through its PG catalog
    // (TransactionCommit.scala:398-427); the embedded FS store arbitrates
    // with an OS file lock + per-partition version CAS. This launches two
    // real child JVMs (own SparkSessions, own MetaStore instances) writing
    // the same table: every commit must land (losers rerun), none may be
    // lost or interleaved into a corrupt head.
    withTempPath { path =>
      val t = GraftTable.create(spark,
        Seq((0L, "init"), (42L, "init")).toDF("k", "v"), path,
        hashColumns = Seq("k"), bucketNum = 2)
      val javaBin = System.getProperty("java.home") + "/bin/java"
      val cp = System.getProperty("java.class.path")
      val opens = Seq(
        "java.base/java.lang", "java.base/java.lang.invoke",
        "java.base/java.lang.reflect", "java.base/java.io",
        "java.base/java.net", "java.base/java.nio",
        "java.base/java.util", "java.base/java.util.concurrent",
        "java.base/java.util.concurrent.atomic",
        "java.base/sun.nio.ch", "java.base/sun.nio.cs",
        "java.base/sun.security.action", "java.base/sun.util.calendar"
      ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))
      val nBatches = 3
      def launch(writer: Int): (Process, java.io.File) = {
        val log = java.io.File.createTempFile(s"graft-xproc-w$writer-", ".log")
        val cmd = Seq(javaBin) ++ opens ++ Seq(
          "-Xmx1500m", "-Dspark.ui.enabled=false", "-cp", cp,
          "graft.tools.ConcurrentWriterProbe", path, writer.toString,
          nBatches.toString)
        val pb = new ProcessBuilder(cmd: _*)
        pb.redirectErrorStream(true)
        pb.redirectOutput(log)
        (pb.start(), log)
      }
      val (p1, l1) = launch(1)
      val (p2, l2) = launch(2)
      def finish(p: Process, log: java.io.File, tag: String): Unit = {
        assert(p.waitFor(300, TimeUnit.SECONDS), s"writer $tag timed out")
        assert(p.exitValue() == 0, s"writer $tag failed:\n" +
          new String(java.nio.file.Files.readAllBytes(log.toPath)).takeRight(4000))
      }
      finish(p1, l1, "1"); finish(p2, l2, "2")
      val got = t.toDF.select("k", "v").as[(Long, String)].collect().toMap
      // every disjoint key landed with its writer's LAST batch value
      (1 to 2).foreach { w =>
        (1 to nBatches).foreach { i =>
          (0 until 10).foreach { j =>
            val k = w * 100000L + i * 100L + j
            assert(got.get(k).contains(s"w$w-b$i"), s"lost upsert: key $k -> ${got.get(k)}")
          }
        }
      }
      // the contended key holds exactly one of the two final-batch values
      assert(Set(s"w1-b$nBatches", s"w2-b$nBatches").contains(got(42L)),
        s"contended key ended at ${got(42L)}")
      assert(got(0L) == "init")
      // head lineage: 1 create + 6 upsert commits, versions strictly increasing
      assert(t.history.size == 1 + 2 * nBatches,
        s"expected 7 commits, history=${t.history}")
    }
  }

  test("DDL: addColumn + setProperties visible to readers") {
    withTempPath { path =>
      val t = GraftTable.create(spark, Seq((1, "a")).toDF("id", "v"), path,
        hashColumns = Seq("id"), bucketNum = 1)
      t.addColumn("score", org.apache.spark.sql.types.IntegerType)
      assertRows(t.toDF, Seq("[1,a,null]"))
      t.upsert(Seq((2, "b", 9)).toDF("id", "v", "score"))
      assertRows(t.toDF, Seq("[1,a,null]", "[2,b,9]"))
      t.setProperties(Map("graft.custom" -> "x"))
      assert(t.info.properties("graft.custom") == "x")
      t.unsetProperty("graft.custom")
      assert(!t.info.properties.contains("graft.custom"))
    }
  }
}
