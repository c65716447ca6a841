package graft

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}

import org.apache.spark.sql.functions._

import graft.meta._
import graft.tables.GraftTable

/** The JDBC catalog (multi-host arbitration, reference: PostgreSQL
  * `DBManager.commitData`) — exercised on Derby in-memory, with semantic
  * parity against [[FileMetaStore]] asserted on an identical op script. */
class JdbcMetaStoreSuite extends SparkFixture {
  import spark.implicits._

  private def freshStore(db: String): JdbcMetaStore =
    new JdbcMetaStore(s"jdbc:derby:memory:$db;create=true")

  private def ti(path: String) = TableInfo(
    tableId = java.util.UUID.randomUUID().toString, tablePath = path,
    schemaJson = """{"type":"struct","fields":[]}""",
    rangeColumns = Nil, hashColumns = Seq("id"), bucketNum = 2,
    properties = Map("k" -> "v"))

  private def commitOf(desc: String, op: String, n: Int) = DataCommitInfo(
    MetaStore.newCommitId(), desc,
    Seq(DataFileInfo(s"/f/$desc-$n.parquet", "add", 100L, 0)), op, 0L)

  /** Run the same mutation script against both stores; heads, lineages and
    * retained sets must agree on everything except timestamps. */
  test("file and jdbc stores agree on an identical op script") {
    withTempPath { path =>
      val stores = Seq(new FileMetaStore, freshStore("parity"))
      def strip(pi: PartitionInfo) = (pi.partitionDesc, pi.version,
        pi.snapshot.size, pi.commitOp)
      val results = stores.map { s =>
        s.createTable(ti(path))
        // v0..v2 on p=a (append, merge, merge), v0 on p=b
        var expected = Map("a" -> -1, "b" -> -1)
        s.commit(path, Seq(commitOf("a", CommitOp.Append, 0),
          commitOf("b", CommitOp.Append, 0)), expected)
        expected = Map("a" -> 0)
        s.commit(path, Seq(commitOf("a", CommitOp.Merge, 1)), expected)
        // one atomic call carrying TWO commits for the same partition
        s.commit(path, Seq(commitOf("a", CommitOp.Merge, 2),
          commitOf("a", CommitOp.Merge, 3)), Map("a" -> 1))
        val tsMid = s.maxCommitTs(path) // a at v3, the first b at v0
        // compaction collapses the snapshot
        s.commit(path, Seq(commitOf("a", CommitOp.Compaction, 4)), Map("a" -> 3))
        // rollback to v1 (re-appends v1; head = v1 by log order)
        s.rollbackPartition(path, "a", 1)
        // drop b, then recreate it from scratch
        s.dropPartition(path, "b")
        s.commit(path, Seq(commitOf("b", CommitOp.Append, 9)), Map("b" -> -1))
        val heads = s.listPartitionHeads(path).map(strip)
        val versA = s.partitionVersions(path, "a").map(strip)
        val versB = s.partitionVersions(path, "b").map(strip)
        val retainAll = s.retainedVersions(path, 0L).map(strip).sorted
        // the same conflict, message and flags on both stores: a stale
        // version, then a bucket conflict through commit and through a
        // one-entry commitMany (table bucketNum is 2)
        def rerun(body: => Unit) = {
          val e = intercept[MetaRerunException](body)
          (e.getMessage, e.bucketConflict, e.conflictedTable)
        }
        val conflicts = Seq(
          rerun(s.commit(path, Seq(commitOf("a", CommitOp.Merge, 5)), Map("a" -> 0))),
          rerun(s.commit(path, Seq(commitOf("a", CommitOp.Merge, 6)), Map("a" -> 1),
            expectedBucketNum = Some(4))),
          rerun(s.commitMany(Seq((path, Seq(commitOf("a", CommitOp.Merge, 7)),
            Map("a" -> 1))), Map(path -> 4))))
        // an Update folded after a Merge in ONE call replaces the snapshot
        s.commit(path, Seq(commitOf("a", CommitOp.Merge, 8),
          commitOf("a", CommitOp.Update, 9)), Map("a" -> 1))
        val folded = s.partitionHead(path, "a").map(strip)
        // a restore over 3 partitions (a and b repointed, c created after
        // the boundary is tombstoned), then a bulk drop with a repeated
        // desc and a never-created one
        s.commit(path, Seq(commitOf("c", CommitOp.Append, 0)), Map.empty)
        val restored = s.restoreTable(path, tsMid).map(strip)
        s.dropPartitions(path, Seq("b", "z", "b"))
        val log = s.rawVersionLines(path).map(strip)
        val tombstoned = s.droppedBetween(path, 0L, Long.MaxValue).map(_._1).distinct.sorted
        val headsAfter = s.listPartitionHeads(path).map(strip)
        val dropped = s.compactVersionLog(path, Long.MaxValue)
        val afterCompact = s.listPartitionHeads(path).map(strip)
        val versAfterA = s.partitionVersions(path, "a").map(strip)
        s.dropTable(path)
        ((heads, versA, versB, retainAll), (conflicts, folded, restored, log,
          tombstoned, headsAfter), (dropped, afterCompact, versAfterA))
      }
      assert(results(0) == results(1),
        s"\nfile: ${results(0)}\njdbc: ${results(1)}")
      // the parity script must also exercise the lineage rules themselves
      val ((heads, versA, _, _),
        (conflicts, folded, restored, _, tombstoned, headsAfter), _) = results(0)
      assert(heads.find(_._1 == "a").get._2 == 1) // rollback repointed head
      assert(versA.map(_._2) == Seq(0, 1)) // history cut to the head lineage
      assert(conflicts == Seq(
        ("partition 'a' moved: expected v0, found v1", false, None)) ++
        Seq.fill(2)(("table bucketNum moved: files written under 4, table now " +
          "at 2 (concurrent re-bucket) — rerun the write", true, None)))
      assert(folded == Some(("a", 3, 1, CommitOp.Update)))
      assert(restored.map(r => (r._1, r._2)) == Seq(("a", 4), ("b", 1), ("c", -1)))
      assert(tombstoned == Seq("b", "c", "z"))
      assert(headsAfter.map(_._1) == Seq("a"))
    }
  }

  /** A second store instance's rollback and drop must stamp past every
    * persisted stamp, not just its own clock: a closed re-bucket event
    * whose boundary is 60 s ahead makes store `a`'s next commit land past
    * it (on both stores), so a `b` stamping from its own clock alone would
    * land 60 s "before" that commit — `maxCommitTs` would not advance and
    * the strict streaming gate (`droppedBetween`) would miss the drop. */
  test("second instance stamps drops past persisted commits") {
    withTempPath { path =>
      Seq[() => MetaStore](() => new FileMetaStore, () => freshStore("stamps"))
        .foreach { mk =>
          val (a, b) = (mk(), mk())
          a.createTable(ti(path))
          a.commit(path, Seq(commitOf("p", CommitOp.Append, 0)), Map.empty)
          val ahead = System.currentTimeMillis() + 60000L
          a.updateInfo(path)(t => t.copy(properties =
            RebucketLog.appendClosed(t.properties, ahead, ahead, 2, 2)))
          a.commit(path, Seq(commitOf("p", CommitOp.Merge, 1)), Map("p" -> 0))
          assert(a.rawVersionLines(path).last.timestamp > ahead,
            s"${a.getClass.getSimpleName}: a commit after a recorded boundary " +
              "must be stamped past it")
          val before = b.maxCommitTs(path)
          b.rollbackPartition(path, "p", 0)
          b.dropPartition(path, "p")
          val ts = b.rawVersionLines(path).map(_.timestamp)
          assert(ts.size == 4 && ts.zip(ts.tail).forall { case (x, y) => x < y },
            s"${b.getClass.getSimpleName}: log timestamps must strictly increase in log order: $ts")
          assert(b.droppedBetween(path, before, Long.MaxValue).map(_._1) == Seq("p"),
            s"${b.getClass.getSimpleName}: the drop must be visible past the previous maxCommitTs")
          assert(b.maxCommitTs(path) > before)
          b.dropTable(path)
        }
    }
  }

  test("a store constructed beside an open commit transaction does not " +
    "wait on its locks") {
    withTempPath { path =>
      val url = "jdbc:derby:memory:ddlwait;create=true"
      val s = new JdbcMetaStore(url)
      s.createTable(ti(path))
      s.commit(path, Seq(commitOf("p", CommitOp.Append, 0)), Map.empty)
      // another connection holds a commit mid-flight: the table's
      // serializer row locked and uncommitted log and head rows
      val c = java.sql.DriverManager.getConnection(url)
      val pool = Executors.newSingleThreadExecutor()
      try {
        c.setAutoCommit(false)
        val st = c.createStatement()
        st.executeUpdate("UPDATE graft_seq SET next_seq = next_seq + 0")
        st.executeUpdate("INSERT INTO graft_partition_log VALUES " +
          "('held', 1, 'p', 0, 'Merge', 1, '[]')")
        st.executeUpdate("INSERT INTO graft_partition_head VALUES ('held', 'p', 0, 1)")
        val built = pool.submit(() => new JdbcMetaStore(url))
        try built.get(10, TimeUnit.SECONDS)
        catch {
          case _: java.util.concurrent.TimeoutException =>
            fail("the constructor waited > 10 s on an open commit transaction")
        }
      } finally {
        c.rollback(); c.close()
        pool.shutdown()
        pool.awaitTermination(120, TimeUnit.SECONDS)
      }
      assert(s.partitionHead(path, "p").map(_.version) == Some(0))
      s.dropTable(path)
    }
  }

  test("one atomic commit across many partitions (batched writes)") {
    withTempPath { path =>
      val s = freshStore("wide")
      s.createTable(ti(path))
      val n = 300
      // a wide streaming micro-batch: one commit touching n partitions
      s.commit(path, (0 until n).map(i => commitOf(s"p$i", CommitOp.Append, 0)),
        Map.empty)
      val heads = s.listPartitionHeads(path)
      assert(heads.size == n && heads.forall(_.version == 0))
      // drop one, then re-create it INSIDE a wide batch: its head row exists
      // at version -1, so the batched upsert must UPDATE, not INSERT
      s.dropPartition(path, "p7")
      s.commit(path,
        Seq(commitOf("p7", CommitOp.Append, 1), commitOf("p8", CommitOp.Merge, 1),
          commitOf("p8", CommitOp.Merge, 2), commitOf("pNew", CommitOp.Append, 0)),
        Map("p7" -> -1, "p8" -> 0))
      assert(s.partitionHead(path, "p7").get.version == 0)
      val h8 = s.partitionHead(path, "p8").get
      assert(h8.version == 2 && h8.snapshot.size == 3) // folded within the call
      assert(s.partitionHead(path, "pNew").get.version == 0)
      assert(s.listPartitionHeads(path).size == n + 1)
      s.dropTable(path)
    }
  }

  test("maxCommitTs: indexed MAX matches head-max while all partitions " +
    "live, and stays MONOTONIC across drops (offsets never rewind)") {
    withTempPath { path =>
      val s = freshStore("maxts")
      s.createTable(ti(path))
      def headMax: Long = {
        val hs = s.listPartitionHeads(path)
        if (hs.isEmpty) 0L else hs.map(_.timestamp).max
      }
      assert(s.maxCommitTs(path) == 0L && headMax == 0L)
      s.commit(path, Seq(commitOf("a", CommitOp.Append, 0)), Map.empty)
      assert(s.maxCommitTs(path) == headMax && s.maxCommitTs(path) > 0L)
      s.commit(path, Seq(commitOf("b", CommitOp.Append, 0)), Map.empty)
      s.commit(path, Seq(commitOf("a", CommitOp.Merge, 1)), Map("a" -> 0))
      assert(s.maxCommitTs(path) == headMax)
      // dropping the newest-committed partition must NOT rewind the max:
      // the drop is itself a newer log line (head-max would go backward,
      // and a streaming offset seeded from it would regress)
      val before = s.maxCommitTs(path)
      s.dropPartition(path, "a")
      assert(s.maxCommitTs(path) >= before,
        "maxCommitTs must be monotonic across drops")
      assert(headMax < s.maxCommitTs(path),
        "live-head max rewinds on drop — exactly why maxCommitTs is log-max")
      s.dropTable(path)
    }
  }

  test("partitionsChangedBetween: indexed range query returns exactly the " +
    "live partitions with commits in-window") {
    withTempPath { path =>
      val s = freshStore("chg")
      s.createTable(ti(path))
      s.commit(path, Seq(commitOf("a", CommitOp.Append, 0),
        commitOf("b", CommitOp.Append, 0)), Map.empty)
      val ts1 = s.maxCommitTs(path)
      s.commit(path, Seq(commitOf("b", CommitOp.Merge, 1)), Map("b" -> 0))
      s.commit(path, Seq(commitOf("c", CommitOp.Append, 0)), Map.empty)
      val ts2 = s.maxCommitTs(path)
      assert(s.partitionsChangedBetween(path, 0L, ts2) == Seq("a", "b", "c"))
      assert(s.partitionsChangedBetween(path, ts1, ts2) == Seq("b", "c"),
        "only partitions with in-window commits")
      assert(s.partitionsChangedBetween(path, ts2, ts2 + 10) == Nil)
      // a dropped partition leaves the changed set even with in-window lines
      s.dropPartition(path, "b")
      assert(s.partitionsChangedBetween(path, ts1, ts2) == Seq("c"))
      s.dropTable(path)
    }
  }

  test("commitTimestamps and bulk dropPartitions agree across stores") {
    withTempPath { path =>
      val results = Seq(new FileMetaStore, freshStore("bulk")).map { s =>
        s.createTable(ti(path))
        s.commit(path, Seq(commitOf("a", CommitOp.Append, 0),
          commitOf("b", CommitOp.Append, 0),
          commitOf("c", CommitOp.Append, 0)), Map.empty)
        s.commit(path, Seq(commitOf("b", CommitOp.Merge, 1)), Map("b" -> 0))
        // distinct ascending table-level boundaries: create is meta-only,
        // so exactly the two data commits
        val ts = s.commitTimestamps(path)
        assert(ts.size == 2 && ts == ts.sorted && ts.distinct == ts, s"ts=$ts")
        // one sweep, ONE commit: both drops share a timestamp and the
        // strict-gate probe sees both tombstones
        s.dropPartitions(path, Seq("a", "c"))
        val dropped = s.droppedBetween(path, ts.last, Long.MaxValue)
        assert(dropped.map(_._1).sorted == Seq("a", "c"), s"dropped=$dropped")
        assert(dropped.map(_._2).distinct.size == 1, "drops must share one ts")
        assert(s.commitTimestamps(path).size == 3)
        val heads = s.listPartitionHeads(path).map(_.partitionDesc)
        s.dropTable(path)
        (heads, dropped.map(_._1).sorted)
      }
      assert(results(0) == results(1), "file/jdbc bulk-drop parity")
      assert(results(0)._1 == Seq("b"))
    }
  }

  test("stale expectedVersions raises MetaRerunException; retry lands") {
    withTempPath { path =>
      val s = freshStore("cas")
      s.createTable(ti(path))
      s.commit(path, Seq(commitOf("a", CommitOp.Append, 0)), Map("a" -> -1))
      intercept[MetaRerunException] {
        s.commit(path, Seq(commitOf("a", CommitOp.Merge, 1)), Map("a" -> -1))
      }
      s.commit(path, Seq(commitOf("a", CommitOp.Merge, 1)), Map("a" -> 0))
      assert(s.partitionHead(path, "a").get.version == 1)
      s.dropTable(path)
    }
  }

  test("graft table end-to-end on the jdbc catalog") {
    withTempPath { path =>
      val s = freshStore("e2e")
      val t = GraftTable.create(spark, Seq((1L, "a"), (2L, "b")).toDF("id", "v"),
        path, hashColumns = Seq("id"), bucketNum = 2, store = s)
      t.upsert(Seq((2L, "b2"), (3L, "c")).toDF("id", "v"))
      t.upsert(Seq((1L, "a2")).toDF("id", "v"))
      assertRows(t.toDF.select("id", "v"), Seq("[1,a2]", "[2,b2]", "[3,c]"))
      // time travel across jdbc-allocated (monotonic) timestamps
      val root = t.partitions.head
      assert(root.version == 2) // after 2 upserts
      val ts0 = s.partitionVersions(path, root.partitionDesc)
        .find(_.version == 0).get.timestamp
      assertRows(t.snapshotAt(ts0).select("id", "v"), Seq("[1,a]", "[2,b]"))
      t.delete(col("id") === 2L)
      t.compaction()
      assertRows(t.toDF.select("id", "v"), Seq("[1,a2]", "[3,c]"))
      // exactly-once bookkeeping
      assert(s.getMaxBatchId(path, "q1") == -1L)
      s.recordBatchId(path, "q1", 5L)
      s.recordBatchId(path, "q1", 3L) // lower id never regresses the max
      assert(s.getMaxBatchId(path, "q1") == 5L)
      // double-create guarded like the file store
      intercept[IllegalArgumentException] {
        GraftTable.create(spark, Seq((9L, "x")).toDF("id", "v"), path,
          hashColumns = Seq("id"), bucketNum = 2, store = s)
      }
      s.dropTable(path)
    }
  }

  test("updateProperties RMW: racing writers both land") {
    withTempPath { path =>
      val s = freshStore("props")
      s.createTable(ti(path))
      val pool = Executors.newFixedThreadPool(2)
      val start = new CountDownLatch(1)
      (1 to 2).foreach { i =>
        pool.submit(new Runnable {
          def run(): Unit = {
            start.await()
            (1 to 20).foreach { j =>
              s.updateProperties(path)(p => p + (s"w$i-$j" -> "x"))
            }
          }
        })
      }
      start.countDown()
      pool.shutdown()
      assert(pool.awaitTermination(60, TimeUnit.SECONDS))
      val props = s.getTableInfo(path).get.properties
      (1 to 2).foreach(i => (1 to 20).foreach(j =>
        assert(props.contains(s"w$i-$j"), s"lost update w$i-$j")))
      s.dropTable(path)
    }
  }

  test("table identity is lexical and host-independent (URIs survive)") {
    val s = freshStore("ident")
    // URI-style path: getCanonicalPath would have mangled s3://b/t into a
    // local filesystem path; the lexical key must keep scheme+authority and
    // normalize only the path segments.
    s.createTable(ti("s3://bucket/tables/t1"))
    assert(s.getTableInfo("s3://bucket/tables/t1").isDefined)
    assert(s.getTableInfo("S3://bucket/tables//./t1/").isDefined,
      "scheme case, //, ., and trailing / must normalize to the same key")
    assert(s.getTableInfo("s3://bucket/tables/x/../t1").isDefined)
    assert(s.getTableInfo("s3://bucket/tables/t2").isEmpty)
    // Local absolute paths: lexical-only normalization — a symlinked alias
    // is a DIFFERENT key by design (documented: hosts address tables by
    // byte-identical absolute path or URI).
    s.createTable(ti("/data/warehouse/t2"))
    assert(s.getTableInfo("/data//warehouse/./t2/").isDefined)
    assert(s.getTableInfo("/data/warehouse/sub/../t2").isDefined)
    s.dropTable("s3://bucket/tables/t1")
    s.dropTable("/data/warehouse/t2")
  }

  test("second connection bootstraps DDL idempotently") {
    // Two stores against the same database: the second constructor must
    // run every CREATE (guarded by SQLState) rather than skipping DDL when
    // graft_table_info already exists — the mid-DDL bootstrap race.
    val a = freshStore("boot")
    val b = new JdbcMetaStore("jdbc:derby:memory:boot") // same db, no create
    b.createTable(ti("/boot/t"))
    assert(a.getTableInfo("/boot/t").isDefined)
    b.dropTable("/boot/t")
  }

  test("empty-table re-bucket CAS closes both interleaves on both stores") {
    // ADVICE r13: the empty-table re-bucket was a best-effort TOCTOU. The
    // protocol now serializes both halves under the store's per-table
    // critical section: rebucketIfNoPartitions refuses once a write landed,
    // and commit(expectedBucketNum) reruns a write whose files were
    // bucketed under a count a re-bucket has since changed.
    withTempPath { path =>
      Seq(new FileMetaStore, freshStore("rebucket")).foreach { s =>
        s.createTable(ti(path)) // bucketNum = 2
        // interleave A: re-bucket lands first -> the racing first write
        // (files bucketed under the OLD count) must rerun, landing nothing
        assert(s.rebucketIfNoPartitions(path, 8))
        assert(s.getTableInfo(path).get.bucketNum == 8)
        val stale = intercept[MetaRerunException] {
          s.commit(path, Seq(commitOf("a", CommitOp.Append, 0)),
            Map("a" -> -1), expectedBucketNum = Some(2))
        }
        assert(stale.bucketConflict, // typed discriminator, not message text
          s"bucket-CAS conflicts must carry bucketConflict=true: $stale")
        assert(s.listPartitionHeads(path).isEmpty,
          "a bucket-stale commit must not land partitions")
        // the rerun re-reads bucketNum=8 and commits cleanly
        s.commit(path, Seq(commitOf("a", CommitOp.Append, 1)),
          Map("a" -> -1), expectedBucketNum = Some(8))
        assert(s.listPartitionHeads(path).map(_.partitionDesc) == Seq("a"))
        // interleave B: a write landed first -> the metadata-only re-bucket
        // refuses (caller retries as a rewriting re-bucket)
        assert(!s.rebucketIfNoPartitions(path, 16))
        assert(s.getTableInfo(path).get.bucketNum == 8)
        s.dropTable(path)
      }
    }
  }

  /** r15 (VERDICT item 6): cross-process arbitration is environment-
    * blocked (embedded Derby single-boots a directory), but a single-JVM
    * MANY-THREAD storm drives the same lock-timeout/deadlock ->
    * MetaRerunException -> retry machinery far harder than pairwise pins:
    * 16 threads x ~13 ops of mixed version-CAS commits (each carrying the
    * bucket-CAS guard), whole-table restores (with the r15 atomic
    * info-flip), and info RMWs, all on ONE Derby store. Linearizability is
    * asserted structurally: every acknowledged commit appears in the log
    * exactly once, per-partition versions are gap-free in log order, each
    * head is its lineage's last line, and every referenced commit id
    * resolves. */
  test("commit storm: 16 threads of mixed commit/restore/updateInfo " +
    "converge to a linearizable log (seeded)") {
    // phase 1: commits + info RMWs only -> STRONG check (every acknowledged
    // commit is in the log); phase 2 adds whole-table restores -> the
    // structural checks (a restore legitimately cuts later commits out of
    // the current lineage, so ack-subset no longer holds by design).
    // BOTH stores: the JDBC store's lock-timeout/deadlock -> rerun paths
    // AND the file store's mutex+FileLock critical sections must converge
    // to the same linearizable log shape
    storm("jdbc", db => freshStore(db), withRestores = false)
    storm("jdbc", db => freshStore(db), withRestores = true)
    storm("file", _ => new FileMetaStore, withRestores = false)
    storm("file", _ => new FileMetaStore, withRestores = true)
  }

  private def storm(kind: String, mk: String => MetaStore,
      withRestores: Boolean): Unit = {
    withTempPath { path =>
      val s = mk(s"storm$kind$withRestores")
      s.createTable(ti(path))
      val nThreads = 16
      val opsPerThread = 13 // ~208 ops total
      val descs = Vector("p0", "p1", "p2", "p3")
      val acked = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
      val reruns = new java.util.concurrent.atomic.AtomicInteger
      val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val latch = new CountDownLatch(1)
      val pool = Executors.newFixedThreadPool(nThreads)
      (0 until nThreads).foreach { tid =>
        pool.submit(new Runnable { def run(): Unit = {
          val rnd = new scala.util.Random(9000 + tid) // seeded per thread
          latch.await()
          try {
            (0 until opsPerThread).foreach { j =>
              var done = false
              var attempts = 0
              while (!done) {
                attempts += 1
                require(attempts < 500, s"thread $tid op $j did not converge")
                try {
                  rnd.nextInt(12) match {
                    case 11 if withRestores => // restore + atomic info flip
                      val ts = math.max(0L, s.maxCommitTs(path) - rnd.nextInt(20))
                      s.restoreTable(path, ts, infoUpdate = Some(t =>
                        t.copy(properties =
                          t.properties + ("storm.restore" -> s"$tid-$j"))))
                      done = true
                    case 11 =>
                      s.updateProperties(path)(_ + ("storm.p" -> s"$tid-$j"))
                      done = true
                    case 10 => // info RMW racing commits' bucket-CAS reads
                      s.updateInfo(path)(t => t.copy(properties =
                        t.properties + ("storm.info" -> s"$tid-$j")))
                      done = true
                    case _ => // version-CAS commit with the bucket guard
                      val d = descs(rnd.nextInt(descs.size))
                      val cur = s.partitionHead(path, d)
                        .map(_.version).getOrElse(-1)
                      val bn = s.getTableInfo(path).get.bucketNum
                      val c = commitOf(d, CommitOp.Merge, tid * 1000 + j)
                      s.commit(path, Seq(c), Map(d -> cur), Some(bn))
                      acked.add((d, c.commitId))
                      done = true
                  }
                } catch {
                  case _: MetaRerunException => reruns.incrementAndGet()
                }
              }
            }
          } catch { case t: Throwable => failures.add(t) }
        }})
      }
      latch.countDown()
      pool.shutdown()
      assert(pool.awaitTermination(300, TimeUnit.SECONDS), "storm timed out")
      assert(failures.isEmpty,
        failures.toArray.map(_.toString).mkString("\n"))
      println(s"[storm $kind restores=$withRestores] " +
        s"${nThreads * opsPerThread} ops acknowledged, " +
        s"${reruns.get()} CAS/contention reruns")
      // ---- structural linearizability of the resulting log ----
      import scala.jdk.CollectionConverters._
      val ackedByDesc = acked.asScala.toSeq.groupBy(_._1)
        .view.mapValues(_.map(_._2).toSet).toMap
      descs.foreach { d =>
        val lineage = s.partitionVersions(path, d)
        if (lineage.nonEmpty) {
          // every acknowledged commit id appears in the log exactly once
          // as a NEW snapshot entry (restores re-reference, never re-add)
          val newIds = lineage.sortBy(_.version).foldLeft(
            (Set.empty[String], Seq.empty[String])) { case ((seen, out), pi) =>
            val fresh = pi.snapshot.filterNot(seen)
            (seen ++ fresh, out ++ fresh)
          }._2
          val ackIds = ackedByDesc.getOrElse(d, Set.empty)
          if (!withRestores)
            assert(ackIds.subsetOf(newIds.toSet),
              s"$d: acknowledged commits missing from the log: " +
                s"${(ackIds -- newIds.toSet).take(3)}")
          assert(newIds.distinct.size == newIds.size,
            s"$d: a commit id entered the log twice")
          // versions are the CAS tokens: the set of versions acknowledged
          // writers bumped through must be gap-free up to the maximum
          val versions = lineage.map(_.version)
          assert(versions.toSet == (0 to versions.max).toSet,
            s"$d: version gaps in $versions")
          // the head is the lineage's last line (log order = commit order)
          val head = s.partitionHead(path, d).get
          assert(head.version == lineage.last.version &&
            head.snapshot == lineage.last.snapshot,
            s"$d: head diverged from the log tail")
          // every referenced commit id resolves to stored commit JSON
          val refd = lineage.flatMap(_.snapshot).distinct
          val got = s.getCommits(path, refd)
          assert(refd.forall(got.contains), s"$d: dangling commit reference")
        }
      }
      s.dropTable(path)
    }
  }
}
