package graft

import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}

import graft.tables.{CompactionOptions, GraftTable}

/** r16 (VERDICT item 6): the cursor-split read racing the re-bucket
  * marker LIFECYCLE — writers upsert while a re-bucketer repeatedly flips
  * the bucket count (open marker appears, rewrite publishes, marker
  * closes), and reader threads continuously plan full snapshots AND
  * full-history incremental reads (the straddling windows plan one scan
  * task per final bucket or the cross fallback depending on where the
  * marker is when the plan lands). Invariants asserted on EVERY read:
  *
  *  - no duplicate primary keys (the bug class every mapping gate guards);
  *  - atomic cut: each writer's batch is one commit over one range
  *    partition, so a snapshot shows ALL of a writer's keys at the same
  *    batch number;
  *  - no loss / monotonic reads: heads only advance, so the batch number
  *    a reader observes per writer never decreases across its own reads.
  *
  * 3 seeds, every interleaving decided by the scheduler. */
class ReadStormSuite extends SparkFixture {
  import spark.implicits._

  private val keysPerWriter = 40

  test("split/cross readers race re-bucket flips: no duplicates, atomic " +
    "cuts, monotonic no-loss reads (3 seeds)") {
    for (seed <- Seq(11, 22, 33)) {
      withTempPath { path =>
        val nWriters = 2
        val batches = 5
        val t0 = GraftTable.create(spark,
          (0 until nWriters).flatMap(w => (0 until keysPerWriter).map(k =>
            (w * 1000L + k, 0L))).toDF("id", "b"), path,
          hashColumns = Seq("id"), bucketNum = 2)
        val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
        val writersDone = new java.util.concurrent.atomic.AtomicInteger(0)
        val start = new CountDownLatch(1)
        val pool = Executors.newFixedThreadPool(nWriters + 3)

        // writers: each batch upserts the writer's WHOLE key range with the
        // batch number — one commit, so any snapshot cut is all-or-nothing
        (0 until nWriters).foreach { w =>
          pool.submit(new Runnable { def run(): Unit = {
            start.await()
            try {
              val t = GraftTable.forPath(spark, path)
              (1 to batches).foreach { b =>
                var done = false
                while (!done) {
                  try {
                    t.upsert((0 until keysPerWriter).map(k =>
                      (w * 1000L + k, b.toLong)).toDF("id", "b"))
                    done = true
                  } catch { case _: graft.meta.MetaRerunException => }
                }
              }
            } catch { case e: Throwable => errs.add(e) }
            finally writersDone.incrementAndGet()
          }})
        }
        // re-bucketer: flips the mapping up/down while writers and readers
        // run — each flip opens the marker, rewrites, closes it
        pool.submit(new Runnable { def run(): Unit = {
          start.await()
          try {
            val t = GraftTable.forPath(spark, path)
            val rnd = new scala.util.Random(seed)
            (1 to 3).foreach { _ =>
              t.compaction(CompactionOptions(
                newBucketNum = Some(1 + rnd.nextInt(5))), _ => true)
              Thread.sleep(5)
            }
          } catch { case e: Throwable => errs.add(e) }
        }})
        // readers: plan/execute continuously until every writer finished,
        // then once more against the settled table
        (0 until 2).foreach { r =>
          pool.submit(new Runnable { def run(): Unit = {
            start.await()
            try {
              val t = GraftTable.forPath(spark, path)
              val lastSeen = Array.fill(nWriters)(0L) // monotonicity state
              var more = true
              while (more) {
                more = writersDone.get() < nWriters
                val df = if (r == 0) t.toDF
                  else t.incremental(0L, t.lastCommitTs)
                val got = df.select("id", "b")
                  .as[(Long, Long)].collect()
                assert(got.map(_._1).distinct.length == got.length,
                  s"seed $seed reader $r: duplicate keys in " +
                    s"${got.groupBy(_._1).filter(_._2.length > 1).keys.take(3)}")
                (0 until nWriters).foreach { w =>
                  val mine = got.filter(_._1 / 1000 == w)
                  assert(mine.length == keysPerWriter,
                    s"seed $seed reader $r: writer $w lost keys " +
                      s"(${mine.length}/$keysPerWriter)")
                  val bs = mine.map(_._2).distinct
                  assert(bs.length == 1,
                    s"seed $seed reader $r: torn cut for writer $w: " +
                      s"${bs.sorted.toSeq}")
                  assert(bs.head >= lastSeen(w),
                    s"seed $seed reader $r: writer $w went backwards " +
                      s"${lastSeen(w)} -> ${bs.head}")
                  lastSeen(w) = bs.head
                }
              }
              // settled: every writer's final batch visible
              assert(lastSeen.forall(_ == batches),
                s"seed $seed reader $r: final state ${lastSeen.toSeq} != $batches")
            } catch { case e: Throwable => errs.add(e) }
          }})
        }
        start.countDown()
        pool.shutdown()
        assert(pool.awaitTermination(300, TimeUnit.SECONDS),
          s"seed $seed: storm timed out")
        Option(errs.peek()).foreach { e =>
          e.printStackTrace()
          fail(s"seed $seed: $e")
        }
        assert(t0.validate() == Nil)
      }
    }
  }
}
