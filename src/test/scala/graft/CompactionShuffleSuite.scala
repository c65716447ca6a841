package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerStageCompleted}
import org.apache.spark.sql.functions._
import graft.tables.GraftTable

/** r16 zero-shuffle compaction pin: when every (partition, bucket) group
  * reads through the bucket merge, compaction's write keeps the read's
  * per-group placement — no bucket re-shuffle (at 100 TB the removed
  * shuffle is a second full pass of the table over the network). The
  * alignment flag is the planned scan's own GraftScan.groupAligned (no
  * mirror predicate to drift), but the pins stay: if a bucket were split
  * across tasks while the write still skips its shuffle, either the
  * shuffle-bytes pin or the result/row-order pins here fail. */
class CompactionShuffleSuite extends SparkFixture {

  private def shuffleBytesDuring(body: => Unit): Long = {
    val bytes = new java.util.concurrent.atomic.AtomicLong(0L)
    val l = new SparkListener {
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
        bytes.addAndGet(sc.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
    }
    spark.sparkContext.addSparkListener(l)
    // drain the async listener bus deterministically before reading the
    // counter (ADVICE r16: a fixed sleep undercounts on a loaded host,
    // letting the sb==0 pin pass spuriously). LiveListenerBus
    // .waitUntilEmpty is private[spark] = public in bytecode, so invoke it
    // reflectively; fall back to polling the counter stable if the method
    // moves.
    try {
      body
      try {
        val sc = spark.sparkContext
        val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
        bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
      } catch { case _: Throwable =>
        val deadline = System.nanoTime() + 5L * 1000 * 1000 * 1000
        var prev = -1L
        while (prev != bytes.get() && System.nanoTime() < deadline) {
          prev = bytes.get()
          Thread.sleep(100)
        }
      }
    } finally spark.sparkContext.removeSparkListener(l)
    bytes.get()
  }

  test("full compaction of an all-delta table writes zero shuffle bytes") {
    withTempPath { dir =>
      val orders = spark.read.parquet(s"$sfDir/orders.parquet")
      val t = GraftTable.create(spark, orders, dir,
        hashColumns = Seq("o_orderkey"), bucketNum = 4)
      val batch = orders.filter(col("o_orderkey") % 3 === 0)
        .withColumn("o_totalprice", col("o_totalprice") * 2)
      t.upsert(batch)
      t.upsert(batch.withColumn("o_totalprice", col("o_totalprice") + 1))
      val before = t.toDF.collect().map(_.toString).sorted.toSeq
      val sb = shuffleBytesDuring { t.compaction() }
      assert(sb == 0L, s"aligned compaction shuffled $sb bytes")
      // one file per touched bucket, still a single sorted run
      val byBucket = t.liveFiles.groupBy(_.file.bucketId)
      assert(byBucket.values.forall(_.size == 1),
        s"expected one file per bucket, got ${byBucket.view.mapValues(_.size).toMap}")
      assert(t.toDF.collect().map(_.toString).sorted.toSeq == before)
      // post-compaction reads (now single-run groups) stay correct: a
      // fresh upsert + read exercises the k-way merge over the
      // skip-shuffle-written run, which only works if per-file pk order
      // survived the aligned write
      t.upsert(batch.withColumn("o_totalprice", col("o_totalprice") + 5))
      assert(t.toDF.count() == orders.count())
    }
  }

  test("re-bucketing compaction still re-shuffles (rows genuinely move)") {
    withTempPath { dir =>
      val orders = spark.read.parquet(s"$sfDir/orders.parquet").limit(5000)
      val t = GraftTable.create(spark, orders, dir,
        hashColumns = Seq("o_orderkey"), bucketNum = 2)
      t.upsert(orders.limit(1000).withColumn("o_totalprice", lit(1.0)))
      val before = t.toDF.collect().map(_.toString).sorted.toSeq
      val sb = shuffleBytesDuring {
        t.compaction(graft.tables.CompactionOptions(newBucketNum = Some(4)),
          _ => true)
      }
      assert(sb > 0L, "re-bucket compaction must move rows across buckets")
      assert(t.liveFiles.forall(_.file.bucketId < 4))
      assert(t.toDF.collect().map(_.toString).sorted.toSeq == before)
    }
  }

  test("full compaction after a one-bucket delta writes zero shuffle bytes") {
    withTempPath { dir =>
      val orders = spark.read.parquet(s"$sfDir/orders.parquet")
      val t = GraftTable.create(spark, orders, dir,
        hashColumns = Seq("o_orderkey"), bucketNum = 4)
      // one key -> one bucket touched: the three untouched buckets are
      // single-run, and they read through the same per-bucket scan
      // partitions as the merged one, so the read stays group-aligned
      t.upsert(orders.limit(1).withColumn("o_totalprice", lit(2.0)))
      assert(t.liveFiles.groupBy(_.file.bucketId)
        .count(_._2.map(_.commitOrdinal).distinct.size > 1) == 1)
      val before = t.toDF.collect().map(_.toString).sorted.toSeq
      val sb = shuffleBytesDuring { t.compaction() }
      assert(sb == 0L, s"aligned compaction shuffled $sb bytes")
      val byBucket = t.liveFiles.groupBy(_.file.bucketId)
      assert(byBucket.size == 4 && byBucket.values.forall(_.size == 1),
        s"expected one file per bucket, got ${byBucket.view.mapValues(_.size).toMap}")
      assert(t.toDF.collect().map(_.toString).sorted.toSeq == before)
    }
  }
}
