package graft

import graft.meta.RebucketLog
import graft.read.{GraftBucketPartition, GraftMicroBatchStream, GraftStreamOffset}
import graft.tables.{CompactionOptions, GraftTable}
import org.apache.spark.sql.connector.read.streaming.ReadLimit

/** r16 — streaming catch-up across a re-bucket (VERDICT item 4):
  *
  * a stream restarted from a checkpoint taken BEFORE a re-bucket used to
  * plan its whole catch-up window as ONE re-bucket-straddling batch, which
  * only the per-range-partition cross grouping can merge safely — one task
  * per range partition, a parallelism cliff exactly when the backlog is
  * biggest. `latestOffset` now CUTS candidate windows at each flip
  * boundary ([[RebucketLog.clampAtFlip]]), so every planned batch is
  * mapping-consistent and dispatches per-bucket-parallel under its own
  * epoch's bucket count. */
class StreamRebucketSuite extends SparkFixture {
  import spark.implicits._

  private def flipTs(t: GraftTable): Long = {
    val evs = t.info.properties.get(RebucketLog.Prop).toSeq.flatMap(_.split(","))
    assert(evs.size == 1, s"expected one re-bucket event, got $evs")
    evs.head.split(":")(0).toLong
  }

  test("DSv2 catch-up offsets cut at the flip; both sides plan per-bucket") {
    withTempPath { path =>
      val t = GraftTable.create(spark,
        (1 to 12).map(i => (i.toLong, i)).toDF("id", "v"), path,
        hashColumns = Seq("id"), bucketNum = 3)
      Thread.sleep(3)
      t.upsert((1 to 6).map(i => (i.toLong, i * 10)).toDF("id", "v"))
      Thread.sleep(3)
      t.compaction(CompactionOptions(newBucketNum = Some(5)), _ => true)
      Thread.sleep(3)
      t.upsert((4 to 9).map(i => (i.toLong, i * 100)).toDF("id", "v"))
      val flip = flipTs(t)
      val head = t.lastCommitTs

      val stream = new GraftMicroBatchStream(spark, t.info,
        t.toDF.schema, Nil, t.tablePath)
      // batch 1: (0, flip-1] — clamped at the boundary, OLD epoch,
      // bucket-parallel at the old count (3), not one cross-grouped task
      val o1 = stream.latestOffset(GraftStreamOffset(0L),
        ReadLimit.allAvailable()).asInstanceOf[GraftStreamOffset]
      assert(o1.ts == flip - 1, s"end ${o1.ts} != flip-1 ${flip - 1}")
      val p1 = stream.planInputPartitions(GraftStreamOffset(0L), o1)
      assert(p1.length == 3 &&
        p1.collect { case b: GraftBucketPartition => b.bucket }.sorted
          .sameElements(0 until 3),
        s"pre-flip batch must plan one task per OLD bucket, got ${p1.toSeq}")
      // batch 2: (flip-1, head] — NEW epoch, bucket-parallel at 5
      val o2 = stream.latestOffset(o1, ReadLimit.allAvailable())
        .asInstanceOf[GraftStreamOffset]
      assert(o2.ts == head, s"end ${o2.ts} != head $head")
      val p2 = stream.planInputPartitions(o1, o2)
      assert(p2.length == 5 &&
        p2.collect { case b: GraftBucketPartition => b.bucket }.sorted
          .sameElements(0 until 5),
        s"post-flip batch must plan one task per NEW bucket, got ${p2.toSeq}")
      // progress terminates: at the head the offset stays put
      val o3 = stream.latestOffset(o2, ReadLimit.allAvailable())
        .asInstanceOf[GraftStreamOffset]
      assert(o3.ts == head)
    }
  }

  test("a checkpointed window already straddling the flip plans one " +
    "partition per final bucket and reads the model's rows") {
    withTempPath { path =>
      val t = GraftTable.create(spark,
        (1 to 12).map(i => (i.toLong, i)).toDF("id", "v"), path,
        hashColumns = Seq("id"), bucketNum = 3,
        rangeColumns = Nil)
      Thread.sleep(3)
      t.compaction(CompactionOptions(newBucketNum = Some(5)), _ => true)
      Thread.sleep(3)
      t.upsert((1 to 6).map(i => (i.toLong, i * 10)).toDF("id", "v"))
      val stream = new GraftMicroBatchStream(spark, t.info,
        t.toDF.schema, Nil, t.tablePath)
      // a checkpoint committed across the flip (written before clamping
      // existed) replays the straddling window as one batch: it plans the
      // final (5-bucket) mapping, each partition reading the old 3-bucket
      // runs through a key filter
      val parts = stream.planInputPartitions(GraftStreamOffset(0L),
        GraftStreamOffset(t.lastCommitTs))
      assert(parts.collect { case b: GraftBucketPartition => b.bucket }
          .sameElements(0 until 5),
        s"straddling window must plan the final buckets, got ${parts.toSeq}")
      val factory = stream.createReaderFactory()
      val got = parts.toSeq.flatMap { p =>
        val r = factory.createReader(p)
        try Iterator.continually(r.next()).takeWhile(identity)
          .map(_ => (r.get().getLong(0), r.get().getInt(1))).toList
        finally r.close()
      }
      // the window's model: the initial insert, then the upsert wins
      assert(got.sorted == (1 to 12).map(i =>
        (i.toLong, if (i <= 6) i * 10 else i)), got)
    }
  }

  test("DSv2 stream restarted from a pre-re-bucket checkpoint catches up " +
    "with per-side deltas and no duplicate keys per batch") {
    withTempPath { wh =>
      withTempPath { ckpt =>
        spark.conf.set("spark.sql.catalog.graft_cat", "graft.catalog.GraftCatalogV2")
        spark.conf.set("spark.graft.warehouse", wh)
        spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.srb")
        (1 to 8).map(i => (i.toLong, s"v$i")).toDF("id", "v")
          .createOrReplaceTempView("srb_src")
        spark.sql("CREATE TABLE graft_cat.srb.t PARTITIONED BY " +
          "(bucket(2, id)) AS SELECT * FROM srb_src")
        val out = s"$wh/srb_out" // file sink: supports checkpoint recovery
        val q1 = spark.readStream.table("graft_cat.srb.t")
          .writeStream.format("parquet").option("path", out)
          .option("checkpointLocation", ckpt).start()
        try {
          q1.processAllAvailable()
          assert(spark.read.parquet(out).count() == 8)
        } finally q1.stop()
        // offline: delta -> re-bucket -> delta, with overlapping keys
        spark.sql("INSERT INTO graft_cat.srb.t VALUES (1, 'a1'), (9, 'v9')")
        spark.sql("CALL graft.compaction(table_name => 'srb.t', " +
          "new_bucket_num => '4')")
        spark.sql("INSERT INTO graft_cat.srb.t VALUES (1, 'b1'), (10, 'v10')")
        // restart from the same checkpoint: the catch-up is cut at the
        // flip — each side's delta arrives once, the straddling key 1
        // once PER SIDE, never twice within a side
        val q2 = spark.readStream.table("graft_cat.srb.t")
          .writeStream.format("parquet").option("path", out)
          .option("checkpointLocation", ckpt).start()
        try {
          q2.processAllAvailable()
          assertRows(spark.read.parquet(out).select("id", "v"),
            (1 to 8).map(i => s"[$i,v$i]") ++
              Seq("[1,a1]", "[9,v9]", "[1,b1]", "[10,v10]"))
        } finally q2.stop()
        // and the table itself folds to the last-writer-wins state
        assert(GraftTable.forName(spark, "srb.t").toDF.count() == 10)
      }
    }
  }

  test("DSv1 source clamps candidate offsets at the flip boundary too") {
    withTempPath { path =>
      val t = GraftTable.create(spark,
        (1 to 10).map(i => (i.toLong, i)).toDF("id", "v"), path,
        hashColumns = Seq("id"), bucketNum = 2)
      Thread.sleep(3)
      t.compaction(CompactionOptions(newBucketNum = Some(4)), _ => true)
      Thread.sleep(3)
      t.upsert(Seq((1L, 100), (11L, 11)).toDF("id", "v"))
      val flip = flipTs(t)
      val src = new graft.sources.GraftStreamSource(spark, t.tablePath, Map.empty)
      val o1 = src.latestOffset(
        org.apache.spark.sql.execution.streaming.runtime.LongOffset(0L),
        ReadLimit.allAvailable())
      assert(o1.json.toLong == flip - 1,
        s"DSv1 end ${o1.json} != flip-1 ${flip - 1}")
      val o2 = src.latestOffset(o1, ReadLimit.allAvailable())
      assert(o2.json.toLong == t.lastCommitTs)
    }
  }
}
