package graft

import org.apache.spark.sql.functions._

import graft.tables.GraftTable

/** End-to-end gauge pinning on the sf0.001 fixtures: the smoke pipeline a
  * user actually runs (create → upsert → merged read) must move BOTH
  * fast-path gauges —
  *   - [[graft.read.BatchMergeIterator.sliceCopiedRows]]: overlap regions
  *     take the COLUMNAR slice copier (a refactor that silently falls back
  *     to the row-based merge keeps answers right and loses the speed);
  *   - [[graft.write.FileStatsCollector.collectedFiles]]: file min/max
  *     stats come back from the WRITE TASKS (falling back to driver-side
  *     footer reads keeps answers right and makes commit O(files) driver
  *     IO at scale).
  * Unit suites assert each gauge on synthetic frames; this pins them on
  * the real fixture path so neither can go dark without a test failing. */
class GaugeSmokeSuite extends SparkFixture {

  test("smoke pipeline moves the columnar-slice and task-stats gauges") {
    withTempPath { path =>
      val orders = spark.read.parquet(s"$sfDir/orders.parquet")
      val statsBefore = graft.write.FileStatsCollector.collectedFiles.get()
      val t = GraftTable.create(spark, orders, path,
        hashColumns = Seq("o_orderkey"), bucketNum = 4)
      t.upsert(orders.filter(col("o_orderkey") % 10 === 0)
        .withColumn("o_totalprice", col("o_totalprice") * 2))
      assert(graft.write.FileStatsCollector.collectedFiles.get() > statsBefore,
        "write path stopped collecting file stats in the tasks — the " +
          "task-side stats fast path went dark")
      val sliceBefore = graft.read.BatchMergeIterator.sliceCopiedRows.sum()
      val merged = t.toDF
      merged.foreach(_ => ())
      assert(graft.read.BatchMergeIterator.sliceCopiedRows.sum() > sliceBefore,
        "merged read stopped using the columnar slice copier — the MOR " +
          "fast path went dark")
      // and the answer is still the merged state
      assert(merged.count() == orders.count())
      assert(merged.filter(col("o_orderkey") % 10 === 0)
        .join(orders.withColumnRenamed("o_totalprice", "p0"), "o_orderkey")
        .filter(col("o_totalprice") =!= col("p0") * 2).isEmpty)
    }
  }
}
