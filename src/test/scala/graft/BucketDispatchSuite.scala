package graft

import org.apache.spark.sql.functions._

import graft.tables.GraftTable

/** Per-BUCKET merge dispatch inside the DSv2 scan (GraftScan, which both
  * `toDF` and the library reads plan through): buckets are key-disjoint,
  * so only the buckets that actually carry >1 run or a tombstone pay the
  * merge; every untouched bucket streams its reader batches untouched even
  * when other buckets have pending deltas. At cluster scale this keeps a
  * partition-local small upsert from dragging the other buckets off the
  * columnar path. */
class BucketDispatchSuite extends SparkFixture {

  private def mk(dir: String): GraftTable = {
    val df = spark.range(0, 100)
      .select(col("id"), (col("id") * 2).as("v"))
    GraftTable.create(spark, df, dir, hashColumns = Seq("id"), bucketNum = 4)
  }

  test("single-bucket upsert leaves other buckets on the vectorized scan") {
    withTempPath { dir =>
      val t = mk(dir)
      t.upsert(spark.range(0, 1).select(col("id"), lit(999L).as("v")))

      // toDF routes through the DSv2 scan: ONE BatchScan whose bucket
      // partitions dispatch internally (untouched buckets stream reader
      // batches; the touched bucket k-way-merges, still columnar)
      val df = t.toDF
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("BatchScan") && plan.contains("GraftScan"),
        s"expected the DSv2 graft scan in:\n$plan")
      // the library path plans the same one scan over its resolved files
      val libPlan = t.toDF(_ => true).queryExecution.executedPlan.toString
      assert(libPlan.contains("BatchScan") && libPlan.contains("GraftScan"),
        s"expected the DSv2 graft scan in:\n$libPlan")
      assert(!libPlan.contains("ExistingRDD") && !libPlan.contains("FileScan"),
        s"expected no second scan in:\n$libPlan")

      // and the merged result is still exactly right
      val got = df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got.size == 100)
      assert(got(0L) == 999L)
      assert(got(57L) == 114L)
    }
  }

  test("fully-touched table still merges every bucket correctly") {
    withTempPath { dir =>
      val t = mk(dir)
      t.upsert(spark.range(0, 100).select(col("id"), (col("id") * 3).as("v")))
      val got = t.toDF.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      assert(got.size == 100 && got(57L) == 171L)
    }
  }

  test("lone tombstone bucket stays on the merge path and hides its keys") {
    withTempPath { dir =>
      val t = mk(dir)
      t.deleteTombstone(col("id") === 0L)
      val ids = t.toDF.select("id").collect().map(_.getLong(0)).toSet
      assert(!ids.contains(0L) && ids.size == 99)
    }
  }
}
