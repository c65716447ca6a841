package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.functions._
import graft.tables.GraftTable

class BucketedJoinSuite extends SparkFixture {
  import spark.implicits._

  test("bucketedJoin matches a regular join and plans zero exchanges") {
    withTempPath { p1 =>
      withTempPath { p2 =>
        val l = (1 to 200).map(i => (i.toLong, s"l$i")).toDF("id", "lv")
        val r = (101 to 300).map(i => (i.toLong, i * 2)).toDF("id", "rv")
        val t1 = GraftTable.create(spark, l, p1, hashColumns = Seq("id"), bucketNum = 4)
        val t2 = GraftTable.create(spark, r, p2, hashColumns = Seq("id"), bucketNum = 4)
        // deltas on both sides so the merge path is exercised
        t1.upsert(Seq((150L, "L150")).toDF("id", "lv"))
        t2.upsert(Seq((150L, 999)).toDF("id", "rv"))

        val joined = t1.bucketedJoin(t2)
        val expected = t1.toDF.join(t2.toDF, "id")
        assertSameRows(joined, expected)
        assert(joined.filter($"id" === 150L).head.getString(1) == "L150")
        assert(joined.filter($"id" === 150L).head.getInt(2) == 999)
        // the whole point: no shuffle in the physical plan
        val plan = joined.queryExecution.executedPlan.toString
        assert(!plan.contains("Exchange"), s"unexpected exchange:\n$plan")
        // both sides are DSv2 graft scans, no RDD read
        assert(graftScans(joined) == 2, s"expected two GraftScans:\n$plan")
        assert(!plan.contains("Scan ExistingRDD"), s"unexpected RDD scan:\n$plan")
      }
    }
  }

  private def graftScans(j: DataFrame): Int =
    j.queryExecution.sparkPlan.collect {
      case b: BatchScanExec if b.scan.isInstanceOf[graft.read.GraftScan] => b
    }.size

  /** A sort-merge join straight over two graft scans: no exchange, no sort. */
  private def assertStoragePartitioned(j: DataFrame): Unit = {
    val plan = j.queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"), s"expected SMJ:\n$plan")
    assert(!plan.contains("Exchange"), s"unexpected exchange:\n$plan")
    assert(!plan.contains("Sort "), s"unexpected sort:\n$plan")
    assert(graftScans(j) == 2, s"expected two GraftScans:\n$plan")
  }

  test("toDF joins of co-bucketed tables plan storage-partitioned joins") {
    // library relations resolve the scans' bucket(n, pk) partitioning, so
    // a join of two reads needs no exchange, and their reported pk order
    // leaves the sort-merge join no sort
    withTempPath { p1 =>
      withTempPath { p2 =>
        val l = (1 to 300).map(i => (i.toLong, s"l$i")).toDF("id", "lv")
        val r = (151 to 450).map(i => (i.toLong, i * 2)).toDF("id", "rv")
        val t1 = GraftTable.create(spark, l, p1, hashColumns = Seq("id"), bucketNum = 4)
        val t2 = GraftTable.create(spark, r, p2, hashColumns = Seq("id"), bucketNum = 4)
        // a delta run on each side: updated, new and newly matching keys
        val lDelta = Seq((200L, "L200"), (500L, "L500")).toDF("id", "lv")
        val rDelta = Seq((200L, 999), (10L, 20)).toDF("id", "rv")
        t1.upsert(lDelta)
        t2.upsert(rDelta)
        val lRows = l.join(lDelta, Seq("id"), "left_anti").union(lDelta)
        val rRows = r.join(rDelta, Seq("id"), "left_anti").union(rDelta)
        val expected = lRows.join(rRows, "id")

        val joined = t1.toDF.hint("merge").join(t2.toDF, "id")
        assertStoragePartitioned(joined)
        assertSameRows(joined, expected)

        // a pinned snapshot keeps its files through a later upsert
        val pinnedTs = t1.history.map(_._2).max
        Thread.sleep(3)
        t1.upsert(Seq((200L, "L200b"), (300L, "L300b")).toDF("id", "lv"))
        val pinned = t1.snapshotAt(pinnedTs).hint("merge").join(t2.toDF, "id")
        assertStoragePartitioned(pinned)
        assertSameRows(pinned, expected)
        assert(t1.toDF.join(t2.toDF, "id").filter($"id" === 200L)
          .head.getString(1) == "L200b")
      }
    }
  }

  test("bucketedJoin on CDC tables elides delete tombstones") {
    withTempPath { p1 =>
      withTempPath { p2 =>
        import graft.meta.TableInfo
        val l = (1 to 100).map(i => (i.toLong, s"l$i", "insert"))
          .toDF("id", "lv", "op")
        val t1 = GraftTable.create(spark, l, p1, hashColumns = Seq("id"),
          bucketNum = 4, properties = Map(TableInfo.CdcColumnProp -> "op"))
        val t2 = GraftTable.create(spark,
          (1 to 100).map(i => (i.toLong, i * 10)).toDF("id", "rv"), p2,
          hashColumns = Seq("id"), bucketNum = 4)
        // delete every 10th id on the CDC side
        t1.upsert(l.filter($"id" % 10 === 0).withColumn("op", lit("delete")))
        val joined = t1.bucketedJoin(t2)
        assert(joined.count() == 90)
        assert(joined.filter($"id" % 10 === 0).count() == 0)
        assertSameRows(joined, t1.toDF.join(t2.toDF, "id"))
      }
    }
  }

  test("bucketedJoin on range-partitioned tables (hash fallback) is correct") {
    withTempPath { p1 =>
      withTempPath { p2 =>
        val l = (1 to 200).map(i => (i.toLong, if (i % 2 == 0) "e" else "o", s"l$i"))
          .toDF("id", "par", "lv")
        val r = (51 to 250).map(i => (i.toLong, i * 3)).toDF("id", "rv")
        val t1 = GraftTable.create(spark, l, p1, rangeColumns = Seq("par"),
          hashColumns = Seq("id"), bucketNum = 4)
        val t2 = GraftTable.create(spark, r, p2, hashColumns = Seq("id"), bucketNum = 4)
        t1.upsert(Seq((60L, "e", "L60")).toDF("id", "par", "lv"))
        val joined = t1.bucketedJoin(t2)
        assertSameRows(joined, t1.toDF.join(t2.toDF, "id"))
        val plan = joined.queryExecution.executedPlan.toString
        assert(!plan.contains("Exchange"), s"unexpected exchange:\n$plan")
      }
    }
  }

  test("SPJ sort-merge join plans zero exchanges AND zero sorts (reported ordering)") {
    // the reference's SetPartitionAndOrdering.scala:41-127: the scan reports
    // HashPartitioning + (range, pk) ordering, so an SMJ between co-bucketed
    // PK tables needs neither an exchange nor a sort on either side
    withTempPath { wh =>
      spark.conf.set("spark.sql.catalog.graft_cat", "graft.catalog.GraftCatalogV2")
      spark.conf.set("spark.graft.warehouse", wh)
      val restore = Seq(
        "spark.sql.sources.v2.bucketing.enabled" ->
          spark.conf.getOption("spark.sql.sources.v2.bucketing.enabled"),
        "spark.sql.autoBroadcastJoinThreshold" ->
          spark.conf.getOption("spark.sql.autoBroadcastJoinThreshold"),
        "spark.sql.join.preferSortMergeJoin" ->
          spark.conf.getOption("spark.sql.join.preferSortMergeJoin"))
      try {
        (1 to 300).map(i => (i.toLong, s"l$i")).toDF("id", "lv")
          .createOrReplaceTempView("smj_src_l")
        (151 to 450).map(i => (i.toLong, i * 2)).toDF("id", "rv")
          .createOrReplaceTempView("smj_src_r")
        spark.sql("CREATE TABLE graft_cat.smj.l PARTITIONED BY (bucket(4, id)) " +
          "AS SELECT * FROM smj_src_l")
        spark.sql("CREATE TABLE graft_cat.smj.r PARTITIONED BY (bucket(4, id)) " +
          "AS SELECT * FROM smj_src_r")
        // deltas on both sides so the MOR merge path (not a plain compacted
        // scan) is what reports the ordering
        spark.sql("INSERT INTO graft_cat.smj.l VALUES (200, 'L200')")
        spark.sql("INSERT INTO graft_cat.smj.r VALUES (200, 999)")
        spark.conf.set("spark.sql.sources.v2.bucketing.enabled", "true")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.join.preferSortMergeJoin", "true")
        val j = spark.sql("SELECT l.id, lv, rv FROM graft_cat.smj.l l " +
          "JOIN graft_cat.smj.r r ON l.id = r.id")
        val plan = j.queryExecution.executedPlan.toString
        assert(plan.contains("SortMergeJoin"), s"expected SMJ:\n$plan")
        assert(!plan.contains("Exchange"), s"unexpected exchange:\n$plan")
        assert(!plan.contains("Sort "), s"unexpected sort:\n$plan")
        // correctness: same rows as the plain join of the raw sources, with
        // last-writer-wins on the upserted key
        assert(j.count() == 150)
        assert(j.filter($"id" === 200L).head.getString(1) == "L200")
        assert(j.filter($"id" === 200L).head.getInt(2) == 999)
      } finally {
        restore.foreach {
          case (k, Some(v)) => spark.conf.set(k, v)
          case (k, None) => spark.conf.unset(k)
        }
        spark.sql("DROP TABLE IF EXISTS graft_cat.smj.l")
        spark.sql("DROP TABLE IF EXISTS graft_cat.smj.r")
      }
    }
  }

  test("bucketedJoin validates bucketing compatibility") {
    withTempPath { p1 =>
      withTempPath { p2 =>
        val t1 = GraftTable.create(spark, Seq((1L, "a")).toDF("id", "v"), p1,
          hashColumns = Seq("id"), bucketNum = 4)
        val t2 = GraftTable.create(spark, Seq((1L, "b")).toDF("id", "w"), p2,
          hashColumns = Seq("id"), bucketNum = 8)
        val e = intercept[IllegalArgumentException](t1.bucketedJoin(t2))
        assert(e.getMessage.contains("bucket counts differ"))
      }
    }
  }
}
