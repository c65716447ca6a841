package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import graft.meta.TableInfo
import graft.tables.GraftTable

/** sum_last / joined_last two-level semantics (intra-batch last-writer-wins,
  * cross-run combine — merge_operator.rs:535-600), the user-registration
  * surface (M3) and per-query override (M4). */
class MergeOpSuite extends SparkFixture {

  // single-partition input so intra-batch "write order" is deterministic
  private def onePartDf(rows: Seq[Row], schema: StructType) =
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 1), schema)

  private val dSchema = StructType(Seq(
    StructField("k", LongType), StructField("v", DoubleType)))
  private val sSchema = StructType(Seq(
    StructField("k", LongType), StructField("v", StringType)))

  test("sum_last keeps only the last write within a batch, sums across runs") {
    withTempPath { p =>
      val t = GraftTable.create(spark,
        onePartDf(Seq(Row(1L, 10.0), Row(1L, 20.0), Row(2L, 1.0)), dSchema), p,
        hashColumns = Seq("k"), bucketNum = 2,
        properties = Map(TableInfo.mergeOpProp("v") -> "sum_last"))
      // sum_all would give 30.0; sum_last keeps the batch's last write
      assertRows(t.toDF, Seq(Row(1L, 20.0), Row(2L, 1.0)))
      t.upsert(onePartDf(Seq(Row(1L, 5.0)), dSchema))
      assertRows(t.toDF, Seq(Row(1L, 25.0), Row(2L, 1.0)))
    }
  }

  test("joined_last concatenates each run's last value only") {
    withTempPath { p =>
      val t = GraftTable.create(spark,
        onePartDf(Seq(Row(1L, "a"), Row(1L, "b")), sSchema), p,
        hashColumns = Seq("k"), bucketNum = 2,
        properties = Map(TableInfo.mergeOpProp("v") -> "joined_last_by_comma"))
      t.upsert(onePartDf(Seq(Row(1L, "c")), sSchema))
      // joined_all would give "a,b,c"
      assertRows(t.toDF, Seq(Row(1L, "b,c")))
    }
  }

  test("user-registered operator resolves by name and merges (M3)") {
    graft.mergeop.MergeOps.register(new graft.mergeop.MergeOp {
      val name = "keep_max_test"
      def agg(value: org.apache.spark.sql.Column,
          version: org.apache.spark.sql.Column,
          present: org.apache.spark.sql.Column,
          dt: DataType): org.apache.spark.sql.Column =
        org.apache.spark.sql.functions.max(
          org.apache.spark.sql.functions.when(present, value)).cast(dt)
    })
    withTempPath { p =>
      val t = GraftTable.create(spark, onePartDf(Seq(Row(1L, 7.0)), dSchema), p,
        hashColumns = Seq("k"), bucketNum = 2,
        properties = Map(TableInfo.mergeOpProp("v") -> "keep_max_test"))
      val created = t.lastCommitTs
      t.upsert(onePartDf(Seq(Row(1L, 3.0)), dSchema))
      val firstUpsert = t.lastCommitTs
      t.upsert(onePartDf(Seq(Row(1L, 5.0)), dSchema))
      // an agg-only operator has no k-way merge: every read below takes
      // the aggregate-merge fallback over two or more runs
      assertRows(t.toDF, Seq(Row(1L, 7.0)))
      assertRows(t.snapshotAt(firstUpsert), Seq(Row(1L, 7.0)))
      assertRows(t.incremental(created, t.lastCommitTs), Seq(Row(1L, 5.0)))
    }
  }

  test("diff under an agg-only operator keys on range + hash columns: a PK " +
    "repeated across range partitions invents no update") {
    graft.mergeop.MergeOps.register(new graft.mergeop.MergeOp {
      val name = "keep_max_diff_test"
      def agg(value: org.apache.spark.sql.Column,
          version: org.apache.spark.sql.Column,
          present: org.apache.spark.sql.Column,
          dt: DataType): org.apache.spark.sql.Column =
        org.apache.spark.sql.functions.max(
          org.apache.spark.sql.functions.when(present, value)).cast(dt)
    })
    val schema = StructType(Seq(StructField("p", StringType),
      StructField("id", LongType), StructField("s", StringType),
      StructField("v", DoubleType)))
    withTempPath { path =>
      val t = GraftTable.create(spark,
        onePartDf(Seq(Row("a", 1L, "x", 1.0), Row("b", 1L, "y", 1.0)), schema),
        path, rangeColumns = Seq("p"), hashColumns = Seq("id"), bucketNum = 2,
        properties = Map(TableInfo.mergeOpProp("v") -> "keep_max_diff_test"))
      val t0 = t.lastCommitTs
      t.upsert(onePartDf(Seq(Row("a", 1L, "x2", 1.0)), schema))
      assertRows(t.diff(t0, t.lastCommitTs), Seq(
        Row("a", 1L, "x", 1.0, "update_preimage"),
        Row("a", 1L, "x2", 1.0, "update_postimage")))
    }
  }

  test("RowMergeOp runs inside the bucket fast path (no exchange)") {
    graft.mergeop.MergeOps.register(new graft.mergeop.RowMergeOp {
      val name = "keep_max_row_test"
      def agg(value: org.apache.spark.sql.Column,
          version: org.apache.spark.sql.Column,
          present: org.apache.spark.sql.Column,
          dt: DataType): org.apache.spark.sql.Column =
        org.apache.spark.sql.functions.max(
          org.apache.spark.sql.functions.when(present, value)).cast(dt)
      def combine(acc: Any, newer: Any): Any =
        if (acc == null) newer
        else if (newer == null) acc
        else if (acc.asInstanceOf[Double] >= newer.asInstanceOf[Double]) acc
        else newer
    })
    withTempPath { p =>
      val t = GraftTable.create(spark, onePartDf(Seq(Row(1L, 7.0)), dSchema), p,
        hashColumns = Seq("k"), bucketNum = 2,
        properties = Map(TableInfo.mergeOpProp("v") -> "keep_max_row_test"))
      t.upsert(onePartDf(Seq(Row(1L, 3.0)), dSchema))
      t.upsert(onePartDf(Seq(Row(1L, 9.0), Row(2L, 1.0)), dSchema))
      val df = t.toDF
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"custom RowMergeOp fell back to the aggregate path:\n$plan")
      assertRows(df, Seq(Row(1L, 9.0), Row(2L, 1.0)))
    }
  }

  test("readWithMergeOps overrides per query without touching the table (M4)") {
    withTempPath { p =>
      val t = GraftTable.create(spark, onePartDf(Seq(Row(1L, 10.0)), dSchema), p,
        hashColumns = Seq("k"), bucketNum = 2)
      t.upsert(onePartDf(Seq(Row(1L, 4.0)), dSchema))
      assertRows(t.readWithMergeOps(Map("v" -> "sum_all")), Seq(Row(1L, 14.0)))
      assertRows(t.toDF, Seq(Row(1L, 4.0))) // table default use_last intact
      intercept[IllegalArgumentException] {
        t.readWithMergeOps(Map("v" -> "nope"))
      }
    }
  }

  test("merge-op marker functions in a SELECT over a graft table (M4 SQL)") {
    withTempPath { wh =>
      spark.conf.set("spark.sql.catalog.graft_cat", "graft.catalog.GraftCatalogV2")
      spark.conf.set("spark.graft.warehouse", wh)
      graft.functions.GraftFunctions.register(spark) // graft_merge_op
      graft.mergeop.MergeOps.registerSqlFunctions(spark) // sum_all & co.
      spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.mosql")
      spark.sql("CREATE TABLE graft_cat.mosql.t (k BIGINT, v DOUBLE) " +
        "PARTITIONED BY (bucket(2, k))")
      spark.sql("INSERT INTO graft_cat.mosql.t VALUES (1, 10.0), (2, 1.0)")
      spark.sql("INSERT INTO graft_cat.mosql.t VALUES (1, 4.0)")
      // projection-embedded operator: sum across runs for v, this query only
      assertRows(
        spark.sql("SELECT k, sum_all(v) AS v FROM graft_cat.mosql.t"),
        Seq(Row(1L, 14.0), Row(2L, 1.0)))
      // generic form, through a WHERE (single-child chain to the relation)
      assertRows(
        spark.sql("SELECT k, graft_merge_op(v, 'sum_all') AS v " +
          "FROM graft_cat.mosql.t WHERE k = 1"),
        Seq(Row(1L, 14.0)))
      // table default (use_last) untouched
      assertRows(spark.sql("SELECT k, v FROM graft_cat.mosql.t"),
        Seq(Row(1L, 4.0), Row(2L, 1.0)))
      // unknown operator name fails at analysis
      intercept[Exception] {
        spark.sql("SELECT graft_merge_op(v, 'nope') FROM graft_cat.mosql.t").collect()
      }
      // marker over a non-graft source is a clear error, not a silent no-op
      spark.range(3).selectExpr("id AS k", "CAST(id AS DOUBLE) AS v")
        .createOrReplaceTempView("mosql_plain")
      val e = intercept[Exception] {
        spark.sql("SELECT sum_all(v) FROM mosql_plain").collect()
      }
      assert(e.getMessage.contains("graft"), s"unexpected error: ${e.getMessage}")
      spark.sql("DROP TABLE graft_cat.mosql.t")
    }
  }
}
