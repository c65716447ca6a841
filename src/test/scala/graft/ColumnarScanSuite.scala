package graft

/** DSv2 columnar fast path (GraftPartitionReaderFactory): merge-free scans
  * — a compacted PK table, or one never upserted — stream the vectorized
  * reader's ColumnarBatches straight to Spark (BatchScanExec goes columnar,
  * plan shows ColumnarToRow); any pending multi-run bucket drops the whole
  * scan back to the row-based merge path with identical results. */
class ColumnarScanSuite extends SparkFixture {

  private def useCatalog(wh: String): Unit = {
    spark.conf.set("spark.sql.catalog.graft_cat", "graft.catalog.GraftCatalogV2")
    spark.conf.set("spark.graft.warehouse", wh)
  }

  test("single-run AND merge-pending scans stay columnar with merged values") {
    withTempPath { wh =>
      useCatalog(wh)
      spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.cs")
      try {
        spark.sql("CREATE TABLE graft_cat.cs.t (id BIGINT, v STRING) " +
          "PARTITIONED BY (bucket(2, id))")
        spark.sql("INSERT INTO graft_cat.cs.t VALUES (1, 'a'), (2, 'b'), (3, 'c')")

        // freshly written: one run per bucket -> columnar end-to-end
        val fresh = spark.sql("SELECT * FROM graft_cat.cs.t")
        assert(fresh.queryExecution.executedPlan.toString.contains("ColumnarToRow"),
          s"expected a columnar scan:\n${fresh.queryExecution.executedPlan}")
        assertRows(fresh, Seq("[1,a]", "[2,b]", "[3,c]"))

        // a second run pends -> the scan STAYS columnar (BatchMergeIterator:
        // pass-through batches + builder overlap) with merged values
        spark.sql("INSERT INTO graft_cat.cs.t VALUES (2, 'b2')")
        val pending = spark.sql("SELECT * FROM graft_cat.cs.t")
        assert(pending.queryExecution.executedPlan.toString.contains("ColumnarToRow"),
          s"merge-pending scan should stay columnar:\n${pending.queryExecution.executedPlan}")
        assertRows(pending, Seq("[1,a]", "[2,b2]", "[3,c]"))

        // compaction collapses to one run -> still columnar, merged values
        spark.sql("CALL graft.compaction(table_name => 'cs.t')")
        val compacted = spark.sql("SELECT * FROM graft_cat.cs.t")
        assert(compacted.queryExecution.executedPlan.toString.contains("ColumnarToRow"),
          s"compacted scan should be columnar:\n${compacted.queryExecution.executedPlan}")
        assertRows(compacted, Seq("[1,a]", "[2,b2]", "[3,c]"))
      } finally spark.sql("DROP TABLE IF EXISTS graft_cat.cs.t")
    }
  }

  test("columnar merge handles deep backlogs, tombstones, and revivals " +
    "identically to the row-path merge") {
    withTempPath { wh =>
      useCatalog(wh)
      spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.cs")
      try {
        spark.sql("CREATE TABLE graft_cat.cs.deep (id BIGINT, v STRING) " +
          "PARTITIONED BY (bucket(2, id))")
        spark.sql("INSERT INTO graft_cat.cs.deep " +
          "SELECT id, concat('v', id) FROM range(0, 20000)")
        val t = graft.tables.GraftTable.forName(spark, "cs.deep")
        import spark.implicits._
        // deltas overlapping the base at scattered keys (forces builder
        // regions between pass-through stretches), a tombstone delete, and
        // a post-tombstone revival
        (1 to 6).foreach { i =>
          t.upsert((0L until 20000L by 97L).map(k => (k + i, s"u$i-${k + i}"))
            .toDF("id", "v"))
        }
        t.deleteTombstone($"id" >= 5000L && $"id" < 6000L)
        t.upsert(Seq((5500L, "revived")).toDF("id", "v"))

        val viaSql = spark.sql("SELECT * FROM graft_cat.cs.deep")
        assert(viaSql.queryExecution.executedPlan.toString.contains("ColumnarToRow"),
          "deep merge-pending scan should be columnar")
        // row-path twin over the same snapshot: the library read
        val viaLib = t.toDF
        assertSameRows(viaSql, viaLib)
        // spot semantics: delete window gone except the revived key
        val inWindow = viaSql.filter("id >= 5000 AND id < 6000")
          .collect().map(_.getLong(0)).sorted
        assert(inWindow.toSeq == Seq(5500L))
        assert(viaSql.filter("id = 5500").head.getString(1) == "revived")
      } finally spark.sql("DROP TABLE IF EXISTS graft_cat.cs.deep")
    }
  }

  test("a reader batch size far below the file rows merges exactly like " +
    "the default batch size") {
    withTempPath { wh =>
      useCatalog(wh)
      spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.cs")
      try {
        spark.sql("CREATE TABLE graft_cat.cs.small (id BIGINT, v STRING) " +
          "PARTITIONED BY (bucket(2, id))")
        // base run: ~100 rows per bucket, several 16-row reader batches
        spark.sql("INSERT INTO graft_cat.cs.small " +
          "SELECT id, concat('v', id) FROM range(0, 200)")
        // 1-row delta runs: an update, an insert past the base range, and
        // a second update of the same key
        Seq("(17, 'u17')", "(500, 'new500')", "(17, 'u17b')", "(99, 'u99')")
          .foreach(r => spark.sql(s"INSERT INTO graft_cat.cs.small VALUES $r"))
        def read(): Array[String] =
          spark.sql("SELECT * FROM graft_cat.cs.small").collect().map(_.toString).sorted
        val default = read()
        val key = "spark.sql.parquet.columnarReaderBatchSize"
        spark.conf.set(key, "16")
        val small = try {
          val q = spark.sql("SELECT * FROM graft_cat.cs.small")
          assert(q.queryExecution.executedPlan.toString.contains("ColumnarToRow"),
            "expected the columnar merge path")
          read()
        } finally spark.conf.unset(key)
        assert(small.toSeq == default.toSeq)
        assert(default.length == 201)
        assert(default.contains("[17,u17b]") && default.contains("[99,u99]") &&
          default.contains("[500,new500]") && default.contains("[18,v18]"))
      } finally spark.sql("DROP TABLE IF EXISTS graft_cat.cs.small")
    }
  }
}

/** Appended suite-level sanity kept in the same file for locality. */
class ColumnarScanPlanSuite extends SparkFixture {
  test("aggregate over a merge-pending table runs vectorized end-to-end") {
    withTempPath { wh =>
      spark.conf.set("spark.sql.catalog.graft_cat", "graft.catalog.GraftCatalogV2")
      spark.conf.set("spark.graft.warehouse", wh)
      spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.csp")
      try {
        spark.sql("CREATE TABLE graft_cat.csp.t (id BIGINT, x DOUBLE) " +
          "PARTITIONED BY (bucket(2, id))")
        spark.sql("INSERT INTO graft_cat.csp.t " +
          "SELECT id, id * 1.5 FROM range(0, 10000)")
        spark.sql("INSERT INTO graft_cat.csp.t " +
          "SELECT id, 0.0 FROM range(0, 10000, 500)") // overlap every 500th
        val q = spark.sql("SELECT sum(x) AS s FROM graft_cat.csp.t")
        val expected = (0L until 10000L)
          .map(i => if (i % 500 == 0) 0.0 else i * 1.5).sum
        val got = q.collect() // head() would plan a separate limited query
        assert(got.length == 1 && math.abs(got(0).getDouble(0) - expected) < 1e-6)
        // AQE: final plan shape is only visible after execution
        assert(q.queryExecution.executedPlan.toString.contains("ColumnarToRow"),
          s"expected columnar scan under the aggregate:\n${q.queryExecution.executedPlan}")
      } finally spark.sql("DROP TABLE IF EXISTS graft_cat.csp.t")
    }
  }

  private def useCatalog(wh: String): Unit = {
    spark.conf.set("spark.sql.catalog.graft_cat", "graft.catalog.GraftCatalogV2")
    spark.conf.set("spark.graft.warehouse", wh)
  }

  test("CDC tables never scan columnar: delete markers must filter even " +
    "in a merge-free state") {
    withTempPath { wh =>
      useCatalog(wh)
      spark.sql("CREATE NAMESPACE IF NOT EXISTS graft_cat.cs")
      try {
        spark.sql("CREATE TABLE graft_cat.cs.cdc (id BIGINT, v STRING, op STRING) " +
          "PARTITIONED BY (bucket(2, id)) " +
          "TBLPROPERTIES ('graft.cdc.column'='op')")
        // ONE commit carrying a delete marker: every bucket is a single
        // non-tombstone run (merge-free), but the scan still owes the
        // cdc != 'delete' filter — the columnar fast path would stream the
        // batch unfiltered and resurface id=3.
        spark.sql("INSERT INTO graft_cat.cs.cdc VALUES " +
          "(1, 'a', 'insert'), (2, 'b', 'insert'), (3, 'c', 'delete')")
        val scan = spark.sql("SELECT * FROM graft_cat.cs.cdc")
        assert(!scan.queryExecution.executedPlan.toString.contains("ColumnarToRow"),
          s"CDC scan must stay row-based (per-row delete filter):\n" +
            s"${scan.queryExecution.executedPlan}")
        assertRows(scan, Seq("[1,a,insert]", "[2,b,insert]"))
      } finally spark.sql("DROP TABLE IF EXISTS graft_cat.cs.cdc")
    }
  }
}
