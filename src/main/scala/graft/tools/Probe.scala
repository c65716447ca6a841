package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.tables.GraftTable

/** Scratch micro-benchmark main: breaks down the MOR-read cost after 10
  * upserts (merge CPU vs file-open overhead) and compares the two
  * bucketed-join execution paths (library RDD merge join vs Catalyst
  * storage-partitioned join) with table builds excluded from timing. */
object Probe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.sql.shuffle.partitions", 32)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.extensions", "graft.sql.GraftSparkExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def time(tag: String)(body: => Any): Unit = {
      val t0 = System.nanoTime()
      val r = body
      println(f"[probe] $tag: ${(System.nanoTime() - t0) / 1e9}%.3f s ($r)")
    }
    time("warm job")(spark.range(1000000L).count())

    // ---------------- MOR read breakdown -----------------------------
    val orders = spark.read.parquet(s"$sfDir/orders.parquet")
    val dir = java.nio.file.Files.createTempDirectory("graft-probe-").toFile.getAbsolutePath
    val t = GraftTable.create(spark, orders, dir,
      hashColumns = Seq("o_orderkey"), bucketNum = 32)
    val batch = orders.filter(col("o_orderkey") % 5 === 0)
      .withColumn("o_totalprice", col("o_totalprice") * 2)
    batch.cache().count()
    (1 to 10).foreach(_ => t.upsert(batch))
    batch.unpersist()
    val files = t.liveFiles.map(_.file.path)
    println(s"[probe] files = ${files.size}")
    time("merged read 1")(t.toDF.count())
    time("merged read 2")(t.toDF.count())
    time("merged read 3")(t.toDF.count())
    // file-open overhead floor: same 352 files, 32 tasks, no merge
    time("raw 352-file scan, 32 tasks")(
      spark.read.parquet(files: _*).coalesce(32).count())
    t.compaction()
    time("compacted read 1")(t.toDF.count())
    time("compacted read 2")(t.toDF.count())

    // ---------------- upsert cost breakdown ----------------------------
    // where a 0.7-0.8 s sf0.1 upsert goes: the Spark write job
    // (preMerge shuffle + 32-file parquet write) vs footer-stats
    // collection vs the meta commit. Raw write = the floor Spark itself
    // pays for the same shuffle+sort+write without any table format.
    {
      val b2 = orders.filter(col("o_orderkey") % 5 === 0)
        .withColumn("o_totalprice", col("o_totalprice") * 2)
      b2.cache().count()
      time("upsert x3 (stats ON)")((1 to 3).foreach(_ => t.upsert(b2)))
      time("writeFiles only x3")((1 to 3).foreach(_ =>
        graft.write.TransactionalWrite.writeFiles(
          spark, t.info, b2, graft.meta.CommitOp.Merge)))
      val ndir = java.nio.file.Files
        .createTempDirectory("graft-probe-nostats-").toFile.getAbsolutePath
      val nt = GraftTable.create(spark, orders, ndir,
        hashColumns = Seq("o_orderkey"), bucketNum = 32,
        properties = Map(graft.write.FileStatsCollector.EnabledProp -> "false"))
      time("upsert x3 (stats OFF)")((1 to 3).foreach(_ => nt.upsert(b2)))
      time("raw shuffle+sort+write x3")((1 to 3).foreach { i =>
        b2.repartition(32, col("o_orderkey"))
          .sortWithinPartitions("o_orderkey")
          .write.mode("overwrite").parquet(s"/tmp/probe-raw-$i")
      })
      b2.unpersist()
    }

    // ---------------- bucketed join, builds untimed -------------------
    val cst = spark.read.parquet(s"$sfDir/customer.parquet")
      .select(col("c_custkey").as("custkey"), col("c_name"), col("c_mktsegment"))
    val ordAgg = orders.groupBy(col("o_custkey").as("custkey"))
      .agg(count(lit(1)).as("n_orders"))
    val t1 = GraftTable.create(spark, cst,
      java.nio.file.Files.createTempDirectory("bjl-").toFile.getAbsolutePath,
      hashColumns = Seq("custkey"), bucketNum = 32)
    val t2 = GraftTable.create(spark, ordAgg,
      java.nio.file.Files.createTempDirectory("bjr-").toFile.getAbsolutePath,
      hashColumns = Seq("custkey"), bucketNum = 32)
    // a storage-partitioned join: no exchange, no sort
    time("bucketedJoin (SPJ) 1")(t1.bucketedJoin(t2).count())
    time("bucketedJoin (SPJ) 2")(t1.bucketedJoin(t2).count())

    // ---------------- dedup_minhash breakdown --------------------------
    graft.functions.GraftFunctions.register(spark)
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    time("docs read")(docs.count())
    val sig = docs.select(col("doc_id").as("_g_id"),
      graft.pipeline.Dedup.minhashSignature(col("text")).as("_g_sig"))
    time("signatures")(sig.count())
    val cands = graft.pipeline.Dedup.minhashCandidates(docs, "doc_id", "text")
    time("candidates")(cands.count())
    time("full minhashNearDupPairs 1")(
      graft.pipeline.Dedup.minhashNearDupPairs(docs, "doc_id", "text", 0.8).count())
    time("full minhashNearDupPairs 2")(
      graft.pipeline.Dedup.minhashNearDupPairs(docs, "doc_id", "text", 0.8).count())

    // ---------------- file-skipping effectiveness ----------------------
    // lineitem clustered by l_shipdate: a narrow date-range scan must read
    // a handful of files; the same predicate with skipping disabled reads
    // everything. The skip ratio is the number that scales: at 100 TB the
    // same layout turns a week-of-data query into a per-week file subset.
    {
      val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
      val cdir = java.nio.file.Files
        .createTempDirectory("graft-probe-clus-").toFile.getAbsolutePath
      val ct = GraftTable.create(spark, li.repartition(32), cdir)
      ct.cluster(Seq("l_shipdate"), numFiles = 32)
      spark.conf.set("spark.graft.warehouse",
        java.nio.file.Files.createTempDirectory("probe-wh-").toFile.getAbsolutePath)
      graft.catalog.GraftCatalog.register(spark, "default.probe_li", cdir)
      spark.conf.set("spark.sql.catalog.graft_cat", "graft.catalog.GraftCatalogV2")
      // l_shipdate is TIMESTAMP_NTZ in the testdata: a LocalDateTime literal
      // keeps the predicate on the bare attribute (pushdown + skipping)
      val cut = li.agg(min(col("l_shipdate")))
        .head.getAs[java.time.LocalDateTime](0).plusDays(30)
      def scan() = spark.table("graft_cat.default.probe_li")
        .filter(col("l_shipdate") < lit(cut))
      val read = scan().rdd.getNumPartitions
      println(s"[probe] clustered scan: read $read of ${ct.liveFiles.size} files " +
        s"(rows = ${scan().count()})")
      time("clustered 30-day scan (skipping ON)")(scan().count())
      // baseline: same table, stats ignored (fresh table, stats disabled)
      val ddir = java.nio.file.Files
        .createTempDirectory("graft-probe-noclus-").toFile.getAbsolutePath
      val dt = GraftTable.create(spark, li.repartition(32), ddir,
        properties = Map(graft.write.FileStatsCollector.EnabledProp -> "false"))
      dt.cluster(Seq("l_shipdate"), numFiles = 32)
      graft.catalog.GraftCatalog.register(spark, "default.probe_li_off", ddir)
      def scanOff() = spark.table("graft_cat.default.probe_li_off")
        .filter(col("l_shipdate") < lit(cut))
      println(s"[probe] no-stats scan: read ${scanOff().rdd.getNumPartitions} " +
        s"of ${dt.liveFiles.size} files")
      time("clustered 30-day scan (skipping OFF)")(scanOff().count())
    }

    // ---------------- metadata store scaling ---------------------------
    // 1000-commit history: warm resolution must be a stat() (snapshot
    // cache), cold resolution pays one full log parse, and version-log
    // checkpointing restores cold resolution to O(heads).
    {
      import graft.meta._
      val mdir = java.nio.file.Files
        .createTempDirectory("graft-probe-meta-").toFile.getAbsolutePath
      val mt = GraftTable.create(spark, orders.limit(1000), mdir,
        hashColumns = Seq("o_orderkey"), bucketNum = 4)
      val store = MetaStore.default
      val desc = mt.partitions.head.partitionDesc
      time("1000 meta-only commits") {
        (1 to 1000).foreach { _ =>
          val head = store.listPartitionHeads(mdir)
            .find(_.partitionDesc == desc).map(_.version).getOrElse(-1)
          store.commit(mdir, Seq(DataCommitInfo(MetaStore.newCommitId(),
            desc, Nil, CommitOp.Merge, 0L)), Map(desc -> head))
        }
      }
      time("heads @1001 commits, warm store (stat-only)")(
        store.listPartitionHeads(mdir).size)
      time("heads @1001 commits, COLD store (full log parse)")(
        new FileMetaStore().listPartitionHeads(mdir).size)
      time("files @1001 commits, cold store (full fold)")(
        new GraftTable(spark, mdir, new FileMetaStore()).liveFiles.size)
      time("compactVersionLog (checkpoint heads)")(
        store.compactVersionLog(mdir, System.currentTimeMillis() + 60000))
      time("heads after checkpoint, cold store (O(heads))")(
        new FileMetaStore().listPartitionHeads(mdir).size)
      time("files after checkpoint, cold store")(
        new GraftTable(spark, mdir, new FileMetaStore()).liveFiles.size)
    }
    // ---------------- aggregate pushdown ------------------------------
    // COUNT/MIN/MAX from metadata (LocalTableScan) vs forced scan: the
    // metadata path is plan-time only and independent of table size.
    {
      spark.conf.set("spark.sql.catalog.graft_cat", "graft.catalog.GraftCatalogV2")
      spark.conf.set("spark.graft.warehouse", java.nio.file.Files
        .createTempDirectory("graft-probe-agg-").toFile.getAbsolutePath)
      spark.read.parquet(s"$sfDir/lineitem.parquet")
        .createOrReplaceTempView("probe_li_src")
      spark.sql("CREATE TABLE graft_cat.probe.li " +
        "PARTITIONED BY (bucket(32, l_orderkey)) AS SELECT * FROM probe_li_src")
      val sql = "SELECT count(*), min(l_orderkey), max(l_extendedprice) " +
        "FROM graft_cat.probe.li"
      val plan = spark.sql(sql).queryExecution.executedPlan.toString
      println(s"[probe] agg-pushdown plan is metadata-only: ${
        plan.contains("LocalTableScan") && !plan.contains("BatchScan")}")
      time("count/min/max via metadata (LocalTableScan)")(
        spark.sql(sql).collect().head)
      val t2 = GraftTable.forName(spark, "probe.li")
      time("count/min/max via full scan (pushdown disabled)") {
        t2.setProperties(Map("graft.aggPushdown.enabled" -> "false"))
        val r = spark.sql(sql).collect().head
        t2.unsetProperty("graft.aggPushdown.enabled")
        r
      }
    }
    spark.stop()
  }
}
