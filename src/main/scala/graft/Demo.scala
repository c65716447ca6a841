package graft

import java.nio.file.Files
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.tables.{GraftMerge, GraftTable, MergeMatchedClause, MergeNotMatchedClause}

/** Library smoke driver: full table lifecycle on the real sf0.001 testdata.
  * Run: sbt "runMain graft.Demo" */
object Demo {
  def main(args: Array[String]): Unit = {
    val spark = SparkSession.builder()
      .master("local[8]")
      .appName("graft-demo")
      .config("spark.sql.shuffle.partitions", "8")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.sql.GraftSparkExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val sf = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val dir = Files.createTempDirectory("graft-demo-").toFile.getAbsolutePath

    val orders = spark.read.parquet(s"$sf/orders.parquet")
    println(s"source orders rows = ${orders.count()}")

    val t = GraftTable.create(spark, orders, s"$dir/orders_t",
      rangeColumns = Seq("o_orderpriority"), hashColumns = Seq("o_orderkey"),
      bucketNum = 4)
    println(s"table rows after create = ${t.toDF.count()}")
    val ts1 = t.lastCommitTs

    // upsert: bump totalprice for 100 orders + insert 5 brand-new keys
    val mod = orders.limit(100).withColumn("o_totalprice", col("o_totalprice") * 2)
    val fresh = orders.limit(5)
      .withColumn("o_orderkey", col("o_orderkey") + lit(10_000_000L))
    t.upsert(mod.unionByName(fresh))
    val after = t.toDF
    println(s"rows after upsert = ${after.count()} (expect +5)")
    println(s"doubled rows = ${
      after.join(orders.limit(100).select(col("o_orderkey"),
        (col("o_totalprice") * 2).as("exp")), "o_orderkey")
        .filter(col("o_totalprice") === col("exp")).count()} (expect 100)")
    println(s"time-travel rows @ts1 = ${t.snapshotAt(ts1).count()}")
    println(s"incremental rows = ${t.incremental(ts1, t.lastCommitTs).count()} (expect 105)")

    // whole-table RESTORE: roll the upsert off every partition in one atomic
    // meta commit, check we are back at the create snapshot, then restore
    // forward again (the restore is itself a commit, so it is undoable)
    val tsAfterUpsert = t.lastCommitTs
    t.restoreToTimestamp(ts1)
    println(s"rows after restore to ts1 = ${t.toDF.count()} (expect ${orders.count()})")
    t.restoreToTimestamp(tsAfterUpsert)
    println(s"rows after restore forward = ${t.toDF.count()} (expect +5 again)")
    println(s"diff change feed = ${
      t.diff(ts1, t.lastCommitTs).groupBy("_change_type").count()
        .orderBy("_change_type").collect().map(r => s"${r.get(0)}=${r.get(1)}")
        .mkString(", ")} (expect insert=5, update pre=100, post=100)")

    // general MERGE INTO clauses (API): delete cheap matched orders, bump the
    // rest, insert unmatched keys shifted into a new range
    val mergeSrc = orders.limit(20)
      .select(col("o_orderkey").as("k"), col("o_totalprice").as("p"))
      .unionByName(orders.limit(3).select(
        (col("o_orderkey") + 20_000_000L).as("k"), col("o_totalprice").as("p")))
    val beforeMerge = t.toDF.count()
    t.mergeIntoClauses(mergeSrc, Map("o_orderkey" -> "k"),
      matched = Seq(
        MergeMatchedClause(Some(GraftMerge.source("p") < 1000), None),
        MergeMatchedClause(None,
          Some(Map("o_totalprice" -> (GraftMerge.target("o_totalprice") + lit(1)))))),
      notMatched = Seq(MergeNotMatchedClause(None, Map(
        "o_orderkey" -> GraftMerge.source("k"),
        "o_custkey" -> lit(0L),
        "o_orderstatus" -> lit("M"),
        "o_totalprice" -> GraftMerge.source("p"),
        "o_orderdate" -> lit(java.sql.Date.valueOf("2026-01-01")),
        "o_orderpriority" -> lit("5-LOW")))))
    println(s"rows after clause-merge = ${t.toDF.count()} (was $beforeMerge, +3 inserts - matched deletes)")
    println(s"clause-merge inserted = ${
      t.toDF.filter(col("o_orderstatus") === "M").count()} (expect 3)")

    // nested-struct-field UPDATE (r12): pack a struct, update one leaf,
    // siblings must survive and a conflicting path must be rejected
    {
      val npath = java.nio.file.Files.createTempDirectory("graft-demo-nested-").toString
      val nt = GraftTable.create(spark,
        t.toDF.limit(50).select(col("o_orderkey"),
          struct(col("o_custkey").as("a"), col("o_orderstatus").as("b")).as("st")),
        npath, hashColumns = Seq("o_orderkey"), bucketNum = 2)
      nt.update(col("o_orderkey") % 2 === 0, Map("st.a" -> lit(-7L)))
      println(s"nested update: a=-7 rows = ${
        nt.toDF.filter(col("st.a") === -7L).count()} (expect ~25, even keys); " +
        s"siblings intact = ${nt.toDF.filter(col("st.b").isNull).count() == 0}")
      val conflict = try { nt.update(lit(true),
        Map("st" -> lit(null), "st.a" -> lit(1L))); "NOT REJECTED" }
      catch { case e: UnsupportedOperationException => "rejected (expected)" }
      println(s"conflicting SET st + st.a: $conflict")
      nt.dropTable()
    }

    t.delete(col("o_orderstatus") === "F")
    println(s"rows after delete F = ${t.toDF.count()}")
    t.compaction()
    println(s"rows after compaction = ${t.toDF.count()} ; runs/partition = ${
      t.partitions.map(_.snapshot.size).max}")
    t.toDF.filter(col("o_orderkey") < 100).show(5, false)

    // pipeline operators on the real documents/embeddings tables
    graft.functions.GraftFunctions.register(spark)
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val embs = spark.read.parquet(s"$sf/embeddings.parquet")
    println(s"docs = ${docs.count()}, after exact dedup = ${
      graft.pipeline.Dedup.exact(docs, "doc_id", "text").count()}")
    graft.pipeline.TextAnalysis.documentStats(docs)
      .select("doc_id", "n_tokens", "quality", "lang_pred").show(3, false)
    println("minhash near-dup pairs (jaccard>=0.7): " +
      graft.pipeline.Dedup.minhashNearDupPairs(docs, "doc_id", "text", 0.7).count())
    val q0 = embs.filter(col("vec_id") === 0).select("embedding").head.getSeq[Float](0).toArray
    println("ANN brute-force top-5 of vec 0:")
    graft.pipeline.Similarity.bruteForceTopK(embs, "vec_id", "embedding", q0, 5).show(false)
    println("kmeans (k=4, 2 iters) cluster sizes: " +
      graft.pipeline.Similarity.kmeans(embs, "vec_id", "embedding", 4, 2)
        .groupBy("cluster").count().orderBy("cluster")
        .collect().map(r => s"${r.getLong(0)}:${r.getLong(1)}").mkString(" "))
    println("pii scrub sample: " + spark.range(1)
      .select(graft.pipeline.TextAnalysis.scrubPii(
        lit("mail bob@x.org from 10.0.0.1 or +1 555 0100")).as("s"))
      .head.getString(0))
    locally {
      val gf = graft.pipeline.TextAnalysis.gopherFilter(docs, minTokens = 20)
      val n = Seq("flag_tokens", "flag_word_len", "flag_punct", "flag_stopwords")
        .map(f => s"$f=${gf.filter(col(f)).count()}").mkString(" ")
      // synthetic vocab carries only 'the' of the 8 canonical stopwords, so
      // flag_stopwords (and keep) are 0 here by construction
      println(s"gopher rules over ${docs.count()} docs: $n keep=" +
        gf.filter(col("keep")).count())
    }
    println("temperature sample (alpha=0.5) keeps " +
      graft.pipeline.Sampling.temperatureSample(docs, "doc_id", "lang", 0.5)
        .count() + " docs")
    println("chunking (w=32, s=16) yields " +
      graft.pipeline.Packing.chunkDocuments(docs, "doc_id", "text", 32, 16)
        .count() + " chunks")

    // DataSource surface: format("graft") batch write/read + options
    val fmtPath = s"$dir/fmt_t"
    orders.limit(500).write.format("graft")
      .option("hashPartitions", "o_orderkey").option("hashBucketNum", "4")
      .save(fmtPath)
    orders.limit(50).withColumn("o_totalprice", col("o_totalprice") * 2)
      .write.format("graft").mode("append").save(fmtPath)
    val viaFmt = spark.read.format("graft").load(fmtPath)
    println(s"format(graft) rows = ${viaFmt.count()} (expect 500), doubled = ${
      viaFmt.join(orders.limit(50).select(col("o_orderkey"),
        (col("o_totalprice") * 2).as("exp")), "o_orderkey")
        .filter(col("o_totalprice") === col("exp")).count()} (expect 50)")
    println(s"pk lookup = ${
      GraftTable.forPath(spark, fmtPath).lookupByPk(Seq(1L)).count()} row(s)")

    // SQL CALL procedures + maintenance surface
    val parser = new graft.sql.GraftSqlParser(spark.sessionState.sqlParser)
    def call(sql: String) = parser.parsePlan(sql)
      .asInstanceOf[graft.sql.GraftCallCommand].run(spark).head.getString(0)
    println("CALL graft.compaction -> " +
      call(s"CALL graft.compaction(table_path => '$fmtPath')"))
    println("CALL graft.vacuum -> " +
      call(s"CALL graft.vacuum(table_path => '$fmtPath')"))
    println(s"runs after CALL compaction = ${
      GraftTable.forPath(spark, fmtPath).liveFiles.map(_.commitOrdinal).distinct.size}")

    // KNN join + corpus shuffle probes
    locally {
      val embs = spark.read.parquet(s"$sf/embeddings.parquet")
      val knn = graft.pipeline.Similarity.annJoin(
        embs.filter(col("vec_id") % 100 === 0), "vec_id", "embedding",
        embs, "vec_id", "embedding", k = 3, nlist = 8, nprobe = 8)
      println(s"knn join rows = ${knn.count()} (expect 15), self-top1 = ${
        knn.filter(col("rank") === 1 && col("query_id") === col("corpus_id"))
          .count()} (expect 5)")
      val q0 = embs.filter(col("vec_id") === 0).select("embedding")
        .head.getSeq[Float](0).toArray
      val bq = graft.pipeline.Similarity.annSearchQuantized(
        embs, "vec_id", "embedding", q0, k = 5, nlist = 8, nprobe = 4)
      println(s"ivf-bq top-5 ids = ${bq.collect().map(_.getLong(0)).mkString(",")}")
      val curated = graft.pipeline.TrainingSet.curate(
        docs, "doc_id", "text", None,
        graft.pipeline.TrainingSet.Config(
          qualityPred = Some(col("flag_tokens")), minTokens = 20,
          minhashThreshold = 0.8, chunkWindow = 64, numShards = 8))
      println(s"curated training set: ${curated.count()} chunks in ${
        curated.select("shard").distinct().count()} shards from ${docs.count()} docs")
      val lm = graft.pipeline.LanguageModel.bigramScore(docs, "doc_id", "text")
      println(s"bigram-LM scored ${lm.count()} docs, avg logp = ${
        lm.agg(round(avg(col("avg_logp")), 3)).head.getDouble(0)}")
      val sh = graft.pipeline.Shuffle.shuffleShards(docs, "doc_id", 4, "demo")
      println(s"corpus shuffle shards = ${
        sh.select("shard").distinct().count()} (expect 4), rows = ${sh.count()}")
    }

    // reference-API parity surface: string-expr DML, builder, TTLs, cleanup
    locally {
      val p = GraftTable.createTable(orders.limit(100), s"$dir/parity_t")
        .hashPartitions("o_orderkey").hashBucketNum(2)
        .shortTableName("demo_parity").tableProperty("who" -> "demo")
        .create()
      p.updateExpr("o_orderkey = 1", Map("o_totalprice" -> "o_totalprice + 1"))
      p.delete("o_orderkey = 2")
      println(s"builder+updateExpr+delete rows = ${p.toDF.count()} (expect 99)")
      p.setPartitionTtl(30).setCompactionTtl(0)
      p.upsert(orders.limit(10))
      p.compaction()
      println(s"cleanExpiredRedundantData deleted = ${p.cleanExpiredRedundantData()} files")
      println(s"cleanupPartitionData deleted = ${
        p.cleanupPartitionData(graft.meta.TableInfo.RootPartition,
          System.currentTimeMillis())} more (expect 0 after vacuum)")
      GraftTable.uncached(s"$dir/parity_t")
      // the upsert above re-inserted the deleted key -> back to 100
      println(s"rows after uncached re-read = ${p.toDF.count()} (expect 100)")
    }

    // catalog: metadata tables + aggregate pushdown
    locally {
      spark.conf.set("spark.sql.catalog.graft_cat", "graft.catalog.GraftCatalogV2")
      graft.catalog.GraftCatalog.register(spark, "demo.orders", s"$dir/orders_t")
      val agg = spark.sql(
        "SELECT count(*), min(o_orderkey) FROM graft_cat.demo.orders")
      val metaOnly = agg.queryExecution.executedPlan.toString.contains("LocalTableScan")
      println(s"agg pushdown plan metadata-only = $metaOnly, " +
        s"count/min = ${agg.head.toString}")
      println(s"t$$files rows = ${
        spark.sql("SELECT count(*) FROM graft_cat.demo.`orders$files`").head.getLong(0)
      }, history commits = ${
        spark.sql("SELECT count(*) FROM graft_cat.demo.`orders$history`").head.getLong(0)}")
    }

    // paced streaming backfill: AvailableNow + maxCommitsPerTrigger drains
    // a 3-commit backlog in bounded micro-batches
    locally {
      val pt = GraftTable.create(spark, orders.limit(40), s"$dir/paced_t",
        hashColumns = Seq("o_orderkey"), bucketNum = 2)
      pt.upsert(orders.limit(60))
      pt.upsert(orders.limit(80))
      graft.catalog.GraftCatalog.register(spark, "demo.paced", s"$dir/paced_t")
      val q = spark.readStream
        .option("maxCommitsPerTrigger", "1")
        .table("graft_cat.demo.paced")
        .writeStream.format("memory").queryName("demo_paced")
        .option("checkpointLocation", s"$dir/paced_ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(120000)
      val batches = q.recentProgress.map(_.numInputRows).filter(_ > 0)
      println(s"paced backfill batches = ${batches.length} (expect 3), " +
        s"rows = ${spark.table("demo_paced").count()} (expect 180)")
      // readStartTime: a stream seeded after the 2nd commit sees only the 3rd
      val startTs = pt.commitBatches(0L, pt.lastCommitTs).map(_.ts).sorted.apply(1)
      val q2 = spark.readStream.option("readStartTime", startTs.toString)
        .table("graft_cat.demo.paced")
        .writeStream.format("memory").queryName("demo_paced2")
        .option("checkpointLocation", s"$dir/paced_ckpt2")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q2.awaitTermination(120000)
      println(s"readStartTime stream rows = ${
        spark.table("demo_paced2").count()} (expect 80)")
    }

    // materialized view: incremental refresh + compaction-invariant read
    locally {
      import graft.pipeline.MaterializedView
      import graft.pipeline.MaterializedView.Measure
      val src = GraftTable.create(spark, orders.limit(50), s"$dir/mv_src")
      val view = MaterializedView.create(spark, s"$dir/mv_src", s"$dir/mv_view",
        keys = Seq("o_orderstatus"), measures = Seq(
          Measure("total", "CAST(o_totalprice AS DECIMAL(18,2))", "sum"),
          Measure("cnt", "1", "count")))
      MaterializedView.refresh(spark, s"$dir/mv_view")
      src.append(orders.limit(120).exceptAll(orders.limit(50)))
      MaterializedView.refresh(spark, s"$dir/mv_view")
      val viewCnt = MaterializedView.read(spark, s"$dir/mv_view")
        .agg(org.apache.spark.sql.functions.sum("cnt")).head.getLong(0)
      view.compaction()
      val afterCnt = MaterializedView.read(spark, s"$dir/mv_view")
        .agg(org.apache.spark.sql.functions.sum("cnt")).head.getLong(0)
      println(s"mview counted rows = $viewCnt (expect 120), " +
        s"after compaction = $afterCnt (expect 120)")
    }

    // secondary index: bucket-pruned non-PK point lookup
    locally {
      import graft.tables.SecondaryIndex
      val src = GraftTable.create(spark, orders.limit(100), s"$dir/si_src",
        hashColumns = Seq("o_orderkey"), bucketNum = 4)
      SecondaryIndex.create(spark, s"$dir/si_src", s"$dir/si_idx",
        "o_orderstatus", bucketNum = 4)
      SecondaryIndex.refresh(spark, s"$dir/si_idx")
      val hits = SecondaryIndex.lookup(spark, s"$dir/si_idx", "O").count()
      val direct = src.toDF.filter(
        org.apache.spark.sql.functions.col("o_orderstatus") === "O").count()
      println(s"secondary index lookup = $hits rows (direct filter $direct)")
    }

    // shallow clone: metadata-only snapshot copy
    locally {
      val c = t.cloneTo(s"$dir/orders_clone")
      println(s"shallow clone rows = ${c.toDF.count()} " +
        s"(source ${t.toDF.count()}), files referenced = ${
          c.liveFiles.count(_.file.path.contains("orders_t"))}")
    }

    // transparent MV rewrite: the SQL aggregate answered from the view
    locally {
      import graft.pipeline.MaterializedView
      import graft.pipeline.MaterializedView.Measure
      // needs an insert-only source: demo.orders carries update/delete
      // history (the guard above correctly rejects it), so use a fresh one
      GraftTable.create(spark, orders.limit(200), s"$dir/rw_src")
      graft.catalog.GraftCatalog.register(spark, "demo.rw_src", s"$dir/rw_src")
      MaterializedView.create(spark, s"$dir/rw_src", s"$dir/rw_view",
        keys = Seq("o_orderstatus"), measures = Seq(Measure("cnt", "1", "count")))
      MaterializedView.refresh(spark, s"$dir/rw_view")
      MaterializedView.enableRewrite(spark, s"$dir/rw_view")
      try {
        val df = spark.sql("SELECT o_orderstatus, COUNT(*) AS cnt " +
          "FROM graft_cat.demo.rw_src GROUP BY o_orderstatus")
        val rewritten = !df.queryExecution.optimizedPlan.toString.contains("Aggregate")
        println(s"mview rewrite applied = $rewritten (expect true), " +
          s"groups = ${df.count()} (expect 3)")
      } finally MaterializedView.disableRewrite(spark, s"$dir/rw_view")
    }

    // rewrite-free DML family: tombstone delete, delta update, delta
    // merge, and change-feed replication — none may rewrite a data file
    locally {
      val cust = spark.read.parquet(s"$sf/customer.parquet")
      val a = GraftTable.create(spark, cust, s"$dir/dml_a",
        hashColumns = Seq("c_custkey"), bucketNum = 4)
      val b = GraftTable.create(spark, cust, s"$dir/dml_b",
        hashColumns = Seq("c_custkey"), bucketNum = 4)
      val ts0 = a.lastCommitTs
      val before = a.liveFiles.map(_.file.path).toSet
      a.deleteTombstone(col("c_acctbal") < 0)
      a.updateDelta(col("c_mktsegment") === "BUILDING",
        Map("c_acctbal" -> (col("c_acctbal") + 1)))
      val untouched = before.subsetOf(a.liveFiles.map(_.file.path).toSet)
      val expect = cust.filter(!(col("c_acctbal") < 0)).count()
      println(s"tombstone delete + delta update rows = ${a.toDF.count()} " +
        s"(expect $expect), data files untouched = $untouched (expect true)")
      Thread.sleep(2)
      b.applyChanges(a.diff(ts0, System.currentTimeMillis()))
      println(s"applyChanges replica matches = ${
        b.toDF.count() == a.toDF.count()} (expect true)")
      val cursor = b.replicateFrom(a)
      println(s"replicateFrom cursor = ${cursor > 0} (expect true)")
      val callDiff = spark.sql("CALL graft.diff(table_path => '" +
        a.tablePath + s"', from_ts => '$ts0')").count()
      println(s"CALL graft.diff change rows = $callDiff (expect > 0)")
      a.compaction()
      println(s"post-compaction rows = ${a.toDF.count()} (expect $expect), " +
        s"tombstones gone = ${!a.liveFiles.exists(f =>
          graft.meta.Tombstone.isTombstone(f.file))} (expect true)")
    }

    // r15: incremental window SPANNING a re-bucket — one scan task per new
    // bucket, old-mapping runs filtered into it, instead of the
    // one-task-per-partition cross merge; last epoch must win per key
    locally {
      val rb = GraftTable.create(spark, orders.limit(300)
        .select(col("o_orderkey"), col("o_totalprice")), s"$dir/rb_t",
        hashColumns = Seq("o_orderkey"), bucketNum = 4)
      val w0 = rb.lastCommitTs
      rb.upsert(orders.limit(300).select(col("o_orderkey"),
        (col("o_totalprice") + 1).as("o_totalprice")))
      rb.compaction(graft.tables.CompactionOptions(newBucketNum = Some(8)), _ => true)
      rb.upsert(orders.limit(300).select(col("o_orderkey"),
        (col("o_totalprice") + 2).as("o_totalprice")))
      val win = rb.incremental(w0, rb.lastCommitTs)
      val n = win.count()
      val parts = win.rdd.getNumPartitions
      println(s"rebucket-straddling incremental rows = $n (expect 300), " +
        s"merge parallelism = $parts (expect 8 = new bucketNum)")
      // DOWN-re-bucket with pending deltas + a tombstone run: the rewrite
      // reads old-mapping files whose ids exceed the new count (r15 fix)
      rb.deleteTombstone(col("o_orderkey") <= 10)
      rb.compaction(graft.tables.CompactionOptions(newBucketNum = Some(2)), _ => true)
      println(s"after DOWN-rebucket 8->2 with tombstones: rows = ${rb.toDF.count()}" +
        s" (expect ${300 - orders.limit(300).filter(col("o_orderkey") <= 10).count()})")
    }

    // r16: a streaming BACKFILL whose window spans a re-bucket — the
    // candidate batch is cut at the flip boundary, so the catch-up runs as
    // two mapping-consistent bucket-parallel batches instead of one
    // cross-grouped single-task batch
    locally {
      val sb = GraftTable.create(spark, orders.limit(200)
        .select(col("o_orderkey"), col("o_totalprice")), s"$dir/sb_t",
        hashColumns = Seq("o_orderkey"), bucketNum = 2)
      Thread.sleep(50)
      sb.compaction(graft.tables.CompactionOptions(newBucketNum = Some(4)), _ => true)
      Thread.sleep(50)
      sb.upsert(orders.limit(100).select(col("o_orderkey"),
        (col("o_totalprice") + 5).as("o_totalprice")))
      graft.catalog.GraftCatalog.register(spark, "demo.sb", s"$dir/sb_t")
      val q = spark.readStream.table("graft_cat.demo.sb")
        .writeStream.format("memory").queryName("demo_sb")
        .option("checkpointLocation", s"$dir/sb_ckpt")
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination(120000)
      val batches = q.recentProgress.map(_.numInputRows).filter(_ > 0)
      println(s"rebucket backfill batches = ${batches.mkString("+")} " +
        s"(expect 200+100: cut at the flip), total = ${
          spark.table("demo_sb").count()} (expect 300)")
    }

    // error-path probes
    try { GraftTable.create(spark, orders, s"$dir/orders_t") }
    catch { case e: Exception => println(s"probe double-create -> ${e.getMessage}") }
    val noPk = GraftTable.create(spark, orders.limit(10), s"$dir/nopk_t")
    try { noPk.upsert(orders.limit(1)) }
    catch { case e: Exception => println(s"probe upsert-no-pk -> ${e.getMessage}") }
    try { t.upsert(orders.limit(1).drop("o_orderkey")) }
    catch { case e: Exception => println(s"probe upsert-missing-pk-col -> ${e.getMessage}") }
    spark.stop()
  }
}
