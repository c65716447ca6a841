package graft

import org.apache.spark.sql.functions._

import graft.tables.GraftTable

/** The additive-schema-merge gate (reference: SchemaEnforcementSuite /
  * LakeSoulOptions.MERGE_SCHEMA_OPTION). This engine DEFAULTS to allowing
  * additive evolution (documented divergence — the reference defaults to
  * reject); the gate gives deployments the reference's strict behavior:
  * precedence writer option > table property > session conf. */
class SchemaMergeGateSuite extends SparkFixture {
  import spark.implicits._

  private def base = Seq((1L, 10), (2L, 20)).toDF("id", "v")
  private def extra = Seq((3L, 30, "x")).toDF("id", "v", "extra")

  test("table property graft.schema.autoMerge=false rejects new columns") {
    withTempPath { path =>
      val t = GraftTable.create(spark, base, path,
        hashColumns = Seq("id"), bucketNum = 2,
        properties = Map(GraftTable.AutoMergeProp -> "false"))
      val e = intercept[IllegalArgumentException](t.upsert(extra))
      assert(e.getMessage.contains("mergeSchema"), e.getMessage)
      assert(t.schema.fieldNames.toSeq == Seq("id", "v"), "schema must not move")
      // same-shape batches still write
      t.upsert(Seq((2L, 99)).toDF("id", "v"))
      assert(t.toDF.filter($"id" === 2L).head().getInt(1) == 99)
      // the per-handle override re-opens it for one writer
      t.withMergeSchema(true).upsert(extra)
      assert(t.schema.fieldNames.toSeq == Seq("id", "v", "extra"))
    }
  }

  test("a malformed boolean setting fails naming its key") {
    def rejects(key: String)(write: => Unit): Unit = {
      val e = intercept[IllegalArgumentException](write)
      assert(e.getMessage.contains(key) && e.getMessage.contains("yes"),
        e.getMessage)
    }
    withTempPath { path =>
      val t = GraftTable.create(spark, base, path,
        hashColumns = Seq("id"), bucketNum = 2,
        properties = Map(GraftTable.AutoMergeProp -> "yes"))
      rejects(GraftTable.AutoMergeProp)(t.upsert(extra))
    }
    withTempPath { path =>
      val t = GraftTable.create(spark, base, path,
        hashColumns = Seq("id"), bucketNum = 2)
      spark.conf.set(GraftTable.AutoMergeConf, "yes")
      try rejects(GraftTable.AutoMergeConf)(t.upsert(extra))
      finally spark.conf.unset(GraftTable.AutoMergeConf)
    }
    withTempPath { path =>
      val t = GraftTable.create(spark,
        Seq((1L, "p1", 10)).toDF("id", "part", "v"), path,
        rangeColumns = Seq("part"), hashColumns = Seq("id"), bucketNum = 1)
      spark.conf.set("spark.graft.allowFullTableUpsert", "yes")
      try rejects("spark.graft.allowFullTableUpsert")(
        t.upsert(Seq((1L, "p1", 11)).toDF("id", "part", "v"), "v > 0"))
      finally spark.conf.unset("spark.graft.allowFullTableUpsert")
    }
  }

  test("session conf rejects; writer option mergeSchema=true overrides") {
    withTempPath { path =>
      base.write.format("graft")
        .option("hashPartitions", "id").option("hashBucketNum", "2")
        .save(path)
      spark.conf.set(GraftTable.AutoMergeConf, "false")
      try {
        val e = intercept[Exception] {
          extra.write.format("graft").mode("append").save(path)
        }
        assert(e.getMessage.contains("mergeSchema"), e.getMessage)
        extra.write.format("graft").mode("append")
          .option("mergeSchema", "true").save(path)
        val got = spark.read.format("graft").load(path)
        assert(got.schema.fieldNames.toSeq == Seq("id", "v", "extra"))
        assert(got.count() == 3)
      } finally spark.conf.unset(GraftTable.AutoMergeConf)
    }
  }

  test("a streaming micro-batch with new columns fails loudly when the " +
    "gate is closed (reference: reject schema changes - streaming)") {
    withTempPath { dir =>
      import org.apache.spark.sql.streaming.Trigger
      val src = GraftTable.create(spark,
        Seq((1L, "a", "x")).toDF("id", "v", "extra"), s"$dir/src",
        hashColumns = Seq("id"), bucketNum = 1)
      // sink starts NARROWER than the source will deliver
      GraftTable.create(spark, Seq((0L, "z")).toDF("id", "v"), s"$dir/out",
        hashColumns = Seq("id"), bucketNum = 1)
      spark.conf.set(GraftTable.AutoMergeConf, "false")
      try {
        def run() = {
          val q = spark.readStream.format("graft").load(s"$dir/src")
            .writeStream.format("graft")
            .option("path", s"$dir/out")
            .option("checkpointLocation", s"$dir/ckpt")
            .trigger(Trigger.AvailableNow()).start()
          q.awaitTermination(120000)
        }
        val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
          run()
        }
        val msg = Option(e.getCause).map(_.toString).getOrElse("") + e.getMessage
        assert(msg.contains("mergeSchema"), s"expected the gate error, got: $msg")
        assert(GraftTable.forPath(spark, s"$dir/out").schema.fieldNames.toSeq
          == Seq("id", "v"), "sink schema must not move")
        // opening the gate lets the SAME stream land and evolve the sink
        spark.conf.set(GraftTable.AutoMergeConf, "true")
        run()
        val out = GraftTable.forPath(spark, s"$dir/out")
        assert(out.schema.fieldNames.toSeq == Seq("id", "v", "extra"))
        assert(out.toDF.count() == 2)
      } finally spark.conf.unset(GraftTable.AutoMergeConf)
    }
  }

  test("writer option mergeSchema=false rejects even with the open default") {
    withTempPath { path =>
      base.write.format("graft")
        .option("hashPartitions", "id").option("hashBucketNum", "2")
        .save(path)
      val e = intercept[Exception] {
        extra.write.format("graft").mode("append")
          .option("mergeSchema", "false").save(path)
      }
      assert(e.getMessage.contains("mergeSchema"), e.getMessage)
      assert(spark.read.format("graft").load(path)
        .schema.fieldNames.toSeq == Seq("id", "v"))
    }
  }
}
