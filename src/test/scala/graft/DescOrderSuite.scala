package graft

import java.sql.Timestamp

import org.apache.spark.sql.types._

import graft.meta.TableInfo
import graft.tables.GraftTable
import graft.util.{DescOrder, SchemaUtil}
import graft.write.TransactionalWrite.{EmptySentinel, NullSentinel}

/** Typed run-concatenation order (DescOrder): a MOR run spans range
  * partitions, and the k-way merge's sorted-run invariant requires the
  * files in TYPED range order — desc-STRING order diverges for numeric
  * ranges ("part=10" < "part=9" as strings) and silently broke
  * last-writer-wins for keys upserted across such partitions. */
class DescOrderSuite extends SparkFixture {
  import spark.implicits._

  private def infoWith(schema: StructType, rangeCols: Seq[String]): TableInfo =
    TableInfo(tableId = "t", tablePath = "/tmp/x", schemaJson = schema.json,
      rangeColumns = rangeCols, hashColumns = Seq("id"), bucketNum = 1,
      properties = Map.empty)

  test("unit: int descs order typed, nulls first, strings by utf8 bytes") {
    val schema = StructType(Seq(
      StructField("part", IntegerType), StructField("id", LongType)))
    val ord = DescOrder.ordering(infoWith(schema, Seq("part")), schema)
    val descs = Seq("part=10", "part=9", "part=2", s"part=$NullSentinel", "part=100")
    assert(descs.sorted(ord) ==
      Seq(s"part=$NullSentinel", "part=2", "part=9", "part=10", "part=100"))

    val sSchema = StructType(Seq(
      StructField("part", StringType), StructField("id", LongType)))
    val sOrd = DescOrder.ordering(infoWith(sSchema, Seq("part")), sSchema)
    assert(Seq("part=b", s"part=$EmptySentinel", "part=a", s"part=$NullSentinel")
      .sorted(sOrd) ==
      Seq(s"part=$NullSentinel", s"part=$EmptySentinel", "part=a", "part=b"))
  }

  test("unit: multi-column, decimal and timestamp ordering") {
    val schema = StructType(Seq(
      StructField("d", DecimalType(10, 2)), StructField("ts", TimestampType),
      StructField("id", LongType)))
    val ord = DescOrder.ordering(infoWith(schema, Seq("d", "ts")), schema)
    val descs = Seq(
      "d=10.50,ts=2026-01-01 00:00:00",
      "d=9.50,ts=2026-01-01 00:00:00",
      "d=9.50,ts=2026-01-01 00:00:00.5",
      "d=9.50,ts=2026-01-01 00:00:00.15")
    assert(descs.sorted(ord) == Seq(
      "d=9.50,ts=2026-01-01 00:00:00",
      "d=9.50,ts=2026-01-01 00:00:00.15",
      "d=9.50,ts=2026-01-01 00:00:00.5",
      "d=10.50,ts=2026-01-01 00:00:00"))
  }

  test("MOR last-writer-wins across int range partitions (string/typed inversion)") {
    withTempPath { path =>
      val init = (1 to 5).flatMap(i =>
        Seq((i.toLong, 2, s"a$i"), (i.toLong, 10, s"b$i"))).toDF("id", "part", "v")
      val t = GraftTable.create(spark, init, path,
        rangeColumns = Seq("part"), hashColumns = Seq("id"), bucketNum = 1)
      t.upsert((1 to 5).flatMap(i =>
        Seq((i.toLong, 2, s"A$i"), (i.toLong, 10, s"B$i"))).toDF("id", "part", "v"))
      assert(t.toDF.count() == 10)
      val got = t.toDF.select("id", "part", "v").collect()
        .map(r => (r.getLong(0), r.getInt(1), r.getString(2))).toSet
      val want = (1 to 5).flatMap(i =>
        Seq((i.toLong, 2, s"A$i"), (i.toLong, 10, s"B$i"))).toSet
      assert(got == want, s"extra=${got -- want} missing=${want -- got}")
    }
  }

  test("MOR across null + numeric partitions through the DSv2 catalog scan") {
    withTempPath { path =>
      val init = Seq((1L, Some(2), "p2"), (2L, Some(10), "p10"), (3L, None, "pnull"))
        .toDF("id", "part", "v")
      val t = GraftTable.create(spark, init, path,
        rangeColumns = Seq("part"), hashColumns = Seq("id"), bucketNum = 1)
      t.upsert(Seq((1L, Some(2), "P2"), (3L, None, "PNULL")).toDF("id", "part", "v"))
      // DSv2 path: read through the datasource (GraftScanV2.planInputPartitions)
      val viaDs = spark.read.format("graft").load(path)
        .select("id", "part", "v").collect()
        .map(r => (r.getLong(0), if (r.isNullAt(1)) -1 else r.getInt(1),
          r.getString(2))).toSet
      assert(viaDs == Set((1L, 2, "P2"), (2L, 10, "p10"), (3L, -1, "PNULL")),
        s"got $viaDs")
      assert(t.toDF.count() == 3)
    }
  }

  test("timestamp range partitions merge correctly across sub-second descs") {
    withTempPath { path =>
      val ts1 = Timestamp.valueOf("2026-01-01 00:00:00.15")
      val ts2 = Timestamp.valueOf("2026-01-01 00:00:00.5")
      val t = GraftTable.create(spark,
        Seq((1L, ts1, "a"), (1L, ts2, "b")).toDF("id", "ts", "v"), path,
        rangeColumns = Seq("ts"), hashColumns = Seq("id"), bucketNum = 1)
      t.upsert(Seq((1L, ts1, "A"), (1L, ts2, "B")).toDF("id", "ts", "v"))
      assert(t.toDF.count() == 2)
      val got = t.toDF.select("ts", "v").collect()
        .map(r => (r.getTimestamp(0), r.getString(1))).toSet
      assert(got == Set((ts1, "A"), (ts2, "B")), s"got $got")
    }
  }

  test("re-upserting one DataFrame after a session time-zone change files " +
      "its rows under the new zone's partition desc") {
    withTempPath { path =>
      val instant = Timestamp.from(java.time.Instant.parse("2024-01-01T00:00:00Z"))
      def batch = Seq((1L, instant, "a")).toDF("id", "ts", "v")
      val t = GraftTable.create(spark, batch, path,
        rangeColumns = Seq("ts"), hashColumns = Seq("id"), bucketNum = 1)
      def descs = t.partitions.map(_.partitionDesc).toSet
      val same = batch
      t.upsert(same)
      assert(descs == Set("ts=2024-01-01 00:00:00"))
      try {
        spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
        t.upsert(same)
        val afterSame = descs
        t.upsert(batch) // an equal, freshly built DataFrame
        assert(afterSame == descs, s"same DataFrame: $afterSame, fresh: $descs")
        assert(descs == Set("ts=2024-01-01 00:00:00", "ts=2023-12-31 16:00:00"))
      } finally spark.conf.set("spark.sql.session.timeZone", "UTC")
    }
  }
}
