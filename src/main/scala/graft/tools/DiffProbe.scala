package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.tables.GraftTable

/** Kernel-vs-join probe for the snapshot diff (CDF): builds a bucketed
  * lineitem-scale PK table, applies an update + delete + upsert mix, then
  * times the ZERO-SHUFFLE bucket kernel against the full-outer-join form on
  * the identical version pair (min of 3 each, correctness cross-checked
  * row-for-row first). Then the same pair on a window across an 8->16
  * re-bucket: an 8-bucket copy of the table takes an upsert, the re-bucket
  * and a second upsert back to back, and the diff over all three is timed
  * against the join form. Runs on `local[*]`. */
object DiffProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = SparkSession.builder()
      .master("local[*]")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.extensions", "graft.sql.GraftSparkExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    def time(tag: String)(body: => Any): Unit = {
      val ts = (1 to 3).map { _ =>
        val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
      }
      println(f"[diffprobe] $tag: min ${ts.min}%.3f s (runs ${ts.map(t => f"$t%.3f").mkString(", ")})")
    }
    spark.range(1000000L).count() // warm

    val li = spark.read.parquet(s"$sfDir/lineitem.parquet")
      .withColumn("lid", col("l_orderkey") * 10 + col("l_linenumber"))
    val dir = java.nio.file.Files.createTempDirectory("graft-diffprobe-")
      .toFile.getAbsolutePath
    val t = GraftTable.create(spark, li, dir,
      hashColumns = Seq("lid"), bucketNum = 32)
    val ts1 = t.lastCommitTs
    t.update(col("lid") % 5 === 0, Map("l_quantity" -> (col("l_quantity") + 1)))
    t.delete("lid % 11 = 0 AND lid % 5 <> 0")
    t.upsert(li.filter(col("lid") % 13 === 0)
      .withColumn("l_quantity", col("l_quantity") * 2))
    val ts2 = t.lastCommitTs

    def compare(tag: String, tbl: GraftTable, a: Long, b: Long): Unit = {
      val kernel = tbl.diff(a, b)
      val joined = tbl.diffViaJoin(a, b)
      val nk = kernel.count(); val nj = joined.count()
      require(nk == nj && kernel.exceptAll(joined).isEmpty
        && joined.exceptAll(kernel).isEmpty,
        s"$tag: kernel ($nk rows) and join ($nj rows) forms disagree")
      println(s"[diffprobe] $tag: rows=$nk over ${li.count()} source rows; " +
        s"forms agree row-for-row; kernel tasks=${kernel.rdd.getNumPartitions}")
      time(s"$tag: diff kernel (zero-shuffle)")(kernel.count())
      time(s"$tag: diff via full-outer join")(joined.count())
    }
    compare("32 buckets", t, ts1, ts2)

    val rb = GraftTable.create(spark, li, dir + "-rebucket",
      hashColumns = Seq("lid"), bucketNum = 8)
    val rb1 = rb.lastCommitTs
    rb.upsert(li.filter(col("lid") % 7 === 0)
      .withColumn("l_quantity", col("l_quantity") + 1))
    rb.compaction(graft.tables.CompactionOptions(newBucketNum = Some(16)),
      _ => true)
    rb.upsert(li.filter(col("lid") % 13 === 0)
      .withColumn("l_quantity", col("l_quantity") * 2))
    compare("8->16 re-bucket window", rb, rb1, rb.lastCommitTs)
    spark.stop()
  }
}
