package graft.tools

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.tables.{CompactionOptions, GraftTable}

/** Scale probe for an incremental window spanning a RE-BUCKET, measured
  * through both read plans on the same synthesized table:
  *
  *  - SCAN (default): one task per bucket of the final mapping, each
  *    reading every older run that can hold its keys through a row filter
  *    ([[graft.read.GraftScan.epochPartitions]]).
  *  - ORACLE (forced via the plan-time toggle): one k-way merge task per
  *    RANGE PARTITION, i.e. ONE task total on this unpartitioned table,
  *    regardless of cores.
  *
  * Runs on every local core (`local[*]`). The oracle's wall-clock is bound
  * by one core's merge throughput while the scan divides by bucketNum.
  *
  * args: [initRows] [rowsPerUpsert] [oldBuckets] [newBuckets]
  * (defaults 4M / 2M / 16 / 32). Prints one summary line. */
object RebucketWindowProbe {
  def main(args: Array[String]): Unit = {
    val initRows = args.lift(0).map(_.toLong).getOrElse(4000000L)
    val perUpsert = args.lift(1).map(_.toLong).getOrElse(2000000L)
    val oldN = args.lift(2).map(_.toInt).getOrElse(16)
    val newN = args.lift(3).map(_.toInt).getOrElse(32)
    val spark = SparkSession.builder()
      .appName("graft-rebucket-window-probe").master("local[*]")
      .config("spark.ui.enabled", false)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._

    def rows(n: Long, base: Long, tag: Int) =
      spark.range(n).select((col("id") + base).as("k"),
        (col("id") % 997).cast("double").as("v"),
        concat(lit(s"t$tag-"), col("id") % 1000).as("pad"))

    val dir = ProbeTmp.dir("graft-rebucket-window-probe-")
    val t = GraftTable.create(spark, rows(initRows, 0, 0), dir,
      hashColumns = Seq("k"), bucketNum = oldN)
    val w0 = t.lastCommitTs
    Thread.sleep(1100) // untimed: commits a second apart
    t.upsert(rows(perUpsert, initRows, 1)) // old-mapping delta
    Thread.sleep(1100)
    t.compaction(CompactionOptions(newBucketNum = Some(newN)), _ => true)
    Thread.sleep(1100)
    t.upsert(rows(perUpsert, initRows + perUpsert, 2)) // new-mapping delta
    val w1 = t.lastCommitTs

    def time(body: => Unit): Double = {
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
    }
    // sum(v), not count(): a count can answer from metadata
    def readWindow(): Unit =
      t.incremental(w0, w1).agg(sum("v")).collect()

    readWindow() // untimed warmup (JIT + page cache, scan path)
    val scan = Seq.fill(3)(time(readWindow())).min
    graft.read.GraftRead.forceCrossBucketRead = true
    val oracle = try Seq.fill(3)(time(readWindow())).min
    finally graft.read.GraftRead.forceCrossBucketRead = false
    val n = t.incremental(w0, w1).count()
    println(f"""{"probe":"rebucket_window","rows":$n,"init":$initRows,""" +
      f""""per_upsert":$perUpsert,"old_buckets":$oldN,"new_buckets":$newN,""" +
      f""""scan_sec":$scan%.2f,"oracle_sec":$oracle%.2f,""" +
      f""""speedup":${oracle / scan}%.1f}""")
    spark.stop()
  }
}
