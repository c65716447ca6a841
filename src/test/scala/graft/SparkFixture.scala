package graft

import java.nio.file.Files
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local SparkSession + temp-table helpers for all suites. */
trait SparkFixture extends AnyFunSuite with BeforeAndAfterAll {

  lazy val spark: SparkSession = SparkFixture.session

  def sfDir: String = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")

  def withTempPath(f: String => Unit): Unit = {
    val dir = Files.createTempDirectory("graft-test-").toFile
    try f(dir.getAbsolutePath)
    finally {
      def rec(x: java.io.File): Unit = {
        if (x.isDirectory) Option(x.listFiles()).foreach(_.foreach(rec))
        x.delete()
      }
      rec(dir)
    }
  }

  /** Order-insensitive row comparison. */
  def assertSameRows(actual: DataFrame, expected: DataFrame): Unit = {
    val a = actual.collect().map(_.toString).sorted
    val e = expected.collect().map(_.toString).sorted
    assert(a.toSeq == e.toSeq,
      s"\nactual:\n${a.mkString("\n")}\nexpected:\n${e.mkString("\n")}")
  }

  def assertRows(actual: DataFrame, expected: Seq[Any]): Unit = {
    val a = actual.collect().map(_.toString).sorted.toSeq
    val e = expected.map(_.toString).sorted
    assert(a == e, s"\nactual:\n${a.mkString("\n")}\nexpected:\n${e.mkString("\n")}")
  }

  /** Runs `df` and returns the files its one graft DSv2 scan planned after
    * every prune (the scan's `graftFilesPlanned` driver metric). `df` must
    * not have run before: a second run resets the metric, and the scan
    * posts it only once. */
  def graftFilesPlanned(df: DataFrame): Long = {
    df.collect()
    val scans = df.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => b
    }
    assert(scans.size == 1,
      s"expected one BatchScan in:\n${df.queryExecution.executedPlan}")
    scans.head.metrics("graftFilesPlanned").value
  }

  /** The footer of the parquet file at `path`. */
  def parquetFooter(path: String): org.apache.parquet.hadoop.metadata.ParquetMetadata = {
    val r = org.apache.parquet.hadoop.ParquetFileReader.open(
      org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(path), spark.sparkContext.hadoopConfiguration))
    try r.getFooter finally r.close()
  }
}

object SparkFixture {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      // local[threads, maxFailures]: task retries ON so retry/speculation
      // interactions (e.g. task-side write stats under a failed first
      // attempt) are testable; tests that expect failing jobs still fail,
      // they just pay one extra attempt
      .master("local[4, 2]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.extensions", "graft.sql.GraftSparkExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
