package graft.write

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.api.Binary
import org.apache.parquet.schema.LogicalTypeAnnotation
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.datasources.{WriteJobStatsTracker, WriteTaskStats, WriteTaskStatsTracker}
import org.apache.spark.sql.types._
import org.apache.spark.util.SerializableConfiguration

import graft.meta.{ColStats, DataFileInfo, FileStats}

/** Write-side collection of per-file column min/max from parquet footers.
  *
  * The write tasks read each file's footer as they close it, while it is
  * page-cache hot on the writing executor ([[FooterStatsTracker]], a Spark
  * `WriteJobStatsTracker` that [[TransactionalWrite.writeFiles]] hands to
  * `FileFormatWriter`); Spark returns the stats of committed tasks to the
  * driver. [[attach]] is the driver-side fallback for any file whose task
  * read failed: small commits read on the driver, large ones fan the footer
  * reads out as a Spark job.
  *
  * Only top-level columns with a stable, order-preserving parquet encoding
  * are collected (int/long/float/double/date/string, timestamp when written
  * as INT64 micros); everything else stays unknown and is never skipped on.
  */
object FileStatsCollector {

  /** Table property: set "false" to skip collection. */
  val EnabledProp = "graft.stats.enabled"
  /** Table property: max number of leading schema columns indexed. */
  val NumColsProp = "graft.stats.cols"
  val DefaultNumCols = 32

  private val DriverReadLimit = 256

  /** What to collect: indexed column types + whether the reserved
    * row-count key is shadowed by a real column. Serialized to tasks. */
  case class Spec(indexed: Map[String, DataType], rowCountShadowed: Boolean)

  /** Files whose stats the write tasks collected in this JVM (ops/test
    * introspection: proves the driver fallback stayed idle). */
  val collectedFiles = new java.util.concurrent.atomic.AtomicLong(0)

  /** The collection spec for a table+schema, or None when collection is
    * disabled / nothing is indexable. Shared between driver-side [[attach]]
    * and the task-side [[FooterStatsTracker]]. */
  def specFor(table: graft.meta.TableInfo, schema: StructType): Option[Spec] = {
    if (table.properties.get(EnabledProp).contains("false")) return None
    val nCols = table.properties.get(NumColsProp).map(_.toInt).getOrElse(DefaultNumCols)
    // leading-columns cap (same idea as Delta's dataSkippingNumIndexedCols):
    // bound the metadata size on wide tables
    val indexed: Map[String, DataType] = schema.fields.take(nCols).collect {
      case f if supported(f.dataType) => f.name -> f.dataType
    }.toMap
    if (indexed.isEmpty) None
    // the synthetic row-count entry must never collide with a REAL column of
    // the reserved name anywhere in the schema (not just the indexed prefix):
    // a shadowed entry would feed bogus bounds to StatsSkipping.mightMatch
    else Some(Spec(indexed, schema.fieldNames.contains(FileStats.RowCountKey)))
  }

  def attach(
      spark: SparkSession,
      table: graft.meta.TableInfo,
      schema: StructType,
      allFiles: Seq[(String, DataFileInfo)]): Seq[(String, DataFileInfo)] = {
    // files that already carry stats (task-side collection) are kept as-is
    val files = allFiles.filter(_._2.stats.isEmpty)
    if (files.isEmpty) return allFiles
    val sp = specFor(table, schema) match {
      case Some(s) => s
      case None => return allFiles
    }

    val paths = files.map(f => f._2.path -> f._2.size)
    val statsByPath: Map[String, String] =
      if (paths.size <= DriverReadLimit && paths.forall(_._1.startsWith("/"))) {
        // local driver-side read: RAW local FS (no .crc checksum companion
        // reads), known file length (no getFileStatus round-trip), small
        // thread pool — ~1 ms per footer instead of ~15 through the
        // checksummed Hadoop path
        val conf = spark.sparkContext.hadoopConfiguration
        val fs = new org.apache.hadoop.fs.RawLocalFileSystem()
        fs.initialize(java.net.URI.create("file:///"), conf)
        val pool = java.util.concurrent.Executors.newFixedThreadPool(
          math.min(8, paths.size))
        try {
          paths.map { case (p, len) =>
            p -> pool.submit(new java.util.concurrent.Callable[String] {
              def call(): String = readFooter(rawInputFile(fs, p, len), Some(sp))._1
            })
          }.map { case (p, f) => p -> f.get() }.toMap
        } finally pool.shutdown()
      } else {
        // DataTypes are serializable; each task builds a local Hadoop conf
        spark.sparkContext
          .parallelize(paths, math.min(paths.size, 64))
          .map { case (p, _) =>
            p -> readFooter(
              HadoopInputFile.fromPath(new org.apache.hadoop.fs.Path(p),
                new Configuration()), Some(sp))._1
          }
          .collect().toMap
      }
    allFiles.map { case (desc, f) =>
      if (f.stats.nonEmpty) (desc, f)
      else (desc, f.copy(stats = statsByPath.getOrElse(f.path, "")))
    }
  }

  /** Single-file footer read for the task-side tracker: raw local FS
    * when the path is a local file, bare or `file:` qualified as write
    * tasks see it (skips the .crc companion reads), the Hadoop path
    * otherwise. */
  private[write] def readLocalOrHadoop(path: String, conf: Configuration,
      spec: Option[Spec]): (String, Long) = {
    val uri = new org.apache.hadoop.fs.Path(path).toUri
    val local = new java.io.File(uri.getPath)
    val in =
      if ((uri.getScheme == null || uri.getScheme == "file") && local.isFile) {
        val fs = new org.apache.hadoop.fs.RawLocalFileSystem()
        fs.initialize(java.net.URI.create("file:///"), conf)
        rawInputFile(fs, local.getPath, local.length())
      } else HadoopInputFile.fromPath(new org.apache.hadoop.fs.Path(path), conf)
    readFooter(in, spec)
  }

  /** Parquet InputFile over a raw (checksum-free) local FS with a known
    * length — avoids both the .crc side reads and the status call. */
  private def rawInputFile(fs: org.apache.hadoop.fs.FileSystem, path: String,
      len: Long): org.apache.parquet.io.InputFile =
    new org.apache.parquet.io.InputFile {
      override def getLength: Long = len
      override def newStream(): org.apache.parquet.io.SeekableInputStream =
        org.apache.parquet.hadoop.util.HadoopStreams.wrap(
          fs.open(new org.apache.hadoop.fs.Path(path)))
    }

  def supported(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | FloatType | DoubleType |
         StringType | DateType | TimestampType | TimestampNTZType => true
    case _ => false
  }

  /** One footer's (encoded file-level bounds, row count). The bounds
    * aggregate row-group statistics; a column whose stats are missing or
    * invalid in ANY row group is dropped entirely. Bounds are "" when
    * `spec` is None or the file has no rows; ("", -1) when the footer is
    * unreadable. */
  private def readFooter(
      in: org.apache.parquet.io.InputFile,
      spec: Option[Spec]): (String, Long) = {
    try {
      val reader = ParquetFileReader.open(in)
      try {
        val blocks = reader.getFooter.getBlocks.asScala.toSeq
        val totalRows = blocks.iterator.map(_.getRowCount).sum
        if (blocks.isEmpty || spec.isEmpty) return ("", totalRows)
        val Spec(indexed, rowCountShadowed) = spec.get
        var acc = Map.empty[String, (String, String, Long)] // (min, max, nulls)
        var bad = Set.empty[String]
        blocks.foreach { b =>
          b.getColumns.asScala.foreach { c =>
            val name = c.getPath.toDotString
            indexed.get(name).foreach { dt =>
              val st = c.getStatistics
              val prim = c.getPrimitiveType.getPrimitiveTypeName
              val ann = c.getPrimitiveType.getLogicalTypeAnnotation
              if (st == null || st.isEmpty || st.getNumNulls < 0 ||
                  !encodingMatches(dt, prim, ann)) bad += name
              else {
                val (mn, mx) =
                  if (!st.hasNonNullValue) (null, null)
                  else (encodeValue(st.genericGetMin.asInstanceOf[AnyRef], prim,
                      ann, roundUp = false),
                    encodeValue(st.genericGetMax.asInstanceOf[AnyRef], prim,
                      ann, roundUp = true))
                if (mn == null && st.hasNonNullValue) bad += name
                else acc.get(name) match {
                  case None => acc += name -> (mn, mx, st.getNumNulls)
                  case Some((pmn, pmx, pn)) =>
                    acc += name -> (minOf(dt, pmn, mn), maxOf(dt, pmx, mx),
                      pn + st.getNumNulls)
                }
              }
            }
          }
        }
        val out = (acc -- bad).map { case (name, (mn, mx, nulls)) =>
          name -> ColStats(Option(mn), Option(mx), hn = nulls > 0,
            an = mn == null && nulls >= totalRows && totalRows > 0)
        }
        // exact footer row count under a reserved key (aggregate pushdown);
        // a real column of that name wins the key, so drop ours then
        val withRows =
          if (rowCountShadowed) out
          else out + (FileStats.RowCountKey ->
            ColStats(Some(totalRows.toString), None, hn = false, an = false))
        (FileStats.encode(withRows), totalRows)
      } finally reader.close()
    } catch { case _: Exception => ("", -1L) } // stats are an optimization, never fail a write
  }

  /** The physical encoding must be one whose sort order maps onto our
    * string-encoded comparison domain. Timestamps are accepted in any
    * INT64 unit (MILLIS/MICROS/NANOS — normalized to micros at encode
    * time); INT96 has no usable stats and is rejected; a LongType column
    * must NOT carry a timestamp annotation (it would be unit-ambiguous). */
  private def encodingMatches(dt: DataType, p: PrimitiveTypeName,
      ann: LogicalTypeAnnotation): Boolean = (dt, p) match {
    case (ByteType | ShortType | IntegerType | DateType, PrimitiveTypeName.INT32) => true
    case (LongType, PrimitiveTypeName.INT64) =>
      !ann.isInstanceOf[LogicalTypeAnnotation.TimestampLogicalTypeAnnotation]
    case (TimestampType | TimestampNTZType, PrimitiveTypeName.INT64) =>
      ann.isInstanceOf[LogicalTypeAnnotation.TimestampLogicalTypeAnnotation]
    case (FloatType, PrimitiveTypeName.FLOAT) => true
    case (DoubleType, PrimitiveTypeName.DOUBLE) => true
    case (StringType, PrimitiveTypeName.BINARY) =>
      ann.isInstanceOf[LogicalTypeAnnotation.StringLogicalTypeAnnotation]
    case _ => false
  }

  /** Encode a raw footer value into the comparison domain; timestamps
    * normalize to MICROS, with bound-safe rounding for nanos (min rounds
    * down, max rounds up, so the interval only ever widens). */
  private def encodeValue(v: AnyRef, p: PrimitiveTypeName,
      ann: LogicalTypeAnnotation, roundUp: Boolean): String = v match {
    case null => null
    case b: Binary if p == PrimitiveTypeName.BINARY => b.toStringUsingUTF8
    case n: java.lang.Long =>
      ann match {
        case ts: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation =>
          val micros = ts.getUnit match {
            case LogicalTypeAnnotation.TimeUnit.MILLIS =>
              math.multiplyExact(n.longValue, 1000L)
            case LogicalTypeAnnotation.TimeUnit.MICROS => n.longValue
            case LogicalTypeAnnotation.TimeUnit.NANOS =>
              if (roundUp) Math.floorDiv(n.longValue + 999L, 1000L)
              else Math.floorDiv(n.longValue, 1000L)
          }
          micros.toString
        case _ => n.toString
      }
    case n => n.toString // Integer / Float / Double box toString
  }

  private def minOf(dt: DataType, a: String, b: String): String =
    if (a == null) b else if (b == null) a
    else if (StatsCompare.compare(dt, a, b) <= 0) a else b

  private def maxOf(dt: DataType, a: String, b: String): String =
    if (a == null) b else if (b == null) a
    else if (StatsCompare.compare(dt, a, b) >= 0) a else b
}

/** The task side of [[FileStatsCollector]]: the write stats tracker that
  * [[TransactionalWrite.writeFiles]] hands to `FileFormatWriter` for one
  * write job. Each write task reads the footer of every file it closes,
  * while the footer is page-cache hot, and returns output-relative path ->
  * (encoded bounds, row count). Spark passes the driver instance only the
  * stats of committed tasks, so a failed or retried attempt's files never
  * show. The output-relative path is the last `partitionDepth + 1`
  * segments of the staging path (partition directories and file name),
  * which the committer keeps when it moves the file. A file whose footer
  * read failed is absent and falls to [[FileStatsCollector.attach]]. */
private[write] final class FooterStatsTracker(
    spec: Option[FileStatsCollector.Spec],
    partitionDepth: Int,
    conf: SerializableConfiguration) extends WriteJobStatsTracker {

  @transient @volatile private var collected = Map.empty[String, (String, Long)]

  /** Driver side, after the job: output-relative path -> (bounds, rows). */
  def files: Map[String, (String, Long)] = collected

  override def newTaskInstance(): WriteTaskStatsTracker = new WriteTaskStatsTracker {
    private val files = mutable.Map.empty[String, (String, Long)]
    override def newPartition(partitionValues: InternalRow): Unit = ()
    override def newFile(filePath: String): Unit = ()
    override def newRow(filePath: String, row: InternalRow): Unit = ()
    override def closeFile(filePath: String): Unit = {
      val read = FileStatsCollector.readLocalOrHadoop(filePath, conf.value, spec)
      if (read._2 >= 0)
        files(filePath.split('/').takeRight(partitionDepth + 1).mkString("/")) = read
    }
    override def getFinalStats(taskCommitTime: Long): WriteTaskStats =
      FooterStats(files.toMap)
  }

  override def processStats(stats: Seq[WriteTaskStats], jobCommitTime: Long): Unit = {
    collected = stats.iterator.collect { case FooterStats(fs) => fs }.flatten.toMap
    FileStatsCollector.collectedFiles.addAndGet(collected.count(_._2._1.nonEmpty))
  }
}

private[write] case class FooterStats(files: Map[String, (String, Long)])
  extends WriteTaskStats

/** Comparison over the string-encoded stats domain. Strings compare as
  * unsigned UTF-8 bytes — the same total order Spark's UTF8String and
  * parquet's UTF8 column order use; floats/doubles via IEEE compare. */
object StatsCompare {
  def compare(dt: DataType, a: String, b: String): Int = dt match {
    case ByteType | ShortType | IntegerType | LongType | DateType |
         TimestampType | TimestampNTZType =>
      java.lang.Long.compare(a.toLong, b.toLong)
    case FloatType | DoubleType => java.lang.Double.compare(a.toDouble, b.toDouble)
    case StringType => compareUtf8(a, b)
    case _ => throw new IllegalArgumentException(s"unsupported stats type $dt")
  }

  def compareUtf8(a: String, b: String): Int =
    java.util.Arrays.compareUnsigned(
      a.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      b.getBytes(java.nio.charset.StandardCharsets.UTF_8))
}
