package graft.util

import java.util.concurrent.ConcurrentHashMap

import org.apache.spark.sql.types._

import graft.meta.TableInfo

/** Typed ordering over partition-desc strings.
  *
  * A MOR run concatenates one bucket's files across range partitions
  * (BucketMergeRead.orderedRuns); the k-way merge then compares rows with
  * TYPED (rangeCols ++ pkCols) comparators (RowComp: nulls first, per-type
  * primitive compares). The run is only sorted under that comparator if the
  * files are concatenated in the TYPED order of their range values — the
  * desc STRING order diverges for numeric ranges ("part=10" < "part=9" as
  * strings, 10 > 9 typed), which silently broke last-writer-wins for keys
  * upserted across such partitions (see RunOrderRepro).
  *
  * This ordering parses each desc value back through the range column's
  * data type (the inverse of the writer's `cast(string)` rendering,
  * TransactionalWrite's rangeDirCols) and compares:
  *   rank 0: the null sentinel (nulls FIRST — matches RowComp and the
  *           write-side sort order),
  *   rank 1: the parsed typed value, per-type semantics identical to
  *           RowComp (integral/date/timestamp as longs or wall-clock order,
  *           float/double via Double.compare incl. NaN-greatest, decimal as
  *           BigDecimal, string as unsigned UTF-8 bytes = UTF8String order),
  *   rank 2: unparseable values, by raw bytes (total order preserved; only
  *           reachable for renderings `cast(string)` never produces).
  */
object DescOrder {

  /** Ordering for run-file concatenation keys (partitionDesc, path): typed
    * desc order, path string-order tiebreak (rolled parts ...c000 < ...c001
    * of one write task concatenate in pk order). */
  def runFileOrdering(info: TableInfo, readSchema: StructType): Ordering[(String, String)] = {
    val descOrd = ordering(info, readSchema)
    Ordering.Tuple2(descOrd, Ordering.String)
  }

  /** Typed ordering over full desc strings ("k1=v1,k2=v2", range-column
    * order — the writer's encoding). Column types resolved from the read
    * schema first, then the full table schema (range columns can be pruned
    * from the read schema of a plain scan). */
  def ordering(info: TableInfo, readSchema: StructType): Ordering[String] = {
    if (info.rangeColumns.isEmpty) return Ordering.String
    lazy val full = SchemaUtil.fromJson(info.schemaJson)
    val dts: Array[DataType] = info.rangeColumns.map { c =>
      readSchema.find(_.name == c).orElse(full.find(_.name == c))
        .map(_.dataType).getOrElse(StringType)
    }.toArray
    val n = dts.length
    // (rank, key) per column; descs repeat per file, so memoize the parse
    val cache = new ConcurrentHashMap[String, Array[(Int, Any)]]()
    def parse(desc: String): Array[(Int, Any)] = {
      val raw = desc.split(",", -1).map { s =>
        val i = s.indexOf('=')
        if (i < 0) s else s.substring(i + 1)
      }
      Array.tabulate(n)(i => parseValue(if (i < raw.length) raw(i) else NullS, dts(i)))
    }
    new Ordering[String] {
      def compare(a: String, b: String): Int = {
        if (a == b) return 0
        val ka = cache.computeIfAbsent(a, parse)
        val kb = cache.computeIfAbsent(b, parse)
        var i = 0
        while (i < n) {
          val c = compareKey(ka(i), kb(i), dts(i))
          if (c != 0) return c
          i += 1
        }
        0
      }
    }
  }

  private val NullS = graft.write.TransactionalWrite.NullSentinel
  private val EmptyS = graft.write.TransactionalWrite.EmptySentinel

  private def parseValue(raw: String, dt: DataType): (Int, Any) = {
    if (raw == NullS) return (0, null)
    val v = if (raw == EmptyS) "" else raw
    try {
      dt match {
        case ByteType | ShortType | IntegerType | LongType =>
          (1, java.lang.Long.valueOf(v.toLong))
        case DateType =>
          (1, java.lang.Long.valueOf(java.time.LocalDate.parse(v).toEpochDay))
        case TimestampType | TimestampNTZType =>
          // rendered in the session zone (pinned UTC, a fixed offset), so
          // wall-clock order == instant order; LocalDateTime.compareTo is
          // zone-free and monotonic in the rendering
          (1, java.time.LocalDateTime.parse(v.replace(' ', 'T')))
        case FloatType | DoubleType =>
          (1, java.lang.Double.valueOf(v.toDouble))
        case _: DecimalType =>
          (1, new java.math.BigDecimal(v))
        case BooleanType =>
          (1, java.lang.Boolean.valueOf(v.toBoolean))
        case _ => (1, v) // StringType and everything else: raw bytes
      }
    } catch { case _: RuntimeException => (2, v) }
  }

  private def compareKey(a: (Int, Any), b: (Int, Any), dt: DataType): Int = {
    if (a._1 != b._1) return Integer.compare(a._1, b._1)
    if (a._1 == 0) return 0 // both null
    (a._2, b._2) match {
      case (x: java.lang.Long, y: java.lang.Long) => java.lang.Long.compare(x, y)
      case (x: java.time.LocalDateTime, y: java.time.LocalDateTime) => x.compareTo(y)
      case (x: java.lang.Double, y: java.lang.Double) => java.lang.Double.compare(x, y)
      case (x: java.math.BigDecimal, y: java.math.BigDecimal) => x.compareTo(y)
      case (x: java.lang.Boolean, y: java.lang.Boolean) => java.lang.Boolean.compare(x, y)
      case (x: String, y: String) => utf8Compare(x, y)
      case (x, y) => utf8Compare(String.valueOf(x), String.valueOf(y))
    }
  }

  /** Unsigned UTF-8 byte order — exactly UTF8String.compareTo (RowComp's
    * string comparator), which differs from java.lang.String order for
    * supplementary characters. */
  private def utf8Compare(a: String, b: String): Int =
    java.util.Arrays.compareUnsigned(
      a.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      b.getBytes(java.nio.charset.StandardCharsets.UTF_8))
}
