package graft.read

import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector
import org.apache.spark.sql.connector.expressions.{Expressions, NamedReference, Transform}
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.partitioning.{KeyGroupedPartitioning, Partitioning, UnknownPartitioning}
import org.apache.spark.sql.execution.datasources.PartitionedFile
import org.apache.spark.sql.sources.{EqualTo, Filter}
import org.apache.spark.sql.types.StructType
import org.apache.spark.unsafe.types.UTF8String

import graft.meta.{ResolvedFile, TableInfo}
import graft.tables.GraftTable
import graft.util.Filters
import graft.write.TransactionalWrite

/** DSv2 scan for graft tables (SURVEY.md §2.1 S1-S9 through the SQL surface;
  * reference: catalog/LakeSoulScanBuilder.scala:104-134 + MergeParquetScan).
  *
  * - Column pruning: the read schema is the requested columns plus merge keys
  *   and the CDC marker — only those reach the parquet readers.
  * - Filter pushdown: range-equality filters prune partitions, a full
  *   primary-key equality prunes to ONE bucket, and data filters are pushed
  *   into the parquet readers for rowgroup/page pruning — but only when
  *   merge-safe: key-referencing filters always (all versions of a key agree
  *   on the key), arbitrary filters only for single-run (no-merge) reads,
  *   because pre-merge filtering of a multi-run table could resurrect an
  *   overwritten version. Every filter remains residual (Spark re-applies).
  * - Partitioning: a PK table's scan is one input partition per bucket
  *   (HasPartitionKey = bucket id) reporting KeyGroupedPartitioning over
  *   `bucket(n, pk...)`, so Spark's storage-partitioned join machinery
  *   (spark.sql.sources.v2.bucketing.enabled) plans joins between
  *   co-bucketed graft tables with ZERO exchanges — the Catalyst-integrated
  *   rendition of the reference's DeltaJoin (SetPartitionAndOrdering.scala).
  */
/** Shared key for the packed per-scan merge-operator option (M4). */
object ExtractMergeOpProjectionOption {
  val Key = "graft.mergeops"
}

class GraftScanBuilder(
    spark: SparkSession,
    table: GraftTable,
    options: Map[String, String] = Map.empty)
    extends ScanBuilder with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns with SupportsPushDownAggregates {

  // per-query merge-operator overrides arrive as the packed scan option
  // `graft.mergeops` = "col:op[,col:op...]" (set by the SQL extraction rule
  // ExtractMergeOpProjection or an explicit .option(...)) and override the
  // table-property defaults for THIS scan only (M4)
  private val info = {
    val t0 = table.info
    options.get(ExtractMergeOpProjectionOption.Key).filter(_.nonEmpty) match {
      case Some(spec) =>
        val ops = spec.split(',').map { s =>
          val i = s.lastIndexOf(':')
          require(i > 0 && i < s.length - 1, s"bad mergeops spec entry '$s'")
          s.substring(0, i) -> s.substring(i + 1)
        }
        ops.foreach { case (_, op) => graft.mergeop.MergeOps.forName(op) }
        t0.copy(properties = t0.properties ++
          ops.map { case (c, o) => graft.meta.TableInfo.mergeOpProp(c) -> o })
      case None => t0
    }
  }
  private val fullSchema = table.schema
  private var requiredSchema: StructType = fullSchema
  private var pushed: Array[Filter] = Array.empty
  private var partPred: String => Boolean = _ => true
  private var exactDescs: Option[Seq[String]] = None
  private var dataFilters: Seq[Filter] = Nil
  private var pkBucket: Option[Int] = None
  private var aggResult: Option[(StructType, Array[InternalRow])] = None

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    val rangeSets = Filters.rangeValueSets(filters.toSeq, info.rangeColumns)
    val isStr = (c: String) => fullSchema.fields.find(_.name == c)
      .exists(_.dataType == org.apache.spark.sql.types.StringType)
    val setPred = Filters.partitionPredSets(rangeSets)
    // ordering conjuncts on STRING range columns prune at the desc level
    // too (dt >= .. AND dt < .. over a time-partitioned table)
    val ordPred = Filters.rangeOrderingPred(filters.toSeq, info.rangeColumns, isStr)
    partPred = d => setPred(d) && ordPred(d)
    // every range column pinned to a bounded value set (equality or IN) ->
    // the matching descs are fully determined: resolve files by META POINT
    // LOOKUP instead of listing (and predicate-filtering) every partition
    // head — at 100k+ partitions the listing is the latency (F4 /
    // reference's indexed PG prune)
    exactDescs = Filters.exactDescs(rangeSets, info.rangeColumns)
      .map(_.filter(ordPred)) // an ordering conjunct can exclude a pinned desc
    // full PK equality -> single-bucket point read (M6)
    val eq = filters.collect { case EqualTo(a, v) => a -> v }.toMap
    if (info.hasPrimaryKey && info.hashColumns.forall(eq.contains))
      pkBucket = Some(TransactionalWrite.bucketOf(
        spark, fullSchema, info.hashColumns.map(c => c -> eq(c)), info.bucketNum))
    dataFilters = filters.toSeq
    // Advertise only what is GUARANTEED to reach the parquet readers: on a
    // PK table, non-key filters are dropped by the merge-safety rule when a
    // partition has multiple sorted runs (a fact only known at build time),
    // so EXPLAIN's PushedFilters must not overstate them. Single-run scans
    // still push everything at the reader level — they are just not
    // advertised here (understating is cosmetic, overstating is a lie).
    val keyCols = (info.rangeColumns ++ info.hashColumns).toSet
    pushed = filters.filter(f => Filters.toColumn(f).isDefined &&
      (!info.hasPrimaryKey || f.references.forall(keyCols.contains)))
    filters // all residual: Spark re-applies everything above the scan
  }

  override def pushedFilters(): Array[Filter] = pushed

  override def pruneColumns(required: StructType): Unit =
    requiredSchema = required

  // ---- SupportsPushDownAggregates: COUNT(*) / MIN / MAX answered from the
  // per-file footer statistics already in the commit metadata — the
  // "metadata-only query" every serious lakehouse ships. A 100 TB
  // `SELECT count(*) FROM t` becomes a driver-side fold over file entries:
  // zero tasks, zero bytes read. Complete pushdown only — and only when the
  // answer is provably exact:
  //  - full reads (no time travel / incremental semantics),
  //  - no CDC column (tombstones would inflate counts),
  //  - merge-free snapshot: on a PK table every partition must be a single
  //    sorted run — across runs a key may repeat (COUNT) and merge
  //    operators REWRITE values (MIN/MAX), so multi-run refuses,
  //  - COUNT(*): every live file carries the exact footer row count,
  //  - MIN/MAX: fixed-width types only (string footer stats may be
  //    truncated bounds, fine for skipping but not for answers), with
  //    usable bounds in every file.
  // Spark only attempts aggregate pushdown when no Filter node remains
  // below the Aggregate, and this scan reports every filter residual, so a
  // filtered query can never reach this path half-enforced.
  override def supportCompletePushDown(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
    memoAgg(agg).isDefined

  override def pushAggregation(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean = {
    aggResult = memoAgg(agg)
    aggResult.isDefined
  }

  // Spark probes supportCompletePushDown then pushAggregation with the
  // same Aggregation — memoize so the file listing + stats decode run once
  private var aggMemo:
    Option[(org.apache.spark.sql.connector.expressions.aggregate.Aggregation,
      Option[(StructType, Array[InternalRow])])] = None

  // v2 Aggregation does not override equals — compare the decomposed
  // expressions structurally (describe() is the v2 canonical form) so the
  // memo still hits if Spark re-instantiates the Aggregation between probes
  private def sameAgg(
      a: org.apache.spark.sql.connector.expressions.aggregate.Aggregation,
      b: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
    a.aggregateExpressions.map(_.describe).sameElements(b.aggregateExpressions.map(_.describe)) &&
      a.groupByExpressions.map(_.describe).sameElements(b.groupByExpressions.map(_.describe))

  private def memoAgg(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Option[(StructType, Array[InternalRow])] = {
    aggMemo match {
      case Some((prev, res)) if sameAgg(prev, agg) => res
      case _ =>
        val res = computeAgg(agg)
        aggMemo = Some((agg, res))
        res
    }
  }

  private def computeAgg(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Option[(StructType, Array[InternalRow])] = {
    import org.apache.spark.sql.connector.expressions.aggregate._
    import org.apache.spark.sql.types._
    if (info.properties.get("graft.aggPushdown.enabled").contains("false"))
      return None
    if (info.cdcColumn.nonEmpty) return None
    // a real column shadowing the reserved row-count key makes
    // FileStats.rowCount ambiguous — refuse rather than misread
    if (fullSchema.fieldNames.contains(graft.meta.FileStats.RowCountKey))
      return None
    // full reads and snapshot (time-travel) reads resolve to a fixed file
    // set the same exactness argument covers; incremental reads keep CDC
    // tombstone semantics and never push
    val files = options.getOrElse("readtype", "full") match {
      case "full" => exactDescs match {
        case Some(ds) => table.liveFilesForDescs(ds)
        case None => table.liveFiles(partPred)
      }
      case "snapshot" => exactDescs match {
        case Some(ds) =>
          table.filesUptoTimeForDescs(options("readendtime").toLong, ds)
        case None =>
          table.filesUptoTime(options("readendtime").toLong, partPred)
      }
      case _ => return None
    }
    if (files.isEmpty) return None // empty-table agg: let Spark answer
    if (info.hasPrimaryKey &&
        files.groupBy(_.partitionDesc).values
          .exists(_.map(_.commitOrdinal).distinct.size > 1)) return None
    // tombstone delete runs make footer counts non-exact (belt and braces:
    // a tombstone commit always makes its partition multi-run)
    if (files.exists(f => graft.meta.Tombstone.isTombstone(f.file))) return None

    def colRef(e: org.apache.spark.sql.connector.expressions.Expression)
        : Option[String] = e match {
      case nr: NamedReference if nr.fieldNames.length == 1 =>
        Some(nr.fieldNames.head)
      case _ => None
    }

    // GROUP BY: supported exactly for the single STRING range-partition
    // column — groups are partitions, values decode from the partition
    // desc, counts/bounds fold per group. (Typed range columns would need
    // a desc->value parse that provably matches the writer's path
    // escaping; strings are the identity case.)
    val groupCols = agg.groupByExpressions().toSeq.map(e =>
      colRef(e).getOrElse(return None))
    if (groupCols.nonEmpty &&
        (groupCols != info.rangeColumns || groupCols.length != 1 ||
          !fullSchema.fields.exists(f => f.name == groupCols.head &&
            f.dataType == StringType))) return None
    val groups: Seq[(Seq[Any], Seq[graft.meta.ResolvedFile])] =
      if (groupCols.isEmpty) Seq(Nil -> files)
      else files.groupBy(_.partitionDesc).toSeq.sortBy(_._1).map {
        case (desc, fs) =>
          val raw = desc.stripPrefix(s"${groupCols.head}=")
          val v: Any =
            if (raw == TransactionalWrite.NullSentinel) null
            else if (raw == TransactionalWrite.EmptySentinel)
              UTF8String.fromString("")
            else UTF8String.fromString(raw)
          (Seq(v), fs)
      }
    def fixedWidth(dt: DataType): Boolean = dt match {
      case ByteType | ShortType | IntegerType | LongType | FloatType |
           DoubleType | DateType | TimestampType | TimestampNTZType => true
      case _ => false
    }
    // stats encoding (FileStats): numeric.toString, date = epoch-day,
    // timestamp = epoch-micros -> all parse to the Catalyst internal value
    def decode(s: String, dt: DataType): Any = dt match {
      case ByteType => s.toByte
      case ShortType => s.toShort
      case IntegerType | DateType => s.toInt
      case LongType | TimestampType | TimestampNTZType => s.toLong
      case FloatType => s.toFloat
      case DoubleType => s.toDouble
      case other => throw new IllegalStateException(s"unexpected $other")
    }
    def ordering(dt: DataType): Ordering[Any] = (dt match {
      case ByteType => Ordering.Byte
      case ShortType => Ordering.Short
      case IntegerType | DateType => Ordering.Int
      case LongType | TimestampType | TimestampNTZType => Ordering.Long
      case FloatType => Ordering.Float.TotalOrdering
      case DoubleType => Ordering.Double.TotalOrdering
      case other => throw new IllegalStateException(s"unexpected $other")
    }).asInstanceOf[Ordering[Any]]

    def boundOver(stats: Seq[Map[String, graft.meta.ColStats]],
        name: String, dt: DataType, wantMin: Boolean): Option[Any] = {
      // every file must either prove all-null (contributes nothing) or
      // carry a usable bound; any unknown refuses the pushdown
      val perFile: Seq[Option[Option[Any]]] = stats.map { st =>
        st.get(name) match {
          case Some(cs) if cs.an => Some(None)
          case Some(cs) =>
            (if (wantMin) cs.mn else cs.mx) match {
              case Some(v) => Some(Some(decode(v, dt)))
              case None => None
            }
          case None => None
        }
      }
      if (perFile.exists(_.isEmpty)) return None
      val vals = perFile.flatten.flatten
      if (vals.isEmpty) None // all files all-null -> MIN is null; refuse
      else Some(vals.reduce((a, b) =>
        if (ordering(dt).compare(a, b) <= 0 == wantMin) a else b) match {
        // parquet footers write CONSERVATIVE signed-zero bounds (min -0.0
        // when 0.0 occurs, max 0.0 when -0.0 occurs); SQL compares the two
        // equal, so answer with the canonical +0.0 (Spark's
        // NormalizeFloatingNumbers form) either way
        case f: Float if f == 0.0f => 0.0f
        case d: Double if d == 0.0d => 0.0d
        case v => v
      })
    }

    val fields = scala.collection.mutable.ArrayBuffer[StructField]()
    groupCols.foreach(c => fields +=
      fullSchema.fields.find(_.name == c).getOrElse(return None))
    val aggFns = agg.aggregateExpressions().toSeq
    aggFns.foreach {
      case _: CountStar =>
        fields += StructField("count(*)", LongType, nullable = false)
      case m: Min =>
        val name = colRef(m.column).getOrElse(return None)
        val f = fullSchema.fields.find(_.name == name).getOrElse(return None)
        if (!fixedWidth(f.dataType)) return None
        fields += StructField(s"min($name)", f.dataType)
      case m: Max =>
        val name = colRef(m.column).getOrElse(return None)
        val f = fullSchema.fields.find(_.name == name).getOrElse(return None)
        if (!fixedWidth(f.dataType)) return None
        fields += StructField(s"max($name)", f.dataType)
      case _ => return None
    }

    val rows = groups.map { case (keyVals, fs) =>
      val stats = fs.map(f => graft.meta.FileStats.decode(f.file.stats))
      val values = scala.collection.mutable.ArrayBuffer[Any](keyVals: _*)
      aggFns.foreach {
        case _: CountStar =>
          val counts = stats.map(graft.meta.FileStats.rowCount)
          if (counts.exists(_.isEmpty)) return None
          values += counts.flatten.sum
        case m: Min =>
          val name = colRef(m.column).get
          val dt = fullSchema.fields.find(_.name == name).get.dataType
          values += boundOver(stats, name, dt, wantMin = true)
            .getOrElse(return None)
        case m: Max =>
          val name = colRef(m.column).get
          val dt = fullSchema.fields.find(_.name == name).get.dataType
          values += boundOver(stats, name, dt, wantMin = false)
            .getOrElse(return None)
        case _ => return None
      }
      InternalRow.fromSeq(values.toSeq)
    }
    Some((StructType(fields.toSeq), rows.toArray))
  }

  override def build(): Scan = {
    aggResult.foreach { case (aggSchema, rows) =>
      return new GraftMetadataAggScan(aggSchema, rows)
    }
    val need = (info.rangeColumns ++ info.hashColumns ++ info.cdcColumn.toSeq ++
      requiredSchema.fieldNames).toSet
    val readSchema = StructType(fullSchema.fields.filter(f => need.contains(f.name)))
    // same read options as format("graft"): snapshot / incremental reads
    // (spark.read.option("readtype", ...).table("graft_cat.ns.t")).
    // The RESOLVED time window is normalized back into the scan options:
    // GraftScan's mapping-consistency gates (crossBucketWindow /
    // mappingCurrentAtRead) need concrete boundaries, and an absent
    // readendtime here defaults to lastCommitTs — a value only the builder
    // can resolve.
    var scanOpts = options
    val (files, keepCdc) = options.getOrElse("readtype", "full") match {
      case "snapshot" =>
        (exactDescs match {
          case Some(ds) =>
            table.filesUptoTimeForDescs(options("readendtime").toLong, ds)
          case None =>
            table.filesUptoTime(options("readendtime").toLong, partPred)
        }, false)
      case "incremental" =>
        val st = options.getOrElse("readstarttime", "0").toLong
        val et = options.get("readendtime").map(_.toLong)
          .getOrElse(table.lastCommitTs)
        scanOpts = options +
          ("readstarttime" -> st.toString, "readendtime" -> et.toString)
        (exactDescs match {
          case Some(ds) => table.incrementalFilesForDescs(st, et, ds)
          case None => table.incrementalFiles(st, et, partPred)
        }, true)
      case _ => (exactDescs match {
        case Some(ds) => table.liveFilesForDescs(ds)
        case None => table.liveFiles(partPred)
      }, false)
    }
    new GraftScan(spark, info, readSchema, files, dataFilters, pkBucket, keepCdc,
      scanOpts)
  }
}

/** The scan returned when an aggregate was completely pushed down: one
  * pre-computed row, produced on the driver from commit metadata
  * ([[LocalScan]] — Spark plans it as a local table, no tasks launched). */
class GraftMetadataAggScan(aggSchema: StructType, data: Array[InternalRow])
    extends LocalScan {
  override def readSchema(): StructType = aggSchema
  override def rows(): Array[InternalRow] = data
  override def description(): String =
    s"GraftMetadataAggScan(${aggSchema.fieldNames.mkString(", ")})"
}

class GraftScan(
    spark: SparkSession,
    info: TableInfo,
    schema: StructType,
    filesIn: Seq[ResolvedFile],
    dataFilters: Seq[Filter],
    pkBucket: Option[Int],
    keepCdcRows: Boolean = false,
    scanOptions: Map[String, String] = Map.empty)
    extends Scan with Batch with SupportsReportPartitioning
    with SupportsReportOrdering
    with SupportsReportStatistics with SupportsRuntimeFiltering {

  // metadata-level file skipping (zone maps): drop files whose min/max
  // bounds prove no row matches; merge-safety enforced inside prune
  private var files: Seq[ResolvedFile] =
    StatsSkipping.prune(info, graft.util.SchemaUtil.fromJson(info.schemaJson),
      filesIn, dataFilters)

  // ---- SupportsRuntimeFiltering (dynamic file pruning): after a join's
  // build side materializes, Spark re-filters this scan with
  // In(joinKey, buildValues). The same zone-map machinery prunes files —
  // range-partition columns are min==max constants per file (partition
  // pruning falls out), clustered columns carry tight bounds, and
  // merge-safety is enforced inside StatsSkipping. Every column is
  // declared: an attribute whose stats can't prove anything just keeps
  // its files (three-valued evaluation), so over-declaring is safe.
  // SPJ interaction: the bucket-merge path plans one partition per bucket
  // REGARDLESS of surviving files (an emptied bucket yields an empty
  // partition), so KeyGroupedPartitioning stays valid under runtime
  // filtering and storage-partitioned joins don't regress.

  override def filterAttributes(): Array[NamedReference] =
    schema.fieldNames.map(graft.util.SchemaUtil.qref)

  override def filter(runtimeFilters: Array[Filter]): Unit = {
    files = StatsSkipping.prune(info,
      graft.util.SchemaUtil.fromJson(info.schemaJson), files,
      runtimeFilters.toSeq)
    plannedCache = null // partition plan derives from `files` — recompute
  }

  /** Bucket count for MERGE GROUPING, widened to the observed ids: mid
    * DOWN-re-bucket (the count flips under an open marker before the
    * rewrite) a snapshot legally carries old-mapping files whose ids
    * exceed info.bucketNum — grouping by raw id stays exact for any
    * mapping-consistent set, and rejecting them dropped concurrent SQL
    * reads to the plain branch, which cannot serve tombstone runs
    * (r15 soak find, library-path twin in GraftRead.read). */
  private val mergeBucketNum =
    if (filesIn.isEmpty) info.bucketNum
    else math.max(info.bucketNum, filesIn.iterator.map(_.file.bucketId).max + 1)

  private val bucketMergeable =
    info.hasPrimaryKey && BucketMergeRead.supports(
      info.copy(bucketNum = mergeBucketNum), schema, files) &&
      !info.properties.get(TableInfo.SkipMergeOnReadProp).contains("true")

  /** Mapping-consistency of the planned file set, from the event log and
    * per-file commit timestamps ([[graft.meta.RebucketLog.epochsOf]]):
    * `Some(single)` = one key->bucket mapping (raw-id merge grouping is
    * exact, whatever the count); multi/None = the set spans a flip
    * boundary (straddling incremental window, mid/crashed re-bucket with
    * post-flip writes) or is ambiguous — per-bucket dispatch would
    * double-surface straddling keys. The DSv2 scan cannot compose the
    * library's cursor-split shuffle, so [[computePartitions]] routes such
    * sets to the per-range-partition cross-bucket grouping (the same one
    * the micro-batch stream uses for straddling batches). */
  private val epochsOpt
      : Option[Seq[(Int, Seq[graft.meta.ResolvedFile])]] =
    if (!info.hasPrimaryKey) Some(Seq(info.bucketNum -> filesIn))
    else graft.meta.RebucketLog.epochsOf(info.properties, info.bucketNum, filesIn)

  private val crossBucketNeeded: Boolean =
    info.hasPrimaryKey && !epochsOpt.exists(_.size <= 1)

  /** The ID-DERIVED optimizations — the single-bucket point prune (M6)
    * and the reported KeyGroupedPartitioning (SPJ) — are valid only when
    * the files' single mapping IS the CURRENT count's: mid re-bucket,
    * mid crashed-restore recovery, or reading a time-travel/incremental
    * boundary that predates a completed re-bucket, files carry a
    * DIFFERENT mapping — pruning by the current count would miss the
    * key's actual bucket, and SPJ would pair partitions of two different
    * mappings (silently wrong join). Merge correctness is
    * mapping-agnostic and stays on. */
  private val mappingSettled =
    graft.meta.RebucketLog.settledAt(info.properties, info.bucketNum, filesIn) &&
      filesIn.forall(_.file.bucketId < info.bucketNum)

  private val pkBucketEff: Option[Int] = if (mappingSettled) pkBucket else None

  private val multiRun =
    files.groupBy(_.partitionDesc).values.exists(_.map(_.commitOrdinal).distinct.size > 1)

  // merge-safe reader-level filters: key-only always; everything once no
  // merge can occur (single run everywhere or no PK)
  private val readerFilters: Seq[Filter] = {
    val keyCols = (info.rangeColumns ++ info.hashColumns).toSet
    if (!info.hasPrimaryKey || !multiRun) dataFilters
    else dataFilters.filter(_.references.forall(keyCols.contains))
  }

  /** A column absent from >=1 contributing file can surface NULL after
    * the fall-through merge even when the table schema declares it NOT
    * NULL — a key first written by a partial batch has no older run to
    * fall to. Report such columns nullable: under the declared non-null
    * schema, codegen skips isNullAt and reads the null slot as garbage 0.
    * (Runtime filtering only SHRINKS `files`, so the construction-time
    * relaxation stays conservative-correct.) */
  private val reportedSchema: StructType =
    BucketMergeRead.relaxMissing(schema, filesIn)

  override def readSchema(): StructType = reportedSchema

  override def toBatch: Batch = this

  /** DSv2 streaming read (S10 through the catalog):
    * `spark.readStream.table("graft_cat.ns.t")` — offsets are commit
    * timestamps, each micro-batch is the merged incremental file set of
    * (start, end], tombstones kept, exactly like the DSv1 source. */
  override def toMicroBatchStream(checkpointLocation: String)
    : org.apache.spark.sql.connector.read.streaming.MicroBatchStream =
    new GraftMicroBatchStream(spark, info, schema, readerFilters,
      info.tablePath, scanOptions)

  /** Post-pruning size estimate for the join planner: without it Spark
    * assumes `defaultSizeInBytes` (effectively infinite) for a DSv2 table
    * and never auto-broadcasts a small graft dimension table. Size is the
    * PRUNED live-file byte sum scaled by the session's parquet
    * compression factor — so partition/bucket/zone-map pruning directly
    * tightens the plan (a filtered fact-table scan can itself become
    * broadcastable). */
  override def estimateStatistics(): Statistics = new Statistics {
    private val bytes = {
      val factor = spark.sessionState.conf.fileCompressionFactor
      files.map(_.file.size).sum match {
        case 0 => 1L // empty scan: don't report 0 (Spark treats as unknown-ish)
        case s => (s * factor).toLong
      }
    }
    override def sizeInBytes(): java.util.OptionalLong =
      java.util.OptionalLong.of(bytes)
    // Post-pruning row count from the per-file footer stats in commit
    // metadata. Exact for single-run scans; for MOR multi-run scans it is
    // the pre-merge sum (an upper bound — safe for join planning, which
    // only risks a missed broadcast, never an OOM one). Unknown when any
    // file lacks stats or a real column shadows the reserved key.
    override def numRows(): java.util.OptionalLong = {
      if (graft.util.SchemaUtil.fromJson(info.schemaJson).fieldNames
          .contains(graft.meta.FileStats.RowCountKey))
        return java.util.OptionalLong.empty()
      var sum = 0L
      files.foreach { f =>
        graft.meta.FileStats.rowCount(graft.meta.FileStats.decode(f.file.stats)) match {
          case Some(n) => sum += n
          case None => return java.util.OptionalLong.empty()
        }
      }
      java.util.OptionalLong.of(sum)
    }
  }

  override def supportedCustomMetrics()
      : Array[org.apache.spark.sql.connector.metric.CustomMetric] =
    Array(new FilesReadMetric, new FilesSkippedMetric, new RunFilesOpenedMetric,
      new ReaderOpenMsMetric)

  /** Reported once per query on the driver: pruning effectiveness. Planned
    * counts the files the input partitions actually carry, so the skipped
    * count covers metadata zone maps, runtime (join-driven) filtering AND
    * the single-bucket point prune of a full primary-key equality. */
  override def reportDriverMetrics()
      : Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] = {
    val planned = planInputPartitions().iterator.map {
      case GraftBucketPartition(_, runs) => runs.iterator.map(_.files.length).sum
      case _: GraftFilePartition => 1
      case _ => 0
    }.sum.toLong
    Array(GraftMetricValue("graftFilesPlanned", planned),
      GraftMetricValue("graftFilesSkipped", filesIn.size - planned))
  }

  override def outputPartitioning(): Partitioning =
    if (bucketMergeable && mappingSettled && pkBucketEff.isEmpty)
      new KeyGroupedPartitioning(
        Array(graft.util.SchemaUtil.qbucket(info.bucketNum, info.hashColumns)),
        info.bucketNum)
    else new UnknownPartitioning(planInputPartitions().length)

  /** The k-way merge emits each bucket partition in (rangeCols, pkCols)
    * ascending nulls-first order (RowComp comparators over typed-ordered
    * runs — DescOrder), so report it: together with KeyGroupedPartitioning
    * this is the reference's SetPartitionAndOrdering.scala:41-127 — a
    * sort-merge join between co-bucketed PK tables plans with NEITHER an
    * exchange NOR a sort on either side. */
  override def outputOrdering(): Array[connector.expressions.SortOrder] =
    if (bucketMergeable)
      (info.rangeColumns ++ info.hashColumns).map(c =>
        Expressions.sort(graft.util.SchemaUtil.qref(c),
          connector.expressions.SortDirection.ASCENDING)).toArray
    else Array.empty

  /** Partition plan cache: planInputPartitions / outputPartitioning /
    * createReaderFactory all need the run split, which groups + sorts every
    * resolved file — compute it once per `files` state. Runtime filtering
    * (filter()) mutates `files`, so it invalidates rather than a lazy val. */
  @volatile private var plannedCache: Array[InputPartition] = _

  override def planInputPartitions(): Array[InputPartition] = {
    val cached = plannedCache
    if (cached != null) return cached
    val computed = computePartitions()
    plannedCache = computed
    computed
  }

  private def computePartitions(): Array[InputPartition] =
    if (bucketMergeable && crossBucketNeeded) {
      // flip-spanning or mapping-ambiguous file set (straddling
      // incremental window, mid/crashed re-bucket snapshot): merge per
      // RANGE PARTITION (mapping-agnostic — partitions are key-disjoint
      // by range columns), every (commit, bucket) subgroup its own
      // key-sorted run in commit order. Mirrors
      // GraftMicroBatchStream.planInputPartitions exactly; such states
      // are rare and transient, so the per-partition parallelism is
      // acceptable where a silent duplicate is not.
      files.groupBy(_.partitionDesc).toSeq.sortBy(_._1).zipWithIndex
        .map { case ((_, fs), i) =>
          val runs = fs.groupBy(f => (f.commitOrdinal, f.file.bucketId))
            .toSeq.sortBy(_._1)
            .flatMap { case (_, sub) =>
              BucketMergeRead.orderedRuns(info, schema, sub) }
            .map { case (rfs, mask, tomb) =>
              GraftRunSpec(rfs.map(f =>
                PartitionedFile(InternalRow.empty,
                  SparkPath.fromPathString(f.file.path), 0L, f.file.size))
                .toArray, mask, tomb)
            }
          GraftBucketPartition(i, runs.toArray): InputPartition
        }.toArray
    } else if (bucketMergeable) {
      // run split/order delegated to BucketMergeRead.orderedRuns: commit
      // ordinals are per-partition, so same-ordinal groups split by
      // (mask, tombstone) signature when partition histories diverge
      val buckets = pkBucketEff.map(Seq(_)).getOrElse(0 until mergeBucketNum)
      buckets.map { b =>
        val mine = files.filter(_.file.bucketId == b)
        val runs = BucketMergeRead.orderedRuns(info, schema, mine).map {
          case (fs, mask, tomb) =>
            GraftRunSpec(fs.map(f =>
              PartitionedFile(InternalRow.empty,
                SparkPath.fromPathString(f.file.path), 0L, f.file.size)).toArray,
              mask, tomb)
        }.toArray
        GraftBucketPartition(b, runs): InputPartition
      }.toArray
    } else {
      // plain scan: one partition per file (no merge semantics needed).
      // Tombstone runs require merge semantics — surfacing their key-only
      // rows as data would be silently wrong, so refuse loudly (reachable
      // only by forcing skip_merge_on_read / unsupported merge ops onto a
      // tombstoned table; deleteTombstone rejects both up front).
      require(!files.exists(f => graft.meta.Tombstone.isTombstone(f.file)),
        "table has tombstone delete runs but the scan cannot merge " +
          "(skip_merge_on_read or unsupported merge operators); run full " +
          "compaction() to materialize the deletes first")
      // A PK table with MERGE-PENDING state whose operators the k-way merge
      // does not support (agg-only custom operators) cannot be answered by
      // a plain scan either — it would surface one row per version. The
      // library read applies the aggregate fallback; the SQL scan refuses.
      require(!info.hasPrimaryKey || !multiRun ||
          info.properties.get(TableInfo.SkipMergeOnReadProp).contains("true"),
        "table has merge-pending (multi-run) state but its merge operators " +
          "are not supported by the SQL scan's k-way merge; read via " +
          "GraftTable.toDF (aggregate merge fallback) or run compaction() " +
          "first")
      files.map { f =>
        GraftFilePartition(
          PartitionedFile(InternalRow.empty,
            SparkPath.fromPathString(f.file.path), 0L, f.file.size),
          BucketMergeRead.presentMask(schema, f.file.existCols)): InputPartition
      }.toArray
    }

  override def createReaderFactory(): PartitionReaderFactory = {
    val reader = org.apache.spark.sql.graft.StreamShim
      .parquetReadFunction(spark, schema, readerFilters)
    val keyIdx = (info.rangeColumns ++ info.hashColumns).map(schema.fieldIndex).toArray
    val keyTypes = keyIdx.map(schema.fields(_).dataType)
    val fieldMerges: Array[FieldMerge] = BucketMergeRead.fieldMerges(info, schema)
    val cdcIdx =
      if (keepCdcRows) -1 // incremental reads keep tombstones (F6 exemption)
      else info.cdcColumn.map(schema.fieldIndex).getOrElse(-1)
    // COLUMNAR whenever the reader batches and the per-row CDC delete
    // filter is a no-op: merge-free partitions stream reader batches
    // untouched, merge-pending buckets go through BatchMergeIterator
    // (pass-through slices + builder batches) — the scan stays vectorized
    // end-to-end in both states. CDC tables stay on the row path: a
    // merge-free state can still carry cdc='delete' rows (partial/leveled
    // compaction output, skip_merge_on_read), and streaming batches
    // unfiltered would resurface deleted rows.
    GraftPartitionReaderFactory(reader, keyIdx, keyTypes, fieldMerges,
      schema, cdcIdx,
      allowColumnar = cdcIdx < 0 &&
        org.apache.spark.sql.graft.StreamShim
          .parquetSupportsBatch(spark, schema),
      maxOpenRuns = BoundedMerge.cap(spark, schema))
  }
}

/** Scan observability (Spark UI SQL tab): files planned vs skipped is how
  * an operator confirms zone-map / runtime pruning actually fired on a big
  * table — the difference between "the filter pushed down" and hoping. */
private[read] class FilesReadMetric
    extends org.apache.spark.sql.connector.metric.CustomSumMetric {
  override def name(): String = "graftFilesPlanned"
  override def description(): String = "graft files planned (post-pruning)"
}
private[read] class FilesSkippedMetric
    extends org.apache.spark.sql.connector.metric.CustomSumMetric {
  override def name(): String = "graftFilesSkipped"
  override def description(): String =
    "graft files skipped (zone maps, runtime filters, PK bucket prune)"
}
/** Task side (summed over the scan's tasks): parquet files the merge
  * readers opened, and the time spent opening them (footer read + reader
  * init) — the per-run setup cost a deep MOR backlog multiplies. */
private[read] class RunFilesOpenedMetric
    extends org.apache.spark.sql.connector.metric.CustomSumMetric {
  override def name(): String = RunFilesOpenedMetric.Name
  override def description(): String = "graft run files opened"
}
private[read] object RunFilesOpenedMetric { val Name = "graftRunFilesOpened" }
private[read] class ReaderOpenMsMetric
    extends org.apache.spark.sql.connector.metric.CustomSumMetric {
  override def name(): String = ReaderOpenMsMetric.Name
  override def description(): String = "graft reader open time (ms)"
}
private[read] object ReaderOpenMsMetric { val Name = "graftReaderOpenMs" }
private[read] case class GraftMetricValue(override val name: String,
    override val value: Long)
    extends org.apache.spark.sql.connector.metric.CustomTaskMetric

/** Streaming offset = newest visible commit timestamp (ms). */
case class GraftStreamOffset(ts: Long)
    extends org.apache.spark.sql.connector.read.streaming.Offset {
  override def json(): String = ts.toString
}

/** Incremental micro-batch stream over a graft table (v2 rendition of
  * GraftStreamSource): each batch bucket-merges the (start, end] commits.
  *
  * ADMISSION CONTROL: without it a stream started against a table with
  * deep history reads the whole backlog as micro-batch 0. Offsets are
  * commit timestamps, so pacing advances the end offset only as far as
  * the next commit boundaries allow: `maxFilesPerTrigger` accumulates
  * whole commits until the added-file budget is spent (always at least
  * one commit — a single commit larger than the budget still forms a
  * batch, it cannot be split below offset granularity);
  * `maxCommitsPerTrigger` takes the next n commit timestamps.
  * `Trigger.AvailableNow` snapshots the newest commit at prepare time and
  * paces toward exactly that cap, then stops — the bounded-backfill
  * pattern. */
class GraftMicroBatchStream(
    spark: SparkSession,
    info: TableInfo,
    schema: StructType,
    readerFilters: Seq[Filter],
    tablePath: String,
    options: Map[String, String] = Map.empty)
    extends org.apache.spark.sql.connector.read.streaming.MicroBatchStream
    with org.apache.spark.sql.connector.read.streaming.SupportsAdmissionControl
    with org.apache.spark.sql.connector.read.streaming.SupportsTriggerAvailableNow {
  import org.apache.spark.sql.connector.read.streaming.{Offset => VOffset, ReadLimit}

  private def table: GraftTable = GraftTable.forPath(spark, tablePath)

  import graft.streaming.StreamPacing
  private val maxFilesPerTrigger =
    StreamPacing.longOption(options, "maxFilesPerTrigger")
  private val maxCommitsPerTrigger =
    StreamPacing.intOption(options, "maxCommitsPerTrigger")
  private val maxBytesPerTrigger =
    StreamPacing.longOption(options, "maxBytesPerTrigger")

  // Trigger.AvailableNow: all batches of this run stop at the newest
  // commit visible when the trigger fired, even if writers keep committing.
  @volatile private var availableNowCap: Option[Long] = None
  override def prepareForTriggerAvailableNow(): Unit =
    availableNowCap = Some(table.lastCommitTs)

  override def getDefaultReadLimit: ReadLimit =
    maxFilesPerTrigger.map(n => ReadLimit.maxFiles(n.toInt))
      .getOrElse(ReadLimit.allAvailable())

  /** Candidate end offsets are CUT at re-bucket flip boundaries
    * ([[graft.meta.RebucketLog.clampAtFlip]]): a batch window spanning a
    * flip can only be merged per range partition (one task each — fine
    * for a live delta-sized boundary batch, a cliff for a catch-up batch
    * after a restart from a pre-re-bucket checkpoint). Cutting makes each
    * side mapping-consistent, so [[planInputPartitions]] dispatches it
    * per-bucket-parallel under that side's own mapping. */
  private def flipClamp(s: Long, candidate: Long): Long =
    graft.meta.RebucketLog.clampAtFlip(
      table.info.properties, s, candidate)

  override def latestOffset(start: VOffset, limit: ReadLimit): VOffset = {
    val s = start.asInstanceOf[GraftStreamOffset].ts
    val newest = availableNowCap.getOrElse(table.lastCommitTs)
    if (newest <= s || StreamPacing.unpaced(maxCommitsPerTrigger,
        maxFilesPerTrigger, maxBytesPerTrigger))
      return GraftStreamOffset(flipClamp(s, math.max(s, newest)))
    val batches = table.commitBatches(s, newest, // ascending commit boundaries
      StreamPacing.boundaryCap(maxCommitsPerTrigger, maxFilesPerTrigger))
    if (batches.isEmpty) return GraftStreamOffset(flipClamp(s, newest))
    GraftStreamOffset(flipClamp(s, StreamPacing.boundedEnd(batches, s,
      maxCommitsPerTrigger, maxFilesPerTrigger, maxBytesPerTrigger)))
  }

  /** Without admission control Spark calls this form. */
  override def latestOffset(): VOffset =
    GraftStreamOffset(availableNowCap.getOrElse(table.lastCommitTs))
  override def reportLatestOffset(): VOffset =
    GraftStreamOffset(table.lastCommitTs)

  /** `readStartTime` skips history at-or-before the given commit ts —
    * same option the DSv1 source honors (checkpointed offsets win: Spark
    * only asks for the initial offset on a fresh query). */
  override def initialOffset(): VOffset =
    GraftStreamOffset(
      options.collectFirst {
        case (k, v) if k.equalsIgnoreCase("readStartTime") => v.toLong
      }.getOrElse(0L))
  override def deserializeOffset(json: String): VOffset =
    GraftStreamOffset(json.trim.toLong)
  override def commit(end: VOffset): Unit = ()
  override def stop(): Unit = ()

  override def planInputPartitions(start: VOffset, end: VOffset): Array[InputPartition] = {
    val s = start.asInstanceOf[GraftStreamOffset].ts
    val e = end.asInstanceOf[GraftStreamOffset].ts
    // strict: a RESTORE/overwrite between the checkpointed offset and this
    // batch's end must fail the query with re-pin guidance — the batch
    // reader's silent abort-to-empty would advance the offset past the
    // boundary and lose the window forever
    // FRESH table info for the mapping replay: a re-bucket may flip after
    // the scan was constructed, and epoch assignment must see its event
    // (the construction-time `info` stays authoritative for schema/keys/
    // merge ops, which re-buckets never change)
    val live = table
    val liveInfo = live.info
    val files = live.incrementalFiles(s, e, strict = true)
    def toSpec(rs: Seq[(Seq[graft.meta.ResolvedFile], Array[Boolean], Boolean)])
        : Array[GraftRunSpec] =
      rs.map { case (fs, mask, tomb) =>
        GraftRunSpec(fs.map(f =>
          PartitionedFile(InternalRow.empty,
            SparkPath.fromPathString(f.file.path), 0L, f.file.size)).toArray,
          mask, tomb)
      }.toArray
    if (!info.hasPrimaryKey)
      files.map(f => GraftFilePartition(
        PartitionedFile(InternalRow.empty,
          SparkPath.fromPathString(f.file.path), 0L, f.file.size),
        BucketMergeRead.presentMask(schema, f.file.existCols)): InputPartition).toArray
    else graft.meta.RebucketLog.epochsOf(liveInfo.properties,
        liveInfo.bucketNum, files) match {
      case Some(epochs) if epochs.size <= 1 =>
        // mapping-consistent batch (the common case — latestOffset cuts
        // candidate windows at flip boundaries): per-bucket dispatch under
        // the EPOCH's own count (which may differ from info.bucketNum: the
        // pre-flip side of a cut batch, or a window entirely before an
        // in-flight down-re-bucket), widened to the observed ids so a file
        // past a flipped-down count is never silently dropped
        val n = math.max(
          epochs.headOption.map(_._1).getOrElse(liveInfo.bucketNum),
          files.iterator.map(_.file.bucketId).foldLeft(-1)(math.max) + 1)
        (0 until n).map { b =>
          val mine = files.filter(_.file.bucketId == b)
          GraftBucketPartition(b,
            toSpec(BucketMergeRead.orderedRuns(info, schema, mine))): InputPartition
        }.toArray
      case _ =>
        // the window spans a key->bucket MAPPING change, or is
        // mapping-ambiguous (open marker, unknown commit provenance,
        // pre-horizon): per-bucket dispatch is key-disjoint only under one
        // mapping — a straddling key's old- and new-mapping rows would
        // land in different merge tasks and BOTH surface. Merge per RANGE
        // PARTITION instead, every (commit, bucket) subgroup its own
        // key-sorted run in commit order (readCrossBucket's grouping,
        // through the same k-way partition reader). Reachable only from a
        // checkpoint committed ACROSS a flip before clamping existed, or
        // under an open/ambiguous marker where no cut is sound — rare and
        // transient, so the per-partition parallelism is acceptable where
        // a silent duplicate is not.
        files.groupBy(_.partitionDesc).toSeq.sortBy(_._1).zipWithIndex
          .map { case ((_, fs), i) =>
            val runs = fs.groupBy(f => (f.commitOrdinal, f.file.bucketId))
              .toSeq.sortBy(_._1)
              .flatMap { case (_, sub) =>
                BucketMergeRead.orderedRuns(info, schema, sub) }
            GraftBucketPartition(i, toSpec(runs)): InputPartition
          }.toArray
    }
  }

  override def createReaderFactory(): PartitionReaderFactory = {
    val reader = org.apache.spark.sql.graft.StreamShim
      .parquetReadFunction(spark, schema, readerFilters)
    val keyIdx = (info.rangeColumns ++ info.hashColumns).map(schema.fieldIndex).toArray
    GraftPartitionReaderFactory(reader, keyIdx,
      keyIdx.map(schema.fields(_).dataType),
      BucketMergeRead.fieldMerges(info, schema), schema,
      cdcIdx = -1, // incremental semantics: tombstones kept (F6 exemption)
      maxOpenRuns = BoundedMerge.cap(spark, schema))
  }
}

/** One sorted run of one bucket: files + physical-column presence mask +
  * whether the run is a key-only tombstone run ([[graft.meta.Tombstone]]). */
case class GraftRunSpec(files: Array[PartitionedFile], mask: Array[Boolean],
    tomb: Boolean = false)

case class GraftBucketPartition(bucket: Int, runs: Array[GraftRunSpec])
    extends InputPartition with HasPartitionKey {
  override def partitionKey(): InternalRow =
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](bucket))
}

case class GraftFilePartition(file: PartitionedFile, mask: Array[Boolean])
    extends InputPartition

case class GraftPartitionReaderFactory(
    reader: org.apache.spark.sql.graft.ParquetRunReader,
    keyIdx: Array[Int],
    keyTypes: Array[org.apache.spark.sql.types.DataType],
    fieldMerges: Array[FieldMerge],
    schema: org.apache.spark.sql.types.StructType,
    cdcIdx: Int,
    allowColumnar: Boolean = false,
    maxOpenRuns: Int = BoundedMerge.DefaultCap) extends PartitionReaderFactory {

  private def nFields: Int = schema.length

  /** COLUMNAR path: merge-free partitions (plain files, single-run buckets)
    * stream the vectorized reader's batches untouched; merge-PENDING
    * buckets go through [[BatchMergeIterator]] — batch pass-through for
    * unique-key stretches, a builder batch for overlap regions, identical
    * semantics to the row path (shared GroupMerger). Spark rejects MIXED
    * row/columnar partitions, so `allowColumnar` is the scan-level
    * decision: reader batched AND no CDC delete filter (that one is
    * per-row; CDC scans stay row-based). Schema evolution is safe in both
    * modes: the reader null-fills absent columns (single-contributor
    * semantics), and grouped keys consult per-run presence masks. */
  override def supportColumnarReads(p: InputPartition): Boolean = allowColumnar

  override def createColumnarReader(p: InputPartition)
      : PartitionReader[org.apache.spark.sql.vectorized.ColumnarBatch] = {
    val readFn = reader.forTask(closeAtTaskEnd = false)
    // widen to Any BEFORE matching: the reader erases ColumnarBatch behind
    // Iterator[InternalRow], and a typed lambda param would checkcast
    // InternalRow first (same pitfall BucketMergeRead.flatten documents)
    val batchesOf: PartitionedFile =>
        Iterator[org.apache.spark.sql.vectorized.ColumnarBatch] = pf =>
      readFn(pf).asInstanceOf[Iterator[Any]].map {
        case b: org.apache.spark.sql.vectorized.ColumnarBatch => b
        case row => throw new IllegalStateException(
          s"batched reader yielded a row (${row.getClass.getName}); " +
            "allowColumnar must mirror the reader's supportBatch decision")
      }
    val batches: Iterator[org.apache.spark.sql.vectorized.ColumnarBatch] =
      p match {
        case GraftFilePartition(f, _) => batchesOf(f)
        case GraftBucketPartition(_, runs) =>
          if (runs.isEmpty || (runs.length == 1 && runs.head.tomb))
            Iterator.empty
          else if (runs.length == 1) // merge-free: reader batches untouched
            runs.head.files.iterator.flatMap(batchesOf)
          else {
            val bounded = BoundedMerge.sources(readFn,
              runs.map(_.files.toSeq).toIndexedSeq, runs.map(_.mask),
              runs.map(_.tomb), keyIdx, keyTypes, fieldMerges, maxOpenRuns)
            val cursors: IndexedSeq[MergeRunCursor] = bounded.map { s =>
              if (s.isParquet) new BatchRunCursor(
                MergeReaderGauge.tracked(s.files.iterator.flatMap(batchesOf)),
                s.mask, s.tomb): MergeRunCursor
              else new RowRunCursor(
                BoundedMerge.readSpill(s.spill, nFields), s.mask, s.tomb)
            }
            new BatchMergeIterator(cursors, keyIdx, keyTypes, fieldMerges,
              schema)
          }
        case other => throw new IllegalStateException(
          s"columnar read offered for unsupported partition $other")
      }
    new GraftPartitionReader(batches, readFn)
  }

  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val readFn = reader.forTask(closeAtTaskEnd = false)
    val rows: Iterator[InternalRow] = p match {
      case GraftBucketPartition(_, runs) =>
        BoundedMerge.iterator(readFn,
          runs.map(_.files.toSeq).toIndexedSeq, runs.map(_.mask),
          runs.map(_.tomb), keyIdx, keyTypes, fieldMerges, maxOpenRuns)
      case GraftFilePartition(f, _) =>
        BucketMergeRead.flattenRows(readFn(f))
    }
    val visible =
      if (cdcIdx < 0) rows
      else {
        val deleteTag = UTF8String.fromString("delete")
        rows.filter(r => r.isNullAt(cdcIdx) ||
          !r.getUTF8String(cdcIdx).equals(deleteTag))
      }
    new GraftPartitionReader(visible, readFn)
  }
}

/** One input partition's reader (rows or ColumnarBatches). Reports the
  * task-side scan metrics of its [[org.apache.spark.sql.graft.ParquetTaskReader]];
  * `initMetricsValues` carries the totals of earlier partitions Spark ran
  * in the same task, so the task's sums stay cumulative. */
private[read] class GraftPartitionReader[T](
    it: Iterator[T],
    readFn: org.apache.spark.sql.graft.ParquetTaskReader) extends PartitionReader[T] {
  private var current: T = _
  private var priorOpened = 0L
  private var priorOpenMs = 0L

  override def next(): Boolean =
    if (it.hasNext) { current = it.next(); true } else false
  override def get(): T = current
  override def close(): Unit = readFn.close()

  override def initMetricsValues(
      metrics: Array[org.apache.spark.sql.connector.metric.CustomTaskMetric]): Unit =
    metrics.foreach { m =>
      m.name match {
        case RunFilesOpenedMetric.Name => priorOpened = m.value
        case ReaderOpenMsMetric.Name => priorOpenMs = m.value
        case _ =>
      }
    }

  override def currentMetricsValues()
      : Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] =
    Array(GraftMetricValue(RunFilesOpenedMetric.Name,
        priorOpened + readFn.filesOpened),
      GraftMetricValue(ReaderOpenMsMetric.Name, priorOpenMs + readFn.openMs))
}
