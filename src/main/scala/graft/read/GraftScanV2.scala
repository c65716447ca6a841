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
  *   It covers catalog tables and library reads alike (`toDF`, pinned
  *   snapshots, `GraftTable.bucketedJoin`): a library read resolves
  *   `bucket` through [[graft.catalog.GraftFunctionCatalog]].
  */
/** Shared key for the packed per-scan merge-operator option (M4). */
object ExtractMergeOpProjectionOption {
  val Key = "graft.mergeops"
}

/** Where a [[GraftScanBuilder]] takes its files from. */
private[graft] sealed trait ScanSource

/** The catalog table's snapshot resolvers: full, snapshot (`readtype` =
  * snapshot) or incremental (`readtype` = incremental) per the read
  * options; the only source that may answer aggregates from metadata. */
private[graft] final case class CatalogFiles(table: GraftTable) extends ScanSource

/** An already-resolved file set (the library reads, [[GraftRead.read]]).
  * Like the RDD reads it replaced, it answers no aggregate from metadata
  * and pushes no predicate into the parquet readers. */
private[graft] final case class FixedFiles(files: Seq[ResolvedFile],
    keepCdcRows: Boolean) extends ScanSource

/** Read-only DSv2 table over a [[ScanSource]]: the library reads (a
  * [[FixedFiles]] set) and `spark.read.format("graft")` (the table's
  * [[CatalogFiles]], [[graft.sources.GraftDataSource]]) plan through the
  * same [[GraftScanBuilder]] as `graft_cat.ns.t`. `info` may be a modified
  * copy of the stored one (per-read merge operators, an epoch's bucket
  * count). Without `batchRead` the table reports no capability, so Spark
  * plans `format("graft")` through the DSv1 relation instead. */
private[graft] class GraftReadTable(spark: SparkSession, info: TableInfo,
    source: ScanSource, batchRead: Boolean = true) extends connector.catalog.Table
    with connector.catalog.SupportsRead {
  override def name(): String = source match {
    case _: CatalogFiles => info.tablePath
    case _: FixedFiles => s"graft files of ${info.tablePath}"
  }
  override def schema(): StructType = {
    val declared = graft.util.SchemaUtil.fromJson(info.schemaJson)
    source match {
      case FixedFiles(files, _) => BucketMergeRead.relaxMissing(declared, files)
      case _: CatalogFiles => declared
    }
  }
  override def capabilities(): java.util.Set[connector.catalog.TableCapability] =
    if (batchRead) java.util.EnumSet.of(connector.catalog.TableCapability.BATCH_READ)
    else java.util.EnumSet.noneOf(classOf[connector.catalog.TableCapability])
  override def newScanBuilder(
      options: org.apache.spark.sql.util.CaseInsensitiveStringMap): ScanBuilder =
    new GraftScanBuilder(spark, info, source,
      scala.jdk.CollectionConverters.MapHasAsScala(options).asScala.toMap)
}

class GraftScanBuilder(
    spark: SparkSession,
    tableInfo: TableInfo,
    source: ScanSource,
    options: Map[String, String])
    extends ScanBuilder with SupportsPushDownFilters
    with SupportsPushDownRequiredColumns with SupportsPushDownAggregates {

  def this(spark: SparkSession, table: GraftTable,
      options: Map[String, String] = Map.empty) =
    this(spark, table.info, CatalogFiles(table), options)

  // per-query merge-operator overrides arrive as the packed scan option
  // `graft.mergeops` = "col:op[,col:op...]" (set by the SQL extraction rule
  // ExtractMergeOpProjection or an explicit .option(...)) and override the
  // table-property defaults for THIS scan only (M4)
  private val info =
    options.get(ExtractMergeOpProjectionOption.Key).filter(_.nonEmpty) match {
      case Some(spec) =>
        val ops = spec.split(',').map { s =>
          val i = s.lastIndexOf(':')
          require(i > 0 && i < s.length - 1, s"bad mergeops spec entry '$s'")
          s.substring(0, i) -> s.substring(i + 1)
        }
        ops.foreach { case (_, op) => graft.mergeop.MergeOps.forName(op) }
        tableInfo.copy(properties = tableInfo.properties ++
          ops.map { case (c, o) => graft.meta.TableInfo.mergeOpProp(c) -> o })
      case None => tableInfo
    }
  private val fullSchema = graft.util.SchemaUtil.fromJson(tableInfo.schemaJson)
  private var requiredSchema: StructType = fullSchema
  private var pushed: Array[Filter] = Array.empty
  private var dataFilters: Seq[Filter] = Nil
  private var pkBucket: Option[Int] = None
  private var aggResult: Option[(StructType, Array[InternalRow])] = None

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
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
    pushed = if (!source.isInstanceOf[CatalogFiles]) Array.empty
      else filters.filter(f => Filters.toColumn(f).isDefined &&
        (!info.hasPrimaryKey || f.references.forall(keyCols.contains)))
    filters // all residual: Spark re-applies everything above the scan
  }

  override def pushedFilters(): Array[Filter] = pushed

  /** Partition predicate + point-lookup descs (F4 / the reference's
    * indexed PG prune) from the pushed filters and the `partitiondesc`
    * option, which prunes on its own: Spark calls pushFilters only when
    * the query has a filter. */
  private def partitionPruning: (String => Boolean, Option[Seq[String]]) =
    Filters.partitionPruning(dataFilters, info.rangeColumns, fullSchema,
      options.get("partitiondesc"))

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
    val table = source match {
      case CatalogFiles(t) => t
      case _: FixedFiles => return None
    }
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
    val (partPred, exactDescs) = partitionPruning
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
    val (partPred, exactDescs) = partitionPruning
    val (files, keepCdc) = source match {
      case FixedFiles(fs, keep) =>
        (fs.filter(f => partPred(f.partitionDesc)), keep)
      case CatalogFiles(table) => options.getOrElse("readtype", "full") match {
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
    }
    new GraftScan(spark, info, readSchema, files, dataFilters, pkBucket, keepCdc,
      scanOpts, pushToReaders = source.isInstanceOf[CatalogFiles])
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
    scanOptions: Map[String, String] = Map.empty,
    pushToReaders: Boolean = true)
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
    * (r15 soak find). */
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
    * double-surface straddling keys, so [[computePartitions]] plans such
    * sets under the final epoch's mapping, or per range partition. */
  private val epochsOpt
      : Option[Seq[(Int, Seq[graft.meta.ResolvedFile])]] =
    if (!info.hasPrimaryKey) Some(Seq(info.bucketNum -> filesIn))
    else graft.meta.RebucketLog.epochsOf(info.properties, info.bucketNum, filesIn)

  /** The test toggle [[GraftRead.forceCrossBucketRead]], read at plan
    * time: merge per range partition whatever the set's mapping, and claim
    * no mapping at all (the equivalence oracle of the epoch partitions). */
  private val forceCrossBucket = GraftRead.forceCrossBucketRead

  private val crossBucketNeeded: Boolean =
    info.hasPrimaryKey && (forceCrossBucket || !epochsOpt.exists(_.size <= 1))

  /** The mapping epochs a set spanning a re-bucket plans by
    * ([[GraftScan.epochPartitions]]); None for a single-epoch or ambiguous
    * set, and under the toggle. */
  private val splitEpochs: Option[Seq[(Int, Seq[graft.meta.ResolvedFile])]] =
    if (forceCrossBucket) None else epochsOpt.filter(_.size >= 2)

  /** The ID-DERIVED optimizations — the single-bucket point prune (M6)
    * and the reported KeyGroupedPartitioning (SPJ) — are valid only when
    * the files' single mapping IS the CURRENT count's: mid re-bucket,
    * mid crashed-restore recovery, or reading a time-travel/incremental
    * boundary that predates a completed re-bucket, files carry a
    * DIFFERENT mapping — pruning by the current count would miss the
    * key's actual bucket, and SPJ would pair partitions of two different
    * mappings (silently wrong join). Merge correctness is
    * mapping-agnostic and stays on. A forced cross-bucket read claims no
    * mapping at all. */
  private val mappingSettled = !forceCrossBucket &&
    graft.meta.RebucketLog.settledAt(info.properties, info.bucketNum, filesIn)

  private val pkBucketEff: Option[Int] = if (mappingSettled) pkBucket else None

  /** GROUP-ALIGNED: input partition i is bucket i of the current mapping,
    * in key order, holding every run of that bucket (and only those). It
    * decides the reported KeyGroupedPartitioning, and lets a caller that
    * rewrites the read verbatim (compaction) keep the placement instead of
    * re-shuffling by bucket id
    * ([[graft.write.TransactionalWrite.writeFiles]] inputBucketAligned).
    * A single OLD-mapping set (a crashed re-bucket's flip before its
    * rewrite) reads exactly by raw ids but is not aligned: a write keeping
    * its placement would stamp old-mapping ids under the new count. */
  private[graft] val groupAligned: Boolean =
    bucketMergeable && mappingSettled && !crossBucketNeeded && pkBucketEff.isEmpty

  private val multiRun =
    files.groupBy(_.partitionDesc).values.exists(_.map(_.commitOrdinal).distinct.size > 1)

  // merge-safe reader-level filters: key-only always; everything once no
  // merge can occur (single run everywhere or no PK). Off for fixed file
  // sets (the library reads): zone maps and the bucket prune already
  // apply the exact filters per file, and the per-file predicate costs
  // more than it skips on the DML key reads (measured on a 4-core host:
  // a 150-key IN-list added ~45 ms to each perfbench cdc_ingest delete)
  private val readerFilters: Seq[Filter] = if (!pushToReaders) Nil else {
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
    * counts the distinct files the input partitions actually carry (a set
    * spanning a re-bucket reads an old file in several partitions), so the
    * skipped count covers metadata zone maps, runtime (join-driven)
    * filtering AND the single-bucket point prune of a full primary-key
    * equality. */
  override def reportDriverMetrics()
      : Array[org.apache.spark.sql.connector.metric.CustomTaskMetric] = {
    val planned = planInputPartitions().iterator.flatMap {
      case GraftBucketPartition(_, runs) =>
        runs.iterator.flatMap(_.files.iterator.map(_.filePath))
      case GraftFilePartition(f, _) => Iterator.single(f.filePath)
      case _ => Iterator.empty
    }.toSet.size.toLong
    Array(GraftMetricValue("graftFilesPlanned", planned),
      GraftMetricValue("graftFilesSkipped", filesIn.size - planned))
  }

  override def outputPartitioning(): Partitioning =
    if (groupAligned)
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

  /** Input partitions by the set's mapping: one per bucket for one
    * mapping; one per bucket of the FINAL mapping for a set spanning two
    * or more epochs (straddling incremental window, mid/crashed re-bucket
    * with post-flip writes); one per range partition for an ambiguous set
    * or a forced cross read; one per file when nothing merges. */
  private def computePartitions(): Array[InputPartition] =
    if (bucketMergeable && crossBucketNeeded) {
      // the per-range-partition merge is mapping-agnostic (partitions are
      // key-disjoint by range columns) but runs one task per range
      // partition: only ambiguous sets, which are rare and transient, and
      // the oracle take it
      splitEpochs.flatMap(GraftScan.epochPartitions(info, schema, files, _))
        .getOrElse(GraftScan.crossBucketPartitions(info, schema, files))
    } else if (bucketMergeable) {
      // run split/order delegated to BucketMergeRead.orderedRuns: commit
      // ordinals are per-partition, so same-ordinal groups split by
      // (mask, tombstone) signature when partition histories diverge
      GraftScan.bucketPartitions(info, schema, files,
        pkBucketEff.map(Seq(_)).getOrElse(0 until mergeBucketNum))
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
      GraftScan.filePartitions(schema, files)
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
    // a run read into another mapping's bucket filters per row, which only
    // the row path does
    val filteredRuns = splitEpochs.exists(es =>
      es.exists(e => GraftScan.keyFiltered(e._1, es.last._1)))
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
      allowColumnar = cdcIdx < 0 && !filteredRuns &&
        org.apache.spark.sql.graft.StreamShim
          .parquetSupportsBatch(spark, schema),
      maxOpenRuns = BoundedMerge.cap(spark, schema),
      hashIdx = info.hashColumns.map(schema.fieldIndex).toArray)
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
    if (!info.hasPrimaryKey) GraftScan.filePartitions(schema, files)
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
        GraftScan.bucketPartitions(info, schema, files, 0 until n)
      case Some(epochs) if !GraftRead.forceCrossBucketRead =>
        // the window spans a key->bucket MAPPING change (a checkpoint
        // committed across a flip before clamping existed, post-flip
        // writes under an open marker): per-bucket dispatch under one
        // count would surface a straddling key's old- and new-mapping rows
        // in different tasks, so plan the final epoch's buckets
        GraftScan.epochPartitions(info, schema, files, epochs)
          .getOrElse(GraftScan.crossBucketPartitions(info, schema, files))
      case _ =>
        // mapping-ambiguous (unknown commit provenance, pre-horizon, an
        // unfinished restore): merge per RANGE PARTITION — rare and
        // transient, so the per-partition parallelism is acceptable where
        // a silent duplicate is not
        GraftScan.crossBucketPartitions(info, schema, files)
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
      maxOpenRuns = BoundedMerge.cap(spark, schema),
      hashIdx = info.hashColumns.map(schema.fieldIndex).toArray)
  }
}

/** Input-partition planning shared by the batch scan and the micro-batch
  * stream. */
private[read] object GraftScan {
  private def partitionedFile(f: ResolvedFile): PartitionedFile =
    PartitionedFile(InternalRow.empty, SparkPath.fromPathString(f.file.path),
      0L, f.file.size)

  private def runSpecs(runs: Seq[(Seq[ResolvedFile], Array[Boolean], Boolean)],
      keep: Option[KeyBucketFilter] = None): Array[GraftRunSpec] =
    runs.map { case (fs, mask, tomb) =>
      GraftRunSpec(fs.map(partitionedFile).toArray, mask, tomb, keep)
    }.toArray

  /** No merge: one partition per file. */
  def filePartitions(schema: StructType, files: Seq[ResolvedFile])
      : Array[InputPartition] =
    files.map(f => GraftFilePartition(partitionedFile(f),
      BucketMergeRead.presentMask(schema, f.file.existCols)): InputPartition).toArray

  /** One partition per bucket id in `buckets`, holding that bucket's
    * ordered runs (empty when it has no file). */
  def bucketPartitions(info: TableInfo, schema: StructType,
      files: Seq[ResolvedFile], buckets: Seq[Int]): Array[InputPartition] =
    buckets.map { b =>
      GraftBucketPartition(b, runSpecs(BucketMergeRead.orderedRuns(info,
        schema, files.filter(_.file.bucketId == b)))): InputPartition
    }.toArray

  /** Whether a run written under `n` buckets, read into a bucket of the
    * final count `finalN`, needs a row filter: unless `finalN` divides `n`,
    * its file also holds keys of other final buckets. */
  def keyFiltered(n: Int, finalN: Int): Boolean = n % finalN != 0

  /** One partition per bucket b of the FINAL mapping (count N) for a set
    * spanning two or more mapping epochs (`epochs` = (count, files), oldest
    * first, from [[graft.meta.RebucketLog.epochsOf]]; `files` is a subset
    * of their union). A file written under count n with bucket id ob can
    * hold keys of b iff ob ≡ b (mod gcd(n, N)); such a run joins partition
    * b, read through the filter `bucket(key, N) == b` when
    * [[keyFiltered]]. Runs group by (commit ordinal, bucket id, epoch
    * count) — a key's holders in one range partition are distinct
    * commits, so ordinal order is fold order — and each group splits by
    * [[BucketMergeRead.orderedRuns]]. None when a file's bucket id lies
    * outside its epoch's count. */
  def epochPartitions(info: TableInfo, schema: StructType,
      files: Seq[ResolvedFile], epochs: Seq[(Int, Seq[ResolvedFile])])
      : Option[Array[InputPartition]] = {
    val n = epochs.last._1
    val countOf: Map[String, Int] = epochs.iterator.flatMap { case (c, fs) =>
      fs.iterator.map(_.file.path -> c)
    }.toMap
    if (files.exists(f => f.file.bucketId < 0 ||
        f.file.bucketId >= countOf(f.file.path))) return None
    val groups = files
      .groupBy(f => (f.commitOrdinal, f.file.bucketId, countOf(f.file.path)))
      .toSeq.sortBy(_._1).map { case ((_, ob, c), fs) =>
        (ob, c, BucketMergeRead.orderedRuns(info, schema, fs))
      }
    Some((0 until n).map { b =>
      GraftBucketPartition(b, groups.flatMap { case (ob, c, runs) =>
        val g = BigInt(c).gcd(n).toInt
        if (ob % g != b % g) Nil
        else runSpecs(runs,
          if (keyFiltered(c, n)) Some(KeyBucketFilter(n, b)) else None)
      }.toArray): InputPartition
    }.toArray)
  }

  /** One partition per RANGE PARTITION ([[crossBucketRuns]]): exact under
    * any mix of key->bucket mappings. */
  def crossBucketPartitions(info: TableInfo, schema: StructType,
      files: Seq[ResolvedFile]): Array[InputPartition] =
    files.groupBy(_.partitionDesc).toSeq.sortBy(_._1).zipWithIndex
      .map { case ((_, fs), i) =>
        GraftBucketPartition(i, crossBucketRuns(info, schema, fs)): InputPartition
      }.toArray

  /** The runs of one range partition's files, every (commit, bucket)
    * subgroup its own key-sorted run in commit order. */
  def crossBucketRuns(info: TableInfo, schema: StructType,
      files: Seq[ResolvedFile]): Array[GraftRunSpec] =
    runSpecs(files.groupBy(f => (f.commitOrdinal, f.file.bucketId)).toSeq
      .sortBy(_._1).flatMap { case (_, sub) =>
        BucketMergeRead.orderedRuns(info, schema, sub) })
}

/** One sorted run of one bucket: files + physical-column presence mask +
  * whether the run is a key-only tombstone run ([[graft.meta.Tombstone]]) +
  * the row filter of a run read into another mapping's bucket. */
case class GraftRunSpec(files: Array[PartitionedFile], mask: Array[Boolean],
    tomb: Boolean = false, keep: Option[KeyBucketFilter] = None) {
  /** Value identity (the arrays compare by reference): runs with equal
    * signatures read the same rows. */
  def signature: (Seq[String], Seq[Boolean], Boolean, Option[KeyBucketFilter]) =
    (files.toSeq.map(_.filePath.toString), mask.toSeq, tomb, keep)
}

/** Keep the rows whose key lies in bucket `bucket` of `numBuckets`. */
case class KeyBucketFilter(numBuckets: Int, bucket: Int)

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
    maxOpenRuns: Int = BoundedMerge.DefaultCap,
    hashIdx: Array[Int] = Array.empty,
    exactDiff: Boolean = false) extends PartitionReaderFactory {

  private def nFields: Int = schema.length

  /** The row predicate of a run's [[KeyBucketFilter]]. */
  private def keyFilter(f: KeyBucketFilter): InternalRow => Boolean = {
    val bucketOf = org.apache.spark.sql.catalyst.expressions.UnsafeProjection
      .create(Seq(TransactionalWrite.bucketExpr(hashIdx.toSeq.map(i =>
        org.apache.spark.sql.catalyst.expressions.BoundReference(i,
          schema(i).dataType, nullable = true)), f.numBuckets)))
    r => bucketOf(r).getInt(0) == f.bucket
  }

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
            require(runs.forall(_.keep.isEmpty),
              "a filtered run reads on the row path only")
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

  private def merged(readFn: PartitionedFile => Iterator[InternalRow],
      runs: Array[GraftRunSpec]): Iterator[InternalRow] =
    BoundedMerge.iterator(readFn,
      runs.map(_.files.toSeq).toIndexedSeq, runs.map(_.mask),
      runs.map(_.tomb), keyIdx, keyTypes, fieldMerges, maxOpenRuns,
      runs.map(_.keep.map(keyFilter)).toIndexedSeq)

  /** The snapshot diff of one [[GraftDiffPartition]]: both sides merged
    * with the same loser-tree merge reads use, walked in lockstep by
    * [[SnapshotDiffIterator]] — keys only in old emit `delete`, only in new
    * `insert`, value-changed keys the `update_preimage`/`update_postimage`
    * pair, unchanged keys nothing. It compares the two MERGED states, not
    * the file deltas, so it is exact across any commit mix (upserts,
    * UPDATE/DELETE rewrites, compaction, re-buckets).
    *
    * DELTA-SHAPE fast path: when the old side's runs are a strict PREFIX of
    * the new side's (the incremental-refresh / delta-DML window: every
    * commit only ADDED runs), the shared runs are read ONCE — the merged
    * old stream feeds the diff's old side AND, through a small tee, stands
    * in as run 0 of the new-side merge. Exact by the same left-fold-prefix
    * argument BoundedMerge's spill pre-merge relies on (fold(shared) then
    * fold the delta runs on top IS the full fold). Gated on a uniform old
    * mask so the pre-merged contribution's column-presence stays exact
    * (same condition BoundedMerge groups on), on the delta run count
    * fitting the open-reader budget (run 0 is the tee, so cap-1 parquet
    * runs remain), and on NO TOMBSTONE delta runs: the new-side merge
    * drains tombstoned shared keys without emitting, so a tombstone
    * deleting a long key range would pile the whole drained stretch into
    * the tee's old-side buffer — the lockstep bound the tee depends on only
    * holds when every consumed shared key produces an output row. Tombstone
    * windows take the exact two-merge path. */
  private def diffRows(readFn: PartitionedFile => Iterator[InternalRow],
      oldRuns: Array[GraftRunSpec],
      newRuns: Array[GraftRunSpec]): Iterator[InternalRow] = {
    val dts = schema.fields.map(_.dataType)
    val proj = org.apache.spark.sql.catalyst.expressions.UnsafeProjection
      .create(dts :+ org.apache.spark.sql.types.StringType)
    val keyComps = RowComp.makeComps(keyIdx, keyTypes)
    val fieldComps = dts.zipWithIndex.map { case (dt, i) => RowComp.makeComp(i, dt) }
    val shared = oldRuns.length
    val deltaShape = !exactDiff &&
      shared > 0 && newRuns.length > shared &&
      oldRuns.map(_.signature).sameElements(newRuns.take(shared).map(_.signature)) &&
      oldRuns.forall(r => java.util.Arrays.equals(r.mask, oldRuns.head.mask)) &&
      (newRuns.length - shared) <= (maxOpenRuns - 1) &&
      newRuns.drop(shared).forall(!_.tomb)
    if (deltaShape) {
      BucketMergeRead.deltaShapeCount.incrementAndGet()
      val (oldSide, sharedAsRun) = TeeIterator.split(merged(readFn, oldRuns))
      val deltaRuns = newRuns.drop(shared)
      val newIt = new KWayMergeIterator(
        (sharedAsRun +: deltaRuns.toSeq.map(r => BoundedMerge.parquetRows(readFn,
          BoundedMerge.RunSource(r.files.toSeq, null, r.mask, r.tomb,
            r.keep.map(keyFilter))))).toIndexedSeq,
        keyIdx, keyTypes, fieldMerges, nFields,
        (oldRuns.head.mask +: deltaRuns.map(_.mask)),
        (false +: deltaRuns.map(_.tomb)))
      new SnapshotDiffIterator(oldSide, newIt, keyComps, fieldComps, dts, proj)
    } else
      new SnapshotDiffIterator(merged(readFn, oldRuns), merged(readFn, newRuns),
        keyComps, fieldComps, dts, proj)
  }

  override def createReader(p: InputPartition): PartitionReader[InternalRow] = {
    val readFn = reader.forTask(closeAtTaskEnd = false)
    val rows: Iterator[InternalRow] = p match {
      case GraftBucketPartition(_, runs) => merged(readFn, runs)
      case GraftFilePartition(f, _) =>
        BucketMergeRead.flattenRows(readFn(f))
      case GraftDiffPartition(oldRuns, newRuns) =>
        diffRows(readFn, oldRuns, newRuns)
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
