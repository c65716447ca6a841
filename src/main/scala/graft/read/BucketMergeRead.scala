package graft.read

import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, UnsafeProjection}
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.execution.datasources.PartitionedFile
import org.apache.spark.sql.types._
import org.apache.spark.sql.vectorized.ColumnarBatch
import org.apache.spark.unsafe.types.UTF8String

import graft.mergeop.MergeOps
import graft.meta.{ResolvedFile, TableInfo}
import graft.write.TransactionalWrite

/** Shuffle-free merge-on-read: the Spark-native rendition of the reference's
  * sorted-stream merger (SURVEY.md §2.2 M1,
  * rust/lakesoul-io/src/physical_plan/merge/sorted/sorted_stream_merger.rs).
  *
  * Every sorted run is hash-bucketed identically at write time, so all rows
  * of one primary key live in bucket `pmod(hash(pk), n)` of every run. The
  * read therefore parallelizes by BUCKET: one task per bucket opens its K
  * run iterators (Spark's own vectorized parquet reader via a serialized
  * read-function — no shuffle, no driver data path) and k-way-merges them by
  * (range-partition, pk) with the per-column merge operators.
  *
  * vs the aggregate-based merge (GraftRead.mergeRead): no exchange at all —
  * wall-clock is one narrow stage, and at 1000-executor scale the merge cost
  * stays proportional to live rows per bucket instead of re-shuffling the
  * table on every read. Parallelism = bucketNum (choose bucketNum ~ cluster
  * cores at table-creation time, exactly like the reference).
  *
  * Schema evolution is handled INSIDE the merge (S4/S9): files written
  * before a column existed read as nulls (Spark's parquet reader null-fills
  * missing columns), and a per-run presence mask keeps operator semantics
  * exact — an absent column never overwrites, unlike an explicit null
  * (MergeParquetScan.scala:211-257). The aggregate fallback remains only
  * for custom/user-registered merge operators.
  *
  * This object holds the run planning ([[orderedRuns]]) and the merge
  * kernel ([[KWayMergeIterator]], [[GroupMerger]]) that [[GraftScan]]'s
  * partition readers run for every merged read, a file set spanning a
  * re-bucket included, and the snapshot diff kernel
  * ([[SnapshotDiffIterator]], [[TeeIterator]]) that [[GraftDiffScan]]'s
  * readers run. Its RDD entry point serves what no scan plans yet:
  * [[readRdd]] (the bucketed join).
  */
object BucketMergeRead {

  /** Test toggle: force the exact two-merge diff path even for windows the
    * delta-shape gate would accept. Captured when the diff scan builds its
    * reader factory, so it serializes with the task and behaves identically
    * in distributed mode. The ModelCheck diff property routes each
    * randomized window through both paths and asserts equal output. */
  @volatile private[graft] var forceExactDiffPath: Boolean = false

  /** Test gauge: fast-path windows taken since last reset (guards the
    * both-paths property against vacuously passing on fallback-only data). */
  private[graft] val deltaShapeCount =
    new java.util.concurrent.atomic.AtomicInteger(0)

  /** One run of one bucket: files sorted by partition desc + the run's
    * physical-column presence mask over the read schema (schema evolution:
    * files written before a column existed mark it absent — absent is NOT
    * an explicit null, MergeParquetScan.scala:211-257) + whether the run is
    * a key-only tombstone run ([[graft.meta.Tombstone]]). */
  private case class BucketGroup(
      bucket: Int, runs: Seq[(Seq[PartitionedFile], Array[Boolean], Boolean)])

  /** Presence mask of one run's physical columns over the read schema. */
  def presentMask(schema: StructType, existCols: String): Array[Boolean] =
    if (existCols == null || existCols.isEmpty) Array.fill(schema.length)(true)
    else {
      val have = existCols.split(",").toSet
      schema.fields.map(f => have.contains(f.name))
    }

  /** Mark columns absent from >=1 contributing file NULLABLE: the
    * fall-through merge surfaces NULL for them on keys first written by a
    * partial batch (no older run to fall to), and a false NOT NULL claim
    * makes codegen skip isNullAt and read the null slot as garbage 0
    * (pre-r12 tables; new tables store non-key columns nullable). Shared
    * by the DSv2 scan and the library read so the two paths can never
    * drift. Deduped by distinct existCols string — O(distinct masks), not
    * O(files x columns), on wide many-file tables. */
  def relaxMissing(schema: StructType,
      files: Seq[graft.meta.ResolvedFile]): StructType = {
    val missing: Set[String] = files.iterator.map(_.file.existCols)
      .distinct.flatMap { ec =>
        val mask = presentMask(schema, ec)
        schema.fields.iterator.zip(mask.iterator)
          .collect { case (fl, false) => fl.name }
      }.toSet
    if (missing.isEmpty) schema
    else StructType(schema.fields.map(f =>
      if (missing.contains(f.name)) f.copy(nullable = true) else f))
  }

  def supports(table: TableInfo, schema: StructType, files: Seq[ResolvedFile]): Boolean =
    table.hasPrimaryKey &&
      files.forall(f => f.file.bucketId >= 0 && f.file.bucketId < table.bucketNum) &&
      opsSupported(table, schema)

  /** Schema-level operator support (no file listing needed) — gates whether
    * a snapshot read can route through the DSv2 scan's k-way merge or must
    * stay on the library path for the aggregate-merge fallback. */
  def opsSupported(table: TableInfo, schema: StructType): Boolean =
    schema.fields.forall(f => mergeSupported(table, f))

  private def mergeSupported(table: TableInfo, f: StructField): Boolean =
    TransactionalWrite.mergeOpFor(table, f.name) match {
      case MergeOps.UseLast | MergeOps.UseLastNotNull => true
      case MergeOps.SumAll | MergeOps.SumLast | MergeOps.SumNotNull =>
        f.dataType match {
          case IntegerType | LongType | DoubleType | FloatType | ShortType => true
          case _: DecimalType => true // materialized-view running totals
          case _ => false
        }
      case MergeOps.MinAll | MergeOps.MaxAll => f.dataType match {
        case IntegerType | LongType | DoubleType | FloatType | ShortType |
             ByteType | BooleanType | StringType | DateType | TimestampType |
             TimestampNTZType => true
        case _: DecimalType => true
        case _ => false
      }
      case MergeOps.JoinedAll(_) | MergeOps.JoinedLast(_) => f.dataType == StringType
      case _: graft.mergeop.RowMergeOp => true // row-level custom operator
      case _ => false // agg-only user ops route to the aggregate merge
    }

  /** Ordered runs of one bucket's files. A "run" = all ordinal-r files
    * sharing one (presence-mask, tombstone) SIGNATURE, concatenated in TYPED
    * partition order ([[graft.util.DescOrder]] — desc-STRING order diverges
    * for numeric ranges and broke the merge's sorted-run invariant; files
    * are internally sorted by (range, pk), and descs are disjoint key ranges
    * under the typed comparator). Path tiebreak: rolled file parts
    * (...c000, ...c001) of one task concatenate in pk order.
    *
    * The signature split is CORRECTNESS, not hygiene: commit ordinals are
    * PER-PARTITION (SnapshotResolver.filesAt indexes each partition's own
    * snapshot), so after divergent partition histories — an upsert touching
    * only p=1, then a tombstone delete hitting p=2 — one ordinal mixes a
    * data commit with a tombstone commit (or two schema-evolution states)
    * across range partitions. Taking the flag/mask from the group head would
    * silently drop live rows or surface deleted keys. Partitions are
    * KEY-DISJOINT (range columns lead the merge key), so a key never spans
    * two same-ordinal sub-runs and their relative order is irrelevant;
    * per-partition run order is preserved because each partition's files
    * still sort by their own ordinal. */
  def orderedRuns(table: TableInfo, schema: StructType, files: Seq[ResolvedFile])
      : Seq[(Seq[ResolvedFile], Array[Boolean], Boolean)] = {
    val runOrd = graft.util.DescOrder.runFileOrdering(table, schema)
    files.groupBy(_.commitOrdinal).toSeq.sortBy(_._1).flatMap { case (_, fs) =>
      fs.groupBy(f => (presentMask(schema, f.file.existCols).toSeq,
          graft.meta.Tombstone.isTombstone(f.file)))
        .map { case ((maskSeq, tomb), sub) =>
          (sub.sortBy(f => (f.partitionDesc, f.file.path))(runOrd),
            maskSeq.toArray, tomb)
        }
        .toSeq.sortBy(_._1.head.file.path) // deterministic sub-run order
    }
  }

  private def bucketGroups(table: TableInfo, schema: StructType,
      files: Seq[ResolvedFile]): Seq[BucketGroup] =
    (0 until table.bucketNum).map { b =>
      val runs = orderedRuns(table, schema, files.filter(_.file.bucketId == b))
        .map { case (fs, mask, tomb) =>
          (fs.map { f =>
            PartitionedFile(InternalRow.empty, SparkPath.fromPathString(f.file.path),
              0L, f.file.size)
          }, mask, tomb)
        }
      BucketGroup(b, runs)
    }

  /** The merged rows as an RDD whose partition index == bucket id (the
    * basis for co-located bucketed joins, SURVEY.md §2.4 J4). */
  def readRdd(
      spark: SparkSession,
      table: TableInfo,
      schema: StructType,
      files: Seq[ResolvedFile])
    : org.apache.spark.rdd.RDD[InternalRow] = {
    val reader = org.apache.spark.sql.graft.StreamShim.parquetReadFunction(spark, schema)
    val groups = bucketGroups(table, schema, files)

    val keyIdx = (table.rangeColumns ++ table.hashColumns).map(schema.fieldIndex)
    val keyTypes = keyIdx.map(schema.fields(_).dataType)
    val merges = fieldMerges(table, schema)
    val keyIdxArr = keyIdx.toArray
    val keyTypesArr = keyTypes.toArray
    val cap = BoundedMerge.cap(spark, schema)

    spark.sparkContext
      .parallelize(groups, math.max(1, groups.size))
      .mapPartitions { it =>
        val readFn = reader.forTask()
        val proj = UnsafeProjection.create(schema.fields.map(_.dataType))
        it.flatMap { g =>
          BoundedMerge.iterator(readFn, g.runs.map(_._1).toIndexedSeq,
            g.runs.map(_._2).toArray, g.runs.map(_._3).toArray,
            keyIdxArr, keyTypesArr, merges, cap).map(proj)
        }
      }
  }

  /** Per-output-field merge specs for a table + read schema — shared by the
    * RDD path and the DSv2 partition readers. sum_last/joined_last collapse
    * to sum/join at read time: each run already holds only its last value
    * per key (dedup-on-write applied the intra-batch last-writer-wins). */
  def fieldMerges(table: TableInfo, schema: StructType): Array[FieldMerge] =
    schema.fields.zipWithIndex.map {
      case (f, i) =>
        val op = TransactionalWrite.mergeOpFor(table, f.name)
        FieldMerge(i, f.dataType,
          op match {
            case MergeOps.UseLast => 0
            case MergeOps.UseLastNotNull => 1
            case MergeOps.SumAll | MergeOps.SumLast => 2
            case MergeOps.JoinedAll(_) | MergeOps.JoinedLast(_) => 3
            case _: graft.mergeop.RowMergeOp => 4
            case MergeOps.MinAll => 5
            case MergeOps.MaxAll => 6
            case MergeOps.SumNotNull => 7
            case other => throw new IllegalStateException(
              s"bucket merge does not support operator '${other.name}'")
          },
          op match {
            case MergeOps.JoinedAll(sep) => sep
            case MergeOps.JoinedLast(sep) => sep
            case _ => ","
          },
          op match {
            case r: graft.mergeop.RowMergeOp => r
            case _ => null
          })
    }

  /** Public alias used by the DSv2 partition readers. */
  def flattenRows(it: Iterator[InternalRow]): Iterator[InternalRow] = flatten(it)

  /** The vectorized reader yields ColumnarBatch objects erased behind the
    * Iterator[InternalRow] API; widen to Any BEFORE matching so the lambda's
    * parameter cast can't fire (a typed param would checkcast InternalRow). */
  private def flatten(it: Iterator[InternalRow]): Iterator[InternalRow] =
    it.asInstanceOf[Iterator[Any]].flatMap {
      case b: ColumnarBatch =>
        val rows = b.rowIterator()
        new Iterator[InternalRow] {
          def hasNext: Boolean = rows.hasNext
          def next(): InternalRow = rows.next()
        }
      case r => Iterator.single(r.asInstanceOf[InternalRow])
    }
}

/** Per-output-field merge spec: op 0=use_last 1=use_last_not_null 2=sum_all
  * 3=joined_all 4=row-level custom operator (serialized with the task)
  * 5=min_all 6=max_all 7=sum_not_null. */
case class FieldMerge(idx: Int, dt: DataType, op: Int, sep: String,
    custom: graft.mergeop.RowMergeOp = null)

/** K-way sorted merge by (range, pk) with per-column merge operators —
  * the Spark rendition of the reference's loser-tree merger
  * (rust/lakesoul-io/src/physical_plan/merge/sorted/sorted_stream_merger.rs).
  *
  * Performance design (vs the naive fold-over-k-heads):
  *   - LOSER TREE: winner selection is O(log k) comparisons per row, not a
  *     linear scan of all k heads.
  *   - TYPED KEY COMPARATORS: one primitive-reading comparator per key
  *     column, resolved once at construction — no per-row boxing, no
  *     interpreted orderings on the hot path (interpreted fallback only for
  *     exotic key types).
  *   - ZERO-COPY FAST PATH: input iterators reuse row objects (vectorized
  *     reader), but a run's previous row is only invalidated by that run's
  *     own next(). Advancing the winning run is DELAYED until the next
  *     next()/hasNext call, after the caller has projected the returned row
  *     — so unique-key rows (the overwhelming majority after compaction or
  *     low-overlap upserts) flow through without any copy or allocation.
  *     Only keys present in >=2 runs pay one GenericInternalRow + deep
  *     per-field copy.
  *
  * Run 0 is the oldest; on equal keys, later runs win per the operator. */
/** Lockstep walk of two key-sorted merged snapshot streams of one bucket,
  * emitting CDF rows (row values + `_change_type`) for differing keys only.
  * Output rows are materialized UnsafeRow COPIES: the upstream vectorized
  * readers reuse their buffers, and the update case must hold the postimage
  * across an advance. */
private[read] class SnapshotDiffIterator(
    oldIt: Iterator[InternalRow],
    newIt: Iterator[InternalRow],
    keyComps: Array[RowComp],
    fieldComps: Array[RowComp],
    dts: Array[org.apache.spark.sql.types.DataType],
    proj: UnsafeProjection) extends Iterator[InternalRow] {

  private val n = dts.length
  private val INSERT = UTF8String.fromString("insert")
  private val DELETE = UTF8String.fromString("delete")
  private val PRE = UTF8String.fromString("update_preimage")
  private val POST = UTF8String.fromString("update_postimage")

  private var oh: InternalRow = if (oldIt.hasNext) oldIt.next() else null
  private var nh: InternalRow = if (newIt.hasNext) newIt.next() else null
  private var ready: InternalRow = null
  private var pending: InternalRow = null // postimage queued behind the preimage

  private def advOld(): Unit = oh = if (oldIt.hasNext) oldIt.next() else null
  private def advNew(): Unit = nh = if (newIt.hasNext) newIt.next() else null

  private def emit(r: InternalRow, t: UTF8String): InternalRow = {
    val out = new GenericInternalRow(n + 1)
    var i = 0
    while (i < n) {
      if (r.isNullAt(i)) out.setNullAt(i) else out.update(i, r.get(i, dts(i)))
      i += 1
    }
    out.update(n, t)
    proj(out).copy()
  }

  private def rowsEqual(a: InternalRow, b: InternalRow): Boolean = {
    var i = 0
    while (i < fieldComps.length) {
      if (fieldComps(i).compare(a, b) != 0) return false
      i += 1
    }
    true
  }

  private def step(): Unit = {
    while (ready == null && (oh != null || nh != null)) {
      if (oh == null) { ready = emit(nh, INSERT); advNew() }
      else if (nh == null) { ready = emit(oh, DELETE); advOld() }
      else {
        val c = RowComp.compare(keyComps, oh, nh)
        if (c < 0) { ready = emit(oh, DELETE); advOld() }
        else if (c > 0) { ready = emit(nh, INSERT); advNew() }
        else {
          if (!rowsEqual(oh, nh)) {
            ready = emit(oh, PRE)
            pending = emit(nh, POST)
          }
          advOld(); advNew()
        }
      }
    }
  }

  override def hasNext: Boolean = {
    if (ready == null && pending != null) { ready = pending; pending = null }
    if (ready == null) step()
    ready != null
  }

  override def next(): InternalRow = {
    if (!hasNext) throw new NoSuchElementException
    val r = ready
    ready = null
    r
  }
}

/** Split one key-sorted row stream into two independent iterators for the
  * delta-shape snapshot diff: the two consumers (the diff's old side and
  * the new-side merge's run 0) advance in near-lockstep, so the shared
  * buffer holds only the few rows one side is ahead by. Rows are COPIED on
  * pull — the upstream merge reuses reader buffers, and the two sides hold
  * their current row across each other's advances. Single-threaded pull
  * contract (both sides are driven by the one diff task). */
private[graft] object TeeIterator {
  /** Defensive depth bound (ADVICE r13): the lockstep argument that keeps
    * the queues small rests on the CALLER's delta-shape gate (no tombstone
    * delta runs — every consumed shared key emits an output row). If a
    * future edit lets one side lag arbitrarily, the failure mode without a
    * bound is a silent executor OOM at scale; with it, a loud error naming
    * the invariant. 64k rows is ~3 orders of magnitude above the observed
    * lockstep depth (single digits) and a few MB at most. */
  private[read] val MaxDepth = 1 << 16

  /** Test gauge: max queue depth observed across all tees in this JVM
    * (meaningful in local mode, where executors share the JVM). The
    * ModelCheck diff property pins the lockstep bound with it — a future
    * edit that breaks lockstep fails that assertion in sbt long before it
    * could reach the MaxDepth tripwire at scale. */
  private[graft] val maxObservedDepth =
    new java.util.concurrent.atomic.AtomicInteger(0)

  def split(src: Iterator[InternalRow])
      : (Iterator[InternalRow], Iterator[InternalRow]) = {
    val qa = new java.util.ArrayDeque[InternalRow]()
    val qb = new java.util.ArrayDeque[InternalRow]()
    def pull(): Boolean =
      if (src.hasNext) {
        if (qa.size >= MaxDepth || qb.size >= MaxDepth)
          throw new IllegalStateException(
            s"TeeIterator consumer lag exceeded $MaxDepth rows: the " +
              "delta-shape diff's lockstep invariant is broken (a gate " +
              "regression let one side of the tee run ahead); falling " +
              "back to the two-merge diff path is required for this window")
        val r = src.next().copy()
        qa.addLast(r); qb.addLast(r)
        // volatile-read guard: the CAS (cross-core cacheline bounce under
        // many concurrent diff tasks) fires only when the max grows — in
        // the lockstep steady state (depth ~1) this is a read of a
        // read-shared line, not a write
        val d = math.max(qa.size, qb.size)
        if (d > maxObservedDepth.get())
          maxObservedDepth.getAndAccumulate(d, Math.max(_, _))
        true
      } else false
    def side(q: java.util.ArrayDeque[InternalRow]): Iterator[InternalRow] =
      new Iterator[InternalRow] {
        override def hasNext: Boolean = !q.isEmpty || pull()
        override def next(): InternalRow = {
          if (q.isEmpty && !pull()) throw new NoSuchElementException
          q.pollFirst()
        }
      }
    (side(qa), side(qb))
  }
}

abstract class RowComp {
  def compare(a: InternalRow, b: InternalRow): Int
}

object RowComp {
  /** Null-aware (nulls first, matching the write-side sort), primitive-typed
    * per-column comparator — shared by the k-way merge and the snapshot-diff
    * kernel. */
  def makeComp(i: Int, dt: DataType): RowComp = {
    val base: RowComp = dt match {
      case LongType | TimestampType | TimestampNTZType => new RowComp {
        def compare(a: InternalRow, b: InternalRow): Int =
          java.lang.Long.compare(a.getLong(i), b.getLong(i))
      }
      case IntegerType | DateType => new RowComp {
        def compare(a: InternalRow, b: InternalRow): Int =
          Integer.compare(a.getInt(i), b.getInt(i))
      }
      case ShortType => new RowComp {
        def compare(a: InternalRow, b: InternalRow): Int =
          java.lang.Short.compare(a.getShort(i), b.getShort(i))
      }
      case ByteType => new RowComp {
        def compare(a: InternalRow, b: InternalRow): Int =
          java.lang.Byte.compare(a.getByte(i), b.getByte(i))
      }
      case StringType => new RowComp {
        def compare(a: InternalRow, b: InternalRow): Int =
          a.getUTF8String(i).compareTo(b.getUTF8String(i))
      }
      case DoubleType => new RowComp {
        def compare(a: InternalRow, b: InternalRow): Int =
          java.lang.Double.compare(a.getDouble(i), b.getDouble(i))
      }
      case FloatType => new RowComp {
        def compare(a: InternalRow, b: InternalRow): Int =
          java.lang.Float.compare(a.getFloat(i), b.getFloat(i))
      }
      case BooleanType => new RowComp {
        def compare(a: InternalRow, b: InternalRow): Int =
          java.lang.Boolean.compare(a.getBoolean(i), b.getBoolean(i))
      }
      case d: DecimalType => new RowComp {
        def compare(a: InternalRow, b: InternalRow): Int =
          a.getDecimal(i, d.precision, d.scale)
            .compareTo(b.getDecimal(i, d.precision, d.scale))
      }
      case other =>
        val ord = TypeUtils.getInterpretedOrdering(other)
        new RowComp {
          def compare(a: InternalRow, b: InternalRow): Int =
            ord.compare(a.get(i, other), b.get(i, other))
        }
    }
    new RowComp {
      def compare(a: InternalRow, b: InternalRow): Int = {
        val an = a.isNullAt(i); val bn = b.isNullAt(i)
        if (an && bn) 0 else if (an) -1 else if (bn) 1 else base.compare(a, b)
      }
    }
  }

  def makeComps(keyIdx: Array[Int], keyTypes: Array[DataType]): Array[RowComp] =
    keyIdx.zip(keyTypes).map { case (i, dt) => makeComp(i, dt) }

  def compare(comps: Array[RowComp], a: InternalRow, b: InternalRow): Int = {
    var i = 0
    while (i < comps.length) {
      val c = comps(i).compare(a, b)
      if (c != 0) return c
      i += 1
    }
    0
  }
}

class KWayMergeIterator(
    runs: IndexedSeq[Iterator[InternalRow]],
    keyIdx: Array[Int],
    keyTypes: Array[DataType],
    fields: Array[FieldMerge],
    nFields: Int,
    runMasks: Array[Array[Boolean]],
    runTombs: Array[Boolean]) extends Iterator[InternalRow] {

  def this(runs: IndexedSeq[Iterator[InternalRow]], keyIdx: Array[Int],
      keyTypes: Array[DataType], fields: Array[FieldMerge], nFields: Int,
      runMasks: Array[Array[Boolean]]) =
    this(runs, keyIdx, keyTypes, fields, nFields, runMasks,
      new Array[Boolean](runs.size))

  def this(runs: IndexedSeq[Iterator[InternalRow]], keyIdx: Array[Int],
      keyTypes: Array[DataType], fields: Array[FieldMerge], nFields: Int) =
    this(runs, keyIdx, keyTypes, fields, nFields,
      Array.fill(runs.size)(Array.fill(nFields)(true)),
      new Array[Boolean](runs.size))

  /** Any tombstone run present? When false, the original zero-copy
    * hasNext/next shape runs untouched (no lookahead buffering). */
  private val anyTomb = runTombs.exists(identity)

  private val k = runs.size
  private val heads = new Array[InternalRow](k)
  private val keyComps: Array[RowComp] = RowComp.makeComps(keyIdx, keyTypes)

  private def compareKeys(a: InternalRow, b: InternalRow): Int =
    RowComp.compare(keyComps, a, b)

  // ---- loser tree (Knuth TAOCP v3 replacement-selection shape) ----------
  // internal nodes 1..k-1 hold the LOSER run index of each match; slot 0
  // holds the overall winner. -1 = virtual run that loses to everything.
  private val loserTree = Array.fill(math.max(k, 1))(-1)

  /** run x precedes run y? exhausted (null-head) runs sort last; ties break
    * by run ordinal so equal keys surface oldest-first. */
  private def cmpRun(x: Int, y: Int): Int = {
    if (x < 0) return if (y < 0) 0 else 1
    if (y < 0) return -1
    val hx = heads(x); val hy = heads(y)
    if (hx == null) { if (hy == null) x - y else 1 }
    else if (hy == null) -1
    else {
      val c = compareKeys(hx, hy)
      if (c != 0) c else x - y
    }
  }

  /** Replay leaf `run` up the tree after its head changed. */
  private def adjust(run: Int): Unit = {
    var winner = run
    var parent = (run + k) >>> 1
    while (parent > 0) {
      if (cmpRun(loserTree(parent), winner) < 0) {
        val t = winner; winner = loserTree(parent); loserTree(parent) = t
      }
      parent >>>= 1
    }
    loserTree(0) = winner
  }

  /** Best run among the losers on leaf `run`'s path — the runner-up while
    * `run` is the winner (standard loser-tree property). */
  private def runnerUp(run: Int): Int = {
    var best = -1
    var parent = (run + k) >>> 1
    while (parent > 0) {
      val cand = loserTree(parent)
      if (cand >= 0 && (best < 0 || cmpRun(cand, best) < 0)) best = cand
      parent >>>= 1
    }
    best
  }

  private def advanceNow(i: Int): Unit = {
    heads(i) = if (runs(i).hasNext) runs(i).next() else null
    adjust(i)
  }

  // build: bottom-up tournament (leaf i sits at node i+k; internal node n
  // has children 2n / 2n+1 — the same mapping adjust() replays)
  { var i = 0
    while (i < k) {
      heads(i) = if (runs(i).hasNext) runs(i).next() else null
      i += 1 }
    if (k > 1) {
      val winner = new Array[Int](2 * k)
      var n = 2 * k - 1
      while (n >= k) { winner(n) = n - k; n -= 1 }
      n = k - 1
      while (n >= 1) {
        val a = winner(2 * n); val b = winner(2 * n + 1)
        if (cmpRun(a, b) <= 0) { winner(n) = a; loserTree(n) = b }
        else { winner(n) = b; loserTree(n) = a }
        n -= 1
      }
      loserTree(0) = winner(1)
    } else loserTree(0) = 0 }

  /** Run whose returned live row is still held by the caller; advanced
    * lazily on the next hasNext()/next(). */
  private var pendingRun = -1

  /** SLICE fast path (no-tombstone reads): while `sliceRun`'s head key
    * stays below the runner-up's head (`sliceLimit`), every row of that
    * run is a unique winner — emit it with ONE key comparison and NO
    * loser-tree replay per row. The tree goes intentionally stale during
    * the slice (advances skip adjust) and is replayed once at slice close.
    * This is where the merge's scaling comes from: sorted runs with key
    * locality (a compacted base + small deltas, sequential-id ingest) win
    * in long stretches, so per-row cost collapses to iterator.next + one
    * typed comparison — measured merge overhead vs a plain vectorized scan
    * of the same files drops from +24% to +12% at 51 runs x 4M rows
    * (MergeCostProbe). `sliceLimit` references the runner-up
    * run's reused head buffer, which is valid for the slice's whole life
    * because only `sliceRun` advances. */
  private var sliceRun = -1
  private var sliceLimit: InternalRow = null

  private def flushPending(): Unit =
    if (pendingRun >= 0) {
      if (pendingRun == sliceRun) { // in-slice: defer the tree replay
        val r = runs(pendingRun)
        heads(pendingRun) = if (r.hasNext) r.next() else null
      } else advanceNow(pendingRun)
      pendingRun = -1
    }

  /** True while the slice's next row is still a unique winner. */
  private def sliceLive: Boolean =
    heads(sliceRun) != null &&
      (sliceLimit == null || compareKeys(heads(sliceRun), sliceLimit) < 0)

  /** Close the slice: replay the stale leaf once. */
  private def closeSlice(): Unit = {
    adjust(sliceRun)
    sliceRun = -1
    sliceLimit = null
  }

  /** Buffered next row for the tombstone-aware path only (a dropped key
    * forces lookahead; the tomb-free path keeps the unbuffered shape). */
  private var ready: InternalRow = null

  override def hasNext: Boolean =
    if (!anyTomb) {
      flushPending()
      if (sliceRun >= 0) {
        if (sliceLive) return true
        closeSlice()
      }
      val w = loserTree(0)
      w >= 0 && heads(w) != null
    } else {
      if (ready == null) ready = computeNextWithTombs()
      ready != null
    }

  override def next(): InternalRow =
    if (!anyTomb) {
      flushPending()
      if (sliceRun >= 0) {
        if (sliceLive) {
          pendingRun = sliceRun
          return heads(sliceRun)
        }
        closeSlice()
      }
      val w = loserTree(0)
      val first = heads(w)
      val ru = runnerUp(w)
      if (ru < 0 || heads(ru) == null || compareKeys(heads(ru), first) != 0) {
        // unique key: emit the live row, defer the advance until it's
        // consumed (absent evolved columns surface as nulls from the
        // reader — correct for a single contributor), and OPEN a slice:
        // every following row of this run below the runner-up's head is
        // unique too
        sliceRun = w
        sliceLimit = if (ru < 0) null else heads(ru) // null head = no bound
        pendingRun = w
        first
      } else mergeGroup(w, first, firstTomb = false) // never null: no tombs
    } else {
      if (!hasNext) throw new NoSuchElementException
      val r = ready
      ready = null
      r
    }

  /** Tombstone-aware scan for the next LIVE key: unique keys held only by a
    * tombstone run are skipped; grouped keys whose newest holder is a
    * tombstone are dropped. The unique-key zero-copy path is preserved —
    * the returned live row's run advances lazily via pendingRun. */
  private def computeNextWithTombs(): InternalRow = {
    while (true) {
      flushPending()
      val w = loserTree(0)
      if (w < 0 || heads(w) == null) return null
      val first = heads(w)
      val ru = runnerUp(w)
      if (ru < 0 || heads(ru) == null || compareKeys(heads(ru), first) != 0) {
        if (runTombs(w)) advanceNow(w) // deleted key, no other holder: skip
        else { pendingRun = w; return first }
      } else {
        val r = mergeGroup(w, first, firstTomb = runTombs(w))
        if (r != null) return r
      }
    }
    null // unreachable
  }

  private val grouper = new GroupMerger(fields, nFields)

  /** Fold all holders of one key, oldest -> newest (state machine in
    * [[GroupMerger]], shared with the columnar BatchMergeIterator). Returns
    * null when the newest holder was a tombstone (key deleted). */
  private def mergeGroup(w0: Int, first: InternalRow,
      firstTomb: Boolean): InternalRow = {
    grouper.start(first, runMasks(w0), firstTomb)
    advanceNow(w0)
    var w2 = loserTree(0)
    while (w2 >= 0 && heads(w2) != null &&
        compareKeys(heads(w2), grouper.keyRow) == 0) {
      grouper.add(heads(w2), runMasks(w2), anyTomb && runTombs(w2))
      advanceNow(w2)
      w2 = loserTree(0)
    }
    grouper.result()
  }
}

/** Per-key merge fold, oldest -> newest: deep-copies the first holder into a
  * scratch row, folds newer holders with the per-field operators. A
  * tombstone holder discards every older contribution (the scratch row's
  * key fields stay valid for the comparator); a later live holder revives
  * the key from scratch. contributed/poisoned track per-field operator
  * state across runs with heterogeneous physical columns (schema
  * evolution). Shared by the row-path [[KWayMergeIterator]] and the
  * columnar [[BatchMergeIterator]]; one instance per merge task, restarted
  * per key group (the result row escapes to the caller, so each group
  * allocates its own scratch row — group-merged keys are the rare case). */
final class GroupMerger(fields: Array[FieldMerge], nFields: Int) {

  private var acc: GenericInternalRow = _
  private val contributed = new Array[Boolean](nFields)
  private val poisoned = new Array[Boolean](nFields)
  private var dead = false

  /** The accumulator (key fields always valid for comparisons). */
  def keyRow: InternalRow = acc

  def start(first: InternalRow, mask: Array[Boolean], tomb: Boolean): Unit = {
    acc = new GenericInternalRow(nFields)
    java.util.Arrays.fill(contributed, false)
    java.util.Arrays.fill(poisoned, false)
    copyRow(first, mask, acc, contributed, poisoned)
    dead = tomb
  }

  def add(newer: InternalRow, mask: Array[Boolean], tomb: Boolean): Unit =
    if (tomb) {
      // newer tombstone: wipe accumulated operator state; acc's key
      // fields remain valid (tombstone rows carry the same key)
      java.util.Arrays.fill(contributed, false)
      java.util.Arrays.fill(poisoned, false)
      dead = true
    } else if (dead) {
      // revive: a run newer than the tombstone re-inserts the key fresh
      copyRow(newer, mask, acc, contributed, poisoned)
      dead = false
    } else {
      mergeInto(acc, newer, mask, contributed, poisoned)
    }

  /** Merged row, or null when the newest holder was a tombstone. */
  def result(): InternalRow = if (dead) null else acc

  /** Typed addition for the sum operators (types gated by
    * [[BucketMergeRead.supports]]). */
  private def addVals(dt: DataType, o: Any, n: Any): Any = dt match {
    case IntegerType => o.asInstanceOf[Int] + n.asInstanceOf[Int]
    case LongType => o.asInstanceOf[Long] + n.asInstanceOf[Long]
    case DoubleType => o.asInstanceOf[Double] + n.asInstanceOf[Double]
    case FloatType => o.asInstanceOf[Float] + n.asInstanceOf[Float]
    case ShortType => (o.asInstanceOf[Short] + n.asInstanceOf[Short]).toShort
    case dec: DecimalType =>
      // running totals of materialized views; Decimal.+ widens internally,
      // the result stays within the declared precision because the write
      // side already aggregated to this type
      val s = o.asInstanceOf[org.apache.spark.sql.types.Decimal] +
        n.asInstanceOf[org.apache.spark.sql.types.Decimal]
      if (s.changePrecision(dec.precision, dec.scale)) s else null
    case other => throw new IllegalStateException(s"sum merge on $other")
  }

  /** Value comparison for the min_all/max_all operators, on the merged-key
    * slow path only (types gated by [[BucketMergeRead.supports]]). */
  private def cmpVal(dt: DataType, a: Any, b: Any): Int = dt match {
    case IntegerType | DateType =>
      Integer.compare(a.asInstanceOf[Int], b.asInstanceOf[Int])
    case LongType | TimestampType | TimestampNTZType =>
      java.lang.Long.compare(a.asInstanceOf[Long], b.asInstanceOf[Long])
    case DoubleType =>
      java.lang.Double.compare(a.asInstanceOf[Double], b.asInstanceOf[Double])
    case FloatType =>
      java.lang.Float.compare(a.asInstanceOf[Float], b.asInstanceOf[Float])
    case ShortType =>
      java.lang.Short.compare(a.asInstanceOf[Short], b.asInstanceOf[Short])
    case ByteType =>
      java.lang.Byte.compare(a.asInstanceOf[Byte], b.asInstanceOf[Byte])
    case BooleanType =>
      java.lang.Boolean.compare(a.asInstanceOf[Boolean], b.asInstanceOf[Boolean])
    case StringType =>
      a.asInstanceOf[UTF8String].compareTo(b.asInstanceOf[UTF8String])
    case _: DecimalType =>
      a.asInstanceOf[org.apache.spark.sql.types.Decimal]
        .compare(b.asInstanceOf[org.apache.spark.sql.types.Decimal])
    case other => throw new IllegalStateException(s"min/max merge on $other")
  }

  /** Deep value copy: the source may be a reused vectorized-reader row whose
    * buffers are invalidated on advance. */
  private def deepCopy(v: Any): Any = v match {
    case u: UTF8String => u.clone()
    case a: org.apache.spark.sql.catalyst.util.ArrayData => a.copy()
    case m: org.apache.spark.sql.catalyst.util.MapData => m.copy()
    case r: InternalRow => r.copy()
    case x => x
  }

  private def copyRow(src: InternalRow, mask: Array[Boolean],
      out: GenericInternalRow, contributed: Array[Boolean],
      poisoned: Array[Boolean]): Unit = {
    var i = 0
    while (i < fields.length) {
      val f = fields(i)
      if (!mask(f.idx) || src.isNullAt(f.idx)) {
        out.setNullAt(f.idx)
        if (mask(f.idx)) { // explicit null from a present column
          contributed(f.idx) = true
          if (f.op == 2) poisoned(f.idx) = true // sum_all: null poisons
        }
      } else {
        out.update(f.idx, deepCopy(src.get(f.idx, f.dt)))
        contributed(f.idx) = true
      }
      i += 1
    }
  }

  /** Fold `newer` (a live row) into the scratch accumulator in place.
    * `mask` marks which columns physically exist in the newer run's files —
    * an absent column NEVER overwrites/contributes (schema evolution),
    * unlike an explicit null which follows the operator's null rule. */
  private def mergeInto(acc: GenericInternalRow, newer: InternalRow,
      mask: Array[Boolean], contributed: Array[Boolean],
      poisoned: Array[Boolean]): Unit = {
    var i = 0
    while (i < fields.length) {
      val f = fields(i)
      val idx = f.idx
      if (mask(idx)) {
        val o = if (acc.isNullAt(idx)) null else acc.get(idx, f.dt)
        val n = if (newer.isNullAt(idx)) null else newer.get(idx, f.dt)
        var skip = false
        val v: Any = f.op match {
          case 0 => deepCopy(n) // use_last: newer present value, null included
          case 1 => if (n != null) deepCopy(n) else o // use_last_not_null
          case 2 => // sum_all: null among PRESENT values poisons
            if (n == null || poisoned(idx)) { poisoned(idx) = true; null }
            else if (!contributed(idx) || o == null) n
            else addVals(f.dt, o, n)
          case 7 => // sum_not_null: SQL SUM — nulls contribute nothing
            if (n == null) { skip = true; o }
            else if (o == null) n
            else addVals(f.dt, o, n)
          case 3 => // joined_all: non-null present values in version order
            if (n == null) { skip = true; o }
            else if (o == null) deepCopy(n)
            else UTF8String.concat(o.asInstanceOf[UTF8String],
              UTF8String.fromString(f.sep), n.asInstanceOf[UTF8String])
          case 4 => // row-level custom operator; newer deep-copied first so
            // the combiner may retain it
            if (!contributed(idx)) deepCopy(n)
            else f.custom.combine(o, deepCopy(n))
          case 5 | 6 => // min_all / max_all: nulls ignored (SQL MIN/MAX)
            if (n == null) { skip = true; o }
            else if (o == null) deepCopy(n)
            else {
              val c = cmpVal(f.dt, n, o)
              if (if (f.op == 5) c < 0 else c > 0) deepCopy(n) else o
            }
        }
        if (!skip) contributed(idx) = true
        if (v == null) acc.setNullAt(idx) else acc.update(idx, v)
      }
      i += 1
    }
  }
}
