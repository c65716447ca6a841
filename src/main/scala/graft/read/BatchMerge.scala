package graft.read

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.execution.vectorized.{OnHeapColumnVector, WritableColumnVector}
import org.apache.spark.sql.types.{DataType, StructType}
import org.apache.spark.sql.vectorized.{ColumnVector, ColumnarBatch, ColumnarBatchRow}

/** COLUMNAR merge-on-read (the reference's batch-native merge,
  * rust/lakesoul-io/src/physical_plan/merge/sorted/sorted_stream_merger.rs):
  * the k-way merge emits whole `ColumnarBatch`es instead of rows, so a
  * merge-PENDING DSv2 scan stays on Spark's vectorized path end-to-end.
  *
  * Two emission modes, chosen per step:
  *   - PASS-THROUGH: when the winning run sits at the start of a batch whose
  *     LAST key is still below every other run's head, no other run (data or
  *     tombstone) holds any key in the batch's range — the reader's batch
  *     ships downstream ZERO-COPY with one key comparison for the whole
  *     batch. This is the overwhelming case for the MOR steady state (a
  *     compacted base + small deltas: base batches interleave with delta
  *     rows only at the delta keys). A tombstone run's wholly-unique batch
  *     is DROPPED the same way (all its keys are deleted).
  *   - BUILDER: overlap regions and partial batches fall to row-level steps;
  *     rows append into a reused OnHeapColumnVector builder batch (Spark's
  *     own RowToColumnConverter) flushed at 4096 rows or before the next
  *     pass-through.
  *
  * Output preserves (range, pk) order across both modes (pass-through fires
  * only strictly below the runner-up's head), so SupportsReportOrdering
  * stays valid. Reader-buffer lifecycle: a passed-through batch's vectors
  * are REUSED by its parquet reader on the next pull, so the winning run's
  * advance is deferred (`pendingAdjust`) until the caller has consumed the
  * batch — the same delayed-advance contract the row-path merge uses.
  *
  * Tombstone/operator semantics are IDENTICAL to the row path: grouped keys
  * fold through the shared [[GroupMerger]]. CDC-filtered scans never reach
  * this class (factory gates on cdcIdx < 0). */
final class BatchMergeIterator(
    runs: IndexedSeq[MergeRunCursor],
    keyIdx: Array[Int],
    keyTypes: Array[DataType],
    fields: Array[FieldMerge],
    schema: StructType) extends Iterator[ColumnarBatch] {

  private val nFields = schema.length
  private val k = runs.size
  private val keyComps = RowComp.makeComps(keyIdx, keyTypes)
  private def cmp(a: InternalRow, b: InternalRow): Int =
    RowComp.compare(keyComps, a, b)

  // ---- loser tree over cursor heads (same shape as KWayMergeIterator) ----
  private val loserTree = Array.fill(math.max(k, 1))(-1)

  private def cmpRun(x: Int, y: Int): Int = {
    if (x < 0) return if (y < 0) 0 else 1
    if (y < 0) return -1
    val hx = runs(x).head; val hy = runs(y).head
    if (hx == null) { if (hy == null) x - y else 1 }
    else if (hy == null) -1
    else {
      val c = cmp(hx, hy)
      if (c != 0) c else x - y
    }
  }

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

  { if (k > 1) {
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
    } else if (k == 1) loserTree(0) = 0 }

  // ---- output builder (reused across emissions) --------------------------
  private val BuilderCap = 4096
  private val converter =
    org.apache.spark.sql.execution.GraftExecShim.rowToColumnConverter(schema)
  private var builderVecs: Array[OnHeapColumnVector] = _
  private var builderBatch: ColumnarBatch = _
  private var builderRows = 0
  private var builderDirty = false // emitted, reset before next append

  private def appendRow(r: InternalRow): Unit = {
    if (builderVecs == null) {
      builderVecs = OnHeapColumnVector.allocateColumns(BuilderCap, schema)
      builderBatch = new ColumnarBatch(
        builderVecs.asInstanceOf[Array[ColumnVector]])
    } else if (builderDirty) {
      builderVecs.foreach(_.reset())
      builderDirty = false
    }
    converter(r, builderVecs.asInstanceOf[Array[WritableColumnVector]])
    builderRows += 1
  }

  private def flushBuilder(): ColumnarBatch = {
    builderBatch.setNumRows(builderRows)
    builderRows = 0
    builderDirty = true
    builderBatch
  }

  // every output column type the column-wise slice copier handles; any
  // other type (nested) falls back to the per-row converter loop
  private val sliceCopyable = schema.fields.forall(f => f.dataType match {
    case org.apache.spark.sql.types.BooleanType | org.apache.spark.sql.types.ByteType |
         org.apache.spark.sql.types.ShortType | org.apache.spark.sql.types.IntegerType |
         org.apache.spark.sql.types.DateType | org.apache.spark.sql.types.LongType |
         org.apache.spark.sql.types.TimestampType | org.apache.spark.sql.types.TimestampNTZType |
         org.apache.spark.sql.types.FloatType | org.apache.spark.sql.types.DoubleType |
         org.apache.spark.sql.types.StringType | org.apache.spark.sql.types.BinaryType => true
    case _: org.apache.spark.sql.types.DecimalType => true
    case _ => false
  })

  /** Copy `n` unique-key rows from the cursor's current batch into the
    * builder, column-major when every type supports it (tight per-column
    * loops, no per-row dispatch), per-row converter otherwise. Advances
    * the cursor past the copied rows either way. */
  private def appendSlice(cw: MergeRunCursor, n: Int): Unit = {
    if (builderVecs == null) {
      builderVecs = OnHeapColumnVector.allocateColumns(BuilderCap, schema)
      builderBatch = new ColumnarBatch(
        builderVecs.asInstanceOf[Array[ColumnVector]])
    } else if (builderDirty) {
      builderVecs.foreach(_.reset())
      builderDirty = false
    }
    if (sliceCopyable) {
      val batch = cw.currentBatch
      val start = cw.currentIdx
      var c = 0
      while (c < nFields) {
        copyColumn(builderVecs(c), batch.column(c), schema(c).dataType, start, n)
        c += 1
      }
      builderRows += n
      BatchMergeIterator.sliceCopiedRows.add(n)
      cw.advanceBy(n)
    } else {
      var i = 0
      while (i < n) { appendRow(cw.head); cw.advance(); i += 1 }
    }
  }

  private def copyColumn(dst: WritableColumnVector, src: ColumnVector,
      dt: DataType, start: Int, n: Int): Unit = {
    import org.apache.spark.sql.types._
    var i = 0
    dt match {
      case IntegerType | DateType =>
        while (i < n) { val r = start + i
          if (src.isNullAt(r)) dst.appendNull() else dst.appendInt(src.getInt(r)); i += 1 }
      case LongType | TimestampType | TimestampNTZType =>
        while (i < n) { val r = start + i
          if (src.isNullAt(r)) dst.appendNull() else dst.appendLong(src.getLong(r)); i += 1 }
      case DoubleType =>
        while (i < n) { val r = start + i
          if (src.isNullAt(r)) dst.appendNull() else dst.appendDouble(src.getDouble(r)); i += 1 }
      case FloatType =>
        while (i < n) { val r = start + i
          if (src.isNullAt(r)) dst.appendNull() else dst.appendFloat(src.getFloat(r)); i += 1 }
      case ShortType =>
        while (i < n) { val r = start + i
          if (src.isNullAt(r)) dst.appendNull() else dst.appendShort(src.getShort(r)); i += 1 }
      case ByteType =>
        while (i < n) { val r = start + i
          if (src.isNullAt(r)) dst.appendNull() else dst.appendByte(src.getByte(r)); i += 1 }
      case BooleanType =>
        while (i < n) { val r = start + i
          if (src.isNullAt(r)) dst.appendNull() else dst.appendBoolean(src.getBoolean(r)); i += 1 }
      case StringType =>
        while (i < n) { val r = start + i
          if (src.isNullAt(r)) dst.appendNull()
          else { val b = src.getUTF8String(r).getBytes; dst.appendByteArray(b, 0, b.length) }
          i += 1 }
      case BinaryType =>
        while (i < n) { val r = start + i
          if (src.isNullAt(r)) dst.appendNull()
          else { val b = src.getBinary(r); dst.appendByteArray(b, 0, b.length) }
          i += 1 }
      case d: DecimalType =>
        // same storage convention as Spark's RowToColumnConverter (and the
        // vectorized parquet updaters): precision <=9 int-backed, <=18
        // long-backed, wider as unscaled-BigInteger byte arrays — so the
        // TPC-H-shaped graft tables (l_extendedprice DECIMAL(12,2)...) stay
        // on the columnar overlap path instead of the per-row converter
        val p = d.precision; val sc = d.scale
        // parquet-reader and builder vectors store p<=18 decimals as raw
        // unscaled int/long (the allocation convention above) — read them
        // raw instead of materializing a Decimal per value; other vector
        // implementations fall through to the getDecimal contract
        val raw = src.isInstanceOf[WritableColumnVector] &&
          p <= Decimal.MAX_LONG_DIGITS
        if (p <= Decimal.MAX_INT_DIGITS) {
          while (i < n) { val r = start + i
            if (src.isNullAt(r)) dst.appendNull()
            else dst.appendInt(if (raw) src.getInt(r)
              else src.getDecimal(r, p, sc).toUnscaledLong.toInt)
            i += 1 }
        } else if (p <= Decimal.MAX_LONG_DIGITS) {
          while (i < n) { val r = start + i
            if (src.isNullAt(r)) dst.appendNull()
            else dst.appendLong(if (raw) src.getLong(r)
              else src.getDecimal(r, p, sc).toUnscaledLong)
            i += 1 }
        } else {
          while (i < n) { val r = start + i
            if (src.isNullAt(r)) dst.appendNull()
            else {
              val b = src.getDecimal(r, p, sc)
                .toJavaBigDecimal.unscaledValue.toByteArray
              dst.appendByteArray(b, 0, b.length)
            }
            i += 1 }
        }
      case other => throw new IllegalStateException(s"unsliceable type $other")
    }
  }

  /** Run whose takeBatch() was emitted last call: its head (= the reader's
    * NEXT batch, overwriting the emitted one) must not be pulled until the
    * caller is done with the emitted batch — settle at the next call. */
  private var pendingAdjust = -1

  private var outReady: ColumnarBatch = _
  private val grouper = new GroupMerger(fields, nFields)

  override def hasNext: Boolean = {
    if (outReady == null) outReady = computeNext()
    outReady != null
  }

  override def next(): ColumnarBatch = {
    if (!hasNext) throw new NoSuchElementException
    val b = outReady
    outReady = null
    b
  }

  private def computeNext(): ColumnarBatch = {
    if (pendingAdjust >= 0) { adjust(pendingAdjust); pendingAdjust = -1 }
    while (true) {
      val w = loserTree(0)
      if (w < 0 || runs(w).head == null)
        return if (builderRows > 0) flushBuilder() else null
      val cw = runs(w)
      val ru = runnerUp(w)
      val ruHead = if (ru < 0) null else runs(ru).head
      if (cw.wholeBatch && (ruHead == null || cmp(cw.batchLast, ruHead) < 0)) {
        if (cw.tomb) { cw.dropBatch(); adjust(w) } // all keys deleted
        else if (builderRows > 0) return flushBuilder() // batch next call
        else { val b = cw.takeBatch(); pendingAdjust = w; return b }
      } else {
        val first = cw.head
        if (ruHead == null || cmp(first, ruHead) != 0) {
          // unique-key STRETCH: every row of the winner's batch whose key is
          // below the runner-up's head has a single holder — binary-search
          // the cut once and move the whole slice column-wise, instead of a
          // compare + tree-adjust + row-convert per row (the overlap-region
          // half of the reference's batch-native merge,
          // sorted_stream_merger.rs)
          val n = cw.sliceBelow(ruHead, keyComps)
          if (cw.tomb) { cw.advanceBy(math.max(n, 1)); adjust(w) }
          else if (n > 1) {
            appendSlice(cw, math.min(n, BuilderCap - builderRows))
            adjust(w)
            if (builderRows == BuilderCap) return flushBuilder()
          } else {
            appendRow(first) // converter reads the view before the advance
            cw.advance(); adjust(w)
            if (builderRows == BuilderCap) return flushBuilder()
          }
        } else {
          // >=2 holders: fold oldest -> newest through the shared kernel
          grouper.start(first, cw.mask, cw.tomb)
          cw.advance(); adjust(w)
          var w2 = loserTree(0)
          while (w2 >= 0 && runs(w2).head != null &&
              cmp(runs(w2).head, grouper.keyRow) == 0) {
            grouper.add(runs(w2).head, runs(w2).mask, runs(w2).tomb)
            runs(w2).advance(); adjust(w2)
            w2 = loserTree(0)
          }
          val r = grouper.result()
          if (r != null) {
            appendRow(r)
            if (builderRows == BuilderCap) return flushBuilder()
          }
        }
      }
    }
    null // unreachable
  }
}

object BatchMergeIterator {
  /** Rows moved by the column-major slice copier in this JVM (local-mode
    * test/ops gauge, like [[graft.write.FileStatsCollector.collectedFiles]]:
    * proves overlap regions actually take the columnar path — an assertion
    * on its delta fails if someone silently disables the fast path). */
  val sliceCopiedRows = new java.util.concurrent.atomic.LongAdder
}

/** Cursor over one sorted run for the columnar merge. */
private[read] trait MergeRunCursor {
  def mask: Array[Boolean]
  def tomb: Boolean
  /** Current row view; null when the run is exhausted. */
  def head: InternalRow
  def advance(): Unit
  /** At the start of a batch that can ship wholesale (zero copy)? */
  def wholeBatch: Boolean
  /** Last row of the current batch (valid only when wholeBatch). */
  def batchLast: InternalRow
  /** Consume the whole current batch WITHOUT pulling the next one — the
    * reader reuses vectors, so the caller must finish with the returned
    * batch before touching this cursor's head again. */
  def takeBatch(): ColumnarBatch
  /** Skip the whole current batch (tombstone fast path). */
  def dropBatch(): Unit
  /** Rows from the current position whose key sorts strictly below `limit`
    * (binary search within the current batch; `limit == null` = rest of
    * the batch). 0 when not batch-backed. */
  def sliceBelow(limit: InternalRow, comps: Array[RowComp]): Int
  /** Advance `n` rows (never past the current batch for batch cursors). */
  def advanceBy(n: Int): Unit
  /** Current batch / position, for the column-wise slice copy (valid only
    * after a positive [[sliceBelow]]). */
  def currentBatch: ColumnarBatch
  def currentIdx: Int
}

/** Cursor over a vectorized parquet run (Iterator[ColumnarBatch]). Head and
  * batch-last are this cursor's OWN ColumnarBatchRow views, so comparing
  * heads across cursors (and head vs last within one) is safe — unlike
  * ColumnarBatch.getRow, which reuses one shared row. */
private[read] final class BatchRunCursor(
    batches: Iterator[ColumnarBatch],
    val mask: Array[Boolean],
    val tomb: Boolean) extends MergeRunCursor {

  private var cur: ColumnarBatch = _
  private var idx = 0
  private var headRow: ColumnarBatchRow = _
  private var lastRow: ColumnarBatchRow = _
  private var probeRow: ColumnarBatchRow = _
  private var needPull = true

  private def pull(): Unit = {
    needPull = false
    while (batches.hasNext) {
      cur = batches.next()
      if (cur.numRows > 0) {
        idx = 0
        val cols = Array.tabulate[ColumnVector](cur.numCols)(cur.column)
        headRow = new ColumnarBatchRow(cols)
        lastRow = new ColumnarBatchRow(cols)
        probeRow = new ColumnarBatchRow(cols)
        headRow.rowId = 0
        lastRow.rowId = cur.numRows - 1
        return
      }
    }
    cur = null
  }

  override def head: InternalRow = {
    if (needPull) pull()
    if (cur == null) null else headRow
  }

  override def advance(): Unit = {
    idx += 1
    if (idx >= cur.numRows) { cur = null; needPull = true }
    else headRow.rowId = idx
  }

  override def wholeBatch: Boolean = {
    if (needPull) pull()
    cur != null && idx == 0
  }

  override def batchLast: InternalRow = lastRow

  override def takeBatch(): ColumnarBatch = {
    val b = cur
    cur = null
    needPull = true
    b
  }

  override def dropBatch(): Unit = { cur = null; needPull = true }

  override def sliceBelow(limit: InternalRow, comps: Array[RowComp]): Int = {
    if (needPull) pull()
    if (cur == null) return 0
    if (limit == null) return cur.numRows - idx
    // rows of a run are key-sorted: first j in [idx, numRows) with
    // key(j) >= limit bounds the single-holder stretch
    var lo = idx
    var hi = cur.numRows
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      probeRow.rowId = mid
      if (RowComp.compare(comps, probeRow, limit) < 0) lo = mid + 1 else hi = mid
    }
    lo - idx
  }

  override def advanceBy(n: Int): Unit = {
    idx += n
    if (idx >= cur.numRows) { cur = null; needPull = true }
    else headRow.rowId = idx
  }

  override def currentBatch: ColumnarBatch = cur
  override def currentIdx: Int = idx
}

/** Cursor over a row stream (spill runs from [[BoundedMerge]]); never
  * offers batch pass-through. */
private[read] final class RowRunCursor(
    it: Iterator[InternalRow],
    val mask: Array[Boolean],
    val tomb: Boolean) extends MergeRunCursor {
  private var cur: InternalRow = if (it.hasNext) it.next() else null
  override def head: InternalRow = cur
  override def advance(): Unit = cur = if (it.hasNext) it.next() else null
  override def wholeBatch: Boolean = false
  override def batchLast: InternalRow = null
  override def takeBatch(): ColumnarBatch =
    throw new IllegalStateException("row run offers no batch")
  override def dropBatch(): Unit =
    throw new IllegalStateException("row run offers no batch")
  override def sliceBelow(limit: InternalRow, comps: Array[RowComp]): Int = 0
  override def advanceBy(n: Int): Unit = {
    var i = 0
    while (i < n) { advance(); i += 1 }
  }
  override def currentBatch: ColumnarBatch =
    throw new IllegalStateException("row run offers no batch")
  override def currentIdx: Int =
    throw new IllegalStateException("row run offers no batch")
}
