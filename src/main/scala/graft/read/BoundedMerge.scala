package graft.read

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream,
  DataOutputStream, File, FileInputStream, FileOutputStream}
import java.util.concurrent.atomic.AtomicInteger

import net.jpountz.lz4.{LZ4BlockInputStream, LZ4BlockOutputStream}
import org.apache.spark.TaskContext
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{UnsafeProjection, UnsafeRow}
import org.apache.spark.sql.execution.datasources.PartitionedFile
import org.apache.spark.sql.types.DataType

/** Bounded-memory merge-on-read: cap the number of SIMULTANEOUSLY OPEN
  * parquet readers per merge task (SURVEY.md §2.2 M1 at reference scale —
  * the part-merge of MergeParquetScan.scala:71-114 /
  * LakeSoulPartFileMerge.scala, PART_MERGE_* confs LakeSoulSQLConf.scala:71-87).
  *
  * WHY: the k-way merge is streaming, so every run of a bucket holds a live
  * vectorized parquet reader for the whole merge — per-reader batch buffers
  * are O(batchSize x schemaWidth), and at a 100-commit upsert backlog on a
  * wide 100 TB table that is the first executor OOM, at exactly the moment
  * (a compaction backlog) one can least afford it. CPU-wise the loser tree
  * handles any k; MEMORY is what this bounds.
  *
  * HOW: when a bucket's run count exceeds `spark.graft.merge.maxOpenRuns`
  * (default 16), the task PRE-MERGES the oldest runs — in consecutive
  * same-signature groups of at most `cap` — into local spill files
  * (length-prefixed LZ4 UnsafeRow stream in Spark's local dir), then runs
  * the final merge over [spill runs + remaining parquet runs]. Spill
  * readers hold one small byte buffer each, so only the <=cap un-spilled
  * parquet runs carry reader memory; pre-merge groups drain sequentially,
  * so peak open parquet readers never exceeds the cap in either phase.
  *
  * CORRECTNESS of pre-merging a PREFIX of runs: the merge is a left fold
  * oldest -> newest per key, so folding runs [0..m) into one intermediate
  * and then folding newer runs onto it is literally the same computation —
  * holds for every operator including user RowMergeOps (any left fold
  * composes this way; no associativity assumption needed). Groups never
  * cross a (presence-mask, tombstone) signature boundary, so the spill
  * run's mask/tomb flags stay exact (a cross-mask group would blur the
  * absent-vs-explicit-null distinction schema evolution depends on).
  * Tombstone groups are merged as DATA (their key-only rows dedup to the
  * sorted key union) and the spill keeps tomb=true — deletion semantics
  * apply once, in the final merge. */
object BoundedMerge {

  val ConfKey = "spark.graft.merge.maxOpenRuns"
  val BudgetConfKey = "spark.graft.merge.readerMemBudget"
  val DefaultCap = 16
  val DefaultBudgetBytes: Long = 64L * 1024 * 1024

  def cap(spark: SparkSession): Int =
    math.max(2, spark.conf.getOption(ConfKey).map(_.toInt).getOrElse(DefaultCap))

  /** Schema-aware default: the hazard being bounded is per-reader batch
    * memory (min(file rows, columnarReaderBatchSize) rows x row width each
    * — the run reader sizes its batch to the file), so the open-run budget
    * is derived from the worst case (a full 4096-row batch) and scales
    * inversely with schema width — a narrow 3-column table merges a
    * 100-run backlog with zero spill I/O (its 100 readers fit the budget),
    * a 100-column table clamps hard. An explicit maxOpenRuns conf wins. */
  def cap(spark: SparkSession,
      schema: org.apache.spark.sql.types.StructType): Int =
    spark.conf.getOption(ConfKey).map(n => math.max(2, n.toInt)).getOrElse {
      val budget = spark.conf.getOption(BudgetConfKey).map(_.toLong)
        .getOrElse(DefaultBudgetBytes)
      val rowWidth = math.max(8, schema.defaultSize)
      val derived = budget / (4096L * rowWidth)
      math.max(8, math.min(256, derived)).toInt
    }

  /** One run of one bucket after bounding: parquet files (with the run's
    * row filter, if any), or a spill file holding the pre-merged rows of a
    * group of runs. */
  private[read] case class RunSource(files: Seq[PartitionedFile], spill: File,
      mask: Array[Boolean], tomb: Boolean,
      filter: Option[InternalRow => Boolean] = None) {
    def isParquet: Boolean = spill == null
  }

  /** The rows of a parquet run, through its row filter. */
  private[read] def parquetRows(
      readFn: PartitionedFile => Iterator[InternalRow],
      s: RunSource): Iterator[InternalRow] = {
    val rows = MergeReaderGauge.tracked(
      s.files.iterator.flatMap(pf => BucketMergeRead.flattenRows(readFn(pf))))
    s.filter.fold(rows)(rows.filter)
  }

  /** Bound a bucket's ordered runs (oldest first): when more than `cap`
    * parquet runs exist, pre-merge oldest consecutive same-signature groups
    * (each <= cap wide, drained sequentially) into local spill files until
    * at most `cap` parquet runs remain. Spill-file cleanup registers on the
    * task; results feed either [[KWayMergeIterator]] (rows) or
    * [[BatchMergeIterator]] (columnar) — the bound is shared. `filters`
    * (row path only; empty = none) keeps a run's rows that pass its filter:
    * a filtered run stays key-sorted and key-unique. */
  private[read] def sources(
      readFn: PartitionedFile => Iterator[InternalRow],
      runFiles: IndexedSeq[Seq[PartitionedFile]],
      masks: Array[Array[Boolean]],
      tombs: Array[Boolean],
      keyIdx: Array[Int],
      keyTypes: Array[DataType],
      merges: Array[FieldMerge],
      capIn: Int,
      filters: IndexedSeq[Option[InternalRow => Boolean]] = IndexedSeq.empty)
      : IndexedSeq[RunSource] = {
    val nFields = merges.length
    val dts = merges.map(_.dt)
    val k = runFiles.size
    val cap = math.max(2, capIn)
    var runs: Vector[RunSource] = (0 until k).map(i =>
      RunSource(runFiles(i), null, masks(i), tombs(i),
        filters.lift(i).flatten)).toVector
    if (k <= cap) return runs
    def pq(s: RunSource): Iterator[InternalRow] = parquetRows(readFn, s)
    var parquetCount = k
    val spills = scala.collection.mutable.ArrayBuffer.empty[File]
    // Register cleanup BEFORE writing any spill: if writeSpill throws
    // mid-loop (disk full), the files already in `spills` are still
    // deleted at task end instead of leaking until JVM exit.
    Option(TaskContext.get()).foreach(
      _.addTaskCompletionListener[Unit](_ => spills.foreach(_.delete())))
    var idx = 0
    while (parquetCount > cap && idx < runs.length) {
      val head = runs(idx)
      if (!head.isParquet) idx += 1
      else {
        var j = idx + 1
        while (j < runs.length && (j - idx) < cap && runs(j).isParquet &&
            runs(j).tomb == head.tomb &&
            java.util.Arrays.equals(runs(j).mask, head.mask)) j += 1
        val group = runs.slice(idx, j)
        val merged =
          if (group.size == 1) pq(group.head)
          else new KWayMergeIterator(group.map(pq).toIndexedSeq,
            keyIdx, keyTypes, merges, nFields, group.map(_.mask).toArray,
            new Array[Boolean](group.size)) // tombs merge as data: key union
        val file = writeSpill(merged, dts)
        spills += file
        runs = runs.patch(idx,
          Seq(RunSource(Nil, file, head.mask, head.tomb)), j - idx)
        parquetCount -= group.size
        idx += 1
      }
    }
    runs
  }

  /** Merge a bucket's ordered runs (oldest first) with at most `cap` open
    * parquet readers. Drop-in replacement for constructing KWayMergeIterator
    * directly; also canonicalizes the 0/1-run fast paths. `filters` as in
    * [[sources]]. */
  def iterator(
      readFn: PartitionedFile => Iterator[InternalRow],
      runFiles: IndexedSeq[Seq[PartitionedFile]],
      masks: Array[Array[Boolean]],
      tombs: Array[Boolean],
      keyIdx: Array[Int],
      keyTypes: Array[DataType],
      merges: Array[FieldMerge],
      capIn: Int,
      filters: IndexedSeq[Option[InternalRow => Boolean]] = IndexedSeq.empty)
      : Iterator[InternalRow] = {
    val nFields = merges.length
    val k = runFiles.size
    if (k == 0) return Iterator.empty
    if (k == 1) return if (tombs(0)) Iterator.empty
      else parquetRows(readFn,
        RunSource(runFiles(0), null, masks(0), tombs(0), filters.lift(0).flatten))
    val bounded = sources(readFn, runFiles, masks, tombs, keyIdx, keyTypes,
      merges, capIn, filters)
    val iters = bounded.map { s =>
      if (s.isParquet) parquetRows(readFn, s)
      else readSpill(s.spill, nFields)
    }
    new KWayMergeIterator(iters, keyIdx, keyTypes, merges, nFields,
      bounded.map(_.mask).toArray, bounded.map(_.tomb).toArray)
  }

  /** Length-prefixed LZ4 UnsafeRow stream; -1 sentinel terminates. */
  private def writeSpill(rows: Iterator[InternalRow],
      dts: Array[DataType]): File = {
    val f = File.createTempFile("graft-part-merge-", ".lz4",
      new File(org.apache.spark.sql.graft.StreamShim.localSpillDir()))
    f.deleteOnExit() // backstop outside a task (unit tests, driver-side use)
    val proj = UnsafeProjection.create(dts)
    val out = new DataOutputStream(new LZ4BlockOutputStream(
      new BufferedOutputStream(new FileOutputStream(f), 1 << 16)))
    val writeBuffer = new Array[Byte](1 << 13)
    try {
      while (rows.hasNext) {
        val u = proj(rows.next())
        out.writeInt(u.getSizeInBytes)
        u.writeToStream(out, writeBuffer)
      }
      out.writeInt(-1)
    } finally out.close()
    f
  }

  /** Streaming spill reader; reuses one UnsafeRow over a growable buffer
    * (the merge contract allows reuse: a run's row is only invalidated by
    * that run's own next()). Opens lazily, closes at the sentinel. */
  private[read] def readSpill(f: File, nFields: Int): Iterator[InternalRow] =
    new Iterator[InternalRow] {
      private var in: DataInputStream = _
      private var nextSize = Int.MinValue // unopened marker
      private val row = new UnsafeRow(nFields)
      private var buf = new Array[Byte](1 << 12)
      private def ensureOpen(): Unit = if (nextSize == Int.MinValue) {
        in = new DataInputStream(new LZ4BlockInputStream(
          new BufferedInputStream(new FileInputStream(f), 1 << 16)))
        advance()
      }
      private def advance(): Unit = {
        nextSize = in.readInt()
        if (nextSize < 0) in.close()
      }
      override def hasNext: Boolean = { ensureOpen(); nextSize >= 0 }
      override def next(): InternalRow = {
        ensureOpen()
        if (nextSize < 0) throw new NoSuchElementException
        if (buf.length < nextSize)
          buf = new Array[Byte](java.lang.Integer.highestOneBit(nextSize) << 1)
        in.readFully(buf, 0, nextSize)
        row.pointTo(buf, nextSize)
        advance()
        row
      }
    }
}

/** Test-visible gauge of simultaneously open parquet merge readers (local
  * mode shares one JVM, so a process-global counter observes every task).
  * A run counts from its first pull to exhaustion — the window its
  * vectorized reader holds batch buffers. Overhead: two atomic ops per RUN
  * (not per row). */
private[graft] object MergeReaderGauge {
  private val open = new AtomicInteger(0)
  private val peakCount = new AtomicInteger(0)

  def reset(): Unit = { open.set(0); peakCount.set(0) }
  def peak: Int = peakCount.get()

  def tracked[T](it: Iterator[T]): Iterator[T] =
    new Iterator[T] {
      private var opened = false
      private var closed = false
      private def markOpen(): Unit = if (!opened) {
        opened = true
        val o = open.incrementAndGet()
        var p = peakCount.get()
        while (o > p && !peakCount.compareAndSet(p, o)) p = peakCount.get()
      }
      override def hasNext: Boolean = {
        markOpen()
        val h = it.hasNext
        if (!h && !closed) { closed = true; open.decrementAndGet() }
        h
      }
      override def next(): T = { markOpen(); it.next() }
    }
}
