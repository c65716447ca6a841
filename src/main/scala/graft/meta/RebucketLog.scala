package graft.meta

/** Wall-clock log of key->bucket MAPPING-CHANGE events, stored in the
  * table properties as `"ts0:ts1:oldN:newN,..."` (ms, oldest first) — one
  * entry per re-bucket or bucket-reverting restore. A rewrite still in
  * flight carries `ts1 = "open"`: the marker is written ATOMICALLY WITH
  * the bucketNum flip (before any file is rewritten) and closed when the
  * rewrite publishes, so a crash between the two can never leave a
  * re-bucketed table with no recorded interval — readers see the open
  * marker and treat every window past ts0 as mapping-ambiguous until a
  * completed re-bucket closes it (conservative: cross-bucket merge, never
  * a double-surfaced key).
  *
  * Consumers: reads and diffs of a file set spanning an event must not pair
  * merge groups per bucket id (ids are not comparable across a mapping
  * change — the scan plans such a set under its final mapping
  * ([[epochsOf]]), the diff segments the window at the boundary, and both
  * fall back to the cross-bucket merge), and restore replays the log to
  * recover the bucketNum in effect at its target boundary.
  *
  * The log keeps the newest [[MaxEvents]] entries; when pruning drops an
  * event the horizon property records the dropped boundary, and restores
  * older than it are REFUSED ([[GraftTable.restoreToTimestamp]]) — past
  * the horizon [[bucketNumAt]] could silently return the wrong count. */
object RebucketLog {

  /** Table property holding the event list. */
  val Prop = "graft.rebucket.intervals"

  /** Newest pruned event boundary (ms): bucket history BEFORE this
    * timestamp is no longer reconstructible. Absent until the first
    * prune; re-buckets are rare whole-table rewrites, so 256 retained
    * events make the horizon effectively unreachable in practice. */
  val HorizonProp = "graft.rebucket.horizon"

  val MaxEvents = 256

  private val OpenMark = "open"

  /** Clock cushion (ms) applied around every event when deciding overlap /
    * ambiguity: commit timestamps are store-stamped (monotonic bump) and
    * may drift slightly off the event recorder's clock. Test hook — suites
    * that build multi-epoch histories in milliseconds shrink it; real
    * deployments keep the 1 s default. */
  @volatile var cushionMs: Long = 1000L

  /** (ts0, ts1, oldN, newN); ts1 = Long.MaxValue for an open marker. */
  private[meta] def parse(props: Map[String, String]): Seq[(Long, Long, Int, Int)] =
    props.get(Prop).map(_.split(",").toSeq.map(_.split(":"))
      .collect { case p if p.length >= 4 =>
        (p(0).toLong,
          if (p(1) == OpenMark) Long.MaxValue else p(1).toLong,
          p(2).toInt, p(3).toInt)
      }).getOrElse(Nil)

  private def render(es: Seq[(Long, Long, Int, Int)]): String =
    es.map { case (a, b, o, n) =>
      s"$a:${if (b == Long.MaxValue) OpenMark else b.toString}:$o:$n"
    }.mkString(",")

  private def put(props: Map[String, String],
      es: Seq[(Long, Long, Int, Int)]): Map[String, String] = {
    // never prune an OPEN marker: it is the only record that the table may
    // hold mixed-mapping files until a re-bucket completes
    val (overflow, kept) =
      if (es.size <= MaxEvents) (Nil, es)
      else {
        val closed = es.filter(_._2 != Long.MaxValue)
        val open = es.filter(_._2 == Long.MaxValue)
        val dropN = es.size - MaxEvents
        val dropped = closed.take(dropN)
        (dropped, (closed.drop(dropN) ++ open).sortBy(_._1))
      }
    val horizon = (props.get(HorizonProp).map(_.toLong).toSeq ++
      overflow.map(_._2)).maxOption
    props + (Prop -> render(kept)) ++
      horizon.map(h => HorizonProp -> h.toString)
  }

  /** Append an OPEN in-progress marker (atomic with the bucketNum flip). */
  def appendOpen(props: Map[String, String], ts0: Long,
      oldN: Int, newN: Int): Map[String, String] =
    put(props, parse(props) :+ ((ts0, Long.MaxValue, oldN, newN)))

  /** Append a completed event (metadata-only re-buckets and restores). */
  def appendClosed(props: Map[String, String], ts0: Long, ts1: Long,
      oldN: Int, newN: Int): Map[String, String] =
    put(props, parse(props) :+ ((ts0, ts1, oldN, newN)))

  /** Close every open marker at `ts1` — called when a re-bucket rewrite
    * has published ALL partitions, which also makes any marker left open
    * by an earlier crashed attempt moot: the table is mapping-consistent
    * from `ts1` on. */
  def close(props: Map[String, String], ts1: Long): Map[String, String] =
    put(props, parse(props).map {
      case (a, b, o, n) if b == Long.MaxValue => (a, ts1, o, n)
      case e => e
    })

  /** Does (tsA, tsB] overlap any mapping-change event? [[cushionMs]]
    * cushion each side. An open marker overlaps every window reaching
    * past its start, and a window starting BEFORE the prune horizon
    * conservatively overlaps too: an event may have existed there that
    * the log no longer records, and treating such a window as
    * single-mapping would pair merge groups per bucket id across unknown
    * mappings (duplicate keys) — the mapping-agnostic cross-bucket path
    * costs parallelism, never correctness. */
  def overlaps(props: Map[String, String], tsA: Long, tsB: Long): Boolean =
    horizon(props).exists(tsA < _) ||
      // an unfinished file-store restore (MetaStore.RestorePendingProp):
      // heads may already carry the restored mapping while the count/event
      // flip is missing — every window is mapping-ambiguous until the
      // re-run completes it
      props.contains(MetaStore.RestorePendingProp) ||
      parse(props).exists { case (ts0, ts1, _, _) =>
        tsA < (if (ts1 == Long.MaxValue) Long.MaxValue else ts1 + cushionMs) &&
          tsB >= ts0 - cushionMs
      }

  /** The events overlapping (tsA, tsB] under the same cushion. */
  def overlapping(props: Map[String, String], tsA: Long,
      tsB: Long): Seq[(Long, Long, Int, Int)] =
    parse(props).filter { case (ts0, ts1, _, _) =>
      tsA < (if (ts1 == Long.MaxValue) Long.MaxValue else ts1 + cushionMs) &&
        tsB >= ts0 - cushionMs
    }

  /** bucketNum in effect at wall-clock `ts`, replayed from the recorded
    * events: the value at `ts` is the OLD count of the first event
    * starting after `ts`, else the current count. Exact at commit
    * boundaries (the targets restore/time-travel resolve to); inside an
    * event's own [start, end] window the commit may land either side —
    * millisecond ambiguity that `validate()` catches if ever hit. Callers
    * resolving targets BEFORE [[horizon]] must refuse instead (the answer
    * here would be the oldest retained event's count, not the truth). */
  def bucketNumAt(ts: Long, props: Map[String, String], current: Int): Int =
    parse(props).sortBy(_._1).find(_._1 > ts).map(_._3).getOrElse(current)

  /** Clamp a streaming batch's candidate END offset so the batch window
    * (s, end] never SPANS a flip boundary when a cut exists: the first
    * flip ts0 strictly inside the window cuts it at `ts0 - 1` — every
    * commit at-or-before the cut replays to the pre-flip mapping, every
    * commit after it to the post-flip one (flip timestamps are allocated
    * on the store's own commit clock, [[MetaStore.updateInfoAtFlip]], so
    * the comparison is exact, no cushion). Each side is then a
    * mapping-consistent micro-batch that plans per-bucket-parallel
    * instead of the one-task-per-range-partition cross grouping — the
    * difference between a parallel catch-up and a single-task cliff when
    * a stream restarts from a checkpoint taken before a re-bucket.
    * Progress: only boundaries strictly ABOVE `s` cut, so the offset
    * always advances. */
  def clampAtFlip(props: Map[String, String], s: Long, candidate: Long): Long =
    parse(props).iterator.map(_._1 - 1)
      .filter(b => b > s && b < candidate)
      .minOption.getOrElse(candidate)

  /** Pruned-history boundary, if pruning has ever happened. */
  def horizon(props: Map[String, String]): Option[Long] =
    props.get(HorizonProp).map(_.toLong)

  /** Newest recorded event boundary (flip ts0 / close ts1) — the floor a
    * store's commit-timestamp allocator must stay strictly above so that
    * commit-vs-flip timestamp order IS happened-before order. */
  def maxBoundary(props: Map[String, String]): Long =
    parse(props).foldLeft(0L) { case (m, (a, b, _, _)) =>
      math.max(m, if (b == Long.MaxValue) a else math.max(a, b))
    }

  /** An OPEN in-progress marker present? (A re-bucket rewrite is running
    * or crashed mid-way — file bucket ids and info.bucketNum may describe
    * different mappings until a completed re-bucket closes it.) */
  def hasOpen(props: Map[String, String]): Boolean =
    parse(props).exists(_._2 == Long.MaxValue)

  /** Cut a resolved file set at the recorded FLIP boundaries into
    * mapping-consistent EPOCHS, oldest first:
    *
    *  - `Some(Seq((count, files)))` of size 1 — the whole set shares one
    *    key->bucket mapping (possibly ≠ `current`: time travel before a
    *    completed re-bucket, or a snapshot mid down-re-bucket). Grouping
    *    merge runs by raw bucket id is exact for such a set.
    *  - size ≥ 2 — the set SPANS a flip (mid/crashed re-bucket with
    *    post-flip writes, straddling incremental windows): per-bucket
    *    dispatch under one count would double-surface straddling keys;
    *    the scan plans the final epoch's buckets, each reading every
    *    older run that can hold its keys.
    *  - `None` — mapping-AMBIGUOUS: an unfinished restore is pending, a
    *    file's commit timestamp is unknown (0), within [[cushionMs]] of a
    *    flip, or at/under the prune horizon. Only the mapping-agnostic
    *    cross-bucket merge is safe.
    *
    * Why per-commit replay is sound: the count changes at an event's ts0
    * — a FLIP TIMESTAMP allocated on the store's own commit clock inside
    * the commit critical section ([[MetaStore.updateInfoAtFlip]]), so
    * commit-vs-flip timestamp order IS happened-before order; every data
    * commit's bucket count is CAS-verified against the live count inside
    * that same critical section — so a commit stamped ts was bucketed
    * under [[bucketNumAt]](ts), exactly. Restores repoint heads to files
    * whose OWN timestamps replay to the restored mapping (the restore
    * records a closed event), so the rule survives arbitrary
    * restore/re-bucket interleavings. A commit timestamp EQUAL to a
    * boundary (only possible for pre-exactness restore anchors) is
    * defensively ambiguous. */
  def epochsOf(props: Map[String, String], current: Int,
      files: Seq[ResolvedFile]): Option[Seq[(Int, Seq[ResolvedFile])]] = {
    if (props.contains(MetaStore.RestorePendingProp)) return None
    val events = parse(props)
    if (events.isEmpty || files.isEmpty)
      return Some(Seq(current -> files))
    val bounds = events.map(_._1).sorted
    val hz = horizon(props)
    def segment(ts: Long): Option[Int] =
      if (ts <= 0) None // unknown provenance
      else if (hz.exists(ts <= _)) None // history not reconstructible
      else if (bounds.contains(ts)) None // boundary tie: cannot order
      else Some(bounds.count(_ < ts))
    val segs = scala.collection.mutable.SortedMap
      .empty[Int, scala.collection.mutable.ArrayBuffer[ResolvedFile]]
    files.foreach { f =>
      segment(f.commitTs) match {
        case None => return None
        case Some(s) =>
          segs.getOrElseUpdate(s,
            scala.collection.mutable.ArrayBuffer.empty[ResolvedFile]) += f
      }
    }
    val raw = segs.values.toSeq.map(fs =>
      (bucketNumAt(fs.head.commitTs, props, current), fs.toSeq))
    // ADJACENT segments with the same count share the mapping (it is
    // pmod(hash(pk), n) — nothing else): coalesce them so a flip-and-revert
    // history (re-bucket, then restore back) doesn't force a needless
    // split. Non-adjacent equal counts stay separate (a different-count
    // segment between them holds the keys under another mapping).
    Some(raw.foldLeft(Vector.empty[(Int, Seq[ResolvedFile])]) {
      case (acc :+ ((n, fs)), (n2, fs2)) if n == n2 => acc :+ ((n, fs ++ fs2))
      case (acc, seg) => acc :+ seg
    })
  }

  /** The set carries ONE mapping, it is the CURRENT count's, and every
    * bucket id is inside it — the precondition for every id-derived
    * optimization (single-bucket point prunes, reported
    * KeyGroupedPartitioning / storage-partitioned joins, bucket-paired
    * diffs and joins). */
  def settledAt(props: Map[String, String], current: Int,
      files: Seq[ResolvedFile]): Boolean =
    epochsOf(props, current, files)
      .exists(es => es.size <= 1 && es.forall(_._1 == current)) &&
      files.forall(_.file.bucketId < current)
}
