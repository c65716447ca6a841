package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.meta.{DataFileInfo, RebucketLog, ResolvedFile}

/** Unit pins for the mapping-change event log (graft.meta.RebucketLog):
  * open/close lifecycle, epoch assignment, bucketNum replay, pruning +
  * horizon. The event log is what keeps incremental/diff windows exact
  * across re-buckets (CdcModelCheckSuite drives the end-to-end part). */
class RebucketLogSuite extends AnyFunSuite {

  private val empty = Map.empty[String, String]

  /** A file committed at `ts` (ms). */
  private def at(ts: Long): ResolvedFile =
    ResolvedFile(DataFileInfo(s"f$ts", "add", 1L, 0), 0, "-5", ts)

  /** Epoch counts of a set of files committed at `tss`, oldest first;
    * None when the set's mapping is ambiguous. */
  private def epochs(props: Map[String, String], current: Int,
      tss: Long*): Option[Seq[Int]] =
    RebucketLog.epochsOf(props, current, tss.map(at)).map(_.map(_._1))

  test("open marker overlaps every window past its start and closes in place") {
    val open = RebucketLog.appendOpen(empty, ts0 = 10000L, oldN = 4, newN = 8)
    // a crash between flip and publish leaves exactly this state: a set
    // reaching past ts0 spans both mappings, split at the flip
    assert(epochs(open, 8, 5000L, 20000L, 1e15.toLong) == Some(Seq(4, 8)))
    assert(epochs(open, 8, 20000L, 1e15.toLong) == Some(Seq(8)))
    assert(epochs(open, 8, 1000L, 8000L) == Some(Seq(4)), "fully before ts0")
    assert(epochs(open, 8, 5000L, 10000L).isEmpty,
      "a commit stamped exactly at the flip cannot be ordered")
    // bucketNum replay still works with the open end
    assert(RebucketLog.bucketNumAt(5000L, open, current = 8) == 4)
    assert(RebucketLog.bucketNumAt(20000L, open, current = 8) == 8)

    val closed = RebucketLog.close(open, ts1 = 30000L)
    assert(epochs(closed, 8, 40000L, 50000L) == Some(Seq(8)),
      "a closed event no longer splits later sets")
    assert(epochs(closed, 8, 5000L, 25000L, 40000L) == Some(Seq(4, 8)))
    assert(closed(RebucketLog.Prop) == "10000:30000:4:8")
  }

  test("close bounds stale markers from a crashed earlier attempt too") {
    val crashed = RebucketLog.appendOpen(empty, 1000L, 4, 8)
    val retried = RebucketLog.appendOpen(crashed, 2000L, 8, 16)
    val done = RebucketLog.close(retried, 5000L)
    assert(done(RebucketLog.Prop) == "1000:5000:4:8,2000:5000:8:16")
    assert(epochs(done, 16, 7000L, 9000L) == Some(Seq(16)))
  }

  test("pruning keeps open markers, records the horizon, and bucketNumAt " +
    "callers can refuse past it") {
    var props = RebucketLog.appendOpen(empty, ts0 = 5L, oldN = 2, newN = 4)
    // 300 closed events on top of one open marker -> prune must drop only
    // closed ones and remember the newest dropped boundary
    (1 to 300).foreach { i =>
      props = RebucketLog.appendClosed(props,
        1000L * i, 1000L * i + 10, i, i + 1)
    }
    val entries = props(RebucketLog.Prop).split(",")
    assert(entries.length == RebucketLog.MaxEvents)
    assert(entries.exists(_.endsWith(":open:2:4")),
      "the open marker must survive pruning — it is the only record of a " +
        "possibly-mixed-mapping table")
    val h = RebucketLog.horizon(props)
    assert(h.nonEmpty && h.get >= 1000L * (300 - RebucketLog.MaxEvents) + 10,
      s"horizon must cover the dropped events (got $h)")
  }

  test("windows reaching past the prune horizon or under a pending restore " +
    "are conservatively mapping-ambiguous") {
    val horizoned = Map(RebucketLog.HorizonProp -> "5000",
      RebucketLog.Prop -> "7000:7500:4:8")
    assert(epochs(horizoned, 8, 1000L, 9000L).isEmpty,
      "a file committed before the horizon may predate a pruned event")
    assert(epochs(horizoned, 8, 6000L, 9000L) == Some(Seq(4, 8)),
      "files past the horizon replay the retained events")
    val pending = Map(graft.meta.MetaStore.RestorePendingProp -> "1234")
    assert(epochs(pending, 8, 999999L, 9999999L).isEmpty,
      "an unfinished restore makes every set mapping-ambiguous")
    assert(epochs(empty, 8, 0L, 9000L) == Some(Seq(8)),
      "no recorded event: one mapping, whatever the provenance")
    assert(epochs(horizoned, 8, 0L, 9000L).isEmpty,
      "an unknown commit timestamp is ambiguous once events exist")
  }

  test("legacy closed-format strings parse unchanged") {
    val props = Map(RebucketLog.Prop -> "100:200:4:8,300:400:8:2")
    assert(RebucketLog.bucketNumAt(50L, props, current = 2) == 4)
    assert(RebucketLog.bucketNumAt(250L, props, current = 2) == 8)
    assert(RebucketLog.bucketNumAt(500L, props, current = 2) == 2)
    assert(epochs(props, 2, 50L, 250L, 500L) == Some(Seq(4, 8, 2)))
    assert(epochs(props, 2, 1500L, 3500L) == Some(Seq(2)))
  }
}
