package graft

import org.apache.spark.sql.DataFrame
import graft.meta.TableInfo
import graft.tables.GraftTable

/** Randomized model check for CDC tables (cdcColumn, M8): the op column
  * drives visibility (delete markers hide rows; compaction rewrites
  * update->insert and drops delete rows), so the model tracks the LAST
  * (data, op) per key and compares VISIBLE state on (id, data) — the op
  * value itself is normalization-dependent and asserted only as
  * "never delete". Interleaves marker upserts with full + leveled
  * compactions, whole-table re-buckets and restores; time travel must
  * replay each recorded boundary bit-exact. */
class CdcModelCheckSuite extends SparkFixture {
  import spark.implicits._

  /** A window spanning re-buckets, read one task per final bucket, must be
    * ROW-IDENTICAL to the cross-bucket one-task merge on every window of
    * every random history — the split is a parallelism optimization, never
    * a semantics change. */
  private def assertSplitEqualsCross(t: GraftTable, start: Long, end: Long,
      ctx: => String): Unit = {
    def rows(df: DataFrame) = df.collect().map(_.toString).sorted.toSeq
    graft.read.GraftRead.forceCrossBucketRead = false
    val splitInc = rows(t.incremental(start, end))
    val splitDiff = rows(t.diff(start, end))
    graft.read.GraftRead.forceCrossBucketRead = true
    try {
      assert(rows(t.incremental(start, end)) == splitInc,
        s"incremental split vs cross diverged; $ctx")
      assert(rows(t.diff(start, end)) == splitDiff,
        s"diff split vs cross diverged; $ctx")
    } finally graft.read.GraftRead.forceCrossBucketRead = false
  }

  private def visible(df: DataFrame): Map[Long, String] =
    df.select("id", "data", "op").as[(Long, String, String)]
      .collect().map { case (k, v, op) =>
        assert(op != "delete", s"delete marker visible for key $k")
        k -> v
      }.toMap

  test("random CDC marker sequences vs visibility model") {
    val rnd = new scala.util.Random(4242)
    for (round <- 1 to 4) {
      withTempPath { path =>
        val keySpace = 0 until (10 + rnd.nextInt(30))
        val init = keySpace.map(k => (k.toLong, s"v${rnd.nextInt(9)}", "insert"))
        val t = GraftTable.create(spark, init.toDF("id", "data", "op"), path,
          hashColumns = Seq("id"), bucketNum = 1 + rnd.nextInt(3),
          properties = Map(TableInfo.CdcColumnProp -> "op"))
        // model: key -> (data, visible?)
        var model: Map[Long, (String, Boolean)] =
          init.map { case (k, v, _) => k -> (v, true) }.toMap
        var snapshots = Vector(t.lastCommitTs -> model)
        var restored = false
        val opLog = scala.collection.mutable.ArrayBuffer[String]()

        for (_ <- 0 until 5 + rnd.nextInt(4)) {
          rnd.nextInt(6) match {
            case 0 | 1 => // mixed marker batch (unique PKs per batch)
              val b = rnd.shuffle(keySpace.toList)
                .take(1 + rnd.nextInt(keySpace.size)).map { k =>
                  val existing = model.get(k.toLong).exists(_._2)
                  val op = rnd.nextInt(3) match {
                    case 0 => "insert"
                    case 1 => if (existing) "update" else "insert"
                    case 2 => if (existing) "delete" else "insert"
                  }
                  (k.toLong, s"v${rnd.nextInt(9)}", op)
                }
              opLog += s"upsert(${b.mkString(";")})"
              t.upsert(b.toDF("id", "data", "op"))
              model ++= b.map { case (k, v, op) =>
                k -> (v, op != "delete")
              }
            case 2 => opLog += "full-compaction"; t.compaction()
            case 3 => // leveled compaction: same visible state
              opLog += "leveled-compaction"
              t.compaction(graft.tables.CompactionOptions(
                fileSizeLimit = Some(256L * 1024)), _ => true)
            case 4 => // whole-table re-bucket (marker runs must re-bucket
              // exactly like data runs)
              val nb = 1 + rnd.nextInt(4)
              opLog += s"rebucket($nb)"
              t.compaction(graft.tables.CompactionOptions(
                newBucketNum = Some(nb)), _ => true)
            case 5 => // restore to a random earlier boundary
              val (ts, m) = snapshots(rnd.nextInt(snapshots.size))
              opLog += s"restore($ts)"
              t.restoreToTimestamp(ts)
              model = m
              restored = true
          }
          snapshots :+= t.lastCommitTs -> model
          val exp = model.collect { case (k, (v, true)) => k -> v }
          assert(visible(t.toDF) == exp, s"round $round after op")
        }
        assert(t.validate() == Nil, s"round $round: validate")
        // every recorded boundary -> head window, under BOTH read paths:
        // the final-bucket split must byte-equal the cross-bucket merge on the
        // same random re-bucket/restore history (r15)
        val head = t.lastCommitTs
        (Seq(0L) ++ snapshots.map(_._1).distinct.takeRight(3)).distinct
          .foreach { b =>
            assertSplitEqualsCross(t, b, head,
              s"round $round window ($b, $head]; ops=\n${opLog.mkString("\n")}")
          }
        // time travel replays a random boundary (visible rows only)
        val (sts, sm) = snapshots(rnd.nextInt(snapshots.size))
        val sexp = sm.collect { case (k, (v, true)) => k -> v }
        assert(visible(t.snapshotAt(sts)) == sexp, s"round $round: @$sts")
        // the CDC change feed over the whole history ends at the head
        // state: fold diff events over an empty map and compare. Holds
        // only for WRITE histories — the CDC branch is event-based
        // (incremental file set), and a RESTORE is a snapshot-level
        // repoint that is by design NOT a CDC event (the strict-window
        // contract; the PK snapshot-diff branch is the restore-exact one)
        if (!restored) {
          val feed = t.diff(0L, t.lastCommitTs)
            .select("id", "data", "_change_type")
            .as[(Long, String, String)].collect()
          val folded = feed.foldLeft(Map.empty[Long, String]) {
            case (acc, (k, v, ct)) =>
              if (ct == "delete") acc - k else acc + (k -> v)
          }
          assert(folded == sexpHead(model),
            s"round $round: change-feed fold; ops=\n${opLog.mkString("\n")}")
        }
      }
    }
  }

  private def sexpHead(model: Map[Long, (String, Boolean)]): Map[Long, String] =
    model.collect { case (k, (v, true)) => k -> v }
}
