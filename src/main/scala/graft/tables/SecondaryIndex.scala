package graft.tables

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.meta.{CommitOp, MetaStore, TableInfo}
import graft.read.GraftRead
import graft.write.TransactionalWrite

/** Incrementally-maintained SECONDARY INDEX: point lookups on a non-PK
  * column without scanning the source.
  *
  * The index is itself a graft table — PK = the indexed value, one column
  * `pks` holding the SORTED posting list of source primary keys, merged
  * across refreshes by [[graft.mergeop.MergeOps.SetUnionLongs]] (sorted
  * set union, associative and idempotent, so refreshes and compaction
  * fold in any order). `refresh` reads only the source commits since its
  * cursor — O(delta), never a source rescan (the same maintenance shape
  * as [[graft.pipeline.MaterializedView]]).
  *
  * A [[lookup]] is two bucket-pruned reads: (1) the posting list via the
  * index's own PK bucket pruning (M6 — one bucket of the index), (2) the
  * source rows via the pk buckets those postings hash to. At 100 TB
  * neither side scans: cost is O(files-in-touched-buckets), and the
  * posting list (bounded per value) is the only driver-side transfer.
  *
  * Contract: insert-only sources (append/upsert-new-keys + compaction),
  * like materialized views. An upsert that CHANGES a row's indexed value
  * leaves the old posting behind; lookups re-verify fetched rows against
  * the probed value, so stale postings cost IO but never wrong answers —
  * rows indexed under a new value appear at the next refresh. */
object SecondaryIndex {
  val SourceProp = "graft.index.source"
  val CursorProp = "graft.index.cursor"
  val ColumnProp = "graft.index.column"
  val PkProp = "graft.index.pk"
  val LastBatchProp = "graft.index.lastbatch"
  val StreamIdProp = "graft.index.stream"

  def create(
      spark: SparkSession,
      sourcePath: String,
      indexPath: String,
      column: String,
      bucketNum: Int = 32): GraftTable = {
    val src = GraftTable.forPath(spark, sourcePath)
    val t = src.info
    val srcSchema = src.schema
    require(t.hashColumns.size == 1,
      "secondary index requires a single-column-PK source table")
    val pk = t.hashColumns.head
    require(Seq(LongType, IntegerType).contains(srcSchema(pk).dataType),
      s"secondary index requires an integral source PK (got ${srcSchema(pk).dataType})")
    require(srcSchema.fieldNames.contains(column), s"unknown column $column")
    require(column != pk, "the PK is already bucket-prunable (M6)")
    require(t.cdcColumn.isEmpty,
      "secondary indexes over CDC sources are not supported")
    val schema = StructType(Seq(
      StructField("ival", srcSchema(column).dataType, nullable = false),
      StructField("pks", ArrayType(LongType, containsNull = false))))
    GraftTable.createEmpty(spark, schema, indexPath,
      hashColumns = Seq("ival"), bucketNum = bucketNum,
      properties = Map(
        SourceProp -> t.tablePath, CursorProp -> "0",
        ColumnProp -> column, PkProp -> pk,
        TableInfo.mergeOpProp("pks") -> "set_union_longs"))
  }

  /** Fold source commits in `(cursor, latest]` into the index. */
  def refresh(spark: SparkSession, indexPath: String): GraftTable = {
    val idx = GraftTable.forPath(spark, indexPath)
    val p = idx.info.properties
    val sourcePath = p.getOrElse(SourceProp,
      throw new IllegalArgumentException(s"$indexPath is not a secondary index"))
    val cursor = p(CursorProp).toLong
    val column = p(ColumnProp); val pk = p(PkProp)
    require(!p.contains(StreamIdProp),
      s"$indexPath is stream-maintained (see maintainStream) — a batch " +
        "refresh would re-fold commits the stream already counted")
    val src = GraftTable.forPath(spark, sourcePath)
    val latest = src.partitions.map(_.timestamp).maxOption.getOrElse(cursor)
    if (latest <= cursor) return idx
    val bad = src.commitOpsBetween(cursor, latest) --
      Set(CommitOp.Append, CommitOp.Merge, CommitOp.Compaction)
    // a shallow clone's base snapshot is compaction commits the incremental
    // reader skips — an initial backfill that would index NOTHING from a
    // non-empty source must fail loudly (see MaterializedView.refresh)
    require(bad.nonEmpty || cursor > 0 ||
      src.incrementalFiles(0L, latest).nonEmpty || src.liveFiles.isEmpty,
      s"source $sourcePath has no incrementally-consumable history (e.g. " +
        "a shallow clone's base snapshot) — secondary indexes need sources " +
        "whose rows arrived as append/upsert commits")
    // insert-only windows fold the O(delta) incremental read; a window
    // carrying UPDATE/DELETE rewrites folds the ADD side of the change
    // feed instead (the zero-shuffle diff kernel, pruned to touched
    // partition/bucket pairs). The REMOVE side is deliberately not folded:
    // posting lists only union (set_union_longs), and stale postings are
    // verified-safe — a deleted pk fetches no row, a moved value fails the
    // lookup's re-verification — so updates/deletes cost lookup IO, never
    // wrong answers, and maintenance no longer wedges on the first
    // non-incremental source commit.
    val adds =
      if (bad.isEmpty) src.incremental(cursor, latest)
      else src.diff(cursor, latest)
        .filter(col("_change_type").isin("insert", "update_postimage"))
        .drop("_change_type")
    val partial = adds
      .filter(col(column).isNotNull)
      .groupBy(col(column).as("ival"))
      .agg(sort_array(collect_set(col(pk).cast("long"))).as("pks"))
    idx.upsert(partial)
    idx.setProperties(Map(CursorProp -> latest.toString))
    // honors graft.mview.autocompact on the index table too
    graft.pipeline.MaterializedView.autoCompact(idx)
    idx
  }

  /** CONTINUOUS maintenance: a Structured Streaming query over the source
    * that folds every micro-batch into the index the same way [[refresh]]
    * folds a window. Same exactly-once model as
    * [[graft.pipeline.MaterializedView.maintainStream]]: replayed
    * micro-batches are skipped by the recorded batch id, and the index is
    * bound to its checkpoint (a second pipeline or a batch refresh after
    * streaming is rejected). */
  def maintainStream(
      spark: SparkSession,
      indexPath: String,
      checkpoint: String,
      trigger: org.apache.spark.sql.streaming.Trigger =
        org.apache.spark.sql.streaming.Trigger.ProcessingTime(0L))
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val idx = GraftTable.forPath(spark, indexPath)
    val p = idx.info.properties
    val sourcePath = p.getOrElse(SourceProp,
      throw new IllegalArgumentException(s"$indexPath is not a secondary index"))
    val cursor = p(CursorProp).toLong
    val column = p(ColumnProp); val pk = p(PkProp)
    val streamId = graft.util.HashUtil.md5Hex(checkpoint).take(12)
    p.get(StreamIdProp) match {
      case Some(other) if other != streamId =>
        throw new IllegalStateException(s"$indexPath is already maintained " +
          "by a stream with a different checkpoint")
      case _ => // new binding recorded AFTER start() succeeds; same: resume
    }
    var reader = spark.readStream.format("graft")
    if (cursor > 0) reader = reader.option("readStartTime", cursor.toString)
    val query = reader.load(sourcePath).writeStream
      .queryName(s"graft-index-${new java.io.File(indexPath).getName}")
      .option("checkpointLocation", checkpoint)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val index = GraftTable.forPath(batch.sparkSession, indexPath)
        // fail loudly when the source turns non-incremental (a window
        // containing update/rewrite delivers NOTHING — silently advancing
        // past it would lose postings; see MaterializedView.maintainStream)
        val srcT = GraftTable.forPath(batch.sparkSession, sourcePath)
        val bad = srcT.commitOpsBetween(cursor, Long.MaxValue) --
          Set(CommitOp.Append, CommitOp.Merge, CommitOp.Compaction)
        if (bad.nonEmpty) throw new IllegalStateException(
          s"source $sourcePath received non-incremental commit(s) " +
            s"${bad.mkString(", ")} — rebuild the index")
        val last = index.info.properties.get(LastBatchProp)
          .map(_.toLong).getOrElse(-1L)
        if (batchId > last) {
          index.upsert(batch.filter(col(column).isNotNull)
            .groupBy(col(column).as("ival"))
            .agg(sort_array(collect_set(col(pk).cast("long"))).as("pks")))
          index.setProperties(Map(LastBatchProp -> batchId.toString))
        }
      }
      .start()
    // bind only once the stream exists (a failed start() must not wedge
    // the index into rejecting all future maintenance)
    idx.setProperties(Map(StreamIdProp -> streamId))
    query
  }

  /** Driver-side posting pushdown cap (the [[graft.pipeline.NearDupIndex]]
    * pattern): a SELECTIVE lookup collects its postings and prunes the
    * source read to their pk buckets; a HOT key whose posting list exceeds
    * the cap would turn into a driver-memory bottleneck plus a giant
    * IN-list expression, so it falls back to a distributed semi-join. */
  val MaxPushdownPks = 10000

  /** Source rows whose indexed column equals `value` — two bucket-pruned
    * reads for selective values, no source scan; a bucket-unprunable
    * semi-join for hot keys past [[MaxPushdownPks]] (millions of postings
    * at 100 TB span every bucket anyway — nothing to prune, and the
    * posting list must stay off the driver). Values never indexed (or
    * probed before the first refresh) return an empty frame with the
    * source schema. */
  def lookup(spark: SparkSession, indexPath: String, value: Any): DataFrame = {
    val idx = GraftTable.forPath(spark, indexPath)
    val p = idx.info.properties
    val src = GraftTable.forPath(spark, p(SourceProp))
    val column = p(ColumnProp); val pk = p(PkProp)
    val postingsDf = idx.lookupByPk(Seq(value))
      .select(explode(col("pks")).as("_g_pk"))
    val capped = postingsDf.limit(MaxPushdownPks + 1)
      .collect().map(_.getLong(0))
    if (capped.isEmpty) return src.toDF.limit(0)
    // stale-posting safety on both paths: a row whose indexed value moved
    // away since the posting was written is fetched but filtered out here
    if (capped.length <= MaxPushdownPks)
      fetchByPks(spark, src, pk, capped).filter(col(column) === lit(value))
    else
      src.toDF
        .join(postingsDf, col(pk).cast("long") === col("_g_pk"), "left_semi")
        .filter(col(column) === lit(value))
  }

  /** Bucket-pruned multi-PK fetch: read only the pk buckets the postings
    * hash to, then keep exactly the requested keys. Bucket ids come from
    * driver-local foldable eval — no Spark job before the actual read.
    * Mid re-bucket (the files' mapping is not the current count's) a key's
    * rows may sit in its old-mapping bucket: every bucket is read. */
  private def fetchByPks(spark: SparkSession, src: GraftTable,
      pk: String, pks: Array[Long]): DataFrame = {
    val t = src.info
    val schema = src.schema
    val narrowed: Any => Any = schema(pk).dataType match {
      case IntegerType => v => v.asInstanceOf[Long].toInt
      case _ => identity
    }
    val buckets = pks.map(v => TransactionalWrite.bucketOf(
      spark, schema, Seq(pk -> narrowed(v)), t.bucketNum)).toSet
    val live = src.liveFiles
    val files =
      if (!graft.meta.RebucketLog.settledAt(t.properties, t.bucketNum, live)) live
      else live.filter(f => f.file.bucketId == -1 || buckets.contains(f.file.bucketId))
    GraftRead.read(spark, t, files)
      .filter(col(pk).cast("long").isin(pks.toSeq: _*))
  }
}
