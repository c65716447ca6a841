package graft.write

import java.io.File
import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, DataType, MapType, StructType}

import graft.meta._
import graft.mergeop.{MergeOp, MergeOps}

/** Transactional bucketed write path (SURVEY.md §2.1 S14; reference:
  * TransactionalWrite.scala:106-285, LakeSoulFileWriter.scala:96-141).
  *
  * Layout per commit — files are written into a commit-unique directory and
  * only become visible through the meta commit (the no-rename trick of
  * DelayedCommitProtocol.scala):
  *
  *   <tablePath>/data/<commitId>/__g_r_<col>=<v>/.../__g_bucket=<k>/part-*.parquet
  *
  * Range-partition values are DUPLICATED into `__g_r_*` directory columns so
  * the physical files keep the real columns (directly readable with the table
  * schema — no partition-column reconstruction at scan time). Rows are
  * hash-bucketed by `pmod(hash(pkCols), bucketNum)` — the same murmur3
  * expression Spark's `HashPartitioning.partitionIdExpression` uses, so
  * write-side bucketing and read-side bucket pruning can never diverge
  * (SURVEY.md §7.1; the reference re-implements Spark murmur3 in Rust,
  * rust/lakesoul-io/src/utils/hash/spark_murmur3.rs).
  *
  * PK batches are PRE-MERGED (dedup-on-write): the per-column merge operators
  * are applied within the batch before bucketing, so every committed sorted
  * run has unique PKs per range partition. Operators are associative, so
  * (write-time within batch) then (read-time across commits) equals one flat
  * merge — and single-commit partitions need no read-time merge at all.
  */
object TransactionalWrite {

  /** Table property: roll output files every N records (S15). */
  val MaxRecordsPerFileProp = "graft.write.maxRecordsPerFile"

  /** Table property: parquet codec for this table's data files; wins over
    * the session conf `spark.graft.write.codec` (default zstd — a
    * documented divergence from the reference's snappy default). */
  val CodecProp = "graft.write.codec"

  /** Table property: comma-separated columns that get a parquet bloom
    * filter in every written file. Point lookups on columns whose values
    * interleave across files (min/max bounds too wide for
    * [[graft.read.StatsSkipping]]) then skip row groups inside the
    * standard reader — at 100 TB the difference between decoding one row
    * group and decoding a whole bucket's files for a miss. */
  val BloomColumnsProp = "graft.bloom.columns"

  /** Optional expected-distinct-values hint for the bloom filters
    * (parquet sizes the filter from it; default 1M). */
  val BloomNdvProp = "graft.bloom.ndv"

  /** Test-only injection point: invoked after a commit's data files are
    * fully on disk and before the unpublished commits return to the caller
    * for the meta publish — crash tests abort exactly in the window the
    * no-rename protocol must tolerate (files exist, no commit references
    * them; the reference's rename-rollback analog is
    * TransactionCommit.scala:398-427). */
  @volatile var postWriteHook: () => Unit = () => ()

  val NullSentinel = "__GRAFT_NULL__"
  val EmptySentinel = "__GRAFT_EMPTY__"
  val RangePrefix = "__g_r_"
  val BucketCol = "__g_bucket"

  /** Bucket id expression — identical to Spark's
    * HashPartitioning(pkCols, n).partitionIdExpression (murmur3 seed 42). */
  def bucketIdExpr(pkCols: Seq[Column], n: Int): Column =
    pmod(hash(pkCols: _*), lit(n))

  /** Bucket id for concrete primary-key values (point reads / DSv2 bucket
    * pruning) — evaluated through the same expression as the write side so
    * the two can never diverge. Driver-local foldable eval: a point lookup
    * must not pay a Spark job just to hash its key. */
  def bucketOf(
      spark: SparkSession,
      schema: StructType,
      keyValues: Seq[(String, Any)],
      bucketNum: Int): Int = {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.{Cast, Literal, Murmur3Hash, Pmod}
    // the resolved catalyst form of bucketIdExpr: pmod(hash(seed=42), n)
    val exprs = keyValues.map { case (c, v) =>
      Cast(Literal(v), schema(c).dataType)
    }
    Pmod(Murmur3Hash(exprs, 42), Literal(bucketNum))
      .eval(InternalRow.empty).asInstanceOf[Int]
  }

  def mergeOpFor(table: TableInfo, column: String): MergeOp =
    table.properties.get(TableInfo.mergeOpProp(column))
      .map(MergeOps.forName).getOrElse(MergeOps.UseLast)

  /** Normalize an incoming batch to the table schema: keep table-schema
    * column order, cast types; columns absent from the batch stay absent
    * (schema evolution — recorded in existCols, read back as null). */
  /** Name-sensitive type equality ignoring nullability/containsNull only
    * (Spark's sameType is private[sql]; equalsStructurally would ignore
    * nested struct field NAMES and skip a required renaming cast). */
  private def sameTypeIgnoreNullability(a: DataType, b: DataType): Boolean =
    (a, b) match {
      case (x: ArrayType, y: ArrayType) =>
        sameTypeIgnoreNullability(x.elementType, y.elementType)
      case (x: MapType, y: MapType) =>
        sameTypeIgnoreNullability(x.keyType, y.keyType) &&
          sameTypeIgnoreNullability(x.valueType, y.valueType)
      case (x: StructType, y: StructType) =>
        x.length == y.length && x.fields.zip(y.fields).forall { case (f, g) =>
          f.name == g.name && sameTypeIgnoreNullability(f.dataType, g.dataType)
        }
      case _ => a == b
    }

  def normalize(table: TableInfo, dfIn: DataFrame,
      ingestion: Boolean = true): DataFrame = {
    val schema = graft.util.SchemaUtil.fromJson(table.schemaJson)
    // CASE-INSENSITIVE batch resolution (reference CaseSensitivitySuite:
    // under the Spark default spark.sql.caseSensitive=false a batch naming
    // `Key` for schema column `key` must write that column, not evolve a
    // new one): rename case-variant batch columns to the schema's
    // canonical names. Exact matches win; a schema whose own fields
    // collide case-insensitively keeps those names un-renameable.
    val df = if (org.apache.spark.sql.internal.SQLConf.get.caseSensitiveAnalysis) dfIn
    else {
      val exact = schema.fieldNames.toSet
      val canonical = schema.fieldNames.groupBy(_.toLowerCase)
        .collect { case (lc, Array(one)) => lc -> one }
      dfIn.columns.foldLeft(dfIn) { (d, c) =>
        if (exact.contains(c)) d
        else canonical.get(c.toLowerCase)
          .map(n => d.withColumnRenamed(c, n)).getOrElse(d)
      }
    }
    val present = df.columns.toSet
    val keep = schema.fields.filter(f => present.contains(f.name))
    val missing = (table.rangeColumns ++ table.hashColumns).filterNot(present.contains)
    require(missing.isEmpty,
      s"batch is missing partition/primary-key columns: ${missing.mkString(", ")}")
    // cast only on a REAL type change: equal-up-to-nullability types skip
    // it — parquet round-trips array/map elements as nullable, and casting
    // array<t, nullable> to a schema recorded with containsNull=false is a
    // CAST_WITHOUT_SUGGESTION analysis error, not a no-op. sameType (NOT
    // equalsStructurally, which ignores nested field NAMES) so a batch
    // whose struct fields are named differently still gets the renaming
    // cast the table schema requires.
    val inTypes = df.schema.fields.map(f => f.name -> f.dataType).toMap
    // backtick-quoted so a column name containing a literal dot is not
    // re-parsed as struct navigation
    val q = graft.util.SchemaUtil.qcol _
    val normalized =
      df.select(keep.map { f =>
        if (sameTypeIgnoreNullability(inTypes(f.name), f.dataType))
          q(f.name).as(f.name)
        else q(f.name).cast(f.dataType).as(f.name)
      }.toSeq: _*)
    // expectations gate NEW data entering the table (ingestion commits
    // only): a maintenance rewrite or compaction re-running them would
    // silently REMOVE previously-admitted rows if an expectation was added
    // after they loaded — data loss through an internal op
    enforceInvariants(table,
      if (ingestion) applyExpectations(table, normalized) else normalized)
  }

  /** Data-quality EXPECTATIONS (beyond the reference; the
    * pipeline-curation companion to C15's hard invariants): table
    * properties `graft.expect.<name>` = SQL predicate with
    * `graft.expect.<name>.action` ∈ fail (default — same as a check
    * constraint), `drop` (violating rows silently removed from the batch),
    * `quarantine` (removed AND persisted to `<tablePath>/_quarantine` as
    * parquet with `_g_violations` + `_g_expect_ts` columns for triage /
    * replay). NULL predicate results count as violations (a quality gate
    * that cannot evaluate has not passed). The quarantine write is a
    * second job over the violating subset — the batch is evaluated twice
    * on that path unless the caller caches it. */
  /** Run the soft (drop/quarantine) expectations on `df` as if it were an
    * ingestion batch — for callers whose write is internal-flagged as a
    * whole but smuggles a genuinely NEW subset (MERGE WHEN NOT MATCHED
    * inserts inside a delta/rewrite commit). */
  def gateIngestion(table: TableInfo, df: DataFrame): DataFrame =
    applyExpectations(table, df)

  private def applyExpectations(table: TableInfo, df: DataFrame): DataFrame = {
    val props = table.properties
    val prefix = "graft.expect."
    val soft = props.collect {
      case (k, v) if k.startsWith(prefix) && !k.endsWith(".action") &&
          props.getOrElse(s"$k.action", "fail") != "fail" =>
        (k.stripPrefix(prefix), v, props(s"$k.action"))
    }.toSeq.sortBy(_._1)
    if (soft.isEmpty) return df
    require(soft.forall(e => e._3 == "drop" || e._3 == "quarantine"),
      s"unknown expectation action in ${soft.filterNot(e =>
        e._3 == "drop" || e._3 == "quarantine").map(_._3).mkString(", ")} " +
        "(want fail|drop|quarantine)")
    def violations(actions: Set[String]) = array_compact(array(
      soft.collect { case (n, p, a) if actions(a) =>
        when(!coalesce(expr(p).cast("boolean"), lit(false)), lit(n))
      }: _*))
    val flagged = df.withColumn("_g_violations", violations(Set("drop", "quarantine")))
    if (soft.exists(_._3 == "quarantine")) {
      val bad = df
        .withColumn("_g_violations", violations(Set("quarantine")))
        .filter(size(col("_g_violations")) > 0)
        .withColumn("_g_expect_ts", current_timestamp())
      bad.write.mode("append")
        .parquet(new File(table.tablePath, "_quarantine").getPath)
    }
    flagged.filter(size(col("_g_violations")) === 0).drop("_g_violations")
  }

  /** Schema invariants (C15, schema/InvariantCheckerExec): primary-key
    * columns must be non-null (ImplicitMetadataOperation.scala:106-113), plus
    * user check constraints from `graft.check.<name>` table properties —
    * enforced as codegen'd `assert_true` expressions inside the write plan,
    * failing the job on the first violating row. */
  private def enforceInvariants(table: TableInfo, df: DataFrame): DataFrame = {
    val pkChecks = table.hashColumns.filter(df.columns.contains).map(c =>
      assert_true(graft.util.SchemaUtil.qcol(c).isNotNull,
        lit(s"primary-key column '$c' must not be null")))
    // schema-level NOT NULL (any field the table schema declares
    // non-nullable): without this, a NULL written into a non-nullable
    // column survives the parquet file but the merge reader's unsafe
    // projection silently materializes it as 0/""/false — enforce loudly
    // at write time instead (Delta's NOT NULL invariant semantics)
    val schemaChecks = graft.util.SchemaUtil.fromJson(table.schemaJson)
      .filter(f => !f.nullable && df.columns.contains(f.name) &&
        !table.hashColumns.contains(f.name))
      .map(f => assert_true(graft.util.SchemaUtil.qcol(f.name).isNotNull,
        lit(s"NOT NULL column '${f.name}' received a null (declare the " +
          "column nullable at table creation to store nulls)")))
    val userChecks = table.properties.collect {
      case (k, v) if k.startsWith("graft.check.") =>
        // ANSI CHECK semantics (Delta's too): NULL satisfies — only a row
        // where the predicate is definitely FALSE violates
        assert_true(coalesce(expr(v), lit(true)),
          lit(s"check constraint violated: $k = '$v'"))
    }
    val checks = pkChecks ++ schemaChecks ++ userChecks
    if (checks.isEmpty) df
    // assert_true yields NULL on success (and raises on violation), so the
    // filter is always-true but cannot be pruned — the assertion must run
    else df.filter(checks.map(c => coalesce(c.cast("boolean"), lit(true)))
      .reduce(_ && _))
  }

  /** Apply per-column merge operators within one batch, collapsing duplicate
    * PKs (per range partition). Intra-batch order = input row order
    * (monotonically_increasing_id as the version). */
  /** Single-shuffle trick: the batch is repartitioned by PK into exactly
    * `bucketNum` partitions FIRST. `HashPartitioning(pk, n)` satisfies the
    * aggregate's ClusteredDistribution(range++pk) (pk is a subset, and equal
    * pk => equal (range,pk) partition), so Catalyst plans the group-by
    * WITHOUT another exchange — and because the aggregate's partitioning is
    * the same murmur3-mod expression as [[bucketIdExpr]], the post-merge
    * partition index IS the bucket id. One shuffle replaces the previous
    * groupBy-then-repartition pair. */
  def preMerge(table: TableInfo, df: DataFrame): DataFrame = {
    val q = graft.util.SchemaUtil.qcol _
    val keys = (table.rangeColumns ++ table.hashColumns).filter(df.columns.contains)
    val schema = graft.util.SchemaUtil.fromJson(table.schemaJson)
    // materialized in a Project (non-deterministic exprs may not sit inside
    // an aggregate); partition-major order stands in for input row order
    val seq = df
      .repartition(table.bucketNum, table.hashColumns.map(q): _*)
      .withColumn("_g_seq", monotonically_increasing_id())
    val aggs = df.schema.fields.filterNot(f => keys.contains(f.name)).map { f =>
      val dt = schema(f.name).dataType
      mergeOpFor(table, f.name)
        .intraBatchAgg(q(f.name), col("_g_seq"), lit(true), dt).as(f.name)
    }
    // r16 probe note: an all-UseLast window-top-1 formulation (row_number
    // over pk desc _g_seq = 1, taking Spark's WindowGroupLimit path) was
    // measured against this SortAggregate shape both A/B orders at sf0.1 —
    // end-to-end upsert cost was identical (~0.41 s/upsert either way), so
    // the simpler per-column aggregate form stays.
    if (aggs.isEmpty) seq.drop("_g_seq").dropDuplicates(keys)
    else {
      val merged = seq.groupBy(keys.map(q): _*).agg(aggs.head, aggs.tail.toSeq: _*)
      merged.select(df.columns.map(q).toSeq: _*) // restore column order
    }
  }

  /** Write `df` as one commit's files. Returns the unpublished per-partition
    * commits; the caller publishes them via MetaStore.commit (optimistic CAS). */
  def writeFiles(
      spark: SparkSession,
      table: TableInfo,
      dfIn: DataFrame,
      commitOp: String,
      skipPreMerge: Boolean = false,
      clusterCols: Seq[String] = Nil,
      tombstone: Boolean = false,
      internal: Boolean = false,
      inputBucketAligned: Boolean = false): Seq[DataCommitInfo] = {
    val commitId = MetaStore.newCommitId()
    // tombstone runs are key-only deletion markers built from rows the
    // table already admitted: full schema with non-key columns null, so
    // NOT NULL/check invariants must not run (and expectations never gate
    // internal writes). Flagged through existCols (Tombstone.Marker) with
    // only the key columns listed as physically meaningful.
    //
    // `internal` marks delta-DML rewrites of ALREADY-ADMITTED rows that
    // commit with CommitOp.Merge for run-order semantics (deltaUpdate,
    // marker delete/update, applyChanges, delta MERGE): expectations are
    // ingestion-only gates — re-running them here would silently swallow a
    // CDC delete marker or updated row when an expectation was added after
    // the rows loaded, the exact internal-op hazard the equivalent
    // CommitOp.Rewrite paths already avoid. Hard invariants still run.
    val ingestion = !internal &&
      (commitOp == CommitOp.Append || commitOp == CommitOp.Merge)
    val df0 = if (tombstone) dfIn else normalize(table, dfIn, ingestion)
    val df = if (table.hasPrimaryKey && !skipPreMerge) preMerge(table, df0) else df0
    val existCols =
      if (tombstone)
        ((table.rangeColumns ++ table.hashColumns).distinct :+ Tombstone.Marker)
          .mkString(",")
      else df.columns.mkString(",")

    // Duplicate range values into string-typed directory columns with the
    // reference's null/empty sentinels (TransactionalWrite.scala:188-203).
    val rangeDirCols = table.rangeColumns.map { c =>
      val rc = graft.util.SchemaUtil.qcol(c)
      val s = rc.cast("string")
      (RangePrefix + c,
        when(rc.isNull, NullSentinel).when(s === "", EmptySentinel).otherwise(s))
    }
    var out = rangeDirCols.foldLeft(df) { case (d, (n, e)) => d.withColumn(n, e) }

    // AQE-inertness walk of the INPUT plan (decides both the AQE skip
    // below and the flat-bucket gate right after): an allowlist of
    // known-exchange-free nodes, so any unrecognized node kind (MapGroups,
    // CoGroup, Generate, Offset, future operators...) keeps AQE on. Leaf
    // nodes (scans, LocalRelation, Range, LogicalRDD) plan no exchange
    // by construction; Project/Filter/SubqueryAlias/Union/View are
    // narrow; everything else is presumed exchange-capable. Expressions
    // must carry no plan subquery.
    val inertInput = {
      import org.apache.spark.sql.catalyst.expressions.PlanExpression
      import org.apache.spark.sql.catalyst.plans.logical._
      !dfIn.queryExecution.analyzed.exists { p =>
        val knownInert = p match {
          case _: LeafNode | _: Project | _: Filter | _: SubqueryAlias |
              _: Union | _: View => true
          case _ => false
        }
        !knownInert ||
          p.expressions.exists(_.exists(_.isInstanceOf[PlanExpression[_]]))
      }
    }

    // FLAT-BUCKET WRITE: when the input's Spark partition INDEX is
    // provably the bucket id — after preMerge (repartition(bucketNum, pk)
    // uses the same murmur3-mod expression as bucketIdExpr), or under a
    // group-aligned merge read
    // (BucketMergeRead.readRdd's partition-index == bucket-id contract) —
    // and the table has no range partitions, the dynamic-partition
    // writer buys NOTHING: every task holds exactly one bucket. Skip it:
    // write flat files and derive each file's bucket id from its
    // part-NNNNN task index (listCommitFiles). This removes the dynamic
    // writer's per-row partition projection/comparison and the
    // committer's per-directory handling (WriteCostProbe: 0.93 -> 0.44 s
    // task time per 32-bucket commit), and at scale drops one directory
    // level of namenode round-trips per commit. The meta (DataFileInfo
    // .bucketId) stays the source of truth for readers — no read-side
    // change.
    //
    // SAFETY GATE: index == bucket holds only while NO adaptive rule can
    // re-shape the post-repartition stage (AQE's local shuffle reads /
    // coalescing re-index partitions — observed: a view-refresh upsert
    // whose delta plan carried joins had every row land in partition 0
    // under AQE while its keys hashed to buckets 1 and 2). So flat mode
    // requires an inert input, which is also exactly when the write runs
    // with AQE OFF (aqeKey below). Non-inert inputs keep AQE and the
    // dynamic-partition writer, whose per-row bucket COLUMN is
    // placement-independent.
    val flatBuckets = inertInput && table.hasPrimaryKey &&
      table.rangeColumns.isEmpty && (!skipPreMerge || inputBucketAligned)

    val partDirCols: Seq[String] =
      if (flatBuckets) {
        val pk = table.hashColumns.map(graft.util.SchemaUtil.qcol)
        // per-(bucket) pk sort-on-write — same sorted-run contract as the
        // dynamic path; the bucket prefix is implicit (one bucket/task)
        out = out.sortWithinPartitions(pk: _*)
        Nil
      } else if (table.hasPrimaryKey) {
        val pk = table.hashColumns.map(graft.util.SchemaUtil.qcol)
        val bucketed = out.withColumn(BucketCol, bucketIdExpr(pk, table.bucketNum))
        // after preMerge the data is already HashPartitioning(pk, bucketNum)
        // (partition index == bucket id); only re-shuffle when the batch
        // bypassed preMerge (update/compaction rewrites) AND the caller
        // cannot attest per-(partition, bucket) alignment. With
        // inputBucketAligned (compaction over an all-merge-path read,
        // GraftRead.readAligned) every input partition holds exactly
        // one (desc, bucket) group in key order, so the repartition would
        // move every row of the table to the partition it is already in —
        // at 100 TB a full-table shuffle paid for nothing. Correctness
        // contract: a (desc, bucket) group split across TWO tasks would
        // write two same-run files whose pk ranges interleave (breaking
        // the sorted-run invariant the k-way merge reads by), so the flag
        // is only ever set when the read guarantees group-aligned input.
        val placed =
          if (skipPreMerge && !inputBucketAligned)
            bucketed.repartition(table.bucketNum, col(BucketCol))
          else bucketed
        // sort-on-write by (range-DIR cols, bucket, pk) — the format's
        // sorted-run contract (LakeSoulFileWriter.scala:125-141). Sorting on
        // the DIRECTORY columns (not the typed range columns) lets
        // FileFormatWriter recognize the ordering as satisfying its
        // dynamic-partition requirement and skip its own re-sort of every
        // batch; per-(desc, bucket) pk order — the actual contract — is
        // identical either way.
        out = placed.sortWithinPartitions(
          (rangeDirCols.map(c => graft.util.SchemaUtil.qcol(c._1)) ++
            Seq(col(BucketCol)) ++ pk): _*)
        rangeDirCols.map(_._1) :+ BucketCol
      } else {
        // non-PK clustering (GraftTable.cluster): per-task sort on
        // (DIRECTORY columns, cluster columns) — the dir-column prefix
        // satisfies the dynamic-partition writer's required ordering so the
        // cluster-column suffix survives into the files
        if (clusterCols.nonEmpty)
          out = out.sortWithinPartitions(
            (rangeDirCols.map(c => graft.util.SchemaUtil.qcol(c._1)) ++
              clusterCols.map(graft.util.SchemaUtil.qcol)): _*)
        rangeDirCols.map(_._1)
      }

    val commitDir = new File(new File(table.tablePath, "data"), commitId)
    var writer = out.write.mode("errorifexists")
    // zstd data files (guide §6: smaller than snappy at similar read
    // speed; r16 WriteCostProbe also measured the snappy ENCODER as the
    // slower one on this write shape — 1.37 s vs 0.95 s of task time per
    // 32-bucket commit; documented divergence — the reference defaults to
    // snappy). Per-table property wins over the session conf so tables
    // interoperating with reference-written data can pin their codec.
    writer = writer.option("compression",
      table.properties.get(CodecProp)
        .orElse(spark.conf.getOption("spark.graft.write.codec"))
        .getOrElse("zstd"))
    // size-capped rolling writer (S15, LakeSoulFileWriter.scala:96-141):
    // files roll at N records; rolled parts sort after each other by path
    // suffix, so per-run pk order is preserved across the splits
    table.properties.get(MaxRecordsPerFileProp).foreach(n =>
      writer = writer.option("maxRecordsPerFile", n.toLong))
    // parquet bloom filters (BloomColumnsProp): the reader side is free —
    // Spark's parquet scan feeds pushed equality predicates to parquet-mr,
    // which consults the bloom before decoding a row group
    table.properties.get(BloomColumnsProp).toSeq
      .flatMap(_.split(',')).map(_.trim).filter(_.nonEmpty).foreach { c =>
        writer = writer.option(s"parquet.bloom.filter.enabled#$c", "true")
        table.properties.get(BloomNdvProp).foreach(n =>
          writer = writer.option(s"parquet.bloom.filter.expected.ndv#$c", n))
      }
    // timestamps as INT64 micros: INT96 (Spark's default) has no usable
    // parquet statistics, which would blind the file-skipping bounds.
    // Both conf swaps go through the REFCOUNTED guard: concurrent
    // writeFiles on one SparkSession (the repo runs concurrent
    // transactions) each set the same session-constant values, and the
    // conf is only restored when the LAST writer leaves — a plain
    // save/set/restore let one writer's finally unset the protocol class
    // mid-plan for another, silently dropping that write to the
    // driver-side stats fallback.
    val tsKey = "spark.sql.parquet.outputTimestampType"
    val protoKey = "spark.sql.sources.commitProtocolClass"
    // taking the stats in the finally (not after it) guarantees the
    // `pending` spec registration is cleared even when the write job
    // fails or aborts — a long-lived driver with repeated failed writes
    // must not accumulate registrations. Both acquires happen INSIDE the
    // try with per-hold flags: if specFor/register/the second acquire
    // throws, only the holds actually taken are released — an unguarded
    // acquire before the try would leak its refcount forever (and a blind
    // release in the finally would steal another writer's hold).
    // AQE is provably INERT for this write when the input plan is
    // exchange-free: the written plan's only exchange is then the
    // fixed-width bucket repartition (user-specified partitioning — AQE
    // neither coalesces nor skew-splits it, and the preMerge aggregate
    // reuses that same partitioning), yet adaptive execution still splits
    // the action into one job per query stage and re-optimizes between
    // them — a measured ~10% stage-barrier tax on a small commit (r16
    // UpsertPhaseProbe: 0.43 s -> 0.38 s per sf0.1 upsert, 2 jobs -> 1).
    // Inputs that plan their own exchanges (joins, aggregates, windows,
    // set ops, plan subqueries) keep AQE: skew/strategy adaptivity there
    // is worth the barrier at any scale. Session-scoped via the
    // refcounted guard; only the value "false" is ever acquired, so
    // concurrent writers can never conflict. (A truly execution-scoped
    // toggle would be better — a concurrent query planned on this session
    // during the write loses AQE for that window — but Spark exposes no
    // public per-execution conf; the refcounted session guard with a
    // single possible value is the safe approximation.)
    val aqeKey = "spark.sql.adaptive.enabled"
    var taskStats = Map.empty[String, String]
    var tsHeld = false
    var protoHeld = false
    var statsRegistered = false
    var aqeHeld = false
    try {
      if (inertInput) {
        SessionConfGuard.acquire(spark, aqeKey, "false")
        aqeHeld = true
      }
      SessionConfGuard.acquire(spark, tsKey, "TIMESTAMP_MICROS")
      tsHeld = true
      // min/max stats are read inside the WRITE TASKS at task commit
      // (footer page-cache hot on the writing executor, zero driver IO) —
      // the commit protocol ships them back in the task commit messages
      FileStatsCollector.specFor(table, df.schema).foreach { sp =>
        StatsCommitProtocol.register(commitDir.getAbsolutePath, sp)
        statsRegistered = true
        SessionConfGuard.acquire(spark, protoKey, classOf[StatsCommitProtocol].getName)
        protoHeld = true
      }
      (if (partDirCols.nonEmpty) writer.partitionBy(partDirCols: _*) else writer)
        .parquet(commitDir.getAbsolutePath)
    } finally {
      if (aqeHeld) SessionConfGuard.release(spark, aqeKey)
      if (tsHeld) SessionConfGuard.release(spark, tsKey)
      if (protoHeld) SessionConfGuard.release(spark, protoKey)
      if (statsRegistered) taskStats = StatsCommitProtocol.take(commitDir.getAbsolutePath)
    }

    postWriteHook()
    val listed = listCommitFiles(commitDir.toPath, table, existCols,
      flatBuckets).map {
      case (desc, f) =>
        // task stats are keyed by output-relative path (partition dirs +
        // file name) — bare names collide across a task's partition dirs
        val rel = commitDir.toPath.relativize(java.nio.file.Paths.get(f.path))
          .iterator().asScala.mkString("/")
        (desc, f.copy(stats = taskStats.getOrElse(rel, "")))
    }
    // fallback only: any file the tasks didn't cover reads its footer here
    val attached = FileStatsCollector.attach(spark, table, df.schema, listed)
    // flat-bucket commits: FileFormatWriter's single-directory writer
    // creates a file even for an EMPTY partition (the dynamic-partition
    // writer created files lazily per partition value) — a small upsert
    // touching k of N buckets would otherwise accrete N-k zero-row files
    // per commit in the meta and on disk. Drop them, footer-exactly: a
    // file with non-empty stats has rows (readFileStats yields "" on zero
    // row groups), so only stats-less files pay a driver row-count read
    // (~1 ms each, page-cache hot, bounded by bucketNum); an unreadable
    // footer keeps the file (dropping is the optimization).
    val files =
      if (!flatBuckets) attached
      else attached.filter { case (_, f) =>
        f.stats.nonEmpty || {
          val rows = FileStatsCollector.rowCount(f.path,
            spark.sparkContext.hadoopConfiguration)
          val empty = rows == 0L
          if (empty) { try Files.delete(java.nio.file.Paths.get(f.path))
            catch { case _: Exception => () } }
          !empty
        }
      }
    // One DataCommitInfo per touched range partition (TransactionCommit.scala:268-376).
    files.groupBy(_._1).map { case (desc, fs) =>
      DataCommitInfo(if (desc == TableInfo.RootPartition) commitId
        else s"$commitId-${math.abs(desc.hashCode)}",
        desc, fs.map(_._2), commitOp, 0L)
    }.toSeq
  }

  /** Task-index prefix of a FileFormatWriter output name
    * (`part-NNNNN-<jobUUID>[...].parquet`) — under the flat-bucket write
    * the task index IS the bucket id. */
  private val FlatPartName = "^part-(\\d+)-".r

  /** Recursively list the parquet files of a commit dir, parsing the range
    * partition desc and bucket id from the directory path (or, for
    * flat-bucket commits, from the part-NNNNN task index in the name). */
  private def listCommitFiles(
      dir: Path,
      table: TableInfo,
      existCols: String,
      flatBuckets: Boolean = false): Seq[(String, DataFileInfo)] = {
    if (!Files.exists(dir)) return Nil
    val files = Files.walk(dir).iterator().asScala
      .filter(p => Files.isRegularFile(p))
      .filter(p => p.getFileName.toString.endsWith(".parquet"))
      .toSeq
    files.map { p =>
      val segs = dir.relativize(p).iterator().asScala.map(_.toString).toSeq
      var bucket =
        if (flatBuckets)
          FlatPartName.findFirstMatchIn(p.getFileName.toString)
            .map(_.group(1).toInt).getOrElse(-1)
        else -1
      val rangeVals = scala.collection.mutable.LinkedHashMap[String, String]()
      segs.dropRight(1).foreach { seg =>
        val eq = seg.indexOf('=')
        if (eq > 0) {
          val (k, v) = (seg.substring(0, eq), unescapePathName(seg.substring(eq + 1)))
          if (k == BucketCol) bucket = v.toInt
          else if (k.startsWith(RangePrefix)) rangeVals(k.stripPrefix(RangePrefix)) = v
        }
      }
      val desc =
        if (table.rangeColumns.isEmpty) TableInfo.RootPartition
        else table.rangeColumns.map(c => s"$c=${rangeVals.getOrElse(c, NullSentinel)}")
          .mkString(",")
      (desc, DataFileInfo(p.toAbsolutePath.toString, "add", Files.size(p), bucket, existCols))
    }
  }

  /** Inverse of Spark's PartitioningUtils.escapePathName (%XX encoding). */
  def unescapePathName(s: String): String = {
    if (!s.contains('%')) return s
    val sb = new StringBuilder
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '%' && i + 2 < s.length) {
        try {
          sb.append(Integer.parseInt(s.substring(i + 1, i + 3), 16).toChar); i += 3
        } catch { case _: NumberFormatException => sb.append(c); i += 1 }
      } else { sb.append(c); i += 1 }
    }
    sb.toString
  }
}
