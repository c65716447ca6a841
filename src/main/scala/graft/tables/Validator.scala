package graft.tables

import org.apache.spark.paths.SparkPath
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.BoundReference
import org.apache.spark.sql.execution.datasources.PartitionedFile
import org.apache.spark.sql.types._

import graft.meta.{FileStats, ResolvedFile, TableInfo, Tombstone}
import graft.read.{BucketMergeRead, RowComp}

/** Table consistency checker (fsck; beyond-ref ops tooling): verifies the
  * format invariants every reader relies on, returning human-readable
  * violations (empty = healthy).
  *
  * Driver-side (metadata vs filesystem):
  *  - every live file exists with exactly the recorded size;
  *
  * Distributed (one task per (partition, bucket, run) — the same unit the
  * merge reads, so validation IO parallelizes like a scan):
  *  - rows within a run are sorted by (range, pk) across the file concat
  *    order (the k-way merge's correctness precondition);
  *  - primary keys are UNIQUE within a run (the dedup-on-write contract);
  *  - every row's murmur3 bucket equals the file's bucket id (bucket
  *    pruning / SPJ placement);
  *  - the footer row count recorded in commit stats matches actual rows;
  *  - tombstone runs carry ONLY key values (non-key columns all null).
  */
object Validator {

  def validate(t: GraftTable, maxIssues: Int = 100): Seq[String] = {
    val spark = t.spark
    val info = t.info
    val schema = t.schema
    val files = t.liveFiles
    val issues = scala.collection.mutable.ArrayBuffer[String]()

    // 1. metadata vs filesystem
    files.foreach { f =>
      val p = java.nio.file.Paths.get(f.file.path)
      if (!java.nio.file.Files.exists(p))
        issues += s"missing data file: ${f.file.path}"
      else if (java.nio.file.Files.size(p) != f.file.size)
        issues += s"size drift: ${f.file.path} meta=${f.file.size} " +
          s"fs=${java.nio.file.Files.size(p)}"
    }
    if (files.isEmpty || issues.size >= maxIssues)
      return issues.take(maxIssues).toSeq

    // 2. distributed per-run checks
    val reader = org.apache.spark.sql.graft.StreamShim
      .parquetReadFunction(spark, schema)
    val keyIdx = (info.rangeColumns ++ info.hashColumns)
      .map(schema.fieldIndex).toArray
    val keyTypes = keyIdx.map(schema.fields(_).dataType)
    val pkIdx = info.hashColumns.map(schema.fieldIndex).toArray
    val pkTypes = pkIdx.map(schema.fields(_).dataType)
    val keySet = (info.rangeColumns ++ info.hashColumns).toSet
    val valueIdx = schema.fields.zipWithIndex
      .collect { case (f, i) if !keySet.contains(f.name) => i }
    val bucketNum = info.bucketNum
    val hasPk = info.hasPrimaryKey

    // bucket-PLACEMENT must be checked against the count a file's rows
    // were actually hashed under — mid/crashed re-bucket (open marker) the
    // snapshot legally mixes mappings, and checking every row against
    // info.bucketNum would flag correct old-mapping files. Epoch replay
    // (RebucketLog.epochsOf) assigns each file its mapping; an ambiguous
    // set skips the placement check (order/duplicate/tombstone checks are
    // mapping-agnostic and always run).
    val epochCountOf: Map[String, Int] =
      graft.meta.RebucketLog.epochsOf(info.properties, bucketNum, files) match {
        case Some(es) =>
          es.flatMap { case (n, fs) => fs.map(_.file.path -> n) }.toMap
        case None => Map.empty
      }

    // one spec per (partition, bucket, run): files in the merge's concat
    // order + the run's tombstone flag + expected footer row count
    val runOrd = graft.util.DescOrder.runFileOrdering(info, schema)
    case class RunSpec(desc: String, bucket: Int, ordinal: Int,
        files: Seq[(String, Long, Option[Long])], tomb: Boolean,
        mapN: Int) // bucket count the run's rows were hashed under; 0 = unknown
    val specs = files
      .groupBy(f => (f.partitionDesc, f.file.bucketId, f.commitOrdinal))
      .toSeq.map { case ((desc, b, ord), fs) =>
        RunSpec(desc, b, ord,
          fs.sortBy(f => (f.partitionDesc, f.file.path))(runOrd).map { f =>
            (f.file.path, f.file.size,
              FileStats.rowCount(FileStats.decode(f.file.stats)))
          },
          Tombstone.isTombstone(fs.head.file),
          epochCountOf.getOrElse(fs.head.file.path, 0))
      }

    val found = spark.sparkContext
      .parallelize(specs, math.max(1, math.min(specs.size, 256)))
      .mapPartitions { specs =>
        val readFn = reader.forTask()
        specs.flatMap { spec =>
          val out = scala.collection.mutable.ArrayBuffer[String]()
          val keyComps = RowComp.makeComps(keyIdx, keyTypes)
          val bucketOf =
            if (hasPk && spec.bucket >= 0 && spec.mapN > 0)
              Some(graft.write.TransactionalWrite.bucketExpr(
                pkIdx.zip(pkTypes).map { case (i, dt) =>
                  BoundReference(i, dt, nullable = true)
                }.toSeq, spec.mapN))
            else None
          var prev: InternalRow = null
          spec.files.foreach { case (path, size, expectRows) =>
            var n = 0L
            try {
            val it = BucketMergeRead.flattenRows(readFn(
              PartitionedFile(InternalRow.empty,
                SparkPath.fromPathString(path), 0L, size)))
            while (it.hasNext && out.size < 16) {
              val row = it.next()
              n += 1
              if (prev != null) {
                val c = RowComp.compare(keyComps, prev, row)
                if (c > 0)
                  out += s"run (${spec.desc}, b${spec.bucket}, r${spec.ordinal}): " +
                    s"rows out of (range, pk) order in $path"
                else if (hasPk && c == 0)
                  out += s"run (${spec.desc}, b${spec.bucket}, r${spec.ordinal}): " +
                    s"duplicate primary key within the run in $path"
              }
              bucketOf.foreach { e =>
                val b = e.eval(row).asInstanceOf[Int]
                if (b != spec.bucket)
                  out += s"run (${spec.desc}, b${spec.bucket}, r${spec.ordinal}): " +
                    s"row hashes to bucket $b but lives in ${spec.bucket} ($path)"
              }
              if (spec.tomb) {
                var bad = false
                var i = 0
                while (i < valueIdx.length && !bad) {
                  if (!row.isNullAt(valueIdx(i))) bad = true
                  i += 1
                }
                if (bad)
                  out += s"run (${spec.desc}, b${spec.bucket}, r${spec.ordinal}): " +
                    s"tombstone row carries a non-null value column ($path)"
              }
              // the reader reuses row buffers; keep a stable copy for the
              // next comparison
              prev = row.copy()
            }
            expectRows.foreach { exp =>
              if (out.size < 16 && it.isEmpty && n != exp)
                out += s"run (${spec.desc}, b${spec.bucket}, r${spec.ordinal}): " +
                  s"footer row count $exp but read $n rows ($path)"
            }
            } catch {
              // a file that cannot be decoded (corruption, checksum failure,
              // truncation) IS a violation — report it, don't fail the check.
              // Reset the order cursor: `prev` still holds the failed file's
              // last row, which would spuriously flag the NEXT file as
              // out-of-order or duplicate-PK (its footer count was already
              // consumed above, so no stale count check fires either).
              case e: Exception =>
                prev = null
                out += s"run (${spec.desc}, b${spec.bucket}, r${spec.ordinal}): " +
                  s"unreadable file $path: ${e.getClass.getSimpleName}: " +
                  String.valueOf(e.getMessage).take(120)
            }
          }
          out.toSeq
        }
      }
      .take(maxIssues - issues.size)
    (issues ++ found).take(maxIssues).toSeq
  }
}
