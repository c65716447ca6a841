package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.functions.GraftFunctions
import graft.tables.GraftTable

/** Persisted incremental near-duplicate index — the production shape of
  * corpus-scale MinHash-LSH dedup: at 100 TB you cannot re-signature the
  * whole corpus for every incoming batch, so the banded signatures live in
  * a SIDECAR graft table (same pattern as [[VectorIndex]]) that grows by
  * delta upsert. Checking a new batch then costs
  *
  *   sign(batch) + join(batch bands -> index) + verify(candidates)
  *
  * — proportional to the BATCH, never the corpus: corpus text is
  * re-tokenized only for the candidate docs the band join surfaces.
  *
  * Layout: one row per (band, bh, doc) under range partition `band` and
  * primary key (bh, doc_id) — the effective write-dedup key is
  * (range ++ pk) = (band, bh, doc_id), so re-adding a doc is idempotent
  * per band. Sort-on-write orders each rolled file by (bh, doc_id),
  * giving the per-file zone maps tight `bh` bounds: a batch check pushes
  * the batch's bh key set into the index scan as an In filter, and
  * [[graft.read.StatsSkipping]] drops every index file whose bh range
  * holds no key before any task launches — the check's IO tracks the
  * batch, not the corpus. A doc
  * whose TEXT changes gets fresh bh rows while stale ones remain (bh is
  * in the PK) — delete the old id first, or rebuild, same contract as
  * [[VectorIndex.append]] under a cell hop.
  */
class NearDupIndex private (
    spark: SparkSession,
    table: GraftTable,
    val numHashes: Int,
    val bands: Int) {

  /** Add (or re-add) documents: sign, band, delta-upsert. One pass over
    * the batch; the corpus is not read. */
  def add(df: DataFrame, idCol: String, textCol: String): Unit =
    table.upsert(
      Dedup.bandedSignatures(df, idCol, textCol, numHashes, bands)
        .select(col("_g_band").as("band"), col("_g_bh").as("bh"),
          col("_g_id").as("doc_id")))

  /** Remove documents by id — DELETION MAINTENANCE: every (band, bh,
    * doc_id) signature row of the given docs is killed with a TOMBSTONE
    * run (O(removed) bytes written, nothing rewritten), so re-adding a
    * CHANGED text no longer leaves stale bands behind — the mutable-doc
    * contract documented on the class: `remove(ids); add(newTexts)`. */
  def remove(ids: DataFrame): Unit = {
    val keyed = ids.toDF("_g_rm")
    val matched = table.toDF
      .join(broadcast(keyed), col("doc_id") === col("_g_rm"), "left_semi")
    table.applyChanges(matched.withColumn("_change_type", lit("delete")))
  }

  def remove(ids: Seq[Long]): Unit = {
    import spark.implicits._
    remove(ids.toDF("_g_rm"))
  }

  /** Candidate (id_corpus, id_new) pairs for a new batch: the batch's
    * banded signatures (small) broadcast-join the persisted index on
    * (band, bh). Degenerate LSH buckets — the classic skew hazard — are
    * dropped on the INDEX side at `maxBucket` occupants, counted only
    * over the buckets this batch actually touches. Batch ids must be
    * disjoint from indexed ids (pairs where the two coincide are
    * filtered, so re-checking an already-indexed batch is safe). */
  def candidates(
      batch: DataFrame, idCol: String, textCol: String,
      maxBucket: Int = 1000): DataFrame = {
    val bb = Dedup.bandedSignatures(batch, idCol, textCol, numHashes, bands)
      .select(col("_g_band").as("band"), col("_g_bh").as("bh"),
        col("_g_id").as("_g_new"))
      // the band-hash key set is consumed twice (scan pushdown + join) and
      // is batch-sized — materialize once
      .localCheckpoint()
    // push the batch's bh key set into the index scan: files are sorted by
    // bh (PK prefix) and rolled, so the zone maps prune the index read down
    // to the files containing matching hash ranges — the check's IO tracks
    // the BATCH, not the corpus. Key collection is batch-proportional
    // (<= bands per doc); very large batches skip the pushdown and fall
    // back to the full-scan join.
    val keys = bb.select("bh").distinct().limit(NearDupIndex.MaxPushdownKeys + 1)
      .collect().map(_.getLong(0))
    val corpusSide =
      if (keys.length <= NearDupIndex.MaxPushdownKeys)
        table.toDF.filter(col("bh").isin(keys.toSeq: _*))
      else table.toDF
    val hits = corpusSide
      .join(broadcast(bb), Seq("band", "bh"))
      .filter(col("doc_id") =!= col("_g_new"))
    // per-(band, bh) occupancy over the touched buckets only — a window
    // over the join output, not a second corpus scan
    val byBucket = org.apache.spark.sql.expressions.Window
      .partitionBy("band", "bh", "_g_new")
    hits
      .withColumn("_g_n", count(lit(1)).over(byBucket))
      .filter(col("_g_n") <= maxBucket)
      .select(col("doc_id").as("id_corpus"), col("_g_new").as("id_new"))
      .distinct()
  }

  /** Verified near-dup pairs (id_a = corpus doc, id_b = new doc, jaccard)
    * at `threshold`: candidates from the band join, exact word-3-shingle
    * Jaccard on candidate texts only. `corpusText` supplies (idCol,
    * textCol) for indexed docs — usually the corpus table itself; only
    * candidate rows are shingled (semi-join inside the verify). */
  def check(
      batch: DataFrame, idCol: String, textCol: String,
      corpusText: DataFrame, threshold: Double = 0.8,
      maxBucket: Int = 1000): DataFrame = {
    val cand = candidates(batch, idCol, textCol, maxBucket)
      .select(col("id_corpus").as("id_a"), col("id_new").as("id_b"))
    val texts = corpusText.select(col(idCol), col(textCol))
      .unionByName(batch.select(col(idCol), col(textCol)))
    Dedup.jaccardVerify(cand, texts, idCol, textCol)
      .filter(col("jaccard") >= threshold)
  }
}

object NearDupIndex {

  /** Cap on the bh IN-list pushed into the index scan (8-byte keys; above
    * this the driver-side per-file In evaluation outweighs the file
    * pruning — the check falls back to the full-scan join). */
  val MaxPushdownKeys = 8192

  private def props(numHashes: Int, bands: Int) = Map(
    "graft.neardup.numHashes" -> numHashes.toString,
    "graft.neardup.bands" -> bands.toString,
    // roll index files so each covers a narrow sorted bh range — the unit
    // of zone-map pruning for the check's IN-probe
    graft.write.TransactionalWrite.MaxRecordsPerFileProp -> "262144")

  /** Create an empty index table at `path` (range-partitioned by band,
    * PK (bh, doc_id), files sorted by bh for zone-map pruning). */
  def create(
      spark: SparkSession,
      path: String,
      numHashes: Int = 32,
      bands: Int = 8,
      bucketNum: Int = 4): NearDupIndex = {
    GraftFunctions.register(spark)
    val schema = StructType(Seq(
      StructField("band", IntegerType, nullable = false),
      StructField("bh", LongType, nullable = false),
      StructField("doc_id", LongType, nullable = false)))
    val t = GraftTable.createEmpty(spark, schema, path,
      rangeColumns = Seq("band"), hashColumns = Seq("bh", "doc_id"),
      bucketNum = bucketNum, properties = props(numHashes, bands))
    new NearDupIndex(spark, t, numHashes, bands)
  }

  /** Open an existing index, restoring its banding parameters from table
    * properties. */
  def forPath(spark: SparkSession, path: String): NearDupIndex = {
    GraftFunctions.register(spark)
    val t = GraftTable.forPath(spark, path)
    val p = t.info.properties
    new NearDupIndex(spark, t,
      p.getOrElse("graft.neardup.numHashes", "32").toInt,
      p.getOrElse("graft.neardup.bands", "8").toInt)
  }
}
