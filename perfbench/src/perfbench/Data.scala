package perfbench

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** One logical change the writer applied, in commit order. Compactions are
  * not events: they must not change the table's contents. */
sealed trait Event
final case class Upsert(batch: Int) extends Event
final case class Delete(keys: Array[Long]) extends Event

/** count(*), sum(o_custkey), sum(price in cents), sum of a 31-bit row hash
  * over every column: equal tuples mean equal row multisets with
  * overwhelming probability. */
final case class Agg(rows: Long, cust: Long, cents: Long, hash: Long)

object Agg {
  val Zero: Agg = Agg(0, 0, 0, 0)
  def of(r: Row): Agg = Agg(r.getLong(0),
    if (r.isNullAt(1)) 0L else r.getLong(1),
    if (r.isNullAt(2)) 0L else r.getLong(2),
    if (r.isNullAt(3)) 0L else r.getLong(3))
}

/** Seeded `orders`-shaped inputs. The base table has [[Data.BaseRows]] keys
  * 0 until BaseRows; upsert batch b updates 80% existing keys (a stride walk
  * from a seeded start, distinct within the batch) and inserts 20% new keys
  * at a per-batch key offset. Every column value is a hash of
  * (seed, key, batch), so each version of a row differs. */
object Data {
  val BaseRows = 150000L
  val Buckets = 8
  private val Stride = 7919L // prime, coprime with BaseRows: the walk never repeats a key
  val Columns: Seq[String] = Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
    "o_orderdate", "o_orderpriority", "o_clerk", "o_shippriority", "o_comment")
  private val Priorities = Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

  private def rowCols(seed: Long, key: Column, ver: Column): Seq[Column] = {
    def h(i: Int) = xxhash64(lit(seed), key, ver, lit(i))
    def pick(xs: Seq[String], i: Int) =
      element_at(array(xs.map(lit): _*), (pmod(h(i), lit(xs.size.toLong)) + 1).cast("int"))
    Seq(key.as("o_orderkey"),
      (pmod(h(1), lit(15000L)) + 1).as("o_custkey"),
      pick(Seq("F", "O", "P"), 2).as("o_orderstatus"),
      round(pmod(h(3), lit(50000000L)) / 100.0 + 850.0, 2).as("o_totalprice"),
      date_add(to_date(lit("1992-01-01")), pmod(h(4), lit(2400L)).cast("int")).as("o_orderdate"),
      pick(Priorities, 5).as("o_orderpriority"),
      concat(lit("Clerk#"), lpad((pmod(h(6), lit(1000L)) + 1).cast("string"), 9, "0")).as("o_clerk"),
      lit(0).as("o_shippriority"),
      concat(hex(h(7)), lit(" "), hex(h(8))).as("o_comment"))
  }

  /** The aggregate every scan, incremental read and model check computes. */
  val aggCols: Seq[Column] = Seq(
    count(lit(1)).as("rows"),
    sum(col("o_custkey")).as("cust"),
    sum(round(col("o_totalprice") * 100, 0).cast("long")).as("cents"),
    sum(pmod(xxhash64(Columns.map(col): _*), lit(2147483647L))).as("hash"))

  def agg(df: DataFrame): Agg = Agg.of(df.agg(aggCols.head, aggCols.tail: _*).collect().head)

  /** Writes the base table and `batches` upsert batches of `batchRows` rows
    * as parquet under `dir`; returns each batch's parquet bytes. */
  def generate(spark: SparkSession, seed: Long, dir: String, batches: Int,
      batchRows: Long): Map[Int, Long] = {
    spark.range(0, BaseRows, 1, 4).select(rowCols(seed, col("id"), lit(0L)): _*)
      .write.parquet(s"$dir/base")
    val existing = batchRows * 4 / 5
    val fresh = batchRows - existing
    val b = (col("id") / batchRows).cast("long") + 1
    val j = pmod(col("id"), lit(batchRows))
    val start = pmod(xxhash64(lit(seed), b), lit(BaseRows))
    val key = when(j < existing, pmod(start + j * Stride, lit(BaseRows)))
      .otherwise(lit(BaseRows) + (b - 1) * fresh + (j - existing))
    spark.range(0, batches * batchRows, 1, 4)
      .select(b.as("b") +: rowCols(seed, key, b): _*)
      .write.partitionBy("b").parquet(s"$dir/batches")
    (1 to batches).map { i =>
      val files = Option(new java.io.File(s"$dir/batches/b=$i").listFiles()).getOrElse(Array.empty)
      i -> files.filter(_.getName.endsWith(".parquet")).map(_.length).sum
    }.toMap
  }

  def base(spark: SparkSession, dir: String): DataFrame = spark.read.parquet(s"$dir/base")

  /** A fresh DataFrame over batch `b`'s source files, as a feed delivers it. */
  def batch(spark: SparkSession, dir: String, b: Int, schema: StructType): DataFrame =
    spark.read.schema(schema).parquet(s"$dir/batches/b=$b")
}

/** Independent correctness model: last-writer-wins plus deletes over the
  * same generated inputs, computed with plain Spark straight from the
  * source parquet files (never through the table format). */
final class Model(spark: SparkSession, dir: String, events: IndexedSeq[Event]) {
  import spark.implicits._

  private val nEvents = events.size

  /** Every upserted row and every delete, tagged with its event sequence
    * number (base rows are 0, event i is i + 1). */
  private lazy val history: DataFrame = {
    val ups = events.zipWithIndex.collect { case (Upsert(b), i) => (b, i + 1) }
    val dels = events.zipWithIndex.flatMap {
      case (Delete(keys), i) => keys.map(k => (k, i + 1))
      case _ => Nil
    }
    val base = Data.base(spark, dir).withColumn("_seq", lit(0)).withColumn("_del", lit(false))
    val batches = spark.read.parquet(s"$dir/batches")
      .join(broadcast(ups.toDF("b", "_seq")), "b").drop("b").withColumn("_del", lit(false))
    val deletes = dels.toDF("o_orderkey", "_seq").withColumn("_del", lit(true))
    base.unionByName(batches).unionByName(deletes, allowMissingColumns = true)
  }

  /** [[Agg]] of the contents after every prefix 0..nEvents, in one job: a
    * row version contributes from its event until the key's next event. */
  lazy val prefixAggs: IndexedSeq[Agg] = {
    val w = Window.partitionBy("o_orderkey").orderBy("_seq")
    val live = history
      .select(col("o_orderkey"), col("_seq"), col("_del"), col("o_custkey").as("c"),
        round(col("o_totalprice") * 100, 0).cast("long").as("p"),
        pmod(xxhash64(Data.Columns.map(col): _*), lit(2147483647L)).as("h"))
      .withColumn("_next", coalesce(lead("_seq", 1).over(w), lit(nEvents + 1)))
      .filter(!col("_del"))
    val deltas = live
      .select(explode(array(
        struct(col("_seq").as("at"), lit(1L).as("n"), col("c"), col("p"), col("h")),
        struct(col("_next").as("at"), lit(-1L).as("n"),
          (-col("c")).as("c"), (-col("p")).as("p"), (-col("h")).as("h")))).as("d"))
      .groupBy("d.at").agg(sum("d.n"), sum("d.c"), sum("d.p"), sum("d.h")).collect()
      .map(r => r.getInt(0) -> Agg(r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    (0 to nEvents).scanLeft(Agg.Zero) { (acc, k) =>
      deltas.get(k).fold(acc)(d => Agg(acc.rows + d.rows, acc.cust + d.cust, acc.cents + d.cents, acc.hash + d.hash))
    }.tail
  }

  /** Rows of `keys` after the first `k` events. */
  def rowsAt(k: Int, keys: Seq[Long]): Map[Long, Row] = {
    val w = Window.partitionBy("o_orderkey").orderBy(col("_seq").desc)
    history.filter(col("o_orderkey").isin(keys: _*) && col("_seq") <= k)
      .withColumn("_rn", row_number().over(w))
      .filter(col("_rn") === 1 && !col("_del")).select(Data.Columns.map(col): _*)
      .collect().map(r => r.getLong(0) -> r).toMap
  }

  /** Expected [[Agg]] of each incremental window (event index ranges
    * `(from, to]`): empty when the window holds a delete (a tombstone run
    * aborts incremental delivery), else the last-writer-wins merge of the
    * window's upsert batches. */
  def windowAggs(windows: IndexedSeq[(Int, Int)]): IndexedSeq[Agg] = {
    val tagged = windows.zipWithIndex.flatMap { case ((from, to), wi) =>
      val evs = (from until to).map(i => (events(i), i + 1))
      if (evs.exists(_._1.isInstanceOf[Delete])) Nil
      else evs.collect { case (Upsert(b), seq) => (b, seq, wi) }
    }
    val got = if (tagged.isEmpty) Map.empty[Int, Agg] else {
      val w = Window.partitionBy("_w", "o_orderkey").orderBy(col("_seq").desc)
      spark.read.parquet(s"$dir/batches").join(broadcast(tagged.toDF("b", "_seq", "_w")), "b")
        .withColumn("_rn", row_number().over(w)).filter(col("_rn") === 1)
        .groupBy("_w").agg(Data.aggCols.head, Data.aggCols.tail: _*).collect()
        .map(r => r.getInt(0) -> Agg(r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    }
    windows.indices.map(i => got.getOrElse(i, Agg.Zero))
  }
}
