package graft.util

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.sources._

/** Shared source-Filter helpers for the DSv2 scan builder, the DSv1
  * fallback relation and the catalog's write path. */
object Filters {

  /** Best-effort Filter -> Column translation. Untranslatable filters map to
    * None; callers treat every filter as residual anyway (Spark re-applies
    * above the scan), so this is purely an optimization channel. */
  def toColumn(f: Filter): Option[Column] = f match {
    case EqualTo(a, v) => Some(col(a) === lit(v))
    case EqualNullSafe(a, v) => Some(col(a) <=> lit(v))
    case GreaterThan(a, v) => Some(col(a) > lit(v))
    case GreaterThanOrEqual(a, v) => Some(col(a) >= lit(v))
    case LessThan(a, v) => Some(col(a) < lit(v))
    case LessThanOrEqual(a, v) => Some(col(a) <= lit(v))
    case In(a, vs) => Some(col(a).isin(vs.toIndexedSeq: _*))
    case IsNull(a) => Some(col(a).isNull)
    case IsNotNull(a) => Some(col(a).isNotNull)
    case And(l, r) => for { lc <- toColumn(l); rc <- toColumn(r) } yield lc && rc
    case Or(l, r) => for { lc <- toColumn(l); rc <- toColumn(r) } yield lc || rc
    case Not(c) => toColumn(c).map(!_)
    case StringStartsWith(a, v) => Some(col(a).startsWith(v))
    case StringEndsWith(a, v) => Some(col(a).endsWith(v))
    case StringContains(a, v) => Some(col(a).contains(v))
    case _ => None
  }

  private def descValue(v: Any): String = {
    val s = String.valueOf(v)
    if (v == null) graft.write.TransactionalWrite.NullSentinel
    else if (s.isEmpty) graft.write.TransactionalWrite.EmptySentinel else s
  }

  /** Range-column admissible VALUE SETS from equality, IN and null
    * conjuncts, with the write side's null/empty sentinels applied
    * (multiple conjuncts on one column intersect; an empty set = provably
    * no partition matches). */
  def rangeValueSets(filters: Seq[Filter], rangeColumns: Seq[String])
    : Map[String, Set[String]] = {
    val per = filters.collect {
      case EqualTo(a, v) if rangeColumns.contains(a) => a -> Set(descValue(v))
      case In(a, vs) if rangeColumns.contains(a) => a -> vs.map(descValue).toSet
      // the writer encodes a null partition value as the null sentinel, so
      // IS NULL / null-safe equality pin the desc exactly like equality
      case IsNull(a) if rangeColumns.contains(a) =>
        a -> Set(graft.write.TransactionalWrite.NullSentinel)
      case EqualNullSafe(a, v) if rangeColumns.contains(a) => a -> Set(descValue(v))
    }
    per.groupBy(_._1).map { case (c, sets) => c -> sets.map(_._2).reduce(_ intersect _) }
  }

  /** Partition-desc predicate from admissible value sets. */
  def partitionPredSets(sets: Map[String, Set[String]]): String => Boolean =
    if (sets.isEmpty) _ => true
    else desc => {
      val kv = desc.split(",").map { s =>
        val i = s.indexOf('='); s.substring(0, i) -> s.substring(i + 1)
      }.toMap
      sets.forall { case (c, vs) => kv.get(c).exists(vs.contains) }
    }

  /** Desc-level refinement from ORDERING conjuncts on STRING range columns
    * (`dt >= '2026-01-01' AND dt < '2026-02-01'`, `dt LIKE '2026-01%'` — the
    * canonical time-partitioned scan). Unsigned UTF-8 byte comparison is
    * exactly Spark's UTF8String binary ordering, so the desc-string compare
    * agrees with the row-level compare; non-string range columns are skipped
    * (their literal renderings don't order like their values). A NULL
    * partition never satisfies an ordering conjunct (SQL three-valued
    * logic). Purely an optimization: every filter stays residual, so an
    * over-broad pred costs IO, an under-broad one is impossible by the
    * byte-order argument. */
  def rangeOrderingPred(
      filters: Seq[Filter],
      rangeColumns: Seq[String],
      isStringCol: String => Boolean): String => Boolean = {
    def cmp(a: String, b: String): Int = java.util.Arrays.compareUnsigned(
      a.getBytes(java.nio.charset.StandardCharsets.UTF_8),
      b.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    def lit(v: Any): Option[String] = v match {
      case s: String => Some(s)
      case u: org.apache.spark.unsafe.types.UTF8String => Some(u.toString)
      case _ => None
    }
    val checks: Seq[(String, String => Boolean)] = filters.flatMap {
      case GreaterThan(a, v) if rangeColumns.contains(a) && isStringCol(a) =>
        lit(v).map(s => a -> ((x: String) => cmp(x, s) > 0))
      case GreaterThanOrEqual(a, v) if rangeColumns.contains(a) && isStringCol(a) =>
        lit(v).map(s => a -> ((x: String) => cmp(x, s) >= 0))
      case LessThan(a, v) if rangeColumns.contains(a) && isStringCol(a) =>
        lit(v).map(s => a -> ((x: String) => cmp(x, s) < 0))
      case LessThanOrEqual(a, v) if rangeColumns.contains(a) && isStringCol(a) =>
        lit(v).map(s => a -> ((x: String) => cmp(x, s) <= 0))
      case StringStartsWith(a, v) if rangeColumns.contains(a) && isStringCol(a) =>
        Some(a -> ((x: String) => x.startsWith(v)))
      case _ => None
    }
    if (checks.isEmpty) _ => true
    else desc => {
      val kv = desc.split(",").map { s =>
        val i = s.indexOf('='); s.substring(0, i) -> s.substring(i + 1)
      }.toMap
      checks.forall { case (c, f) =>
        kv.get(c).exists(raw =>
          raw != graft.write.TransactionalWrite.NullSentinel &&
            f(if (raw == graft.write.TransactionalWrite.EmptySentinel) "" else raw))
      }
    }
  }

  /** The partition pruning of one read, from its pushed filters and the
    * `partitiondesc` read option: the desc predicate, and the descs to
    * resolve by META POINT LOOKUP when they are fully determined (every
    * range column pinned to a bounded value set, or the option) — never a
    * full head listing then (F4 at 100k+ partitions). Ordering conjuncts
    * on STRING range columns prune at the desc level too (`dt >= .. AND
    * dt < ..` over a time-partitioned table), and can exclude a pinned
    * desc. */
  def partitionPruning(
      filters: Seq[Filter],
      rangeColumns: Seq[String],
      schema: org.apache.spark.sql.types.StructType,
      partitionDesc: Option[String]): (String => Boolean, Option[Seq[String]]) = {
    val rangeSets = rangeValueSets(filters, rangeColumns)
    val isStr = (c: String) => schema.fields.find(_.name == c)
      .exists(_.dataType == org.apache.spark.sql.types.StringType)
    val setPred = partitionPredSets(rangeSets)
    val ordPred = rangeOrderingPred(filters, rangeColumns, isStr)
    val pred = (d: String) => setPred(d) && ordPred(d)
    partitionDesc match {
      case Some(desc) => ((d: String) => d == desc && pred(d), Some(Seq(desc).filter(pred)))
      case None => (pred, exactDescs(rangeSets, rangeColumns).map(_.filter(ordPred)))
    }
  }

  /** When every range column is pinned to a bounded value set, the matching
    * partition descs are fully determined: their cartesian product (in the
    * table's range-column order, the desc encoding). None when unpinned or
    * the product exceeds `maxDescs` (then predicate pruning applies). */
  def exactDescs(
      sets: Map[String, Set[String]],
      rangeColumns: Seq[String],
      maxDescs: Int = 64): Option[Seq[String]] = {
    if (rangeColumns.isEmpty || !rangeColumns.forall(sets.contains)) return None
    val sizes = rangeColumns.map(c => sets(c).size.toLong)
    if (sizes.product > maxDescs) return None
    rangeColumns.foldLeft(Option(Seq(""))) { (acc, c) =>
      acc.map(prefixes => for {
        p <- prefixes
        v <- sets(c).toSeq.sorted
      } yield if (p.isEmpty) s"$c=$v" else s"$p,$c=$v")
    }
  }
}
