package graft.table

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{And, EqualTo, Expression, GreaterThan, GreaterThanOrEqual, In, LessThan, LessThanOrEqual, Literal}
import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedFunction}

/** Driver-side manifest pruning: decide the file list from per-file
  * partition values and column min/max stats BEFORE any Spark job runs —
  * the graft analog of Iceberg's manifest evaluator. At 100 TB this is the
  * difference between launching tasks for 100k files and for the ~hundreds
  * that can match.
  *
  * Conservative by construction: anything unrecognized (complex predicate,
  * missing stats, unknown encoding) keeps the file. The same filter is also
  * applied to the DataFrame, so pruning can only skip work, never change
  * results.
  */
object Pruning {

  /** simple predicate: field op literal(s); op ∈ = < <= > >= in */
  final case class Pred(field: String, op: String, values: Seq[Any])

  /** Extract simple AND-ed predicates from a filter string. */
  def extract(filter: String, spark: SparkSession): Seq[Pred] =
    extractExpr(spark.sessionState.sqlParser.parseExpression(filter))

  /** Extract simple AND-ed predicates from an UNRESOLVED filter expression —
    * the SQL-analyzer path, where the WHERE clause already exists as a
    * Catalyst tree over UnresolvedAttributes (no string round-trip). */
  def extractExpr(filter: Expression): Seq[Pred] = {
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case other => Seq(other)
    }
    def attr(e: Expression): Option[String] = e match {
      // single-part names only: before resolution, `t.col` (relation
      // qualifier) and `s.k` (struct-field access) are indistinguishable
      // multi-part attributes — treating the last part as a top-level
      // column could prune on the WRONG column's stats and silently drop
      // matching files. Multi-part predicates simply don't prune.
      case a: UnresolvedAttribute if a.nameParts.length == 1 => Some(a.name)
      case _ => None
    }
    def lit(e: Expression): Option[Any] = e match {
      case Literal(v, _) if v != null => Some(v)
      case _ => None
    }
    // NOTE: each comparison needs BOTH operand orders checked explicitly —
    // a bare two-case structural match would bind `10 > k` to the first
    // case (literal as the "attribute" side), yield None, and silently
    // skip the predicate instead of falling through to the flipped case.
    def cmpPred(a: Expression, b: Expression, op: String, flipped: String): Option[Pred] =
      (for (f <- attr(a); v <- lit(b)) yield Pred(f, op, Seq(v)))
        .orElse(for (f <- attr(b); v <- lit(a)) yield Pred(f, flipped, Seq(v)))
    conjuncts(filter).flatMap {
      case EqualTo(a, b) => cmpPred(a, b, "=", "=")
      case LessThan(a, b) => cmpPred(a, b, "<", ">")
      case LessThanOrEqual(a, b) => cmpPred(a, b, "<=", ">=")
      case GreaterThan(a, b) => cmpPred(a, b, ">", "<")
      case GreaterThanOrEqual(a, b) => cmpPred(a, b, ">=", "<=")
      case In(a, ls) if ls.forall(lit(_).isDefined) =>
        attr(a).map(f => Pred(f, "in", ls.flatMap(lit)))
      // `k BETWEEN a AND b` parses to an unresolved `between(k, a, b)`
      // call, not the >=/<= pair it means; NOT BETWEEN arrives wrapped in
      // Not and stays unextracted
      case UnresolvedFunction(Seq(n), Seq(a, lo, hi), false, None, false, _, _)
          if n.equalsIgnoreCase("between") =>
        (for (f <- attr(a); l <- lit(lo); h <- lit(hi))
          yield Seq(Pred(f, ">=", Seq(l)), Pred(f, "<=", Seq(h)))).getOrElse(Nil)
      case _ => None
    }
  }

  /** Can the SCAN planner skip READING a manifest segment entirely for
    * these predicates (round 15)? Per-entry pruning already bounds the
    * TASK count, but the planner still paid one driver-side read per
    * segment per query — at 100k files that is the whole manifest plane
    * for a point lookup. Affirmative proof only, like every skip rule:
    * stats present and complete (all-data, bounded tuples), and EVERY
    * tuple excluded by [[fileMatches]] on a synthetic stats-less entry
    * under EVERY (schema, spec) pair in the table's history. Sound
    * because (a) a real file's pair is among those tried, and (b) the
    * synthetic entry is a conservative UPPER bound on the real one —
    * column stats can only exclude more files, never fewer — so
    * synthetic-false implies real-false for every file carrying the
    * tuple, which is exactly "no entry of this segment survives the
    * per-entry filter". SegStatsSpec pins the equivalence as a
    * property and the zero-read behavior via the read log. */
  def segmentScanSkippable(m: TableMeta, stats: Option[SegStats],
      preds: Seq[Pred]): Boolean =
    preds.nonEmpty && stats.exists(s => s.complete &&
      s.partitions.forall { t =>
        m.schemas.forall(sch => m.specs.forall(sp =>
          !fileMatches(FileMeta("", "data", sp.specId, sch.schemaId, t,
            0L, 0L, 0L, Map.empty), m, preds)))
      })

  /** true iff the file could contain matching rows */
  def fileMatches(f: FileMeta, meta: TableMeta, preds: Seq[Pred]): Boolean = {
    val schema = meta.schema(f.schemaId)
    val spec = meta.specs.find(_.specId == f.specId)
    preds.forall { p =>
      schema.fields.find(_.name == p.field) match {
        case None => true // field unknown in this file's schema: keep
        case Some(fld) =>
          statsMatch(f, fld, p) && spec.forall(s => partMatch(f, s, fld, p))
      }
    } && spec.forall(s => multiSourceMatch(f, s, schema, preds))
  }

  /** multi-argument transforms (bucket(n, a, b, ...)): when EQUALITY
    * predicates cover every source column, the partition value of the
    * combination is computable and mismatching files drop. Single-source
    * fields are handled per-predicate in [[partMatch]]. */
  private def multiSourceMatch(f: FileMeta, spec: PartSpecMeta,
      schema: SchemaMeta, preds: Seq[Pred]): Boolean = {
    val eqs = preds.filter(_.op == "=")
      .flatMap(p => schema.fields.find(_.name == p.field).map(fl => fl.id -> (fl, p.values.head)))
      .toMap
    spec.fields.filter(_.sourceIds.length > 1).forall { pf =>
      f.partition.get(pf.name) match {
        case None => true
        case Some(pv) =>
          val coerced = pf.sourceIds.map(id =>
            eqs.get(id).flatMap { case (fl, v) => Transforms.coerce(v, fl.dtype) })
          if (coerced.exists(_.isEmpty)) true // not fully constrained: keep
          else Transforms.evalLiteral(pf, coerced.map(_.get)) match {
            case Some(tv) => tv == pv
            case None => true
          }
      }
    }
  }

  // --- per-file column stats ------------------------------------------------
  private def statsMatch(f: FileMeta, fld: FieldMeta, p: Pred): Boolean =
    f.stats.get(fld.id.toString) match {
      case None => true
      case Some(st) =>
        def cmpMin(v: Any): Option[Int] = st.min.flatMap(m => cmp(fld.dtype, m, v))
        def cmpMax(v: Any): Option[Int] = st.max.flatMap(m => cmp(fld.dtype, m, v))
        def one(op: String, v: Any): Boolean = op match {
          // min/max are inclusive bounds over non-null values
          case "=" => cmpMin(v).forall(_ <= 0) && cmpMax(v).forall(_ >= 0)
          case "<" => cmpMin(v).forall(_ < 0)
          case "<=" => cmpMin(v).forall(_ <= 0)
          case ">" => cmpMax(v).forall(_ > 0)
          case ">=" => cmpMax(v).forall(_ >= 0)
          case _ => true
        }
        if (p.op == "in") p.values.exists(one("=", _)) else one(p.op, p.values.head)
    }

  /** compare a stored stat string against a Catalyst literal value:
    * Some(sign) or None if not comparable */
  private def cmp(dtype: String, stat: String, v: Any): Option[Int] = {
    val base = dtype.takeWhile(_ != '(')
    base match {
      case "int" | "bigint" | "smallint" | "tinyint" | "double" | "float" | "decimal" =>
        numeric(v).map(bv => BigDecimal(stat).compare(bv))
      case "timestamp" | "timestamp_ntz" => v match {
        case l: Long => Some(stat.toLong.compare(l)) // stats store unix micros
        case _ => None
      }
      case "date" => v match {
        case i: Int => Some(stat.toInt.compare(i)) // stats store epoch days
        case _ => None
      }
      case "string" => Some(stat.compareTo(v.toString))
      case _ => None
    }
  }

  private def numeric(v: Any): Option[BigDecimal] = v match {
    case i: Int => Some(BigDecimal(i))
    case l: Long => Some(BigDecimal(l))
    case s: Short => Some(BigDecimal(s.toInt))
    case b: Byte => Some(BigDecimal(b.toInt))
    case d: Double => Some(BigDecimal(d))
    case f: Float => Some(BigDecimal(f.toDouble))
    case d: org.apache.spark.sql.types.Decimal => Some(d.toBigDecimal)
    case _ => None
  }

  // --- partition-transform pruning -----------------------------------------
  private def partMatch(f: FileMeta, spec: PartSpecMeta, fld: FieldMeta, p: Pred): Boolean = {
    // partition fields whose single source is the predicate's column
    val pfs = spec.fields.filter(pf => pf.sourceIds == List(fld.id))
    pfs.forall { pf =>
      f.partition.get(pf.name) match {
        case None => true
        case Some(pv) =>
          def one(op: String, raw: Any): Boolean =
            Transforms.coerce(raw, fld.dtype)
              .flatMap(v => Transforms.evalLiteral(pf, Seq(v))) match {
              case None => true
              case Some(tv) =>
                val c = partCmp(pv, tv)
                op match {
                  case "=" => c == 0
                  // monotonic transforms map source ranges to value ranges;
                  // bucket supports equality only
                  case "<" | "<=" if Transforms.monotonic(pf.transform) => c <= 0
                  case ">" | ">=" if Transforms.monotonic(pf.transform) => c >= 0
                  case _ => true
                }
            }
          if (p.op == "in") p.values.exists(one("=", _)) else one(p.op, p.values.head)
      }
    }
  }

  /** partition values are encoded as decimal longs or raw strings */
  private def partCmp(a: String, b: String): Int =
    (a.toLongOption, b.toLongOption) match {
      case (Some(x), Some(y)) => x.compare(y)
      case _ => a.compareTo(b)
    }
}
