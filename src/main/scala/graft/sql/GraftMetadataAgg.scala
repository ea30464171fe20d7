package graft.sql

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{AttributeReference, Expression, Literal, NamedExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Complete, Count, Max, Min}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan, OneRowRelation, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.graftshim.GraftFileIndex
import org.apache.spark.sql.types._

import graft.table.{Bounds, DataFileMeta}

/**
 * Metadata-only aggregates: answer `count(*)` / `count(col)` / `min(col)` /
 * `max(col)` over a graft scan from the snapshot's manifest statistics,
 * without reading a single data file — the lakehouse fast path Iceberg and
 * Delta both ship. At 10^5 files / 100 TB, `SELECT count(*)` is a driver-side
 * sum over manifest entries (milliseconds) instead of a full-table scan.
 *
 * The reference engine computed its reconciliation counts with a full
 * MapReduce pass over the source table (`job/HBaseToHiveJob.java` counters);
 * here the same numbers fall out of commit-time metadata.
 *
 * Soundness gates — the rewrite fires ONLY when every value is provably
 * exact, else the plan is left for the normal scan path:
 *  - grouping must be empty, aggregates unfiltered, non-DISTINCT, and only
 *    Count/Min/Max over a bare column (or count of a non-null literal);
 *  - the child must be the bare graft relation (possibly through a
 *    column-pruning Project) — any Filter (the deletion-vector `dv_keep`
 *    filter included) / streaming flag on top disqualifies the subtree, so
 *    MoR deletes and predicates are never miscounted (`GraftTable.read`
 *    attaches the DV filter inside the DataFrame it returns, above this
 *    relation);
 *  - `count(col)` needs a null count recorded for the column in EVERY file
 *    (files written before the column was added have none → fall back);
 *  - `min/max(col)` is restricted to types whose manifest bounds are exact:
 *    integral, date, timestamp, boolean, and decimal. Strings are excluded
 *    (bounds are truncation-WIDENED at [[Bounds.StatsTruncateLen]] — sound
 *    for pruning, not exact), float/double are excluded (Parquet stats omit
 *    NaN, which Spark's max() orders greatest);
 *  - a file lacking bounds for the column must be provably all-null for it
 *    (nullCount == rows), else fall back.
 *
 * Disable with `spark.graft.metadata-agg.enabled=false`.
 */
case class GraftMetadataAggRule(spark: SparkSession) extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (!spark.conf.get("spark.graft.metadata-agg.enabled", "true").toBoolean) return plan
    plan.transformDown {
      case agg @ Aggregate(groupingExprs, resultExprs, child, _)
          if groupingExprs.isEmpty && !child.isStreaming =>
        rewrite(resultExprs, child).getOrElse(agg)
    }
  }

  /** The graft relation under pass-through (attribute-only) projections. */
  private def relationOf(p: LogicalPlan): Option[LogicalRelation] = p match {
    case lr: LogicalRelation if !lr.isStreaming => Some(lr)
    case Project(pl, c) if pl.forall(_.isInstanceOf[AttributeReference]) => relationOf(c)
    case _ => None
  }

  private def rewrite(
      resultExprs: Seq[NamedExpression],
      child: LogicalPlan): Option[LogicalPlan] = {
    val lr = relationOf(child).getOrElse(return None)
    val metas = lr.relation match {
      case fs: HadoopFsRelation => fs.location match {
        case g: GraftFileIndex => g.metas
        case _ => return None
      }
      case _ => return None
    }
    var ok = true
    val rewritten = resultExprs.map { ne =>
      ne.transformUp {
        case ae: AggregateExpression =>
          fromMetadata(ae, metas) match {
            case Some(lit) => lit
            case None      => ok = false; ae
          }
      }.asInstanceOf[NamedExpression]
    }
    if (ok) Some(Project(rewritten, OneRowRelation())) else None
  }

  /** The exact value of one aggregate from manifest stats, or None. */
  private def fromMetadata(
      ae: AggregateExpression,
      metas: Seq[DataFileMeta]): Option[Literal] = ae match {
    case AggregateExpression(fn, Complete, false, None, _) => fn match {
      case Count(Seq(l: Literal)) if l.value != null =>
        Some(Literal(metas.map(_.rows).sum, LongType))
      case Count(Seq(a: AttributeReference)) if !a.nullable =>
        Some(Literal(metas.map(_.rows).sum, LongType))
      case Count(Seq(a: AttributeReference)) => countColumn(a.name, metas)
      case Min(a: AttributeReference) => boundOf(a, metas, isMin = true)
      case Max(a: AttributeReference) => boundOf(a, metas, isMin = false)
      case _ => None
    }
    case _ => None
  }

  private def countColumn(name: String, metas: Seq[DataFileMeta]): Option[Literal] = {
    var total = 0L
    for (m <- metas) {
      m.nullCounts.get(name) match {
        case Some(nulls) if nulls >= 0 && nulls <= m.rows => total += m.rows - nulls
        case _ if m.rows == 0 => ()
        case _ => return None // stats missing (pre-evolution file, unsupported type)
      }
    }
    Some(Literal(total, LongType))
  }

  /** Types whose manifest bounds are byte-exact column values. */
  private def exactBounds(dt: DataType): Boolean = dt match {
    case ByteType | ShortType | IntegerType | LongType | DateType |
        TimestampType | TimestampNTZType | BooleanType => true
    case _: DecimalType => true
    case _ => false // strings truncation-widened; float/double NaN-unsafe
  }

  private def boundOf(
      a: AttributeReference,
      metas: Seq[DataFileMeta],
      isMin: Boolean): Option[Literal] = {
    val dt = a.dataType
    if (!exactBounds(dt)) return None
    var acc: Option[String] = None
    for (m <- metas) {
      val side = if (isMin) m.minValues else m.maxValues
      side.get(a.name) match {
        case Some(v) =>
          acc = Some(acc.map(p => if (isMin) Bounds.min(dt, p, v) else Bounds.max(dt, p, v))
            .getOrElse(v))
        case None if m.rows == 0 => ()
        case None if m.nullCounts.get(a.name).contains(m.rows) => () // all-null file
        case None => return None // bounds dropped/stripped: not provable
      }
    }
    acc match {
      case None => Some(Literal(null, dt)) // empty or all-null column
      case Some(s) =>
        val v = dt match {
          case d: DecimalType =>
            val dec = Decimal(new java.math.BigDecimal(s))
            if (!dec.changePrecision(d.precision, d.scale)) return None
            dec
          case _ => Bounds.toCatalystValue(dt, s).getOrElse(return None)
        }
        Some(Literal(v, dt))
    }
  }
}
