package graft.sources

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference, Expression, Literal, NamedExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Complete, Count, Max, Min}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LocalRelation, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.datasources.v2.{DataSourceV2Relation, DataSourceV2ScanRelation}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** METADATA-ONLY AGGREGATES — answer `COUNT(*)` / `MIN(c)` / `MAX(c)`
  * over a graft catalog table from the manifest sidecars alone, zero
  * files opened, zero tasks launched (Iceberg answers these from its
  * manifests; Delta from the commit-log stats — this is the same move
  * on graft's format, derived from the reference's inspection scans,
  * HyperJoin.java:62-75, which re-count the warehouse after every
  * load).
  *
  * At 100 TB this is the difference between `SELECT count(*) FROM t`
  * costing one driver-side sidecar read and costing a full scan of the
  * table — the single most common query a table owner runs. The
  * rewrite fires in the OPERATOR-OPTIMIZATION batch, before V2 scan
  * pushdown, so the match point is one shape: a global (group-less)
  * [[Aggregate]] directly over the [[DataSourceV2Relation]] (with at
  * most a column-pruning Project between) — any Filter above the
  * relation keeps the plan on the scan path untouched.
  *
  * Soundness guards (each bails to the ordinary scan, never guesses):
  *
  *  - **pending equality deletes** retire a data-dependent number of
  *    rows that metadata cannot count — any pending entry disables the
  *    rewrite for the whole version;
  *  - **COUNT(*)** needs every file covered by the `v<N>.ndv` row-count
  *    sidecar; per-file DV cardinalities subtract exactly
  *    ([[Sources.rowsForFiles]]), so a merge-on-read DELETE keeps the
  *    metadata answer exact;
  *  - **MIN/MAX** additionally require a DV-free version (a DV might
  *    have deleted precisely the extremal row, leaving the stored
  *    bound loose) and a stats row for the column in EVERY file — a
  *    file committed without stats, an all-NULL file, or a non-ASCII
  *    string bound (not persisted, by the sidecar's own rule) each
  *    makes the column unanswerable. Bounds are stored exact (never
  *    rounded/truncated), so a covered column's answer is the scan's
  *    answer.
  *
  * SQL `MIN`/`MAX` ignore NULLs exactly as the per-file stats do; a
  * zero-file (empty) table answers count 0 / NULL extrema. Distinct,
  * filtered (`FILTER (WHERE ...)`), and any other aggregate shapes are
  * left to the executor.
  */
object MetadataOnlyAggregates extends Rule[LogicalPlan] {

  override def apply(plan: LogicalPlan): LogicalPlan = plan transform {
    case agg: Aggregate if agg.groupingExpressions.isEmpty =>
      rewrite(agg).getOrElse(agg)
  }

  private def rewrite(agg: Aggregate): Option[LogicalPlan] = {
    for {
      rel <- relationOf(agg.child)
      t <- rel.table match {
        case g: GraftTable => Some(g)
        case _ => None
      }
      // a pending equality delete hides an unknowable number of rows
      _ <- if (Sources.eqOf(t.tablePath, t.pinned).isEmpty) Some(())
           else None
      values <- answers(t, agg.aggregateExpressions)
    } yield LocalRelation(agg.output, Seq(InternalRow.fromSeq(values)))
  }

  /** The table relation under the aggregate, matched in BOTH optimizer
    * positions: pre-pushdown (the injected-extensions path — a bare
    * [[DataSourceV2Relation]]) and post-pushdown (the
    * `experimental.extraOptimizations` path [[GraftRules.install]]
    * uses on stock sessions — a [[DataSourceV2ScanRelation]] with the
    * scan already built). Post-pushdown, a query filter would either
    * still sit above the relation as a residual Filter node (all graft
    * builders keep every conjunct residual) — breaking the bare match
    * — or have been consumed as a ParquetScan partition filter, which
    * the explicit emptiness guard catches. */
  private def relationOf(p: LogicalPlan): Option[DataSourceV2Relation] =
    p match {
      case r: DataSourceV2Relation => Some(r)
      case Project(pl, child) if pl.forall(_.isInstanceOf[AttributeReference]) =>
        relationOf(child)
      case sr: DataSourceV2ScanRelation => sr.scan match {
        case pq: org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScan
            if pq.partitionFilters.isEmpty && pq.dataFilters.isEmpty =>
          Some(sr.relation)
        case n: GraftNativeScan if n.filterFree => Some(sr.relation)
        case _ => None
      }
      case _ => None
    }

  /** All aggregate outputs answered from metadata, or None if ANY is
    * not answerable (all-or-nothing: a partial rewrite would still
    * scan). */
  private def answers(t: GraftTable,
      aggs: Seq[NamedExpression]): Option[Seq[Any]] = {
    val table = t.tablePath
    val v = t.pinned
    lazy val files = Sources.filesOf(table, v)
    lazy val dvFree = Sources.dvOf(table, v).isEmpty
    lazy val num = Sources.statsOf(table, v)
    lazy val str = Sources.statsOfString(table, v)

    def extremum(a: AttributeReference, isMin: Boolean): Option[Any] = {
      if (!dvFree) return None
      if (files.isEmpty) return Some(null)
      a.dataType match {
        case StringType =>
          if (!files.forall(f => str.contains((f, a.name)))) None
          else {
            val bounds = files.map(f =>
              if (isMin) str((f, a.name))._1 else str((f, a.name))._2)
            val s = if (isMin) bounds.min else bounds.max
            Some(UTF8String.fromString(s))
          }
        case dt =>
          if (!files.forall(f => num.contains((f, a.name)))) None
          else {
            val bounds = files.map(f =>
              if (isMin) num((f, a.name))._1 else num((f, a.name))._2)
            val x = if (isMin) bounds.min else bounds.max
            typed(x, dt)
          }
      }
    }

    def one(e: Expression): Option[Any] = e match {
      case Alias(c, _) => one(c)
      case ae: AggregateExpression
          if !ae.isDistinct && ae.filter.isEmpty && ae.mode == Complete =>
        ae.aggregateFunction match {
          case Count(Seq(Literal(value, _))) if value != null =>
            Sources.rowsForFiles(table, v, files).map(n => n: Any)
          case Min(a: AttributeReference) => extremum(a, isMin = true)
          case Max(a: AttributeReference) => extremum(a, isMin = false)
          case _ => None
        }
      case _ => None
    }

    val out = aggs.map(one)
    if (out.forall(_.isDefined)) Some(out.map(_.get)) else None
  }

  /** A sidecar BigDecimal bound reconstructed as the column's catalyst
    * value — bounds were harvested from actual column values, so the
    * integral conversions are exact by construction; an unexpected
    * inexactness (or an unsupported type) bails to the scan. */
  private def typed(x: BigDecimal, dt: DataType): Option[Any] =
    scala.util.Try[Any] {
      dt match {
        case ByteType => x.toByteExact
        case ShortType => x.toShortExact
        case IntegerType => x.toIntExact
        case LongType => x.toLongExact
        case FloatType => x.toFloat
        case DoubleType => x.toDouble
        case d: DecimalType =>
          org.apache.spark.sql.types.Decimal(x, d.precision, d.scale)
        case _ => throw new IllegalArgumentException(dt.toString)
      }
    }.toOption
}
