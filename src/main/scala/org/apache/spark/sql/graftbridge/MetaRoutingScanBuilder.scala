package org.apache.spark.sql.graftbridge

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.connector.expressions.filter.Predicate
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.execution.datasources.DataSourceStrategy
import org.apache.spark.sql.internal.connector.SupportsPushDownCatalystFilters
import org.apache.spark.sql.sources.Filter
import org.apache.spark.sql.types.StructType

/** Routes a graft table's PLAIN scan between Spark's own
  * `ParquetScanBuilder` (the common, fully-vectorized path) and the
  * graft native scan when the query references the table's
  * `_gfile`/`_gpos`/`_row_id` metadata columns — which the stock
  * parquet builder cannot serve (it would silently null-fill them
  * through schema clipping).
  *
  * Lives under `org.apache.spark.sql` because the file-source builders
  * push filters through the `private[sql]`
  * [[SupportsPushDownCatalystFilters]] trait; delegating it verbatim
  * keeps partition pruning and parquet row-group pushdown intact on the
  * common path. Every conjunct is reported back as residual, so Spark
  * re-evaluates each above the scan whichever builder ends up
  * building: the swapped-in scan only prunes with the conjuncts, it
  * never has to enforce a partition predicate the stock builder would
  * have consumed. */
class MetaRoutingScanBuilder(
    plain: ScanBuilder,
    metaNames: Set[String],
    meta: () => ConjunctScanBuilder with SupportsPushDownRequiredColumns)
  extends ScanBuilder
  with SupportsPushDownCatalystFilters
  with SupportsPushDownRequiredColumns {

  private var all: Seq[Expression] = Nil
  private var metaRequired: Option[StructType] = None

  override def pushFilters(filters: Seq[Expression]): Seq[Expression] = {
    all = filters
    plain match {
      case f: SupportsPushDownCatalystFilters => f.pushFilters(filters)
      case _ =>
    }
    filters
  }

  override def pushedFilters: Array[Predicate] =
    if (metaRequired.isDefined) Array.empty
    else plain match {
      case f: SupportsPushDownCatalystFilters => f.pushedFilters
      case _ => Array.empty
    }

  override def pruneColumns(requiredSchema: StructType): Unit =
    if (requiredSchema.fieldNames.exists(metaNames.contains))
      metaRequired = Some(requiredSchema)
    else plain match {
      case p: SupportsPushDownRequiredColumns =>
        p.pruneColumns(requiredSchema)
      case _ =>
    }

  override def build(): Scan = metaRequired match {
    case Some(req) =>
      val b = meta()
      b.pushFilters(all)
      b.pruneColumns(req)
      b.build()
    case None => plain.build()
  }
}

/** A scan builder that takes Spark's Catalyst conjuncts as they are —
  * partition-column conjuncts included, typed as the table serves
  * them — and keeps every one residual. Subclasses read them as
  * [[conjuncts]] and, for the parquet reader and sidecar pruning, as
  * the V1 [[Filter]]s Spark's own V1 pushdown would translate them to
  * ([[ConjunctScanBuilder.translate]]). */
abstract class ConjunctScanBuilder extends ScanBuilder
  with SupportsPushDownCatalystFilters {

  protected var conjuncts: Seq[Expression] = Nil

  override def pushFilters(filters: Seq[Expression]): Seq[Expression] = {
    conjuncts = filters
    filters
  }

  // informational (plan strings); a filter without a V2 form is left out
  override def pushedFilters: Array[Predicate] =
    ConjunctScanBuilder.translate(conjuncts)
      .flatMap(f => scala.util.Try(f.toV2).toOption).toArray
}

object ConjunctScanBuilder {
  /** The conjuncts that translate to V1 filters, translated as
    * `SupportsPushDownFilters` builders receive them. */
  def translate(conjuncts: Seq[Expression]): Seq[Filter] =
    conjuncts.flatMap(e => DataSourceStrategy.translateFilter(e,
      supportNestedPredicatePushdown = true))
}
