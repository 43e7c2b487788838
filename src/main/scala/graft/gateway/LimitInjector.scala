package graft.gateway

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.{GlobalLimit, LocalLimit, LogicalPlan, UnresolvedWith}

/** Outer-LIMIT injection (the reference's limit half of
  * `_validate_and_limit_sql`, /root/reference/backend/main.py:102-111):
  * cap the result set at `rowLimit` rows unless the query already carries
  * a top-level LIMIT — never overwrite a user-supplied one (`Engine`
  * still bounds what it collects above its hard cap). The check
  * reaches through a CTE (`WITH`) wrapper, like the reference's
  * `stmt.this if isinstance(stmt, exp.With)` unwrap.
  *
  * Spark plans the injected limit as CollectLimit / TakeOrderedAndProject,
  * so the cap also prunes work, not just output.
  */
object LimitInjector {

  /** True when the (possibly CTE-wrapped) plan root is already a LIMIT. */
  def hasRootLimit(plan: LogicalPlan): Boolean = plan match {
    case GlobalLimit(_, _) => true
    case LocalLimit(_, _) => true
    case w: UnresolvedWith => hasRootLimit(w.child)
    case _ => false
  }

  /** Apply the cap; returns the (possibly) limited frame and whether a
    * limit was injected.
    */
  def apply(df: DataFrame, rowLimit: Int): (DataFrame, Boolean) =
    if (hasRootLimit(df.queryExecution.logical)) (df, false)
    else (df.limit(rowLimit), true)
}
