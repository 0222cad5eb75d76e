/* Lives in org.apache.spark.sql ON PURPOSE: Dataset.ofRows — the only way
 * to wrap a custom LogicalPlan into a public DataFrame — is private[sql],
 * and extension libraries conventionally bridge it with a one-function
 * package shim. Nothing else in the repo reaches into Spark internals
 * this way; keep it that small. */
package org.apache.spark.sql

import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan

object GraftPlanShim {
  def ofRows(s: SparkSession, plan: LogicalPlan): DataFrame =
    classic.Dataset.ofRows(s.asInstanceOf[classic.SparkSession], plan)
}
