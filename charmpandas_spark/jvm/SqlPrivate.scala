// Spark's own filter translation for the file pruner (FilePruning.scala).
// Both methods are private to the org.apache.spark.sql package, so
// this object lives in it.
package org.apache.spark.sql.charmpandas

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.execution.datasources.{DataSourceStrategy, DataSourceUtils}
import org.apache.spark.sql.sources.{BaseRelation, Filter}

object SqlPrivate {
  def translateFilter(e: Expression, nestedPushdown: Boolean): Option[Filter] =
    DataSourceStrategy.translateFilter(e, nestedPushdown)

  def supportNestedPredicatePushdown(r: BaseRelation): Boolean =
    DataSourceUtils.supportNestedPredicatePushdown(r)
}
