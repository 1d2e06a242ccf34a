// The spark.sql.extensions entry point: one class registers every rule
// of the jar.
package charmpandas.spark

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.{ColumnarRule, SparkPlan}

class Extension extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule(_ => PruneParquetFiles)
    ext.injectColumnar(_ => new ColumnarRule {
      override def preColumnarTransitions: Rule[SparkPlan] = ParamLiterals
    })
  }
}
