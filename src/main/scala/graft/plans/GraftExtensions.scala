package graft.plans

import org.apache.spark.sql.SparkSessionExtensions

/** The engine's plan rules, injected at session build: [[RewriteDotProduct]]
  * (optimizer) and [[PartitionAggregateByConsumerKeys]] (AQE query-stage
  * preparation). `graft.Verify.session` passes it to `withExtensions`; a
  * session the platform builds names it instead
  * (`--conf spark.sql.extensions=graft.plans.GraftExtensions`).
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectOptimizerRule(_ => RewriteDotProduct)
    ext.injectQueryStagePrepRule(_ => PartitionAggregateByConsumerKeys)
  }
}
