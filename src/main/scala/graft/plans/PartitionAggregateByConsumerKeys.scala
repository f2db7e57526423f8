package graft.plans

import org.apache.spark.sql.catalyst.expressions.ExpressionSet
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.aggregate.HashAggregateExec
import org.apache.spark.sql.execution.exchange.{ENSURE_REQUIREMENTS, ShuffleExchangeExec}

/** AQE query-stage preparation rule: shuffle a grouped aggregate by the key
  * its consumer needs, once.
  *
  * `EnsureRequirements` plans `groupBy(w, c)` followed by a consumer that
  * needs rows clustered by `w` alone (a window over `w`, a join or a second
  * aggregate on `w`) as two exchanges of the same relation:
  *
  *   Exchange hash(w) ← HashAggregate(final, keys w, c) ← Exchange hash(w, c) ← …
  *
  * Hashing by `w` alone already clusters every `(w, c)` group, so the
  * lower exchange can hash by `w` and the upper one goes away:
  *
  *   HashAggregate(final, keys w, c) ← Exchange hash(w) ← …
  *
  * The aggregate's output keeps `hash(w)` with the upper exchange's
  * partition count, so a join above stays co-partitioned with its other
  * side. The partial aggregate below the exchange is untouched, so the
  * combiner still runs before the shuffle. The reference's job 1 makes the
  * same choice: it emits `word → {category: count}` keyed by word
  * (SURVEY §3.4).
  *
  * Guards:
  *  - both exchanges were added by `EnsureRequirements`
  *    (`ENSURE_REQUIREMENTS`); a user's `repartition` is never touched;
  *  - the upper exchange hashes by one expression that is one of the
  *    aggregate's grouping keys, and there are more keys than that one;
  *  - the lower exchange hashes by exactly the grouping keys;
  *  - `hash(w)` satisfies the aggregate's required child distribution,
  *    which is false under `spark.sql.requireAllClusterKeysForDistribution`.
  *
  * The trade: fewer, larger groups per partition when `w` is skewed; a hot
  * `w` lands on one reducer, as it already did in the upper exchange.
  */
object PartitionAggregateByConsumerKeys extends Rule[SparkPlan] {

  override def apply(plan: SparkPlan): SparkPlan = plan.transformUp {
    case ShuffleExchangeExec(HashPartitioning(Seq(w), n),
        agg @ HashAggregateExec(Some(_), _, _, keys, _, _, _, _,
          lower @ ShuffleExchangeExec(HashPartitioning(lowerKeys, _), _, ENSURE_REQUIREMENTS, _)),
        ENSURE_REQUIREMENTS, _)
        if keys.length > 1 && lowerKeys.length == keys.length &&
          ExpressionSet(lowerKeys) == ExpressionSet(keys) && keys.exists(_.semanticEquals(w)) &&
          HashPartitioning(Seq(w), n).satisfies(agg.requiredChildDistribution.head) =>
      agg.withNewChildren(Seq(lower.copy(outputPartitioning = HashPartitioning(Seq(w), n))))
  }
}
