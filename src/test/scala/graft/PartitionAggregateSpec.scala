package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.Attribute
import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.SortMergeJoinExec
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The PartitionAggregateByConsumerKeys stage rule, by the shape of the
  * AQE-final plan: a grouped aggregate consumed by one of its keys shuffles
  * once, by that key; user exchanges, other keys and the all-keys setting
  * keep both exchanges; rows do not change. */
class PartitionAggregateSpec extends SparkSpec with AdaptiveSparkPlanHelper {

  /** (a, b) rows with a hot key: a = 0 in 3 of 4 rows. */
  private def base: DataFrame = spark.range(400).select(
    when(col("id") % 4 =!= 0, lit(0L)).otherwise(col("id") % 13).as("a"),
    (col("id") % 5).as("b"))

  private def counted: DataFrame = base.groupBy("a", "b").agg(count(lit(1)).as("n"))

  private def byA: DataFrame =
    counted.withColumn("t", sum("n").over(Window.partitionBy("a")))

  private def withConf[T](kv: (String, String)*)(body: => T): T = {
    val saved = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  /** Runs df; its sorted rows, and the hash keys of every shuffle in its
    * AQE-final plan ("a,b" for hash(a, b)), sorted. */
  private def run(df: DataFrame): (Seq[String], Seq[String], SparkPlan) = {
    val rows = df.collect().map(_.toString).toSeq.sorted
    val plan = df.queryExecution.executedPlan
    val keys = collect(plan) { case e: ShuffleExchangeExec => e.outputPartitioning }
      .map {
        case HashPartitioning(es, _) =>
          es.map { case a: Attribute => a.name; case e => e.sql }.mkString(",")
        case p => p.toString
      }
    (rows, keys.sorted, plan)
  }

  private val allKeys = "spark.sql.requireAllClusterKeysForDistribution"

  test("groupBy(a, b) under a window over a: one exchange, hashed by a") {
    val (_, keys, plan) = run(byA)
    assert(keys == Seq("a"), plan)
  }

  test("a user repartition, a consumer key outside the grouping, and the all-keys setting keep both exchanges") {
    val (_, repart, p1) = run(counted.repartition(col("a")))
    assert(repart == Seq("a", "a,b"), p1)
    val (_, other, p2) = run(counted.withColumn("t", sum("b").over(Window.partitionBy("n"))))
    assert(other == Seq("a,b", "n"), p2)
    val (_, all, p3) = withConf(allKeys -> "true")(run(byA))
    assert(all == Seq("a", "a,b"), p3)
    assert(spark.conf.get(allKeys) == "false")
  }

  test("a sort-merge join on a above: both sides keep the same partition count") {
    withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val right = spark.range(60).select((col("id") % 13).as("a"), col("id").as("r"))
      val (_, keys, plan) = run(counted.join(right, "a"))
      assert(keys == Seq("a", "a"), plan)
      val smj = collect(plan) { case j: SortMergeJoinExec => j }
      assert(smj.size == 1, plan)
      assert(smj.head.left.outputPartitioning.numPartitions ==
        smj.head.right.outputPartitioning.numPartitions, plan)
    }
  }

  // off: under the all-keys setting the rule does not fire (see above)
  test("rows are equal with the rule on and off on a hot key") {
    val right = spark.range(60).select((col("id") % 13).as("a"), col("id").as("r"))
    for (q <- Seq(() => byA, () => counted.join(right, "a"))) {
      withConf("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
        val (on, onKeys, _) = run(q())
        val (off, offKeys, _) = withConf(allKeys -> "true")(run(q()))
        assert(onKeys.size < offKeys.size, s"$onKeys vs $offKeys")
        assert(on.nonEmpty && on == off)
      }
    }
  }
}
