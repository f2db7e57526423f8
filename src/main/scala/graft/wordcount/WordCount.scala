package graft.wordcount

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.text.TextOps

/** Stage 1 of the reference pipeline: per-category document-frequency word
  * count (reference `src/wordCountJob.py`). The whole MapReduce job — mapper,
  * combiner, two reducers — collapses into one declarative plan:
  *
  *   Scan → Generate explode(graft_review_tokens(lower(text))) →
  *   Filter(length > 0, NOT word IN stopwords) → HashAggregate(partial) →
  *   Exchange(word, category) → HashAggregate(final)
  *
  * all but the exchange and the final aggregate in one whole-stage codegen
  * span. Under a consumer keyed by word alone (χ²'s word total) the
  * exchange hashes by word instead and is the relation's only one
  * ([[graft.plans.PartitionAggregateByConsumerKeys]]): the reference's
  * job 1, too, keys its output `word → {category: count}`.
  * Spark's partial aggregation IS the reference's hand-written
  * combiner (reference `src/wordCountJob.py:81-89`); the per-review `set()`
  * dedup happens inside the tokenizer kernel BEFORE the explode, so shuffle
  * volume stays proportional to distinct (word, category) pairs — the
  * property that made the reference run 40% faster, and the one that
  * matters at 100 TB.
  */
object WordCount {

  /** (text, category) relation → (word, category, df_count) where df_count =
    * number of documents of that category containing the word at least once.
    *
    * Stopwords are filtered BEFORE the shuffle (predicate stays below the
    * exchange). For the ~600-word reference list an `isInCollection` compiles
    * to an O(1) `InSet` probe — cheaper than shipping an anti-join build side.
    */
  def documentFrequency(
      docs: DataFrame,
      textCol: Column,
      categoryCol: Column,
      stopwords: Set[String] = Set.empty): DataFrame = {
    val exploded = docs
      .select(categoryCol.as("category"),
        explode(TextOps.reviewTokens(textCol)).as("word"))
      .where(length(col("word")) > 0)
    val filtered =
      if (stopwords.isEmpty) exploded
      else exploded.where(!col("word").isInCollection(stopwords))
    filtered.groupBy("word", "category").agg(count(lit(1)).as("df_count"))
  }

  /** Stopword removal as an explicit broadcast LEFT ANTI join — the
    * SQL-checkable twin of the `isInCollection` fast path (reference
    * semantics: `src/wordCountJob.py:77`).
    */
  def antiJoinStopwords(tokens: DataFrame, stopwords: DataFrame): DataFrame =
    tokens.join(broadcast(stopwords),
      tokens("word") === stopwords("stopword"), "left_anti")

  /** The reference's global counters (reference `src/wordCountWrapper.py:31-50`):
    * total docs + docs per category. Computed as exact aggregations — NOT
    * accumulators, which double-count on task retry.
    */
  def categoryTotals(docs: DataFrame, categoryCol: Column): DataFrame =
    docs.groupBy(categoryCol.as("category")).agg(count(lit(1)).as("n_docs"))
}
