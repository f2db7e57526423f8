package graft.chisq

import org.apache.spark.sql.{Column, DataFrame, Encoders}
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

/** Stage 2 of the reference pipeline: χ² scoring of (word, category) pairs
  * from 2×2 contingency tables, top-k per category, union vocabulary
  * (reference `src/chiSquaredJob.py:59-127`).
  *
  * Contingency cells, per reference `src/chiSquaredJob.py:84-92`:
  *   A = docs in category containing word
  *   B = docs in other categories containing word   (wordTotal − A)
  *   C = docs in category without word              (catTotal  − A)
  *   D = docs in neither                            (N − A − B − C)
  *   χ² = N·(A·D − B·C)² / ((A+B)(A+C)(B+D)(C+D)),   skip if any marginal = 0
  *
  * The reference computes the numerator in Python big-int (≈1e39 at full
  * scale — overflows long AND decimal(38)) before one float division:
  * [[scoreExact]] reproduces it bit for bit, [[score]] is the all-double
  * formula (~1 ulp of drift at the 16th digit) that DuckDB reproduces.
  */
object ChiSquare {

  final case class TopRow(word: String, category: String, chi2: Double)

  /** The χ² top-k of the CLI, the library and the declared queries, in ONE
    * action. df: (word, category, df_count), or [[withWordTotal]]'s output
    * when the caller keeps it (`Main.run` scores from its cache); the
    * categoryCounts sum to N; `exact` picks [[scoreExact]] over [[score]].
    * Returns ≤ k rows per category in the order of Spark's
    * `orderBy(category, chi2 desc, word)`.
    */
  def topK(df: DataFrame, categoryCounts: Seq[(String, Long)], k: Int,
      exact: Boolean): Seq[TopRow] = {
    require(k >= 1, s"k must be a positive integer, got $k")
    val catTotals = df.sparkSession.createDataFrame(categoryCounts).toDF("category", "n_docs")
    val total = categoryCounts.map(_._2).sum
    val scored = (if (exact) scoreExact _ else score _)(df, catTotals, total)
    topKPerCategory(scored, k).as(Encoders.product[TopRow]).collect().toSeq.sorted(rowOrder)
  }

  /** Sorted distinct union of the top-k words (`src/chiSquaredJob.py:120,127`). */
  def vocabulary(rows: Seq[TopRow]): Seq[String] =
    rows.map(_.word).distinct.sorted(codePointOrder)

  /** Spark's and Python's string order: by code point, as UTF8String
    * compares. Java's `String.compareTo` puts `😀` before `！`. */
  val codePointOrder: Ordering[String] = Ordering.by(UTF8String.fromString)

  private val rowOrder: Ordering[TopRow] = (x: TopRow, y: TopRow) => {
    val byCat = codePointOrder.compare(x.category, y.category)
    val byChi2 = SQLOrderingUtil.compareDoubles(y.chi2, x.chi2)
    if (byCat != 0) byCat else if (byChi2 != 0) byChi2 else codePointOrder.compare(x.word, y.word)
  }

  /** (word, category, df_count) → the same rows with `word_total`, the
    * word's document count over all categories (cells B and D). One
    * exchange by word; straight above `WordCount.documentFrequency` the
    * [[graft.plans.PartitionAggregateByConsumerKeys]] rule makes it the DF
    * aggregate's only exchange.
    */
  def withWordTotal(df: DataFrame): DataFrame =
    df.withColumn("word_total", sum(col("df_count")).over(Window.partitionBy("word")))

  /** df: (word, category, df_count[, word_total]); catTotals: (category,
    * n_docs); total: N. → (word, category, chi2) in double precision.
    *
    * Shuffle plan: one exchange by word (for [[withWordTotal]], none when df
    * already has `word_total`), then a BROADCAST hash join for the
    * per-category totals (22 rows in the reference, ≤ a few thousand
    * anywhere sane) — the category-totals side never shuffles the big
    * relation.
    */
  def score(df: DataFrame, catTotals: DataFrame, total: Long): DataFrame =
    scoreWith(df, catTotals, total) { cells =>
      val Seq(a, b, c, d) = cells.map(_.cast("double"))
      // operand order mirrors the DuckDB oracle expression exactly, so both
      // engines produce bit-identical IEEE doubles
      lit(total).cast("double") * (a * d - b * c) * (a * d - b * c) /
        ((a + b) * (a + c) * (b + d) * (c + d))
    }

  /** [[score]] with the reference's exact arithmetic
    * ([[graft.functions.ChiSqExact]]), which byte-level RawProtocol parity
    * needs; DuckDB cannot reproduce it (see ChiSqExact scaladoc).
    */
  def scoreExact(df: DataFrame, catTotals: DataFrame, total: Long): DataFrame = {
    graft.functions.Registry.ensure(df.sparkSession)
    scoreWith(df, catTotals, total)(_ => call_function("graft_chisq_py",
      col("df_count").cast("long"), col("word_total").cast("long"),
      col("n_docs").cast("long"), lit(total)))
  }

  /** The rows with no zero marginal, scored by `chi2` of the cells A–D;
    * `word_total` is computed unless df carries it. */
  private def scoreWith(df: DataFrame, catTotals: DataFrame, total: Long)(
      chi2: Seq[Column] => Column): DataFrame = {
    val cells @ Seq(a, b, c, d) = Seq(col("df_count"), col("word_total") - col("df_count"),
      col("n_docs") - col("df_count"),
      lit(total) - col("word_total") - col("n_docs") + col("df_count"))
    (if (df.columns.contains("word_total")) df else withWordTotal(df))
      .join(broadcast(catTotals), "category")
      .where((a + b) =!= 0 && (a + c) =!= 0 && (b + d) =!= 0 && (c + d) =!= 0)
      .select(col("word"), col("category"), chi2(cells).as("chi2"))
  }

  /** Top-k per category by χ² descending. The reference's tie order is
    * arrival order (nondeterministic — `src/chiSquaredJob.py:105`); we impose
    * `word ASC` as a deterministic tiebreak (documented deviation).
    */
  def topKPerCategory(scored: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy("category")
      .orderBy(col("chi2").desc, col("word").asc)
    scored
      .withColumn("rn", row_number().over(w))
      .where(col("rn") <= k)
      .drop("rn")
  }

  /** [[vocabulary]] over a top-k relation, as a DataFrame. */
  def vocabulary(topk: DataFrame): DataFrame =
    topk.select("word").distinct().orderBy("word")
}
