package graft.chisq

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

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
  * Arithmetic is DOUBLE end-to-end: the reference computes the numerator in
  * Python big-int (≈1e39 at full scale — overflows long AND decimal(38))
  * before a single float division, so double is the only Spark type that
  * holds the result; drift vs big-int is ~1 ulp at the 16th digit.
  */
object ChiSquare {

  /** df: (word, category, df_count); catTotals: (category, n_docs); total: N.
    * → (word, category, chi2).
    *
    * Shuffle plan: one exchange by `word` (window sum for B's wordTotal),
    * then a BROADCAST hash join for the per-category totals (22 rows in the
    * reference, ≤ a few thousand anywhere sane) — the category-totals side
    * never shuffles the big relation.
    */
  def score(df: DataFrame, catTotals: DataFrame, total: Long): DataFrame = {
    val wordWindow = Window.partitionBy("word")
    val withTotals = df
      .withColumn("word_total", sum(col("df_count")).over(wordWindow))
      .join(broadcast(catTotals), "category")

    val a = col("df_count").cast("double")
    val b = (col("word_total") - col("df_count")).cast("double")
    val c = (col("n_docs") - col("df_count")).cast("double")
    val d = (lit(total) - col("word_total") - col("n_docs") + col("df_count")).cast("double")
    val n = lit(total).cast("double")
    // operand order mirrors the DuckDB oracle expression exactly, so both
    // engines produce bit-identical IEEE doubles
    val chi2 = n * (a * d - b * c) * (a * d - b * c) /
      ((a + b) * (a + c) * (b + d) * (c + d))

    withTotals
      .where((a + b) =!= 0.0 && (a + c) =!= 0.0 && (b + d) =!= 0.0 && (c + d) =!= 0.0)
      .select(col("word"), col("category"), chi2.as("chi2"))
  }

  /** [[score]] with the reference's EXACT arithmetic
    * ([[graft.functions.ChiSqExact]]): big-int numerator/denominator, one
    * correctly-rounded division — bit-identical to the reference's Python
    * floats, which byte-level RawProtocol parity requires. Used by the
    * reference-format sink (graft.pipeline.Main) and the golden spec; the
    * DECLARED query keeps [[score]] because DuckDB cannot reproduce
    * correctly-rounded big-int division (see ChiSqExact scaladoc).
    */
  def scoreExact(df: DataFrame, catTotals: DataFrame, total: Long): DataFrame = {
    graft.functions.Registry.ensure(df.sparkSession)
    val wordWindow = Window.partitionBy("word")
    val withTotals = df
      .withColumn("word_total", sum(col("df_count")).over(wordWindow))
      .join(broadcast(catTotals), "category")
    val a = col("df_count")
    val b = col("word_total") - col("df_count")
    val c = col("n_docs") - col("df_count")
    val d = lit(total) - col("word_total") - col("n_docs") + col("df_count")
    withTotals
      .where((a + b) =!= 0 && (a + c) =!= 0 && (b + d) =!= 0 && (c + d) =!= 0)
      .select(col("word"), col("category"),
        call_function("graft_chisq_py",
          col("df_count").cast("long"), col("word_total").cast("long"),
          col("n_docs").cast("long"), lit(total)).as("chi2"))
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

  /** Alphabetically sorted distinct union of the selected words — the
    * reference's 23rd output line (`src/chiSquaredJob.py:120,127`).
    */
  def vocabulary(topk: DataFrame): DataFrame =
    topk.select("word").distinct().orderBy("word")
}
