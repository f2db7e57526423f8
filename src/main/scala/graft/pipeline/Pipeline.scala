package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.Tables
import graft.text.TextOps
import graft.wordcount.WordCount
import graft.chisq.ChiSquare

/** End-to-end composition of the reference's two-job pipeline (SURVEY.md §3)
  * over a (text, category) relation: reviews → document-frequency word count
  * → χ² → top-k per category → vocabulary. Two actions, each a collect of ≤
  * categories × k rows: the category counts and [[ChiSquare.topK]]'s.
  */
object Pipeline {

  /** The pipeline with the double χ²; its two actions run before it returns.
    * @return (top-k rows (word, category, chi2), sorted vocabulary) as local relations
    */
  def run(
      docs: DataFrame,
      textCol: String,
      categoryCol: String,
      stopwords: Set[String],
      k: Int = 75): (DataFrame, DataFrame) = {
    val spark = docs.sparkSession
    import spark.implicits._
    val spread = Tables.spread(
      docs.select(col(textCol).as("text"), col(categoryCol).as("category")),
      col("category"), col("text"))
    // the reference's counters.txt round-trip without the file
    val catRows = WordCount.categoryTotals(spread, col("category"))
      .as[(String, Long)].collect()
    val df = WordCount.documentFrequency(spread, col("text"), col("category"), stopwords)
    val rows = ChiSquare.topK(df, catRows.toSeq, k, exact = false)
    (rows.toDF(), ChiSquare.vocabulary(rows).toDF("word"))
  }
}

/** The reference pipeline's operators as driver-checkable queries over the
  * `documents` test table (text ≈ reviewText, lang ≈ category). Every query
  * has a DuckDB oracle twin built from the same tokenizer char class and
  * the same double-precision χ² expression shape, so hashes match bit-exact.
  */
object TextPipelineQueries {

  /** The reference's full 596-line stopword artifact, shipped as a
    * classpath resource (reference `src/data/stopwords.txt`; its
    * duplicates, e.g. `album` at `:17-18`, collapse here — the reference
    * loads into a Python set with the same effect). 591 distinct words
    * drive every declared query AND its oracle twin, so the driver's
    * correctness gate exercises the real artifact, not a toy list.
    */
  val stopwords: Seq[String] = {
    val in = getClass.getResourceAsStream("/stopwords.txt")
    require(in != null, "stopwords.txt missing from classpath")
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
      .map(_.trim).filter(_.nonEmpty).toSeq.distinct
    finally in.close()
  }

  private def sqlList =
    stopwords.map(w => s"'${w.replace("'", "''")}'").mkString("(", ", ", ")")

  /** The tokenizer char class as a DuckDB/RE2 literal: the characters of
    * ReviewTokens.Stripped, with the `'` doubled for SQL quoting.
    */
  private val duckClass = """[()\[\]{}.!?,;:+=\-_"~#@&*%€$§/\\0-9\t'']"""

  /** ReviewTokens.Whitespace, Python's `str.split()` set, as an RE2 class
    * (RE2's `\s` is only `[\t\n\f\r ]`). */
  private val duckSpace = """[ \t\n\x0B\f\r\x1C-\x1F\x{85}\x{A0}\x{1680}""" +
    """\x{2000}-\x{200A}\x{2028}\x{2029}\x{202F}\x{205F}\x{3000}]+"""

  private val duckTokens =
    s"""SELECT doc_id, lang, unnest(list_distinct(string_split_regex(
        regexp_replace(lower(text), '$duckClass', ' ', 'g'), '$duckSpace'))) AS word
        FROM documents"""

  /** Per-language document frequency of every non-stopword token. */
  def wordcount(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.loadSpread(spark, dir, "documents", "doc_id")
    WordCount.documentFrequency(docs, col("text"), col("lang"), stopwords.toSet)
      .withColumnRenamed("category", "lang")
      .orderBy("word", "lang")
  }

  def wordcountSql: String =
    s"""WITH tok AS ($duckTokens)
        SELECT word, lang, count(*) AS df_count FROM tok
        WHERE len(word) > 0 AND word NOT IN $sqlList
        GROUP BY word, lang ORDER BY word, lang"""

  /** Stopword removal as an explicit broadcast LEFT ANTI join (the
    * SQL-checkable twin of the InSet fast path — SURVEY.md §2 row 21).
    */
  def stopwordAntiJoin(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val docs = Tables.loadSpread(spark, dir, "documents", "doc_id")
    val tokens = docs.select(col("doc_id"),
        explode(TextOps.reviewTokens(col("text"))).as("word"))
      .where(length(col("word")) > 0)
    val stop = stopwords.toDF("stopword")
    WordCount.antiJoinStopwords(tokens, stop)
      .groupBy("word").agg(count(lit(1)).as("n"))
      .orderBy("word")
  }

  def stopwordAntiJoinSql: String =
    s"""WITH tok AS ($duckTokens)
        SELECT word, count(*) AS n FROM tok
        WHERE len(word) > 0 AND word NOT IN $sqlList
        GROUP BY word ORDER BY word"""

  /** χ² top-k words per language — the reference's flagship computation
    * re-expressed over the documents table.
    */
  def chisqTopK(spark: SparkSession, dir: String, k: Int = 10): DataFrame =
    pipeline(spark, dir, k)._1.withColumnRenamed("category", "lang")

  private def pipeline(spark: SparkSession, dir: String, k: Int) =
    Pipeline.run(Tables.load(spark, dir, "documents"), "text", "lang", stopwords.toSet, k)

  def chisqTopKSql(k: Int = 10): String =
    s"""WITH tok AS ($duckTokens),
        df AS (
          SELECT word, lang AS category, count(*) AS df_count FROM tok
          WHERE len(word) > 0 AND word NOT IN $sqlList
          GROUP BY word, lang),
        ct AS (SELECT lang AS category, count(*) AS n_docs FROM documents GROUP BY lang),
        n AS (SELECT count(*) AS total FROM documents),
        wt AS (SELECT *, sum(df_count) OVER (PARTITION BY word) AS word_total FROM df),
        scored AS (
          SELECT word, category,
            CAST(total AS DOUBLE)
              * (CAST(df_count AS DOUBLE) * CAST(total - word_total - n_docs + df_count AS DOUBLE)
                 - CAST(word_total - df_count AS DOUBLE) * CAST(n_docs - df_count AS DOUBLE))
              * (CAST(df_count AS DOUBLE) * CAST(total - word_total - n_docs + df_count AS DOUBLE)
                 - CAST(word_total - df_count AS DOUBLE) * CAST(n_docs - df_count AS DOUBLE))
              / ((CAST(df_count AS DOUBLE) + CAST(word_total - df_count AS DOUBLE))
                 * (CAST(df_count AS DOUBLE) + CAST(n_docs - df_count AS DOUBLE))
                 * (CAST(word_total - df_count AS DOUBLE) + CAST(total - word_total - n_docs + df_count AS DOUBLE))
                 * (CAST(n_docs - df_count AS DOUBLE) + CAST(total - word_total - n_docs + df_count AS DOUBLE))) AS chi2
          FROM wt JOIN ct USING (category), n
          WHERE CAST(df_count AS DOUBLE) + CAST(word_total - df_count AS DOUBLE) <> 0
            AND CAST(df_count AS DOUBLE) + CAST(n_docs - df_count AS DOUBLE) <> 0
            AND CAST(word_total - df_count AS DOUBLE) + CAST(total - word_total - n_docs + df_count AS DOUBLE) <> 0
            AND CAST(n_docs - df_count AS DOUBLE) + CAST(total - word_total - n_docs + df_count AS DOUBLE) <> 0)
        SELECT word, category AS lang, chi2 FROM (
          SELECT word, category, chi2,
            row_number() OVER (PARTITION BY category ORDER BY chi2 DESC, word) AS rn
          FROM scored) t
        WHERE rn <= $k
        ORDER BY lang, chi2 DESC, word"""

  /** Sorted distinct union of the per-language top-k vocabularies — the
    * reference's final output line (SURVEY.md §2 rows 25-26).
    */
  def vocabulary(spark: SparkSession, dir: String, k: Int = 10): DataFrame =
    pipeline(spark, dir, k)._2

  def vocabularySql(k: Int = 10): String = {
    val topk = chisqTopKSql(k)
    s"""SELECT DISTINCT word FROM ($topk) ORDER BY word"""
  }
}
