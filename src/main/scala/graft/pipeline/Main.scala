package graft.pipeline

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import graft.Verify
import graft.model.{PipelineCounters, RefFormats, Tables}
import graft.wordcount.WordCount
import graft.chisq.ChiSquare

/** End-to-end CLI — the engine's replacement for the reference's
  * `src/main.sh` orchestration (reference `src/main.sh:89-191`): one Spark
  * driver program, no intermediate text materialization between "jobs"
  * (job-1's output parquet is a product artifact that the χ² stage then
  * reuses instead of recomputing the tokenization). It adds four sinks to
  * [[graft.chisq.ChiSquare.topK]]. Four actions: the category counts, the
  * wordcount write, the top-k's ONE collect, and the chisq/ write of those
  * rows (a local relation — no scan, no shuffle); chisq.txt formats them.
  *
  * Usage: graft.pipeline.Main <reviews.json> <stopwords.txt> <outDir> [k=75]
  *
  * Outputs under <outDir>:
  *   counters.txt        single line `<total> {'cat': n, ...}` (reference
  *                       `src/wordCountWrapper.py:49-50` format)
  *   wordcount/          parquet (word, category, df_count) — canonical
  *                       form of the reference's job-1 part files
  *   chisq/              parquet (word, category, chi2): the top-k rows
  *                       of chisq.txt, one file in (category, chi2 desc,
  *                       word) order
  *   chisq.txt           RawProtocol parity lines `Cat\t{'w': χ², ...}` +
  *                       final sorted-vocabulary line (reference
  *                       `src/chiSquaredJob.py:110-127`)
  */
object Main {

  private val usage =
    "usage: graft.pipeline.Main <reviews.json> <stopwords.txt> <outDir> [k=75]"

  def main(args: Array[String]): Unit = {
    require(args.length >= 3, usage)
    val k = if (args.length <= 3) 75 else args(3).toIntOption.filter(_ >= 1)
      .getOrElse(throw new IllegalArgumentException(
        s"k must be a positive integer, got '${args(3)}'; $usage"))
    val spark = Verify.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    try run(spark, args(0), args(1), args(2), k)
    finally spark.stop()
  }

  def run(spark: SparkSession, input: String, stopPath: String,
      outDir: String, k: Int = 75): PipelineCounters = {
    val counters = PipelineCounters(spark)
    // stopword side input: tiny file read driver-side, broadcast by the
    // InSet filter (reference ships it via distributed cache); on failure
    // continue with an empty set + advisory counter (reference
    // `src/wordCountJob.py:46-48`)
    val stopwords: Set[String] =
      try Files.readAllLines(Paths.get(stopPath)).asScala
        .map(_.trim).filter(_.nonEmpty).toSet
      catch { case _: Exception =>
        counters.stopwordLoadFailures.add(1L)
        Set.empty
      }

    val reviews = Tables.reviews(spark, input, Some(counters))
    val pruned = reviews
      .select(col("reviewText").as("text"), col("category")).persist()
    try {
      // counters: exact actions on the cached parse (NOT accumulators —
      // those double-count on task retry)
      val catMap = WordCount.categoryTotals(pruned, col("category")).collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val total = catMap.values.sum
      RefFormats.writeCounters(s"$outDir/counters.txt", total, catMap)

      val df = WordCount.documentFrequency(
        pruned, col("text"), col("category"), stopwords)
      df.write.mode("overwrite").parquet(s"$outDir/wordcount")

      // exact scoring: this CLI's chisq artifacts reproduce the reference's
      // Python floats bit-for-bit; the category totals are the collected
      // counters, not a second aggregation of the cached reviews
      val rows = ChiSquare.topK(
        spark.read.parquet(s"$outDir/wordcount"), catMap.toSeq, k, exact = true)
      import spark.implicits._
      rows.toDF().coalesce(1).write.mode("overwrite").parquet(s"$outDir/chisq")

      // rows are in (category, χ² desc, word) order: group them keeping it
      val byCat = rows.map(_.category).distinct.map { cat =>
        cat -> rows.collect { case r if r.category == cat => r.word -> r.chi2 }
      }
      val lines = RefFormats.formatChiSq(byCat) :+
        RefFormats.formatVocabulary(ChiSquare.vocabulary(rows))
      Files.createDirectories(Paths.get(outDir))
      Files.writeString(Paths.get(s"$outDir/chisq.txt"),
        lines.mkString("", "\n", "\n"))
      println(s"[graft] $total reviews, ${catMap.size} categories, " +
        s"${rows.length} scored terms → $outDir")
      println(s"[graft] anomalies: ${counters.summary}")
      counters
    } finally pruned.unpersist(blocking = false)
  }
}
