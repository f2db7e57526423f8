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
  * reuses instead of recomputing the tokenization). Four actions: the
  * category counts, the wordcount write, ONE collect of the top-k, and the
  * chisq/ write of those collected rows (a local relation — no scan, no
  * shuffle); chisq.txt is formatted from the same rows.
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

  def main(args: Array[String]): Unit = {
    require(args.length >= 3,
      "usage: graft.pipeline.Main <reviews.json> <stopwords.txt> <outDir> [k=75]")
    val k = if (args.length > 3) args(3).toInt else 75
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

      // exact (big-int + correctly-rounded division) scoring: this CLI is
      // the reference replacement, so its chisq artifacts reproduce the
      // reference's Python floats bit-for-bit (ChiSquare.scoreExact). The
      // category totals are the collected counters, broadcast as a local
      // relation — no second aggregation of the cached reviews.
      import spark.implicits._
      val catTotals = catMap.toSeq.toDF("category", "n_docs")
      val topk = ChiSquare.topKPerCategory(ChiSquare.scoreExact(
        spark.read.parquet(s"$outDir/wordcount"), catTotals, total), k)
      // top-k is tiny (≤ categories × k rows): ONE action collects it and
      // the driver orders it (category, χ² desc, word) for both artifacts
      val rows = topk.as[(String, String, Double)].collect()
        .sortBy { case (word, cat, chi2) => (cat, -chi2, word) }
      rows.toSeq.toDF("word", "category", "chi2").coalesce(1)
        .write.mode("overwrite").parquet(s"$outDir/chisq")

      // parity text: groupBy keeps the (χ² desc, word) order per category
      val byCat = rows.toSeq.groupBy(_._2).toSeq.sortBy(_._1).map {
        case (cat, rs) => cat -> rs.map { case (word, _, chi2) => word -> chi2 }
      }
      val vocab = rows.map(_._1).distinct.sorted.toSeq
      val lines = RefFormats.formatChiSq(byCat) :+ RefFormats.formatVocabulary(vocab)
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
