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
  * driver program, no intermediate text materialization between "jobs".
  * Job 1's relation `(word, category, df_count, word_total)` is cached:
  * `wordcount/` is written from it and [[graft.chisq.ChiSquare.topK]]
  * scores from it, so the χ² stage neither re-reads the parquet nor
  * shuffles it again. Its one exchange hashes the DF aggregate by word
  * ([[graft.plans.PartitionAggregateByConsumerKeys]]), as the reference's
  * job 1 keys its output by word. Four actions, each named by its job
  * description: the category counts, the wordcount write (which fills the
  * cache), the top-k's ONE collect, and the chisq/ write of those rows (a
  * local relation — no scan, no shuffle); chisq.txt formats them.
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

    val sc = spark.sparkContext
    val callerPhase = sc.getLocalProperty("spark.job.description")
    def phase[T](name: String)(action: => T): T = {
      sc.setJobDescription(s"Main.run: $name")
      action
    }

    val reviews = Tables.reviews(spark, input, Some(counters))
    val pruned = reviews
      .select(col("reviewText").as("text"), col("category")).persist()
    val counted = ChiSquare.withWordTotal(WordCount.documentFrequency(
      pruned, col("text"), col("category"), stopwords)).persist()
    try {
      // counters: exact actions on the cached parse (NOT accumulators —
      // those double-count on task retry)
      val catMap = phase("category counts") {
        WordCount.categoryTotals(pruned, col("category")).collect()
      }.map(r => r.getString(0) -> r.getLong(1)).toMap
      val total = catMap.values.sum
      RefFormats.writeCounters(s"$outDir/counters.txt", total, catMap)

      phase("wordcount write") {
        counted.drop("word_total").write.mode("overwrite").parquet(s"$outDir/wordcount")
      }

      // exact scoring: this CLI's chisq artifacts reproduce the reference's
      // Python floats bit-for-bit; the category totals are the collected
      // counters, not a second aggregation of the cached reviews
      val rows = phase("chi2 top-k") {
        ChiSquare.topK(counted, catMap.toSeq, k, exact = true)
      }
      import spark.implicits._
      phase("chisq write") {
        rows.toDF().coalesce(1).write.mode("overwrite").parquet(s"$outDir/chisq")
      }

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
    } finally {
      counted.unpersist(blocking = false)
      pruned.unpersist(blocking = false)
      sc.setJobDescription(callerPhase)
    }
  }
}
