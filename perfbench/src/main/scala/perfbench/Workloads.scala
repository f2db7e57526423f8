package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import java.security.MessageDigest
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.chisq.ChiSquare
import graft.dedup.Dedup
import graft.model.{PipelineCounters, RefFormats, Tables}
import graft.pipeline.{Main, Pipeline}
import graft.text.TextOps
import graft.wordcount.WordCount

/** What one operation produced: a digest of its outputs, the failed output
  * checks (empty when correct) and the counts the record reports. */
final case class Outcome(digest: String, failures: Seq[String],
    counts: Map[String, Double] = Map.empty)

/** One workload: an operation is one full call of its entry point over the
  * staged inputs. `run` is the untraced operation. `traced` makes the entry
  * point's own sequence of public layer calls, with the same caching and
  * the same actions, and a span around each call. A call the program leaves
  * lazy is forced with a noop sink in a span marked "extra" (its work
  * includes recomputing its uncached inputs, as the program's next action
  * does); a persist the program fills in a later action is filled in its own
  * span, marked "moved". It must produce the same outputs. */
trait Workload {
  def run(spark: SparkSession, out: Path): Outcome
  def traced(spark: SparkSession, out: Path, tr: Tracer, op: Int): Outcome
  /** Traced operations of another entry point that a traced run makes as
    * well, by kind; their outputs are checked and digested on their own. */
  def otherTraced: Map[String, (SparkSession, Path, Tracer, Int) => Outcome] = Map.empty
  /** Measured operations a run makes at least, whatever `--seconds` says. */
  def minMeasured: Int = 5
}

object Workload {
  val K = 75

  def apply(name: String, data: Path): Workload = name match {
    case "reviews_long" => new ReviewsLong(data)
    case "vocab_wide" => new VocabWide(data)
    case "neardup_pairs" => new NearDupPairs(data)
    case other => throw new IllegalArgumentException(s"unknown workload $other")
  }

  def read(p: Path): String = Files.readString(p, UTF_8)
  def lines(p: Path): Seq[String] =
    Files.readAllLines(p, UTF_8).asScala.toSeq.filter(_.nonEmpty)

  def sha256(parts: String*): String = {
    val md = MessageDigest.getInstance("SHA-256")
    parts.foreach(p => md.update(p.getBytes(UTF_8)))
    md.digest().map(b => f"$b%02x").mkString
  }

  /** The planted integer count `key` from planted.json. */
  def planted(data: Path, key: String): Long = {
    val m = s""""$key":\\s*(\\d+)""".r.findFirstMatchIn(read(data.resolve("planted.json")))
    m.map(_.group(1).toLong).getOrElse(
      throw new IllegalStateException(s"planted.json has no $key"))
  }

  /** At most K words per category, and the vocabulary is the sorted
    * distinct union of the selected words. */
  def topKShape(byCat: Seq[(String, Seq[String])], vocab: Seq[String]): Seq[String] = {
    val over = byCat.collect { case (c, ws) if ws.size > K => s"$c has ${ws.size} > $K rows" }
    val union = byCat.flatMap(_._2).distinct.sorted
    over ++ (if (vocab != union) Seq("vocabulary is not the sorted distinct union of the top-k words")
             else Nil)
  }

  /** Run `df` into Spark's noop sink, counting its rows; the number of a
    * forced call that the program leaves lazy. */
  def noopSink(df: DataFrame): Long = {
    val obs = new org.apache.spark.sql.Observation("rows")
    df.observe(obs, count(lit(1)).as("rows")).write.format("noop").mode("overwrite").save()
    obs.get("rows").asInstanceOf[Long]
  }

  /** `Pipeline.run`'s call sequence over the reviews at `input`, one span
    * per layer call; returns the collected top-k rows and vocabulary.
    * Pipeline.run unpersists its cached reviews before it returns, so top-k
    * and the vocabulary are each computed from the raw input. */
  def tracedPipelineRun(spark: SparkSession, input: String, stopwords: Set[String],
      tr: Tracer, op: Int): (Array[Row], Seq[String]) =
    tr.operation(op, "pipeline.Pipeline.run") {
      import spark.implicits._
      val pruned = tr.call("model.reviews", "moved") {
        val p0 = Tables.reviews(spark, input)
          .select(col("reviewText").as("text"), col("category"))
        // the same spread rule as Pipeline.run
        val p = (if (p0.rdd.getNumPartitions >= spark.sparkContext.defaultParallelism) p0
                 else p0.repartition(spark.conf.get("spark.sql.shuffle.partitions").toInt,
                   col("category"), col("text"))).persist()
        (p, p.count())
      }
      tokenize(pruned, tr)
      val catRows = tr.call("wordcount.categoryTotals") {
        val rows = WordCount.categoryTotals(pruned, col("category")).as[(String, Long)].collect()
        (rows, rows.length.toLong)
      }
      val total = catRows.map(_._2).sum
      val catTotals = catRows.toSeq.toDF("category", "n_docs")
      val df = WordCount.documentFrequency(pruned, col("text"), col("category"), stopwords)
      val scored = ChiSquare.score(df, catTotals, total)
      val topk = ChiSquare.topKPerCategory(scored, K)
        .orderBy(col("category"), col("chi2").desc, col("word"))
      val vocabDf = ChiSquare.vocabulary(topk)
      pruned.unpersist(blocking = false)
      tr.call("wordcount.documentFrequency", "extra")((), noopSink(df))
      tr.call("chisq.score", "extra")((), noopSink(scored))
      val rows = tr.call("chisq.topKPerCategory") {
        val r = topk.collect()
        (r, r.length.toLong)
      }
      val vocab = tr.call("chisq.vocabulary") {
        val v = vocabDf.collect().map(_.getString(0)).toSeq
        (v, v.size.toLong)
      }
      ((rows, vocab), rows.length.toLong)
    }

  /** Top-k rows as `category \t word \t IEEE bits of chi2` lines. */
  def topKLines(rows: Array[Row]): Seq[String] =
    rows.toSeq.map(r => s"${r.getString(r.fieldIndex("category"))}\t" +
      s"${r.getString(r.fieldIndex("word"))}\t" +
      java.lang.Double.doubleToLongBits(r.getDouble(r.fieldIndex("chi2"))))

  def byCategory(lines: Seq[String]): Seq[(String, Seq[String])] =
    lines.map(_.split("\t")).groupBy(_(0)).toSeq.sortBy(_._1)
      .map { case (c, rs) => c -> rs.map(_(1)) }

  /** The tokenizer projection over the cached reviews into the noop sink, an
    * action the program never runs; the span notes the number of distinct
    * tokens per review, summed. */
  def tokenize(reviews: DataFrame, tr: Tracer): Unit = tr.call("text.reviewTokens", "extra") {
    val obs = new org.apache.spark.sql.Observation("tokens")
    reviews.select(TextOps.reviewTokens(col("text")).as("t"))
      .observe(obs, count(lit(1)).as("rows"), sum(size(col("t"))).as("tokens"))
      .write.format("noop").mode("overwrite").save()
    val m = obs.get
    tr.note("tokens", m("tokens").asInstanceOf[Long].toDouble)
    ((), m("rows").asInstanceOf[Long])
  }
}

import Workload._

/** `graft.pipeline.Main.run`, the CLI path, over long Amazon-shaped reviews. */
final class ReviewsLong(data: Path) extends Workload {
  private val input = data.resolve("reviews").toString
  private val stopPath = data.resolve("stopwords.txt").toString
  private val malformed = planted(data, "malformed_lines")
  private val expectedCounters = read(data.resolve("expected_counters.txt"))
  private val expectedChisq = read(data.resolve("expected_chisq.txt"))

  def run(spark: SparkSession, out: Path): Outcome = {
    val counters = Main.run(spark, input, stopPath, out.toString, K)
    check(out, counters.malformedLines.value)
  }

  /** A traced run also traces the library path, `Pipeline.run`, over the
    * same reviews, so that its layer calls (`chisq.score` among them) are
    * measured on this workload too. Its top-k is in double precision, not
    * the exact chi2 of chisq.txt, so it is checked for shape only, and its
    * digest must repeat across operations and runs. */
  override def otherTraced = Map("library" -> tracedLibrary _)

  private def tracedLibrary(spark: SparkSession, out: Path, tr: Tracer, op: Int): Outcome = {
    val stopwords = lines(Paths.get(stopPath)).map(_.trim).filter(_.nonEmpty).toSet
    val (rows, vocab) = tracedPipelineRun(spark, input, stopwords, tr, op)
    val got = topKLines(rows)
    Outcome(sha256(got.mkString("\n"), vocab.mkString("\n")), topKShape(byCategory(got), vocab))
  }

  /** Main.run's call sequence, one span per layer call. */
  def traced(spark: SparkSession, out: Path, tr: Tracer, op: Int): Outcome =
    tr.operation(op, "pipeline.Main.run") {
      val counters = PipelineCounters(spark)
      val stopwords = Files.readAllLines(Paths.get(stopPath)).asScala
        .map(_.trim).filter(_.nonEmpty).toSet
      val pruned = tr.call("model.reviews", "moved") {
        val p = Tables.reviews(spark, input, Some(counters))
          .select(col("reviewText").as("text"), col("category")).persist()
        (p, p.count())
      }
      tokenize(pruned, tr)
      val (catTotals, catMap) = tr.call("wordcount.categoryTotals") {
        val t = WordCount.categoryTotals(pruned, col("category"))
        val m = t.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
        ((t, m), m.size.toLong)
      }
      val total = catMap.values.sum
      tr.call("model.RefFormats") {
        RefFormats.writeCounters(s"$out/counters.txt", total, catMap)
        ((), 1L)
      }
      tr.call("wordcount.documentFrequency") {
        WordCount.documentFrequency(pruned, col("text"), col("category"), stopwords)
          .write.mode("overwrite").parquet(s"$out/wordcount")
        ((), -1L)
      }
      val scored = tr.call("chisq.scoreExact", "extra") {
        val s = ChiSquare.scoreExact(spark.read.parquet(s"$out/wordcount"), catTotals, total)
        (s, noopSink(s))
      }
      tr.call("chisq.topKPerCategory") {
        ChiSquare.topKPerCategory(scored, K)
          .orderBy(col("category"), col("chi2").desc, col("word"))
          .write.mode("overwrite").parquet(s"$out/chisq")
        ((), -1L)
      }
      val n = tr.call("model.RefFormats") {
        val rows = spark.read.parquet(s"$out/chisq").collect()
          .map(r => (r.getString(r.fieldIndex("category")),
            r.getString(r.fieldIndex("word")), r.getDouble(r.fieldIndex("chi2"))))
        val byCat = rows.groupBy(_._1).toSeq.sortBy(_._1).map { case (c, rs) =>
          (c, rs.sortBy(r => (-r._3, r._2)).map(r => r._2 -> r._3).toSeq)
        }
        val text = RefFormats.formatChiSq(byCat) :+
          RefFormats.formatVocabulary(rows.map(_._2).distinct.sorted.toSeq)
        Files.writeString(out.resolve("chisq.txt"), text.mkString("", "\n", "\n"))
        (rows.length.toLong, text.size.toLong)
      }
      pruned.unpersist(blocking = false)
      (check(out, counters.malformedLines.value), n)
    }

  private def check(out: Path, malformedSeen: Long): Outcome = {
    val counters = read(out.resolve("counters.txt"))
    val chisq = read(out.resolve("chisq.txt"))
    val failures = Seq.newBuilder[String]
    if (counters != expectedCounters)
      failures += "counters.txt differs from the planted per-category counts"
    if (malformedSeen != malformed)
      failures += s"malformed_lines $malformedSeen, planted $malformed"
    val quoted = "'([^']*)'".r
    val parsed = chisq.split("\n").toSeq
    val byCat = parsed.init.map { l =>
      val Array(c, d) = l.split("\t", 2)
      c -> quoted.findAllMatchIn(d).map(_.group(1)).toSeq
    }
    failures ++= topKShape(byCat, quoted.findAllMatchIn(parsed.last).map(_.group(1)).toSeq)
    if (chisq != expectedChisq)
      failures += "chisq.txt differs from the reference computation"
    Outcome(sha256(counters, chisq), failures.result())
  }
}

/** `graft.pipeline.Pipeline.run`, the library path, over short reviews with
  * a heavy-tailed vocabulary and several hundred categories. */
final class VocabWide(data: Path) extends Workload {
  private val input = data.resolve("reviews").toString
  private val stopwords = lines(data.resolve("stopwords.txt")).toSet
  private val expectedTopK = lines(data.resolve("expected_topk.tsv"))
  private val expectedVocab = lines(data.resolve("expected_vocab.txt"))

  def run(spark: SparkSession, out: Path): Outcome = {
    val (topk, vocab) = Pipeline.run(Tables.reviews(spark, input),
      "reviewText", "category", stopwords, K)
    check(topk.collect(), vocab.collect().map(_.getString(0)).toSeq)
  }

  def traced(spark: SparkSession, out: Path, tr: Tracer, op: Int): Outcome = {
    val (rows, vocab) = tracedPipelineRun(spark, input, stopwords, tr, op)
    check(rows, vocab)
  }

  private def check(rows: Array[Row], vocab: Seq[String]): Outcome = {
    val got = topKLines(rows)
    val failures = Seq.newBuilder[String]
    failures ++= topKShape(byCategory(got), vocab)
    if (got != expectedTopK) failures += "top-k rows differ from the reference computation"
    if (vocab != expectedVocab) failures += "vocabulary differs from the reference computation"
    Outcome(sha256(got.mkString("\n"), vocab.mkString("\n")), failures.result())
  }
}

/** `graft.dedup.Dedup.jaccardPairsFrom` then `Dedup.clustersFromPairs` over
  * documents with planted exact-copy groups, edited copies and hot
  * shingles. */
final class NearDupPairs(data: Path) extends Workload {
  private val docCount = planted(data, "docs")
  private val exactPairs = lines(data.resolve("expected_exact_pairs.tsv"))
  private val exactGroups = lines(data.resolve("expected_exact_groups.tsv"))
    .map(_.split(" ").map(_.toLong).toSeq)

  private def docs(spark: SparkSession) =
    Tables.loadSpread(spark, data.toString, "documents", "doc_id")

  def run(spark: SparkSession, out: Path): Outcome = {
    val pairs = Dedup.jaccardPairsFrom(docs(spark))
    val pairRows = pairs.collect()
    check(pairRows, Dedup.clustersFromPairs(pairs.select("doc_a", "doc_b")).collect())
  }

  def traced(spark: SparkSession, out: Path, tr: Tracer, op: Int): Outcome =
    tr.operation(op, "dedup.nearDupPairs") {
      val (pairs, pairRows) = tr.call("dedup.jaccardPairsFrom") {
        val p = Dedup.jaccardPairsFrom(docs(spark))
        val rows = p.collect()
        tr.note("pairs_per_doc", rows.length.toDouble / docCount)
        ((p, rows), rows.length.toLong)
      }
      val clusters = tr.call("dedup.clustersFromPairs") {
        val c = Dedup.clustersFromPairs(pairs.select("doc_a", "doc_b")).collect()
        tr.note("pairs_per_doc", pairRows.length.toDouble / docCount)
        (c, c.length.toLong)
      }
      (check(pairRows, clusters), pairRows.length.toLong)
    }

  private def check(pairs: Array[Row], clusters: Array[Row]): Outcome = {
    val got = pairs.toSeq.map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val jaccard = got.map { case (a, b, j) => s"$a\t$b" -> j }.toMap
    val failures = Seq.newBuilder[String]
    val missing = exactPairs.count(p => !jaccard.get(p).contains(1.0))
    if (missing > 0) failures += s"$missing planted exact-copy pairs missing or below 1.0"
    val label = clusters.map(r => r.getLong(0) -> r.getLong(1)).toMap
    val split = exactGroups.count(g => g.exists(d => !label.get(d).contains(g.min)))
    if (split > 0) failures += s"$split planted exact-copy groups not labelled with their minimum id"
    val pairText = got.map { case (a, b, j) =>
      s"$a\t$b\t${java.lang.Double.doubleToLongBits(j)}" }.mkString("\n")
    val labelText = clusters.map(r => s"${r.getLong(0)}\t${r.getLong(1)}").mkString("\n")
    Outcome(sha256(pairText, labelText), failures.result(),
      Map("pairs" -> got.size.toDouble, "clustered_docs" -> clusters.length.toDouble))
  }
}
