package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import graft.functions.ReviewTokens
import graft.model.{Observe, RefFormats, Tables}
import graft.pipeline.Main
import graft.wordcount.WordCount

/** End-to-end drive of the CLI pipeline on a synthetic review file
  * covering the FIXTURES.md §A1 semantics: malformed line dropped,
  * missing category → Unknown, missing text → "", stripped char class.
  */
class MainSpec extends SparkSpec {

  /** Seven lines: six parse (one lacks a category, one its text), one is
    * malformed. Returns the temp dir holding reviews.json + stopwords.txt. */
  private def fixtureDir(): String = {
    val dir = Files.createTempDirectory("graft_main").toString
    val reviews = Seq(
      """{"category": "Book", "reviewText": "great plot, great pacing!"}""",
      """{"category": "Book", "reviewText": "plot was thin. weak plot."}""",
      """{"category": "Game", "reviewText": "great graphics & gameplay"}""",
      """{"category": "Game", "reviewText": "gameplay loop is addictive"}""",
      """{"reviewText": "no category here"}""",
      """{"category": "Book"}""",
      """not json at all {{{""",
    ).mkString("\n")
    Files.writeString(Paths.get(s"$dir/reviews.json"), reviews)
    Files.writeString(Paths.get(s"$dir/stopwords.txt"), "was\nis\n&\n")
    dir
  }

  test("SparkEntry.entry: the flagship query returns (word, lang, chi2) rows on sf0.001") {
    val df = SparkEntry.entry(spark)
    assert(df.columns.toSeq == Seq("word", "lang", "chi2"))
    assert(df.count() > 0)
  }

  test("Main.run produces counters, wordcount, chisq, and parity text") {
    val dir = fixtureDir()

    val anomalies =
      Main.run(spark, s"$dir/reviews.json", s"$dir/stopwords.txt", s"$dir/out", k = 2)

    // counters: 6 parsed reviews (malformed line dropped)
    val (total, cats) = RefFormats.readCounters(spark, s"$dir/out/counters.txt")
    assert(total == 6)
    assert(cats == Map("Book" -> 3L, "Game" -> 2L, "Unknown" -> 1L))

    // advisory anomaly surface: exactly the one malformed line, and the
    // stopword file loaded fine
    assert(anomalies.malformedLines.value == 1L)
    assert(anomalies.stopwordLoadFailures.value == 0L)

    val wc = spark.read.parquet(s"$dir/out/wordcount")
    import spark.implicits._
    val wcMap = wc.as[(String, String, Long)].collect()
      .map { case (w, c, n) => (w, c) -> n }.toMap
    // 'plot' appears in both Book docs but THREE times total — per-doc
    // dedup makes it a document frequency of 2; 'great' twice in one doc → 1
    assert(wcMap(("plot", "Book")) == 2)
    assert(wcMap(("great", "Book")) == 1)
    assert(wcMap(("great", "Game")) == 1)
    // stopwords removed, punctuation stripped
    assert(!wcMap.keySet.exists { case (w, _) => w == "was" || w == "&" })

    val topk = spark.read.parquet(s"$dir/out/chisq")
    assert(topk.groupBy("category").count().as[(String, Long)].collect()
      .forall(_._2 <= 2), "k=2 respected per category")

    val parity = Files.readAllLines(Paths.get(s"$dir/out/chisq.txt"))
    assert(parity.size == topk.select("category").distinct().count() + 1)
    assert(parity.get(parity.size - 1).startsWith("['"))
    assert(parity.get(0).matches("""\S+\t\{'.*"""))

    // chisq/ keeps its (word, category, chi2) schema and holds exactly the
    // rows chisq.txt lists, in the text's (category, chi2 desc, word) order
    assert(topk.columns.toSeq == Seq("word", "category", "chi2"))
    val pair = """'([^']*)': ([^,}]+)""".r
    val listed = parity.asScala.init.toSeq.flatMap { line =>
      val Array(cat, dict) = line.split("\t", 2)
      pair.findAllMatchIn(dict).map(m => (m.group(1), cat, m.group(2).toDouble))
    }
    assert(listed.nonEmpty)
    assert(topk.as[(String, String, Double)].collect().toSeq == listed)
  }

  /** A file of the committed byte-parity fixture, written with its expected
    * outputs by `tools/parity_fixture.py` (the reference's rules in Python). */
  private def parity(name: String): String =
    Paths.get(getClass.getResource(s"/parity/$name").toURI).toString

  private def assertSameBytes(got: String, want: String): Unit = {
    val (g, w) = (Files.readAllBytes(Paths.get(got)), Files.readAllBytes(Paths.get(want)))
    if (!java.util.Arrays.equals(g, w)) {
      val gl = new String(g, "UTF-8").split("\n", -1)
      val wl = new String(w, "UTF-8").split("\n", -1)
      val i = gl.indices.find(i => i >= wl.length || gl(i) != wl(i)).getOrElse(gl.length)
      fail(s"$got differs from $want at line ${i + 1}:\n" +
        s"  got:  ${gl.lift(i).getOrElse("<end>")}\n  want: ${wl.lift(i).getOrElse("<end>")}")
    }
  }

  // k=75 cuts Books inside a tie group, k=2 cuts Digital_Music inside one
  for ((k, expected) <- Seq(75 -> "expected_chisq.txt", 2 -> "expected_chisq_k2.txt"))
    test(s"Main.run at k=$k: counters.txt and chisq.txt byte-equal the reference computation") {
      val out = Files.createTempDirectory("graft_parity").toString
      Main.run(spark, parity("reviews.json"), parity("stopwords.txt"), out, k)
      assertSameBytes(s"$out/counters.txt", parity("expected_counters.txt"))
      assertSameBytes(s"$out/chisq.txt", parity(expected))
    }

  test("Main.run at k=75 stays byte-equal under 1, 3 and 8 shuffle partitions") {
    // the word-keyed exchange must not make the output depend on how many
    // partitions the DF aggregate lands in
    val key = "spark.sql.shuffle.partitions"
    val saved = spark.conf.get(key)
    try for (n <- Seq(1, 3, 8)) {
      spark.conf.set(key, n.toString)
      val out = Files.createTempDirectory("graft_parity").toString
      Main.run(spark, parity("reviews.json"), parity("stopwords.txt"), out, 75)
      assertSameBytes(s"$out/counters.txt", parity("expected_counters.txt"))
      assertSameBytes(s"$out/chisq.txt", parity("expected_chisq.txt"))
    } finally spark.conf.set(key, saved)
  }

  test("Main.main rejects a k that is not a positive integer, naming k, before any session") {
    for (bad <- Seq("x", "0", "-3", "7.5")) {
      val e = intercept[IllegalArgumentException](
        Main.main(Array("reviews.json", "stopwords.txt", "out", bad)))
      assert(e.getMessage.contains("k must be a positive integer") &&
        e.getMessage.contains(s"'$bad'"), e.getMessage)
    }
    // Main.main stops the session it gets; the shared one is untouched
    assert(!spark.sparkContext.isStopped)
    val e = intercept[IllegalArgumentException](
      graft.chisq.ChiSquare.topK(spark.emptyDataFrame, Seq("c" -> 1L), 0, exact = false))
    assert(e.getMessage.contains("k must be a positive integer"), e.getMessage)
  }

  test("Tables.reviews without counters: bare count() is the parsed-line count") {
    // a count() prunes every output column; the scan must still read a
    // real column next to _corrupt or Spark refuses the query
    val dir = fixtureDir()
    assert(Tables.reviews(spark, s"$dir/reviews.json").count() == 6L)
  }

  test("plan audit: documentFrequency tokenizes with one kernel, no regex chain") {
    import org.apache.spark.sql.functions.col
    val dir = fixtureDir()
    val reviews = Tables.reviews(spark, s"$dir/reviews.json")
    val plan = WordCount.documentFrequency(reviews, col("reviewText"),
      col("category"), Set("was")).queryExecution.optimizedPlan
    val names = plan.flatMap(_.expressions.flatMap(_.collect {
      case e => e.getClass.getSimpleName
    }))
    assert(plan.flatMap(_.expressions.flatMap(_.collect {
      case e: ReviewTokens => e.prettyName
    })) == Seq("graft_review_tokens"))
    for (old <- Seq("RegExpReplace", "ArrayFilter", "ArrayDistinct"))
      assert(!names.contains(old), s"$old still in the plan:\n$plan")
  }

  test("missing stopword file: pipeline continues, anomaly counter fires") {
    val dir = Files.createTempDirectory("graft_main2").toString
    Files.writeString(Paths.get(s"$dir/reviews.json"),
      """{"category": "Book", "reviewText": "the plot is great"}""")

    val anomalies = Main.run(
      spark, s"$dir/reviews.json", s"$dir/no_such_stopwords.txt", s"$dir/out", k = 2)

    assert(anomalies.stopwordLoadFailures.value == 1L)
    assert(anomalies.malformedLines.value == 0L)
    // empty stopword set: 'the'/'is' survive (reference semantics)
    import spark.implicits._
    val words = spark.read.parquet(s"$dir/out/wordcount")
      .select("word").as[String].collect().toSet
    assert(words == Set("the", "plot", "is", "great"))
  }

  test("observed metrics report exactly the consumed rows") {
    import spark.implicits._
    val df = Seq((1L, "alpha"), (2L, null), (3L, "beta"))
      .toDF("doc_id", "text")
    val (framed, obs) = Observe.inputStats(df)
    framed.write.format("noop").mode("overwrite").save()
    val m = obs.get
    assert(m("n_rows") == 3L, s"n_rows: $m")
    assert(m("null_texts") == 1L, s"null_texts: $m")
    assert(m("text_chars") == 9L, s"text_chars: $m")
  }
}
