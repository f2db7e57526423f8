package graft

import org.apache.spark.sql.{Column, GraftSqlBridge, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import graft.functions.ReviewTokens
import graft.text.TextOps

/** Unit + property tests of the tokenizer — SURVEY.md §7.4 risk #1: the
  * char class must map each stripped char to a SPACE (`don't` → `don t`),
  * keep `<>|^` intact, and strip `€§` + digits + tab. The one-pass kernel
  * is checked row-for-row against the built-in Catalyst spelling of the
  * same mapper, which lives here as the reference.
  */
class TextOpsSpec extends SparkSpec {
  import spark.implicits._

  /** Reference: the stripped class as a Java regex, each match replaced by
    * a space, then Python `str.split()` semantics and per-review dedup. */
  private val strippedClass = """[()\[\]{}.!?,;:+=\-_"~#@&*%€$§/\\0-9\t']"""
  /** Python's `str.isspace` set: Java's `\s` lacks all but the first six. */
  private val pythonSpace = """[ \t\n\x{0B}\f\r\x{1C}-\x{1F}\x{85}\x{A0}\x{1680}""" +
    """\x{2000}-\x{200A}\x{2028}\x{2029}\x{202F}\x{205F}\x{3000}]+"""
  private def cleanChars(c: Column): Column =
    regexp_replace(lower(c), strippedClass, " ")
  private def distinctTokens(c: Column): Column =
    array_distinct(filter(split(c, pythonSpace), w => length(w) > lit(0)))
  /** The chain without case folding: the reference for the bare kernel. */
  private def chainNoLower(c: Column): Column =
    distinctTokens(regexp_replace(c, strippedClass, " "))
  private def kernel(c: Column): Column =
    GraftSqlBridge.column(ReviewTokens(GraftSqlBridge.expression(c)))

  /** Rows where the kernel and the reference chain disagree, with and
    * without `lower`; `repartition` keeps the projection out of the
    * driver-side local-relation folding, so it runs in whole-stage codegen. */
  private def mismatches(texts: org.apache.spark.sql.DataFrame): Seq[Row] =
    texts.repartition(4)
      .select(col("t"),
        TextOps.reviewTokens(col("t")).as("got"),
        distinctTokens(cleanChars(col("t"))).as("want"),
        kernel(col("t")).as("got_raw"),
        chainNoLower(col("t")).as("want_raw"))
      .where(!(col("got") <=> col("want")) || !(col("got_raw") <=> col("want_raw")))
      .collect().toSeq

  private def tokensOf(s: String): Seq[String] =
    Seq(s).toDF("t")
      .select(TextOps.reviewTokens(col("t")).as("w"))
      .head().getSeq[String](0)

  test("stripped chars map to spaces, not deletion: don't -> don t") {
    assert(tokensOf("don't stop") === Seq("don", "t", "stop"))
  }

  test("<, >, |, ^ survive (reference quirk)") {
    assert(tokensOf("a > b | c ^ d < e") === Seq("a", ">", "b", "|", "c", "^", "d", "<", "e"))
  }

  test("digits, €, §, tab, punctuation are stripped") {
    assert(tokensOf("abc123def €50 §2\tx.y!z") === Seq("abc", "def", "x", "y", "z"))
  }

  test("case folding happens before tokenization") {
    assert(tokensOf("Hello WORLD") === Seq("hello", "world"))
  }

  test("per-review dedup: repeated words count once") {
    assert(tokensOf("spam spam spam ham") === Seq("spam", "ham"))
  }

  test("empty and whitespace-only input yields no tokens") {
    assert(tokensOf("") === Seq.empty)
    assert(tokensOf("   \t  123 ... ") === Seq.empty)
  }

  test("stopword artifact: 596 lines collapse to 591 distinct filterable words") {
    val sw = graft.pipeline.TextPipelineQueries.stopwords
    assert(sw.size === 591, "reference file has 5 duplicate words")
    assert(sw.distinct === sw)
    // the InSet filter runs on TOKENIZER OUTPUT, so every stopword must
    // survive tokenization unchanged (lowercase, no stripped chars) or it
    // could never match and would silently leak through
    for (w <- sw) assert(tokensOf(w) === Seq(w), s"stopword '$w' not tokenizer-stable")
  }

  test("full stopword list drives the wordcount filter") {
    val docs = Seq(
      (1L, "about the games", "en"),
      (2L, "the games about", "de")).toDF("doc_id", "text", "lang")
    val got = graft.wordcount.WordCount.documentFrequency(
        docs, col("text"), col("lang"),
        graft.pipeline.TextPipelineQueries.stopwords.toSet)
      .as[(String, String, Long)].collect().toSet
    // 'about' and 'the' are in the 596-word artifact; 'games' is not
    assert(got === Set(("games", "en", 1L), ("games", "de", 1L)))
  }

  test("property: tokens never contain stripped chars, never empty, always distinct") {
    val stripped = "()[]{}.!?,;:+=-_\"~#@&*%€$§/\\0123456789\t'".toSet
    val pool = "ab c(d)e1!?\t'€§<>|^/\\\n日本語ümn.,;:" // mixes kept + stripped + unicode
    val rnd = new scala.util.Random(42)
    val samples = Seq.fill(60)(
      Seq.fill(rnd.nextInt(30))(pool(rnd.nextInt(pool.length))).mkString)
    val rows = samples.toDF("t")
      .select(TextOps.reviewTokens(col("t")).as("w"))
      .collect().map(_.getSeq[String](0))
    for (ts <- rows) {
      assert(ts.forall(t => t.nonEmpty && !t.exists(stripped.contains)))
      assert(ts.distinct === ts)
    }
  }

  test("kernel equals the regex chain on every fixture of this spec") {
    val fixtures = Seq("don't stop", "a > b | c ^ d < e",
      "abc123def €50 §2\tx.y!z", "Hello WORLD", "spam spam spam ham", "",
      "   \t  123 ... ") ++ graft.pipeline.TextPipelineQueries.stopwords
    val bad = mismatches(fixtures.toDF("t"))
    assert(bad.isEmpty, bad.take(5).mkString("\n"))
  }

  test("property: kernel equals the regex chain on 20k seeded random strings") {
    val alphabet: IndexedSeq[String] =
      ReviewTokens.Stripped.map(_.toString) ++              // incl. € and §
        Seq("<", ">", "|", "^") ++                          // kept
        Seq(" ", "\t", "\n", "\u000B", "\f", "\r") ++       // Java \s
        Seq("\u001C", "\u001F", "\u0085", "\u00A0", "\u1680", "\u2000",
          "\u200A", "\u2028", "\u2029", "\u202F", "\u205F", "\u3000") ++ // Python's too
        Seq("\u200B", "\u180E", "\u2060", "\uFEFF", "\u2030") ++ // NOT split
        Seq("\uD83D\uDE00", "\uD835\uDD38") ++              // non-BMP
        Seq("\u0130", "\u03A3", "\u212A", "\u00DF") ++      // İ Σ K ß
        Seq("a", "b", "z", "A", "Q", "é", "ü", "日", "本", "\u0000")
    val rnd = new scala.util.Random(20260)
    val texts: Seq[String] = Seq.fill(20000) {
      if (rnd.nextInt(50) == 0) null
      else Seq.fill(rnd.nextInt(40))(alphabet(rnd.nextInt(alphabet.size))).mkString
    }
    val bad = mismatches(texts.toDF("t"))
    assert(bad.isEmpty, s"${bad.size} mismatches, e.g.\n" + bad.take(5).mkString("\n"))
  }

  test("invalid UTF-8 decodes to U+FFFD exactly as in the regex chain") {
    // lone continuation, truncated €, overlong '/', surrogate, 0xFF, and
    // the € / § lead bytes followed by the wrong continuation
    val pieces: IndexedSeq[Array[Byte]] = IndexedSeq(
      Array(0x80), Array(0xE2, 0x82), Array(0xC0, 0xAF), Array(0xED, 0xA0, 0x80),
      Array(0xFF), Array(0xC2), Array(0xC2, 0xA8), Array(0xE2, 0x82, 0xAD),
      Array(0xE2, 0x82, 0xAC), Array(0xC2, 0xA7), Array(0x41), Array(0x62),
      Array(0x20), Array(0x2E), Array(0x31)).map(_.map(_.toByte))
    val rnd = new scala.util.Random(7)
    val blobs = Seq.fill(2000)(
      Array.concat(Seq.fill(rnd.nextInt(12))(pieces(rnd.nextInt(pieces.size))): _*))
    val texts = blobs.toDF("b").select(col("b").cast("string").as("t"))
    val bad = mismatches(texts)
    assert(bad.isEmpty, bad.take(5).mkString("\n"))
    // and the bare kernel call agrees with Java's decoder directly
    val direct = ReviewTokens.compute(UTF8String.fromBytes(Array(0x61, 0xFF, 0x62, 0x20, 0x80)
      .map(_.toByte)))
    assert(direct.toArray[UTF8String](org.apache.spark.sql.types.StringType).map(_.toString)
      .toSeq === Seq("a\uFFFDb", "\uFFFD"))
  }

  test("null input yields a null token array") {
    val got = Seq[String](null, "x").toDF("t").repartition(1)
      .select(TextOps.reviewTokens(col("t"))).as[Seq[String]].collect().toSeq
    assert(got.toSet === Set(null, Seq("x")))
  }

  test("tokens do not share memory with the input buffer") {
    def check(bytes: Array[Byte], in: UTF8String): Unit = {
      val toks = ReviewTokens.compute(in)
      java.util.Arrays.fill(bytes, 'x'.toByte)
      assert(toks.toArray[UTF8String](org.apache.spark.sql.types.StringType)
        .map(_.toString).toSeq === Seq("alpha", "beta"))
    }
    // the whole array (getBytes returns the backing array) and a slice
    val whole = "alpha beta alpha".getBytes("UTF-8")
    check(whole, UTF8String.fromBytes(whole))
    val padded = "##alpha beta alpha##".getBytes("UTF-8")
    check(padded, UTF8String.fromBytes(padded, 2, padded.length - 4))
  }
}
