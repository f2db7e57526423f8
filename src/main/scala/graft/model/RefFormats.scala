package graft.model

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Readers/writers for the reference engine's on-disk interchange formats
  * (SURVEY.md §2 rows 3-6) so its committed fixtures can feed our operators:
  *
  *  - wordcount part files: `"word"\t{"category": n, ...}` per line
  *    (mrjob JSONProtocol — reference `src/wordCountJob.py` output,
  *    fixture `src/output/amazon_reviews_chiotp/wordcount/part-*`);
  *  - counters file: single line `<total:int> {'cat': n, ...}` (python-repr
  *    dict — reference `src/wordCountWrapper.py:49-50`, `src/data/counters.txt`);
  *  - chisq result: `Category\t{'word': chi2, ...}` lines + one final
  *    python-list vocabulary line (reference `src/chiSquaredJob.py:110-127`).
  */
object RefFormats {

  /** Parse wordcount part files into tidy (word, category, df_count).
    * The key is a JSON string and the value a JSON object; both parsed by
    * Spark's vectorized from_json — no UDFs, stays in codegen.
    */
  def readWordCounts(spark: SparkSession, pathGlob: String): DataFrame = {
    // from_json has no scalar-string schema; wrapping the quoted key in
    // [...] parses it as a 1-element array, handling every JSON escape
    val kv = spark.read.text(pathGlob)
      .select(
        element_at(from_json(
          concat(lit("["), substring_index(col("value"), "\t", 1), lit("]")),
          ArrayType(StringType)), 1).as("word"),
        from_json(substring_index(col("value"), "\t", -1),
          MapType(StringType, LongType)).as("counts"))
    kv.select(col("word"), explode(col("counts")).as(Seq("category", "df_count")))
  }

  /** Parse a counters file: (total, Map(category -> nDocs)). Single line,
    * driver-side — this is cross-job scalar state, not dataflow.
    */
  def readCounters(spark: SparkSession, path: String): (Long, Map[String, Long]) = {
    val line = spark.read.textFile(path).head().trim
    val Array(total, dict) = line.split(" ", 2)
    // python-repr dict → JSON (single → double quotes; keys have no quotes
    // inside them in this dataset, categories are [A-Za-z_] only)
    val json = dict.replace("'", "\"")
    import spark.implicits._
    val m = spark.createDataset(Seq(json))
      .select(from_json(col("value"), MapType(StringType, LongType)).as("m"))
      .head().getMap[String, Long](0)
    (total.toLong, Map(m.toSeq: _*))
  }

  /** Python float `repr` (CPython ≥3.1): the SHORTEST correctly-rounded
    * decimal string that round-trips to the same double, rendered fixed
    * for 10⁻⁴ ≤ |x| < 10¹⁶ and as `Ne±XX` scientific outside. Java 17's
    * `Double.toString` disagrees on both counts (`1.0E7` where Python
    * prints `10000000.0`, and pre-JDK-19 it is not always shortest), so
    * byte-level parity with the reference's RawProtocol output (Python
    * `str(dict)` — reference `src/chiSquaredJob.py:124,127`) needs this
    * formatter.
    */
  def pythonRepr(d: Double): String = {
    require(!d.isNaN && !d.isInfinite, s"no repr for $d")
    if (d == 0.0) return if (1.0 / d < 0) "-0.0" else "0.0"
    val neg = d < 0
    val x = math.abs(d)
    // shortest %.{p}e form that round-trips (p = significant digits)
    // Locale.ROOT: the default locale may use ',' as the decimal separator,
    // which would make s.toDouble throw instead of round-tripping.
    val sci = (1 to 17).iterator
      .map(p => String.format(java.util.Locale.ROOT, "%." + (p - 1) + "e", Double.box(x)))
      .find(s => s.toDouble == x)
      .get
    val Array(mant, expS) = sci.split("e")
    val exp = expS.toInt
    val digits = mant.replace(".", "")
    val body =
      if (exp >= 16 || exp < -4) {
        // scientific: first digit, optional fraction, e±XX (2+ exp digits)
        val frac = digits.drop(1).reverse.dropWhile(_ == '0').reverse
        val m = if (frac.isEmpty) digits.take(1) else s"${digits.take(1)}.$frac"
        f"${m}e${if (exp < 0) "-" else "+"}${math.abs(exp)}%02d"
      } else if (exp < 0) {
        "0." + ("0" * (-exp - 1)) + digits.reverse.dropWhile(_ == '0').reverse
      } else {
        val intPart =
          if (digits.length > exp + 1) digits.take(exp + 1)
          else digits + ("0" * (exp + 1 - digits.length))
        val frac = digits.drop(exp + 1).reverse.dropWhile(_ == '0').reverse
        s"$intPart.${if (frac.isEmpty) "0" else frac}"
      }
    if (neg) s"-$body" else body
  }

  /** Format the χ² result the way the reference's RawProtocol output does:
    * `Category\t{'word': score, ...}` in χ²-descending order, floats in
    * Python repr — byte-identical to the reference's part file (golden
    * byte-equal test in ChiSquareGoldenSpec).
    */
  def formatChiSq(rows: Seq[(String, Seq[(String, Double)])]): Seq[String] =
    rows.map { case (cat, pairs) =>
      val dict = pairs.map { case (w, s) => s"'$w': ${pythonRepr(s)}" }
        .mkString("{", ", ", "}")
      s"$cat\t$dict"
    }

  /** The reference's final output line: the sorted union vocabulary as a
    * python-repr list (fixture `.../chisq/part-00000:23`).
    */
  def formatVocabulary(words: Seq[String]): String =
    words.map(w => s"'$w'").mkString("[", ", ", "]")

  /** Write the reference counters format: `<total> {'cat': n, ...}`
    * (reference `src/wordCountWrapper.py:49-50`).
    */
  def writeCounters(path: String, total: Long, cats: Map[String, Long]): Unit = {
    val dict = cats.toSeq.sortBy(_._1)(graft.chisq.ChiSquare.codePointOrder)
      .map { case (c, n) => s"'$c': $n" }.mkString("{", ", ", "}")
    val p = java.nio.file.Paths.get(path)
    if (p.getParent != null) java.nio.file.Files.createDirectories(p.getParent)
    java.nio.file.Files.writeString(p, s"$total $dict\n")
  }
}
