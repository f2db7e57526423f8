package graft.text

import org.apache.spark.sql.{Column, GraftSqlBridge}
import org.apache.spark.sql.functions._
import graft.functions.ReviewTokens

/** Column→Column text primitives reproducing the reference tokenizer
  * (reference `src/wordCountJob.py:51-52,64,75-77`). Case folding is the
  * built-in `lower`; clean → split → per-review dedup is the one-pass
  * codegen'd [[graft.functions.ReviewTokens]] kernel, whose scaladoc gives
  * the stripped character class. No UDFs: both stay inside whole-stage
  * codegen.
  */
object TextOps {

  /** Full reference mapper path: lower-case, then the distinct tokens of
    * the cleaned text in first-occurrence order — the reference's
    * `set(tokens)` (reference `src/wordCountJob.py:75`). Load-bearing:
    * downstream counts are DOCUMENT frequencies, the contingency-table
    * inputs of the χ² stage.
    */
  def reviewTokens(c: Column): Column =
    GraftSqlBridge.column(ReviewTokens(GraftSqlBridge.expression(lower(c))))
}
