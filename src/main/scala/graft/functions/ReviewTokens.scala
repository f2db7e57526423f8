package graft.functions

import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** The reference mapper's clean → split → per-review `set()` (reference
  * `src/wordCountJob.py:51-52,64,75`) as ONE codegen'd expression over
  * already-lowercased text.
  *
  * The built-in spelling — `regexp_replace` → `split("\\s+")` →
  * `filter(length > 0)` → `array_distinct` — decodes every row to a Java
  * `String` twice (replace, then split), re-encodes it twice, and its
  * `filter` lambda is a `CodegenFallback`, so the chain never was one
  * whole-stage span. This expression makes one pass over the UTF-8 bytes:
  * every character of the stripped class ([[Stripped]]) or of Java's `\s`
  * (`[ \t\n\x0B\f\r]`) ends a token, and tokens are deduplicated with a
  * hash set in first-occurrence order — row-for-row what the chain yields
  * (TextOpsSpec pins the equivalence against it).
  *
  * Codegen emits a static call to [[ReviewTokens.compute]], the same way as
  * [[H48]] and [[ChiSqExact]].
  */
case class ReviewTokens(child: Expression)
    extends UnaryExpression with ImplicitCastInputTypes {

  override def inputTypes: Seq[DataType] = Seq(StringType)
  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "graft_review_tokens"

  override protected def nullSafeEval(input: Any): Any =
    ReviewTokens.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.ReviewTokens.compute($c)")

  override protected def withNewChildInternal(newChild: Expression): ReviewTokens =
    copy(child = newChild)
}

object ReviewTokens {

  /** The characters the reference maps to a space:
    * `()[]{}.!?,;:+=-_"~#@&*%€$§/\` + ASCII digits + TAB + `'`
    * (reference `src/wordCountJob.py:51-52`). `<`, `>`, `|` and `^` are
    * deliberately kept — tokens like `">"` survive, matching the committed
    * fixture `src/output/amazon_reviews_chiotp/wordcount/part-00000:1`.
    * A stripped char becomes a SEPARATOR, not a deletion: `don't` yields
    * `don` and `t`, as in the reference.
    */
  val Stripped: String = "()[]{}.!?,;:+=-_\"~#@&*%€$§/\\0123456789\t'"

  /** ASCII bytes that end a token: the ASCII part of [[Stripped]] plus
    * Java's `\s`. `€` and `§`, the two non-ASCII separators, are matched
    * on their UTF-8 sequences in [[compute]].
    */
  private val asciiSep: Array[Boolean] = {
    val t = new Array[Boolean](128)
    (Stripped + " \n\u000B\f\r").filter(_ < 128).foreach(c => t(c) = true)
    t
  }

  /** Distinct tokens of `text` in first-occurrence order.
    *
    * The bytes are copied once into a buffer this call owns, and every
    * token is a view of that buffer, so no token shares memory with the
    * input row. Invalid UTF-8 is first decoded the way Java's decoder does
    * (each malformed sequence becomes U+FFFD), as the regex chain's
    * `String` round trip did.
    */
  def compute(text: UTF8String): ArrayData = {
    val buf = text.getBytes
    val b = if (buf eq text.getBaseObject) buf.clone() else buf
    val n = b.length
    val seen = new java.util.HashSet[UTF8String]()
    val out = new java.util.ArrayList[UTF8String]()
    var nonAscii = false
    var start = -1
    var i = 0
    while (i < n) {
      val c = b(i)
      // width of the separator starting at i, 0 if b(i) is token content;
      // 0xC2 and 0xE2 are lead bytes, never continuation bytes, so a match
      // starts at a character boundary
      val sep =
        if (c >= 0) { if (asciiSep(c)) 1 else 0 }
        else {
          nonAscii = true
          if (c == 0xC2.toByte && i + 1 < n && b(i + 1) == 0xA7.toByte) 2 // §
          else if (c == 0xE2.toByte && i + 2 < n && b(i + 1) == 0x82.toByte &&
            b(i + 2) == 0xAC.toByte) 3 // €
          else 0
        }
      if (sep == 0) {
        if (start < 0) start = i
        i += 1
      } else {
        if (start >= 0) { add(seen, out, b, start, i); start = -1 }
        i += sep
      }
    }
    if (start >= 0) add(seen, out, b, start, n)
    if (nonAscii && !text.isValid) compute(UTF8String.fromString(text.toString))
    else new GenericArrayData(out.toArray)
  }

  private def add(seen: java.util.HashSet[UTF8String],
      out: java.util.ArrayList[UTF8String], b: Array[Byte], from: Int, until: Int): Unit = {
    val t = UTF8String.fromBytes(b, from, until - from)
    if (seen.add(t)) out.add(t)
  }
}
