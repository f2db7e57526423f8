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
  * every character of the stripped class ([[Stripped]]) or of Python's
  * `str.split()` whitespace ([[Whitespace]]) ends a token, and tokens are
  * deduplicated with a hash set in first-occurrence order — row-for-row
  * what the chain yields (TextOpsSpec pins the equivalence against it).
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

  /** The characters Python's `str.split()` splits on (those for which
    * `str.isspace` holds; reference `src/wordCountJob.py:75`). Java's `\s`
    * is only the first six; TAB is also in [[Stripped]].
    */
  val Whitespace: String = " \t\n\u000B\f\r\u001C\u001D\u001E\u001F\u0085\u00A0\u1680" +
    (0x2000 to 0x200A).map(_.toChar).mkString + "\u2028\u2029\u202F\u205F\u3000"

  /** ASCII bytes that end a token: the ASCII parts of [[Stripped]] and
    * [[Whitespace]].
    */
  private val asciiSep: Array[Boolean] = {
    val t = new Array[Boolean](128)
    (Stripped + Whitespace).filter(_ < 128).foreach(c => t(c) = true)
    t
  }

  /** The other separators (`€`, `§` and the non-ASCII [[Whitespace]]), by
    * code point; all are below U+10000, so two or three UTF-8 bytes long.
    */
  private val nonAsciiSep: java.util.BitSet = {
    val t = new java.util.BitSet()
    (Stripped + Whitespace).filter(_ >= 128).foreach(c => t.set(c))
    t
  }

  /** Width of the separator whose UTF-8 sequence starts at `b(i)`, 0 if the
    * character there is none (or `b(i)` is a continuation byte).
    */
  private def nonAsciiSepWidth(b: Array[Byte], i: Int, n: Int): Int = {
    val c = b(i) & 0xFF
    if (c >= 0xC0 && c < 0xE0 && i + 1 < n) {
      if (nonAsciiSep.get(((c & 0x1F) << 6) | (b(i + 1) & 0x3F))) 2 else 0
    } else if (c >= 0xE0 && c < 0xF0 && i + 2 < n) {
      val cp = ((c & 0x0F) << 12) | ((b(i + 1) & 0x3F) << 6) | (b(i + 2) & 0x3F)
      if (nonAsciiSep.get(cp)) 3 else 0
    } else 0
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
      // width of the separator starting at i, 0 if b(i) is token content
      val sep =
        if (c >= 0) { if (asciiSep(c)) 1 else 0 }
        else {
          nonAscii = true
          nonAsciiSepWidth(b, i, n)
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
