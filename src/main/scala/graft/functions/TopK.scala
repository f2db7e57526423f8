package graft.functions

import org.apache.spark.sql.{DataFrame, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

/** Bounded per-group top-k — the custom typed aggregate SURVEY.md §4/§7
  * sketches as the scale replacement for the `row_number()` window.
  *
  * The window form sorts EVERY group member (a full per-partition sort
  * after an exchange); this `Aggregator` keeps at most 2k candidates per
  * group in two parallel primitive-friendly arrays, combines partially on
  * the map side like any other aggregate, and never materializes a
  * group's full row set. At 100 TB with millions of rows per group and
  * k=75, the shuffle carries at most k rows per group per map partition
  * instead of the whole group.
  *
  * Buffer design: a fixed-capacity (2k) array pair inside a product-encoded
  * case class — no per-row allocation (append writes into a slot; when the
  * buffer fills, an in-place compaction keeps the best k, amortized
  * O(log k) per row), and shuffle serialization is Spark's native struct
  * codec for primitive arrays, not Kryo object graphs (the previous
  * PriorityQueue buffer paid Kryo per partial merge — measured 3.3×
  * slower end-to-end at 200k groups, SURVEY §9.7).
  *
  * Ordering contract: descending by score, ascending by tag on ties — the
  * same deterministic order the engine's window top-k uses, so both
  * operators return identical rows.
  */
object TopK {

  /** One scored candidate: (tag, score) — e.g. (word, χ²) or
    * (orderkey, totalprice).
    */
  final case class Scored(tag: String, score: Double)

  /** Mutable fixed-capacity buffer: parallel (tag, score) arrays with a
    * fill cursor. Always `tags.length == scores.length == 2k`; only the
    * first `n` slots are live. `var` fields keep it a product for the
    * ExpressionEncoder while allowing in-place mutation between shuffles.
    */
  final case class TopKBuf(var n: Int, tags: Array[String], scores: Array[Double])

  /** `true` iff (tagA, scoreA) ranks strictly better than (tagB, scoreB)
    * under the (score desc, tag asc) contract. Scores compare via
    * `java.lang.Double.compare` with −0.0 normalized to +0.0 (`x + 0.0`),
    * which is exactly Spark's sort order for doubles (NaN largest — so NaN
    * ranks FIRST descending, like the row_number() window form — and
    * −0.0 == 0.0 per `NormalizeFloatingNumbers`). The old `sa > sb` form
    * was false in both directions for NaN, silently ranking NaN last and
    * breaking the "identical rows to the window form" contract.
    */
  @inline private def better(ta: String, sa: Double, tb: String, sb: Double): Boolean = {
    val c = java.lang.Double.compare(sa + 0.0, sb + 0.0)
    c > 0 || (c == 0 && ta < tb)
  }

  final class TopKAggregator(k: Int)
      extends Aggregator[Scored, TopKBuf, Seq[Scored]] {
    require(k > 0, s"k must be positive, got $k")
    private val cap = 2 * k

    override def zero: TopKBuf =
      TopKBuf(0, new Array[String](cap), new Array[Double](cap))

    /** Keep the best k of the live slots, in place: selection via one
      * index sort of ≤2k elements — runs once per k appends, so the
      * amortized per-row cost is O(log k) with zero allocation on the
      * append path.
      */
    private def compact(b: TopKBuf): Unit = {
      if (b.n <= k) return
      val idx = Array.range(0, b.n).sortWith { (i, j) =>
        better(b.tags(i), b.scores(i), b.tags(j), b.scores(j))
      }
      val ts = new Array[String](cap)
      val ss = new Array[Double](cap)
      var i = 0
      while (i < k) { ts(i) = b.tags(idx(i)); ss(i) = b.scores(idx(i)); i += 1 }
      System.arraycopy(ts, 0, b.tags, 0, cap)
      System.arraycopy(ss, 0, b.scores, 0, cap)
      b.n = k
    }

    private def append(b: TopKBuf, tag: String, score: Double): TopKBuf = {
      if (b.n == cap) compact(b)
      b.tags(b.n) = tag
      b.scores(b.n) = score
      b.n += 1
      b
    }

    override def reduce(b: TopKBuf, s: Scored): TopKBuf =
      append(b, s.tag, s.score)

    override def merge(a: TopKBuf, b: TopKBuf): TopKBuf = {
      var i = 0
      while (i < b.n) { append(a, b.tags(i), b.scores(i)); i += 1 }
      a
    }

    override def finish(b: TopKBuf): Seq[Scored] = {
      compact(b)
      // Sort with the same comparator as compact/better — sortBy on
      // (-score, tag) would rank NaN last (−NaN is NaN, largest in the
      // ascending total order) and disagree with the window form.
      (0 until math.min(b.n, k)).map(i => Scored(b.tags(i), b.scores(i)))
        .sortWith((x, y) => better(x.tag, x.score, y.tag, y.score))
    }

    override def bufferEncoder: Encoder[TopKBuf] = Encoders.product[TopKBuf]
    override def outputEncoder: Encoder[Seq[Scored]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Scored]]()
  }

  /** DataFrame-level helper: top-k rows per group of `df`, scored by
    * (scoreCol desc, tagCol asc). Registered as a `udaf`, so it runs
    * through `groupBy(...).agg(...)` and the group column KEEPS its native
    * type (no string round-trip); only the tag is compared as string,
    * matching the window form's tiebreak. Output:
    * (groupCol, tagCol, scoreCol) — identical rows to the
    * row_number()-window form.
    */
  def topKPerGroup(
      df: DataFrame, groupCol: String, tagCol: String, scoreCol: String,
      k: Int): DataFrame = {
    val fn = udaf(new TopKAggregator(k))
    df.groupBy(col(groupCol))
      .agg(fn(col(tagCol).cast("string"), col(scoreCol).cast("double")).as("topk"))
      .select(col(groupCol), explode(col("topk")).as("s"))
      .select(col(groupCol), col("s.tag").as(tagCol), col("s.score").as(scoreCol))
  }
}
