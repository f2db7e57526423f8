package graft

import org.apache.spark.sql.functions.{count, lit, sum}
import graft.graph.Graph

/** PageRank over the synthetic link graph: the declared integer
  * arithmetic replayed by an independent driver-side reimplementation on
  * a tiny corpus, plus structural invariants of the edge derivation.
  */
class GraphSpec extends SparkSpec {
  import spark.implicits._

  private def fixture(n: Int): String =
    writeDocs((0L until n.toLong).map(i => (i, s"doc $i text")))

  test("linkEdges: deterministic fanout, no self loops, deduped") {
    val dir = fixture(7)
    val edges = Graph.linkEdges(spark, dir)
      .as[(Long, Long)].collect().toSet
    val expected = (for {
      src <- 0L until 7L
      j <- 0 until Graph.Fanout
      dst = (src * 31 + j * 1009 + 7) % 7
      if dst != src
    } yield (src, dst)).toSet
    assert(edges == expected)
    assert(edges.forall { case (s, d) => s != d })
  }

  test("pageRank matches an independent integer reimplementation") {
    val n = 9
    val dir = fixture(n)
    // driver-side replay of the declared arithmetic, from scratch
    val edges = (for {
      src <- 0L until n.toLong
      j <- 0 until Graph.Fanout
      dst = (src * 31 + j * 1009 + 7) % n
      if dst != src
    } yield (src, dst)).distinct
    val deg = edges.groupBy(_._1).view.mapValues(_.size.toLong).toMap
    var rank = (0L until n.toLong).map(i => i -> Graph.Scale).toMap
    for (_ <- 1 to Graph.Iters) {
      val in = edges.groupBy(_._2).view.mapValues(
        _.map { case (s, _) => rank(s) / deg(s) }.sum).toMap
      rank = rank.keys.map(i =>
        i -> (15L * Graph.Scale / 100 + 85L * in.getOrElse(i, 0L) / 100))
        .toMap
    }
    val expected = rank.toSeq.sortBy { case (id, r) => (-r, id) }
    val got = Graph.pageRank(spark, dir).as[(Long, Long)].collect().toSeq
    assert(got == expected)
  }

  test("hits matches an independent integer reimplementation") {
    val n = 9
    val dir = fixture(n)
    val edges = (for {
      src <- 0L until n.toLong
      j <- 0 until Graph.Fanout
      dst = (src * 31 + j * 1009 + 7) % n
      if dst != src
    } yield (src, dst)).distinct
    var hub = (0L until n.toLong).map(i => i -> 1L).toMap
    var auth = hub
    for (_ <- 1 to Graph.Iters) {
      auth = hub.keys.map(i =>
        i -> edges.filter(_._2 == i).map(e => hub(e._1)).sum).toMap
      hub = hub.keys.map(i =>
        i -> edges.filter(_._1 == i).map(e => auth(e._2)).sum).toMap
    }
    val expected = (0L until n.toLong).map(i => (i, hub(i), auth(i)))
      .sortBy { case (id, h, a) => (-a, -h, id) }
    val got = Graph.hits(spark, dir).as[(Long, Long, Long)].collect().toSeq
    assert(got == expected)
  }

  test("hits: iterative loop form row-identical to the declared SQL") {
    val dir = fixture(23)
    val sql = Graph.hits(spark, dir).collect().map(_.toString)
    val loop = Graph.hitsIterative(spark, dir).collect().map(_.toString)
    assert(sql.toSeq == loop.toSeq)
  }

  test("components: fixpoint labels equal a driver union-find replay") {
    val n = 41 // deliberately not a multiple of the block width
    val dir = fixture(n)
    // independent union-find over the same fixture edges
    val parent = Array.tabulate(n)(identity)
    def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r); r }
    def union(a: Int, b: Int): Unit = {
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val B = Graph.CcBlock.toInt
    for (i <- 0 until n) {
      if (i % B != B - 1 && i + 1 < n) union(i, i + 1)
      if (i % B >= B / 2) union(i, i - i % B)
    }
    val expected = (0 until n).groupBy(find)
      .map { case (r, ms) => (r.toLong, ms.size.toLong, ms.map(_.toLong).sum) }
      .toSeq.sortBy(_._1)
    val got = Graph.components(spark, dir)
      .as[(Long, Long, Long)].collect().toSeq
    assert(got == expected)
    // the same edges through the distributed fixpoint (budget 0)
    val fixpoint = graft.dedup.Dedup.clustersFromPairsCounted(
        Graph.componentEdges(spark, dir), 0)._1
      .groupBy($"canonical_id").agg(count(lit(1)), sum($"doc_id"))
      .as[(Long, Long, Long)].collect().toSeq.sortBy(_._1)
    assert(fixpoint == expected)
    // block structure: every component root is a block head
    assert(got.forall(_._1 % Graph.CcBlock == 0))
  }

  test("pageRank invariants: base mass floor, bounded total") {
    val dir = fixture(20)
    val ranks = Graph.pageRank(spark, dir).as[(Long, Long)].collect()
    assert(ranks.length == 20)
    // every node keeps at least the damping base
    assert(ranks.forall(_._2 >= 15L * Graph.Scale / 100))
    // integer floors only ever DROP mass: total never exceeds n·scale
    assert(ranks.map(_._2).sum <= 20L * Graph.Scale)
  }
}
