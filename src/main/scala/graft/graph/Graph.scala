package graft.graph

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.model.{Materialize, Tables}

/** Link-graph analytics over the corpus — the crawl-frontier /
  * source-ranking stage of a web-scale curation pipeline (a crawler
  * prioritizes hosts and pages by link authority before it ever spends
  * fetch budget; CommonCrawl publishes exactly this as its host-level
  * ranking). The reference has no graph surface at all, so this module is
  * pure capability delta, built Spark-first: a link graph is an edge
  * DataFrame, PageRank is a fixed number of join+aggregate rounds — each
  * round ONE shuffle on an 8-byte dst key with map-side partial sums —
  * and no vertex-program framework is needed for a fixed-iteration rank.
  *
  * Arithmetic policy: ranks are BIGINT micro-units (1e6 = initial mass
  * 1.0) and every per-edge contribution is `rank div out_degree`, every
  * damping step `(15·SCALE div 100) + (85·Σ div 100)` — all-integer
  * floor division on non-negative operands, so Spark and DuckDB agree
  * bit-for-bit on every iteration and the oracle hash-gates the full
  * fixpoint prefix rather than a float-tolerance shadow of it. (Floor
  * drops ≤1 micro-unit per edge per round — a rank *definition*, applied
  * identically by both engines, not an approximation of some float
  * truth.)
  */
object Graph {

  /** Initial per-node rank mass in micro-units. */
  val Scale = 1000000L

  /** Unrolled power-iteration rounds — fixed and small so the declared
    * plan's lineage is bounded; a production run at higher round counts
    * checkpoint-truncates every k rounds exactly as the connected-
    * components fixpoint in [[graft.dedup.Dedup]] does.
    */
  val Iters = 3

  /** Deterministic out-links per document (before self-loop removal and
    * (src,dst) dedup — effective out-degree is 1..3).
    */
  val Fanout = 3

  /** The synthetic link graph (FIXTURES.md pattern — the documents table
    * carries no hyperlinks, so edges derive deterministically from
    * doc_id): doc links to `(doc_id·31 + j·1009 + 7) mod N` for
    * j &lt; [[Fanout]], self-loops dropped, duplicate targets collapsed.
    * N (corpus size) enters the plan as a broadcast one-row frame — the
    * established scalar-join shape — so the whole derivation is narrow
    * compute over the doc_id column plus one distinct.
    *
    * PERSIST-ONCE: the edge list is consumed by three declared operators
    * (PageRank × [[Iters]] rounds, HITS × 2·[[Iters]] aggregates,
    * triangles twice for canon + orientation) — lesson 25's N-consumers
    * rule, applied via [[graft.model.Materialize.memo]] under [[EdgeMemo]]:
    * the first caller materializes the ~16-byte-row frame with
    * [[graft.model.Materialize.eager]], later callers (and later rounds of
    * the same plan) scan the stored blocks instead of re-deriving the
    * distinct. A checkpoint rather than `.persist`: measured head-to-head
    * at sf0.1, the columnar cache's per-scan overhead (InMemoryTableScan +
    * nested-AQE bookkeeping at every one of the plan's many edge reads)
    * made every graph query 2-3× SLOWER than recomputing, while the
    * checkpoint's row-block scans beat both — and it also truncates
    * lineage.
    */
  def linkEdges(spark: SparkSession, dir: String): DataFrame =
    Materialize.memo(spark, EdgeMemo, dir, "documents") {
      val ids = Tables.load(spark, dir, "documents").select(col("doc_id"))
      val n = ids.agg(count(lit(1)).as("n"))
      Materialize.eager(ids.crossJoin(broadcast(n))
        .select(col("doc_id").as("src"), col("n"),
          explode(sequence(lit(0), lit(Fanout - 1))).as("j"))
        .select(col("src"),
          expr("(src * 31 + j * 1009 + 7) % n").as("dst"))
        .where(col("src") =!= col("dst"))
        .distinct())
    }

  /** Memo kind of [[linkEdges]]' edge table. */
  val EdgeMemo = "graph.edges"

  /** Host/page authority by PageRank, [[Iters]] unrolled rounds, damping
    * 0.85, all-integer micro-unit arithmetic (see object doc). Per round:
    * per-edge contribution `rank div deg` flows over the edge list, one
    * hash aggregate on dst (8-byte key, partial-summed map-side), then a
    * left join back to the id spine so link-less nodes keep the base
    * mass. Dangling mass (out-degree-0 nodes — absent here by
    * construction) would redistribute via one extra scalar aggregate per
    * round; documented rather than dead-coded.
    *
    * 100 TB design: the rank table and edge list both partition by the
    * 8-byte node key; each round is one shuffle of the (already narrow)
    * rank table plus one of edge contributions — no row ever carries
    * text. The edge list is consumed [[Iters]] times, so it is persisted
    * once via the [[linkEdges]] memo (lesson 25: N consumers replay
    * lineage N times) and every round reads the materialized blocks.
    * Output: top-100 nodes by final rank (rank desc, doc_id tiebreak) —
    * a TakeOrdered, never a global sort.
    */
  def pageRank(spark: SparkSession, dir: String): DataFrame = {
    val ids = Tables.load(spark, dir, "documents").select(col("doc_id"))
    val edges = linkEdges(spark, dir)
    val deg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
    val contrib = edges.join(deg, "src")
    var rank = ids.withColumn("rank", lit(Scale))
    for (_ <- 1 to Iters) {
      val sums = contrib.join(rank.withColumnRenamed("doc_id", "src"), "src")
        .select(col("dst"), expr("rank div deg").as("c"))
        .groupBy("dst").agg(sum("c").as("m"))
        .withColumnRenamed("dst", "doc_id")
      rank = ids.join(sums, Seq("doc_id"), "left")
        .select(col("doc_id"),
          expr(s"${15L * Scale / 100}L + (85L * coalesce(m, 0L) div 100L)")
            .as("rank"))
    }
    rank.orderBy(col("rank").desc, col("doc_id")).limit(100)
  }

  /** HITS hubs & authorities over the same link graph — the
    * complementary authority signal to PageRank (Kleinberg 1999): an
    * authority is pointed at by good hubs, a hub points at good
    * authorities. [[Iters]] unrolled mutual-reinforcement rounds, each
    * TWO 8-byte-key hash aggregates (auth from in-edges' hub mass, then
    * hub from out-edges' fresh auth mass). All-BIGINT with NO
    * normalization: scores only feed ranking and thresholds, scale
    * factors cancel in the order, and skipping the global normalizer
    * removes the one all-reduce the float formulation needs per round —
    * growth is bounded by (max degree)^(2·Iters) ≪ 2^63 here (a
    * production run renormalizes by a power-of-two shift every few
    * rounds: one broadcast scalar, exact in integers, same order).
    * Output: top-100 by (authority desc, hub desc, doc_id).
    */
  def hits(spark: SparkSession, dir: String): DataFrame = {
    // dual-use SQL since round 15: one text, both engines. The oracle's
    // unrolled CTE chain (r0 -> a1/r1 -> a2/r2 -> a3/r3) is EXACTLY the
    // loop-unrolled dataflow of [[hitsIterative]] — each round two
    // 8-byte-key hash aggregates and two left joins — so Catalyst plans
    // the same shape from either spelling; the iterative form stays as
    // the library surface (the loop is what a 30-round production run
    // calls) and GraphSpec pins the two row-identical.
    Tables.load(spark, dir, "documents")
      .createOrReplaceTempView("documents")
    spark.sql(hitsSql)
  }

  /** The iterative-loop spelling of [[hits]] — the form that scales the
    * round count without growing the SQL text; spec-pinned identical to
    * the declared one-text form.
    */
  def hitsIterative(spark: SparkSession, dir: String): DataFrame = {
    val ids = Tables.load(spark, dir, "documents").select(col("doc_id"))
    val edges = linkEdges(spark, dir)
    var scores = ids.select(col("doc_id"), lit(1L).as("hub"),
      lit(1L).as("auth"))
    for (_ <- 1 to Iters) {
      val auth = edges
        .join(scores.select(col("doc_id").as("src"), col("hub")), "src")
        .groupBy(col("dst").as("doc_id")).agg(sum("hub").as("a"))
      val withAuth = ids.join(auth, Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("a"), lit(0L)).as("auth"))
      val hub = edges
        .join(withAuth.select(col("doc_id").as("dst"), col("auth")), "dst")
        .groupBy(col("src").as("doc_id")).agg(sum("auth").as("h"))
      scores = ids.join(withAuth, Seq("doc_id"), "left")
        .join(hub, Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("h"), lit(0L)).as("hub"),
          col("auth"))
    }
    scores.orderBy(col("auth").desc, col("hub").desc, col("doc_id"))
      .limit(100)
  }

  val hitsSql: String = {
    def round(prev: String, a: String, out: String): String =
      s"""$a AS (SELECT i.doc_id,
            CAST(coalesce(s.a, 0) AS BIGINT) AS auth
          FROM ids i LEFT JOIN (
            SELECT e.dst AS doc_id, CAST(sum(r.hub) AS BIGINT) AS a
            FROM e JOIN $prev r ON e.src = r.doc_id
            GROUP BY e.dst) s USING (doc_id)),
        $out AS (SELECT i.doc_id,
            CAST(coalesce(h.h, 0) AS BIGINT) AS hub, a.auth
          FROM ids i
          JOIN $a a USING (doc_id)
          LEFT JOIN (
            SELECT e.src AS doc_id, CAST(sum(w.auth) AS BIGINT) AS h
            FROM e JOIN $a w ON e.dst = w.doc_id
            GROUP BY e.src) h USING (doc_id))"""
    s"""WITH ids AS (SELECT doc_id FROM documents),
        n AS (SELECT count(*) AS n FROM ids),
        e AS (SELECT DISTINCT doc_id AS src,
                (doc_id * 31 + j * 1009 + 7) % (SELECT n FROM n) AS dst
              FROM ids, (VALUES (0), (1), (2)) t(j)
              WHERE (doc_id * 31 + j * 1009 + 7) % (SELECT n FROM n)
                    <> doc_id),
        r0 AS (SELECT doc_id, CAST(1 AS BIGINT) AS hub,
                 CAST(1 AS BIGINT) AS auth FROM ids),
        ${round("r0", "a1", "r1")},
        ${round("r1", "a2", "r2")},
        ${round("r2", "a3", "r3")}
        SELECT doc_id, hub, auth FROM r3
        ORDER BY auth DESC, hub DESC, doc_id LIMIT 100"""
  }

  /** Component-block width for [[componentEdges]]. */
  val CcBlock = 16L

  /** Second, SPARSER link fixture for connected components (the modular
    * [[linkEdges]] graph is near-strongly-connected — one giant
    * component, a degenerate CC input): chain edges i→i+1 inside each
    * [[CcBlock]]-wide doc_id block plus a hash-free shortcut from each
    * block's second half back to its head. Components are exactly the
    * blocks BY CONSTRUCTION — which is what makes the oracle honest: it
    * derives the expected labeling from the fixture arithmetic while the
    * engine runs the real fixpoint (no shared shortcut). The generic CC
    * correctness proof against arbitrary graphs is `DedupSpec`'s
    * union-find replay over [[graft.dedup.Dedup.clustersFromPairs]].
    */
  def componentEdges(spark: SparkSession, dir: String): DataFrame = {
    val ids = Tables.load(spark, dir, "documents").select(col("doc_id"))
    val n = ids.agg(count(lit(1)).as("n"))
    val chain = ids.crossJoin(broadcast(n))
      .where(col("doc_id") % CcBlock =!= CcBlock - 1 &&
        col("doc_id") + 1 < col("n"))
      .select(col("doc_id").as("doc_a"), (col("doc_id") + 1).as("doc_b"))
    val shortcut = ids
      .where(col("doc_id") % CcBlock >= CcBlock / 2)
      .select(col("doc_id").as("doc_a"),
        (col("doc_id") - col("doc_id") % CcBlock).as("doc_b"))
    chain.unionByName(shortcut)
  }

  /** Connected components over the sparse link graph — THE grouping
    * primitive of every dedup/community stage, declared here as a
    * first-class graph operator: min-label roots from the engine's
    * components ([[graft.dedup.Dedup.clustersFromPairs]]: a driver
    * union-find up to [[graft.dedup.Dedup.DriverComponentsMaxEdges]]
    * edges, above it the adaptive pointer-jumping fixpoint — O(log n)
    * rounds, checkpoint-truncated lineage), rolled up to one row per
    * component (root id, size, exact member-id checksum). Same 100 TB
    * shape as the near-dup clusters: above the budget, per-round one
    * 8-byte-key shuffle, at most two rounds of labels resident.
    * Output: (component, size, id_sum) ordered by component.
    */
  def components(spark: SparkSession, dir: String): DataFrame = {
    val labels = graft.dedup.Dedup.clustersFromPairs(
      componentEdges(spark, dir))
    labels.groupBy(col("canonical_id").as("component"))
      .agg(count(lit(1)).as("size"), sum("doc_id").as("id_sum"))
      .orderBy("component")
  }

  val componentsSql: String =
    s"""SELECT (doc_id // $CcBlock) * $CcBlock AS component,
        count(*) AS size, CAST(sum(doc_id) AS BIGINT) AS id_sum
        FROM documents GROUP BY 1 ORDER BY 1"""

  val pageRankSql: String = {
    val base = (15L * Scale / 100).toString
    def round(prev: String, out: String): String =
      s"""$out AS (SELECT i.doc_id,
            CAST($base + (85 * coalesce(s.m, 0) // 100) AS BIGINT) AS rank
          FROM ids i LEFT JOIN (
            SELECT e.dst AS doc_id,
                   CAST(sum(r.rank // d.deg) AS BIGINT) AS m
            FROM e JOIN $prev r ON e.src = r.doc_id
                   JOIN deg d ON d.src = e.src
            GROUP BY e.dst) s USING (doc_id))"""
    s"""WITH ids AS (SELECT doc_id FROM documents),
        n AS (SELECT count(*) AS n FROM ids),
        e AS (SELECT DISTINCT doc_id AS src,
                (doc_id * 31 + j * 1009 + 7) % (SELECT n FROM n) AS dst
              FROM ids, (VALUES (0), (1), (2)) t(j)
              WHERE (doc_id * 31 + j * 1009 + 7) % (SELECT n FROM n)
                    <> doc_id),
        deg AS (SELECT src, count(*) AS deg FROM e GROUP BY src),
        r0 AS (SELECT doc_id, CAST($Scale AS BIGINT) AS rank FROM ids),
        ${round("r0", "r1")},
        ${round("r1", "r2")},
        ${round("r2", "r3")}
        SELECT doc_id, rank FROM r3
        ORDER BY rank DESC, doc_id LIMIT 100"""
  }

  // ------------------------------------------------------------- triangles

  /** Triangle census + global clustering coefficient over the
    * UNDIRECTED link graph — the link-farm detector (organic link
    * neighborhoods close triangles; spray-pattern spam graphs do not,
    * so a host whose clustering coefficient is far from its degree
    * class's norm is the classic SEO-farm signal; PageRank ([[pageRank]])
    * ranks, this audits WHY something ranks).
    *
    * Algorithm: the degree-ORIENTED wedge join (Latapy / "forward"
    * counting, the standard distributed-triangle shape). Symmetrize +
    * canonicalize edges (u &lt; v), then orient every edge from its
    * (degree, id)-smaller endpoint to the larger. Each triangle then has
    * EXACTLY ONE node with two out-edges, so the self-join of the
    * oriented list on its source generates each candidate wedge once,
    * and one hash join against the canonical edge list closes it. Why
    * this survives 100 TB where the naive id-ordered join does not: a
    * celebrity node with degree d contributes O(d²) id-ordered wedges,
    * but oriented out-degrees are bounded by O(√m) (a node keeps an
    * out-edge only toward HIGHER-degree neighbors, and fewer than √m
    * nodes have degree above √m) — so wedge volume is Σ outdeg² ≤
    * O(m^{3/2}) worst-case, the theoretical optimum for exact counting,
    * with every join an 8-byte-key hash exchange. The count is
    * orientation-invariant, so the oracle uses the simple id-ordered
    * 3-way join — same number, different plan, exactly the point.
    *
    * Output: one row (n_nodes, n_edges, n_triangles, n_wedges,
    * clustering_ppm = 3·Δ·10⁶ div wedges) — all BIGINT (wedge mass
    * widened to decimal(38,0)/HUGEINT before the ppm multiply).
    */
  def triangles(spark: SparkSession, dir: String): DataFrame = {
    val e0 = linkEdges(spark, dir)
    val sym = e0.select(col("src").as("u"), col("dst").as("v"))
      .union(e0.select(col("dst").as("u"), col("src").as("v")))
      .distinct()
    val canon = sym.where(col("u") < col("v"))
    val deg = sym.groupBy("u").agg(count(lit(1)).as("deg"))
    val du = deg.select(col("u").as("cu"), col("deg").as("du"))
    val dv = deg.select(col("u").as("cv"), col("deg").as("dv"))
    val oriented = canon
      .join(du, col("u") === col("cu")).drop("cu")
      .join(dv, col("v") === col("cv")).drop("cv")
      .select(
        when(struct(col("du"), col("u")) < struct(col("dv"), col("v")),
          struct(col("u").as("a"), col("v").as("b")))
          .otherwise(struct(col("v").as("a"), col("u").as("b"))).as("e"))
      .select(col("e.a").as("a"), col("e.b").as("b"))
    val wedges = oriented.as("e1").join(oriented.as("e2"),
        col("e1.a") === col("e2.a") && col("e1.b") < col("e2.b"))
      .select(col("e1.b").as("u"), col("e2.b").as("v"))
    val nTri = wedges.join(canon, Seq("u", "v"), "left_semi")
      .agg(count(lit(1)).as("n_triangles"))
    val nWedge = deg.agg(
      sum(expr("cast(deg as decimal(38,0)) * (deg - 1) div 2"))
        .cast("long").as("n_wedges"))
    val counts = canon.agg(count(lit(1)).as("n_edges"))
      .crossJoin(broadcast(deg.agg(count(lit(1)).as("n_nodes"))))
    counts.crossJoin(broadcast(nTri)).crossJoin(broadcast(nWedge))
      .select(col("n_nodes"), col("n_edges"), col("n_triangles"),
        col("n_wedges"),
        // wedge-free graph (every degree ≤ 1): the coefficient is
        // undefined — return NULL in BOTH engines rather than let
        // Spark's NULL-on-div-zero diverge from DuckDB's error
        when(col("n_wedges") > 0,
          expr("""cast(cast(n_triangles as decimal(38,0)) * 3000000
                       div n_wedges as bigint)"""))
          .otherwise(lit(null).cast("long")).as("clustering_ppm"))
  }

  val trianglesSql: String =
    s"""WITH ids AS (SELECT doc_id FROM documents),
        n AS (SELECT count(*) AS n FROM ids),
        e0 AS (SELECT DISTINCT doc_id AS src,
                 (doc_id * 31 + j * 1009 + 7) % (SELECT n FROM n) AS dst
               FROM ids, (VALUES (0), (1), (2)) t(j)
               WHERE (doc_id * 31 + j * 1009 + 7) % (SELECT n FROM n)
                     <> doc_id),
        sym AS (SELECT src AS u, dst AS v FROM e0
                UNION SELECT dst, src FROM e0),
        canon AS (SELECT u, v FROM sym WHERE u < v),
        deg AS (SELECT u, count(*) AS deg FROM sym GROUP BY u),
        tri AS (SELECT count(*) AS n_triangles
                FROM canon e1
                JOIN canon e2 ON e2.u = e1.v
                JOIN canon e3 ON e3.u = e1.u AND e3.v = e2.v),
        wed AS (SELECT CAST(sum(CAST(deg AS HUGEINT) * (deg - 1) // 2)
                  AS BIGINT) AS n_wedges FROM deg),
        cnt AS (SELECT (SELECT count(*) FROM deg) AS n_nodes,
                       (SELECT count(*) FROM canon) AS n_edges)
        SELECT CAST(n_nodes AS BIGINT) AS n_nodes,
               CAST(n_edges AS BIGINT) AS n_edges,
               CAST(n_triangles AS BIGINT) AS n_triangles,
               n_wedges,
               CASE WHEN n_wedges > 0 THEN
                 CAST(CAST(n_triangles AS HUGEINT) * 3000000 // n_wedges
                   AS BIGINT)
               END AS clustering_ppm
        FROM cnt, tri, wed"""
}
