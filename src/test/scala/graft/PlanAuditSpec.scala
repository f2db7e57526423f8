package graft

import org.apache.spark.sql.execution.ExplainMode

/** Scan-level plan audit: the brief's "push down and prune" contract,
  * pinned as a test instead of a one-off explain. A scan that reads all
  * columns for a narrow projection, or evaluates a pushable predicate
  * above the source, silently multiplies 100 TB of IO — this is the
  * regression guard for that.
  */
class PlanAuditSpec extends SparkSpec {

  private val sf = "/root/testdata/sf0.001"

  private def formatted(name: String): String =
    SparkEntry.queries(name)(spark, sf)
      .queryExecution.explainString(ExplainMode.fromString("formatted"))

  test("q_sql_shipping: filters reach every scan, columns pruned to use") {
    val plan = formatted("q_sql_shipping")
    // predicates pushed into the parquet readers, not evaluated above them
    assert(plan.contains("EqualTo(c_mktsegment,BUILDING)"), plan)
    assert(plan.contains("LessThan(o_orderdate,"), plan)
    assert(plan.contains("GreaterThan(l_shipdate,"), plan)
    // each scan reads exactly the referenced columns — lineitem's wide
    // money/comment columns must not appear
    assert(plan.contains(
      "struct<c_custkey:bigint,c_mktsegment:string>"), plan)
    assert(plan.contains(
      "struct<l_orderkey:bigint,l_extendedprice:double," +
        "l_discount:double,l_shipdate:timestamp_ntz>"), plan)
    assert(!plan.contains("l_quantity") && !plan.contains("l_tax"), plan)
  }

  test("q_sql_window: rank limit pushed below the exchange") {
    // the dual-use SQL window's scale contract: Spark rewrites the
    // rnk <= 2 filter into WindowGroupLimit on BOTH sides of the
    // exchange — the partial (map-side) instance keeps each task's
    // per-key top-2 BEFORE shuffling, so the exchange carries
    // ≤ 2·|customers| rows instead of |orders|. A regression to a
    // filter-above-window plan shuffles the whole table.
    val plan = formatted("q_sql_window")
    def ids(op: String): Seq[Int] =
      (op + """ \((\d+)\)""").r.findAllMatchIn(plan)
        .map(_.group(1).toInt).toSeq.distinct
    val wgl = ids("WindowGroupLimit")
    val ex = ids("Exchange")
    // two instances (Partial below the shuffle, Final above), with an
    // exchange BETWEEN them: node ids grow leaf → root in formatted
    // output, so partial-below-exchange means min(wgl) < ex < max(wgl)
    assert(wgl.size == 2, s"expected partial+final WindowGroupLimit: $plan")
    assert(ex.exists(e => wgl.min < e && e < wgl.max),
      s"no exchange between the two WindowGroupLimits: $plan")
  }

  test("ChiSquare.topKPerCategory: WindowGroupLimit Partial below the category exchange, Final above") {
    // the χ² top-k's per-category window is bounded the same way as
    // q_sql_window: the map side keeps each task's top-k per category
    // before the hashpartitioning(category) exchange, so the exchange
    // carries ≤ k·|categories| rows per task instead of every scored word
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.window.{Final, Partial, WindowGroupLimitExec}
    import graft.chisq.ChiSquare
    import spark.implicits._
    val df = (for (w <- 0 until 300; c <- 0 until 4)
      yield (s"w$w", s"c$c", 1L + (w * 7 + c) % 13)).toDF("word", "category", "df_count")
    val cats = (0 until 4).map(c => (s"c$c", 500L)).toDF("category", "n_docs")
    val topk = ChiSquare.topKPerCategory(ChiSquare.score(df, cats, 2000L), 5)
    assert(topk.collect().length == 20)
    object Walk extends AdaptiveSparkPlanHelper
    def find(p: SparkPlan)(pf: PartialFunction[SparkPlan, SparkPlan]): Seq[SparkPlan] =
      Walk.collect(p)(pf)
    val plan = topk.queryExecution.executedPlan
    val finals = find(plan) { case w: WindowGroupLimitExec if w.mode == Final => w }
    assert(finals.size == 1, s"expected one Final WindowGroupLimit:\n$plan")
    val exchanges = find(finals.head) {
      case e: ShuffleExchangeExec if (e.outputPartitioning match {
        case h: HashPartitioning => h.expressions.flatMap(_.references.map(_.name)) == Seq("category")
        case _ => false
      }) => e
    }
    assert(exchanges.size == 1, s"no hashpartitioning(category) exchange below Final:\n$plan")
    val partials = find(exchanges.head) {
      case w: WindowGroupLimitExec if w.mode == Partial => w
    }
    assert(partials.size == 1, s"no Partial WindowGroupLimit below the exchange:\n$plan")
  }

  test("Main.run: one exchange over the (word, category) relation, keyed by word; wordcount/ is written, never scanned") {
    import java.nio.file.{Files, Paths}
    import org.apache.spark.GraftCoreBridge
    import org.apache.spark.sql.catalyst.plans.physical.HashPartitioning
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import graft.pipeline.Main
    import graft.tools.PlanCapture
    def res(name: String): String =
      Paths.get(getClass.getResource(s"/parity/$name").toURI).toString
    val out = Files.createTempDirectory("graft_plan").toString
    val capture = new PlanCapture
    spark.listenerManager.register(capture)
    try Main.run(spark, res("reviews.json"), res("stopwords.txt"), out, 75)
    finally {
      GraftCoreBridge.drainListeners(spark.sparkContext)
      spark.listenerManager.unregister(capture)
    }
    object Walk extends AdaptiveSparkPlanHelper
    // the AQE-final plans of every action, and the cached plans they scan
    def nodes(p: SparkPlan): Seq[SparkPlan] =
      Walk.collectWithSubqueries(p) { case n => n }.flatMap {
        case s: InMemoryTableScanExec => s +: nodes(s.relation.cachedPlan)
        case n => Seq(n)
      }
    val all = capture.plans.flatMap(nodes)
    val keys = all.collect { case e: ShuffleExchangeExec => e }.distinct.map(_.outputPartitioning)
      .collect { case h: HashPartitioning => h.expressions.flatMap(_.references.map(_.name)) }
    val text = capture.plans.mkString("\n")
    assert(capture.plans.size == 4, text)
    assert(keys.filter(_.contains("word")) == Seq(Seq("word")), s"$keys\n$text")
    val rescans = all.collect {
      case f: FileSourceScanExec if f.relation.location.rootPaths.exists(_.getName == "wordcount") => f
    }
    assert(rescans.isEmpty, text)
    assert(Files.isDirectory(Paths.get(s"$out/wordcount")))
  }

  // BNLJ is acceptable ONLY against a broadcast single-row side (a
  // scalar riding along every row) — the list below names each such
  // query with its rationale, and the companion structural test proves
  // the claim: every cross/non-equi join in these plans must carry a
  // statically bounded side (maxRows) or be the triangular join over
  // the bounded blk grid. A regression to a real cartesian fails BOTH.
  private val singleRowBroadcastCross = Set(
    "q_sim_topk", "q_text_tfidf", "q_text_pmi", "q_text_oov",
    "q_quality_gate", "q_text_logprob", "q_ann_topk",
    // one-row corpus-total scalar riding the 100-row coverage curve
    "q_token_coverage",
    // one-row (N, V) model scalars, inherited from the logProb shape
    "q_text_bigram_lm", "q_signal_corr",
    // one-row corpus totals crossed onto tiny aggregates: the data
    // card's three 1-row sections, the MG sketch's (N, M) bound
    // scalars, the skew audit's (total, n_keys) pair, label balance's
    // (total, entropy) pair, DSIR's feature-mass normalizers
    "q_corpus_card", "q_heavy_hitters", "q_skew_audit",
    "q_label_balance", "q_importance_weights",
    // the (N, Σlen) scalar row riding the candidate postings (and the
    // tfidf-derived query workload's own N scalar)
    "q_text_bm25",
    // inherits q_text_bm25's scalar rows through composition
    "q_retrieval_eval",
    // recall eval's ground truth: the bounded KnnQueries-row (=8)
    // query sample brute-forced over one corpus scan — deliberate,
    // that's what makes it ground truth (matryoshka runs the same
    // eval twice: full-dim and truncated)
    "q_knn_recall", "q_embed_matryoshka", "q_hard_negatives",
    // the one-row total/L target scalar riding the |sources|·|langs|
    // cell matrix each IPF round
    "q_corpus_rake",
    // the one-row per-shard-mean scalar riding the NShards-row rollup
    "q_shard_balance",
    // the one-row decile-boundary array broadcast over the corpus
    // (the quality-gate percentile-threshold shape)
    "q_curriculum",
    // the one-row (T, W) corpus-total scalar riding the |sources|-row
    // rate table
    "q_corpus_mix",
    // the one-row merged-sketch estimate riding the one-row exact
    // global count
    "q_sketch_shards",
    // the one-row corpus-size N riding the doc_id spine to derive the
    // modular link graph (the q_text_tfidf scalar shape; appears once
    // per unrolled power-iteration round)
    "q_graph_pagerank", "q_graph_hits", "q_graph_components",
    // the q_sim_topk one-row query vector, scored per serving shard
    "q_ann_shard_merge",
    // one-row audit scalars (FK violation counts, table totals)
    // crossed onto the one-row conditional-aggregate result before
    // `stack` fans them out to constraint rows
    "q_expectations",
    // one-row census scalars (n_nodes/n_edges/triangles/wedges)
    // crossed into the single output row
    "q_graph_triangles",
    // the triangular blk-total join (≤RankBlocks rows per side) that
    // assembles cross-block negative mass, plus the one-row n_pos/n_neg
    // totals
    "q_score_auc",
    // same triangular blk-offset join + the one-row corpus total
    // riding every doc for the global-percentile division
    "q_quality_global",
    // one-row token total and raw-weight sum crossed onto the
    // |langs|-row cell table
    "q_lang_temperature",
    // the one-row (last_day, d_train) spine scalars riding the event
    // scan and the |types|·24 grid (both day-spine variants)
    "q_events_forecast", "q_events_forecast_cal",
    // the one-row monthly-audience scalar riding the per-day rollup
    "q_events_dau",
    // the ONE-ROW packed routing matrix (rcents, rnorms) riding every
    // vector into the CentroidRouteCol loop — round-15 ask #8 moved the
    // sharded family's routing centroids off the driver into this
    // broadcast one-row scalar (statically bounded: a groupless
    // aggregate over the S-row TakeOrdered)
    "q_dedup_semantic_sharded", "q_dedup_semantic_sharded_incr")

  test("no declared query plans a cartesian or an unjustified nested-loop join") {
    // Anything outside the rationale'd allowlist above — and any
    // CartesianProduct anywhere — is an O(n²)-at-scale regression.
    for ((name, fn) <- SparkEntry.queries) {
      val plan = fn(spark, sf)
        .queryExecution.explainString(ExplainMode.fromString("formatted"))
      assert(!plan.contains("CartesianProduct"), s"$name plans a cartesian")
      if (!singleRowBroadcastCross(name))
        assert(!plan.contains("BroadcastNestedLoopJoin"),
          s"$name plans an unjustified nested-loop join")
    }
  }

  test("no declared query plans an unbounded partition-less window") {
    // A Window with an empty partition spec moves its ENTIRE input to one
    // partition (WindowExec "No Partition Defined") — a driver-shaped
    // bottleneck at 100 TB. The one legitimate shape is a window over an
    // explicitly Limit-bounded frame (q_token_coverage's running sum over
    // the top-100 rows, q_skew_audit's rank over the top-10): bounded by
    // construction, the single partition holds ≤ k rows forever. So the
    // rule is: empty partitionSpec ⇒ the window's child subtree must
    // contain a Limit. Everything else fails the audit.
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow,
      GlobalLimit, LocalLimit, LogicalPlan}
    def hasLimit(p: LogicalPlan): Boolean =
      p.collectFirst { case _: GlobalLimit | _: LocalLimit => () }.nonEmpty
    for ((name, fn) <- SparkEntry.queries) {
      val bad = fn(spark, sf).queryExecution.optimizedPlan.collect {
        case w: LWindow if w.partitionSpec.isEmpty && !hasLimit(w.child) => w
      }
      assert(bad.isEmpty,
        s"$name plans an unbounded partition-less window:\n${bad.mkString}")
    }
  }

  test("allowlisted cross-joins are provably bounded, not just trusted") {
    // The allowlist above is commentary; this is the machine check that
    // keeps it honest as it grows: every cross or non-equi join in an
    // allowlisted plan must have a side whose row count is STATICALLY
    // bounded (logical maxRows ≤ 128 — one-row scalar aggregates, the
    // 8-row KNN query sample, the 100-row coverage curve), or be the
    // triangular self-join over the fixed blk value grid (both sides
    // aggregates grouping only by blk, ≤ RankBlocks rows each). A
    // regression that turns a scalar cross into a real cartesian now
    // fails here even though the query name is exempted.
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter,
      Join, LogicalPlan, Project}
    import org.apache.spark.sql.catalyst.expressions.{EqualNullSafe, EqualTo}
    def gridAgg(p: LogicalPlan): Boolean = p match {
      case a: Aggregate =>
        a.groupingExpressions.nonEmpty &&
          a.groupingExpressions.forall(_.references.forall(_.name == "blk"))
      case pr: Project => gridAgg(pr.child)
      case f: Filter => gridAgg(f.child)
      case _ => false
    }
    def nonEqui(j: Join): Boolean = j.condition.forall(c => !c.exists {
      case _: EqualTo | _: EqualNullSafe => true
      case _ => false
    })
    for (name <- singleRowBroadcastCross) {
      assert(SparkEntry.queries.contains(name),
        s"allowlist names a query that no longer exists: $name")
      val joins = SparkEntry.queries(name)(spark, sf)
        .queryExecution.optimizedPlan.collect {
          case j: Join if nonEqui(j) => j
        }
      for (j <- joins) {
        val bounded = j.left.maxRows.exists(_ <= 128) ||
          j.right.maxRows.exists(_ <= 128) ||
          (gridAgg(j.left) && gridAgg(j.right))
        assert(bounded,
          s"$name cross-joins two unbounded sides (maxRows " +
            s"${j.left.maxRows}/${j.right.maxRows}):\n$j")
      }
    }
  }

  test("no declared query plans a window partitioned only by non-scaling keys") {
    // A window partitioned by a column whose cardinality does NOT grow
    // with the data (per-source, per-shard, per-category) concentrates
    // an ever-larger slice of the corpus into a fixed number of
    // partitions — the 100 TB failure mode one step up from the empty
    // partition spec. Legitimate shapes: (a) a data-scaling key in the
    // partition spec (ids, hashes, content values, the blk grid
    // decomposition); (b) a Limit-bounded input; (c) an input that is a
    // per-(key, blk) block summary — ≤ RankBlocks rows per partition by
    // construction (the q_quality_calibrated / q_events_disorder
    // two-pass shape); (d) an explicit allowlist entry with a written
    // rationale, same discipline as the BNLJ list.
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate,
      GlobalLimit, LocalLimit, LogicalPlan, WindowGroupLimit,
      Window => LWindow}
    val scalingKeys = Set(
      // entity ids / content hashes — cardinality ∝ data
      "doc_id", "user_id", "q_id", "query_id", "o_custkey", "o_orderkey",
      "word", "chunk_hash", "para_hash", "canonical_id", "vec_id",
      // web-corpus domains grow with the crawl (millions of hosts)
      "domain",
      // the fixed value-grid decomposition markers: a blk column in the
      // partition spec means the window runs over per-block slices
      "blk", "lblk", "qblk",
      // value-partitioned windows (distinct score values scale)
      "logprob", "quality", "s",
      // part keys: the part table scales with SF, per-part group size
      // is bounded by lines-per-part (q_argmin_supplier briefly used an
      // rn = 1 window mid-round-15; it is back to the packed-bigint
      // hash aggregate, but any future per-part window stays legal).
      // ps_partkey is q_min_cost_supplier's catalog alias of the same
      // key: its window runs over the (part, supplier) catalog — a
      // handful of supplier rows per part, partition count scales,
      // group size doesn't
      "l_partkey", "ps_partkey")
    val windowAllow: Map[String, String] = Map(
      "q_window_topk" ->
        ("the window FORM of per-group top-k, kept deliberately beside " +
          "its fixed-memory aggregator twin q_topk_agg"),
      "q_pack_bpe" ->
        ("shard = writer-task parallelism unit; greedy sequence packing " +
          "is sequential WITHIN a shard by definition, and NShards is " +
          "the knob that scales it out"),
      "q_pack_sequences" ->
        "same writer-shard contract as q_pack_bpe",
      "q_corpus_rake" ->
        ("the IPF windows run over the |sources|×|langs| CELL MATRIX " +
          "(one row per cell, already aggregated from the corpus), so a " +
          "per-source partition holds ≤ |langs| rows — bounded by the " +
          "other marginal's cardinality, never by corpus size"))
    def hasLimit(p: LogicalPlan): Boolean =
      // a WindowGroupLimit child counts as bounded: the optimizer's
      // rank-limit pushdown keeps per-key top-k on the MAP side, so the
      // exchange carries ≤ k·|keys| rows — exactly the bound this audit
      // is checking for (the semShardedAssign literal-cap cut compiles
      // to this shape)
      p.collectFirst {
        case _: GlobalLimit | _: LocalLimit | _: WindowGroupLimit => ()
      }.nonEmpty
    def hasBlockSummary(p: LogicalPlan): Boolean =
      p.collectFirst {
        case a: Aggregate if a.groupingExpressions.exists(
          _.references.exists(r => Set("blk", "lblk", "qblk")(r.name))) => ()
      }.nonEmpty
    for ((name, fn) <- SparkEntry.queries) {
      val bad = fn(spark, sf).queryExecution.optimizedPlan.collect {
        case w: LWindow if w.partitionSpec.nonEmpty &&
          w.partitionSpec.flatMap(_.references.map(_.name))
            .forall(!scalingKeys(_)) &&
          !hasLimit(w.child) && !hasBlockSummary(w.child) => w
      }
      if (bad.nonEmpty)
        assert(windowAllow.contains(name),
          s"$name plans a window partitioned only by non-scaling keys " +
            s"(${bad.map(_.partitionSpec.flatMap(_.references.map(_.name))
              .mkString("+")).mkString(", ")}) with an unbounded input " +
            "— add a data-scaling key, bound the input, or allowlist " +
            "with a rationale")
    }
    for (name <- windowAllow.keys)
      assert(SparkEntry.queries.contains(name),
        s"window allowlist names a query that no longer exists: $name")
  }

  test("q_dedup_semantic_sharded: plan size is O(1) in corpus size, no centroid literals") {
    // round-13 verdict ask #1's structural pin: the fine-centroid
    // assignment must live in the DATA plane (packed-matrix broadcast
    // join + NearestCentroidCol), not the PLAN plane (the round-13 CASE
    // of NearestCentroid literals grew the serialized plan — and driver
    // heap — linearly in n/2048). Checked two ways: (a) the optimized
    // plan carries ZERO literal-form NearestCentroid nodes and at least
    // one column-form node; (b) growing the corpus 4x leaves the plan
    // within noise of the same size — only the S routing-centroid
    // literals (n/8.4M, the documented bounded residual) may grow.
    import org.apache.spark.sql.functions.{col, lit}
    import spark.implicits._
    def fixture(n: Int): String = {
      val dir = java.nio.file.Files.createTempDirectory(s"semplan$n").toString
      (0L until n.toLong).map { id =>
        (id, Array.tabulate(graft.similarity.Similarity.Dim) { i =>
          ((graft.functions.Hashing.h48String(s"plan-$id-$i") % 1000)
            / 500.0f - 1.0f)
        })
      }.toDF("vec_id", "embedding").withColumn("label", lit("fix"))
        .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
      dir
    }
    def planOf(dir: String) = graft.similarity.Similarity
      .semanticDedupSharded(spark, dir).queryExecution.optimizedPlan
    def audit(plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan)
        : (Int, Int, Long) = {
      var lits = 0; var cols = 0
      val exprs = plan.collect { case p => p.expressions }.flatten
      exprs.foreach(_.foreach {
        case _: graft.functions.NearestCentroid => lits += 1
        case _: graft.functions.NearestCentroidCol => cols += 1
        case _ =>
      })
      (lits, cols, plan.toString.length.toLong)
    }
    val (lits1, cols1, sz1) = audit(planOf(fixture(300)))
    val (lits4, cols4, sz4) = audit(planOf(fixture(1200)))
    assert(lits1 == 0 && lits4 == 0,
      s"literal-form NearestCentroid back in the plan: $lits1/$lits4")
    assert(cols1 >= 1 && cols4 >= 1, "column-form assignment missing")
    assert(sz4 <= (sz1 * 3) / 2,
      s"plan size grew with corpus size: $sz1 -> $sz4 at 4x rows")
  }

  test("q_agg_pricing: projection pruning holds on the widest fact table") {
    val plan = formatted("q_agg_pricing")
    // the scan schema carries only the aggregation's inputs
    val scanSchemas = plan.linesIterator
      .filter(_.contains("ReadSchema")).mkString("\n")
    for (c <- Seq("l_returnflag", "l_linestatus", "l_quantity",
        "l_extendedprice", "l_discount", "l_tax", "l_shipdate"))
      assert(scanSchemas.contains(c), s"$c missing from scan: $scanSchemas")
    for (c <- Seq("l_orderkey", "l_partkey", "l_comment"))
      assert(!scanSchemas.contains(c), s"$c not pruned: $scanSchemas")
  }
}
