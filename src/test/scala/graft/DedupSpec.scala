package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.functions._
import graft.dedup.Dedup
import graft.graph.Graph
import graft.model.Materialize
import graft.similarity.Similarity

class DedupSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  private def docsDF(rows: (Long, String)*) =
    rows.toDF("doc_id", "text")

  /** Labels of `pairs` from both component methods (the driver union-find
    * under the default edge budget, the distributed fixpoint at budget 0),
    * which must agree. */
  private def bothMethods(pairs: DataFrame): Set[(Long, Long)] = {
    def labels(budget: Int) = Dedup.clustersFromPairsCounted(pairs, budget)._1
      .as[(Long, Long)].collect().toSet
    val driver = labels(Dedup.DriverComponentsMaxEdges)
    assert(labels(0) == driver, "driver union-find and distributed fixpoint disagree")
    driver
  }

  /** (holds a LocalRelation, holds a LogicalRDD) in `df`'s analyzed plan:
    * driver-local rows vs checkpointed executor blocks. */
  private def leaves(df: DataFrame): (Boolean, Boolean) = {
    val p = df.queryExecution.analyzed
    (p.collectFirst { case _: LocalRelation => }.nonEmpty,
      p.collectFirst { case _: LogicalRDD => }.nonEmpty)
  }

  test("shingles: distinct word 3-grams, order-sensitive, short docs drop") {
    val d = docsDF(
      1L -> "a b c d",
      2L -> "a b c a b c", // duplicate shingles collapse
      3L -> "x y")         // too short → no shingles
    val got = Dedup.shingles(d).as[(Long, Long)].collect().toSet
    def h(s: String) = graft.functions.Hashing.h48String(s)
    assert(got == Set(
      (1L, h("a b c")), (1L, h("b c d")),
      (2L, h("a b c")), (2L, h("b c a")), (2L, h("c a b"))))
  }

  test("exact dedup keeps min doc_id and counts copies") {
    val d = docsDF(5L -> "same text", 3L -> "same text", 9L -> "other")
    val got = Dedup.exact(spark, sf) // smoke on real data: all ids distinct
    assert(got.count() == spark.read.parquet(s"$sf/documents.parquet")
      .select("text").distinct().count())
    // planted: aggregate semantics via the same plan shape
    val planted = d.select(col("doc_id"), md5(col("text")).as("content_hash"))
      .groupBy("content_hash")
      .agg(min("doc_id").as("doc_id"), count(lit(1)).as("n_copies"))
    val byHash = planted.as[(String, Long, Long)].collect()
      .map { case (_, id, n) => (id, n) }.toSet
    assert(byHash == Set((3L, 2L), (9L, 1L)))
  }

  test("incremental near-dup: planted copy found, in-plan probe broadcasts the new side") {
    // planted: new doc 18 duplicates stored doc 10; 11 is unrelated prose
    val dir = writeDocs(Seq(
      10L -> "alpha beta gamma delta epsilon zeta eta theta",
      11L -> "one two three four five six seven eight nine",
      18L -> "alpha beta gamma delta epsilon zeta eta theta"))
    val planted = Dedup.incrementalNear(spark, dir)
      .as[(Long, Long, Double)].collect().toSet
    assert(planted == Set((18L, 10L, 1.0)), s"got $planted")
    val inPlan = Dedup.incrementalNear(spark, sf)
    assert(inPlan.count() > 0) // sf0.001 plants real cross-split near-dups
    // the bounded new side is broadcast, so the stored side never
    // shuffles for candidates
    val plan = inPlan.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") || plan.contains("BroadcastExchange"),
      s"no broadcast probe in plan:\n$plan")
  }

  test("paragraph dedup: shared boilerplate vanishes, unique prose survives") {
    val block = (tag: String) => (0 until Dedup.ParaSize).map(i => s"$tag$i").mkString(" ")
    val boiler = block("b")
    val dir = writeDocs(Seq(
      1L -> s"$boiler ${block("u1")}",  // boiler first occurrence
      2L -> s"$boiler ${block("u2")}",  // boiler repeat across docs
      3L -> block("u3"),                // unique-only doc
      4L -> s"${block("u4")} ${block("u4")}")) // within-doc repeat
    val got = Dedup.paragraphDedup(spark, dir)
      .as[(Long, Int, String, Boolean)].collect()
      .map { case (id, idx, _, kept) => ((id, idx), kept) }.toMap
    assert(got == Map(
      (1L, 0) -> true, (1L, 1) -> true,   // first boiler + unique prose kept
      (2L, 0) -> false, (2L, 1) -> true,  // repeated boiler dropped
      (3L, 0) -> true,
      (4L, 0) -> true, (4L, 1) -> false)) // within-doc repeat dropped
    // reassembly invariant: every doc keeps at least its unique content
    assert(Seq(1L, 2L, 3L, 4L).forall(id => got.exists {
      case ((d, _), kept) => d == id && kept }))
  }

  test("dup spans: shared runs merge to maximal spans, unique prose unmarked") {
    // a 20-token boilerplate run shared by docs 1 and 2: its 8 flagged
    // 13-gram starts (1..8 in doc 1, 3..10 in doc 2) must merge into ONE
    // span of exactly the run's length; doc 3 is unique prose (no rows);
    // doc 4 repeats a 13-token run WITHIN itself (both copies marked)
    val run = (0 until 20).map(i => s"b$i").mkString(" ")
    val uniq = (tag: String, n: Int) => (0 until n).map(i => s"$tag$i").mkString(" ")
    val rep = (0 until 13).map(i => s"r$i").mkString(" ")
    val dir = writeDocs(Seq(
      1L -> s"$run ${uniq("u", 15)}",
      2L -> s"x0 x1 $run ${uniq("v", 9)}",
      3L -> uniq("w", 40),
      4L -> s"$rep ${uniq("z", 14)} $rep"))
    val got = Dedup.dupSpans(spark, dir)
      .as[(Long, Long, Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(s => (s._2, s._3, s._4)).toSeq).toMap
    assert(got(1L) == Seq((1L, 20L, 8L)), s"doc1: ${got.get(1L)}")
    assert(got(2L) == Seq((3L, 20L, 8L)), s"doc2: ${got.get(2L)}")
    assert(!got.contains(3L), s"doc3 unique prose marked: ${got.get(3L)}")
    assert(got(4L) == Seq((1L, 13L, 1L), (28L, 13L, 1L)), s"doc4: ${got.get(4L)}")
    // invariant: spans within a doc are disjoint with a gap > 0 between
    // them (maximality — adjacent/overlapping runs must have merged)
    for ((_, spans) <- got; Seq((s1, l1, _), (s2, _, _)) <- spans.sliding(2))
      assert(s2 > s1 + l1, s"non-maximal spans ($s1,$l1) ($s2)")
  }

  test("minhash LSH candidates are a superset of true jaccard>=0.8 pairs") {
    val trueDups = Dedup.jaccardPairs(spark, sf)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val candidates = Dedup.minhashCandidates(spark, sf)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    assert(trueDups.nonEmpty, "calibration: data must contain near-dups")
    val recall = trueDups.count(candidates.contains).toDouble / trueDups.size
    assert(recall >= 0.9, s"LSH recall $recall too low; missed=${trueDups -- candidates}")
  }

  test("simhash banded pairs equal brute-force hamming<=3 (pigeonhole)") {
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    val sig = Dedup.simhashSignatures(docs)
    val a = sig.as("a"); val b = sig.as("b")
    val brute = a.join(b, col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"),
        bit_count(col("a.simhash").bitwiseXOR(col("b.simhash"))).as("hamming"))
      .where(col("hamming") <= Dedup.MaxHamming)
      .as[(Long, Long, Int)].collect().toSet
    val banded = Dedup.simhashPairs(spark, sf)
      .as[(Long, Long, Int)].collect().toSet
    assert(banded == brute)
  }

  test("jaccard pairs: hand-computed fixture") {
    // doc1 shingles {a b c, b c d, c d e}; doc2 shingles {a b c, b c d, c d x}
    // inter=2, union=4 → J=0.5 (below 0.8 threshold, so assert via internals)
    val d = docsDF(1L -> "a b c d e", 2L -> "a b c d x")
    val sh = Dedup.shingles(d)
    val sizes = sh.groupBy("doc_id").count().as[(Long, Long)].collect().toMap
    val inter = sh.as("a").join(sh.as("b"),
        col("a.shingle_h") === col("b.shingle_h") && col("a.doc_id") < col("b.doc_id"))
      .count()
    assert(sizes == Map(1L -> 3L, 2L -> 3L) && inter == 2L)
  }

  test("jaccard df-ceiling cuts hot stop-shingles from pairs and sizes") {
    // docs 1,2: identical, built from unique (cold) shingles → J = 1.0
    // docs 3..7: identical to each other; BOTH their shingles reach df=5,
    // an adversarial hot bucket that would emit 5·4/2 pair structs per
    // shingle row and (uncapped) declare all 10 pairs J = 1.0
    val d = docsDF(
      (1L -> "p q r s t u") +: (2L -> "p q r s t u") +:
        (3L to 7L).map(i => i -> "x y z w"): _*)
    val capped = Dedup.jaccardPairsFrom(d, maxDf = 3)
      .as[(Long, Long, Double)].collect().toSet
    assert(capped == Set((1L, 2L, 1.0)),
      "hot shingles (df=5 > cap=3) must not produce pairs")
    val uncapped = Dedup.jaccardPairsFrom(d, maxDf = 256)
      .as[(Long, Long, Double)].collect().toSet
    assert(uncapped.size == 11 && uncapped.forall(_._3 == 1.0),
      s"without the cap the hot cluster contributes C(5,2)=10 pairs: $uncapped")
  }

  test("cluster resolution: components get min-id canonical, chains converge") {
    // component {1,2,3} via transitive pairs, singleton pair {10,11}, and
    // a 4-node CHAIN 5-6-7-8 whose min label needs 3 propagation rounds
    // to reach the far end — exercises the fixpoint loop, not just one hop
    val pairs = Seq(
      (1L, 2L), (2L, 3L), (10L, 11L),
      (7L, 8L), (6L, 7L), (5L, 6L)).toDF("doc_a", "doc_b")
    val got = bothMethods(pairs)
    assert(got === Set(
      1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L,
      5L -> 5L, 6L -> 5L, 7L -> 5L, 8L -> 5L))
  }

  test("minhash estimates track true jaccard on shared pairs") {
    val est = Dedup.minhashEstimates(spark, sf)
      .as[(Long, Long, Double)].collect()
      .map { case (a, b, e) => (a, b) -> e }.toMap
    assert(est.nonEmpty)
    val exact = Dedup.jaccardPairs(spark, sf)
      .as[(Long, Long, Double)].collect()
      .map { case (a, b, j) => (a, b) -> j }.toMap
    val shared = est.keySet.intersect(exact.keySet)
    assert(shared.nonEmpty, "no overlap between candidates and exact pairs")
    val errs = shared.toSeq.map(k => math.abs(est(k) - exact(k)))
    // 16 perms: std err <= 0.125, so 0.45 is a ~3.6 sigma outlier bound
    assert(errs.max <= 0.45, s"worst estimate off by ${errs.max}")
    assert(errs.sum / errs.size <= 0.2,
      s"mean estimation error ${errs.sum / errs.size} too high for 16 perms")
  }

  test("pointer jumping: a 64-node path converges in O(log n) rounds") {
    // worst case for plain propagation (63 rounds along the chain); after
    // the JumpAfterRounds adaptive delay, path halving must land well
    // under that
    val chain = (1L until 64L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val (labeled, rounds) = Dedup.clustersFromPairsCounted(chain, 0)
    val got = labeled.as[(Long, Long)].collect()
    assert(got.length == 64 && got.forall(_._2 == 1L),
      s"all chain members must resolve to min id 1: ${got.filter(_._2 != 1L).toSeq}")
    assert(rounds <= Dedup.JumpAfterRounds + 10,
      s"expected O(log n) rounds on a path, took $rounds")
  }

  test("fixpoint convergence detection: observed sum stops at the exact round") {
    // round-15 optimization: the per-round convergence sum rides the
    // checkpoint's observe() instead of a second aggregate. On a fixed
    // input the round count is DETERMINISTIC — a clique settles in one
    // propagation round and converges (sum unchanged) on the second —
    // so pinning the exact count proves the observed sum drives the
    // SAME convergence decision the explicit aggregate did: a wrong or
    // missing observed value would either stop early (wrong labels,
    // caught above) or run extra rounds (caught here).
    val clique = Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("doc_a", "doc_b")
    val (labeled, rounds) = Dedup.clustersFromPairsCounted(clique, 0)
    assert(labeled.as[(Long, Long)].collect().toSet ===
      Set(1L -> 1L, 2L -> 1L, 3L -> 1L))
    assert(rounds == 2,
      s"a triangle must converge in exactly 2 rounds (1 propagate + 1 detect), took $rounds")
  }

  test("clusters on real data: every pair endpoint labeled, canonical in cluster") {
    val pairs = Dedup.jaccardPairs(spark, sf).select("doc_a", "doc_b")
      .as[(Long, Long)].collect()
    val clusters = bothMethods(pairs.toSeq.toDF("doc_a", "doc_b")).toMap
    assert(pairs.nonEmpty)
    for ((a, b) <- pairs) {
      assert(clusters.contains(a) && clusters.contains(b))
      assert(clusters(a) == clusters(b), s"pair ($a,$b) split across clusters")
      assert(clusters(a) <= a && clusters(a) <= b, "canonical must be the min id")
    }
  }

  test("embedding LSH near-dup recall audited against brute-force truth") {
    // brute force is test-only ground truth (not a declared operator):
    // every LSH pair must be a true pair (precision 1.0 — the exact cosine
    // re-check guarantees it) and recall must clear the 4-table
    // OR-amplification's design point
    val truth = Dedup.embeddingPairs(spark, sf)
      .as[(Long, Long, Double)].collect()
    assert(truth.nonEmpty)
    assert(truth.forall { case (a, b, c) => a < b && c >= Dedup.CosineThreshold })
    val lsh = graft.similarity.Similarity.lshNearDupPairs(spark, sf)
      .as[(Long, Long, Double)].collect()
    val truthSet = truth.map(p => (p._1, p._2)).toSet
    assert(lsh.forall(p => truthSet.contains((p._1, p._2))),
      "LSH emitted a pair brute force rejects — exact re-check broken")
    val recall = lsh.size.toDouble / truth.size
    assert(recall >= 0.5, s"LSH recall $recall below design point")
  }

  test("LSH recall tracks the analytic 1-(1-p^planes)^T model at floor AND widened width") {
    // the adaptive-width contract's recall law, machine-checked: a pair
    // at cosine c collides per table w.p. p^planes (p = 1 - acos(c)/π),
    // so expected recall over the truth set is mean(1-(1-p^planes)^T),
    // with T the WIDTH-COUPLED table count (round 11: lshTablesFor).
    // sf0.1 gives ~10^3 truth pairs — enough mass that measured recall
    // must sit near the model at BOTH the floor width and a widened
    // signature (h48-derived planes are deterministic, not iid, hence
    // the loose band)
    val dir = "/root/testdata/sf0.1"
    val truth = Dedup.embeddingPairs(spark, dir)
      .as[(Long, Long, Double)].collect()
    assert(truth.size > 200, s"truth too thin (${truth.size}) for a model check")
    val widths = Seq(graft.similarity.Similarity.LshPlanes,
      graft.similarity.Similarity.LshPlanes + 3)
    val recalls = widths.map { planes =>
      val lsh = graft.similarity.Similarity
        .lshNearDupPairsWith(spark, dir, planes)
        .select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
      val measured = truth.count(p => lsh.contains((p._1, p._2))).toDouble / truth.size
      val expected = truth.map { case (_, _, c) =>
        val p = 1.0 - math.acos(math.max(-1.0, math.min(1.0, c))) / math.Pi
        1.0 - math.pow(1.0 - math.pow(p, planes),
          graft.similarity.Similarity.lshTablesFor(planes))
      }.sum / truth.size
      assert(math.abs(measured - expected) <= 0.12,
        s"planes=$planes measured=$measured expected=$expected — recall off the analytic model")
      measured
    }
    // the truth mass of RANDOM synthetic vectors sits in the 0.4–0.6
    // borderline band, BELOW the NearDupCosine design point — there the
    // contract is explicitly best-effort and recall still decays with
    // width (the table coupling buys the guarantee at ≥0.8, not at 0.5;
    // holding 0.9 at 0.5 would cost ~39 tables at 7 planes). The design
    // point itself is pinned by the planted-fixture test below.
    assert(recalls(1) < recalls(0),
      s"borderline-band recall must still decay with width: $recalls")
  }

  test("planted near-dups: measured recall clears LshRecallTarget at the NearDupCosine design point, floor AND widened width") {
    import graft.similarity.Similarity
    // a corpus with REAL truth mass at the guarantee band (random
    // vectors have ~none ≥0.8): 3000 base Gaussian vectors + ~240
    // planted near-copies v' = (1-λ)v + λ·shift32(v), λ cycling
    // 0.20..0.40 → cosines spread ~0.80..0.97. The guarantee under
    // test: a pair at cosine ≥ NearDupCosine is recovered w.p. ≥
    // LshRecallTarget at EVERY signature width the corpus-adaptive
    // formula can pick (while the MaxLshTables budget holds) — the
    // round-11 contract that replaced round 10's decaying fixed-T=4.
    val rnd = new java.util.Random(41)
    val dim = Similarity.Dim
    val base = Array.tabulate(3000)(i =>
      (i.toLong, Array.fill(dim)(rnd.nextGaussian())))
    val lams = Array(0.20, 0.25, 0.30, 0.35, 0.40)
    val planted = (0 until 240).map { k =>
      val (bid, v) = base(k * 12)
      val lam = lams(k % lams.length)
      val w = Array.tabulate(dim)(i => v((i + 32) % dim))
      (10000L + bid, Array.tabulate(dim)(i => (1 - lam) * v(i) + lam * w(i)))
    }
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < dim) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d / math.sqrt(na * nb)
    }
    // truth = planted pairs whose ACTUAL cosine clears the design point
    // with margin (the λ mix scatters around it; 0.81 keeps the engine's
    // exact ≥0.8 gate and this driver recompute from disagreeing on ties)
    val truth = planted.flatMap { case (pid, pv) =>
      val (bid, bv) = base(((pid - 10000).toInt))
      val c = cos(bv, pv)
      if (c >= 0.81) Some((bid, pid)) else None
    }
    assert(truth.size >= 150, s"planted truth too thin: ${truth.size}")
    val dir = java.nio.file.Files.createTempDirectory("planted").toString
    (base ++ planted).toSeq
      .map { case (id, v) => (id, v.map(_.toFloat), 0) }
      .toDF("vec_id", "embedding", "label")
      .write.parquet(s"$dir/embeddings.parquet")
    // adaptive width at n=3240 is the 4-plane floor (tables=5); the
    // widened widths are what the formula picks at 20k / 200k vectors
    // (tables 11 / 14) — recall must clear the target at ALL of them
    val n = 3000 + planted.size
    assert(Similarity.lshPlanesFor(n) == Similarity.LshPlanes)
    for (planes <- Seq(Similarity.LshPlanes, 7, 8)) {
      val found = Similarity.lshNearDupPairsWith(spark, dir, planes)
        .select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
      val recall = truth.count(found.contains).toDouble / truth.size
      assert(recall >= Similarity.LshRecallTarget,
        s"planes=$planes tables=${Similarity.lshTablesFor(planes)}: " +
          s"measured recall $recall below the declared guarantee " +
          s"${Similarity.LshRecallTarget} at cosine ≥ ${Similarity.NearDupCosine}")
    }
  }

  test("planted near-dups: SHARDED index clears the recall target at widths past the flat boundary") {
    import graft.similarity.Similarity
    // same planted construction as the flat test above (240 near-copies
    // at cosines ~0.80..0.97 over 3000 Gaussian base vectors), but run
    // through the SHARDED operator at composite widths 13 and 14 — the
    // territory (n ≳ 10⁶ / 2·10⁶ vectors) where the FLAT index's
    // guarantee decays to 0.879 / 0.733 by its own analytic model. The
    // sharded construction's recall depends only on (width, params),
    // never on n, so the guarantee is measurable on a small corpus; the
    // ≥10⁶-vector end-to-end measurement incl. the occupancy/cost bill
    // is recorded in SURVEY §9.
    val rnd = new java.util.Random(43)
    val dim = Similarity.Dim
    val base = Array.tabulate(3000)(i =>
      (i.toLong, Array.fill(dim)(rnd.nextGaussian())))
    val lams = Array(0.20, 0.25, 0.30, 0.35, 0.40)
    val planted = (0 until 240).map { k =>
      val (bid, v) = base(k * 12)
      val lam = lams(k % lams.length)
      val w = Array.tabulate(dim)(i => v((i + 32) % dim))
      (10000L + bid, Array.tabulate(dim)(i => (1 - lam) * v(i) + lam * w(i)))
    }
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < dim) { d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      d / math.sqrt(na * nb)
    }
    val truth = planted.flatMap { case (pid, pv) =>
      val (bid, bv) = base(((pid - 10000).toInt))
      val c = cos(bv, pv)
      if (c >= 0.81) Some((bid, pid)) else None
    }
    assert(truth.size >= 150, s"planted truth too thin: ${truth.size}")
    val dir = java.nio.file.Files.createTempDirectory("plantedsh").toString
    (base ++ planted).toSeq
      .map { case (id, v) => (id, v.map(_.toFloat), 0) }
      .toDF("vec_id", "embedding", "label")
      .write.parquet(s"$dir/embeddings.parquet")
    for (w <- Seq(Similarity.LshPlanes, 13, 14)) {
      val ps = Similarity.shardedParamsFor(w)
      val found = Similarity.shardedNearDupPairsWith(spark, dir, w)
        .select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
      val recall = truth.count(found.contains).toDouble / truth.size
      assert(recall >= Similarity.LshRecallTarget,
        s"w=$w $ps: measured recall $recall below the declared guarantee " +
          s"${Similarity.LshRecallTarget} at cosine ≥ ${Similarity.NearDupCosine}")
    }
  }

  /** Reference for the prefix-filtered [[Dedup.keyedPairIntersections]]:
    * the unfiltered full inverted index (Σ df² candidate pairs), the shape
    * the DuckDB twins keep. (doc_a, doc_b, i, sza, szb) for every pair
    * sharing ≥1 retained feature.
    */
  private def fullIndexIntersections(keyed: org.apache.spark.sql.DataFrame,
      maxDf: Int): org.apache.spark.sql.DataFrame = {
    val posts = keyed
      .groupBy("h")
      .agg(sort_array(collect_list(col("doc_id"))).as("ds"))
      .where(size(col("ds")) <= maxDf) // stop-feature cut
    val sizes = posts.select(explode(col("ds")).as("doc_id"))
      .groupBy("doc_id").agg(count(lit(1)).as("sz"))
    val n = size(col("ds"))
    val pairsExpr = flatten(transform(sequence(lit(1), n - 1), i =>
      transform(sequence(i + 1, n), j =>
        struct(
          element_at(col("ds"), i).as("doc_a"),
          element_at(col("ds"), j).as("doc_b")))))
    posts.where(size(col("ds")) > 1)
      .select(explode(pairsExpr).as("p"))
      .select(col("p.doc_a").as("doc_a"), col("p.doc_b").as("doc_b"))
      .groupBy("doc_a", "doc_b")
      .agg(count(lit(1)).as("i"))
      .join(sizes.select(col("doc_id").as("doc_a"), col("sz").as("sza")), "doc_a")
      .join(sizes.select(col("doc_id").as("doc_b"), col("sz").as("szb")), "doc_b")
  }

  test("prefix filtering is lossless: thresholded pairs identical to the full index, all three measures") {
    // the Bayardo/PPJoin pigeonhole guarantee, checked on real data at
    // sf0.1 for every (pipeline, threshold) the engine declares: the
    // prefix-filtered candidate set must reproduce EXACTLY the pairs
    // the full Σdf² index yields after thresholding — any miscounted
    // prefix length (e.g. float ceil) would surface here as a lost pair
    val dir = "/root/testdata/sf0.1"
    assert(Dedup.JaccardPrefixT._1.toDouble / Dedup.JaccardPrefixT._2
      == Dedup.JaccardThreshold, "prefix rational drifted from threshold")
    assert(Dedup.ContainmentPrefixT._1.toDouble / Dedup.ContainmentPrefixT._2
      == Dedup.ContainmentThreshold, "prefix rational drifted from threshold")
    assert(1.0 / 2 == Dedup.WinnowThreshold, "winnow rational drifted")
    val d = graft.model.Tables.loadSpread(spark, dir, "documents", "doc_id")
    // integer-exact thresholding (i·den >= m·num) so the comparison
    // itself can't disagree with the double measure on ties
    def thresholded(pi: org.apache.spark.sql.DataFrame,
        num: Int, den: Int, jaccard: Boolean) = {
      val m = if (jaccard)
        col("i") * den >= (col("sza") + col("szb") - col("i")) * num
      else col("i") * den >= least(col("sza"), col("szb")) * num
      pi.where(m).select("doc_a", "doc_b", "i", "sza", "szb")
        .as[(Long, Long, Long, Long, Long)].collect().toSet
    }
    for ((keyed, num, den, jac, name) <- Seq(
        (Dedup.shingles(d).withColumnRenamed("shingle_h", "h"), 4, 5, true, "jaccard"),
        (Dedup.shingles(d).withColumnRenamed("shingle_h", "h"), 9, 10, false, "containment"),
        (Dedup.winnowFingerprints(d), 1, 2, false, "winnow"))) {
      val full = thresholded(
        fullIndexIntersections(keyed, Dedup.MaxShingleDf),
        num, den, jac)
      val pref = thresholded(
        Dedup.keyedPairIntersections(keyed, Dedup.MaxShingleDf, (num, den)),
        num, den, jac)
      assert(full.nonEmpty, s"$name: trivial fixture, no qualifying pairs")
      assert(pref == full,
        s"$name: prefix filter changed the output — missing=${full -- pref} extra=${pref -- full}")
    }
  }

  test("involved-id budget 0: shuffled semi-join returns the broadcast path's rows") {
    // the fallback above InvolvedBroadcastMaxIds withholds the broadcast
    // hint; with auto-broadcast off, only that hint can plan a
    // BroadcastExchange, so the budget alone decides the join shape
    val keyed = Dedup.shingles(
      graft.model.Tables.loadSpread(spark, sf, "documents", "doc_id"))
      .withColumnRenamed("shingle_h", "h")
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val saved = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try {
      def run(budget: Long) = {
        val df = Dedup.keyedPairIntersections(keyed, Dedup.MaxShingleDf,
          Dedup.JaccardPrefixT, budget)
        val rows = df.as[(Long, Long, Long, Long, Long)].collect().toSet
        (rows, df.queryExecution.executedPlan.toString)
      }
      val (bcRows, bcPlan) = run(Dedup.InvolvedBroadcastMaxIds)
      val (shRows, shPlan) = run(0L)
      assert(bcPlan.contains("BroadcastExchange"),
        s"default budget should broadcast the involved ids:\n$bcPlan")
      assert(!shPlan.contains("BroadcastExchange"),
        s"budget 0 must plan the shuffled semi-join:\n$shPlan")
      assert(bcRows.nonEmpty, "trivial fixture: no candidate pairs")
      assert(shRows == bcRows)
    } finally spark.conf.set(key, saved)
  }

  test("cluster fixpoint memo: input rewrite is a cache miss, never stale labels") {
    val text = (1 to 30).map(i => s"w$i").mkString(" ")
    val dir = writeDocs(Seq(
      1L -> text, 2L -> text, 3L -> "x y z totally other words here"))
    val first = Dedup.nearDupClusters(spark, dir)
      .as[(Long, Long)].collect().toSet
    assert(first == Set((1L, 1L), (2L, 1L)), s"unexpected clusters: $first")
    // rewrite THE SAME PATH with a different near-dup pair: the file
    // fingerprint changes, so the memo must recompute, not serve 1-2
    writeDocs(Seq(
      3L -> text, 4L -> text, 5L -> "p q r unrelated solitary words"),
      into = dir)
    val second = Dedup.nearDupClusters(spark, dir)
      .as[(Long, Long)].collect().toSet
    assert(second == Set((3L, 3L), (4L, 3L)), s"stale cache served: $second")
    // the same memo serves the link graph: a rewrite with a different N
    // must re-derive the edges (every dst is mod N)
    def edges(n: Long) = (for {
      src <- 0L until n; j <- 0 until Graph.Fanout
      dst = (src * 31 + j * 1009 + 7) % n if dst != src
    } yield (src, dst)).toSet
    writeDocs((0L until 5L).map(i => i -> s"doc $i"), into = dir)
    assert(Graph.linkEdges(spark, dir).as[(Long, Long)].collect().toSet == edges(5))
    writeDocs((0L until 7L).map(i => i -> s"doc $i"), into = dir)
    assert(Graph.linkEdges(spark, dir).as[(Long, Long)].collect().toSet == edges(7))
    // ... and the embedding row count
    def writeEmbeddings(n: Int): Unit =
      (1 to n).map(i => (i.toLong, Array(i.toFloat), 0)).toDF("vec_id", "embedding", "label")
        .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    writeEmbeddings(3)
    assert(Similarity.embedCount(spark, dir) == 3L)
    writeEmbeddings(5)
    assert(Similarity.embedCount(spark, dir) == 5L)
    // clearing one kind leaves the others' entries: a hit returns the very
    // frame the memo holds, a recompute a new one
    val edgesHeld = Graph.linkEdges(spark, dir)
    val labelsHeld = Dedup.nearDupClusters(spark, dir)
    assert(Graph.linkEdges(spark, dir) eq edgesHeld)
    Materialize.clear(spark, Dedup.ClusterMemo)
    assert(!(Dedup.nearDupClusters(spark, dir) eq labelsHeld))
    assert(Graph.linkEdges(spark, dir) eq edgesHeld)
    // the ninth distinct dir of one kind drops that session's older
    // entries of the kind, and only of that kind
    var computed = 0
    def probe(d: String): String =
      Materialize.memo(spark, "spec.probe", d, "documents") { computed += 1; d }
    val dirs = (0 to Materialize.PerSessionKind).map(i => s"$dir/absent$i")
    dirs.foreach(probe)
    probe(dirs.last)
    assert(computed == dirs.size, "the newest entry must still be held")
    probe(dirs.head)
    assert(computed == dirs.size + 1, "the oldest entry must be evicted")
    assert(Graph.linkEdges(spark, dir) eq edgesHeld)
  }

  test("cluster memo: a part file rewritten in place in a partition dir is a miss") {
    import org.apache.hadoop.fs.Path
    val text = (1 to 30).map(i => s"w$i").mkString(" ")
    def docs(rows: (Long, String, Int)*) = rows.toDF("doc_id", "text", "part")
      .withColumn("lang", lit("en")).withColumn("source", lit("fix"))
      .withColumn("n_chars", length(col("text")))
    val dir = java.nio.file.Files.createTempDirectory("nestedfix").toString
    docs((1L, text, 0), (2L, text, 0), (3L, "x y z totally other words here", 1))
      .repartition(1).write.partitionBy("part").parquet(s"$dir/documents.parquet")
    val first = Dedup.nearDupClusters(spark, dir).as[(Long, Long)].collect().toSet
    assert(first == Set((1L, 1L), (2L, 1L)), s"unexpected clusters: $first")
    // part=1's one file, truncated and rewritten through the checksummed
    // FileSystem (its .crc follows) so that doc 3 copies docs 1 and 2:
    // no directory entry changes, so no directory's mtime does
    val staged = java.nio.file.Files.createTempDirectory("nestedpart").toString
    docs((3L, text, 1)).drop("part").coalesce(1)
      .write.mode("overwrite").parquet(staged)
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    def partFile(d: String): Path = fs.listStatus(new Path(d)).map(_.getPath)
      .filter(_.getName.startsWith("part-")).head
    val dirs = Seq(s"$dir/documents.parquet", s"$dir/documents.parquet/part=1")
      .map(new Path(_))
    def dirMtimes = dirs.map(fs.getFileStatus(_).getModificationTime)
    val mtimesBefore = dirMtimes
    val bytes = java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(partFile(staged).toUri))
    val out = fs.create(partFile(s"$dir/documents.parquet/part=1"), true)
    try out.write(bytes) finally out.close()
    assert(dirMtimes == mtimesBefore, "fixture must leave directory mtimes alone")
    val second = Dedup.nearDupClusters(spark, dir).as[(Long, Long)].collect().toSet
    assert(second == Set((1L, 1L), (2L, 1L), (3L, 1L)), s"stale cache served: $second")
  }

  test("reliable checkpoint branch: same clusters as localCheckpoint, files in the dir") {
    // a chain: each doc shifts the last one's words by 4 (jaccard 0.81),
    // docs two apart fall below 0.8, so the labels need several rounds
    val dir = writeDocs((0 until 4).map(k =>
      (k + 1).toLong -> (1 + 4 * k to 40 + 4 * k).map(i => s"w$i").mkString(" ")) :+
      (9L -> "p q r unrelated solitary words"))
    def run() = bothMethods(Dedup.jaccardPairsFrom(
      graft.model.Tables.load(spark, dir, "documents")).select("doc_a", "doc_b"))
    val local = run()
    assert(local == Set((1L, 1L), (2L, 1L), (3L, 1L), (4L, 1L)), s"fixture drifted: $local")
    val ckpt = java.nio.file.Files.createTempDirectory("ckptdir")
    spark.sparkContext.setCheckpointDir(ckpt.toString)
    try {
      assert(run() == local)
      assert(java.nio.file.Files.walk(ckpt)
        .anyMatch(java.nio.file.Files.isRegularFile(_)), "no reliable checkpoint written")
    } finally spark.sparkContext.setCheckpointDir(null)
  }

  test("component methods: budget n takes the driver path, n-1 the distributed one") {
    val pairs = Seq((1L, 2L), (3L, 2L), (10L, 11L), (4L, 3L)).toDF("doc_a", "doc_b")
    val (driver, driverRounds) = Dedup.clustersFromPairsCounted(pairs, 4)
    val (fixpoint, fixpointRounds) = Dedup.clustersFromPairsCounted(pairs, 3)
    assert(leaves(driver) == (true, false), driver.queryExecution.analyzed.treeString)
    assert(leaves(fixpoint) == (false, true), fixpoint.queryExecution.analyzed.treeString)
    assert(driverRounds == 0 && fixpointRounds > 0)
    // same rows in the same doc_id order
    val want = Seq((1L, 1L), (2L, 1L), (3L, 1L), (4L, 1L), (10L, 10L), (11L, 10L))
    assert(driver.as[(Long, Long)].collect().toSeq == want)
    assert(fixpoint.as[(Long, Long)].collect().toSeq == want)
  }

  test("component methods: empty pairs give zero rows of one schema on both") {
    val empty = Seq.empty[(Long, Long)].toDF("doc_a", "doc_b")
    val (driver, _) = Dedup.clustersFromPairsCounted(empty, 0)
    val (fixpoint, _) = Dedup.clustersFromPairsCounted(empty, -1)
    // no checkpoint here (nothing to iterate), so tell the paths apart by
    // the driver's bare local rows vs the fixpoint's two-direction edge union
    def nodes(df: DataFrame) = df.queryExecution.analyzed.collect { case p => p.nodeName }.toSet
    assert(nodes(driver) == Set("Project", "LocalRelation"), nodes(driver))
    assert(nodes(fixpoint).contains("Union"), nodes(fixpoint))
    assert(driver.collect().isEmpty && fixpoint.collect().isEmpty)
    assert(driver.dtypes.toSeq == fixpoint.dtypes.toSeq)
    assert(driver.columns.toSeq == Seq("doc_id", "canonical_id"))
  }

  test("cluster memo under the edge budget holds a LocalRelation, no LogicalRDD") {
    // driver-local labels hold no executor blocks, so losing an executor
    // cannot leave the memo serving a dead checkpoint
    val text = (1 to 30).map(i => s"w$i").mkString(" ")
    val dir = writeDocs(Seq(
      1L -> text, 2L -> text, 3L -> "x y z totally other words here"))
    val held = Dedup.nearDupClusters(spark, dir)
    assert(Dedup.nearDupClusters(spark, dir) eq held, "memo miss on an unchanged dir")
    assert(leaves(held) == (true, false), held.queryExecution.analyzed.treeString)
    assert(held.as[(Long, Long)].collect().toSet == Set((1L, 1L), (2L, 1L)))
  }

  test("containment catches doc-in-doc inclusion that jaccard misses") {
    // short = an exact contiguous slice of long → containment 1.0, but
    // jaccard = |short|/|long| shingles ≈ 0.2, far below the 0.8 gate
    val longText = (1 to 40).map(i => s"w$i").mkString(" ")
    val shortText = (10 to 17).map(i => s"w$i").mkString(" ")
    val dir = writeDocs(Seq(
      1L -> longText, 2L -> shortText, 3L -> "totally different words here"))
    val cont = Dedup.containmentPairs(spark, dir)
      .as[(Long, Long, Double)].collect().toList
    assert(cont == List((1L, 2L, 1.0)))
    val jac = Dedup.jaccardPairs(spark, dir)
      .as[(Long, Long, Double)].collect().toList
    assert(jac.isEmpty, s"jaccard unexpectedly flagged: $jac")
  }

  test("dup token share: token-weighted redundancy per source") {
    // source A: a 12-token doc duplicated (one copy dropped) + a 4-token
    // unique doc → dup_tokens 12 of 28; source B: all unique → share 0
    val long12 = (1 to 12).map(i => s"w$i").mkString(" ")
    import org.apache.spark.sql.functions.{col, length, lit}
    val d2 = java.nio.file.Files.createTempDirectory("dtsfix").toString
    Seq((1L, long12, "A"), (2L, long12, "A"), (3L, "tiny doc of four", "A"),
        (4L, "other words entirely here now", "B"))
      .toDF("doc_id", "text", "source")
      .withColumn("lang", lit("en"))
      .withColumn("n_chars", length(col("text")))
      .write.mode("overwrite").parquet(s"$d2/documents.parquet")
    val got = Dedup.dupTokenShare(spark, d2)
      .as[(String, Long, Long, Long, Long, Double)].collect().toList
    assert(got == List(
      ("A", 3L, 1L, 28L, 12L, 12.0 / 28.0),
      ("B", 1L, 0L, 5L, 0L, 0.0)))
  }

  test("winnowing: shift-invariant fingerprints catch a shared run jaccard misses") {
    // driver-side reference winnow: positional 3-gram hashes, 4-window
    // minima, distinct values (degenerate short sequence → global min)
    def winnow(text: String): Set[Long] = {
      val t = text.toLowerCase.split("\\s+").filter(_.nonEmpty).toVector
      val hs = t.sliding(3).filter(_.size == 3)
        .map(g => graft.functions.Hashing.h48String(g.mkString(" "))).toVector
      if (hs.isEmpty) Set.empty
      else if (hs.size < Dedup.WinnowW) Set(hs.min)
      else hs.sliding(Dedup.WinnowW).map(_.min).toSet
    }
    val boiler = "the quick brown fox jumps over the lazy dog tonight"
    // the shared run sits at DIFFERENT token offsets in each doc —
    // fixed-stride sampling would desynchronize, winnowing cannot
    val a = s"alpha beta gamma delta epsilon zeta $boiler eta theta iota kappa lambda mu"
    val b = s"one two $boiler three four"
    val c = "completely disjoint prose with no shared trigram at all honest"
    val dir = writeDocs(Seq(1L -> a, 2L -> b, 3L -> c))
    // fingerprint sets match the reference implementation exactly
    val got = Dedup.winnowFingerprints(
      graft.model.Tables.load(spark, dir, "documents"))
      .as[(Long, Long)].collect().groupBy(_._1).map { case (k, v) =>
        k -> v.map(_._2).toSet }
    assert(got == Map(1L -> winnow(a), 2L -> winnow(b), 3L -> winnow(c)))
    // the pair query finds (1,2) with the exact shared count and overlap
    val shared = (winnow(a) intersect winnow(b)).size
    assert(shared >= 1, "guarantee: a 10-token shared run must fingerprint")
    val expOverlap = shared.toDouble / math.min(winnow(a).size, winnow(b).size)
    assert(expOverlap >= Dedup.WinnowThreshold, s"fixture drifted: $expOverlap")
    val pairs = Dedup.winnowOverlap(spark, dir)
      .as[(Long, Long, Long, Double)].collect().toList
    assert(pairs == List((1L, 2L, shared.toLong, expOverlap)))
    // whole-doc jaccard at 0.8 is silent on the same fixture — the local
    // detector adds coverage, it doesn't duplicate it
    assert(Dedup.jaccardPairs(spark, dir).collect().isEmpty)
  }

  test("winnow hot-gram mask: planted boilerplate cannot displace content fingerprints (recall floor 1.0)") {
    // the round-11 §9.37 finding, CLOSED: hot grams used to displace
    // content minima from their windows, and when the posting ceiling
    // then dropped the hot feature, the displaced region had lost its
    // fingerprint — 5% content-pair recall loss on the planted corpus.
    // Round 12 masks hot grams BEFORE selection (per-window fallback to
    // the rarest non-hot gram), so on this fixture recall 1.0 is
    // GUARANTEED, not just expected: windows fully inside a pair's
    // 20-token shared run select ≥ ceil(15/4) ≥ 4 identical values in
    // both docs (one value can be the minimum of at most W consecutive
    // windows), each doc adds ≤ 2 non-shared selections from its
    // 2-token unique prefix, so overlap ≥ 4/6 > 0.5 at ANY hash draw.
    val boiler = (0 until 30).map(i => s"boiler$i").mkString(" ")
    val docs = (0 until 300).flatMap { p =>
      val shared = (0 until 20).map(i => s"p${p}s$i").mkString(" ")
      Seq((2L * p, s"p${p}a0 p${p}a1 $shared $boiler"),
        (2L * p + 1, s"p${p}b0 p${p}b1 $shared $boiler"))
    }.toDF("doc_id", "text")
    // the pre-pass finds exactly the 28 boilerplate-interior grams
    // (df = 600 > MaxShingleDf); junction grams carry pair-unique
    // tokens (df = 2) and stay
    val hot = Dedup.hotGrams(docs, Dedup.MaxShingleDf)
    assert(hot.size == 28, s"hot set ${hot.size} != 28")
    // masked fingerprints never contain a hot value (so the downstream
    // ceiling is provably inert on them)
    val hotSet = hot.toSet
    val fps = Dedup.winnowFingerprints(docs, hot)
      .select("h").as[Long].collect()
    assert(!fps.exists(hotSet.contains), "a hot gram survived the mask")
    // every content pair found, and ONLY content pairs (cross-pair docs
    // share nothing but masked boilerplate)
    val pairs = Dedup.winnowOverlapFrom(docs)
      .select("doc_a", "doc_b").as[(Long, Long)].collect().toSet
    val want = (0 until 300).map(p => (2L * p, 2L * p + 1)).toSet
    assert(pairs == want,
      s"lost=${(want -- pairs).take(5)} extra=${(pairs -- want).take(5)}")
    // a corpus with no hot grams masks nothing: selection is the
    // pre-round-12 one bit-for-bit
    val clean = graft.model.Tables.load(spark, sf, "documents")
    assert(Dedup.hotGrams(clean, Dedup.MaxShingleDf).isEmpty)
  }

  test("dedup survivors: total decision table, kept iff own canonical") {
    val docs = graft.model.Tables.load(spark, sf, "documents")
      .select("doc_id").as[Long].collect().toSet
    val surv = Dedup.dedupSurvivors(spark, sf)
      .as[(Long, Long, Boolean)].collect()
    // one decision per document, no extras
    assert(surv.map(_._1).toSet == docs && surv.length == docs.size)
    // kept is exactly doc == canonical; canonical is the cluster min so
    // every removed doc points at a SMALLER surviving doc
    val kept = surv.filter(_._3).map(_._1).toSet
    for ((doc, canon, k) <- surv) {
      assert(k == (doc == canon))
      if (!k) {
        assert(canon < doc)
        assert(kept.contains(canon), s"$doc's canonical $canon was dropped")
      }
    }
    // clustered docs carry the cluster labels verbatim
    val labels = Dedup.nearDupClusters(spark, sf)
      .as[(Long, Long)].collect().toMap
    for ((doc, canon, _) <- surv)
      assert(labels.getOrElse(doc, doc) == canon)
  }

  test("cross-source dups: boundary-crossing pairs flagged, within-source not") {
    import org.apache.spark.sql.functions.{col, length, lit}
    val txt = "alpha beta gamma delta epsilon zeta eta theta"
    val dir = java.nio.file.Files.createTempDirectory("xsrcfix").toString
    // docs 1,2 duplicate ACROSS web/books; docs 3,4 duplicate WITHIN web;
    // doc 5 unique (no pair)
    Seq((1L, txt, "web"), (2L, txt, "books"),
      (3L, "one two three four five six seven eight", "web"),
      (4L, "one two three four five six seven eight", "web"),
      (5L, "totally different words nothing shared here at all", "web"))
      .toDF("doc_id", "text", "source")
      .withColumn("lang", lit("en"))
      .withColumn("n_chars", length(col("text")))
      .select("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = Dedup.crossSourceDups(spark, dir)
      .as[(String, String, Long, Boolean)].collect().toList
    assert(out == List(("books", "web", 1L, true), ("web", "web", 1L, false)))
  }

  test("template detector: shared boilerplate paragraph found with source spread") {
    val dir = java.nio.file.Files.createTempDirectory("tmpl").toString
    // ParaSize-token boilerplate prefix shared by docs 1-3 (two sources);
    // doc 4 is all-unique prose
    val boiler = (0 until graft.dedup.Dedup.ParaSize).map(i => s"b$i").mkString(" ")
    def uniq(seed: Int) = (0 until graft.dedup.Dedup.ParaSize)
      .map(i => s"u$seed-$i").mkString(" ")
    Seq((1L, s"$boiler ${uniq(1)}", "web"), (2L, s"$boiler ${uniq(2)}", "web"),
      (3L, s"$boiler ${uniq(3)}", "books"), (4L, uniq(4), "web"))
      .toDF("doc_id", "text", "source")
      .withColumn("lang", lit("en"))
      .withColumn("n_chars", length(col("text")))
      .select("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val rows = Dedup.templateParagraphs(spark, dir)
      .as[(String, Long, Long, Long)].collect().toList
    assert(rows.length == 1, s"only the boilerplate repeats: $rows")
    val (h, occ, nd, ns) = rows.head
    assert(occ == 3L && nd == 3L && ns == 2L)
    // the hash is the md5 of the boilerplate paragraph itself
    val md = java.security.MessageDigest.getInstance("MD5")
      .digest(boiler.getBytes("UTF-8")).map("%02x".format(_)).mkString
    assert(h == md)
  }

  test("keep-best policy: argmax quality per cluster, singletons kept") {
    val sf = "/root/testdata/sf0.001"
    val rows = Dedup.dedupKeepBest(spark, sf)
      .as[(Long, Long, Double, Boolean)].collect().toList
    // total decision table over the whole spine
    assert(rows.map(_._1) == rows.map(_._1).sorted && rows.nonEmpty)
    val byCluster = rows.groupBy(_._2)
    byCluster.foreach { case (canon, members) =>
      val kept = members.filter(_._4)
      assert(kept.size == 1, s"cluster $canon kept ${kept.size}")
      // the kept member is the (quality desc, doc_id asc) argmax
      val best = members.sortBy(m => (-m._3, m._1)).head
      assert(kept.head._1 == best._1)
      // singleton ⇒ kept must be the doc itself
      if (members.size == 1) assert(members.head._1 == canon)
    }
    // policy differs from min-id somewhere on real data, else no signal
    val multi = byCluster.filter(_._2.size > 1)
    assert(multi.nonEmpty)
  }
}
