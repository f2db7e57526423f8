package graft

import org.scalacheck.Gen
import org.apache.spark.sql.functions._
import graft.text.TextOps
import graft.chisq.ChiSquare
import graft.wordcount.WordCount

/** Property-based invariants (SURVEY.md §5): tokenizer never leaks stripped
  * chars or empties, χ² is non-negative and guard-safe, top-k ⊆ input,
  * per-doc dedup idempotent. ScalaCheck generators feed the REAL Spark
  * expressions in batches (one Spark job per property, not per case).
  */
class PropertiesSpec extends SparkSpec {
  import spark.implicits._

  private val strippedChars =
    "()[]{}.!?,;:+=-_\"~#@&*%€$§/\\" + "0123456789" + "\t'"

  private val textGen: Gen[String] = Gen.listOfN(40,
    Gen.frequency(
      8 -> Gen.alphaLowerChar,
      3 -> Gen.oneOf(strippedChars.toSeq),
      2 -> Gen.oneOf(' ', '\t'),
      1 -> Gen.oneOf('<', '>', '|', '^'))).map(_.mkString)

  test("tokenizer: no stripped chars, no empties, dedup idempotent") {
    val texts = Gen.listOfN(200, textGen).sample.get
    val toks = texts.toDF("text")
      .select(explode(TextOps.reviewTokens(col("text"))).as("w"))
      .as[String].collect()
    val bad = strippedChars.toSet
    toks.foreach { w =>
      assert(w.nonEmpty, "empty token leaked")
      assert(!w.exists(bad.contains), s"stripped char survived in '$w'")
    }
    // idempotence: tokenizing the join of tokens yields the same set per doc
    val once = texts.toDF("text").select(TextOps.reviewTokens(col("text")).as("t"))
    val twice = once.select(TextOps.reviewTokens(concat_ws(" ", col("t"))).as("t"))
    assert(once.select(array_sort(col("t"))).as[Seq[String]].collect().toSeq ==
      twice.select(array_sort(col("t"))).as[Seq[String]].collect().toSeq)
  }

  test("chi2: non-negative, finite, and guarded against zero marginals") {
    val cells = for {
      a <- Gen.chooseNum(0L, 500L); b <- Gen.chooseNum(0L, 500L)
      c <- Gen.chooseNum(0L, 500L); d <- Gen.chooseNum(0L, 500L)
    } yield (a, b, c, d)
    val cases = Gen.listOfN(300, cells).sample.get
      .filter { case (a, b, c, d) => a + c > 0 && a + b > 0 } // word+cat exist
    // score via the real operator, one 2-category run per case
    cases.take(20).zipWithIndex.foreach { case ((a, b, c, d), i) =>
      val withOther = Seq((s"w$i", "cat", a), (s"w$i", "other", b))
        .toDF("word", "category", "df_count")
      val totals = Seq(("cat", a + c), ("other", b + d))
        .toDF("category", "n_docs")
      val scored = ChiSquare.score(withOther, totals, a + b + c + d)
        .where(col("category") === "cat")
        .as[(String, String, Double)].collect()
      scored.foreach { case (_, _, chi2) =>
        assert(chi2 >= 0.0 && !chi2.isNaN && !chi2.isInfinite,
          s"chi2=$chi2 for cells ($a,$b,$c,$d)")
      }
    }
  }

  test("top-k is a subset of input and respects k per group") {
    val rows = Gen.listOfN(300, for {
      cat <- Gen.oneOf("a", "b", "c")
      w <- Gen.identifier.map(_.take(6))
      s <- Gen.chooseNum(0.0, 100.0)
    } yield (w, cat, s)).sample.get.distinct
    val df = rows.toDF("word", "category", "chi2")
    val k = 7
    val top = ChiSquare.topKPerCategory(df, k)
      .as[(String, String, Double)].collect()
    val inputSet = rows.toSet
    assert(top.forall(inputSet.contains))
    top.groupBy(_._2).foreach { case (_, gs) => assert(gs.length <= k) }
  }

  test("document frequency never exceeds category doc count") {
    val docs = Gen.listOfN(100, for {
      cat <- Gen.oneOf("x", "y")
      words <- Gen.listOfN(8, Gen.oneOf("red", "green", "blue", "cyan"))
    } yield (words.mkString(" "), cat)).sample.get
    val df = docs.toDF("text", "category")
    val counts = WordCount.documentFrequency(df, col("text"), col("category"))
      .as[(String, String, Long)].collect()
    val catDocs = docs.groupBy(_._2).map { case (k, v) => (k, v.size.toLong) }
    counts.foreach { case (w, c, n) =>
      assert(n >= 1 && n <= catDocs(c), s"df($w,$c)=$n out of range")
    }
  }

  test("pythonRepr round-trips arbitrary doubles, incl. subnormals and extremes") {
    import graft.model.RefFormats.pythonRepr
    val doubles = Gen.listOfN(2000, Gen.oneOf(
      Gen.chooseNum(-1e300, 1e300),
      Gen.chooseNum(-1e-4, 1e-4),
      // raw-bits generator reaches subnormals, huge/tiny exponents, −0.0
      Gen.chooseNum(Long.MinValue, Long.MaxValue)
        .map(java.lang.Double.longBitsToDouble)
        .filter(d => !d.isNaN && !d.isInfinite)
    )).sample.get
    val edge = Seq(0.0, -0.0, 1.0, -1.0, 1e16, 9999999999999998.0, 1e-4,
       9.999e-5, java.lang.Double.MIN_VALUE, java.lang.Double.MAX_VALUE,
      4.9e-324, 2.2250738585072014e-308)
    (doubles ++ edge).foreach { d =>
      val s = pythonRepr(d)
      assert(java.lang.Double.parseDouble(s) == d ||
        (d == 0.0 && 1.0 / java.lang.Double.parseDouble(s) == 1.0 / d),
        s"repr($d) = $s does not round-trip")
      // shape: fixed inside [1e-4, 1e16), scientific outside (python rule)
      val a = math.abs(d)
      if (a != 0.0) {
        val sci = s.contains("e")
        assert(sci == (a >= 1e16 || a < 1e-4),
          s"repr($d) = $s wrong notation")
      }
    }
  }

  test("containment/jaccard invariants on generated corpora") {
    // random word-soup corpora: for every emitted pair, doc_a < doc_b,
    // both measures in (0, 1], jaccard ≤ containment (i/(sa+sb−i) ≤
    // i/min(sa,sb) always), and thresholds respected
    val word = Gen.oneOf((1 to 12).map(i => s"t$i"))
    val docGen = Gen.chooseNum(3, 20).flatMap(n =>
      Gen.listOfN(n, word).map(_.mkString(" ")))
    val texts = Gen.listOfN(60, docGen).sample.get
    val dir = writeDocs(
      texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }, source = "gen")
    val jac = graft.dedup.Dedup.jaccardPairs(spark, dir)
      .as[(Long, Long, Double)].collect()
      .map { case (a, b, v) => (a, b) -> v }.toMap
    val cont = graft.dedup.Dedup.containmentPairs(spark, dir)
      .as[(Long, Long, Double)].collect()
      .map { case (a, b, v) => (a, b) -> v }.toMap
    for ((k @ (a, b), c) <- cont) {
      assert(a < b && c > 0.0 && c <= 1.0, s"$k containment $c")
      jac.get(k).foreach(j => assert(j <= c + 1e-12, s"$k j=$j > c=$c"))
    }
    for ((k @ (a, b), j) <- jac) {
      assert(a < b && j >= graft.dedup.Dedup.JaccardThreshold && j <= 1.0)
      // any jaccard-flagged pair has containment ≥ jaccard ≥ 0.8; it
      // appears in the containment output iff it clears that gate
      if (j >= graft.dedup.Dedup.ContainmentThreshold)
        assert(cont.contains(k), s"$k j=$j missing from containment")
    }
  }

  test("cdc chunks tile arbitrary generated corpora exactly") {
    val word = Gen.oneOf((1 to 40).map(i => s"w$i"))
    val docGen = Gen.chooseNum(1, 120).flatMap(n =>
      Gen.listOfN(n, word).map(_.mkString(" ")))
    val texts = Gen.listOfN(50, docGen).sample.get
    val dir = writeDocs(
      texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }, source = "gen")
    val lens = texts.zipWithIndex
      .map { case (t, i) => i.toLong -> t.split("\\s+").count(_.nonEmpty) }.toMap
    val chunks = graft.textanalysis.CorpusOps.cdcChunks(spark, dir)
      .as[(Long, Long, Long, Long, Long)].collect()
      .groupBy(_._1).map { case (d, cs) => d -> cs.sortBy(_._2) }
    for ((doc, n) <- lens if n > 0) {
      val cs = chunks(doc)
      assert(cs.head._3 == 1L, s"doc $doc first chunk start")
      assert(cs.map(_._4).sum == n, s"doc $doc coverage")
      assert(cs.map(_._4).forall(_ > 0), s"doc $doc empty chunk")
      cs.sliding(2).foreach {
        case Array(a, b) =>
          assert(b._3 == a._3 + a._4, s"doc $doc spans must abut")
          assert(b._2 == a._2 + 1, s"doc $doc chunk_idx dense")
        case _ =>
      }
    }
  }

  test("integer IPF: budgets never exceeded, masses non-negative, on random matrices") {
    // pure driver-side replay of the corpusRake arithmetic over random
    // integer matrices — the algebraic invariants must hold for ANY input,
    // not just the synthetic corpus
    val cellGen = Gen.chooseNum(0L, 1000000L)
    for (_ <- 1 to 20) {
      val nS = Gen.chooseNum(1, 6).sample.get
      val nL = Gen.chooseNum(1, 5).sample.get
      val m0 = Array.fill(nS, nL)(cellGen.sample.get)
      val total = m0.map(_.sum).sum
      val tl = total / nL
      val cs0 = m0.map(_.sum)
      var m = m0.map(_.clone())
      for (_ <- 1 to graft.textanalysis.CorpusOps.RakeRounds) {
        val rs = (0 until nL).map(l => (0 until nS).map(s => m(s)(l)).sum)
        for (s <- 0 until nS; l <- 0 until nL if rs(l) > 0)
          m(s)(l) = m(s)(l) * tl / rs(l)
        val ss = m.map(_.sum)
        for (s <- 0 until nS; l <- 0 until nL if ss(s) > 0)
          m(s)(l) = m(s)(l) * cs0(s) / ss(s)
      }
      for (s <- 0 until nS) {
        assert(m(s).forall(_ >= 0L))
        assert(m(s).sum <= cs0(s), s"source $s budget exceeded")
      }
    }
  }

  test("block-rank decomposition equals whole-partition window ranks") {
    import org.apache.spark.sql.expressions.Window
    import graft.textanalysis.TextAnalysis
    // random (source, value) pairs with GUARANTEED heavy ties (values on
    // a 41-point grid) and degenerate single-value sources mixed in
    val gen = Gen.listOfN(400, for {
      src <- Gen.oneOf("s1", "s2", "s3", "one")
      v <- Gen.chooseNum(0, 40)
    } yield (src, if (src == "one") 0.5 else v / 40.0))
    val rows = gen.sample.get.zipWithIndex
      .map { case ((s, v), i) => (i.toLong, s, v) }
    val df = rows.toDF("doc_id", "source", "quality")
    // reference: the whole-partition windows the decomposition replaces
    val wRow = Window.partitionBy("source").orderBy("quality", "doc_id")
    val wRank = Window.partitionBy("source").orderBy("quality")
    val ref = df
      .select(col("doc_id"), row_number().over(wRow).as("rn"),
        rank().over(wRank).as("rk"))
      .as[(Long, Int, Int)].collect().map(r => r._1 -> ((r._2, r._3))).toMap
    // decomposition: production grid map + offsets + within-block windows
    val b = df.withColumn("blk", TextAnalysis.qualityBlock(col("quality")))
    val prev = Window.partitionBy("source").orderBy("blk")
      .rangeBetween(Window.unboundedPreceding, -1)
    val offs = b.groupBy("source", "blk").agg(count(lit(1)).as("c"))
      .select(col("source"), col("blk"),
        coalesce(sum("c").over(prev), lit(0L)).as("off"))
    val wRowB = Window.partitionBy("source", "blk").orderBy("quality", "doc_id")
    val wRankB = Window.partitionBy("source", "blk").orderBy("quality")
    val got = b.join(offs, Seq("source", "blk"))
      .select(col("doc_id"),
        (col("off") + row_number().over(wRowB)).as("rn"),
        (col("off") + rank().over(wRankB)).as("rk"))
      .as[(Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2.toInt, r._3.toInt))).toMap
    assert(got == ref)
  }

  test("versioned table: random op sequences match an in-memory model") {
    import graft.sources.VersionedTable
    val opsGen = Gen.listOfN(8, Gen.frequency(
      4 -> Gen.listOfN(3, Gen.chooseNum(0L, 30L)).map(ids => ("append", ids)),
      3 -> Gen.listOfN(3, Gen.chooseNum(0L, 30L)).map(ids => ("merge", ids)),
      1 -> Gen.const(("compact", Nil))))
    for (ops <- Seq(opsGen.sample.get)) {
      val dir = java.nio.file.Files.createTempDirectory("vtabp").toString
      var model = Map.empty[Long, String]
      var version = -1
      for (((op, ids0), step) <- ops.zipWithIndex) {
        val ids = ids0.distinct
        val payload = ids.map(id => (id, s"v$step-$id"))
        op match {
          case "append" if model.isEmpty || version < 0 =>
            VersionedTable.append(payload.toDF("id", "v"), dir)
            // append semantics: duplicate ids are allowed (a log of
            // rows); model as last-write for ids never seen, but to
            // keep the model a map, route repeat ids through merge
            model = model ++ payload.filterNot(p => model.contains(p._1))
            version += 1
          case "append" =>
            val fresh = payload.filterNot(p => model.contains(p._1))
            if (fresh.nonEmpty) {
              VersionedTable.append(fresh.toDF("id", "v"), dir)
              model = model ++ fresh; version += 1
            }
          case "merge" if version >= 0 =>
            VersionedTable.merge(spark, dir, payload.toDF("id", "v"), Seq("id"))
            model = model ++ payload; version += 1
          case "compact" if version >= 0 =>
            VersionedTable.compact(spark, dir)
            version += 1
          case _ => // merge/compact on an empty table: skip
        }
        if (version >= 0) {
          val got = VersionedTable.read(spark, dir)
            .as[(Long, String)].collect().toSet
          assert(got == model.toSet, s"divergence after step $step ($op)")
          assert(VersionedTable.currentVersion(dir) == version)
        }
      }
    }
  }
}
