package graft

import org.apache.spark.sql.functions._
import graft.similarity.Similarity
import graft.dedup.Dedup

class SimilaritySpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  test("brute-force cosine topk matches a driver-side recomputation") {
    val vecs = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .as[(Long, Array[Double])].collect().sortBy(_._1)
    val (qid, qv) = vecs.head
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val expected = vecs.filter(_._1 != qid)
      .map { case (id, v) => (id, cos(qv, v)) }
      .sortBy { case (id, c) => (-c, id) }.take(Similarity.K).map(_._1).toSeq
    val got = Similarity.cosineTopK(spark, sf)
      .select("vec_id").as[Long].collect().toSeq
    assert(got == expected)
  }

  test("shard-merge topk is lossless: equals the global exact scan") {
    val brute = Similarity.cosineTopK(spark, sf)
      .as[(Long, Double)].collect().toSeq
    val merged = Similarity.shardMergeTopK(spark, sf)
      .as[(Long, Long, Double)].collect().toSeq
    assert(merged.map(r => (r._1, r._3)) == brute)
    // shard provenance is the hash layout
    assert(merged.forall(r => r._2 == r._1 % Similarity.AnnShards))
  }

  test("ann topk returns vectors from the query's LSH buckets with sane recall") {
    val ann = Similarity.annTopK(spark, sf).as[(Long, Double)].collect()
    assert(ann.nonEmpty)
    // every ANN hit must also score exactly like the brute-force path
    val brute = Similarity.cosineTopK(spark, sf).as[(Long, Double)].collect().toMap
    val cosById = {
      val e = spark.read.parquet(s"$sf/embeddings.parquet")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      val q = e.orderBy("vec_id").limit(1)
        .select(col("vec_id").as("q_id"), col("v").as("qv"))
      e.crossJoin(q).where(col("vec_id") =!= col("q_id"))
        .select(col("vec_id"), Dedup.cosine(col("v"), col("qv")).as("c"))
        .as[(Long, Double)].collect().toMap
    }
    ann.foreach { case (id, c) => assert(c == cosById(id)) }
    // candidates sorted desc
    assert(ann.map(_._2).toSeq == ann.map(_._2).sortBy(-_).toSeq)
    // OR-amplified 4x4-bit LSH on ~500 vecs should keep some true top-k
    val recall = brute.keySet.count(ann.map(_._1).toSet).toDouble / brute.size
    assert(recall > 0.0, "ANN found none of the true top-k")
  }

  test("knn join: per-query windows are exact over the shared-bucket candidates") {
    val vecs = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .as[(Long, Array[Double])].collect().sortBy(_._1)
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val byId = vecs.toMap
    val got = Similarity.knnJoin(spark, sf)
      .as[(Long, Long, Double, Int)].collect()
    val qIds = vecs.take(Similarity.KnnQueries).map(_._1).toSet
    // every declared query id answered, no stray queries, no self-hits
    assert(got.map(_._1).toSet == qIds)
    assert(got.forall { case (q, v, _, _) => q != v })
    // per query: rn dense from 1, ≤ K rows, cosine desc, scores exact
    got.groupBy(_._1).foreach { case (q, rows) =>
      val sorted = rows.sortBy(_._4)
      assert(sorted.map(_._4).toSeq == (1 to sorted.length).toSeq)
      assert(sorted.length <= Similarity.K)
      val cs = sorted.map(_._3).toSeq
      assert(cs == cs.sortBy(-_), s"query $q not cosine-desc")
      sorted.foreach { case (_, v, c, _) =>
        assert(math.abs(c - cos(byId(q), byId(v))) < 1e-12) }
    }
    // recall vs brute force: each query's hits share ≥1 true-top-k member
    // often enough that the batch path is a real ANN, not noise
    val hitRates = qIds.toSeq.map { q =>
      val truth = vecs.filter(_._1 != q)
        .map { case (id, v) => (id, cos(byId(q), v)) }
        .sortBy { case (id, c) => (-c, id) }.take(Similarity.K).map(_._1).toSet
      val mine = got.filter(_._1 == q).map(_._2).toSet
      truth.count(mine).toDouble / truth.size
    }
    assert(hitRates.sum / hitRates.size > 0.0, "batch KNN found no true neighbors")
  }

  test("ivf assignment is total, exclusive, and argmax-consistent") {
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .as[(Long, Array[Double])].collect()
    val n = e.length
    val summary = Similarity.ivfAssign(spark, sf)
      .as[(Int, Long, Long)].collect()
    // every vector in exactly one cluster, ids conserved
    assert(summary.map(_._2).sum == n.toLong)
    assert(summary.map(_._3).sum == e.map(_._1).sum)
    assert(summary.forall { case (cid, cnt, _) =>
      cid >= 0 && cid < Similarity.IvfClusters && cnt > 0 })
    // driver-side argmax over the same centroid choice agrees per cluster
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) { acc += a(i) * b(i); i += 1 }; acc
    }
    val cents = e.sortBy(-_._1).take(Similarity.IvfClusters).map(_._2)
    val byCluster = e.groupBy { case (_, v) =>
      val nv = math.sqrt(dot(v, v))
      cents.zipWithIndex.map { case (c, i) =>
        (dot(v, c) / (nv * math.sqrt(dot(c, c))), i) }
        .reduceLeft((a, b) => if (b._1 > a._1) b else a)._2
    }
    summary.foreach { case (cid, cnt, idSum) =>
      val exp = byCluster(cid)
      assert(cnt == exp.length && idSum == exp.map(_._1).sum,
        s"cluster $cid: got ($cnt, $idSum), want (${exp.length}, ${exp.map(_._1).sum})")
    }
  }

  test("ivf topk re-ranks exactly within probed clusters and reaches the brute top-k") {
    val ivf = Similarity.ivfTopK(spark, sf).as[(Long, Double)].collect()
    assert(ivf.nonEmpty && ivf.length <= Similarity.K)
    // exact scores: every IVF hit carries the true cosine
    val brute = Similarity.cosineTopK(spark, sf).as[(Long, Double)].collect()
    val bruteById = brute.toMap
    ivf.foreach { case (id, c) =>
      bruteById.get(id).foreach(bc => assert(c == bc)) }
    assert(ivf.map(_._2).toSeq == ivf.map(_._2).sortBy(-_).toSeq)
    // probing 2 of 8 clusters must still find part of the true top-k —
    // in particular the query's own cluster is always probed, and
    // near-neighbors concentrate there
    val recall = brute.map(_._1).count(ivf.map(_._1).toSet).toDouble / brute.length
    assert(recall > 0.0, "IVF with nprobe=2 found none of the true top-k")
  }

  test("label centroids: tight cluster scores 1.0, orthogonal pair scores 1/sqrt(2)") {
    val dir = java.nio.file.Files.createTempDirectory("centfix").toString
    // label 0: three IDENTICAL unit vectors → centroid = the vector,
    // every cosine exactly 1. label 1: two orthogonal unit vectors →
    // centroid (.5,.5,0,0), norm 1/√2, each member's cosine 1/√2.
    val rows = Seq(
      (1L, Array(1f, 0f, 0f, 0f), 0), (2L, Array(1f, 0f, 0f, 0f), 0),
      (3L, Array(1f, 0f, 0f, 0f), 0),
      (4L, Array(1f, 0f, 0f, 0f), 1), (5L, Array(0f, 1f, 0f, 0f), 1))
    rows.toDF("vec_id", "embedding", "label")
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val out = Similarity.embedCentroids(spark, dir).collect()
      .map(r => r.getInt(0) ->
        ((r.getLong(1), r.getDouble(2), r.getDouble(3), r.getDouble(4)))).toMap
    val inv = 1.0 / math.sqrt(2.0)
    def near(a: Double, b: Double) = math.abs(a - b) < 1e-9
    val (n0, nrm0, mean0, min0) = out(0)
    assert(n0 == 3L && near(nrm0, 1.0) && near(mean0, 1.0) && near(min0, 1.0))
    val (n1, nrm1, mean1, min1) = out(1)
    assert(n1 == 2L && near(nrm1, inv) && near(mean1, inv) && near(min1, inv))
  }

  test("label balance: shares and entropy match a driver recomputation") {
    val rows = Similarity.labelBalance(spark, sf).collect()
      .map(r => (r.getInt(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4)))
    val counts = spark.read.parquet(s"$sf/embeddings.parquet")
      .groupBy("label").count().as[(Int, Long)].collect().toMap
    val n = counts.values.sum
    val expectEnt = -counts.values.map { c =>
      val p = c.toDouble / n
      BigDecimal(p * math.log(p))
        .setScale(10, BigDecimal.RoundingMode.HALF_UP).toDouble
    }.sum
    assert(rows.map(_._1).toSeq == counts.keys.toSeq.sorted)
    rows.foreach { case (label, nv, ppm, nl, ent) =>
      assert(nv == counts(label))
      assert(ppm == nv * 1000000L / n)
      assert(nl == counts.size.toLong)
      assert(math.abs(ent - expectEnt) < 1e-9)
    }
  }

  test("semantic dedup: greedy min-id-wins invariants hold within clusters") {
    val out = Similarity.semanticDedup(spark, sf).collect()
      .map(r => (r.getLong(0), r.getInt(1),
        if (r.isNullAt(2)) None else Some(r.getLong(2)), r.getBoolean(3)))
    val vecs = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .as[(Long, Array[Double])].collect().toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    // decision table covers every vector exactly once
    assert(out.length == vecs.size && out.map(_._1).distinct.length == out.length)
    val cid = out.map(t => t._1 -> t._2).toMap
    val eps = 1e-9 // driver loop reassociates the fold; engine value is exact
    out.foreach { case (id, c, prunedBy, kept) =>
      assert(kept == prunedBy.isEmpty)
      prunedBy.foreach { p =>
        assert(p < id && cid(p) == c, s"pruned_by $p not an earlier cluster-mate of $id")
        assert(cos(vecs(p), vecs(id)) >= Dedup.CosineThreshold - eps,
          s"$id pruned by $p below threshold")
        // pruned_by is the MINIMUM qualifying neighbor
        out.filter(t => t._2 == c && t._1 < p).foreach { case (q, _, _, _) =>
          assert(cos(vecs(q), vecs(id)) < Dedup.CosineThreshold + eps,
            s"$id had a smaller qualifying neighbor $q than $p")
        }
      }
    }
    // the min vec_id of every cluster is always a keeper
    out.groupBy(_._2).foreach { case (_, members) =>
      assert(members.minBy(_._1)._4, "cluster min id was pruned")
    }
  }

  test("pq encode: codes and reconstruction error match a driver recompute") {
    val vecs = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .as[(Long, Array[Double])].collect().sortBy(_._1)
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) { acc += a(i) * b(i); i += 1 }; acc
    }
    val subDim = Similarity.Dim / Similarity.PqM
    val samples = vecs.sortBy(-_._1).take(Similarity.PqCodes).map(_._2)
    val expected = vecs.map { case (id, v) =>
      val perSub = (0 until Similarity.PqM).map { m =>
        val sv = v.slice(m * subDim, (m + 1) * subDim)
        val (bestP, bestK) = samples.zipWithIndex.map { case (s, k) =>
          val c = s.slice(m * subDim, (m + 1) * subDim)
          (-2.0 * dot(sv, c) + dot(c, c), k)
        }.minBy(identity) // (partial asc, k asc)
        (bestK, dot(sv, sv) + bestP)
      }
      (id, perSub(0)._1, perSub(1)._1, perSub(2)._1, perSub(3)._1,
        perSub.map(_._2).reduce(_ + _))
    }.toSeq
    val got = Similarity.pqEncode(spark, sf)
      .as[(Long, Int, Int, Int, Int, Double)].collect().toSeq
    assert(got == expected)
    // codes actually vary across the corpus (the codebook has signal)
    assert(got.map(_._2).distinct.length > 1)
  }

  test("pq adc: lookup-table distances match a driver recompute, ranks exact") {
    val vecs = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .as[(Long, Array[Double])].collect().sortBy(_._1)
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) { acc += a(i) * b(i); i += 1 }; acc
    }
    val subDim = Similarity.Dim / Similarity.PqM
    val samples = vecs.sortBy(-_._1).take(Similarity.PqCodes).map(_._2)
    // corpus codes as pqEncode computes them
    val codes = vecs.map { case (id, v) =>
      id -> (0 until Similarity.PqM).map { m =>
        val sv = v.slice(m * subDim, (m + 1) * subDim)
        samples.zipWithIndex.map { case (s, k) =>
          val c = s.slice(m * subDim, (m + 1) * subDim)
          (-2.0 * dot(sv, c) + dot(c, c), k)
        }.minBy(identity)._2
      }
    }.toMap
    val expected = vecs.take(Similarity.AdcQueries).flatMap { case (qid, qv) =>
      val lut = (0 until Similarity.PqM).map { m =>
        val sv = qv.slice(m * subDim, (m + 1) * subDim)
        samples.map { s =>
          val c = s.slice(m * subDim, (m + 1) * subDim)
          dot(sv, sv) - 2.0 * dot(sv, c) + dot(c, c)
        }
      }
      vecs.filter(_._1 != qid).map { case (id, _) =>
        val d = (0 until Similarity.PqM).map(m => lut(m)(codes(id)(m))).reduce(_ + _)
        (qid, id, d)
      }.sortBy { case (_, id, d) => (d, id) }.take(Similarity.K)
        .zipWithIndex.map { case ((q, id, d), i) => (q, id, d, i + 1) }
    }.toSeq
    val got = Similarity.pqAdcTopK(spark, sf)
      .as[(Long, Long, Double, Int)].collect().toSeq
    assert(got == expected)
    // ADC distance is the LUT sum of the vector's own codes: for a corpus
    // vector that IS a codeword-source sample, error vs exact dist is small
    assert(got.map(_._3).forall(d => !d.isNaN))
  }

  test("hard negatives: banded top-k matches a driver recompute") {
    val vecs = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .as[(Long, Array[Double])].collect().sortBy(_._1)
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val expected = vecs.take(Similarity.KnnQueries).flatMap { case (q, qv) =>
      vecs.filter(_._1 != q)
        .map { case (id, v) => (id, cos(qv, v)) }
        .filter { case (_, c) =>
          c >= Similarity.NegBandLo && c < Similarity.NegBandHi }
        .sortBy { case (id, c) => (-c, id) }.take(Similarity.K)
        .zipWithIndex.map { case ((id, c), i) => (q, id, i + 1) }
    }.toSeq
    val got = Similarity.hardNegatives(spark, sf)
      .select("q_id", "vec_id", "rn").as[(Long, Long, Int)].collect().toSeq
    assert(got == expected)
    // every mined negative is inside the band
    Similarity.hardNegatives(spark, sf).select("cosine").as[Double].collect()
      .foreach(c => assert(c >= Similarity.NegBandLo && c < Similarity.NegBandHi))
  }

  test("matryoshka recall: truncated top-k overlap matches a driver recompute") {
    val vecs = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .as[(Long, Array[Double])].collect().sortBy(_._1)
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    def topk(q: Long, qv: Array[Double], d: Int): Set[Long] =
      vecs.filter(_._1 != q)
        .map { case (id, v) => (id, cos(qv.take(d), v.take(d))) }
        .sortBy { case (id, c) => (-c, id) }.take(Similarity.K).map(_._1).toSet
    val expected = vecs.take(Similarity.KnnQueries).map { case (q, qv) =>
      val full = topk(q, qv, Similarity.Dim)
      val hits = (full & topk(q, qv, Similarity.MatDim)).size.toLong
      (q, Similarity.K.toLong, hits, hits * 1000000L / Similarity.K)
    }.toSeq
    val got = Similarity.matryoshkaRecall(spark, sf)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got == expected)
    // truncation must lose SOMETHING somewhere or the eval has no signal
    assert(got.map(_._3).sum < got.map(_._2).sum)
  }

  test("ivf ingest ledger: batches carve the corpus and roll up to the one-shot assignment") {
    def num(r: org.apache.spark.sql.Row, i: Int) = r.getAs[Number](i).longValue
    val ledger = Similarity.ivfIngest(spark, sf).collect()
      .map(r => (num(r, 0), num(r, 1), num(r, 2), num(r, 3)))
    assert(ledger.nonEmpty)
    // every micro-batch holds exactly the vectors with its id residue
    val ids = Similarity.embeddings(spark, sf).select("vec_id").as[Long].collect()
    val perBatch = ledger.groupBy(_._1).map { case (b, rs) => b -> rs.map(_._3).sum }
    assert(perBatch == ids.groupBy(_ % Similarity.IngestBatches)
      .map { case (b, xs) => b -> xs.length.toLong })
    // summed over batches, each cluster's count and id checksum equal the
    // one-shot assignment's
    val rolled = ledger.groupBy(_._2)
      .map { case (c, rs) => c -> ((rs.map(_._3).sum, rs.map(_._4).sum)) }
    val oneShot = Similarity.ivfAssign(spark, sf).collect()
      .map(r => num(r, 0) -> ((num(r, 1), num(r, 2)))).toMap
    assert(rolled == oneShot)
  }

  test("ivf update: old-snapshot centroids, batch carve and counts replay") {
    val vecs = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .as[(Long, Array[Double])].collect().sortBy(_._1)
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) { acc += a(i) * b(i); i += 1 }; acc
    }
    def isNew(id: Long): Boolean =
      graft.functions.Hashing.h48String(s"ivfu-$id") % 5 == 0
    val cents = vecs.filter(v => !isNew(v._1)).sortBy(-_._1)
      .take(Similarity.IvfClusters).map(_._2).zipWithIndex
      .map { case (v, i) => (i, v, math.sqrt(dot(v, v))) }
    def cid(v: Array[Double]): Int = {
      val n = math.sqrt(dot(v, v))
      cents.map { case (i, cv, cn) => (-(dot(v, cv) / (n * cn)), i) }
        .minBy(identity)._2
    }
    val expected = vecs.groupBy(v => cid(v._2)).map { case (c, vs) =>
      c -> ((vs.count(v => !isNew(v._1)).toLong, vs.count(v => isNew(v._1)).toLong))
    }
    val got = Similarity.ivfUpdate(spark, sf)
      .select("cid", "n_old", "n_new").as[(Int, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got == expected)
    // the carve produces a real batch and the old side dominates
    assert(got.values.map(_._2).sum > 0)
    assert(got.values.map(_._1).sum > got.values.map(_._2).sum)
  }

  test("ivfpq: probe-pruned adc ranking matches a driver recompute") {
    val vecs = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .as[(Long, Array[Double])].collect().sortBy(_._1)
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) { acc += a(i) * b(i); i += 1 }; acc
    }
    val subDim = Similarity.Dim / Similarity.PqM
    val desc = vecs.sortBy(-_._1)
    val samples = desc.take(Similarity.PqCodes).map(_._2)
    val cents = desc.take(Similarity.IvfClusters).map(_._2).zipWithIndex
      .map { case (v, i) => (i, v, math.sqrt(dot(v, v))) }
    def cid(v: Array[Double]): Int = {
      val n = math.sqrt(dot(v, v))
      cents.map { case (i, cv, cn) => (-(dot(v, cv) / (n * cn)), i) }
        .minBy(identity)._2
    }
    val codes = vecs.map { case (id, v) =>
      id -> (0 until Similarity.PqM).map { m =>
        val sv = v.slice(m * subDim, (m + 1) * subDim)
        samples.zipWithIndex.map { case (s, k) =>
          val c = s.slice(m * subDim, (m + 1) * subDim)
          (-2.0 * dot(sv, c) + dot(c, c), k)
        }.minBy(identity)._2
      }
    }.toMap
    val assign = vecs.map { case (id, v) => id -> cid(v) }.toMap
    val expected = vecs.take(Similarity.AdcQueries).flatMap { case (qid, qv) =>
      val qn = math.sqrt(dot(qv, qv))
      val probes = cents.map { case (i, cv, cn) => (-(dot(qv, cv) / (qn * cn)), i) }
        .sorted.take(Similarity.IvfProbe).map(_._2).toSet
      val lut = (0 until Similarity.PqM).map { m =>
        val sv = qv.slice(m * subDim, (m + 1) * subDim)
        samples.map { s =>
          val c = s.slice(m * subDim, (m + 1) * subDim)
          dot(sv, sv) - 2.0 * dot(sv, c) + dot(c, c)
        }
      }
      vecs.filter { case (id, _) => id != qid && probes(assign(id)) }
        .map { case (id, _) =>
          (id, (0 until Similarity.PqM).map(m => lut(m)(codes(id)(m))).reduce(_ + _))
        }
        .sortBy { case (id, d) => (d, id) }.take(Similarity.K)
        .zipWithIndex.map { case ((id, d), i) => (qid, id, d, i + 1) }
    }.toSeq
    val got = Similarity.ivfPqTopK(spark, sf)
      .as[(Long, Long, Double, Int)].collect().toSeq
    assert(got == expected)
    // pruning is real: every result's cluster is probed by its query
    got.foreach { case (q, id, _, _) =>
      val qv = vecs.find(_._1 == q).get._2
      val qn = math.sqrt(dot(qv, qv))
      val probes = cents.map { case (i, cv, cn) => (-(dot(qv, cv) / (qn * cn)), i) }
        .sorted.take(Similarity.IvfProbe).map(_._2).toSet
      assert(probes(assign(id)))
    }
  }

  test("knn recall: ppm math matches a driver recompute from knnJoin output") {
    val vecs = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .as[(Long, Array[Double])].collect().sortBy(_._1)
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      var i = 0
      while (i < a.length) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1 }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val ann = Similarity.knnJoin(spark, sf)
      .select("q_id", "vec_id").as[(Long, Long)].collect()
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val expected = vecs.take(Similarity.KnnQueries).map { case (qid, qv) =>
      val exact = vecs.filter(_._1 != qid)
        .map { case (id, v) => (id, cos(qv, v)) }
        .sortBy { case (id, c) => (-c, id) }.take(Similarity.K).map(_._1)
      val hits = exact.count(ann.getOrElse(qid, Set.empty)).toLong
      (qid, exact.length.toLong, hits, hits * 1000000L / Similarity.K)
    }.toSeq
    val got = Similarity.knnRecall(spark, sf)
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(got == expected)
    // the eval has signal: ground truth is full-K and recall is nontrivial
    assert(got.forall(_._2 == Similarity.K.toLong))
    assert(got.exists(_._3 > 0L))
  }

  test("kmeans trainer matches a full driver-side replay of the Lloyd rounds") {
    import java.math.{BigDecimal => JBD, RoundingMode}
    val vecs = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .as[(Long, Array[Double])].collect().sortBy(_._1)
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) { acc += a(i) * b(i); i += 1 }; acc
    }
    def r10(x: Double): Double =
      JBD.valueOf(x).setScale(10, RoundingMode.HALF_UP).doubleValue
    // init: the K max-vec_id vectors, cid = 0-based rank in descending order
    var cents: Array[Array[Double]] =
      vecs.sortBy(-_._1).take(Similarity.IvfClusters).map(_._2)
    def assign(): Array[(Long, Int, Double)] = vecs.map { case (id, v) =>
      val nrm = math.sqrt(dot(v, v))
      var best = -2.0; var bc = -1
      cents.zipWithIndex.foreach { case (c, i) =>
        val cos = dot(v, c) / (nrm * math.sqrt(dot(c, c)))
        if (cos > best) { best = cos; bc = i } // strict > = lowest cid on ties
      }
      (id, bc, r10(best))
    }
    for (_ <- 1 to Similarity.KmIters) {
      val members = assign().groupBy(_._2)
      val byId = vecs.toMap
      cents = cents.zipWithIndex.map { case (old, cid) =>
        members.get(cid).fold(old) { ms =>
          val mv = ms.map(m => byId(m._1))
          Array.tabulate(old.length) { d =>
            val s = mv.foldLeft(JBD.ZERO)((acc, v) => acc.add(JBD.valueOf(r10(v(d)))))
            s.doubleValue / mv.length
          }
        }
      }
    }
    val expected = assign().groupBy(_._2).toSeq.sortBy(_._1).map { case (cid, ms) =>
      val s = ms.foldLeft(JBD.ZERO)((a, m) => a.add(JBD.valueOf(m._3)))
      (cid, ms.length.toLong, ms.map(_._1).sum,
        r10(math.sqrt(dot(cents(cid), cents(cid)))), s.doubleValue / ms.length)
    }
    val got = Similarity.kmeansTrain(spark, sf)
      .as[(Int, Long, Long, Double, Double)].collect().toSeq
    assert(got == expected)
  }

  test("ivf retrain: warm-start Lloyd replay from the old-snapshot quantizer") {
    import java.math.{BigDecimal => JBD, RoundingMode}
    val vecs = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>"))
      .as[(Long, Array[Double])].collect().sortBy(_._1)
    def dot(a: Array[Double], b: Array[Double]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) { acc += a(i) * b(i); i += 1 }; acc
    }
    def r10(x: Double): Double =
      JBD.valueOf(x).setScale(10, RoundingMode.HALF_UP).doubleValue
    def isNew(id: Long): Boolean =
      graft.functions.Hashing.h48String(s"ivfu-$id") % 5 == 0
    // seed = the OLD snapshot's quantizer (max-vec_id sample over the
    // not-new carve), trained over ALL vectors — the warm start
    val seed: Array[Array[Double]] = vecs.filter(v => !isNew(v._1))
      .sortBy(-_._1).take(Similarity.IvfClusters).map(_._2)
    var cents: Array[Array[Double]] = seed
    def assign(): Array[(Long, Int)] = vecs.map { case (id, v) =>
      val nrm = math.sqrt(dot(v, v))
      var best = -2.0; var bc = -1
      cents.zipWithIndex.foreach { case (c, i) =>
        val cos = dot(v, c) / (nrm * math.sqrt(dot(c, c)))
        if (cos > best) { best = cos; bc = i }
      }
      (id, bc)
    }
    val byId = vecs.toMap
    for (_ <- 1 to Similarity.KmIters) {
      val members = assign().groupBy(_._2)
      cents = cents.zipWithIndex.map { case (old, cid) =>
        members.get(cid).fold(old) { ms =>
          val mv = ms.map(m => byId(m._1))
          Array.tabulate(old.length) { d =>
            val s = mv.foldLeft(JBD.ZERO)((acc, v) =>
              acc.add(JBD.valueOf(r10(v(d)))))
            s.doubleValue / mv.length
          }
        }
      }
    }
    val expected = assign().groupBy(_._2).toSeq.sortBy(_._1)
      .map { case (cid, ms) =>
        val moved = seed(cid).zip(cents(cid))
          .exists { case (a, b) => r10(a) != r10(b) }
        (cid, ms.length.toLong, ms.map(_._1).sum,
          r10(math.sqrt(dot(seed(cid), seed(cid)))),
          r10(math.sqrt(dot(cents(cid), cents(cid)))), moved)
      }
    val got = Similarity.ivfRetrain(spark, sf)
      .as[(Int, Long, Long, Double, Double, Boolean)].collect().toSeq
    assert(got == expected)
    // the retrain has signal: at least one centroid actually moved
    assert(got.exists(_._6))
  }

  test("declared LSH near-dups run at the corpus-adaptive width") {
    val sf = "/root/testdata/sf0.001"
    // the declared query IS lshNearDupPairsWith at lshPlanesFor(n) —
    // the round-10 contract that removed the fixed-width quadratic law
    val n = spark.read.parquet(s"$sf/embeddings.parquet").count()
    val declared = Similarity.lshNearDupPairs(spark, sf)
      .select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
    val explicitW =
      Similarity.lshNearDupPairsWith(spark, sf, Similarity.lshPlanesFor(n))
      .select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
    assert(declared == explicitW)
    // widen the signature as the formula would at larger n: tables are
    // now COUPLED to the width (round 11), so the subset property of the
    // fixed-T rounds is gone by design — more OR-amplification tables can
    // legitimately recover pairs the narrow run missed. What must hold
    // instead: PRECISION 1.0 (every emitted pair is a brute-force true
    // pair — the exact cosine gate, unchanged by width)
    val scaled = Similarity.lshNearDupPairsWith(spark, sf, planes = 8)
      .select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
    val truth = graft.dedup.Dedup.embeddingPairs(spark, sf)
      .select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
    assert(scaled.subsetOf(truth),
      s"scaled form invented pairs: ${scaled -- truth}")
    assert(declared.subsetOf(truth),
      s"declared form invented pairs: ${declared -- truth}")
    // the width formula: floored at the declared planes, grows log2(n),
    // capped at 30 so the Int bucket code can never overflow (1 << j at
    // j <= 29 — the ADVICE r9 Int-shift-overflow regime is unreachable)
    assert(Similarity.lshPlanesFor(100) == Similarity.LshPlanes)
    assert(Similarity.lshPlanesFor(128L << 10) == 10)
    assert(Similarity.lshPlanesFor(20000) == 7)
    assert(Similarity.lshPlanesFor(Long.MaxValue) == 30)
    assert(Similarity.lshPlanesFor(Long.MaxValue, 1L) == 30)
    // table coupling (round 11): pinned to hand-computed values of the
    // Indyk–Motwani closed form at p = 1 − acos(0.8)/π ≈ 0.7952 — NOT
    // recomputed from the same code, so a formula edit fails here
    val pinned = Map(4 -> 5, 5 -> 7, 6 -> 8, 7 -> 11, 8 -> 14, 9 -> 17,
      10 -> 22, 11 -> 28, 12 -> 32, 20 -> 32, 30 -> 32)
    pinned.foreach { case (planes, t) =>
      assert(Similarity.lshTablesFor(planes) == t,
        s"lshTablesFor($planes) = ${Similarity.lshTablesFor(planes)}, want $t")
    }
    // while the table budget holds (planes ≤ 11), the analytic recall at
    // the NearDupCosine design point clears the target at EVERY width —
    // the guarantee no longer decays with corpus size (the round-10
    // defect this contract replaced)
    val p08 = 1.0 - math.acos(Similarity.NearDupCosine) / math.Pi
    for (planes <- Similarity.LshPlanes to 11) {
      val rec = 1.0 - math.pow(1.0 - math.pow(p08, planes),
        Similarity.lshTablesFor(planes))
      assert(rec >= Similarity.LshRecallTarget,
        s"planes=$planes: analytic design-point recall $rec under target")
    }
  }

  test("LshCodes expression is bit-identical to the literal-plane formula at every contract width") {
    // the round-11 codegen'd bucket expression vs a DRIVER-SIDE recompute
    // of the md5-plane formula with the same sequential fold — duplicated
    // here on purpose (not calling planeValues) so a formula edit on
    // either side fails the pin. Widths cover the floor and the adaptive
    // picks at sf1/sf10 (7x11, 10x22 — the sizes whose unrolled form ran
    // interpreted, which this expression exists to fix).
    import graft.functions.Hashing
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("nrm", lit(1.0))
    val vecs = e.select("vec_id", "v")
      .as[(Long, Array[Double])].collect().toMap
    def plane(t: Int, j: Int, k: Int): Double =
      (Hashing.h48String(s"rp-$t-$j-$k") % 2001 - 1000) / 1000.0
    for ((planes, tables) <- Seq((4, 4), (4, 5), (7, 11), (10, 22))) {
      val got = Similarity.lshBuckets(e, planes, tables)
        .select("vec_id", "tbl", "bucket")
        .as[(Long, Int, Int)].collect().toSet
      val want = (for {
        (id, v) <- vecs.toSeq
        t <- 0 until tables
      } yield {
        var code = 0
        for (j <- 0 until planes) {
          var acc = 0.0
          for (k <- v.indices) acc += plane(t, j, k) * v(k)
          if (acc >= 0.0) code |= (1 << j)
        }
        (id, t, code)
      }).toSet
      assert(got == want,
        s"planes=$planes tables=$tables: codes diverge from the md5-plane formula")
      assert(got.size == vecs.size * tables)
    }
  }
  test("sharded LSH params pinned to the routing-level Indyk-Motwani closed form") {
    import Similarity.{ShardParams, ShardedLshParams}
    // hand-computed (shardBits, finePlanes, fineTables, replicas) — NOT
    // recomputed from the same code, so a formula edit fails here
    val pinned = Map(
      4 -> ShardParams(1, 3, 4, 2), 5 -> ShardParams(1, 4, 5, 2),
      8 -> ShardParams(1, 7, 11, 2), 12 -> ShardParams(1, 11, 28, 2),
      13 -> ShardParams(2, 11, 28, 3), 14 -> ShardParams(3, 11, 28, 4),
      20 -> ShardParams(9, 11, 28, 19), 30 -> ShardParams(19, 11, 28, 198))
    pinned.foreach { case (w, want) =>
      assert(Similarity.shardedParamsFor(w) == want,
        s"w=$w: ${Similarity.shardedParamsFor(w)} != $want")
    }
    val p = 1.0 - math.acos(Similarity.NearDupCosine) / math.Pi
    for (w <- Similarity.LshPlanes to 30) {
      val ps = ShardedLshParams(w)
      // composite width = the flat occupancy law; every sub-index within
      // the table budget; fine width never past the ceiling
      assert(ps.shardBits >= 1 && ps.shardBits + ps.finePlanes == w)
      assert(ps.finePlanes <= Similarity.FineCeilPlanes)
      assert(ps.fineTables == Similarity.lshTablesFor(ps.finePlanes))
      assert(ps.fineTables <= Similarity.MaxLshTables)
      // closed-form design-point recall clears the target at EVERY width
      // — the property the flat index loses at planes >= 12
      val g = 1.0 - math.pow(1.0 - math.pow(p, ps.finePlanes), ps.fineTables)
      val rec =
        1.0 - math.pow(1.0 - math.pow(p, ps.shardBits) * g, ps.replicas)
      assert(rec >= Similarity.LshRecallTarget,
        s"w=$w: analytic design-point recall $rec under target")
    }
    // FineCeilPlanes is exactly the budget boundary: one plane wider and
    // the Indyk-Motwani table count (uncapped) exceeds MaxLshTables
    val uncapped12 =
      math.ceil(math.log(0.1) / math.log(1.0 - math.pow(p, 12))).toInt
    assert(uncapped12 > Similarity.MaxLshTables, s"uncapped T(12)=$uncapped12")
    assert(Similarity.lshTablesFor(Similarity.FineCeilPlanes)
      <= Similarity.MaxLshTables)
  }

  test("sharded near-dups: declared = explicit width, precision 1.0 vs brute force") {
    val n = spark.read.parquet(s"$sf/embeddings.parquet").count()
    val declared = Similarity.shardedNearDupPairs(spark, sf)
      .select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
    val explicitW = Similarity
      .shardedNearDupPairsWith(spark, sf, Similarity.lshPlanesFor(n))
      .select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
    assert(declared == explicitW)
    // precision 1.0 at every width: the exact in-plan cosine gate means
    // no emitted pair can be outside the brute-force truth
    val truth = Dedup.embeddingPairs(spark, sf)
      .select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
    assert(declared.subsetOf(truth),
      s"sharded form invented pairs: ${declared -- truth}")
    val wide = Similarity.shardedNearDupPairsWith(spark, sf, 13)
      .select("vec_a", "vec_b").as[(Long, Long)].collect().toSet
    assert(wide.subsetOf(truth), s"w=13 invented pairs: ${wide -- truth}")
  }
  test("semantic dedup: adaptive cluster law pinned, NearestCentroid equals the struct-argmax form") {
    // the cluster-count law (round 12: the fixed-C within-cluster
    // all-pairs was an n^2 law, measured 85x over the sf1->sf10 decade)
    // — hand-computed pins, not recomputed from the same code
    val pins = Map(500L -> 8, 2000L -> 8, 16384L -> 8, 16385L -> 9,
      20000L -> 10, 200000L -> 98, 1050000L -> 513,
      1000000000L -> 4096 /* cap */)
    pins.foreach { case (n, c) =>
      assert(Similarity.semClustersFor(n) == c,
        s"semClustersFor($n) = ${Similarity.semClustersFor(n)}, want $c")
    }
    // the codegen'd loop expression must be BIT-identical to the
    // declarative struct-argmax it replaces (same fold order, same
    // tie-to-lowest-cid), at the floor width AND a wider-than-floor one
    import org.apache.spark.sql.GraftSqlBridge.{column, expression}
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .withColumn("nrm", sqrt(Dedup.dot(col("v"), col("v"))))
    def centsAt(c: Int): Array[(Int, Array[Double], Double)] =
      e.orderBy(col("vec_id").desc).limit(c).select(col("v")).collect()
        .zipWithIndex.map { case (r, i) =>
          val v = r.getSeq[Double](0).toArray
          var d = 0.0; v.foreach(x => d += x * x)
          (i, v, math.sqrt(d))
        }
    for (c <- Seq(8, 37)) {
      val cents = centsAt(c)
      val loop = column(graft.functions.NearestCentroid(
        expression(col("v")),
        cents.flatMap(_._2).toIndexedSeq,
        cents.map(_._3).toIndexedSeq, Similarity.Dim))
      val entries = cents.map { case (i, cv, cn) =>
        struct((Dedup.dot(col("v"), lit(cv)) / (col("nrm") * lit(cn))).as("c"),
          lit(-i).as("ni"))
      }
      val both = e.select(col("vec_id"), loop.as("cid_loop"),
          (-array_max(array(entries.toIndexedSeq: _*)).getField("ni")).as("cid_structs"))
        .as[(Long, Int, Int)].collect()
      assert(both.nonEmpty)
      both.foreach { case (id, l, st) =>
        assert(l == st, s"C=$c vec $id: loop=$l structs=$st")
      }
    }
  }

  test("sharded incremental: in-plan probe emits only true cross-split near-dups") {
    // in-plan declared twin
    val inPlan = Similarity.shardedIncrementalNear(spark, sf)
      .as[(Long, Long, Double)].collect().toSet
    assert(inPlan.nonEmpty) // sf0.001 plants real cross-split near-dups
    // every emitted pair crosses the split and is a true near-dup
    inPlan.foreach { case (n, s, c) =>
      assert(n % 10 >= 8 && s % 10 < 8)
      assert(c >= graft.dedup.Dedup.CosineThreshold)
    }
    // recall vs brute force: within a shard the fine index holds the flat
    // guarantee, so the cross-split subset of the brute-force truth must
    // be recovered at the planted-fixture scale (here: exactly)
    val truth = Dedup.embeddingPairs(spark, sf)
      .select("vec_a", "vec_b", "cosine").as[(Long, Long, Double)]
      .collect()
      .flatMap { case (a, b, c) =>
        if (a % 10 >= 8 && b % 10 < 8) Some((a, b, c))
        else if (b % 10 >= 8 && a % 10 < 8) Some((b, a, c))
        else None
      }.toSet
    assert(inPlan.subsetOf(truth), s"invented pairs: ${inPlan -- truth}")
  }

  test("CentroidRouteCol equals the row_number routing semantics, degenerate input pinned") {
    import org.apache.spark.sql.GraftSqlBridge.{column, expression}
    // shard-count law pins (hand-computed, not recomputed from the code):
    // S = max(2, ceil(ceil(n/2048)/4096)) — floor 2 everywhere under the
    // 8.4M boundary, then one more shard per 8.4M vectors
    val pins = Map(500L -> 2, 1050000L -> 2, 8388608L -> 2,
      8394753L -> 2, 16777216L -> 2, 16777217L -> 3, 25165824L -> 3,
      25165825L -> 4)
    pins.foreach { case (n, s) =>
      assert(Similarity.semShardsFor(n) == s,
        s"semShardsFor($n) = ${Similarity.semShardsFor(n)}, want $s")
    }
    val e = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
    val cents = e.orderBy(col("vec_id").desc).limit(4).select(col("v"))
      .collect().zipWithIndex.map { case (r, i) =>
        val v = r.getSeq[Double](0).toArray
        var d = 0.0; v.foreach(x => d += x * x)
        (i, v, math.sqrt(d))
      }
    // the routing matrix rides as COLUMN literals (the data-plane form
    // is the only one in main source since round 15 — ask #8)
    val centsCol = org.apache.spark.sql.functions.array(
      cents.flatMap(_._2).map(lit(_)).toIndexedSeq: _*)
    val normsCol = org.apache.spark.sql.functions.array(
      cents.map(c => lit(c._3)).toIndexedSeq: _*)
    val rt = column(graft.functions.CentroidRouteCol(expression(col("v")),
      expression(centsCol), expression(normsCol), Similarity.Dim))
    val got = e.select(col("vec_id"), rt.as("rt"))
      .as[(Long, Array[Double])].collect().toMap
    val vecs = e.as[(Long, Array[Double])].collect()
    assert(vecs.nonEmpty && got.size == vecs.length)
    def dotLtr(a: Array[Double], b: Array[Double]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) { acc += a(i) * b(i); i += 1 }
      acc
    }
    vecs.foreach { case (id, v) =>
      val nrm = math.sqrt(dotLtr(v, v))
      // the oracle's semantics: rank by (cos DESC, id ASC), rows 1 and 2
      val ranked = cents.map { case (i, cv, cn) =>
        (i, dotLtr(cv, v) / (nrm * cn))
      }.sortBy { case (i, c) => (-c, i) }
      val Array(s1, s2, margin) = got(id)
      assert(s1.toInt == ranked(0)._1, s"vec $id primary")
      assert(s2.toInt == ranked(1)._1, s"vec $id runner-up")
      assert(margin == ranked(0)._2 - ranked(1)._2, s"vec $id margin")
    }
    // degenerate (wrong length) input → [0, 1, +inf]: primary shard 0,
    // margin +inf so the ghost band never fires
    val degen = Seq((1L, Array(1.0, 2.0))).toDF("vec_id", "v")
      .select(column(graft.functions.CentroidRouteCol(expression(col("v")),
        expression(centsCol), expression(normsCol), Similarity.Dim)))
      .as[Array[Double]].head()
    assert(degen.toSeq == Seq(0.0, 1.0, Double.PositiveInfinity))
  }

  test("sharded SemDeDup incremental: new-split primaries, pruned only by stored near-dups") {
    val want = Similarity.semanticDedupShardedIncr(spark, sf)
      .as[(Long, Int, Int, Option[Long], Boolean)].collect().toSeq
    assert(want.nonEmpty)
    // one row per new-split vector, in vec_id order; a vector is kept
    // iff no stored vector pruned it, and a pruner is a stored vector
    // at cosine >= threshold
    val vecs = Similarity.embeddings(spark, sf).select("vec_id", "v", "nrm")
      .as[(Long, Array[Double], Double)].collect()
      .map(r => r._1 -> r).toMap
    assert(want.map(_._1) == vecs.keys.filter(_ % 10 >= 8).toSeq.sorted)
    want.foreach { case (id, _, _, prunedBy, kept) =>
      assert(kept == prunedBy.isEmpty, s"vec $id")
      prunedBy.foreach { p =>
        assert(p % 10 < 8, s"vec $id pruned by new-split $p")
        val (_, a, na) = vecs(id); val (_, b, nb) = vecs(p)
        val cos = a.zip(b).map { case (x, y) => x * y }.sum / (na * nb)
        assert(cos >= Dedup.CosineThreshold - 1e-9, s"vec $id by $p: $cos")
      }
    }
  }

  test("semShardedAssign parity with the round-13 driver-side construction at S = 2 and S = 5") {
    // round-13 verdict ask #1's "done" pin: the distributed assignment
    // (packed-matrix broadcast join + NearestCentroidCol) must reproduce
    // the old literal-CASE form EXACTLY. The expected table here IS the
    // old form's semantics, recomputed driver-side with the same
    // left-to-right fold and strict-> argmax: route against the S
    // largest-vec_id routing centroids (cos DESC, id ASC), ghost under
    // eps(S), per-shard C_s = semClustersFor(primaries), fine centroids
    // = C_s largest-vec_id primaries (rn-ascending = cid), assignment
    // argmax over the shard's own matrix, ghost-into-empty-shard drops.
    val n = 600
    def baseVec(id: Long): Array[Float] =
      Array.tabulate(Similarity.Dim) { i =>
        ((graft.functions.Hashing.h48String(s"sempar-$id-$i") % 1000)
          / 500.0f - 1.0f)
      }
    val dir = java.nio.file.Files.createTempDirectory("sempar").toString
    (0L until n).map(id => (id, baseVec(id))).toDF("vec_id", "embedding")
      .withColumn("label", lit("fix"))
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val e = Similarity.embeddings(spark, dir)
    val vecs = e.select("vec_id", "v").as[(Long, Array[Double])]
      .collect().sortBy(_._1)
    def dotLtr(a: Array[Double], b: Array[Double]): Double = {
      var acc = 0.0; var i = 0
      while (i < a.length) { acc += a(i) * b(i); i += 1 }
      acc
    }
    val nrm = vecs.map { case (id, v) => id -> math.sqrt(dotLtr(v, v)) }.toMap
    val byId = vecs.toMap
    // the eps(S) law's own pins (hand-computed, not recomputed)
    assert(Similarity.semGhostMarginFor(2) == 0.05)
    assert(Similarity.semGhostMarginFor(3) == 0.05 / math.sqrt(2.0))
    assert(Similarity.semGhostMarginFor(5) == 0.025)
    for (s <- Seq(2, 5)) {
      val rcents = vecs.sortBy(-_._1).take(s).map(_._2).zipWithIndex
      def route(v: Array[Double]): (Int, Int, Double) = {
        val vn = math.sqrt(dotLtr(v, v))
        val ranked = rcents.map { case (cv, i) =>
          (i, dotLtr(cv, v) / (vn * math.sqrt(dotLtr(cv, cv))))
        }.sortBy { case (i, c) => (-c, i) }
        (ranked(0)._1, ranked(1)._1, ranked(0)._2 - ranked(1)._2)
      }
      val routed = vecs.map { case (id, v) => (id, route(v)) }
      val eps = Similarity.semGhostMarginFor(s)
      val mem = routed.map { case (id, (sh, _, _)) => (id, sh, true) } ++
        routed.collect { case (id, (_, sh2, m)) if m < eps => (id, sh2, false) }
      val fine: Map[Int, Array[Long]] = routed.groupBy(_._2._1)
        .map { case (sh, rows) =>
          val cs = Similarity.semClustersFor(rows.length.toLong)
          sh -> rows.map(_._1).sortBy(-_).take(cs).toArray
        }
      val expected = mem.flatMap { case (id, sh, prim) =>
        fine.get(sh).map { cents =>
          val v = byId(id)
          var best = 0; var bestCos = Double.NegativeInfinity
          cents.zipWithIndex.foreach { case (cid0, i) =>
            val c = dotLtr(byId(cid0), v) / (nrm(id) * nrm(cid0))
            if (c > bestCos) { bestCos = c; best = i }
          }
          (id, sh, prim, best)
        }
      }.toSet
      val got = Similarity.semShardedAssign(e, s)
        .select("vec_id", "shard", "is_primary", "cid")
        .as[(Long, Int, Boolean, Int)].collect().toSet
      assert(got == expected, s"assignment parity broken at S=$s")
    }
  }

  test("sharded semantic dedup: sound decision table, planted near-dups caught like the unsharded form") {
    import org.apache.spark.sql.functions.{lit => flit}
    // planted fixture: deterministic base vectors + a near-identical
    // plant (component-0 nudge, cosine ≈ 1 ≫ threshold) for the first
    // nPlant bases, under high plant ids so min-id-wins prunes the plant
    val n = 3000; val nPlant = 150
    def baseVec(id: Long): Array[Float] =
      Array.tabulate(Similarity.Dim) { i =>
        ((graft.functions.Hashing.h48String(s"semfix-$id-$i") % 1000)
          / 500.0f - 1.0f)
      }
    val rows =
      (0L until n).map(id => (id, baseVec(id))) ++
      (0L until nPlant).map { b =>
        val v = baseVec(b); v(0) = v(0) + 0.01f
        (100000L + b, v)
      }
    val dir = java.nio.file.Files.createTempDirectory("semfix").toString
    rows.toDF("vec_id", "embedding").withColumn("label", flit("fix"))
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val sharded = Similarity.semanticDedupSharded(spark, dir)
      .as[(Long, Int, Int, Option[Long], Boolean)].collect()
    // decision-table shape: one row per vector, kept == no pruner, the
    // forced shard floor exercises the routing at fixture scale
    assert(sharded.length == rows.length)
    assert(sharded.map(_._1).toSet == rows.map(_._1).toSet)
    sharded.foreach { case (_, _, _, p, kept) => assert(kept == p.isEmpty) }
    assert(sharded.map(_._2).distinct.length >= 2, "shard floor not exercised")
    // SOUNDNESS (precision 1.0): every pruner is a true near-dup of its
    // prunee at the stored (float-truncated) values, and has the smaller id
    val stored = Similarity.embeddings(spark, dir)
      .select("vec_id", "v").as[(Long, Array[Double])].collect().toMap
    def cos(a: Array[Double], b: Array[Double]): Double = {
      var d = 0.0; var na = 0.0; var nb = 0.0; var i = 0
      while (i < a.length) {
        d += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
      }
      d / (math.sqrt(na) * math.sqrt(nb))
    }
    sharded.foreach { case (id, _, _, p, _) =>
      p.foreach { pr =>
        assert(pr < id, s"pruner $pr not smaller than $id")
        assert(cos(stored(pr), stored(id)) >= Dedup.CosineThreshold,
          s"unsound prune: $pr covers $id at cos ${cos(stored(pr), stored(id))}")
      }
    }
    // QUALITY AUDIT vs the unsharded form (the round-12 ask): the plants
    // are the ground truth — sharding (routing cut + ghost band) must not
    // lose them relative to single-level SemDeDup
    val unsharded = Similarity.semanticDedup(spark, dir)
      .select("vec_id", "pruned_by")
      .as[(Long, Option[Long])].collect().toMap
    val plantedIds = (0L until nPlant).map(100000L + _)
    val caughtSharded = plantedIds.count(id =>
      sharded.find(_._1 == id).exists(_._4.nonEmpty))
    val caughtUnsharded = plantedIds.count(id => unsharded(id).nonEmpty)
    assert(caughtUnsharded >= (nPlant * 9) / 10,
      s"unsharded baseline lost plants: $caughtUnsharded/$nPlant")
    assert(caughtSharded >= caughtUnsharded - nPlant / 20,
      s"sharding lost plants: sharded=$caughtSharded unsharded=$caughtUnsharded")
  }

  test("S >= 3 planted recall gate: co-cell catch holds past the oracle's S = 2 floor; fixed-eps dominates the eps(S) law") {
    // round-14 ADVICE: eps(S) narrows the ghost band as S grows, the
    // oracle only exercises S = 2, and the S = 5 parity test pins
    // mechanics, not recall — so the flat-recall claim needs a COMMITTED
    // recall assertion at S >= 3. Plants are top-band near-dups
    // (cosine ≈ 1): their co-cell rate is the catch ceiling of the whole
    // construction and must hold at every S. The fixed-eps quality knob
    // (SemGhostMargin, the round-13 setting) must DOMINATE the law
    // structurally: same routing, same packed matrices, wider ghost band
    // => its membership set — and so its co-cell pair set — is a
    // superset (the eps menu's quality direction, pinned as set algebra,
    // not a sample).
    val n = 4000; val nPlant = 200
    def baseVec(id: Long): Array[Float] =
      Array.tabulate(Similarity.Dim) { i =>
        ((graft.functions.Hashing.h48String(s"semrec-$id-$i") % 1000)
          / 500.0f - 1.0f)
      }
    val rows =
      (0L until n).map(id => (id, baseVec(id))) ++
      (0L until nPlant).map { b =>
        val v = baseVec(b); v(0) = v(0) + 0.01f
        (100000L + b, v)
      }
    val dir = java.nio.file.Files.createTempDirectory("semrec").toString
    rows.toDF("vec_id", "embedding")
      .withColumn("label", org.apache.spark.sql.functions.lit("fix"))
      .write.mode("overwrite").parquet(s"$dir/embeddings.parquet")
    val e = Similarity.embeddings(spark, dir)
    def cells(asg: org.apache.spark.sql.DataFrame): Map[Long, Set[(Int, Int)]] =
      asg.select("vec_id", "shard", "cid").as[(Long, Int, Int)].collect()
        .groupBy(_._1).map { case (id, ms) =>
          id -> ms.map(m => (m._2, m._3)).toSet
        }
    def coCell(m: Map[Long, Set[(Int, Int)]]): Set[Long] =
      (0L until nPlant).filter { b =>
        m.getOrElse(b, Set.empty).intersect(
          m.getOrElse(100000L + b, Set.empty)).nonEmpty
      }.toSet
    for (s <- Seq(3, 5)) {
      val law = cells(Similarity.semShardedAssign(e, s))
      val fix = cells(Similarity.semShardedAssign(e, s,
        Some(Similarity.SemGhostMargin)))
      val lawCatch = coCell(law)
      val fixCatch = coCell(fix)
      assert(lawCatch.size >= (nPlant * 9) / 10,
        s"eps(S) law lost top-band plants at S=$s: ${lawCatch.size}/$nPlant")
      // structural dominance: every membership under the law exists
      // under fixed eps, so the law's catch can never exceed it
      law.foreach { case (id, ms) =>
        assert(ms.subsetOf(fix.getOrElse(id, Set.empty)),
          s"fixed-eps lost a law membership for $id at S=$s")
      }
      assert(lawCatch.subsetOf(fixCatch))
    }
  }
}
