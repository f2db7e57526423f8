package graft.tools

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._

/** Embeddings-only deterministic amplifier with PLANTED near-dup truth —
  * builds the ≥10⁶-vector corpus the SHARDED index's recall guarantee is
  * measured on (round-11 verdict ask #1: planes ≥ 13 territory starts at
  * n = 128·2¹³ ≈ 1.05M vectors, past what the full-table
  * [[graft.tools.Amplify]] runs reach — its planting scheme caps at 101
  * replicas and it amplifies all ten tables, nine of which this
  * measurement never reads).
  *
  * Construction, replica r of k over the source embeddings:
  *  - content decorrelation is Amplify's orthogonal transform verbatim
  *    (circular component shift by r mod 64, ±1 sign vector LCG-derived
  *    per r/64): norms and within-replica geometry preserved exactly,
  *    replicas of one base land at near-zero cosine of each other;
  *  - PLANT: base b is planted in exactly ONE replica r_b = 1 + (b mod
  *    (k−1)) as v' = (1−λ)·v + λ·shift32(v), λ cycling 0.20..0.40 by r,
  *    so pair cosines spread ~0.80..0.97 across the guarantee band.
  *    "Exactly one" keeps the truth table complete: two λ-mixes of the
  *    same base would be near-dups OF EACH OTHER, putting truth mass
  *    outside the written table and biasing recall upward;
  *  - the truth table is written alongside: (vec_a = b, vec_b = b +
  *    r_b·off). Exact pair cosines are recomputed from the STORED
  *    floats by the consumer (the recall sweep in SURVEY §9) — the
  *    plant is only the generator; the measurement trusts the data.
  *
  * Usage: runMain graft.tools.EmbedAmplify [src] [out] [k]
  * (defaults: /root/testdata/sf0.1 → scaledata/embed1m at k = 525 →
  * n = 1,050,000, lshPlanesFor(n) = 13). A `_AMPLIFIED` marker makes
  * re-runs no-ops.
  */
object EmbedAmplify {
  def main(args: Array[String]): Unit = {
    val src = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val out = if (args.length > 1) args(1) else "scaledata/embed1m"
    val k = if (args.length > 2) args(2).toInt else 525
    require(k >= 2, "need at least one replica beyond the base")
    val marker = Paths.get(out, "_AMPLIFIED")
    if (Files.exists(marker)) {
      System.err.println(s"[embedamplify] $out already amplified, nothing to do")
      return
    }
    val spark = graft.Verify.session(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    Files.createDirectories(Paths.get(out))

    val e = spark.read.parquet(s"$src/embeddings.parquet")
      .select("vec_id", "embedding")
    val off = {
      val m = e.agg(max(col("vec_id").cast("long"))).head().getLong(0)
      var p = 1L; while (p <= m) p *= 10
      p
    }
    // ±1 sign vectors per r/64 — Amplify's exact LCG derivation, here as
    // one array<array<double>> literal indexed by r div 64 (f = 0 is the
    // identity: the LCG kicks in only past one full shift period)
    val signs: Seq[Seq[Double]] = (0 until ((k - 1) / 64 + 1)).map { f =>
      if (f == 0) Seq.fill(64)(1.0)
      else {
        var st = f.toLong
        Seq.fill(64) {
          st = st * 6364136223846793005L + 1442695040888963407L
          if (((st >>> 33) & 1L) == 1L) 1.0 else -1.0
        }
      }
    }
    val big = e.crossJoin(spark.range(0, k).toDF("r"))
      .withColumn("sgn", element_at(typedlit(signs),
        expr("CAST(r DIV 64 AS INT)") + 1))
      .withColumn("lam", lit(0.2) + lit(0.05) * expr("CAST(r % 5 AS DOUBLE)"))
    val shifted = expr(
      "transform(embedding, (x, i) -> CAST(" +
        "element_at(embedding, ((i + CAST(r % 64 AS INT)) % size(embedding)) + 1)" +
        " * element_at(sgn, i + 1) AS FLOAT))")
    val planted = expr(
      "transform(embedding, (x, i) -> CAST((1.0 - lam) * x + lam * " +
        "element_at(embedding, ((i + 32) % size(embedding)) + 1) AS FLOAT))")
    val isPlant = col("r") > 0 &&
      (col("vec_id") % lit(k - 1)) + 1 === col("r")
    big.select(
        (col("vec_id") + col("r") * off).as("vec_id"),
        when(col("r") === 0, col("embedding"))
          .when(isPlant, planted)
          .otherwise(shifted).as("embedding"))
      .repartition(32)
      .write.mode("overwrite").parquet(s"$out/embeddings.parquet")

    e.select(col("vec_id").as("vec_a"),
        (col("vec_id") + ((col("vec_id") % lit(k - 1)) + 1) * off)
          .as("vec_b"))
      .write.mode("overwrite").parquet(s"$out/planted_truth.parquet")

    Files.write(marker,
      s"src=$src k=$k off=$off plant=one-per-base lam=0.20..0.40\n"
        .getBytes("UTF-8"))
    val n = spark.read.parquet(s"$out/embeddings.parquet").count()
    val t = spark.read.parquet(s"$out/planted_truth.parquet").count()
    System.err.println(s"[embedamplify] $out: n=$n truthPairs=$t " +
      s"planesFor=${graft.similarity.Similarity.lshPlanesFor(n)}")
    spark.stop()
  }
}
