package graft.tools

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deterministic scale amplifier — manufactures an sf1-equivalent corpus
  * from the driver's sf0.1 tables (the testdata tops out at sf0.1, so
  * the two-decade scaling curve SURVEY §9 argues from needs a measured
  * third point). Amplification = union of the source with k−1 replicas
  * whose KEYS are offset per key domain (offset = the next power of ten
  * above the domain's max, so replica key spaces never collide and every
  * FK relationship — lineitem→orders→customer, lineitem→part/supplier —
  * survives intact), and whose CONTENT is hash-perturbed exactly where
  * identical replicas would corrupt an operator family's workload shape:
  *
  *   - `documents.text` gets a per-replica lowercase-alphabet ROTATION
  *     (`translate(text, a..z, rot_r(a..z))`) — replica texts must
  *     diverge at the SHINGLE level, not just byte level: a first
  *     attempt that appended a replica suffix token left every original
  *     shingle identical across replicas, so the n-gram near-dup family
  *     saw all k replicas of each doc as one giant duplicate cluster
  *     and its candidate-pair volume grew QUADRATICALLY in k (the
  *     measured symptom: broadcast-build OOMs in the Jaccard family at
  *     k=10 under the 8 GB harness heap). Rotation keeps token lengths,
  *     whitespace structure and within-replica duplication exactly, and
  *     costs nothing: n_chars is length-preserving;
  *   - `embeddings.embedding` gets component 0 nudged by r/1024 (exact
  *     in FLOAT) — otherwise ANN/KNN distance ties are degenerate;
  *   - nation/region are NOT replicated: they are fixed-domain
  *     dimensions (25/5 rows at every TPC-H scale factor).
  *
  * Everything else (dates, amounts, event timestamps, langs, sources)
  * replicates unchanged — value distributions repeat naturally at scale.
  * Output layout matches the testdata sf dirs: `<out>/<table>.parquet`;
  * a `_AMPLIFIED` marker records the recipe and makes re-runs no-ops.
  *
  * Usage: runMain graft.tools.Amplify [src] [out] [k]
  * (defaults: /root/testdata/sf0.1 → scaledata/sf1 at k=10).
  */
object Amplify {

  private def pow10Above(n: Long): Long = {
    var p = 1L
    while (p <= n) p *= 10
    p
  }

  def main(args: Array[String]): Unit = {
    val src = if (args.length > 0) args(0) else "/root/testdata/sf0.1"
    val out = if (args.length > 1) args(1) else "scaledata/sf1"
    val k = if (args.length > 2) args(2).toInt else 10
    val marker = Paths.get(out, "_AMPLIFIED")
    if (Files.exists(marker)) {
      System.err.println(s"[amplify] $out already amplified, nothing to do")
      return
    }
    val spark = graft.Verify.session(
      sys.env.getOrElse("SPARK_GRAFT_CPUS", "32"))
    Files.createDirectories(Paths.get(out))

    def read(t: String): DataFrame = spark.read.parquet(s"$src/$t.parquet")
    def write(df: DataFrame, t: String): Unit =
      df.write.mode("overwrite").parquet(s"$out/$t.parquet")
    def maxOf(df: DataFrame, c: String): Long =
      df.agg(max(col(c).cast("long"))).head().getLong(0)

    // fixed-domain dimensions: copy untouched
    for (t <- Seq("region", "nation")) write(read(t), t)

    // key-domain offsets (shared across tables referencing the domain)
    val custOff = pow10Above(maxOf(read("customer"), "c_custkey"))
    val suppOff = pow10Above(maxOf(read("supplier"), "s_suppkey"))
    val partOff = pow10Above(maxOf(read("part"), "p_partkey"))
    val ordOff = pow10Above(maxOf(read("orders"), "o_orderkey"))
    val docOff = pow10Above(maxOf(read("documents"), "doc_id"))
    val vecOff = pow10Above(maxOf(read("embeddings"), "vec_id"))
    val evtOff = pow10Above(maxOf(read("events"), "event_id"))
    val userOff = pow10Above(maxOf(read("events"), "user_id"))

    /** union of k replicas with `perturb(df, r)` applied to each */
    def amplify(t: String)(perturb: (DataFrame, Int) => DataFrame): Unit = {
      val base = read(t)
      write((0 until k).map(r => perturb(base, r)).reduce(_ unionByName _), t)
    }

    val digits = "0123456789"
    amplify("customer") { (d, r) =>
      val rotD = digits.drop(r % 10) + digits.take(r % 10)
      // names must diverge across replicas too: the fuzzy join blocks
      // on deletion-neighborhood hashes of c_name, and identical names
      // across k replicas made its candidate volume quadratic in k
      // (measured 17.7× at k=10). Digit rotation keeps length and
      // structure; at k > 10 the rotation's period would re-collide
      // (replicas r and r+10 sharing every name — round-10 third-decade
      // lesson), so a letter rotation keyed by r/10 stacks on top:
      // distinct transforms for every r < 260
      val rl = (r / 10) % 26
      val letters = "abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ"
      val rotL = letters.substring(rl, 26) + letters.substring(0, rl) +
        letters.substring(26 + rl) + letters.substring(26, 26 + rl)
      val named =
        if (r == 0) col("c_name")
        else if (rl == 0) translate(col("c_name"), digits, rotD)
        else translate(translate(col("c_name"), digits, rotD), letters, rotL)
      d.withColumn("c_custkey", col("c_custkey") + lit(r * custOff))
        .withColumn("c_name", named)
    }
    amplify("supplier") { (d, r) =>
      d.withColumn("s_suppkey", col("s_suppkey") + lit(r * suppOff))
    }
    amplify("part") { (d, r) =>
      d.withColumn("p_partkey", col("p_partkey") + lit(r * partOff))
    }
    amplify("orders") { (d, r) =>
      d.withColumn("o_orderkey", col("o_orderkey") + lit(r * ordOff))
        .withColumn("o_custkey", col("o_custkey") + lit(r * custOff))
    }
    amplify("lineitem") { (d, r) =>
      d.withColumn("l_orderkey", col("l_orderkey") + lit(r * ordOff))
        .withColumn("l_partkey", col("l_partkey") + lit(r * partOff))
        .withColumn("l_suppkey", col("l_suppkey") + lit(r * suppOff))
    }
    amplify("events") { (d, r) =>
      d.withColumn("event_id", col("event_id") + lit(r * evtOff))
        .withColumn("user_id", col("user_id") + lit(r * userOff))
    }
    val alphabet = "abcdefghijklmnopqrstuvwxyz"
    // Deterministic alphabet PERMUTATION per replica (Fisher-Yates under
    // a 64-bit LCG seeded by r): the r9 rotation (r*2 % 26) had period
    // 13, so at k > 13 replicas r and r+13 shared every shingle and the
    // n-gram family inherited k/13-sized identical-text clusters — an
    // AMPLIFIER artifact the third-decade curve would have measured as
    // plan cost (lesson 28). A permutation is still length-, case- and
    // whitespace-preserving; distinct for every r with probability
    // 1 − ~k²/26! (26! ≈ 4e26).
    def alphaPerm(r: Int): String = {
      val a = alphabet.toCharArray
      var s = r.toLong
      for (i <- a.length - 1 to 1 by -1) {
        s = s * 6364136223846793005L + 1442695040888963407L
        val j = ((s >>> 33) % (i + 1)).toInt
        val t = a(i); a(i) = a(j); a(j) = t
      }
      new String(a)
    }
    amplify("documents") { (d, r) =>
      if (r == 0) d
      else {
        d.withColumn("doc_id", col("doc_id") + lit(r.toLong * docOff))
          // NULL text stays NULL (quarantine-path rows replicate as-is);
          // permutation is length-preserving so n_chars needs no touch
          .withColumn("text", translate(col("text"), alphabet, alphaPerm(r)))
      }
    }
    amplify("embeddings") { (d, r) =>
      // CIRCULAR COMPONENT SHIFT per replica: a single-component nudge
      // left replica vectors at cosine ≈ 1 of each other, so every LSH
      // bucket collected all k copies and the embedding near-dup family
      // went quadratic in k (measured 14.6× at k=10). Shifting the
      // component order by r decorrelates replicas (near-random dot
      // products) while preserving norms and all within-replica
      // geometry exactly. The shift's period is the dimension (64), so
      // at k > 64 a per-(r/64) ±1 SIGN VECTOR stacks on top — the
      // composed transform stays orthogonal (norms and all
      // within-replica dots exact) and replicas at the same shift land
      // at near-zero cosine. The sign vector is LCG-derived per r/64
      // (round-10 ADVICE: the previous PARITY flip had period 2 in
      // r/64, so the composition had period 128 and replicas r / r+128
      // were exact duplicates — distinct vectors now for every r/64).
      //
      // PLANTED NEAR-DUP TRUTH MASS (round-10 verdict ask #1): random
      // synthetic vectors have ~zero pair mass at cosine ≥ 0.8, so the
      // LSH near-dup operator's recall GUARANTEE band was unmeasurable
      // on the amplified corpus. Each replica r > 0 therefore keeps
      // ~1% of its vectors (base vec_id ≡ r mod 101 — each base is
      // planted in at most one replica while k ≤ 101) as genuine
      // near-copies of their base: v' = (1−λ)·v + λ·shift32(v), λ
      // cycling 0.20..0.40 → pair cosines spread ~0.80..0.97 across
      // the guarantee band; the operator's recall against exactly this
      // truth is SURVEY §9.36.
      if (r == 0) d
      else {
        val s = r % 64; val f = r / 64
        val signExpr =
          if (f == 0) ""
          else {
            var st = f.toLong
            val signs = Array.tabulate(64) { _ =>
              st = st * 6364136223846793005L + 1442695040888963407L
              if (((st >>> 33) & 1L) == 1L) "1.0" else "-1.0"
            }
            s" * CAST(element_at(array(${signs.mkString(",")}), i + 1) AS FLOAT)"
          }
        val shifted = s"transform(embedding, (x, i) -> " +
          s"element_at(embedding, ((i + $s) % size(embedding)) + 1)$signExpr)"
        val lam = 0.2 + 0.05 * (r % 5)
        val planted = s"transform(embedding, (x, i) -> " +
          s"CAST((1.0 - $lam) * x + $lam * " +
          s"element_at(embedding, ((i + 32) % size(embedding)) + 1) AS FLOAT))"
        d.withColumn("embedding",
            when(col("vec_id") % 101 === lit(r % 101), expr(planted))
              .otherwise(expr(shifted)))
          .withColumn("vec_id", col("vec_id") + lit(r.toLong * vecOff))
      }
    }

    Files.write(marker,
      (s"src=$src k=$k custOff=$custOff suppOff=$suppOff partOff=$partOff " +
        s"ordOff=$ordOff docOff=$docOff vecOff=$vecOff evtOff=$evtOff " +
        s"userOff=$userOff\n").getBytes("UTF-8"))
    for (t <- Seq("region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings"))
      System.err.println(
        s"[amplify] $t: ${spark.read.parquet(s"$out/$t.parquet").count()} rows")
    spark.stop()
  }
}
