package graft
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.model.Materialize
import graft.tools.StageLedger
/** Benchmark main: runs every SparkEntry query on SPARK_GRAFT_SF_DIR and
  * prints one JSON line {"metric":…,"queries":{…}}. Uses the `noop` sink so
  * the FULL plan executes (a bare .count() lets Catalyst prune projections —
  * cosine/chi2 arithmetic would be optimized away and the numbers would lie).
  *
  * MEASUREMENT PROTOCOL (round 11): warmth-controlled. Before anything is
  * timed, (1) the whole corpus is byte-streamed once so the page-cache
  * state is identical no matter where a query sits in the battery, and
  * (2) each query runs ONCE untimed immediately before its timed runs so
  * JIT/codegen state is its own, not inherited from battery position.
  * Then three timed runs, report the min. Rationale: the round-10 solo-run
  * audit measured a 30% family-vs-solo gap on the sf10 jaccard family —
  * page-cache/JIT position transfer that a 3-run min alone cannot see.
  */
object Bench {
  /** Locale-independent float formatting: Scala's f-interpolator uses the
    * JVM default locale, so on a comma-decimal locale the emitted JSON
    * would carry [1,23] instead of [1.23] (round-10 ADVICE).
    */
  private[graft] def fmt(v: Double, dec: Int): String =
    String.format(java.util.Locale.ROOT, s"%.${dec}f", Double.box(v))

  /** Byte-based regression gate (round-11 verdict ask #5): wall-clock
    * lost cross-round meaning on this host (SURVEY §9.39 — a fixed-work
    * plan swung 39–90 s at byte-identical shuffle), but shuffle bytes
    * are deterministic and host-independent, so the official record now
    * self-reports byte drift against the previously COMMITTED official
    * record. A query regresses when its total shuffle (read + write MB)
    * grows more than 10% over the prior record AND by more than 1 MB
    * absolute (AQE/stat jitter on tiny exchanges is not a plan change).
    * New queries (no prior entry) are not regressions — they have no
    * committed baseline yet. Returns (name, prior_mb, current_mb),
    * name-sorted.
    */
  private[graft] def byteRegressions(
      prior: Map[String, (Double, Double)],
      cur: Map[String, (Double, Double)]): Seq[(String, Double, Double)] =
    cur.toSeq.flatMap { case (name, (r, w)) =>
      prior.get(name).flatMap { case (pr, pw) =>
        val p = pr + pw; val c = r + w
        if (c > p * 1.10 && c - p > 1.0) Some((name, p, c)) else None
      }
    }.sortBy(_._1)

  /** Emitted-PAIR regression gate (round-12 verdict ask #4): the byte
    * gate catches plan drift but not a recall-vs-cost drift in the
    * pair-emitting dedup/ANN family — an index change that silently
    * drops candidate pairs shrinks bytes (looks like an improvement)
    * while losing recall, and one that over-emits pays cost the byte
    * gate only sees indirectly. Pair counts are DETERMINISTIC (pure
    * functions of the data — no AQE/stat jitter), so the gate diffs the
    * current census against the committed one in BOTH directions with
    * the byte gate's >10% rule plus a ≥10-pair absolute floor (a
    * 15→16 single-pair wobble on a tiny family is workload, not drift).
    * New queries have no committed baseline and never flag. Returns
    * (name, prior, current), name-sorted.
    */
  private[graft] def pairRegressions(
      prior: Map[String, Long],
      cur: Map[String, Long]): Seq[(String, Long, Long)] =
    cur.toSeq.flatMap { case (name, c) =>
      prior.get(name).flatMap { p =>
        val d = math.abs(c - p)
        if (d > p * 0.10 && d >= 10) Some((name, p, c)) else None
      }
    }.sortBy(_._1)

  /** Contention pre-flag (extracted for [[BenchGateSpec]]): a row is
    * suspect when it runs >3× its committed official time AND >0.5 s
    * absolute (3× of a 50 ms query is scheduler noise). */
  private[graft] def suspectRows(rows: Seq[(String, Double)],
      prior: Map[String, Double]): Seq[String] =
    rows.collect {
      case (n, v) if v > 0.5 && prior.get(n).exists(p => v > 3 * p) => n
    }.sorted

  /** Self-healing min-merge (round-13 verdict ask #5): suspect rows get
    * one extra measured pass and the record keeps the per-query MIN —
    * the official-record merge convention, applied inside the run so
    * BENCH_FULL_LATEST.json (which tools and judges read raw) does not
    * ship transient contention spikes as if they were costs. A re-run
    * that comes back slower changes nothing. Returns (healed rows,
    * (name, before, after) for every row the re-run improved).
    */
  private[graft] def healMerge(rows: Seq[(String, Double)],
      rerun: Map[String, Double])
      : (Seq[(String, Double)], Seq[(String, Double, Double)]) = {
    val healed = scala.collection.mutable.ArrayBuffer[(String, Double, Double)]()
    val out = rows.map { case (n, v) =>
      val nv = math.min(v, rerun.getOrElse(n, v))
      if (nv < v) healed += ((n, v, nv))
      n -> nv
    }
    (out, healed.toSeq)
  }

  /** A diagnostic row beside the declared battery: `query` timed with the
    * session's [[Materialize.memo]] entries of `memoKind` cleared first. */
  private[graft] final case class ColdRow(name: String, memoKind: String,
      query: (SparkSession, String) => DataFrame)

  /** The cluster memo makes q_dedup_clusters' steady-state number a cache
    * hit (it models a materialized cluster table), and the four declared
    * graph queries amortize one persisted edge table; these rows record
    * what ONE consumer pays cold, so the warm numbers stay honest. */
  private[graft] val coldRows: Seq[ColdRow] = Seq(
    ColdRow("q_dedup_clusters_cold", graft.dedup.Dedup.ClusterMemo,
      graft.dedup.Dedup.nearDupClusters),
    ColdRow("q_graph_pagerank_cold", graft.graph.Graph.EdgeMemo,
      graft.graph.Graph.pageRank))

  private val mapper = new ObjectMapper

  private def fields(n: JsonNode): Seq[(String, JsonNode)] =
    n.properties.asScala.toSeq.map(e => e.getKey -> e.getValue)

  /** Per-query seconds (`queries`) and [read_mb, write_mb] shuffle
    * (`shuffle_mb_rw`) of a committed official record. The record is a
    * baseline for ITS scale factor: comparing a run at another sf against
    * it would flag everything, so a record whose `sf` differs from `sfDir`
    * yields empty maps (a record without `sf` is taken as matching). */
  private[graft] def priorRecord(json: String, sfDir: String)
      : (Map[String, Double], Map[String, (Double, Double)]) = {
    val root = mapper.readTree(json)
    if (root.has("sf") && root.get("sf").asText != sfDir) (Map.empty, Map.empty)
    else (fields(root.path("queries")).map { case (k, v) => k -> v.asDouble }.toMap,
      fields(root.path("shuffle_mb_rw"))
        .map { case (k, v) => k -> ((v.get(0).asDouble, v.get(1).asDouble)) }.toMap)
  }

  /** Per-query emitted pairs (`pairs`) of a committed pair census, or an
    * empty map unless its `sf` is `sfDir`. */
  private[graft] def pairCensus(json: String, sfDir: String): Map[String, Long] = {
    val root = mapper.readTree(json)
    if (root.path("sf").asText != sfDir) Map.empty
    else fields(root.path("pairs")).map { case (k, v) => k -> v.asLong }.toMap
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val outDir = sys.env.getOrElse("SPARK_GRAFT_OUT_DIR", ".")
    // shuffle dirs: pre-flight sweep of dead runs' leftovers, then this
    // run's pid-stamped dir (round-12 verdict ask #5 — see
    // Verify.localShuffleDir; the 32 GiB need is the battery's worst
    // sf10 shuffle footprint, and /dev/shm is typically capped at 50%
    // of RAM, so a smaller host falls back to a stamped /tmp dir
    // rather than turning a full tmpfs into confusing OOM failures)
    def readLoadavg(): String =
      try Files.readString(Paths.get("/proc/loadavg")).trim
      catch { case _: Throwable => "" }
    // machine load BEFORE any work: a record that starts on a loaded box
    // self-declares it (round-13 verdict ask #5 — the r13 LATEST shipped
    // 18 contention-suspect rows with only the END loadavg to show why)
    val loadavgStart = readLoadavg()
    val (localDir, sweptMb) = Verify.localShuffleDir(32L << 30)
    System.err.println("[bench] spark.local.dir = " +
      (if (localDir == null) "<jvm default tmp>" else localDir))
    val spark = Verify.session(cpus, localDir)
    // CORPUS PRE-TOUCH: stream every input byte once so the OS page cache
    // holds the same corpus state for the 1st and the 178th query alike
    // (a cold query otherwise pays disk I/O its committed record never
    // saw; a warm one inherits cache from whoever ran before it)
    locally {
      val buf = new Array[Byte](1 << 20)
      def touch(f: java.io.File): Unit =
        if (f.isDirectory) f.listFiles().foreach(touch)
        else {
          val in = new java.io.FileInputStream(f)
          try { while (in.read(buf) >= 0) () } finally in.close()
        }
      try touch(new java.io.File(sfDir))
      catch { case e: Throwable =>
        System.err.println(s"[bench] pre-touch failed: ${e.getMessage}")
      }
    }
    // JVM warm: touch the vectorized parquet reader, whole-stage codegen,
    // and the shuffle machinery once (a bare region.count() left ~2 s of
    // first-query warmup inside q_agg_pricing's measurement)
    spark.read.parquet(s"$sfDir/lineitem.parquet")
      .groupBy("l_returnflag").count()
      .write.format("noop").mode("overwrite").save()
    // per-query shuffle bytes (round-10 verdict ask): stage-level
    // read + write totals, diffed between two drained snapshots so bytes
    // land on the query that moved them — the scale curve can then argue
    // in BYTES, which machine contention cannot inflate the way
    // wall-clock can
    val ledger = new StageLedger(spark.sparkContext)
    // (read_mb, write_mb) of each query's LAST measured run — the
    // steady-state shuffle volume (the warm run may add one-time memo
    // derivations; bytes are otherwise deterministic across runs)
    val shuffleMb = scala.collection.mutable.Map[String, (Double, Double)]()
    def run(fn: (SparkSession, String) => DataFrame,
        name: String): Unit =
      try fn(spark, sfDir).write.format("noop").mode("overwrite").save()
      catch { case e: Throwable =>
        System.err.println(s"[bench] $name failed: ${e.getMessage}")
      }
    // one untimed warm run (JIT/codegen/memo warm-up, position-blind),
    // then three measured runs, report the min: single-shot numbers carry
    // multi-second GC spikes that land on random queries (observed run to
    // run); the min is the steady-state operator cost
    def timed(fn: (SparkSession, String) => DataFrame,
        name: String): Double = {
      val before = ledger.snapshot()
      val t0 = System.nanoTime()
      run(fn, name)
      val sec = (System.nanoTime() - t0) / 1e9
      val d = ledger.snapshot() - before
      shuffleMb(name) = (d.shuffleReadBytes / 1e6, d.shuffleWriteBytes / 1e6)
      sec
    }
    def measure(fn: (SparkSession, String) => DataFrame,
        name: String): Double = {
      run(fn, name) // warm, untimed
      (1 to 3).map(_ => timed(fn, name)).min
    }
    // optional comma-separated allowlist for targeted perf iteration
    // (dev loop; the round driver never sets it)
    val only = sys.env.get("SPARK_GRAFT_ONLY")
      .map(_.split(",").map(_.trim).toSet).getOrElse(Set.empty[String])
    val results = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => only.isEmpty || only(n) }
      .map { case (name, fn) => name -> measure(fn, name) }
    // cold rows get NO warm run — cold IS the thing measured — so the
    // memo is cleared before each timed run and the min is a min over
    // true cold runs
    val cold = coldRows.filter(c => only.isEmpty || only(c.name)).map { c =>
      c.name -> (1 to 3).map { _ =>
        Materialize.clear(spark, c.memoKind); timed(c.query, c.name) }.min
    }
    // run metadata baked into every record so contention adjudication is
    // mechanical: machine load at measurement time and wall timestamp
    val loadavg = readLoadavg()
    val tsMs = System.currentTimeMillis()
    // SELF-ADJUDICATION: compare each query's min against the latest
    // committed official record (BENCH_LOCAL_r*.json, highest round) and
    // pre-flag rows >3× their committed time AND >0.5 s absolute (3× of
    // a 50 ms query is scheduler noise, not contention). A contention-
    // poisoned run now arrives with its own suspect list instead of
    // needing a judge re-run to spot (round-8 verdict ask).
    // (a missing or unreadable dir throws; the callers fall back to empty)
    def committed(rx: String): Seq[java.io.File] =
      new java.io.File(outDir).listFiles.toSeq.filter(_.getName.matches(rx))
    val noPrior = (Map.empty[String, Double], Map.empty[String, (Double, Double)])
    val (prior, priorShuf) =
      try committed("BENCH_LOCAL_r[0-9]+\\.json")
        .maxByOption(_.getName.filter(_.isDigit).toInt)
        .fold(noPrior)(f => priorRecord(Files.readString(f.toPath), sfDir))
      catch { case _: Throwable => noPrior }
    def suspects(rows: Seq[(String, Double)]): Seq[String] =
      suspectRows(rows, prior)
    // SELF-HEALING pass (round-13 verdict ask #5): suspect-flagged
    // declared rows get ONE extra measured pass — after the battery,
    // like the pair census, so the heal can't pollute neighbors — and
    // the record keeps the per-query min (the official-record merge
    // convention, applied in-run so LATEST never ships a transient
    // spike as a cost). Cold diagnostic rows stay as measured: cold IS
    // the thing they measure.
    val (resultsH, healedRows) =
      if (only.nonEmpty) (results, Seq.empty[(String, Double, Double)])
      else {
        val sus0 = suspects(results)
        if (sus0.isEmpty) (results, Seq.empty[(String, Double, Double)])
        else {
          System.err.println(s"[bench] self-heal: re-measuring " +
            s"${sus0.size} suspect rows (${sus0.mkString(", ")})")
          val rerun = sus0
            .map(n => n -> measure(SparkEntry.queries(n), n)).toMap
          healMerge(results, rerun)
        }
      }
    if (healedRows.nonEmpty)
      System.err.println("[bench] self-heal improved: " + healedRows.map {
        case (n, b, a) => s"$n ${fmt(b, 2)}->${fmt(a, 2)}s" }.mkString("; "))
    // total stays the sum over DECLARED queries only — the cold diag
    // row would double-count q_dedup_clusters
    val total = resultsH.map(_._2).sum
    // the deterministic full-record path (round-10 verdict ask #4): a
    // consumer that only has the stdout line follows "full_record" here
    val latestPath = Paths.get(outDir, "BENCH_FULL_LATEST.json")
      .toAbsolutePath.normalize
    def json(rows: Seq[(String, Double)]): String = {
      val qs = rows.map { case (k, v) => "\"" + k + "\":" + fmt(v, 3) }
        .mkString("{", ",", "}")
      val sus = suspects(rows).map("\"" + _ + "\"").mkString("[", ",", "]")
      // a filtered dev run (SPARK_GRAFT_ONLY) must not point at
      // BENCH_FULL_LATEST.json — this run did not write it, so a
      // consumer following the pointer would read a STALE full record;
      // it also self-declares "filtered":true so the subset-sized
      // n_queries can't masquerade as a complete battery (round-11
      // ADVICE)
      val fullRef =
        if (only.isEmpty) "\"" + latestPath + "\"" else "null"
      val healedJson = healedRows.map { case (n, b, a) =>
        "\"" + n + "\":[" + fmt(b, 3) + "," + fmt(a, 3) + "]"
      }.mkString("{", ",", "}")
      s"""{"metric":"total","value":${fmt(total, 3)},"unit":"sec","queries":$qs,"sf":"$sfDir","n_queries":${resultsH.size},"truncated":false,"filtered":${only.nonEmpty},"suspect":$sus,"healed":$healedJson,"loadavg":"$loadavg","loadavg_start":"$loadavgStart","ts_ms":$tsMs,"cpus":$cpus,"swept_mb":${fmt(sweptMb, 1)},"full_record":$fullRef}"""
    }
    // emitted-pair census + gate (round-12 verdict ask #4): count the
    // pair-emitting family once (untimed — after the battery, so counts
    // never pollute the seconds) and diff against the committed census
    // for this sf (pairs_sf*.json, matched by its own "sf" field)
    val pairCur: Map[String, Long] =
      if (only.nonEmpty) Map.empty
      else graft.tools.PairCounts.Family.flatMap { name =>
        try Some(name -> SparkEntry.queries(name)(spark, sfDir).count())
        catch { case e: Throwable =>
          System.err.println(s"[bench] pair census $name failed: ${e.getMessage}")
          None
        }
      }.toMap
    val pairPrior: Map[String, Long] =
      try committed("pairs_sf[0-9]+\\.json")
        .flatMap(f => pairCensus(Files.readString(f.toPath), sfDir)).toMap
      catch { case _: Throwable => Map.empty }
    val pairRegs = pairRegressions(pairPrior, pairCur)
    if (pairRegs.nonEmpty)
      System.err.println(s"[bench] PAIR REGRESSIONS vs committed census: " +
        pairRegs.map { case (n, p, c) => s"$n $p->$c" }.mkString("; "))
    val pairJson = pairCur.toSeq.sortBy(_._1)
      .map { case (k, v) => "\"" + k + "\":" + v }.mkString("{", ",", "}")
    val pairRegsJson = pairRegs.map { case (n, p, c) =>
      "\"" + n + "\":[" + p + "," + c + "]"
    }.mkString("{", ",", "}")
    val shufJson = (resultsH ++ cold).map { case (k, _) =>
      val (r, w) = shuffleMb.getOrElse(k, (0.0, 0.0))
      "\"" + k + "\":[" + fmt(r, 2) + "," + fmt(w, 2) + "]"
    }.mkString("{", ",", "}")
    val regs = byteRegressions(priorShuf, shuffleMb.toMap)
    if (regs.nonEmpty)
      System.err.println(s"[bench] BYTE REGRESSIONS vs committed record: " +
        regs.map { case (n, p, c) =>
          s"$n ${fmt(p, 1)}->${fmt(c, 1)} MB" }.mkString("; "))
    val regsJson = regs.map { case (n, p, c) =>
      "\"" + n + "\":[" + fmt(p, 2) + "," + fmt(c, 2) + "]"
    }.mkString("{", ",", "}")
    val full = json(resultsH ++ cold).dropRight(1) +
      s""","byte_regressions":$regsJson,"pair_counts":$pairJson""" +
      s""","pair_regressions":$pairRegsJson,"shuffle_mb_rw":$shufJson}"""
    // complete record → files. The timestamped copy is APPEND-ONLY
    // (CREATE_NEW: two runs — the driver's and the judge's — can never
    // clobber each other; a plain BENCH_FULL.json overwrote on every
    // invocation, round-7 finding); BENCH_FULL_LATEST.json is the
    // deterministic pointer target and deliberately overwrites. NEVER
    // written on a filtered dev run — a SPARK_GRAFT_ONLY subset would
    // masquerade as a complete record.
    if (only.isEmpty) {
      val tag = sys.env.getOrElse("SPARK_GRAFT_BENCH_TAG", "run")
      val path = Paths.get(outDir, s"BENCH_FULL_${tag}_$tsMs.json")
      for ((p, opts) <- Seq(
          path -> Seq(java.nio.file.StandardOpenOption.CREATE_NEW),
          latestPath -> Seq(java.nio.file.StandardOpenOption.CREATE,
            java.nio.file.StandardOpenOption.TRUNCATE_EXISTING)))
        try Files.write(p, (full + "\n").getBytes("UTF-8"),
          opts: _*)
        catch { case e: Throwable =>
          System.err.println(s"[bench] could not write $p: ${e.getMessage}")
        }
    }
    // stdout: ONE complete JSON line, every query present (round-10
    // verdict ask #4 — the r10 stdout carried only the top-40 cut and the
    // driver's record self-truncated; the full map is ~4.5 KB, and
    // build.sbt's StdoutOutput strategy makes this line start at column
    // 0 so a line-oriented JSON scan finds it). The filtered dev-run
    // variant additionally carries the shuffle map (the full record
    // normally holds it).
    println(if (only.isEmpty) json(resultsH ++ cold) else full)
    spark.stop()
  }
}
