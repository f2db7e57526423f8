package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def session(cpus: String): SparkSession = session(cpus, null)

  /** A process is live iff its /proc entry exists (Linux — the only
    * platform the bench hosts run). ProcessHandle.of is the fallback
    * where /proc is absent.
    */
  private[graft] def pidAlive(pid: Long): Boolean =
    try java.nio.file.Files.isDirectory(
      java.nio.file.Paths.get(s"/proc/$pid"))
    catch { case _: Throwable =>
      ProcessHandle.of(pid).isPresent
    }

  /** Which of `names` are STALE shuffle dirs (round-12 verdict ask #5 —
    * two SIGKILLed sf10 runs left 115 GB of orphaned tmpfs shuffle +
    * 37 GB of /tmp spills, and the next three "clean" runs OOMed on
    * them): a dir is stale when it is pid-stamped (`graft-shuffle-pidN`)
    * and pid N is dead, or carries the legacy un-stamped name
    * (`graft-shuffle` — nothing writes it anymore, so it can only be a
    * dead run's leftover). Pure over an injected liveness check, so the
    * gate logic is unit-testable without killing processes
    * (`BenchGateSpec`).
    */
  private[graft] def staleShuffleDirs(names: Seq[String],
      alive: Long => Boolean): Seq[String] = {
    val pidRx = "graft-shuffle-pid(\\d+)".r
    names.filter {
      case "graft-shuffle" => true
      case pidRx(pid) =>
        try !alive(pid.toLong) catch { case _: Throwable => false }
      case _ => false
    }
  }

  /** Pre-flight SWEEP + per-run shuffle-dir selection, shared by every
    * main that moves multi-GB shuffle ([[graft.Bench]]; SURVEY §9.56):
    * sweeps stale `graft-shuffle*` dirs from dead runs out of /dev/shm and
    * /tmp, then picks this run's dir — SPARK_GRAFT_LOCAL_DIR when set,
    * else tmpfs when it can hold `needBytes` (the sandbox disk
    * write-throttles multi-GB shuffle files; RAM-backed local dirs
    * change neither plans nor shuffle bytes, only the timing noise
    * floor), else a pid-stamped /tmp dir. EVERY choice is pid-stamped
    * so the next run can tell live from dead, and a shutdown hook
    * removes the dir on clean exit (kill -9 skips hooks — that is what
    * the sweep is for). Returns (dir or null, swept MB).
    */
  def localShuffleDir(needBytes: Long): (String, Double) = {
    def sizeOf(p: java.nio.file.Path): Long = {
      val s = java.nio.file.Files.walk(p)
      try s.mapToLong { f =>
        try java.nio.file.Files.size(f) catch { case _: Throwable => 0L }
      }.sum()
      catch { case _: Throwable => 0L }
      finally s.close()
    }
    def rmTree(p: java.nio.file.Path): Unit = {
      val s = java.nio.file.Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder())
        .forEach(f => try java.nio.file.Files.delete(f)
          catch { case _: Throwable => () })
      finally s.close()
    }
    var sweptBytes = 0L
    for (base <- Seq("/dev/shm", "/tmp")) {
      val bp = java.nio.file.Paths.get(base)
      val names =
        try {
          val st = java.nio.file.Files.list(bp)
          try st.toArray.toSeq
            .map(_.asInstanceOf[java.nio.file.Path].getFileName.toString)
          finally st.close()
        } catch { case _: Throwable => Nil }
      staleShuffleDirs(names, pidAlive).foreach { n =>
        val p = bp.resolve(n)
        val sz = sizeOf(p)
        System.err.println(s"[shuffledir] sweeping stale $p " +
          f"(${sz / 1e6}%.0f MB, dead run)")
        rmTree(p)
        sweptBytes += sz
      }
    }
    val mine = s"graft-shuffle-pid${ProcessHandle.current.pid}"
    val chosen = sys.env.get("SPARK_GRAFT_LOCAL_DIR").orElse {
      val shm = java.nio.file.Paths.get("/dev/shm")
      val fits =
        try java.nio.file.Files.isDirectory(shm) &&
          java.nio.file.Files.getFileStore(shm).getUsableSpace >= needBytes
        catch { case _: Throwable => false }
      val base = if (fits) shm else java.nio.file.Paths.get("/tmp")
      val d = base.resolve(mine)
      try {
        java.nio.file.Files.createDirectories(d)
        Runtime.getRuntime.addShutdownHook(new Thread(() =>
          try rmTree(d) catch { case _: Throwable => () }))
        Some(d.toString)
      } catch { case _: Throwable => None }
    }.orNull
    (chosen, sweptBytes / 1e6)
  }

  /** `localDir` (optional) overrides spark.local.dir — graft.Bench points
    * it at tmpfs for the sf1/sf10 scale runs: the sandbox's single virtio
    * disk write-throttles the bench's own multi-GB shuffle files, which
    * made sf10 wall-clock swing 39–132 s at byte-identical work (run
    * progression in SURVEY §9.39); a production cluster's NVMe-backed
    * shuffle dirs don't have this failure mode, and RAM-backed local
    * dirs change neither plans nor shuffle bytes — only the timing
    * noise floor.
    */
  def session(cpus: String, localDir: String): SparkSession = {
    val b0 = SparkSession.builder()
      .withExtensions(new graft.plans.GraftExtensions)
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
    val spark = (if (localDir == null) b0
                 else b0.config("spark.local.dir", localDir))
      .config("spark.sql.session.timeZone", "UTC")
      // events.ts is parquet TIMESTAMP(NANOS); Spark 4 only reads it as a
      // raw long with this flag (graft.model.Tables.withEventTime).
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // InferFiltersFromGenerate duplicates the generator's input
      // expression into isnotnull/size>0 filters that predicate pushdown
      // then drags below every exchange — for the md5-shingle pipelines
      // that re-evaluates the whole array expression per SOURCE row in the
      // (single-task) scan stage: measured 12 s of a 17 s query. The
      // filters only skip null/empty arrays, which our generators never
      // produce.
      .config("spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
      // rank-limit pushdown (InferWindowGroupLimit) stops at rank bounds
      // above 1000 by default; the engine's own top-k family cuts at
      // SemClusterCap = 4096 fine centroids per shard, and a map-side
      // top-4096 beats a full per-shard sort at every scale.
      .config("spark.sql.optimizer.windowGroupLimitThreshold", "8192")
      // AQE's post-shuffle coalescing floor (default 1m) collapses the
      // CPU-DENSE small-byte stages of the shingle/array pipelines into
      // 1-4 tasks: bytes are a poor cost proxy when a 0.9 MB exchange
      // carries collect_list'd hash arrays that cost seconds of CPU —
      // measured on q_dedup_jaccard (warm, sf0.1) 5.1 s with two
      // single-task 1.6 s stages vs 2.6 s with a 64k floor (same plan,
      // 32-way tails; guide §2.2/§2.5 — stragglers from under-
      // parallelized reduce stages). Scale-neutral: production shuffle
      // partitions are 100 MB+, where the floor never binds and
      // parallelismFirst/advisory sizing govern exactly as before.
      .config("spark.sql.adaptive.coalescePartitions.minPartitionSize", "64k")
      .config("spark.ui.enabled", "false")
      // under a checkpoint dir, delete a reliable checkpoint's files once
      // nothing references its RDD (an evicted memo entry, a dropped
      // barrier frame); without one this changes nothing
      .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    graft.functions.Registry.ensure(spark)
    spark
  }

  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional trailing names restrict the dump (dev iteration; the round
    // driver always runs the full set)
    val only = args.drop(2).toSet
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = session(cpus)
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries
      .filter { case (name, _) => only.isEmpty || only(name) }
      .foreach { case (name, fn) =>
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
        }
      }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
