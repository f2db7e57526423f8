package perfbench

import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule
import graft.Verify

/** One benchmark process: set up a session and stage the inputs, run the
  * workload's operations in a closed loop (one operation in flight), check
  * every output and write the run record as JSON. `perfbench/run.py` starts
  * it; see perfbench/README.md.
  *
  * Arguments (all required unless noted):
  *   --workload W --data DIR --work DIR --cores N --t0-ms EPOCH_MS
  *   --record FILE --seconds S [--trace 0|1] [--cold-only 1]
  *
  * `--t0-ms` is the wall clock at which the launcher started this process.
  * Set-up runs from process start until a session from graft.Verify.session
  * is ready and the inputs are staged. Then one cold operation (and no more
  * with `--cold-only 1`), at least WarmupOps warm-up operations and
  * WarmupSeconds of them, then measured operations for `--seconds` and at
  * least the workload's `minMeasured` of them (a traced run: at least
  * MinTracedOps of each kind it cycles through: untraced, traced and the
  * workload's other traced operations).
  */
object BenchMain {
  // operation times keep falling for several seconds while the JIT compiles
  // the hot paths (the near-dup pipeline's higher-order functions run
  // interpreted until then)
  private val WarmupOps = 3
  private val WarmupSeconds = 6.0
  private val MinTracedOps = 3
  private val MaxProcessSeconds = 150.0

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = opts("workload")
    val data = Paths.get(opts("data"))
    val work = Paths.get(opts("work"))
    val cores = opts("cores")
    val t0Ms = opts("t0-ms").toLong
    val record = Paths.get(opts("record"))
    val seconds = opts("seconds").toDouble
    val traceOn = opts.getOrElse("trace", "0") == "1"
    val coldOnly = opts.getOrElse("cold-only", "0") == "1"
    val processStartNs = System.nanoTime() - (System.currentTimeMillis() - t0Ms) * 1000000L
    val localDir = Files.createDirectories(work.resolve("local")).toString

    val tSession = System.nanoTime()
    val spark = Verify.session(cores, localDir)
    val sessionS = (System.nanoTime() - tSession) / 1e9
    val staged = stage(data, Files.createDirectories(work.resolve("stage")))
    val rec = mutable.LinkedHashMap[String, Any](
      "setup_s" -> (System.nanoTime() - processStartNs) / 1e9,
      "session_s" -> sessionS,
      "heap_max_mb" -> Runtime.getRuntime.maxMemory / 1e6,
      "spark_cores" -> spark.sparkContext.defaultParallelism)

    val ledger = new Ledger(spark.sparkContext)
    val tracer = new Tracer(ledger)
    val wl = Workload(workload, staged)
    val ops = mutable.ArrayBuffer[Map[String, Any]]()
    // output digests per entry point: the workload's own ("main") and each
    // of its other traced operations
    val digests = mutable.LinkedHashMap[String, Set[String]]().withDefaultValue(Set.empty)

    def operation(kind: String): Unit = {
      val i = ops.size
      val out = work.resolve(s"out/op-$i")
      val stream = if (wl.otherTraced.contains(kind)) kind else "main"
      val before = ledger.snapshot()
      val t = System.nanoTime()
      val outcome =
        try kind match {
          case "traced" => wl.traced(spark, out, tracer, i)
          case other if wl.otherTraced.contains(other) => wl.otherTraced(other)(spark, out, tracer, i)
          case _ => wl.run(spark, out)
        }
        catch { case e: Exception =>
          Outcome("", Seq(s"${e.getClass.getSimpleName}: ${e.getMessage}"))
        }
      val wall = (System.nanoTime() - t) / 1e9
      val used = ledger.snapshot() - before
      if (outcome.digest.nonEmpty) digests(stream) += outcome.digest
      val failures = outcome.failures ++
        (if (digests(stream).size > 1) Seq("output digest differs from an earlier operation")
         else Nil)
      failures.foreach(f => System.err.println(s"[perfbench] op $i ($kind) failed check: $f"))
      ops += Map("index" -> i, "kind" -> kind, "wall_s" -> wall,
        "retained_cache_mb" -> ledger.retainedMb(), "ok" -> failures.isEmpty,
        "failures" -> failures, "digest" -> outcome.digest) ++ used.toMap ++ outcome.counts
      deleteTree(out)
    }

    def processAge = (System.nanoTime() - processStartNs) / 1e9
    operation("cold")
    if (!coldOnly) {
      val warmStart = System.nanoTime()
      var warm = 0
      while (warm < WarmupOps || (System.nanoTime() - warmStart) / 1e9 < WarmupSeconds) {
        operation("warmup")
        warm += 1
      }
      val start = System.nanoTime()
      var measured = 0
      def elapsed = (System.nanoTime() - start) / 1e9
      // a traced run cycles through untraced, traced and the workload's
      // other traced operations, and needs enough of each for a median
      val kinds = if (traceOn) Seq("measured", "traced") ++ wl.otherTraced.keys.toSeq.sorted
                  else Seq("measured")
      val minOps = if (traceOn) kinds.size * MinTracedOps else wl.minMeasured
      while ((elapsed < seconds || measured < minOps) && processAge < MaxProcessSeconds) {
        operation(kinds(measured % kinds.size))
        measured += 1
      }
    }
    rec ++= Seq("ops" -> ops.toSeq,
      "digests" -> digests.map { case (k, v) => k -> v.headOption.getOrElse("") }.toMap,
      "peak_rss_mb" -> peakRssMb())
    if (traceOn) rec += "spans" -> tracer.spans.toSeq.map(s => Map(
      "op" -> s.op, "id" -> s.id, "parent" -> s.parent, "name" -> s.name,
      "forced" -> s.forced,
      "start_s" -> (s.startNs - processStartNs) / 1e9,
      "end_s" -> (s.endNs - processStartNs) / 1e9,
      "rows_out" -> s.rowsOut, "retained_cache_mb" -> s.retainedMb) ++ s.work.toMap ++ s.extra)
    spark.stop()
    val json = new ObjectMapper().registerModule(DefaultScalaModule)
    json.writeValue(record.toFile, rec)
  }

  /** Copy the program's inputs into `dir` and read every byte once, so the
    * first operation finds them in the page cache like every later one. */
  private def stage(data: Path, dir: Path): Path = {
    val buf = new Array[Byte](1 << 20)
    Files.walk(data).iterator.asScala.toSeq.sorted.foreach { p =>
      val to = dir.resolve(data.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(to)
      else {
        Files.copy(p, to)
        val in = Files.newInputStream(to)
        try while (in.read(buf) >= 0) () finally in.close()
      }
    }
    dir
  }

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) Files.walk(p).iterator.asScala.toSeq.reverse.foreach(Files.delete)

  /** The process's peak resident set (VmHWM), in MB. */
  private def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toLong / 1e3).getOrElse(-1.0)
}
