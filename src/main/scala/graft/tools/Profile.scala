package graft.tools

import java.util.concurrent.TimeoutException
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal
import org.apache.spark.{GraftCoreBridge, SparkContext}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerStageSubmitted}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{LeafExecNode, QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}
import org.apache.spark.sql.util.QueryExecutionListener
import graft.{Bench, SparkEntry, Verify}
import graft.model.Materialize

/** Work counters, cumulative or of one stage (jobs 0, stages 1); the
  * difference of two snapshots is the work done between them. Fields
  * shared with perfbench's `Counts` carry its names, units and
  * definitions (CPU includes deserialization, spill is memory + disk), and
  * `Profile` prints them under its record keys (`cpu_s`,
  * `shuffle_write_mb`, `spill_mb`).
  */
final case class Counts(jobs: Long, stages: Long, tasks: Long, cpuNs: Long,
    runMs: Long, shuffleReadBytes: Long, shuffleWriteBytes: Long,
    spillBytes: Long) {
  def +(o: Counts): Counts = Counts(jobs + o.jobs, stages + o.stages,
    tasks + o.tasks, cpuNs + o.cpuNs, runMs + o.runMs,
    shuffleReadBytes + o.shuffleReadBytes,
    shuffleWriteBytes + o.shuffleWriteBytes, spillBytes + o.spillBytes)

  def -(o: Counts): Counts = Counts(jobs - o.jobs, stages - o.stages,
    tasks - o.tasks, cpuNs - o.cpuNs, runMs - o.runMs,
    shuffleReadBytes - o.shuffleReadBytes,
    shuffleWriteBytes - o.shuffleWriteBytes, spillBytes - o.spillBytes)
}

/** One completed stage attempt, from its aggregated task metrics. `phase`
  * is the description its job ran under (`SparkContext.setJobDescription`),
  * empty when the caller set none. */
final case class StageRow(id: Int, name: String, phase: String, wallMs: Long,
    counts: Counts)

/** The engine's stage-metrics listener: counts jobs and records every
  * completed stage from its installation on `sc`, keeping running totals.
  * A stage is named by `StageInfo.name` and by the job description it was
  * submitted under, which AQE's stage jobs inherit from the action's
  * thread: their own name is only `withThreadLocalCaptured`'s call site.
  */
final class StageLedger(sc: SparkContext) extends SparkListener {
  private var totals = Counts(0, 0, 0, 0, 0, 0, 0, 0)
  private val rows = ArrayBuffer[StageRow]()
  private val phases = collection.mutable.Map[Int, String]()

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    totals = totals.copy(jobs = totals.jobs + 1)
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
    Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
      .foreach(d => synchronized(phases(e.stageInfo.stageId) = d))

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
    val i = e.stageInfo
    val m = i.taskMetrics
    if (m != null) {
      val wall = (for (a <- i.completionTime; b <- i.submissionTime)
        yield a - b).getOrElse(-1L)
      val phase = synchronized(phases.remove(i.stageId)).getOrElse("")
      val row = StageRow(i.stageId, i.name, phase, wall, Counts(0, 1, i.numTasks,
        m.executorCpuTime + m.executorDeserializeCpuTime, m.executorRunTime,
        m.shuffleReadMetrics.totalBytesRead,
        m.shuffleWriteMetrics.bytesWritten,
        m.memoryBytesSpilled + m.diskBytesSpilled))
      synchronized { rows += row; totals += row.counts }
    }
  }

  // events already queued belong to earlier work: deliver them first
  drain()
  sc.addSparkListener(this)

  /** Stage and job events are posted after the action that caused them
    * returns; drain the bus so they land on that action, not the next. */
  private def drain(): Unit =
    try GraftCoreBridge.drainListeners(sc)
    catch { case _: TimeoutException => () }

  /** Totals after every event posted so far has been delivered. */
  def snapshot(): Counts = { drain(); synchronized(totals) }

  /** Every stage completed so far, in completion order. */
  def stages: Seq[StageRow] = { drain(); synchronized(rows.toVector) }

  def close(): Unit = sc.removeSparkListener(this)
}

/** Keeps the physical plans of the actions that succeeded, in order. A
  * noop write runs its own QueryExecution, so the AQE-final plan of a query
  * comes from here, not from the source DataFrame. Events arrive on the
  * listener bus after the action returns; drain it before reading. */
final class PlanCapture extends QueryExecutionListener {
  private val seen = ArrayBuffer[SparkPlan]()
  def plans: Seq[SparkPlan] = synchronized(seen.toVector)
  def last: Option[SparkPlan] = plans.lastOption
  override def onSuccess(funcName: String, qe: QueryExecution,
      durationNs: Long): Unit = synchronized(seen += qe.executedPlan)
  override def onFailure(funcName: String, qe: QueryExecution,
      exception: Exception): Unit = ()
}

/** What one measured run of a query did. */
final case class QueryProfile(constructS: Double, executeS: Double,
    totals: Counts, stages: Seq[StageRow], plan: Option[SparkPlan])

/** Query profiler: for each declared query (or Bench's cold rows) one warm
  * run, then one measured run into the `noop` sink, reporting
  * DataFrame-construction vs execution seconds, every stage's wall, tasks,
  * CPU, shuffle and spill, their totals, and the AQE-final plan with its
  * exchange, reused-exchange and scan counts. A `### name` marker goes to
  * stderr before each query, so Spark WARN lines there attribute to it.
  *
  * Usage: runMain graft.tools.Profile <sfDir> [query…]
  * (no query: every declared query, name-sorted).
  */
object Profile {
  private def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** One warm run, then one measured run; `before` runs ahead of each
    * (cold rows clear their memo there). The construction seconds cover
    * `query` itself, which for the near-dup pair family already runs jobs. */
  def measure(spark: SparkSession, query: (SparkSession, String) => DataFrame,
      sfDir: String, before: SparkSession => Unit = _ => ()): QueryProfile = {
    before(spark)
    noop(query(spark, sfDir))
    before(spark)
    val ledger = new StageLedger(spark.sparkContext)
    val plans = new PlanCapture
    spark.listenerManager.register(plans)
    try {
      val t0 = System.nanoTime()
      val df = query(spark, sfDir)
      val t1 = System.nanoTime()
      noop(df)
      val t2 = System.nanoTime()
      QueryProfile((t1 - t0) / 1e9, (t2 - t1) / 1e9, ledger.snapshot(),
        ledger.stages, plans.last)
    } finally {
      spark.listenerManager.unregister(plans)
      ledger.close()
    }
  }

  private object PlanWalk extends AdaptiveSparkPlanHelper

  /** (exchanges, reused exchanges, scans) of a plan, looking inside
    * adaptive query stages and subqueries. */
  def planCounts(plan: SparkPlan): (Int, Int, Int) = {
    val nodes = PlanWalk.collectWithSubqueries(plan) { case p => p }
    (nodes.count(_.isInstanceOf[Exchange]),
      nodes.count(_.isInstanceOf[ReusedExchangeExec]),
      nodes.count {
        case l: LeafExecNode => l.nodeName.contains("Scan")
        case _ => false
      })
  }

  private def f(v: Double): String = Bench.fmt(v, 3)

  private def counts(c: Counts): String =
    s"tasks=${c.tasks} cpu_s=${f(c.cpuNs / 1e9)} task_run_s=${f(c.runMs / 1e3)} " +
      s"shuffle_read_mb=${f(c.shuffleReadBytes / 1e6)} " +
      s"shuffle_write_mb=${f(c.shuffleWriteBytes / 1e6)} " +
      s"spill_mb=${f(c.spillBytes / 1e6)}"

  private def report(name: String, p: QueryProfile): String = {
    val t = p.totals
    val plan = p.plan.fold(Seq(s"[plan] $name: no final plan captured")) { pl =>
      val (ex, reused, scans) = planCounts(pl)
      Seq(s"[plan] $name exchanges=$ex reused_exchanges=$reused scans=$scans",
        pl.toString)
    }
    (Seq(s"[profile] $name construct_s=${f(p.constructS)} " +
        s"execute_s=${f(p.executeS)}") ++
      p.stages.map(s =>
        s"[stage] ${s.id} wall_s=${f(s.wallMs / 1e3)} ${counts(s.counts)} ${s.name}" +
          (if (s.phase.isEmpty) "" else s" phase=${s.phase}")) ++
      Seq(s"[total] $name jobs=${t.jobs} stages=${t.stages} ${counts(t)}") ++
      plan).mkString("\n")
  }

  def main(args: Array[String]): Unit = {
    if (args.isEmpty) {
      System.err.println("usage: graft.tools.Profile <sfDir> [query…]")
      sys.exit(2)
    }
    val sfDir = args(0)
    val declared = SparkEntry.queries
    val cold = Bench.coldRows.map(c => c.name -> c).toMap
    val names = if (args.length > 1) args.toSeq.tail else declared.keys.toSeq.sorted
    val spark = Verify.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "8"))
    names.foreach { name =>
      System.err.println(s"### $name")
      System.err.flush()
      try {
        val p = cold.get(name) match {
          case Some(c) => measure(spark, c.query, sfDir, Materialize.clear(_, c.memoKind))
          case None => measure(spark, declared(name), sfDir)
        }
        println(report(name, p))
      } catch { case NonFatal(e) =>
        System.err.println(s"### $name FAILED ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
