package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._
import org.apache.spark.{SparkContext, Success}
import org.apache.spark.perfbench.BusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** Cumulative work counters; the difference of two snapshots is the work
  * done between them. */
final case class Counts(jobs: Long, tasks: Long, failedTasks: Long,
    cpuNs: Long, runMs: Long, gcMs: Long, shuffleWriteBytes: Long,
    shuffleWriteRecords: Long, spillBytes: Long, outputRecords: Long) {
  def -(o: Counts): Counts = Counts(jobs - o.jobs, tasks - o.tasks,
    failedTasks - o.failedTasks, cpuNs - o.cpuNs, runMs - o.runMs,
    gcMs - o.gcMs, shuffleWriteBytes - o.shuffleWriteBytes,
    shuffleWriteRecords - o.shuffleWriteRecords, spillBytes - o.spillBytes,
    outputRecords - o.outputRecords)

  def toMap: Map[String, Any] = Map(
    "jobs" -> jobs, "tasks" -> tasks, "failed_tasks" -> failedTasks,
    "cpu_s" -> cpuNs / 1e9, "task_run_s" -> runMs / 1e3, "gc_s" -> gcMs / 1e3,
    "shuffle_write_mb" -> shuffleWriteBytes / 1e6,
    "shuffle_write_records" -> shuffleWriteRecords,
    "spill_mb" -> spillBytes / 1e6, "output_records" -> outputRecords)
}

/** The benchmark's own stage-metrics listener. In local mode the scheduler
  * and the executors share one JVM, so GC time is read from the JVM's
  * collectors rather than summed per task. */
final class Ledger(sc: SparkContext) extends SparkListener {
  private val jobs, tasks, failed, cpu, run, shufBytes, shufRecords, spill,
    output = new AtomicLong

  override def onJobStart(e: SparkListenerJobStart): Unit =
    jobs.incrementAndGet()

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    tasks.incrementAndGet()
    if (e.reason != Success) failed.incrementAndGet()
    val m = e.taskMetrics
    if (m != null) {
      cpu.addAndGet(m.executorCpuTime + m.executorDeserializeCpuTime)
      run.addAndGet(m.executorRunTime)
      shufBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      shufRecords.addAndGet(m.shuffleWriteMetrics.recordsWritten)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
      output.addAndGet(m.outputMetrics.recordsWritten)
    }
  }

  sc.addSparkListener(this)

  /** Counters after every event posted so far has been delivered. */
  def snapshot(): Counts = {
    BusDrain.drain(sc)
    val gcMs = ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(_.getCollectionTime).filter(_ > 0).sum
    Counts(jobs.get, tasks.get, failed.get, cpu.get, run.get, gcMs,
      shufBytes.get, shufRecords.get, spill.get, output.get)
  }

  /** Storage memory and disk held by persisted or checkpointed blocks. */
  def retainedMb(): Double =
    sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1e6
}
