package graft.model

import java.util.concurrent.ConcurrentHashMap
import org.apache.hadoop.fs.Path
import org.apache.spark.SparkContext
import org.apache.spark.scheduler.{SparkListener, SparkListenerApplicationEnd}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The engine's one rule for materializing an intermediate ([[eager]]) and
  * its one session memo ([[memo]]) for results that are a pure function of
  * a stored table (the cluster labels, the link-graph edges, the embedding
  * row count). Each caller documents WHY its result is shared; how the
  * sharing works is documented here.
  */
object Materialize {

  /** Eagerly materialize an intermediate that several downstream branches
    * or rounds consume: a reliable checkpoint when the session has a
    * checkpoint dir (the cluster setting — survives executor loss; its
    * files are deleted once unreferenced under [[graft.Verify.session]]'s
    * `cleanCheckpoints`), `localCheckpoint` otherwise. Both truncate
    * lineage, and an `Observation` attached to `df` reports on this action.
    * This is the engine's only materialization: no other code calls
    * `checkpoint` or `localCheckpoint`.
    */
  def eager(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined)
      df.checkpoint(eager = true)
    else df.localCheckpoint(eager = true)

  private final case class Key(spark: SparkSession, kind: String, dir: String,
      fingerprint: Long)

  private val entries = new ConcurrentHashMap[Key, Any]()

  // contexts that already carry the application-end listener
  private val listening = ConcurrentHashMap.newKeySet[SparkContext]()

  /** Entries kept per (session, kind): a session sweeping many distinct
    * dirs must not pin one result per dir forever, so past the cap the
    * session's entries of that kind are dropped wholesale — a rare full
    * recompute beats an unbounded block leak.
    */
  val PerSessionKind = 8

  /** `compute`'s result for `dir`'s `table` in its current state, shared by
    * every call of this session with the same `kind`.
    *
    * Keyed per (session, kind, dir, [[fingerprint]] of the table), so a
    * rewrite or append under the same path is a miss, never a stale hit.
    * Entries with a superseded fingerprint and entries of stopped sessions
    * are evicted; an application-end listener (one per context) drops a
    * session's entries when it stops, not at some later call. `compute`
    * runs OUTSIDE any lock: a concurrent duplicate is harmless (the result
    * is a pure function of the files) and `putIfAbsent` keeps the first.
    *
    * Evicting drops the entry's RDD reference, so the ContextCleaner
    * reclaims a memoized frame's blocks once callers release it. Without
    * a checkpoint dir those blocks are `localCheckpoint` executor blocks,
    * which an executor loss invalidates: the entry then fails every later
    * action on it (`CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND`) until the table
    * changes or [[clear]] drops it. A driver-local result holds no
    * such blocks — the cluster labels of a graph under
    * [[graft.dedup.Dedup.DriverComponentsMaxEdges]] are a local relation —
    * so the caveat applies to the cluster memo only above that budget.
    */
  def memo[T](spark: SparkSession, kind: String, dir: String, table: String)
      (compute: => T): T = {
    evict(_.spark.sparkContext.isStopped)
    val fp = fingerprint(spark, s"$dir/$table.parquet")
    val key = Key(spark, kind, dir, fp)
    val hit = entries.get(key)
    if (hit != null) hit.asInstanceOf[T]
    else {
      val sc = spark.sparkContext
      if (listening.add(sc))
        sc.addSparkListener(new SparkListener {
          override def onApplicationEnd(e: SparkListenerApplicationEnd): Unit = {
            evict(_.spark.sparkContext.isStopped)
            listening.removeIf(_.isStopped)
          }
        })
      val value = compute
      def mine(k: Key) = (k.spark eq spark) && k.kind == kind
      evict(k => mine(k) && k.dir == dir && k.fingerprint != fp)
      if (entries.keySet.stream.filter(mine(_)).count() >= PerSessionKind)
        evict(mine)
      val prev = entries.putIfAbsent(key, value)
      (if (prev != null) prev else value).asInstanceOf[T]
    }
  }

  /** Drop this session's entries of `kind` (and any stopped session's), so
    * the bench can time what one consumer pays cold. */
  def clear(spark: SparkSession, kind: String): Unit =
    evict(k => k.spark.sparkContext.isStopped ||
      ((k.spark eq spark) && k.kind == kind))

  private def evict(pred: Key => Boolean): Unit =
    entries.keySet.removeIf(k => pred(k))

  /** Order-sensitive 64-bit fold over the name-sorted listing of every
    * directory level under `path` (count, then name, length and mtime per
    * file); 0 when `path` does not exist. RECURSIVE because a file
    * rewritten in place inside a partition directory changes no
    * directory's mtime. A commutative sum of 32-bit hashes would let
    * permuted or cancelling edits collide. An in-place same-length rewrite
    * inside one mtime tick is indistinguishable, the usual contract of
    * mtime-based caches (make/rsync share it).
    */
  private def fingerprint(spark: SparkSession, path: String): Long = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    var acc = 1125899906842597L // large prime seed
    def mix(h: Long): Unit = acc = 31L * acc + h
    def walk(dir: Path): Unit = {
      val files = fs.listStatus(dir).sortBy(_.getPath.getName)
      mix(files.length.toLong)
      files.foreach { st =>
        mix(st.getPath.getName.hashCode.toLong)
        if (st.isDirectory) walk(st.getPath)
        else { mix(st.getLen); mix(st.getModificationTime) }
      }
    }
    if (!fs.exists(p)) 0L else { walk(p); acc }
  }
}
