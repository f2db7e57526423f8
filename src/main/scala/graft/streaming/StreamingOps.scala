package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import graft.model.Tables

/** Structured Streaming surface of the engine + the batch twins that make
  * its semantics oracle-checkable (a DuckDB gate can't run a stream, so
  * every streaming op here has a batch query computing the identical
  * result over the `events` table).
  *
  * Scale notes: all stateful ops key by `user_id` (or window start) —
  * state partitions across executors; watermarks bound state size; the
  * batch twins use the exact-integer `ts_ns` column so session arithmetic
  * is engine-exact.
  */
object StreamingOps {

  val SessionGapUs: Long = 30L * 60 * 1000000L // 30 min in µs

  // ------------------------------------------------------- batch twins

  /** Gap-based sessionization (30-min inactivity) in pure batch form:
    * lag → new-session flag → running-sum session index → per-session agg.
    * Exact integer arithmetic on microsecond timestamps (µs, not ns: the
    * oracle's TIMESTAMP type is µs-precision, and the engine's own `ts`
    * column is too — ns only exist in the raw parquet encoding).
    * Output one row per session.
    */
  def sessionsBatch(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.load(spark, dir, "events")
    val byUser = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    val newSession = when(
      col("prev_us").isNull ||
        (col("ts_us") - col("prev_us")) > SessionGapUs, 1).otherwise(0)
    e.select(col("user_id"), col("event_id"), expr("ts_ns div 1000").as("ts_us"))
      .withColumn("prev_us", lag("ts_us", 1).over(byUser))
      .withColumn("is_new", newSession)
      .withColumn("session_idx", sum("is_new").over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "session_idx")
      .agg(count(lit(1)).as("n_events"),
        min("ts_us").as("start_us"), max("ts_us").as("end_us"))
      .orderBy("user_id", "session_idx")
  }

  /** Shared CTE chain ending in `sess(user_id, session_idx, n_events,
    * start_us, end_us)` — single definition for [[sessionsBatchSql]] and
    * [[sessionStatsSql]] so the stats can never drift from the sessions
    * they summarize.
    */
  private val sessionsCtes: String =
    s"""l AS (
          SELECT user_id, event_id, epoch_us(ts) AS ts_us,
            lag(epoch_us(ts)) OVER (PARTITION BY user_id
              ORDER BY epoch_us(ts), event_id) AS prev_us
          FROM events),
        f AS (
          SELECT user_id, event_id, ts_us,
            CASE WHEN prev_us IS NULL OR ts_us - prev_us > $SessionGapUs
              THEN 1 ELSE 0 END AS is_new
          FROM l),
        s AS (
          SELECT user_id, ts_us,
            CAST(sum(is_new) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
              AS session_idx
          FROM f),
        sess AS (
          SELECT user_id, session_idx, count(*) AS n_events,
            min(ts_us) AS start_us, max(ts_us) AS end_us
          FROM s GROUP BY user_id, session_idx)"""

  val sessionsBatchSql: String =
    s"""WITH $sessionsCtes
        SELECT user_id, session_idx, n_events, start_us, end_us
        FROM sess ORDER BY user_id, session_idx"""

  /** Per-user session behavior profile over [[sessionsBatch]] — the
    * engagement summary an analytics consumer reads instead of raw
    * sessions: session count, bounce count (single-event sessions),
    * event totals/max, and total/longest dwell time. All exact integer
    * µs arithmetic — no float enters the aggregate. One extra shuffle
    * on user_id over the sessions result (which is already partitioned
    * by user_id, so AQE plans it exchange-free in practice).
    */
  def sessionStats(spark: SparkSession, dir: String): DataFrame =
    sessionsBatch(spark, dir)
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_sessions"),
        sum(when(col("n_events") === 1L, 1L).otherwise(0L)).as("n_bounce"),
        sum("n_events").as("total_events"),
        max("n_events").as("max_events"),
        sum(col("end_us") - col("start_us")).as("total_dur_us"),
        max(col("end_us") - col("start_us")).as("longest_dur_us"))
      .orderBy("user_id")

  val sessionStatsSql: String =
    s"""WITH $sessionsCtes
        SELECT user_id, count(*) AS n_sessions,
          CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
            AS n_bounce,
          CAST(sum(n_events) AS BIGINT) AS total_events,
          max(n_events) AS max_events,
          CAST(sum(end_us - start_us) AS BIGINT) AS total_dur_us,
          max(end_us - start_us) AS longest_dur_us
        FROM sess GROUP BY user_id ORDER BY user_id"""

  val PathTopK = 15

  /** Sequence mining over sessions: the top-[[PathTopK]] 3-step
    * event-type paths (sliding trigrams over each session's time-ordered
    * event sequence) — "what do users actually DO" as a ranked path
    * table, the navigation-pattern complement of the staged funnel
    * (`q_events_funnel` checks ONE hypothesized sequence; this surfaces
    * the empirical ones).
    *
    * Plan: the sessionization window (one exchange on user_id), then one
    * `collect_list` per session — state bounded by session length, which
    * the 30-min gap bounds in turn — trigrams built IN-ROW from the
    * collected array and exploded straight into a partial-aggregated
    * count. Path strings only exist after the per-session collapse, so
    * the exchange never carries per-event strings. Deterministic order:
    * sessions sort by (ts_us, event_id) — the sort_array struct order
    * and the oracle's `list(... ORDER BY)` agree key for key.
    */
  def eventPaths(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.load(spark, dir, "events")
    val byUser = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    val newSession = when(
      col("prev_us").isNull ||
        (col("ts_us") - col("prev_us")) > SessionGapUs, 1).otherwise(0)
    val sessions = e.select(col("user_id"), col("event_id"),
        col("event_type"), expr("ts_ns div 1000").as("ts_us"))
      .withColumn("prev_us", lag("ts_us", 1).over(byUser))
      .withColumn("is_new", newSession)
      .withColumn("session_idx", sum("is_new").over(
        byUser.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val types = sessions.groupBy("user_id", "session_idx")
      .agg(transform(
        sort_array(collect_list(struct(col("ts_us"), col("event_id"),
          col("event_type")))),
        s => s.getField("event_type")).as("t"))
    types.where(size(col("t")) >= 3)
      .select(explode(transform(sequence(lit(1), size(col("t")) - 2), i =>
        concat_ws(">", element_at(col("t"), i),
          element_at(col("t"), i + lit(1)),
          element_at(col("t"), i + lit(2))))).as("path"))
      .groupBy("path").agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("path")).limit(PathTopK)
  }

  val eventPathsSql: String =
    s"""WITH l AS (
          SELECT user_id, event_id, event_type, epoch_us(ts) AS ts_us,
            lag(epoch_us(ts)) OVER (PARTITION BY user_id
              ORDER BY epoch_us(ts), event_id) AS prev_us
          FROM events),
        f AS (
          SELECT user_id, event_id, event_type, ts_us,
            CASE WHEN prev_us IS NULL OR ts_us - prev_us > $SessionGapUs
              THEN 1 ELSE 0 END AS is_new
          FROM l),
        s AS (
          SELECT user_id, event_type, ts_us, event_id,
            sum(is_new) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS session_idx
          FROM f),
        g AS (
          SELECT user_id, session_idx,
            list(event_type ORDER BY ts_us, event_id) AS t
          FROM s GROUP BY user_id, session_idx),
        tri AS (
          SELECT unnest(list_transform(range(1, len(t) - 1),
            i -> t[i] || '>' || t[i+1] || '>' || t[i+2])) AS path
          FROM g WHERE len(t) >= 3)
        SELECT path, count(*) AS n FROM tri
        GROUP BY path ORDER BY n DESC, path LIMIT $PathTopK"""

  /** Batch twin of [[enrichedHourly]] — the declared, oracle-gated form.
    * Broadcast inner join (customer is the classic small dim; every
    * event's user_id resolves in the generated data), decimal-domain value
    * sum so the rollup is fold-order-independent and engine-exact.
    */
  def enrichedHourlyBatch(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.load(spark, dir, "events")
    val c = Tables.load(spark, dir, "customer")
    e.join(broadcast(c.select(col("c_custkey"), col("c_mktsegment"))),
        col("user_id") === col("c_custkey"))
      .select(expr("ts_ns div 3600000000000").multiply(3600L).as("hour_sec"),
        col("c_mktsegment"), col("value"))
      .groupBy("hour_sec", "c_mktsegment")
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      .orderBy("hour_sec", "c_mktsegment")
  }

  val enrichedHourlyBatchSql: String =
    """SELECT (epoch_ns(ts) // 3600000000000) * 3600 AS hour_sec,
       c_mktsegment, count(*) AS n,
       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
       FROM events JOIN customer ON user_id = c_custkey
       GROUP BY 1, 2 ORDER BY hour_sec, c_mktsegment"""

  val AttribWindowUs: Long = 3600L * 1000000L // 1 h in µs

  /** View→click attribution — the time-range join (each click attributed
    * to every view by the same user in the preceding hour), in its BATCH
    * form. The join is BUCKETIZED: a bare `u_a = u_b AND cts − vts ∈ (0,W]`
    * range join degrades to per-user cross products under skew (one hot
    * user = one giant sort-merge group); bucketing time into W-sized cells
    * keys the join on (user_id, bucket) — each click probes exactly its
    * own and the previous cell (a click's look-back window spans ≤ 2
    * cells), so join groups are bounded by per-user-per-hour activity,
    * not per-user totals. Views carry ONE bucket, so no pair can match
    * twice — no dedup pass. Output: (user_id, view_id, click_id, dt_us).
    */
  /** Shared bucketized view/click frames for both attribution variants:
    * views carry ONE W-sized time cell, clicks probe their own and the
    * previous cell (a click's look-back window spans ≤ 2 cells) — the
    * single definition both operators join on, so the bucket convention
    * can never diverge between them.
    */
  private def bucketizedViewsClicks(spark: SparkSession, dir: String)
      : (DataFrame, DataFrame) = {
    val e = Tables.load(spark, dir, "events")
      .select(col("user_id"), col("event_id"), col("event_type"),
        expr("ts_ns div 1000").as("ts_us"),
        expr(s"(ts_ns div 1000) div $AttribWindowUs").as("bucket"))
    val v = e.where(col("event_type") === "view")
      .select(col("user_id"), col("event_id").as("view_id"),
        col("ts_us").as("vts"), col("bucket"))
    val c = e.where(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"),
        col("ts_us").as("cts"),
        explode(array(col("bucket") - 1, col("bucket"))).as("bucket"))
    (v, c)
  }

  def attributionBatch(spark: SparkSession, dir: String): DataFrame = {
    val (v, c) = bucketizedViewsClicks(spark, dir)
    v.join(c, Seq("user_id", "bucket"))
      .where(col("cts") > col("vts") &&
        col("cts") - col("vts") <= AttribWindowUs)
      .select(col("user_id"), col("view_id"), col("click_id"),
        (col("cts") - col("vts")).as("dt_us"))
      .orderBy("user_id", "view_id", "click_id")
  }

  val attributionBatchSql: String =
    s"""WITH v AS (SELECT user_id, event_id AS view_id, epoch_us(ts) AS vts
          FROM events WHERE event_type = 'view'),
        c AS (SELECT user_id, event_id AS click_id, epoch_us(ts) AS cts
          FROM events WHERE event_type = 'click')
        SELECT v.user_id AS user_id, view_id, click_id, cts - vts AS dt_us
        FROM v JOIN c ON v.user_id = c.user_id
          AND c.cts > v.vts AND c.cts - v.vts <= $AttribWindowUs
        ORDER BY v.user_id, view_id, click_id"""

  /** First-touch attribution WITH the unconverted remainder — each view
    * paired with its EARLIEST in-window click (ties → lowest click_id),
    * and views no click followed kept as explicit null rows: the
    * conversion-funnel table ([[attributionBatch]] is the all-pairs
    * variant; analytics almost always wants first-touch + the
    * didn't-convert denominator). Same bucketized range join (bounded
    * groups under skew), then a per-view min-struct aggregate — the
    * argmin shape, no window over the full pair list — and one left
    * join back onto the view spine. Output: (user_id, view_id,
    * click_id?, dt_us?, converted).
    */
  def attributionFirstTouch(spark: SparkSession, dir: String): DataFrame = {
    val (v, c) = bucketizedViewsClicks(spark, dir)
    val first = v.join(c, Seq("user_id", "bucket"))
      .where(col("cts") > col("vts") &&
        col("cts") - col("vts") <= AttribWindowUs)
      .groupBy("user_id", "view_id")
      .agg(min(struct((col("cts") - col("vts")).as("dt_us"),
        col("click_id"))).as("f"))
    v.select("user_id", "view_id")
      .join(first, Seq("user_id", "view_id"), "left")
      .select(col("user_id"), col("view_id"),
        col("f.click_id").as("click_id"), col("f.dt_us").as("dt_us"),
        col("f").isNotNull.as("converted"))
      .orderBy("user_id", "view_id")
  }

  val attributionFirstTouchSql: String =
    s"""WITH v AS (SELECT user_id, event_id AS view_id, epoch_us(ts) AS vts
          FROM events WHERE event_type = 'view'),
        c AS (SELECT user_id, event_id AS click_id, epoch_us(ts) AS cts
          FROM events WHERE event_type = 'click'),
        p AS (SELECT user_id, view_id, click_id, dt_us FROM (
            SELECT v.user_id, v.view_id, c.click_id, c.cts - v.vts AS dt_us,
              row_number() OVER (PARTITION BY v.user_id, v.view_id
                ORDER BY c.cts - v.vts, c.click_id) AS rn
            FROM v JOIN c ON v.user_id = c.user_id
              AND c.cts > v.vts AND c.cts - v.vts <= $AttribWindowUs)
          WHERE rn = 1)
        SELECT v.user_id, v.view_id, p.click_id, p.dt_us,
          p.click_id IS NOT NULL AS converted
        FROM v LEFT JOIN p ON v.user_id = p.user_id AND v.view_id = p.view_id
        ORDER BY v.user_id, v.view_id"""

  // --------------------------------------------------- streaming graphs

  /** File-source stream: tail a directory of parquet drops (the batch →
    * streaming bridge — each new file becomes a micro-batch). Schema is
    * REQUIRED: streaming readers cannot infer, and inference would race
    * the producer anyway.
    */
  def parquetStream(spark: SparkSession,
      schema: org.apache.spark.sql.types.StructType, dir: String): DataFrame =
    spark.readStream.schema(schema).parquet(dir)

  /** Watermarked tumbling-window counts — the canonical streaming agg.
    * Works on any streaming (or batch) DataFrame with (ts, event_type,
    * value); late data beyond 2 hours is dropped by the watermark, which
    * also lets the state store evict closed windows.
    */
  def hourlyCounts(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum("value").as("sum_value"))
      .select(col("window.start").as("hour_start"), col("event_type"),
        col("n"), col("sum_value"))

  /** Gap-based session aggregation with the built-in `session_window`
    * (Spark ≥3.2 merges overlapping per-event windows in the state store —
    * the declarative form of sessionization; identical semantics to
    * [[sessionsBatch]]).
    */
  def sessionWindows(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("session_window.start").as("start"),
        col("session_window.end").as("end"), col("n_events"))

  /** Stream-static enrichment join — the canonical streaming enrichment:
    * each micro-batch of events broadcast-joins the static customer
    * dimension, then rolls up watermarked hourly windows per market
    * segment. Broadcast keeps the static side off the shuffle path (no
    * state, re-planned per micro-batch, picks up dim refreshes on
    * re-read sources), so the only stateful stage is the windowed agg.
    */
  def enrichedHourly(events: DataFrame, customers: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .join(broadcast(customers.select(col("c_custkey"), col("c_mktsegment"))),
        col("user_id") === col("c_custkey"))
      .groupBy(window(col("ts"), "1 hour"), col("c_mktsegment"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      .select(col("window.start").as("hour_start"), col("c_mktsegment"),
        col("n"), col("sum_value"))

  /** Stream-stream attribution join — the streaming twin of
    * [[attributionBatch]]: two watermarked streams inner-joined on user
    * plus the (0, 1 h] event-time range. The range condition is what lets
    * the state store evict: a buffered view can only ever match clicks up
    * to 1 h after it, so once the click watermark passes `vts + 1 h` the
    * view's state row is dropped. Both watermarks are required for an
    * inner interval join to be state-bounded. Expects `v(v_user, view_id,
    * vts)` / `c(c_user, click_id, cts)` with timestamp-typed vts/cts
    * (disjoint names — stream-stream joins cannot disambiguate two
    * watermarked columns that share a name).
    */
  def attributionStream(v: DataFrame, c: DataFrame): DataFrame =
    v.withWatermark("vts", "2 hours")
      .join(c.withWatermark("cts", "2 hours"),
        expr("""v_user = c_user AND
                cts > vts AND cts <= vts + INTERVAL 1 HOUR"""))
      .select(col("v_user").as("user_id"), col("view_id"), col("click_id"),
        (unix_micros(col("cts")) - unix_micros(col("vts"))).as("dt_us"))

  /** LEFT-OUTER stream-stream attribution — [[attributionStream]] plus
    * the unconverted views as null-click rows. Outer rows cannot emit
    * eagerly (a matching click may still arrive): Spark holds each view
    * in state until BOTH watermarks clear its join window, then emits it
    * with nulls — so the unmatched side arrives exactly once, late by
    * the watermark delay, the documented cost of outer semantics on
    * streams. State stays bounded by the same watermark that bounds the
    * inner join's.
    */
  def attributionStreamOuter(v: DataFrame, c: DataFrame): DataFrame =
    v.withWatermark("vts", "2 hours")
      .join(c.withWatermark("cts", "2 hours"),
        expr("""v_user = c_user AND
                cts > vts AND cts <= vts + INTERVAL 1 HOUR"""),
        "left_outer")
      .select(col("v_user").as("user_id"), col("view_id"), col("click_id"),
        (unix_micros(col("cts")) - unix_micros(col("vts"))).as("dt_us"))

  /** Streaming exact dedup: drop events whose `event_id` was already seen
    * within the watermark horizon. The watermark bounds the dedup state
    * (without it state grows forever); duplicates arriving later than the
    * horizon pass through — the documented at-least-once boundary.
    */
  def dedupStream(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .dropDuplicatesWithinWatermark("event_id")

  /** Streaming C4-style PARAGRAPH dedup — the incremental twin of
    * [[graft.dedup.Dedup.paragraphDedup]], sharing its exact block/digest
    * convention ([[graft.dedup.Dedup.paraStructs]]): each arriving doc
    * flat-maps into [[graft.dedup.Dedup.ParaSize]]-token blocks, each
    * block md5-digested in-row, and `dropDuplicatesWithinWatermark` on
    * the digest keeps only the FIRST occurrence seen inside the
    * watermark horizon — repeated boilerplate (cookie banners, footers)
    * is suppressed across documents AND within one, unique prose passes.
    * State is bounded by the watermark exactly like [[dedupStream]]
    * (per kept digest: 16 bytes + event time); a boilerplate block
    * recurring past the horizon re-emits once per horizon — the
    * documented at-least-once boundary of watermark dedup, which the
    * whole-corpus-horizon [[incrementalIngest]] path trades state size
    * for. Emitted rows keep (doc_id, para_idx) so a downstream
    * reassembly join can rebuild cleaned documents.
    *
    * @param docs streaming DataFrame with (ts TIMESTAMP, doc_id LONG,
    *             text STRING)
    */
  def paragraphDedupStream(docs: DataFrame): DataFrame =
    docs
      .select(col("ts"), col("doc_id"),
        graft.dedup.Dedup.tokensCol(col("text")).as("t"))
      .where(size(col("t")) > 0)
      .select(col("ts"), col("doc_id"),
        explode(graft.dedup.Dedup.paraStructs).as("p"))
      .select(col("ts"), col("doc_id"),
        col("p.para_idx").cast("int").as("para_idx"),
        col("p.h").as("para_hash"))
      .withWatermark("ts", "2 hours")
      .dropDuplicatesWithinWatermark("para_hash")

  /** Streaming CONTENT-DEFINED-CHUNK dedup — the incremental twin of
    * [[graft.textanalysis.CorpusOps.cdcChunks]] +
    * [[graft.textanalysis.CorpusOps.cdcDedupAudit]], sharing the batch
    * chunker's exact boundary/digest expressions
    * ([[graft.textanalysis.CorpusOps.cdcChunked]]): each arriving doc
    * splits at content-defined boundaries in-row, and
    * `dropDuplicatesWithinWatermark` on the 48-bit chunk hash passes only
    * first-seen chunks — because boundaries are content-defined, a
    * shifted near-copy (insertion at the head) still dedups
    * chunk-for-chunk, which fixed-stride streaming dedup cannot do.
    * Same state/watermark contract as [[paragraphDedupStream]].
    *
    * @param docs streaming DataFrame with (ts TIMESTAMP, doc_id LONG,
    *             text STRING)
    */
  def cdcDedupStream(docs: DataFrame): DataFrame =
    graft.textanalysis.CorpusOps.cdcChunked(
      docs.select(col("ts"), col("doc_id"),
        graft.dedup.Dedup.tokensCol(col("text")).as("t")),
      Seq("ts", "doc_id"))
      .withWatermark("ts", "2 hours")
      .dropDuplicatesWithinWatermark("chunk_hash")

  /** EXACTLY-ONCE streaming ingestion into a
    * [[graft.sources.VersionedTable]]: each micro-batch commits via
    * `idempotentAppend` with the batchId as the transaction id, so a
    * replayed batch (restart after a crash between the sink write and
    * the checkpoint advance — the window where plain file sinks
    * duplicate) loses the commit race against its own earlier version
    * and lands zero rows. The table's snapshot isolation means readers
    * never see a partial batch, and every committed version is a
    * consistent prefix of the stream — version pinning gives
    * reproducible training runs over a live ingest. `StreamingSpec`
    * replays a batch and proves the no-duplicate claim.
    */
  def versionedIngest(docs: DataFrame, dir: String,
      checkpoint: Option[String] = None)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val w = docs.writeStream.foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        graft.sources.VersionedTable.idempotentAppend(batch, dir, batchId)
        ()
    }
    // a RESUMABLE checkpoint is what makes the txn-stamp defense real:
    // after a crash between the table commit and the offset commit, the
    // restarted query re-runs the batch with the SAME batchId and the
    // stamp no-ops it (StreamingSpec restarts across a forced crash
    // window to prove it)
    checkpoint.foreach(w.option("checkpointLocation", _))
    w.start()
  }

  /** Streaming ANN INDEX ingest — the micro-batch twin of the batch
    * index lifecycle (build [[graft.similarity.Similarity.ivfAssign]] →
    * update [[graft.similarity.Similarity.ivfUpdate]] → retrain): each
    * arriving vector micro-batch is assigned against a FROZEN coarse
    * quantizer (read once from the persisted index and baked into the
    * batch plan as literals — executor-resident state, never a join
    * side) and appended to the index table via
    * [[graft.sources.VersionedTable.idempotentAppend]] keyed by batchId,
    * so a crash-replayed batch loses to its own earlier commit and the
    * index never holds a duplicate or partial batch. Rows are
    * repartitioned by cid before the append so each committed file
    * holds few clusters — the cid-clustered layout that keeps probe
    * reads close to the hive-partitioned batch form
    * ([[graft.similarity.Similarity.ivfIndexWrite]]); a quantizer
    * RETRAIN is a new table version from the batch path, never a
    * mid-stream mutation. Declared batch twin: `q_ivf_ingest`
    * ([[graft.similarity.Similarity.ivfIngest]]).
    *
    * @param vectors streaming DataFrame with (vec_id LONG,
    *                embedding ARRAY<numeric>)
    */
  def ivfIngestStream(vectors: DataFrame,
      quantizer: Array[(Int, Array[Double], Double)], dir: String,
      checkpoint: Option[String] = None)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    import graft.similarity.Similarity
    val w = vectors.writeStream.foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        val assigned = Similarity.assignTo(Similarity.withNorm(batch),
            quantizer)
          .select(col("vec_id"), col("v"), col("nrm"), col("cid"))
          .repartition(quantizer.length, col("cid"))
        graft.sources.VersionedTable.idempotentAppend(assigned, dir, batchId)
        ()
    }
    checkpoint.foreach(w.option("checkpointLocation", _))
    w.start()
  }

  /** Code a (vec_id, embedding) frame into the gate's working row shape
    * (vec_id, v, nrm, cks ARRAY<BIGINT>) at composite width w (params
    * freeze when the index is created — the
    * [[graft.similarity.Similarity.shardedIndexWrite]] convention) —
    * shared by the per-batch gate and [[shardedGateSeed]] (the
    * grown-index pricing run seeds the 1.05M planted corpus through one
    * genesis commit instead of half an hour of micro-batches). `cks`
    * holds the R·T PACKED cell keys directly ([[gateCells]]'s packing,
    * applied at code time): the round-15 first cut built an
    * array-of-structs (rep, shard, tbl, bucket) here and packed at
    * explode time — the 84-element named_struct transform generated a
    * method large enough that JANINO COMPILE dominated the whole batch
    * (~28 s/batch, recompiled every micro-batch because fresh expr ids
    * defeat the codegen cache); the flat arithmetic transform compiles
    * in noise. The persisted index stores this DECOMPOSED
    * ([[gateAppend]]): narrow (ck, vec_id) cell rows and (vec_id, v,
    * nrm) payload rows.
    */
  private[graft] def shardedGateCoded(batch: DataFrame, w: Int): DataFrame = {
    import graft.similarity.Similarity
    val ps = Similarity.shardedParamsFor(w)
    val cks = org.apache.spark.sql.GraftSqlBridge.column(
      graft.functions.GateCellKeys(
        org.apache.spark.sql.GraftSqlBridge.expression(col("v")),
        ps.shardBits, ps.finePlanes, ps.fineTables, ps.replicas,
        Similarity.Dim))
    Similarity.withNorm(batch).withColumn("cks", cks)
  }

  /** Target cell rows per gate-index cell file: small files on purpose —
    * the probe prunes at FILE granularity ([[graft.sources.VersionedTable.readTaggedPruned]]
    * over range-disjoint chunks), so file count is the pruning
    * resolution: a probe touches ≤ min(candidate keys, files) files, and
    * scaling file count with index size holds per-file bytes (and so
    * per-probe bytes at fixed candidate count) CONSTANT as the index
    * grows — the O(candidates) design point. (ck, vec_id) rows are two
    * longs; 256 Ki rows ≈ 4 MB raw, far less in parquet.
    */
  val GateCellRowsPerFile: Long = 262144L

  /** Target vector rows per gate-index vector file (520-byte payloads —
    * 64 Ki rows ≈ 34 MB raw): sized for scan parallelism; candidate-id
    * pruning over these files is a future refinement, today's probe
    * joins candidates against the full (narrow-projected) vector group.
    */
  val GateVecRowsPerFile: Long = 65536L

  /** One narrow (id, ck) cell row per packed key of a coded frame — the
    * key layout ((rep · 2^shardBits + shard) · T + tbl) · 2^finePlanes
    * + bucket is applied at CODE time ([[shardedGateCoded]]); bit
    * budget: replicas ≤ ~64, shardBits ≤ 19, fineTables ≤ 32,
    * finePlanes ≤ 11 → ≤ 41 bits.
    */
  private def gateCells(coded: DataFrame,
      ps: graft.similarity.Similarity.ShardParams, idAs: String): DataFrame =
    coded.select(col("vec_id").as(idAs), explode(col("cks")).as("ck"))

  /** Commit coded rows into the TWO-GROUP gate layout as ONE atomic
    * version: `gc` = narrow pre-exploded cell rows (ck, vec_id),
    * range-chunked by ck so probes file-prune; `gv` = payload rows
    * (vec_id, v, nrm), chunked by vec_id. One commit-log entry covers
    * both groups — the round-14 verdict's point that atomicity lives in
    * the manifest, not in single-table-ness.
    */
  private def gateAppend(coded: DataFrame, indexDir: String, op: String,
      ps: graft.similarity.Similarity.ShardParams, nRows: Long,
      cellRowsPerFile: Long = GateCellRowsPerFile): Int = {
    import graft.sources.VersionedTable
    val cellRows = nRows * ps.replicas * ps.fineTables
    val cellChunks =
      math.max(1L, math.min(8192L, cellRows / cellRowsPerFile)).toInt
    val vecChunks =
      math.max(1L, math.min(1024L, nRows / GateVecRowsPerFile)).toInt
    VersionedTable.appendTagged(Seq(
      VersionedTable.TaggedPart("gc", gateCells(coded, ps, "vec_id"),
        Some("ck"), cellChunks),
      VersionedTable.TaggedPart("gv",
        coded.select(col("vec_id"), col("v"), col("nrm")),
        Some("vec_id"), vecChunks)),
      indexDir, op)
  }

  /** Bulk-seed a gate index with an EXISTING corpus at width w: one
    * genesis commit stamped `gate-seed` in the two-group layout
    * ([[gateAppend]]). The seeded table is byte-compatible with
    * sustained [[shardedGateBatch]] ingest; the width should be
    * [[graft.similarity.Similarity.lshPlanesFor]] of the SEED size (the
    * index's design point), exactly as a deployment would bootstrap an
    * online gate from its batch-built corpus.
    * (The round-14 pricing run first tried a version −1 commit for the
    * seed: negative versions sit below the checkpoint floor —
    * `entries` skips filenames ≤ the latest checkpoint, whose empty
    * default is −1 — so the log fold silently DROPPED the seed. Labels
    * are the replay key, versions stay dense and non-negative — and the
    * lookup is [[graft.sources.VersionedTable.hasOp]], which survives
    * log checkpoints folding the stamp's entry away.)
    */
  def shardedGateSeed(vectors: DataFrame, indexDir: String, w: Int,
      cellRowsPerFile: Long = GateCellRowsPerFile): Boolean = {
    import graft.sources.VersionedTable
    if (VersionedTable.hasOp(indexDir, "gate-seed")) return false
    val ps = graft.similarity.Similarity.shardedParamsFor(w)
    // genesis-only checkpoint: the coded corpus feeds FOUR jobs (range
    // sampling, cell staging, cell stats, vector staging) — without the
    // lineage cut each re-codes the whole seed; per-batch gating never
    // takes this path (a micro-batch recomputes cheaply)
    val coded = shardedGateCoded(vectors, w).localCheckpoint()
    gateAppend(coded, indexDir, "gate-seed", ps, coded.count(),
      cellRowsPerFile)
    true
  }

  /** Candidate-key collect cap for the gate probe's file prune: the
    * batch's distinct cell keys (≤ batch × R·T longs) are collected to
    * drive file-level pruning; a backfill-sized batch past the cap skips
    * pruning and scans all cell files instead of growing driver state —
    * at that batch size the scan is amortized over the batch anyway.
    * 2 Mi longs ≈ 16 MB, bounded by the `limit(cap+1)` probe.
    */
  val GateCandidateKeyCap: Int = 1 << 21

  /** (files scanned, files live) of the most recent gate cross-index
    * probe in this JVM — the pruning observable `StreamingSpec` audits
    * (priced in SURVEY §9.62 and `BENCH_STREAM_r15.json`; test/bench-only,
    * the gate's correctness never reads it).
    */
  @volatile private[graft] var lastGatePrune: (Int, Int) = (0, 0)

  /** One micro-batch of the streaming NEAR-DUP GATE at vector ingest —
    * the sharded index's online lifecycle twin: the index admits a new
    * vector only if nothing near-duplicate is already stored, and the
    * admitted vectors immediately extend the index the NEXT batch is
    * gated against.
    *
    * INDEX LAYOUT (round-15 — the round-14 weak was the single-table
    * form's O(stored) per-batch re-scan: every batch re-exploded the
    * full stored bucket array with 520-byte vectors riding, 500 → 31
    * vec/s at 1.05 M stored): two file groups in ONE
    * [[graft.sources.VersionedTable]] manifest —
    *
    *  - `gc`: pre-exploded NARROW cell rows (ck BIGINT, vec_id) where
    *    ck packs (rep, shard, tbl, bucket); written range-chunked by ck
    *    ([[GateCellRowsPerFile]]), so a probe collects the batch's
    *    candidate keys (bounded, [[GateCandidateKeyCap]]) and opens ONLY
    *    files whose [min, max] holds a candidate — file count scales
    *    with index size at constant file bytes, so per-probe cost is
    *    O(candidate keys × file bytes), independent of stored size once
    *    files outnumber candidates (the trickle-ingest design point; a
    *    bulk batch whose candidates cover every file still pays only a
    *    narrow two-long-column scan, ~40× less I/O than the round-14
    *    wide explode).
    *  - `gv`: payload rows (vec_id, v, nrm), fetched AFTER the candidate
    *    pair set is known and deduped — vectors never ride the cell
    *    join.
    *
    * Both groups commit in ONE log entry per batch (atomicity lives in
    * the manifest, not in single-table-ness), stamped `gate-<batchId>`:
    * a crash-replayed batch finds its stamp — via
    * [[graft.sources.VersionedTable.hasOp]], which survives log
    * checkpoints folding the entry away (the round-14 ADVICE blind
    * spot) — and no-ops. Steps:
    *
    *  1. code the batch at the index's FROZEN composite width `w`;
    *  2. resolve WITHIN-BATCH near-dups: narrow ck self-join, candidate
    *     slots stream through the in-flight cosine (batch vectors attach
    *     by batch-small joins), survivors distinct into pairs;
    *  3. CROSS-INDEX probe: pruned `gc` read ⋈ batch cells on ck →
    *     (stored_id, new_id) pairs DISTINCT'd while still two longs wide
    *     (R·T duplicate slots per true pair collapse before any payload
    *     attaches; per-batch slot volume is batch-bounded — the corpus-
    *     scale §9.52 caveat doesn't apply to a micro-batch) → `gv`
    *     vectors join in for the exact cosine;
    *  4. greedy min-id admission ([[greedyAdmission]]) merges both
    *     constraint sets; admitted rows append via [[gateAppend]].
    *
    * Returns true when this call committed.
    */
  def shardedGateBatch(batch: DataFrame, indexDir: String, w: Int,
      batchId: Long): Boolean = {
    import graft.sources.VersionedTable
    val label = s"gate-$batchId"
    if (VersionedTable.hasOp(indexDir, label)) return false
    val spark = batch.sparkSession
    val ps = graft.similarity.Similarity.shardedParamsFor(w)
    // ONE coding pass per batch: the coded frame feeds ~a dozen jobs
    // (self-join sides, vector attaches, the fused admission probe, the
    // anti join, two stagings + the stats scan) and each would re-run
    // LshCodes and the bucket build over the batch without the lineage
    // cut; batch-sized memory (micro-batches, or the bounded coalesced
    // window), evaluated once
    val coded = shardedGateCoded(batch, w).localCheckpoint()
    val cos = graft.dedup.Dedup.dot(col("nv"), col("sv")) /
      (col("nnrm") * col("snrm"))
    def vecs(df: DataFrame, idAs: String, vAs: String, nAs: String) =
      df.select(col("vec_id").as(idAs), col("v").as(vAs), col("nrm").as(nAs))
    // within-batch near-dup PAIRS (a < b, cosine-verified). Candidate
    // SLOTS stream through the cosine gate (both vector sides are
    // batch-small joins); only survivors are distinct'd
    val bc = gateCells(coded, ps, "vec_id")
    val inBatchPairs = bc.as("a")
      .join(bc.toDF("vec_id2", "ck").as("b"), Seq("ck"))
      .where(col("a.vec_id") < col("vec_id2"))
      .select(col("a.vec_id").as("keep_id"), col("vec_id2").as("vec_id"))
      .join(vecs(coded, "keep_id", "sv", "snrm"), "keep_id")
      .join(vecs(coded, "vec_id", "nv", "nnrm"), "vec_id")
      .where(cos >= graft.dedup.Dedup.CosineThreshold)
      .select(col("keep_id").as("a"), col("vec_id").as("b")).distinct()
    // cross-index drops over the WHOLE batch (skipped for the genesis
    // batch of a new index): a vector near anything already stored can
    // never be admitted, so it also never drops a within-batch neighbor
    val crossDropped =
      if (VersionedTable.liveTagged(indexDir, "gc").isEmpty)
        spark.range(0).select(col("id").as("vec_id"))
      else {
        val cand = bc.select(col("ck")).distinct()
          .limit(GateCandidateKeyCap + 1).collect().map(_.getLong(0))
        val keep: (Long, Long) => Boolean =
          if (cand.length > GateCandidateKeyCap) (_, _) => true
          else {
            val sorted = cand.sorted
            (mn, mx) => {
              val i = java.util.Arrays.binarySearch(sorted, mn)
              val p = if (i >= 0) i else -i - 1
              p < sorted.length && sorted(p) <= mx
            }
          }
        val pr = VersionedTable.readTaggedPruned(spark, indexDir, "gc", keep)
        lastGatePrune = (pr.nScanned, pr.nLive)
        // candidate SLOTS flow straight into the payload attach, two
        // longs wide — measured at the 1.05M design point, the slot
        // stream dedups barely ~1.2x into pairs (most candidate pairs
        // share ONE cell at w = 13 occupancy), so a pre-cosine DISTINCT
        // costs a full extra shuffle+sort of the stream for almost no
        // shrink; only the final per-vector verdict dedups. The stored
        // payload attaches via an explicit SHUFFLE_HASH hint: the slot
        // stream is tens of Mrows per batch and a sort-merge join would
        // sort it — hash-building the 1-per-stored-vector gv side is
        // the plan a hand-written probe would pick at any index size.
        // The batch side stays AQE-broadcast from runtime sizes.
        val slots = pr.df.select(col("vec_id").as("stored_id"), col("ck"))
          .join(bc.toDF("new_id", "ck"), Seq("ck"))
          .select(col("stored_id"), col("new_id"))
        slots
          .join(VersionedTable.readTagged(spark, indexDir, "gv")
            .select(col("vec_id").as("stored_id"), col("v").as("sv"),
              col("nrm").as("snrm")).hint("shuffle_hash"), "stored_id")
          .join(vecs(coded, "new_id", "nv", "nnrm"), "new_id")
          .where(cos >= graft.dedup.Dedup.CosineThreshold)
          .select(col("new_id").as("vec_id")).distinct()
      }
    val dropped = greedyAdmission(inBatchPairs, crossDropped)
    val admitted = coded.join(dropped, Seq("vec_id"), "left_anti")
    // admitted lineage re-evaluates cheaply (checkpointed coded + anti
    // join against the already-resolved drop set) — one count sizes the
    // commit's range chunks so a coalesced/backfill batch lays out
    // prunable files instead of one monolith
    gateAppend(admitted, indexDir, label, ps, admitted.count())
    true
  }

  /** Greedy min-id admission over a within-batch near-dup pair graph:
    * processing ids ascending, a vector is DROPPED iff it is near
    * something already stored (`crossDropped`) or near a smaller-id
    * vector that is itself ADMITTED; otherwise it is admitted. Returns
    * the dropped ids as a 1-column (vec_id) DataFrame.
    *
    * Fixed-point evaluation, all-DataFrame (the pair graph never
    * collects): each round admits the MINIMAL vertices of the remaining
    * graph (edge sources that are nobody's target), drops their
    * targets, and deletes every edge touching a decided vertex — an
    * edge from a dropped vertex constrains nobody, which is exactly the
    * transitive-chain case the round-12 form got wrong. Each round
    * decides at least the minimum remaining vertex, so rounds are
    * bounded by the longest prune chain; a 48-round guard covers the
    * adversarial batch (a 48-deep chain of pairwise near-dups inside
    * ONE micro-batch), falling back to dropping the undecided remainder
    * — conservative over-rejection on that pathological tail only,
    * never under-admission of a true near-dup.
    */
  /** Edge cap for [[greedyAdmission]]'s driver fast path: a micro-batch
    * whose near-dup constraint graph fits under this many rows (the
    * overwhelmingly common case — a true increment's near-dups are a
    * small fraction of the batch) resolves the greedy order in ONE
    * probe job (the within-batch pair join and the cross-index drops
    * evaluate together as a union) + an O(E) driver pass, instead of
    * the distributed fixed point whose per-round cost is ~4 scheduler
    * round-trips plus checkpoint barriers. The round-13 stream probe
    * measured the all-distributed form at 468 vec/s vs 1,084 for the
    * round-12 (semantically wrong) single-pass drop; the fused fast
    * path restores the throughput WITH the fixed semantics. 200k rows
    * ≈ 3 MB of longs: bounded driver state, the `limit(cap+1)` probe
    * can never collect more.
    */
  val AdmissionDriverEdgeCap = 200000

  private[graft] def greedyAdmission(pairs: DataFrame,
      crossDropped: DataFrame,
      driverEdgeCap: Int = AdmissionDriverEdgeCap): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    // ONE probe job: cross-index drops ride the same collect as the
    // pair edges, tagged with a −1 sentinel source (vec_ids are
    // non-negative in every generator/fixture; a real −1 id would
    // merely be treated as already-dropped). Seeding the driver pass's
    // dropped set from the sentinels reproduces the distributed form's
    // edge filtering: a cross-dropped source constrains nobody, a
    // cross-dropped target stays dropped.
    val fused = pairs.select(col("a"), col("b"))
      .unionByName(crossDropped.select(lit(-1L).as("a"),
        col("vec_id").as("b")))
    val probe = fused.limit(driverEdgeCap + 1).collect()
    if (probe.length <= driverEdgeCap) {
      val rows = probe.map(r => (r.getLong(0), r.getLong(1)))
      val droppedSet = scala.collection.mutable.HashSet[Long]()
      rows.foreach { case (a, b) => if (a == -1L) droppedSet += b }
      // ascending targets IS the greedy order: every edge's source id
      // precedes its target, so a's fate is sealed before any edge
      // targeting b is examined
      val byTarget = rows.filter(_._1 >= 0L).groupBy(_._2)
      byTarget.keys.toArray.sorted.foreach { b =>
        if (!droppedSet.contains(b) &&
            byTarget(b).exists { case (a, _) => !droppedSet.contains(a) })
          droppedSet += b
      }
      return droppedSet.toSeq.toDF("vec_id")
    }
    // distributed fixed point (a backfill-sized batch): edges between
    // still-undecided vertices — a cross-dropped source drops nobody, a
    // cross-dropped target is already decided
    val xd = crossDropped.select(col("vec_id")).localCheckpoint(true)
    var remaining = pairs
      .join(xd.withColumnRenamed("vec_id", "a"), Seq("a"), "left_anti")
      .join(xd.withColumnRenamed("vec_id", "b"), Seq("b"), "left_anti")
      .select("a", "b").localCheckpoint(true)
    var dropped = xd
    var rounds = 0
    while (rounds < 48 && !remaining.isEmpty) {
      val admit = remaining.select(col("a"))
        .join(remaining.select(col("b").as("a")), Seq("a"), "left_anti")
        .distinct()
      val newDrop = remaining.join(admit, Seq("a"))
        .select(col("b").as("vec_id")).distinct().localCheckpoint(true)
      dropped = dropped.unionByName(newDrop)
      // an edge whose source was ADMITTED has its target in newDrop, so
      // filtering decided sources and targets covers all decided edges
      remaining = remaining
        .join(newDrop.withColumnRenamed("vec_id", "a"), Seq("a"), "left_anti")
        .join(newDrop.withColumnRenamed("vec_id", "b"), Seq("b"), "left_anti")
        .localCheckpoint(true)
      rounds += 1
    }
    if (!remaining.isEmpty) // 48-deep chain guard: drop the undecided tail
      dropped = dropped.unionByName(
        remaining.select(col("b").as("vec_id")).distinct())
    dropped.select("vec_id").distinct()
  }

  /** Streaming wrapper of [[shardedGateBatch]]: readStream →
    * foreachBatch(gate) with a resumable checkpoint, so the crash-replay
    * contract is the [[versionedIngest]] one (StreamingSpec forces the
    * crash window and proves convergence).
    *
    * MICRO-BATCH COALESCING (`every > 1`): each arriving batch's raw
    * rows append cheaply (no probe) to a pending buffer table at
    * `<indexDir>_pending`, and only every `every`-th batch runs the full
    * gate over the accumulated buffer — amortizing the probe's fixed
    * per-batch cost (candidate-key collect, pruned index read, commit)
    * across N batches, the sustained-ingest deployment move §9.62
    * names. Exactly-once survives coalescing because EVERY step is
    * stamped and idempotent ([[graft.sources.VersionedTable.hasOp]]):
    * `pend-<batchId>` appends, `gate-<batchId>` commits the probe's
    * admissions, `clear-<batchId>` truncates the consumed buffer — a
    * crash replay re-enters at whichever step is missing its stamp and
    * the steps are ordered so each is safe to re-run. Semantics note:
    * coalescing widens "within-batch" to the coalesced window (a
    * near-dup pair split across two pooled batches resolves by greedy
    * min-id instead of strict arrival order — at-most-one of the pair
    * survives either way); rows pooled at a non-boundary batch wait for
    * the next boundary (a deployment flushes the residue on stop).
    *
    * @param vectors streaming DataFrame with (vec_id LONG,
    *                embedding ARRAY<numeric>)
    * @param every   gate cadence in micro-batches (1 = gate every batch)
    */
  def shardedGateStream(vectors: DataFrame, indexDir: String, w: Int,
      checkpoint: Option[String] = None, every: Int = 1)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    require(every >= 1, s"gate cadence must be >= 1, got $every")
    import graft.sources.VersionedTable
    val pendDir = s"${indexDir}_pending"
    val wr = vectors.writeStream.foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        if (every == 1) {
          shardedGateBatch(batch, indexDir, w, batchId)
        } else {
          if (!VersionedTable.hasOp(pendDir, s"pend-$batchId"))
            VersionedTable.append(batch, pendDir, op = s"pend-$batchId")
          if ((batchId + 1) % every == 0) {
            // shardedGateBatch carries its own gate-<batchId> stamp; the
            // buffer read is the live snapshot, which a replay sees
            // identically because pend appends are themselves stamped
            if (VersionedTable.liveFiles(pendDir).nonEmpty)
              shardedGateBatch(VersionedTable.read(batch.sparkSession,
                pendDir), indexDir, w, batchId)
            if (!VersionedTable.hasOp(pendDir, s"clear-$batchId"))
              VersionedTable.truncate(pendDir, s"clear-$batchId")
          }
        }
        ()
    }
    checkpoint.foreach(wr.option("checkpointLocation", _))
    wr.start()
  }

  /** One micro-batch of streaming MV maintenance — the
    * [[graft.relational.Temporal.mvIncremental]] algebra applied at
    * micro-batch cadence with EXACTLY-ONCE semantics: the level-1 MV
    * (event_type, day, user_id → n, cents) lives in a
    * [[graft.sources.VersionedTable]]; each batch aggregates its own
    * delta (view-cardinality rows, never history) and ADDITIVELY merges
    * it — existing key rows are summed, new keys insert — via the
    * table's keyed MERGE, whose file pruning rewrites only files holding
    * touched keys. Replay safety: the commit is stamped `mv-<batchId>`;
    * a replayed batch finds its own stamp in the log and no-ops (the
    * Delta txn-appId idea). The lookup is
    * [[graft.sources.VersionedTable.hasOp]]: log checkpoints carry
    * subsumed stamps forward, so the replay key survives the fold that
    * a raw `.op` scan went blind to at every 10th batch (the round-14
    * ADVICE regression). Returns true when this call committed.
    *
    * @param batch (event_type STRING, ts_us LONG, user_id LONG,
    *              cents LONG) micro-batch
    */
  def mvApplyBatch(batch: DataFrame, dir: String, batchId: Long): Boolean = {
    import graft.sources.VersionedTable
    val label = s"mv-$batchId"
    if (VersionedTable.hasOp(dir, label)) return false
    val keys = Seq("event_type", "day", "user_id")
    val delta = batch
      .select(col("event_type"), expr("ts_us div 86400000000").as("day"),
        col("user_id"), col("cents"))
      .groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("n"), sum("cents").as("c"))
    val spark = batch.sparkSession
    if (VersionedTable.currentVersion(dir) < 0) {
      VersionedTable.append(delta, dir, op = label)
    } else {
      val cur = VersionedTable.read(spark, dir)
      val updates = delta.as("d").join(cur.as("m"), keys, "left")
        .select(col("event_type"), col("day"), col("user_id"),
          (col("d.n") + coalesce(col("m.n"), lit(0L))).as("n"),
          (col("d.c") + coalesce(col("m.c"), lit(0L))).as("c"))
      VersionedTable.merge(spark, dir, updates, keys, op = label)
    }
    true
  }

  /** The maintained stream: micro-batches of events flow through
    * [[mvApplyBatch]]. Pair with [[mvServe]] for the reader side.
    */
  def mvMaintainStream(events: DataFrame, dir: String,
      checkpoint: Option[String] = None)
      : org.apache.spark.sql.streaming.StreamingQuery = {
    val w = events.writeStream.foreachBatch {
      (batch: DataFrame, batchId: Long) =>
        mvApplyBatch(batch, dir, batchId)
        ()
    }
    checkpoint.foreach(w.option("checkpointLocation", _))
    w.start()
  }

  /** Serve the maintained view: roll the level-1 MV up to the published
    * (event_type, day, n_events, n_users, cents) shape — view-cardinality
    * input, so this is the cheap read-side query the maintenance exists
    * to make possible.
    */
  def mvServe(spark: SparkSession, dir: String): DataFrame =
    graft.sources.VersionedTable.read(spark, dir)
      .groupBy("event_type", "day")
      .agg(sum("n").as("n_events"), count(lit(1)).as("n_users"),
        sum("c").as("cents"))
      .orderBy("event_type", "day")

  /** Streaming incremental corpus ingestion via `foreachBatch` — the
    * batch [[graft.dedup.Dedup.incrementalNew]] semantics applied to a
    * live stream: each micro-batch (1) dedups WITHIN itself on the
    * binary content digest (min doc_id wins, like the batch exact
    * dedup), (2) LEFT ANTI joins the already-ingested digest set, and
    * (3) appends survivors to the sink. Unlike
    * `dropDuplicatesWithinWatermark`, the dedup horizon is the WHOLE
    * ingested corpus (digests are compact enough to keep), not a
    * watermark window — this is the steady-state training-data
    * ingestion path. foreachBatch gives batch-DataFrame powers (the
    * anti join against an arbitrary table) at micro-batch cadence; the
    * sink table is the only state, so a restart resumes from whatever
    * was committed. Persisted state is (digest BINARY, doc_id LONG)
    * only — the hex rendering is derivable (`hex(digest)`) and storing
    * it would triple the footprint of a table that is re-read forever.
    *
    * @param docs  streaming DataFrame with (doc_id LONG, text STRING)
    * @param sink  directory of the ingested-corpus parquet table
    */
  def incrementalIngest(docs: DataFrame, sink: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    docs.writeStream.foreachBatch { (batch: DataFrame, _: Long) =>
      val spark = batch.sparkSession
      val hashed = batch
        .select(col("doc_id"),
          unhex(md5(coalesce(col("text"), lit("")))).as("digest"))
        .groupBy("digest")
        .agg(min("doc_id").as("doc_id"))
      val fresh =
        if (sinkHasData(spark, sink)) {
          val prior = spark.read.parquet(sink).select("digest")
          hashed.join(prior, Seq("digest"), "left_anti")
        } else hashed
      fresh.select("digest", "doc_id")
        .write.mode("append").parquet(sink)
      ()
    }.start()

  /** True when `sink` already holds data files. Goes through the Hadoop
    * FileSystem API so the check is correct on ANY supported filesystem
    * (hdfs://, s3a://, local) — a `java.io.File` probe is local-only and
    * would silently skip the anti join forever on a distributed store.
    * Requires at least one non-hidden data file, so a pre-created empty
    * sink directory doesn't crash batch 0's `read.parquet` with
    * "unable to infer schema".
    */
  private def sinkHasData(spark: SparkSession, sink: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(sink)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.exists(p) && fs.listStatus(p).exists { st =>
      val n = st.getPath.getName
      st.isFile && st.getLen > 0 && !n.startsWith("_") && !n.startsWith(".")
    }
  }

  final case class TypedEvent(event_type: String, ts: java.sql.Timestamp)
  final case class HourBucket(event_type: String, hour_sec: Long, n: Long)
  final case class GapFillState(lastClosed: Long, pending: Map[Long, Long])

  /** Streaming twin of `Relational.eventsGapfill`: per-type hourly counts
    * with EXPLICIT ZERO rows for silent hours — the output a monitoring
    * stream needs (a missing bucket and a zero bucket are different
    * facts), and the one semantics a plain windowed agg cannot produce
    * (it only emits windows that received data). `flatMapGroupsWithState`
    * with an EVENT-TIME TIMEOUT: per type, open hours accumulate in a
    * tiny map; when the watermark passes an hour's close — delivered
    * either with the group's next data or by the registered timer when
    * the type goes silent — every hour from the last closed one up to
    * the newest closable one is emitted, absent hours as zeros. The
    * timer is what makes gaps flush without waiting for the quiet type's
    * next event; state is O(open hours) per type and hours close exactly
    * once (append-mode, finalized-on-watermark like any watermarked agg).
    */
  def gapAwareHourly(events: DataFrame): Dataset[HourBucket] = {
    val spark = events.sparkSession
    import spark.implicits._
    events.select(col("event_type"), col("ts").cast("timestamp").as("ts"))
      .withWatermark("ts", "10 minutes")
      .as[TypedEvent]
      .groupByKey(_.event_type)
      .flatMapGroupsWithState[GapFillState, HourBucket](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (et: String, it: Iterator[TypedEvent], state: GroupState[GapFillState]) =>
          val prev = state.getOption.getOrElse(GapFillState(Long.MinValue, Map.empty))
          val pending = it.foldLeft(prev.pending) { (m, e) =>
            val h = math.floorDiv(e.ts.getTime, 3600000L) * 3600L
            m.updated(h, m.getOrElse(h, 0L) + 1L)
          }
          val wmSec = state.getCurrentWatermarkMs() / 1000L
          val closable = pending.keys.filter(_ + 3600L <= wmSec)
          // The gap range stays a LAZY iterator: one clock-skewed event
          // years ahead would otherwise eagerly build millions of
          // buckets in this single call (or overflow NumericRange).
          val rows =
            if (closable.isEmpty) Iterator.empty[HourBucket]
            else {
              val hi = closable.max
              val lo = if (prev.lastClosed == Long.MinValue) closable.min
                       else prev.lastClosed + 3600L
              Iterator.iterate(lo)(_ + 3600L).takeWhile(_ <= hi)
                .map(h => HourBucket(et, h, pending.getOrElse(h, 0L)))
            }
          val rest = pending.filter { case (h, _) => h + 3600L > wmSec }
          if (rest.nonEmpty) {
            val newLast =
              if (closable.isEmpty) prev.lastClosed else closable.max
            state.update(GapFillState(newLast, rest))
            // re-arm: fire when the earliest still-open hour closes, so a
            // type that goes silent still flushes (timestamp is strictly
            // beyond the current watermark by construction of `rest`)
            state.setTimeoutTimestamp((rest.keys.min + 3600L) * 1000L)
          } else {
            // Fully drained: REMOVE the state rather than parking an empty
            // map forever (no timer would ever fire again, so the entry
            // would pin the state store for every type that ever went
            // silent). On revival lastClosed starts fresh — safe, because
            // anything older is pre-watermark and already dropped; the
            // trade is that hours silent across the drained period emit
            // no zeros, the same blind spot any expired-state design has.
            state.remove()
          }
          rows
      }
  }

  final case class UserEvent(user_id: Long, ts_ns: Long, value: Double)
  final case class UserRunning(user_id: Long, n_events: Long, sum_value: Double)

  /** Custom arbitrary-state op: per-user running totals via
    * `mapGroupsWithState` — the escape hatch for state machines that
    * windowed aggs can't express. State is one tiny case class per user;
    * timeout config would evict idle users in production.
    */
  def runningTotals(events: Dataset[UserEvent]): Dataset[UserRunning] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .mapGroupsWithState[UserRunning, UserRunning](
        GroupStateTimeout.NoTimeout()) {
        (userId: Long, it: Iterator[UserEvent], state: GroupState[UserRunning]) =>
          val prev = state.getOption.getOrElse(UserRunning(userId, 0L, 0.0))
          val next = it.foldLeft(prev)((acc, e) =>
            UserRunning(userId, acc.n_events + 1, acc.sum_value + e.value))
          state.update(next)
          next
      }
  }
}
