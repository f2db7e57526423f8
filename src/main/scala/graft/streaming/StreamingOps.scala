package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.model.Tables

/** Event-stream analytics over the `events` table, in batch form: the
  * six declared queries for gap-based sessions, per-user session stats,
  * event paths, segment-enriched hourly counts and view→click attribution
  * (all pairs and first touch), each with its DuckDB twin.
  *
  * Scale notes: the session and attribution queries key by `user_id`;
  * all time arithmetic is exact integer µs derived from the `ts_ns`
  * column, so session boundaries are engine-exact.
  */
object StreamingOps {

  val SessionGapUs: Long = 30L * 60 * 1000000L // 30 min in µs

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

  /** Hourly event counts and value sums per customer market segment.
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
}
