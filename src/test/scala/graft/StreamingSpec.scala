package graft

import java.sql.Timestamp
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.streaming.StreamingOps

/** The batch event queries of [[StreamingOps]], each checked against an
  * independent form of the same graph. The streaming oracles below are
  * spec-local: watermarked Structured Streaming graphs over a
  * MemoryStream, whose output must equal what the batch query computes
  * over the same rows.
  */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private val sf = "/root/testdata/sf0.001"

  private def ts(min: Long): Timestamp = new Timestamp(min * 60000L)

  // (ts, user_id, event_type, value) fixture: two users, u1 has a 40-min
  // gap (→ 2 sessions), u2 stays inside the 30-min gap (→ 1 session)
  private val fixture = Seq(
    (ts(0), 1L, "click", 1.0), (ts(10), 1L, "view", 2.0),
    (ts(55), 1L, "click", 3.0), // 45-min gap → new session
    (ts(5), 2L, "view", 4.0), (ts(25), 2L, "view", 5.0), (ts(45), 2L, "buy", 6.0))

  /** The events table as driver rows (ts, user_id, event_id, event_type,
    * value), `ts` cast to TIMESTAMP (a watermark needs it) — what a
    * MemoryStream replays so a streaming graph sees the batch input.
    */
  private def eventRows(dir: String): Seq[(Timestamp, Long, Long, String, Double)] =
    graft.model.Tables.load(spark, dir, "events")
      .select(col("ts").cast("timestamp"), col("user_id"), col("event_id"),
        col("event_type"), col("value"))
      .as[(Timestamp, Long, Long, String, Double)].collect().toSeq

  /** Gap sessionization as a streaming graph: `session_window` merges
    * overlapping per-event windows in the state store. */
  private def sessionWindows(events: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("user_id"), col("session_window.start").as("start"),
        col("session_window.end").as("end"), col("n_events"))

  /** Stream-static enrichment: each micro-batch broadcast-joins the static
    * customer dimension, then rolls up watermarked hourly windows per
    * market segment — the streaming form of
    * [[StreamingOps.enrichedHourlyBatch]].
    */
  private def enrichedHourly(events: DataFrame, customers: DataFrame): DataFrame =
    events
      .withWatermark("ts", "2 hours")
      .join(broadcast(customers.select(col("c_custkey"), col("c_mktsegment"))),
        col("user_id") === col("c_custkey"))
      .groupBy(window(col("ts"), "1 hour"), col("c_mktsegment"))
      .agg(count(lit(1)).as("n"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("sum_value"))
      .select(col("window.start").as("hour_start"), col("c_mktsegment"),
        col("n"), col("sum_value"))

  /** Stream-stream view→click attribution: two watermarked streams joined
    * on user plus the (0, 1 h] event-time range that lets the state store
    * evict — the streaming form of [[StreamingOps.attributionBatch]].
    */
  private def attributionStream(v: DataFrame, c: DataFrame,
      joinType: String = "inner"): DataFrame =
    v.withWatermark("vts", "2 hours")
      .join(c.withWatermark("cts", "2 hours"),
        expr("""v_user = c_user AND
                cts > vts AND cts <= vts + INTERVAL 1 HOUR"""), joinType)
      .select(col("v_user").as("user_id"), col("view_id"), col("click_id"),
        (unix_micros(col("cts")) - unix_micros(col("vts"))).as("dt_us"))

  /** The events table's views and clicks in [[attributionStream]]'s input
    * shape (user, id, event time). */
  private def viewsClicks(dir: String)
      : (Seq[(Long, Long, Timestamp)], Seq[(Long, Long, Timestamp)]) = {
    val rows = eventRows(dir)
    def of(kind: String) = rows.collect {
      case (t, u, id, `kind`, _) => (u, id, t)
    }
    (of("view"), of("click"))
  }

  test("streaming session_window sessions match the gap definition") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, Long, String, Double)]
    val events = mem.toDF().toDF("ts", "user_id", "event_type", "value")
    val q = sessionWindows(events).writeStream
      .format("memory").queryName("sessions").outputMode("complete").start()
    try {
      mem.addData(fixture: _*)
      q.processAllAvailable()
      val got = spark.table("sessions")
        .select(col("user_id"), col("n_events"))
        .as[(Long, Long)].collect().sorted.toSeq
      // u1: sessions of 2 and 1 events; u2: one session of 3
      assert(got == Seq((1L, 1L), (1L, 2L), (2L, 3L)))
    } finally q.stop()
    // over the events table the streamed sessions are the batch query's:
    // same session count and same total events per user
    val memSf = MemoryStream[(Timestamp, Long, Long, String, Double)]
    memSf.addData(eventRows(sf): _*)
    val qSf = sessionWindows(memSf.toDF()
        .toDF("ts", "user_id", "event_id", "event_type", "value"))
      .writeStream.format("memory").queryName("sessions_sf")
      .outputMode("complete").start()
    try {
      qSf.processAllAvailable()
      def perUser(df: DataFrame) = df.groupBy("user_id")
        .agg(count(lit(1)).as("n_sessions"), sum("n_events").as("n_events"))
        .as[(Long, Long, Long)].collect().toSet
      val streamed = perUser(spark.table("sessions_sf"))
      assert(streamed == perUser(StreamingOps.sessionsBatch(spark, sf)) &&
        streamed.nonEmpty)
    } finally qSf.stop()
  }

  test("batch sessionization agrees with session_window on the events table") {
    val sf = "/root/testdata/sf0.001"
    val sessions = StreamingOps.sessionsBatch(spark, sf)
    val viaWindow = graft.model.Tables.load(spark, sf, "events")
      .groupBy(col("user_id"), session_window(col("ts"), "30 minutes"))
      .agg(count(lit(1)).as("n_events"))
    // same session count and same total events per user
    val a = sessions.groupBy("user_id")
      .agg(count(lit(1)).as("n_sessions"), sum("n_events").as("n_events"))
      .as[(Long, Long, Long)].collect().toSet
    val b = viaWindow.groupBy("user_id")
      .agg(count(lit(1)).as("n_sessions"), sum("n_events").as("n_events"))
      .as[(Long, Long, Long)].collect().toSet
    assert(a == b && a.nonEmpty)
  }

  test("session stats are exactly the per-user fold of the session table") {
    val sf = "/root/testdata/sf0.001"
    val sessions = StreamingOps.sessionsBatch(spark, sf)
      .as[(Long, Long, Long, Long, Long)].collect().groupBy(_._1)
    val stats = StreamingOps.sessionStats(spark, sf)
      .as[(Long, Long, Long, Long, Long, Long, Long)].collect()
    assert(stats.nonEmpty && stats.map(_._1).toSeq == stats.map(_._1).sorted.toSeq)
    for ((u, nSess, nBounce, totEv, maxEv, totDur, maxDur) <- stats) {
      val ss = sessions(u)
      assert(nSess == ss.length)
      assert(nBounce == ss.count(_._3 == 1L))
      assert(totEv == ss.map(_._3).sum && maxEv == ss.map(_._3).max)
      assert(totDur == ss.map(s => s._5 - s._4).sum)
      assert(maxDur == ss.map(s => s._5 - s._4).max)
    }
    // every user with events appears exactly once
    assert(stats.map(_._1).toSet == sessions.keySet)
  }

  test("stream-static enrichment join matches the batch form of the same graph") {
    implicit val sqlCtx = spark.sqlContext
    val customers = graft.model.Tables.load(spark, sf, "customer")
    val mem = MemoryStream[(Timestamp, Long, Long, String, Double)]
    mem.addData(eventRows(sf): _*)
    val events = mem.toDF().toDF("ts", "user_id", "event_id", "event_type", "value")
    val q = enrichedHourly(events, customers).writeStream
      .format("memory").queryName("enriched").outputMode("complete").start()
    try {
      q.processAllAvailable()
      val streamed = spark.table("enriched")
        .select(unix_seconds(col("hour_start")), col("c_mktsegment"),
          col("n"), col("sum_value"))
        .as[(Long, String, Long, Double)].collect().toSet
      val batch = StreamingOps.enrichedHourlyBatch(spark, sf)
        .as[(Long, String, Long, Double)].collect().toSet
      assert(streamed == batch && streamed.nonEmpty)
      // the join really enriched: more than one segment appears
      assert(streamed.map(_._2).size > 1)
    } finally q.stop()
  }

  test("batch attribution matches the streaming join's range semantics") {
    // the bucketized batch plan and a direct range join must agree —
    // pins that bucket-edge pairs (view and click in adjacent cells) and
    // exact-boundary deltas (dt == window) are neither lost nor doubled
    val sf = "/root/testdata/sf0.001"
    val direct = {
      val e = graft.model.Tables.load(spark, sf, "events")
      val v = e.where(col("event_type") === "view")
        .select(col("user_id"), col("event_id").as("view_id"),
          expr("ts_ns div 1000").as("vts"))
      val c = e.where(col("event_type") === "click")
        .select(col("user_id").as("cu"), col("event_id").as("click_id"),
          expr("ts_ns div 1000").as("cts"))
      v.join(c, col("user_id") === col("cu") &&
          col("cts") > col("vts") &&
          col("cts") - col("vts") <= StreamingOps.AttribWindowUs)
        .select(col("user_id"), col("view_id"), col("click_id"),
          (col("cts") - col("vts")).as("dt_us"))
        .as[(Long, Long, Long, Long)].collect().toSet
    }
    val bucketized = StreamingOps.attributionBatch(spark, sf)
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(bucketized == direct && bucketized.nonEmpty)
  }

  test("file sink + checkpoint: restart resumes exactly-once, no replays") {
    implicit val sqlCtx = spark.sqlContext
    val base = java.nio.file.Files.createTempDirectory("graft_sink").toString
    val mem = MemoryStream[(Timestamp, Long, String, Double)]
    val events = mem.toDF().toDF("ts", "event_id", "event_type", "value")
    def start() = events.writeStream.format("parquet")
      .option("path", s"$base/out")
      .option("checkpointLocation", s"$base/cp")
      .outputMode("append").start()
    // run 1 commits batch 0, then dies
    val q1 = start()
    mem.addData((ts(60), 1L, "click", 1.0), (ts(61), 2L, "view", 2.0))
    q1.processAllAvailable(); q1.stop()
    // run 2 resumes from the checkpoint: batch 0 must NOT be re-emitted
    // (the file sink's transaction log makes file output exactly-once
    // even though the source replays are at-least-once)
    val q2 = start()
    mem.addData((ts(62), 3L, "buy", 3.0))
    q2.processAllAvailable(); q2.stop()
    val ids = spark.read.parquet(s"$base/out")
      .select("event_id").as[Long].collect().sorted.toSeq
    assert(ids == Seq(1L, 2L, 3L), s"expected exactly-once output, got $ids")
  }

  test("stream-stream attribution join emits in-window pairs only") {
    implicit val sqlCtx = spark.sqlContext
    val vMem = MemoryStream[(Long, Long, Timestamp)]
    val cMem = MemoryStream[(Long, Long, Timestamp)]
    val views = vMem.toDF().toDF("v_user", "view_id", "vts")
    val clicks = cMem.toDF().toDF("c_user", "click_id", "cts")
    val q = attributionStream(views, clicks).writeStream
      .format("memory").queryName("attrib").outputMode("append").start()
    try {
      // user 1: view at 2h, clicks at 2h30 (in window) and 3h30 (outside
      // the 1 h range); user 2: click with NO prior view
      vMem.addData((1L, 10L, ts(120)))
      cMem.addData((1L, 20L, ts(150)), (1L, 21L, ts(210)), (2L, 22L, ts(150)))
      q.processAllAvailable()
      val got = spark.table("attrib")
        .select("user_id", "view_id", "click_id", "dt_us")
        .as[(Long, Long, Long, Long)].collect().toSet
      assert(got == Set((1L, 10L, 20L, 30L * 60000000L)))
    } finally q.stop()
    // over the events table the streamed pairs are the bucketized batch
    // join's; both sides are queued before start, so the first micro-batch
    // holds every row and no watermark can drop one
    val (v, c) = viewsClicks(sf)
    val vSf = MemoryStream[(Long, Long, Timestamp)]
    val cSf = MemoryStream[(Long, Long, Timestamp)]
    vSf.addData(v: _*); cSf.addData(c: _*)
    val qSf = attributionStream(vSf.toDF().toDF("v_user", "view_id", "vts"),
        cSf.toDF().toDF("c_user", "click_id", "cts"))
      .writeStream.format("memory").queryName("attrib_sf")
      .outputMode("append").start()
    try {
      qSf.processAllAvailable()
      val streamed = spark.table("attrib_sf")
        .as[(Long, Long, Long, Long)].collect().toSet
      val batch = StreamingOps.attributionBatch(spark, sf)
        .as[(Long, Long, Long, Long)].collect().toSet
      assert(streamed == batch && streamed.nonEmpty)
    } finally qSf.stop()
  }

  test("left-outer stream-stream attribution emits unmatched views after watermark") {
    implicit val sqlCtx = spark.sqlContext
    val vMem = MemoryStream[(Long, Long, Timestamp)]
    val cMem = MemoryStream[(Long, Long, Timestamp)]
    val views = vMem.toDF().toDF("v_user", "view_id", "vts")
    val clicks = cMem.toDF().toDF("c_user", "click_id", "cts")
    val q = attributionStream(views, clicks, "left_outer").writeStream
      .format("memory").queryName("attrib_outer").outputMode("append").start()
    try {
      // user 1 converts (click in window); user 3's view has NO click
      vMem.addData((1L, 10L, ts(120)), (3L, 11L, ts(125)))
      cMem.addData((1L, 20L, ts(150)))
      q.processAllAvailable()
      // push both watermarks far past view 11's join window so the
      // outer row flushes (2 h delay + 1 h window)
      vMem.addData((9L, 90L, ts(600)))
      cMem.addData((9L, 91L, ts(601)))
      q.processAllAvailable()
      val got = spark.table("attrib_outer")
        .select("user_id", "view_id", "click_id", "dt_us")
        .as[(Long, Long, Option[Long], Option[Long])].collect().toSet
      assert(got.contains((1L, 10L, Some(20L), Some(30L * 60000000L))))
      assert(got.contains((3L, 11L, None, None)),
        s"unmatched view did not flush: $got")
    } finally q.stop()
    // over the events table: the flushed null-click rows are exactly the
    // views first-touch attribution marks unconverted, the matched rows
    // exactly the all-pairs batch join. A sentinel user (-1) a day past
    // the data advances both watermarks; its own rows are left out.
    val (v, c) = viewsClicks(sf)
    val far = new Timestamp((v ++ c).map(_._3.getTime).max + 86400000L)
    val vSf = MemoryStream[(Long, Long, Timestamp)]
    val cSf = MemoryStream[(Long, Long, Timestamp)]
    vSf.addData(v: _*); cSf.addData(c: _*)
    val qSf = attributionStream(vSf.toDF().toDF("v_user", "view_id", "vts"),
        cSf.toDF().toDF("c_user", "click_id", "cts"), "left_outer")
      .writeStream.format("memory").queryName("attrib_outer_sf")
      .outputMode("append").start()
    try {
      qSf.processAllAvailable()
      vSf.addData((-1L, -1L, far)); cSf.addData((-1L, -2L, far))
      qSf.processAllAvailable()
      val got = spark.table("attrib_outer_sf").where(col("user_id") =!= -1L)
        .as[(Long, Long, Option[Long], Option[Long])].collect()
      val unmatched = got.collect { case (u, vid, None, None) => (u, vid) }.toSet
      val matched = got.collect {
        case (u, vid, Some(cid), Some(dt)) => (u, vid, cid, dt)
      }.toSet
      val unconverted = StreamingOps.attributionFirstTouch(spark, sf)
        .where(!col("converted")).select("user_id", "view_id")
        .as[(Long, Long)].collect().toSet
      assert(unmatched == unconverted && unmatched.nonEmpty)
      assert(matched == StreamingOps.attributionBatch(spark, sf)
        .as[(Long, Long, Long, Long)].collect().toSet)
    } finally qSf.stop()
  }

  test("event paths: trigrams respect session boundaries and time order") {
    val s = 1000000000L // 1 s in ns
    val dir = java.nio.file.Files.createTempDirectory("pathsfix").toString
    // user 1 session 1: v c p v → v>c>p, c>p>v; 2h gap; session 2: x y (none)
    // user 2 session 1: v c p → v>c>p
    Seq(
      (0L * s, 1L, 1L, "v"), (10L * s, 2L, 1L, "c"),
      (20L * s, 3L, 1L, "p"), (30L * s, 4L, 1L, "v"),
      (7230L * s, 5L, 1L, "x"), (7240L * s, 6L, 1L, "y"),
      (0L * s, 7L, 2L, "v"), (5L * s, 8L, 2L, "c"), (10L * s, 9L, 2L, "p"))
      .toDF("ts", "event_id", "user_id", "event_type")
      .write.mode("overwrite").parquet(s"$dir/events.parquet")
    val got = StreamingOps.eventPaths(spark, dir)
      .as[(String, Long)].collect().toMap
    assert(got == Map("v>c>p" -> 2L, "c>p>v" -> 1L), s"got $got")
  }
}
