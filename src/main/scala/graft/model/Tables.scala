package graft.model

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loaders for the driver-generated test tables (`/root/repo/TESTDATA.md`)
  * and for reference-format inputs (line-delimited JSON reviews — see
  * reference `src/wordCountJob.py:54-62`).
  *
  * Scale note: all loaders are plain `spark.read` — partitioning is
  * inherited from the parquet file layout, so on a real cluster each
  * table scan parallelizes across `spark.sql.files.maxPartitionBytes`
  * splits with column pruning + predicate pushdown intact.
  */
object Tables {

  def load(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    val df = spark.read.parquet(s"$sfDir/$name.parquet")
    if (name == "events") withEventTime(df) else df
  }

  /** Load + hash-repartition on `byCol`: decouples COMPUTE parallelism from
    * the file layout. A small table in one parquet row group scans as ONE
    * task, so any CPU-heavy pipeline above it (tokenize+md5, per-pair
    * cosine) runs single-threaded — measured 14 s of a 20 s query on one
    * core. The repartition shuffles only the raw rows (cheap) and spreads
    * the expensive expressions across all cores. Use for compute-bound
    * paths; pure scan→filter→agg queries should stay on `load` (their
    * parallelism comes from `maxPartitionBytes` splits at real scale, and
    * an extra exchange would only add cost).
    */
  def loadSpread(spark: SparkSession, sfDir: String, name: String,
      byCol: String): DataFrame =
    spread(load(spark, sfDir, name), col(byCol))

  /** Hash-repartition `df` on `keys` only when its scan yields fewer
    * splits than `defaultParallelism`: at real scale maxPartitionBytes
    * already provides the parallelism and the repartition would shuffle
    * the whole input for nothing. The partition count is EXPLICIT: AQE
    * coalesces advisory shuffles by BYTES and would fold a
    * tiny-but-CPU-heavy relation back to one task.
    */
  def spread(df: DataFrame, keys: Column*): DataFrame = {
    val spark = df.sparkSession
    if (df.rdd.getNumPartitions >= spark.sparkContext.defaultParallelism) df
    else df.repartition(spark.sessionState.conf.numShufflePartitions, keys: _*)
  }

  /** Normalize `events.ts` to the engine's two-column contract — exact
    * integer `ts_ns` (epoch nanos; every session/gap/bucket computation
    * uses it so arithmetic is exact) plus `ts` as TIMESTAMP_NTZ truncated
    * to microseconds. Schema-adaptive because the generated parquet has
    * shipped with two physical types:
    *   - TIMESTAMP(NANOS): Spark only reads it as a raw nanosecond long
    *     (`spark.sql.legacy.parquet.nanosAsLong=true`, set in
    *     Verify/Bench/tests) → truncation to `ts` is an exact integer
    *     `div` (a double division would lose precision at 2^53 ns).
    *   - TIMESTAMP(MICROS) (ntz): read natively → `ts_ns` is exact
    *     micros×1000 (session tz is UTC, so the NTZ wall clock IS the
    *     epoch instant; DuckDB's `epoch_ns(ts)` oracle twin agrees).
    */
  def withEventTime(raw: DataFrame): DataFrame = raw.schema("ts").dataType match {
    case org.apache.spark.sql.types.LongType =>
      raw
        .withColumn("ts_ns", col("ts"))
        .withColumn("ts", timestamp_micros(expr("ts div 1000")).cast("timestamp_ntz"))
    case org.apache.spark.sql.types.TimestampNTZType |
        org.apache.spark.sql.types.TimestampType =>
      raw
        .withColumn("ts_ns", expr("unix_micros(cast(ts as timestamp)) * 1000"))
        .withColumn("ts", col("ts").cast("timestamp_ntz"))
    case other =>
      // fail FAST: a permissive cast of e.g. STRING would null every
      // timestamp and every event query would silently return garbage
      throw new IllegalArgumentException(
        s"events.ts must be a nanos long or a timestamp, got $other")
  }

  /** Reference review input: line-delimited JSON, only two fields consumed,
    * malformed lines silently dropped (reference `src/wordCountJob.py:62-72`).
    * PERMISSIVE mode + corrupt-record filter reproduces the bare-`except`
    * skip; schema pruning pushes the 2-column projection into the parser.
    *
    * The filter is a typed one on the whole parsed row, so the scan always
    * reads a real column beside `_corrupt`: a Catalyst `_corrupt IS NULL`
    * predicate lets column pruning leave `_corrupt` as the only column read
    * under a bare `count()`, which Spark refuses
    * (`UNSUPPORTED_FEATURE.QUERY_ONLY_CORRUPT_RECORD_COLUMN`).
    *
    * With `counters`, each dropped line bumps the advisory
    * [[PipelineCounters.malformedLines]] accumulator.
    */
  def reviews(spark: SparkSession, path: String,
      counters: Option[PipelineCounters] = None): DataFrame = {
    import org.apache.spark.sql.types._
    val schema = StructType(Seq(
      StructField("category", StringType),
      StructField("reviewText", StringType),
      StructField("_corrupt", StringType)))
    val parsed = spark.read
      .schema(schema)
      .option("mode", "PERMISSIVE")
      .option("columnNameOfCorruptRecord", "_corrupt")
      .json(path)
    val idx = schema.fieldIndex("_corrupt")
    // capture ONLY the accumulator (serializable) in the task closure,
    // not the counters wrapper
    val malformed = counters.map(_.malformedLines)
    val kept = parsed.filter { r: org.apache.spark.sql.Row =>
      val ok = r.isNullAt(idx)
      if (!ok) malformed.foreach(_.add(1L))
      ok
    }
    kept.select(
      coalesce(col("category"), lit("Unknown")).as("category"),
      coalesce(col("reviewText"), lit("")).as("reviewText"))
  }
}
