package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import graft.sources.Sources

class SourcesSpec extends SparkSpec {
  import spark.implicits._

  private lazy val sample = spark.read
    .parquet("/root/testdata/sf0.001/orders.parquet")
    .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")

  private def rows(df: org.apache.spark.sql.DataFrame) =
    df.as[(Long, Long, String, Double)].collect().toSet

  test("csv round-trip preserves rows under explicit schema") {
    val dir = Files.createTempDirectory("graft_csv").toString
    Sources.writeCsv(sample, dir)
    assert(rows(Sources.readCsv(spark, sample.schema, dir)) == rows(sample))
  }

  test("json round-trip preserves rows under explicit schema") {
    val dir = Files.createTempDirectory("graft_json").toString
    Sources.writeJson(sample, dir)
    assert(rows(Sources.readJson(spark, sample.schema, dir)) == rows(sample))
  }

  test("orc round-trip preserves rows under explicit schema") {
    val dir = Files.createTempDirectory("graft_orc").toString
    Sources.writeOrc(sample, dir)
    assert(rows(Sources.readOrc(spark, sample.schema, dir)) == rows(sample))
  }

  test("compact rewrites a many-file table into n files, rows preserved") {
    val in = Files.createTempDirectory("graft_many").toString
    val out = Files.createTempDirectory("graft_compact").toString
    sample.repartition(16).write.mode("overwrite").parquet(in)
    Sources.compact(spark, in, out, 2)
    val files = new java.io.File(out).listFiles().count(_.getName.endsWith(".parquet"))
    assert(files == 2)
    assert(rows(Sources.readParquet(spark, out)) == rows(sample))
  }

  test("partitioned parquet prunes partitions on the filter") {
    val dir = Files.createTempDirectory("graft_part").toString
    Sources.writePartitioned(sample, "o_orderstatus", dir)
    val filtered = Sources.readParquet(spark, dir)
      .where(col("o_orderstatus") === "F")
    // value-level: same rows as filtering the original
    assert(filtered.count() == sample.where(col("o_orderstatus") === "F").count())
    // plan-level: the filter must land in PartitionFilters, not a Filter node
    val scan = filtered.queryExecution.executedPlan.collectLeaves().head.toString
    assert(scan.contains("PartitionFilters") && scan.contains("o_orderstatus"))
    assert(!filtered.queryExecution.executedPlan.toString.contains("Filter ("),
      "partition filter should be pruned at the source, not post-scan")
  }

  test("zorder2 matches a bit-interleave reference on small values") {
    def ref(a: Long, b: Long): Long = {
      var z = 0L
      for (i <- 0 until 31) {
        z |= ((a >> i) & 1L) << (2 * i)
        z |= ((b >> i) & 1L) << (2 * i + 1)
      }
      z
    }
    val cases = Seq((0L, 0L), (1L, 0L), (0L, 1L), (5L, 3L), (123456L, 654321L),
      (0x7FFFFFFFL, 0x7FFFFFFFL), (0xFFFFFFFFL, 2L)) // high bits truncated
    val got = cases.toDF("a", "b")
      .select(Sources.zorder2(col("a"), col("b"))).as[Long].collect().toSeq
    val want = cases.map { case (a, b) => ref(a & 0x7FFFFFFFL, b & 0x7FFFFFFFL) }
    assert(got == want, s"$got vs $want")
    assert(got.forall(_ >= 0L), "zorder keys must stay positive for ordering")
  }

  test("z-ordered layout bounds per-file ranges on BOTH columns") {
    val dir = Files.createTempDirectory("graft_z").toString
    val df = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
      .select("o_orderkey", "o_custkey")
    Sources.writeZOrdered(df, "o_orderkey", "o_custkey", s"$dir/z", nFiles = 8)
    // single-column-sorted baseline: perfect on A, useless on B
    df.repartitionByRange(8, col("o_orderkey"))
      .sortWithinPartitions("o_orderkey")
      .write.mode("overwrite").parquet(s"$dir/a")
    def avgRange(path: String, c: String): Double = {
      val r = spark.read.parquet(path)
        .groupBy(input_file_name()).agg((max(col(c)) - min(col(c))).as("r"))
        .agg(avg("r")).as[Double].head()
      r
    }
    val (gkMax, gcMax) = (df.agg(max("o_orderkey")).as[Long].head(),
      df.agg(max("o_custkey")).as[Long].head())
    // z-layout: each file covers a fraction of BOTH axes
    assert(avgRange(s"$dir/z", "o_orderkey") < gkMax * 0.7,
      "z layout should bound the orderkey axis")
    assert(avgRange(s"$dir/z", "o_custkey") < gcMax * 0.7,
      "z layout should bound the custkey axis")
    // the single-column layout leaves the OTHER axis unbounded (~full range)
    assert(avgRange(s"$dir/a", "o_custkey") > gcMax * 0.9,
      "sanity: A-sorted layout cannot bound the B axis")
  }
}
