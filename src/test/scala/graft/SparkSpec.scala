package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.BeforeAndAfterAll

/** Shared local session for specs (same config surface as graft.Verify). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session
  override def afterAll(): Unit = () // session shared across suites

  /** Shared documents-table fixture: writes `documents.parquet` in the
    * driver table shape (doc_id, text, lang, source, n_chars) to a fresh
    * temp dir and returns that dir, so specs exercise operators through
    * the same `Tables.load` path as the real data. Single-sourced here —
    * a schema change (new required column) lands in every spec at once.
    */
  def writeDocs(rows: Seq[(Long, String)], source: String = "fix",
      into: String = null): String = {
    import org.apache.spark.sql.functions.{col, length, lit}
    import spark.implicits._
    val dir =
      if (into != null) into
      else java.nio.file.Files.createTempDirectory("docsfix").toString
    rows.toDF("doc_id", "text")
      .withColumn("lang", lit("en"))
      .withColumn("source", lit(source))
      .withColumn("n_chars", length(col("text")))
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }
}

object SparkSpec {
  lazy val session: SparkSession = {
    // the engine's physical rule only: PlansSpec measures RewriteDotProduct
    // against a session without it
    val s = SparkSession.builder()
      .withExtensions(_.injectQueryStagePrepRule(
        _ => graft.plans.PartitionAggregateByConsumerKeys))
      .master("local[4]")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.optimizer.windowGroupLimitThreshold", "8192")
      .config("spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    graft.functions.Registry.ensure(s)
    s
  }
}
