package graft

import org.apache.spark.sql.SparkSession

/** Session builders for the engine's two deployment shapes. [[Verify.session]]
  * is the local[n] test/verify shape; [[Sessions.production]] is the
  * 1000-executor / 100 TB shape, with each setting tied to a concrete
  * operator in this engine. Not exercised by the driver (no cluster here) —
  * it IS the documented deployment contract.
  */
object Sessions {

  /** Cluster-shape builder. Figures assume ~1000 executors × 4 cores.
    * Every choice maps to an engine operator:
    *
    *  - shuffle.partitions ≈ 2–3× total cores: every groupBy/join in the
    *    relational + dedup layers shuffles into these; too few → spill,
    *    too many → scheduler overhead. AQE coalesces down when bytes allow,
    *    so err high.
    *  - maxPartitionBytes 128m: scan parallelism for the 100 TB fact scans
    *    (≈ 800k splits over 100 TB — fine); the text pipelines additionally
    *    `Tables.loadSpread` where compute density ≫ byte density.
    *  - AQE on (default) with skewJoin: the lineitem⋈orders-shaped joins
    *    self-heal skew; the deliberately-salted path (Relational.saltedJoin)
    *    covers keys AQE can't split (aggregation hot keys).
    *  - autoBroadcastJoinThreshold 64m: category totals, stopword lists,
    *    per-doc sizes, LSH planes — all engine broadcast sides are ≤ MBs;
    *    raising the default 10m lets dimension chains broadcast at SF1000.
    *  - excludedRules InferFiltersFromGenerate: measured pathological with
    *    the md5-shingle generators (SURVEY.md §9.4).
    *  - Kryo: the TopK Aggregator's heap buffer and the multimodal
    *    Dataset[MediaBlob] path serialize through it.
    *  - sql.extensions GraftExtensions: injects the RewriteDotProduct
    *    optimizer rule (declarative folds → codegen'd DotProduct) and the
    *    PartitionAggregateByConsumerKeys stage rule (one exchange for a
    *    grouped aggregate consumed by one of its keys) at session build —
    *    the rules [[Verify.session]] passes to `withExtensions`, named here
    *    because the platform, not the application, constructs the session.
    */
  def production(appName: String): SparkSession.Builder =
    SparkSession.builder()
      .appName(appName)
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.shuffle.partitions", "8192")
      .config("spark.sql.files.maxPartitionBytes", "134217728")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      .config("spark.sql.autoBroadcastJoinThreshold", "67108864")
      .config("spark.sql.optimizer.excludedRules",
        "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
      // rank-limit pushdown up to the engine's own top-k widths
      // (SemClusterCap = 4096 > the 1000 default cutoff)
      .config("spark.sql.optimizer.windowGroupLimitThreshold", "8192")
      .config("spark.serializer", "org.apache.spark.serializer.KryoSerializer")
      .config("spark.sql.session.timeZone", "UTC")
}
