package graft

import org.apache.spark.sql.SparkSession

/** Central SparkSession factory so every entry point (Verify, Bench,
  * tests, user code) runs with identical, scale-aware settings.
  *
  * Each query shape compiles once. Two settings make Spark's generated
  * code reusable across queries that differ only in their constants:
  *  - the columnar rule [[graft.plans.StableLiterals]], which reads
  *    filter and projection literals from each generated class's
  *    references instead of writing them into its source;
  *  - Spark's codegen cache pinned at 250 entries
  *    (`spark.sql.codegen.cache.maxEntries`, default 100). It is a
  *    static conf, so it takes effect only from the builder, before
  *    the first session exists. Spark keys each entry by (context
  *    class loader, source), and local-mode task threads use another
  *    loader than the driver, so every shape takes two entries.
  *
  * Measured on lakebench's timed passes (seed 7): medallion compiled
  * 348 classes per pass with neither setting (and with `limit`-based
  * internal checks, see [[graft.lake.LakeWriter]]'s CHECK enforcement);
  * with the rule it compiles
  * 260 at 100 entries, 112 at 125 and none from 150 up, and lake_oltp
  * compiles 8 (244 before) at 250 and at 2,000. The cache is pinned
  * above the 150 knee because Spark's cache evicts per segment (four
  * segments of a quarter of the bound each), so a working set right at
  * the bound can still lose entries.
  */
object GraftSession {

  /** Apply the engine's standard configs to any builder. */
  def configure(b: SparkSession.Builder): SparkSession.Builder = b
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.adaptive.enabled", "true")
    .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
    .config("spark.sql.adaptive.skewJoin.enabled", "true")
    // driver testdata stores TIMESTAMP(NANOS); Spark has no ns type —
    // read as epoch-nano LONG and normalize in QueryDef.events.
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    // Scan-parallelism floor (guide §6): the split planner charges
    // every file `openCostInBytes` (default 4 MB) and never splits
    // below it, so a sub-4 MB file is ONE task no matter how many
    // cores sit idle — and map-heavy legs upstream of the first
    // exchange (tokenize+md5 featurize, media decode, cosine sweeps)
    // serialize on one core. 16 KB hands control to the
    // scale-ADAPTIVE floor max(openCost, totalBytes/minPartitionNum)
    // (minPartitionNum defaults to the session's default parallelism,
    // maxPartitionBytes still caps splits at 128 MB at real scale).
    // At 100 TB the charged open cost is noise; for many-small-file
    // tables a lower cost packs MORE files per split — fewer, larger
    // tasks, the §6 direction. Env-overridable for cluster tuning.
    .config("spark.sql.files.openCostInBytes",
      sys.env.getOrElse("SPARK_GRAFT_OPEN_COST", (16 * 1024).toString))
    .config("spark.sql.parquet.compression.codec", "snappy")
    .config("spark.ui.enabled", "false")
    // each query shape compiles once: see the scaladoc above
    .config("spark.sql.codegen.cache.maxEntries", "250")
    .withExtensions(_.injectColumnar(_ => graft.plans.StableLiterals.columnarRule))

  /** Post-creation setup a Builder cannot express: the engine's
    * optimizer rules (metadata-only COUNT(*)/MIN/MAX over lake
    * relations). Idempotent — safe on a session already enabled.
    */
  def enable(s: SparkSession): SparkSession = {
    if (!s.experimental.extraOptimizations
        .contains(graft.plans.MetadataOnlyAggregate))
      s.experimental.extraOptimizations ++=
        Seq(graft.plans.MetadataOnlyAggregate)
    s
  }

  /** Local session sized from env (SPARK_GRAFT_CPUS, default all cores). */
  def local(appName: String = "graft"): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS",
      Runtime.getRuntime.availableProcessors().toString)
    val s = enable(configure(SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(appName)
      .config("spark.sql.shuffle.partitions", cpus))
      .getOrCreate())
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
