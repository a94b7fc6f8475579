package graft

import org.apache.spark.sql.SparkSession

/** The one place a graft `SparkSession` is configured: every main and
  * every spec builds its session through one of these two builders, so the
  * tools that run, time and explain a key all run the same engine.
  */
object LocalSpark {

  /** Executor threads for the mains: `SPARK_GRAFT_CPUS`, default 4. */
  val cpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  /** `local[cpus]` with one shuffle partition and at least one scan split
    * per executor thread. Callers add no further settings. */
  def builder(cpus: Int = LocalSpark.cpus): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      // Fixture tables are one parquet file each; without a minimum split
      // count every scan pipeline runs on a single core.
      .config("spark.sql.files.minPartitionNum", cpus)
      // JVM (not ICU) case mappings: identical results on this data, and it
      // skips CollationAwareUTF8String's ~20 s one-time static init
      // (see Tables.apply).
      .config("spark.sql.icu.caseMappings.enabled", "false")
      // NTZ-parquet timestamps re-tag losslessly to UTC (Tables.events).
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")

  /** The `graft.Sql` surface: [[builder]] plus a warehouse, cost-based
    * optimization (ANALYZE statistics, persisted by GraftCatalog and
    * replayed on restore, feed join reordering and broadcast decisions)
    * and graft's SQL extensions (ADT grammar, vec_dot, TopK). */
  def sqlSurface(warehouse: String, cpus: Int = LocalSpark.cpus): SparkSession.Builder =
    builder(cpus)
      .config("spark.sql.warehouse.dir", warehouse)
      .config("spark.sql.cbo.enabled", "true")
      .config("spark.sql.cbo.joinReorder.enabled", "true")
      .withExtensions(new GraftExtensions)

  /** Block until `spark`'s listener bus has delivered every queued event,
    * so listener counters read after an action include that action (the
    * bus is async). */
  def drainBus(spark: SparkSession): Unit =
    org.apache.spark.sql.graft.Bridge.drainBus(spark)
}
