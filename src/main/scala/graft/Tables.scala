package graft

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._

/** Loaders for the driver-generated parquet fixtures (`FIXTURES.md`).
  *
  * 100 TB note: each loader is a plain parquet scan, so Catalyst pushes
  * filters/projections straight to the (vectorized) reader; at cluster scale
  * the same code reads a partitioned/bucketed layout unchanged — queries only
  * ever see the logical table.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def path(sfDir: String, name: String): String = s"$sfDir/$name.parquet"

  // Memoized per (session, dir, table) in `Artifacts`: building one creates
  // a fresh InMemoryFileIndex (file listing + footer read), which ~100
  // queries would otherwise repeat per table. Plans are immutable, so
  // sharing the object across queries is safe.
  def apply(spark: SparkSession, sfDir: String, name: String): DataFrame =
    Artifacts.memo(("table", spark, sfDir, name)) {
      // Spark 4 routes lower()/upper() under UTF8_BINARY through ICU case
      // mappings; CollationAwareUTF8String's static init costs tens of
      // executor-CPU-seconds once per JVM (measured 17-32 s wall on the
      // first lower() of a session — jstack shows every task blocked on the
      // class-init monitor). The JVM path is identical for this engine's
      // data (ICU and JVM case maps agree on ASCII and caseless scripts),
      // so pin the fast path for any session the fixtures flow through.
      spark.conf.set("spark.sql.icu.caseMappings.enabled", "false")
      if (name == "events") loadEvents(spark, sfDir)
      else spark.read.parquet(path(sfDir, name))
    }

  // Memoized table row counts per (session, dir, table). The graph keys
  // size their minted graph modulus from |documents|, and each used to run
  // its own count job — at 400 queries that's dozens of redundant scans
  // per bench run (round-9 verdict item 7). The fixtures are immutable
  // for a session, so one count per (session, sf) is exact.
  def rowCount(spark: SparkSession, sfDir: String, name: String): Long =
    Artifacts.memo(("rowcount", spark, sfDir, name))(apply(spark, sfDir, name).count())

  /** Temp dirs removed recursively at JVM exit — `File.deleteOnExit` cannot
    * delete non-empty directories, so roundtrip/sink queries would leak a
    * table copy into /tmp per run. One shared scratch root with ONE shutdown
    * hook; each call gets a fresh subdirectory (a hook per call would grow
    * the hook list without bound in a long-lived session).
    */
  private lazy val scratchRoot: java.nio.file.Path = {
    val root = java.nio.file.Files.createTempDirectory("graft_scratch_")
    Runtime.getRuntime.addShutdownHook(new Thread(() =>
      try GraftCatalog.deleteRecursively(root)
      catch { case _: Throwable => () }))
    root
  }
  private val scratchSeq = new java.util.concurrent.atomic.AtomicLong()

  /** Test hook: the shared scratch root, so specs can inspect layouts the
    * sink queries write (ScaleSpec's compaction file-count invariant).
    */
  private[graft] def scratchRootForTest: java.nio.file.Path = scratchRoot

  def scratchDir(prefix: String): java.nio.file.Path =
    // zero-padded sequence so lexicographic order == creation order (tests
    // pick "the latest dir for a prefix" by name sort; "-9" > "-12" would
    // select a stale directory)
    java.nio.file.Files.createDirectory(
      scratchRoot.resolve(f"$prefix-${scratchSeq.incrementAndGet()}%06d"))

  /** `events.ts` has shipped in two fixture generations: parquet
    * TIMESTAMP(NANOS) (Spark 4.1.2 rejects it unless `nanosAsLong` is set,
    * after which it surfaces as LONG nanoseconds — integer `div`, not float
    * `/`, matches DuckDB's ns→µs truncation, SURVEY §7.3 R6) and plain
    * TIMESTAMP(MICROS) without a timezone (surfaces as TIMESTAMP_NTZ).
    * Dispatch on the ACTUAL schema so a driver-side regeneration can't break
    * every events query at once (round 8's bench lost 51 queries to exactly
    * that). Both branches normalize to session-zoned TIMESTAMP so every
    * downstream `unix_micros`/window/watermark expression sees one type.
    */
  def events(spark: SparkSession, sfDir: String): DataFrame =
    apply(spark, sfDir, "events")

  private def loadEvents(spark: SparkSession, sfDir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // The NTZ→TIMESTAMP re-tag below is value-preserving ONLY under a UTC
    // session zone; pin it here (the same altitude as nanosAsLong) so a
    // session built without the config — round 8's Bench — cannot shift
    // every events timestamp by the host offset.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    val raw = spark.read.parquet(path(sfDir, "events"))
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case _ =>
        // TIMESTAMP_NTZ → TIMESTAMP: with session tz UTC this is a pure
        // re-tag (same micros value), and DuckDB's naive read agrees.
        raw.withColumn("ts", col("ts").cast("timestamp"))
    }
  }

  /** Typed loaders (graft.schema case classes) — the statically-checked
    * face of the same tables; see `TypedApiSpec`.
    */
  object typed {
    import graft.schema._
    def region(s: SparkSession, d: String): Dataset[Region] =
      Tables(s, d, "region").as(Encoders.product[Region])
    def nation(s: SparkSession, d: String): Dataset[Nation] =
      Tables(s, d, "nation").as(Encoders.product[Nation])
    def customer(s: SparkSession, d: String): Dataset[Customer] =
      Tables(s, d, "customer").as(Encoders.product[Customer])
    def supplier(s: SparkSession, d: String): Dataset[Supplier] =
      Tables(s, d, "supplier").as(Encoders.product[Supplier])
    def part(s: SparkSession, d: String): Dataset[Part] =
      Tables(s, d, "part").as(Encoders.product[Part])
    def orders(s: SparkSession, d: String): Dataset[Order] =
      Tables(s, d, "orders").as(Encoders.product[Order])
    def lineitem(s: SparkSession, d: String): Dataset[Lineitem] =
      Tables(s, d, "lineitem").as(Encoders.product[Lineitem])
    def events(s: SparkSession, d: String): Dataset[Event] =
      Tables.events(s, d).as(Encoders.product[Event])
    def documents(s: SparkSession, d: String): Dataset[Document] =
      Tables(s, d, "documents").as(Encoders.product[Document])
    def embeddings(s: SparkSession, d: String): Dataset[Embedding] =
      Tables(s, d, "embeddings").as(Encoders.product[Embedding])
  }

  /** Register every fixture as a temp view (for `spark.sql` declared queries). */
  def views(spark: SparkSession, sfDir: String): Unit =
    names.foreach(n => apply(spark, sfDir, n).createOrReplaceTempView(n))

  /** Deterministic total order: sort by every output column, nulls first —
    * the Spark twin of the oracles' `ORDER BY ALL NULLS FIRST` (SURVEY §7.3
    * R1/R2). Rows that still tie are bit-identical, so file order is
    * content-stable. Under `Bench`'s `.count()` Catalyst's EliminateSorts
    * drops this sort entirely — it costs nothing at benchmark time.
    */
  def canon(df: DataFrame): DataFrame =
    df.orderBy(df.columns.toIndexedSeq.map(c => col(c).asc_nulls_first): _*)
}
