package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // args beyond (sfDir, outDir) narrow the dump to named queries — the
    // local single-query loop while building; the driver passes none.
    val (Array(sfDir, outDir), names) = args.splitAt(2)
    val spark = LocalSpark.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    val selected =
      if (names.isEmpty) SparkEntry.queries
      else {
        val unknown = names.filterNot(SparkEntry.queries.contains)
        require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
        SparkEntry.queries.view.filterKeys(names.contains).toMap
      }
    // Query-level parallelism: each query is an independent plan writing
    // its own directory, and Spark's scheduler interleaves concurrent
    // jobs across the executor threads — 4-way cuts the 222-query dump's
    // wall-clock ~3× (per-query fixed overhead dominates at sf0.01).
    // SPARK_GRAFT_VERIFY_PAR=1 restores strict sequential execution with
    // the per-query cache clear (the clear is unsafe concurrently: it
    // would unpersist another in-flight query's intermediates, forcing
    // deterministic-but-wasteful recomputes).
    val par = sys.env.getOrElse("SPARK_GRAFT_VERIFY_PAR", "4").toInt
    def runOne(name: String, fn: Q): Unit =
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    if (par <= 1) {
      selected.foreach { case (name, fn) =>
        runOne(name, fn)
        // Release intermediates persisted by pipeline queries (minhash,
        // simhash, ngram) so cached blocks don't accumulate across runs.
        spark.catalog.clearCache()
      }
    } else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(par)
      try {
        val tasks = selected.toSeq.map { case (name, fn) =>
          pool.submit(new Runnable { def run(): Unit = runOne(name, fn) })
        }
        tasks.foreach(_.get())
      } finally pool.shutdown()
      spark.catalog.clearCache()
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql.view.filterKeys(selected.contains).toMap
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
  }
}
