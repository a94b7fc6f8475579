package object graft {

  /** A declared query: (session, scale-factor dir) => lazily-built DataFrame.
    * The driver's Verify writes the result to parquet; Bench calls .count().
    */
  type Q = (org.apache.spark.sql.SparkSession, String) => org.apache.spark.sql.DataFrame

  /** One SURVEY §2 inventory row: the Spark query plus (when the semantics
    * are deterministically SQL-expressible) the DuckDB oracle SQL the driver
    * hash-compares against. Column names/aliases MUST match between the two.
    */
  final case class Decl(query: Q, oracle: Option[String] = None)

  /** The one way to build a key registry. A `Map(...)` literal or `++`
    * silently keeps the last of two equal keys, so a re-declared key would
    * shadow an older implementation; this fails instead, naming the keys.
    */
  def declMap(entries: (String, Decl)*): Map[String, Decl] = {
    val dups = entries.groupBy(_._1).collect { case (k, es) if es.size > 1 => k }
    require(dups.isEmpty, s"duplicate query keys: ${dups.toSeq.sorted.mkString(", ")}")
    entries.toMap
  }
}
