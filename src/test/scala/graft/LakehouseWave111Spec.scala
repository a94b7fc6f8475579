package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Wave-111 invariants: mergeSchema really unions the footers (the
  * evolved column exists, v1 rows are NULL there, and WITHOUT
  * mergeSchema the first-footer schema can hide it), and recursive
  * lookup finds every nested leaf file (row-count conservation).
  */
class LakehouseWave111Spec extends AnyFunSuite with SharedSpark {

  private val sf = "/root/testdata/sf0.001"

  test("schema evolution: NULL accounting splits exactly on the version") {
    val rows = SparkEntry.queries("source_schema_evolution")(spark, sf)
      .collect()
    val docs = Tables(spark, sf, "documents")
      .select(col("lang"), col("doc_id"), col("n_chars")).collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    rows.foreach { r =>
      val lang = r.getString(0)
      val mine = docs.filter(_._1 == lang)
      assert(r.getLong(1) == mine.length.toLong, s"n_docs at $lang")
      assert(r.getLong(2) == mine.count(_._2 % 2 == 0).toLong,
        s"legacy (v1) rows are exactly the even doc_ids at $lang")
      assert(r.getLong(3) == mine.filter(_._2 % 2 == 1).map(_._3).sum,
        s"v2 chars at $lang")
    }
  }

  test("recursive lookup conserves every nested row") {
    val total = SparkEntry.queries("scan_recursive_file_lookup")(spark, sf)
      .agg(sum(col("n_docs"))).collect().head.getLong(0)
    assert(total == Tables(spark, sf, "documents").count(),
      "all three nested directories are discovered")
  }
}
