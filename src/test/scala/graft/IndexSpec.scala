package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Persisted-index probes (AnnIndex): at 100 TB the LSH / IVF index is a
  * stored TABLE — built once, probed on every corpus refresh or query.
  * These tests prove the probe plans read ONLY the stored index
  * directories: no base-text re-scan for near-dup probes, no Lloyd re-run
  * and partition-pruned cell scans for IVF queries.
  */
class IndexSpec extends AnyFunSuite with SharedSpark {

  private val sf = "/root/testdata/sf0.001"

  /** Every file-scan root path in the (pre-AQE) physical plan. The probe
    * inputs built in these tests are local relations, so any file scan in
    * a probe plan is exactly what the probe reads from disk. */
  private def fileScanRoots(df: DataFrame): Seq[String] =
    df.queryExecution.sparkPlan.collect {
      case f: FileSourceScanExec => f.relation.location.rootPaths.map(_.toString)
    }.flatten

  test("LSH index probe reads only stored index tables and finds planted near-dups") {
    val wh = Tables.scratchDir("graft_lshidx").toString
    operators.AnnIndex.buildLshIndex(spark, sf, wh)
    // delta = perturbed twins of 5 base docs, carried as a LOCAL relation:
    // the probe plan can then contain NO file scan except the index itself
    val sp = spark; import sp.implicits._
    val base = Tables(spark, sf, "documents").select("doc_id", "text")
      .orderBy("doc_id").limit(5).collect()
    val delta = base.toSeq
      .map(r => (r.getLong(0) + 1000000L, r.getString(1).split(" ").dropRight(2).toSeq))
      .toDF("doc_id", "toks")
    val probe = operators.AnnIndex.probeLshIndex(spark, wh, delta)
    val roots = fileScanRoots(probe)
    assert(roots.nonEmpty && roots.forall(_.contains("graft_lshidx")),
      s"probe reads outside the stored index (base text re-scan): $roots")
    val pairs = probe.collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    base.foreach { r =>
      val id = r.getLong(0)
      assert(pairs.contains((id + 1000000L, id)),
        s"planted near-dup ${id + 1000000L} -> $id not found; got $pairs")
    }
    // the index directories ARE catalog tables: GraftCatalog.restore
    // re-registers them from the warehouse layout alone, so the index
    // survives a session restart with no metastore (the same mechanism
    // the SQL session's CTAS tables ride)
    val (restored, _) = GraftCatalog.restore(spark, wh)
    assert(restored.toSet == Set("lsh_bands", "lsh_features"),
      s"restore found $restored")
    assert(spark.table("lsh_bands").count() > 0)
    spark.sql("DROP TABLE IF EXISTS lsh_bands")
    spark.sql("DROP TABLE IF EXISTS lsh_features")
  }

  test("IVF index probe prunes to NProbe cells and overlaps brute-force top-k") {
    val wh = Tables.scratchDir("graft_ivfidx").toString
    operators.AnnIndex.buildIvfIndex(spark, sf, wh)
    val q = Tables(spark, sf, "embeddings").filter(col("vec_id") === 0)
      .select("embedding").head.getSeq[Float](0).toArray
    val probe = operators.AnnIndex.probeIvfIndex(spark, wh, q, k = 10, excludeId = 0L)
    val roots = fileScanRoots(probe)
    assert(roots.nonEmpty && roots.forall(_.contains("graft_ivfidx")),
      s"probe reads outside the stored index: $roots")
    // the cells scan must prune on the cid partition column at listing
    // time — reading all nlist cells would be a full-corpus scan per query
    val cellScans = probe.queryExecution.sparkPlan.collect {
      case f: FileSourceScanExec
          if f.relation.location.rootPaths.exists(_.toString.contains("ivf_cells")) => f
    }
    assert(cellScans.nonEmpty, "no cells scan in probe plan")
    assert(cellScans.forall(_.partitionFilters.exists(_.references.exists(_.name == "cid"))),
      s"cells scan not partition-pruned on cid: ${cellScans.map(_.partitionFilters)}")
    // same accuracy contract as the declared sim_ann_ivf key
    val got = probe.collect().map(_.getLong(0)).toSet
    assert(got.size == 10)
    val brute = SparkEntry.queries("sim_cosine_topk")(spark, sf).collect()
      .map(_.getLong(0)).toSet
    assert((brute intersect got).size >= 5,
      s"stored-index IVF recalled only ${(brute intersect got).size}/10 of brute-force top-10")
  }
}
