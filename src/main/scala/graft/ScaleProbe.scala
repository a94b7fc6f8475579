package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Complexity-cliff probe for the pair-generating / iterative families
  * (round-9 verdict item 8): the sf0.1 bench cannot distinguish O(n) from
  * O(n²) shapes, so this main minting a ×FACTOR corpus from the sf0.1
  * documents/embeddings fixtures (doc_id/vec_id offset per replica — the
  * near-dup/planted structure replicates per copy instead of collapsing
  * into one giant dup group) and times the families that generate pairs
  * or iterate. A key whose runtime grows super-linearly in FACTOR has a
  * complexity cliff the per-round bench can't see.
  *
  * Two minting modes: the default replicates documents/embeddings (the
  * pair-generating/iterative families); `--tpch` replicates the whole
  * TPC-H FK web with consistent per-replica key offsets ([[mintTpch]])
  * and defaults to the 22-query suite — the sf1-equivalent scale point
  * for the relational families.
  *
  * Usage: runMain graft.ScaleProbe <sfDir> <workDir> <factor> [--tpch] [keys...]
  * Prints one JSON line: {"factor":N,"queries":{name:sec,...}}.
  */
object ScaleProbe {

  val defaultKeys: Seq[String] = Seq(
    "dedup_exact", "dedup_keep_canonical", "dedup_near_minhash",
    "dedup_simhash", "dedup_ngram_jaccard", "dedup_embedding_cosine",
    "dedup_containment", "dedup_span_cross", "dedup_edit_distance",
    "dedup_connected_components", "dedup_semantic_cluster",
    "graph_pagerank", "graph_bfs_layers", "graph_triangle_count",
    "graph_adamic_adar", "graph_harmonic_sampled",
    "sim_ann_lsh", "sim_ann_ivf", "sim_ann_pq", "sim_cosine_topk",
    "sim_knn_join", "text_tfidf_topterms", "text_collocation_g2")

  def mint(spark: SparkSession, sfDir: String, workDir: String,
           factor: Int): Unit = {
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val nDoc = docs.agg(max("doc_id")).head.getLong(0) + 1
    val nVec = emb.agg(max("vec_id")).head.getLong(0) + 1
    val reps = spark.range(factor).select(col("id").as("rep"))
    docs.crossJoin(reps)
      .select((col("doc_id") + col("rep") * nDoc).as("doc_id"),
              col("text"), col("lang"), col("source"), col("n_chars"))
      .write.mode("overwrite").parquet(s"$workDir/documents.parquet")
    emb.crossJoin(reps)
      .select((col("vec_id") + col("rep") * nVec).as("vec_id"),
              col("embedding"), col("label"))
      .write.mode("overwrite").parquet(s"$workDir/embeddings.parquet")
    // the un-replicated tables link through so keys touching a dimension
    // (graph_adamic_adar reads orders for its weights) still run; their
    // cost is constant across factors and cancels in the ratio
    Tables.names.filterNot(n => n == "documents" || n == "embeddings")
      .foreach { n =>
        val from = java.nio.file.Paths.get(s"$sfDir/$n.parquet")
        val to = java.nio.file.Paths.get(s"$workDir/$n.parquet")
        java.nio.file.Files.deleteIfExists(to)
        java.nio.file.Files.createSymbolicLink(to, from)
      }
  }

  /** The whole TPC-H suite as declared keys (Q1 = agg_groupby_pricing). */
  val tpchKeys: Seq[String] =
    "agg_groupby_pricing" +: (2 to 22).map(i => s"tpch_q$i")

  /** Replicate the TPC-H web ×factor with CONSISTENT key offsets: every
    * replica shifts orderkey/custkey/partkey/suppkey by r·(max+1) of its
    * domain, so all FK edges stay inside the replica — the join
    * selectivities and per-key group sizes of the original are preserved
    * exactly while facts AND dimensions grow ×factor (what a bigger SF
    * does). nation/region (and the doc-side tables) stay fixed. */
  def mintTpch(spark: SparkSession, sfDir: String, workDir: String,
               factor: Int): Unit = {
    def load(n: String) = spark.read.parquet(s"$sfDir/$n.parquet")
    def domain(df: DataFrame, c: String): Long =
      df.agg(max(c)).head.getLong(0) + 1
    val orders = load("orders"); val lineitem = load("lineitem")
    val customer = load("customer"); val part = load("part")
    val supplier = load("supplier")
    val nO = domain(orders, "o_orderkey"); val nC = domain(customer, "c_custkey")
    val nP = domain(part, "p_partkey"); val nS = domain(supplier, "s_suppkey")
    val reps = spark.range(factor).select(col("id").as("rep"))
    def shift(df: DataFrame, offsets: Map[String, Long]): DataFrame = {
      val cols = df.columns.map { c =>
        offsets.get(c).map(m => (col(c) + col("rep") * m).as(c)).getOrElse(col(c))
      }
      df.crossJoin(reps).select(cols.toIndexedSeq: _*)
    }
    shift(orders, Map("o_orderkey" -> nO, "o_custkey" -> nC))
      .write.mode("overwrite").parquet(s"$workDir/orders.parquet")
    shift(lineitem, Map("l_orderkey" -> nO, "l_partkey" -> nP, "l_suppkey" -> nS))
      .write.mode("overwrite").parquet(s"$workDir/lineitem.parquet")
    shift(customer, Map("c_custkey" -> nC))
      .write.mode("overwrite").parquet(s"$workDir/customer.parquet")
    shift(part, Map("p_partkey" -> nP))
      .write.mode("overwrite").parquet(s"$workDir/part.parquet")
    shift(supplier, Map("s_suppkey" -> nS))
      .write.mode("overwrite").parquet(s"$workDir/supplier.parquet")
    Seq("nation", "region", "events", "documents", "embeddings").foreach { n =>
      val from = java.nio.file.Paths.get(s"$sfDir/$n.parquet")
      val to = java.nio.file.Paths.get(s"$workDir/$n.parquet")
      java.nio.file.Files.deleteIfExists(to)
      java.nio.file.Files.createSymbolicLink(to, from)
    }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args(0); val workDir = args(1); val factor = args(2).toInt
    val tpchMode = args.length > 3 && args(3) == "--tpch"
    val rest = args.drop(if (tpchMode) 4 else 3).toSeq
    val keys =
      if (rest.nonEmpty) rest else if (tpchMode) tpchKeys else defaultKeys
    val spark = LocalSpark.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    if (tpchMode) mintTpch(spark, sfDir, workDir, factor)
    else mint(spark, sfDir, workDir, factor)
    val times = keys.map { name =>
      val fn = SparkEntry.queries(name)
      val t0 = System.nanoTime()
      val sec =
        try { fn(spark, workDir).count(); (System.nanoTime() - t0) / 1e9 }
        catch { case e: Throwable =>
          System.err.println(s"[probe] $name failed: ${e.getMessage}"); -1.0
        }
      spark.catalog.clearCache()
      name -> sec
    }
    val qjson = times.map { case (n, t) => s""""$n":${f"$t%.3f"}""" }
      .mkString(",")
    println(s"""{"factor":$factor,"queries":{$qjson}}""")
    spark.stop()
  }
}
