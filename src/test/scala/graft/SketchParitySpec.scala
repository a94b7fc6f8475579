package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The per-row sketch expressions (functions.SketchExpressions) claim BIT
  * parity with the relational formulations they replaced — same hashes,
  * same signatures, same entropy values. These tests hold that claim to
  * the fixture corpus, so the dedup pipelines' candidate sets and recall
  * provably did not move when the explode+shuffle stages were deleted.
  */
class SketchParitySpec extends AnyFunSuite with SharedSpark {

  private val sf = "/root/testdata/sf0.001"

  private def toks = Tables(spark, sf, "documents")
    .select(col("doc_id"), functions.TextOps.tokens(col("text")).as("toks"))

  test("ShingleHashSet equals sorted-distinct xxhash64 over the shingle rows") {
    val perRow = toks
      .select(col("doc_id"), explode(functions.TextOps.shingleHashes(col("toks"), 3)).as("h"))
    val relational = toks
      .select(col("doc_id"), functions.TextOps.shingleRows(col("toks"), 3).as("s"))
      .select(col("doc_id"), xxhash64(col("s")).as("h"))
      .distinct()
    assert(perRow.exceptAll(relational).isEmpty && relational.exceptAll(perRow).isEmpty,
      "per-row shingle hash set diverges from explode+xxhash64+distinct")
    // sortedness (the array_intersect verify and dedup rely on set form)
    val unsorted = toks
      .select(functions.TextOps.shingleHashes(col("toks"), 3).as("hs"))
      .filter(expr("hs != array_sort(hs)"))
    assert(unsorted.count() == 0, "shingle hash arrays must be sorted")
  }

  test("MinHashSig equals the 32 min(xxhash64(seed, h)) aggregates") {
    val hs = toks.select(col("doc_id"), functions.TextOps.shingleHashes(col("toks"), 3).as("hs"))
      .filter(size(col("hs")) > 0)
    val perRow = hs.select(col("doc_id"), functions.SketchOps.minhashSig(col("hs")).as("ms"))
    val relational = hs
      .select(col("doc_id"), explode(col("hs")).as("h"))
      .groupBy("doc_id")
      .agg(array((0 until operators.Minhash.NumHashes)
        .map(i => min(xxhash64(lit(i), col("h")))): _*).as("ms"))
    assert(perRow.exceptAll(relational).isEmpty && relational.exceptAll(perRow).isEmpty,
      "per-row minhash signature diverges from the relational min-aggregates")
  }

  test("SimHashSig equals SimHashAgg over the exploded token hashes") {
    val perRow = toks.select(col("doc_id"), functions.SketchOps.simhashSig(col("toks")).as("sim"))
    val relational = toks
      .select(col("doc_id"), explode(col("toks")).as("tok"))
      .groupBy("doc_id")
      .agg(functions.SimHashAgg(xxhash64(col("tok"))).as("sim"))
    assert(perRow.exceptAll(relational).isEmpty && relational.exceptAll(perRow).isEmpty,
      "per-row simhash diverges from the sketch aggregate")
  }

  test("TokenCounts equals explode + groupBy term counts") {
    val perRow = toks
      .select(col("doc_id"), explode(functions.SketchOps.tokenCounts(col("toks"))).as("tc"))
      .select(col("doc_id"), col("tc.term").as("term"), col("tc.cnt").cast("bigint").as("cnt"))
    val relational = toks
      .select(col("doc_id"), explode(col("toks")).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("cnt"))
    assert(perRow.exceptAll(relational).isEmpty && relational.exceptAll(perRow).isEmpty,
      "per-row term counts diverge from explode+groupBy")
  }

  test("CentroidAssign equals the broadcast-NL + max_by assignment") {
    import functions.VectorOps
    val emb = Tables(spark, sf, "embeddings")
    val cent = operators.VecIndex.ivfSeed(spark, sf)
    val relational = emb
      .crossJoin(broadcast(cent))
      .withColumn("sc", round(VectorOps.cosine(col("embedding"), col("centroid")), 6))
      .groupBy("vec_id")
      .agg(max_by(col("cid"), struct(col("sc"), -col("cid"))).as("cid"))
    val rows = cent.select(col("cid"), col("centroid")).collect().sortBy(_.getInt(0))
    val perRow = emb.select(col("vec_id"),
      VectorOps.centroidAssign(col("embedding"),
        rows.map(_.getInt(0)), rows.map(_.getSeq[Float](1).toArray)).as("cid"))
    assert(perRow.exceptAll(relational).isEmpty && relational.exceptAll(perRow).isEmpty,
      "per-row centroid assignment diverges from the BNL + max_by form")
  }

  test("per-row expressions handle edge rows (empty/short inputs)") {
    val sp = spark; import sp.implicits._
    val edge = Seq(
      (1L, ""), (2L, "a"), (3L, "a a a"), (4L, "x y"), (5L, "aaaa")
    ).toDF("doc_id", "text")
      .select(col("doc_id"), functions.TextOps.tokens(col("text")).as("toks"),
              col("text"))
    // 3-shingles of <3 tokens → empty set; repeated tokens dedup
    val sh = edge.select(col("doc_id"),
      size(functions.TextOps.shingleHashes(col("toks"), 3)).as("n")).collect()
      .map(r => r.getLong(0) -> r.getInt(1)).toMap
    assert(sh(1L) == 0 && sh(2L) == 0 && sh(3L) == 1 && sh(4L) == 0 && sh(5L) == 0)
    // token counts: multiplicity preserved, empty-string token counted
    val tc = edge.filter(col("doc_id") === 3)
      .select(explode(functions.SketchOps.tokenCounts(col("toks"))).as("tc"))
      .select(col("tc.term"), col("tc.cnt")).collect()
    assert(tc.length == 1 && tc.head.getString(0) == "a" && tc.head.getInt(1) == 3)
    // entropy: null on empty text, 0.0 on single-char-class text
    val e = edge.select(col("doc_id"),
      functions.SketchOps.charEntropy(col("text")).as("e")).collect()
      .map(r => r.getLong(0) -> (if (r.isNullAt(1)) null else r.getDouble(1))).toMap
    assert(e(1L) == null)
    assert(e(5L) == 0.0 && (1.0 / e(5L).asInstanceOf[Double]) > 0, // +0.0, not -0.0
      "single-class entropy must be +0.0")
    // simhash of identical docs agrees regardless of construction path
    val sigs = edge.filter(col("doc_id") >= 3)
      .select(functions.SketchOps.simhashSig(col("toks"))).collect()
    assert(sigs.distinct.length == sigs.length) // distinct docs, distinct sigs
  }

  test("CharEntropy equals the relational character-distribution entropy at 6 dp") {
    val docs = Tables(spark, sf, "documents")
    val perRow = docs.select(col("doc_id"),
      round(functions.SketchOps.charEntropy(col("text")), 6).as("e"))
    val chars = docs
      .select(col("doc_id"), explode(split(col("text"), "")).as("ch"))
      .filter(col("ch") =!= "")
    val f = chars.groupBy("doc_id", "ch").agg(count(lit(1)).as("c"))
    val n = f.groupBy("doc_id").agg(sum("c").as("n"))
    val relational = f.join(n, "doc_id").groupBy("doc_id")
      .agg(round(-sum((col("c") / col("n")) * log(col("c") / col("n"))), 6).as("e"))
    assert(perRow.exceptAll(relational).isEmpty && relational.exceptAll(perRow).isEmpty,
      "per-row entropy diverges from the relational form at 6 dp")
  }

  test("SortedLongIntersectCount equals size(array_intersect) on shingle-hash pairs") {
    // every adjacent doc pair of the fixture corpus, incl. empty-set rows
    // (the merge-count precondition is ShingleHashSet's sorted-distinct
    // output — exactly what the dedup verify joins feed it)
    val hs = toks.select(col("doc_id"), functions.TextOps.shingleHashes(col("toks"), 3).as("hs"))
    val pairs = hs.as("a")
      .join(hs.select((col("doc_id") - 1).as("doc_id"), col("hs").as("hs2")).as("b"), "doc_id")
    val diverging = pairs.filter(
      functions.TextOps.sortedIntersectCount(col("hs"), col("hs2")) =!=
        size(array_intersect(col("hs"), col("hs2"))).cast("bigint"))
    assert(diverging.count() == 0,
      "merge-count diverges from size(array_intersect) on sorted-distinct inputs")
    // self-intersection is the full set; disjoint shifted sets are 0
    val self = hs.filter(
      functions.TextOps.sortedIntersectCount(col("hs"), col("hs")) =!=
        size(col("hs")).cast("bigint"))
    assert(self.count() == 0, "self-intersection must equal the set size")
  }

  private def euclideanToConstParity(): Unit = {
    // the k-center greedy pass's distance — against a real fixture vector
    // (the seed) and an arbitrary constant; equality is EXACT doubles
    val emb = Tables(spark, sf, "embeddings").select(col("vec_id"), col("embedding"))
    val seed = emb.filter(col("vec_id") === 0)
      .select("embedding").collect()(0).getSeq[Float](0).map(_.toDouble).toSeq
    def hof(b: Seq[Double]) =
      sqrt(aggregate(
        zip_with(col("embedding"), typedLit(b),
                 (x, y) => (x.cast("double") - y) * (x.cast("double") - y)),
        lit(0.0), (acc, x) => acc + x))
    for (b <- Seq(seed, seed.map(_ * 0.5 + 0.125))) {
      val diverging = emb.filter(
        functions.VectorOps.euclideanToConst(col("embedding"), b) =!= hof(b))
      assert(diverging.count() == 0,
        "euclidean_to_const diverges from the HOF fold")
    }
  }

  test("EuclideanToConst equals the zip_with+aggregate fold bit-for-bit") {
    euclideanToConstParity()
  }

  test("EuclideanToConst parity holds under interpreted (NO_CODEGEN) execution") {
    val confs = Seq("spark.sql.codegen.factoryMode" -> "NO_CODEGEN",
                    "spark.sql.codegen.wholeStage" -> "false")
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try euclideanToConstParity()
    finally confs.foreach { case (k, _) => spark.conf.unset(k) }
  }
}
