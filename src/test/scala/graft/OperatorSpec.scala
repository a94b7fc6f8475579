package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Operator-level invariants on sf0.001 (SURVEY §5): every declared query
  * executes; the sketch/approximate operators stay inside their bounds; the
  * contract between `queries` and `oracleSql` holds; physical plans keep
  * their scale-critical properties (pushdown, broadcast).
  */
class OperatorSpec extends AnyFunSuite with SharedSpark {

  private val sf = "/root/testdata/sf0.001"

  test("entry (flagship star join) returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("oracleSql keys are a subset of queries keys") {
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }

  test("every declared query executes at sf0.001") {
    val failures = SparkEntry.queries.toSeq.flatMap { case (name, fn) =>
      try { fn(spark, sf).count(); None }
      catch { case e: Throwable => Some(s"$name: ${e.getMessage.linesIterator.next()}") }
    }
    assert(failures.isEmpty, failures.mkString("\n"))
  }

  test("approx_percentile stays within 5% of the exact percentile") {
    val exact = Tables(spark, sf, "orders")
      .groupBy("o_orderpriority")
      .agg(expr("percentile(o_totalprice, 0.5)").as("med"),
           expr("percentile(o_totalprice, 0.9)").as("p90"))
      .collect().map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    SparkEntry.queries("agg_approx_percentile")(spark, sf)
      .collect().foreach { r =>
        val (med, p90) = exact(r.getString(0))
        assert(math.abs(r.getDouble(1) - med) / med < 0.05,
          s"${r.getString(0)} median: approx=${r.getDouble(1)} exact=$med")
        assert(math.abs(r.getDouble(2) - p90) / p90 < 0.05,
          s"${r.getString(0)} p90: approx=${r.getDouble(2)} exact=$p90")
      }
  }

  test("approx_count_distinct stays within 5% of exact") {
    val exact = Tables(spark, sf, "lineitem")
      .groupBy("l_returnflag").agg(countDistinct("l_partkey").as("x"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val approx = SparkEntry.queries("agg_approx_distinct")(spark, sf)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    exact.foreach { case (k, x) =>
      assert(math.abs(approx(k) - x).toDouble / x < 0.05, s"$k: approx=${approx(k)} exact=$x")
    }
  }

  test("hll sketch estimates stay within 5% of exact, union included") {
    val exactPer = Tables(spark, sf, "orders")
      .groupBy("o_orderpriority").agg(countDistinct("o_custkey").as("x"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val exactAll = Tables(spark, sf, "orders")
      .agg(countDistinct("o_custkey")).first().getLong(0)
    SparkEntry.queries("agg_hll_sketch_union")(spark, sf)
      .collect().foreach { r =>
        val scope = r.getString(0)
        val exact = if (scope == "ALL") exactAll else exactPer(scope)
        assert(math.abs(r.getLong(1) - exact).toDouble / exact < 0.05,
          s"$scope: sketch=${r.getLong(1)} exact=$exact")
      }
  }

  test("minhash near-dedup recovers planted near-dups with high recall and exact Jaccard") {
    val rows = SparkEntry.queries("dedup_near_minhash")(spark, sf).collect()
    val planted = rows.count(r => r.getLong(1) == r.getLong(0) + 1000000L)
    assert(planted >= 490, s"recall too low: $planted/500 planted pairs found")
    assert(rows.forall(_.getDouble(2) >= 0.5)) // precision: verification filter held
  }

  test("incremental near-dedup recovers planted delta-vs-base pairs, no base-base pairs") {
    val rows = SparkEntry.queries("dedup_near_incremental")(spark, sf).collect()
    val planted = rows.count(r => r.getLong(0) == r.getLong(1) + 1000000L)
    assert(planted >= 490, s"recall too low: $planted/500 planted pairs found")
    rows.foreach { r =>
      assert(r.getLong(0) >= 1000000L && r.getLong(1) < 1000000L,
        s"pair is not delta-vs-base: (${r.getLong(0)}, ${r.getLong(1)})")
      assert(r.getDouble(2) >= 0.5)
    }
  }

  test("simhash near-dedup finds planted near-dups within hamming radius") {
    val rows = SparkEntry.queries("dedup_simhash")(spark, sf).collect()
    val planted = rows.count(r => r.getLong(1) == r.getLong(0) + 1000000L)
    // Radius-bounded: dropping 2 of ~7 tokens in the shortest docs flips
    // more than 3 signature bits, so those pairs are legitimately outside
    // the hamming<=3 contract — ~75-80% of planted pairs sit inside it.
    assert(planted >= 350, s"recall too low: $planted/500 planted pairs at hamming<=3")
    assert(rows.forall(_.getInt(2) <= 3))
  }

  test("SRP-LSH neighbor recall vs the exact pair set") {
    val exact = SparkEntry.queries("sim_pair_threshold")(spark, sf).collect()
      .map(r => (r.getLong(1), r.getLong(2))).toSet
    val approx = SparkEntry.queries("sim_ann_lsh")(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    // every LSH pair is genuinely >= tau (precision is exact by construction);
    // recall of the 16-bit single-table SRP at tau=0.3 is modest by design —
    // assert it finds a nontrivial fraction and nothing spurious.
    assert(approx.nonEmpty)
    val recalled = exact.count(approx.contains).toDouble
    assert(recalled / exact.size > 0.1, s"recall ${recalled / exact.size} too low")
  }

  test("LSH-prefiltered embedding dedup equals the exact all-pairs result (recall 1.0)") {
    import graft.functions.VectorOps
    // brute-force ground truth with the query's own corpus construction
    val emb = Tables(spark, sf, "embeddings")
    val pert = emb.select(
      (col("vec_id") + 100000L).as("vec_id"),
      concat(array(element_at(col("embedding"), 2), element_at(col("embedding"), 1)),
             slice(col("embedding"), lit(3), lit(62))).as("embedding"),
      col("label"))
    val all = emb.select("vec_id", "embedding", "label").unionAll(pert)
    val a = all.select(col("label"), col("vec_id").as("id_a"), col("embedding").as("ea"))
    val b = all.select(col("label").as("lb"), col("vec_id").as("id_b"), col("embedding").as("eb"))
    val exact = a.join(b, col("label") === col("lb") && col("id_a") < col("id_b"))
      .withColumn("cos", round(VectorOps.cosine(col("ea"), col("eb")), 6))
      .filter(col("cos") >= 0.95)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = SparkEntry.queries("dedup_embedding_cosine")(spark, sf).collect()
      .map(r => (r.getLong(1), r.getLong(2))).toSet
    // set EQUALITY: the SRP prefilter must lose nothing (the oracle is the
    // exact all-pairs SQL) and the cosine verify must admit nothing extra
    assert(got == exact,
      s"missed=${(exact -- got).take(5)} spurious=${(got -- exact).take(5)} " +
      s"(|exact|=${exact.size}, |got|=${got.size})")
  }

  test("vec_dot returns NULL on dimension mismatch (not a truncated sum)") {
    val sp = spark; import sp.implicits._
    val df = Seq((Array(1.0f, 2.0f), Array(1.0f, 2.0f, 3.0f))).toDF("a", "b")
    val r = df.select(graft.functions.VectorOps.dot(col("a"), col("b"))).collect()
    assert(r(0).isNullAt(0), "mismatched vector lengths must yield NULL")
    val same = Seq((Array(1.0f, 2.0f), Array(3.0f, 4.0f)))
      .toDF("a", "b")
      .select(graft.functions.VectorOps.dot(col("a"), col("b"))).collect()
    assert(same(0).getDouble(0) == 11.0)
  }

  test("IVF routed top-k overlaps brute-force top-k") {
    val brute = SparkEntry.queries("sim_cosine_topk")(spark, sf).collect()
      .map(_.getLong(0)).toSet
    val ivf = SparkEntry.queries("sim_ann_ivf")(spark, sf).collect()
      .map(_.getLong(0)).toSet
    assert(ivf.size == 10)
    assert((brute intersect ivf).size >= 5,
      s"IVF(nprobe=3/10) recalled only ${(brute intersect ivf).size}/10 of brute-force top-10")
  }

  test("window running sum equals a naive scanLeft recompute") {
    val sp = spark; import sp.implicits._
    import org.apache.spark.sql.expressions.Window
    val rnd = new scala.util.Random(42)
    val data = for (k <- 0L until 5L; i <- 0L until 50L)
      yield (k, i, rnd.nextInt(100000) / 100.0)
    val w = Window.partitionBy("k").orderBy("seq")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val got = data.toDF("k", "seq", "v")
      .withColumn("rs", sum(col("v")).over(w))
      .orderBy("k", "seq").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(3))).toSeq
    val want = data.groupBy(_._1).toSeq.flatMap { case (k, rows) =>
      rows.sortBy(_._2).scanLeft((k, -1L, 0.0)) {
        case ((_, _, acc), (kk, s, v)) => (kk, s, acc + v)
      }.drop(1)
    }.sortBy(t => (t._1, t._2))
    assert(got == want)
  }

  test("text_fingerprint is order-sensitive where md5 dedup is not") {
    val sp = spark; import sp.implicits._
    val df = Seq((1L, "a b c"), (2L, "c b a")).toDF("doc_id", "text")
    df.createOrReplaceTempView("tmp_fp")
    val fps = sp.sql(
      """SELECT aggregate(transform(split(text, ' '), t -> (length(t) * 131 + ascii(t)) % 1000000007),
        |CAST(0 AS BIGINT), (a, x) -> (a * 31 + x) % 1000000007) AS fp FROM tmp_fp""".stripMargin)
      .collect().map(_.getLong(0))
    assert(fps(0) != fps(1), "permuted token order must change the fingerprint")
  }

  test("ADT payloads stay null for losing variants under overlapping conditions") {
    val sp = spark; import sp.implicits._
    import graft.adt.Adt
    val df = Seq(20, 5, -1).toDF("x")
    val adtCol = Adt.construct(
      (col("x") > 0) -> Adt.variant("Pos")("v" -> col("x")),
      (col("x") > 10) -> Adt.variant("Big")("v" -> col("x") * 2))
    val rows = df.select(col("x"), Adt.tagOf(adtCol).as("tag"),
        Adt.payload(adtCol, "Big").getField("v").as("bigv"))
      .orderBy(col("x").desc).collect()
    // x=20 matches both conditions: tag is first-match "Pos", and the
    // losing "Big" payload must be null (payload()'s documented contract).
    assert(rows(0).getString(1) == "Pos" && rows(0).isNullAt(2))
    assert(rows(2).getString(1) == null) // x = -1 matches nothing
  }

  test("ADT construct is exhaustive over orders (no null tags)") {
    val df = SparkEntry.queries("adt_construct")(spark, sf)
    assert(df.filter(col("tag").isNull).count() == 0)
  }

  test("scan_prune_project prunes the parquet read schema to 2 columns") {
    val plan = SparkEntry.queries("scan_prune_project")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("ReadSchema"))
    assert(!plan.contains("l_shipdate"), "pruned scan must not read unused columns")
  }

  test("scan_filter_pushdown pushes the predicate to parquet") {
    val plan = SparkEntry.queries("scan_filter_pushdown")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate"))
  }

  test("join_multiway_star broadcasts the dimension tables") {
    val plan = SparkEntry.queries("join_multiway_star")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"))
  }

  test("sim_cosine_topk plans as TakeOrderedAndProject (no global sort)") {
    val plan = SparkEntry.queries("sim_cosine_topk")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"))
  }

  // Redaction completeness: every constructed row carries exactly one email
  // and one phone, so after the scrub no raw PII pattern may survive and
  // every row must report exactly 2 redactions. An oracle hash-match can't
  // see "the regex never fired" if both engines fail the same way — this
  // asserts the semantics directly.
  test("text_pii_redact removes every planted email and phone") {
    val out = SparkEntry.queries("text_pii_redact")(spark, sf).collect()
    assert(out.nonEmpty)
    out.foreach { r =>
      val red = r.getAs[String]("redacted")
      assert(!red.contains("@example.com") && !red.matches(".*\\+1-555-[0-9]{4}.*"),
        s"unredacted PII survived: $red")
      assert(red.contains("<EMAIL>") && red.contains("<PHONE>"))
      assert(r.getAs[Int]("n_redactions") == 2)
    }
  }

  // approx_top_k is a sketch (no oracle); at this cardinality (3 distinct
  // flags) the sketch must be EXACT — items and counts equal to the true
  // top-3 from a full groupBy.
  test("agg_approx_topk matches the exact top-3 at fixture cardinality") {
    val approx = SparkEntry.queries("agg_approx_topk")(spark, sf).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    val exact = Tables(spark, sf, "lineitem")
      .groupBy("l_returnflag").count()
      .orderBy(col("count").desc, col("l_returnflag").asc)
      .limit(3).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    assert(approx.toSeq == exact.toSeq)
  }

  // KLL sketch quantiles (per-group AND merged-global) must stay within 5%
  // of the exact interpolated percentiles — the bound mirrors the other
  // sketch ops' contract.
  test("agg_kll_quantile_merge stays within 5% of exact percentiles") {
    val rows = SparkEntry.queries("agg_kll_quantile_merge")(spark, sf).collect()
      .map(r => r.getString(0) -> (r.getDouble(1), r.getDouble(2))).toMap
    val orders = Tables(spark, sf, "orders")
    def exact(df: org.apache.spark.sql.DataFrame): (Double, Double) = {
      val r = df.select(
        expr("percentile(o_totalprice, 0.5)"), expr("percentile(o_totalprice, 0.9)")).head()
      (r.getDouble(0), r.getDouble(1))
    }
    val statuses = orders.select("o_orderstatus").distinct().collect().map(_.getString(0))
    (statuses.map(st => st -> exact(orders.filter(col("o_orderstatus") === st))) :+
      ("ALL" -> exact(orders))).foreach { case (k, (e50, e90)) =>
      val (s50, s90) = rows(k)
      assert(math.abs(s50 - e50) / e50 < 0.05, s"$k p50: sketch $s50 vs exact $e50")
      assert(math.abs(s90 - e90) / e90 < 0.05, s"$k p90: sketch $s90 vs exact $e90")
    }
  }

  // The native shingle generator must be row-for-row identical to the HOF
  // formulation it replaced (same order, same strings, same edge cases:
  // short docs yield nothing) — the minhash/Jaccard oracles depend on the
  // shingle sets being unchanged.
  test("WordShingles generator matches the HOF shingle formulation") {
    import graft.functions.TextOps
    val docs = Tables(spark, sf, "documents")
      .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
    for (n <- Seq(2, 3, 7)) {
      val hof = docs.select(col("doc_id"), explode(TextOps.shingles(col("toks"), n)).as("s"))
      val gen = docs.select(col("doc_id"), TextOps.shingleRows(col("toks"), n).as("s"))
      assert(gen.exceptAll(hof).isEmpty && hof.exceptAll(gen).isEmpty,
        s"generator and HOF shingles diverge at n=$n")
    }
    // degenerate inputs: shorter than n, empty array, null
    val sp = spark; import sp.implicits._
    val edge = Seq(Some(Seq("a", "b")), Some(Seq.empty[String]), None).toDF("toks")
    assert(edge.select(TextOps.shingleRows(col("toks"), 3)).count() == 0)
  }

  // Edit-distance dedup must find the planted near-identical prefix pairs
  // (distance well under random word-soup baseline ≥21, probed) and never
  // pair across blocks.
  test("dedup_edit_distance pairs stay within (lang, source) blocks") {
    val pairs = SparkEntry.queries("dedup_edit_distance")(spark, sf).collect()
    val docs = Tables(spark, sf, "documents")
      .select("doc_id", "lang", "source").collect()
      .map(r => r.getLong(0) -> (r.getString(1), r.getString(2))).toMap
    pairs.foreach { r =>
      assert(docs(r.getAs[Long]("id_a")) == docs(r.getAs[Long]("id_b")),
        "pair crosses a blocking key")
      assert(r.getAs[Int]("dist") <= 20)
    }
  }

  // PageRank invariants beyond the oracle hash: rank mass is conserved
  // exactly (mean-normalized ranks sum to n — no dangling leakage by
  // graph construction) and every rank stays above the teleport floor.
  test("graph_pagerank conserves rank mass and respects the teleport floor") {
    val rows = SparkEntry.queries("graph_pagerank")(spark, sf).collect()
    val n = rows.length.toDouble
    val mass = rows.map(_.getAs[Double]("rank_norm")).sum
    assert(math.abs(mass - n) < 1e-2 * n, s"rank mass $mass != $n")
    rows.foreach(r => assert(r.getAs[Double]("rank_norm") >= 0.15 - 1e-6,
      s"rank below teleport floor: ${r.getAs[Double]("rank_norm")}"))
  }

  // Dangling-mass PageRank: conservation here is load-bearing — 25% of
  // nodes are sinks by construction, so dropping the redistribution term
  // leaks 0.85·(sink mass) per iteration and this sum drifts far below n.
  // Also pin that the sink set is genuinely non-empty and ranked.
  test("graph_pagerank_dangling redistributes sink mass and keeps every node") {
    val rows = SparkEntry.queries("graph_pagerank_dangling")(spark, sf).collect()
    val n = rows.length.toDouble
    val mass = rows.map(_.getAs[Double]("rank_norm")).sum
    assert(math.abs(mass - n) < 1e-2 * n, s"rank mass $mass != $n")
    rows.foreach(r => assert(r.getAs[Double]("rank_norm") >= 0.15 - 1e-6,
      s"rank below teleport floor: ${r.getAs[Double]("rank_norm")}"))
    val sinks = rows.count(_.getAs[Long]("doc_id") % 4 == 0)
    assert(sinks > 0 && sinks * 4 >= rows.length - 4, s"sink coverage off: $sinks")
  }

  // agg_cms_heavyhitter has no oracle (no CMS in DuckDB): the sketch's
  // contract is one-sided — estimates NEVER undercount, and overcount by
  // at most εN (ε=0.001) with probability 1−δ. Both exact counts ride in
  // the output, so the bound is a direct row check.
  test("agg_cms_heavyhitter estimates within the CMS overcount bound") {
    val n = Tables(spark, sf, "lineitem").count()
    SparkEntry.queries("agg_cms_heavyhitter")(spark, sf).collect().foreach { r =>
      val exact = r.getAs[Long]("exact_cnt"); val est = r.getAs[Long]("cms_estimate")
      assert(est >= exact, s"CMS undercounted key ${r.get(0)}: $est < $exact")
      assert(est <= exact + math.ceil(0.001 * n).toLong,
        s"CMS overcount beyond εN for key ${r.get(0)}: $est vs $exact (n=$n)")
    }
  }

  // vec_pca_topcomponent has no oracle (no eigen solver in DuckDB): assert
  // the eigen invariants directly against an exact driver-side covariance
  // recomputation — the returned direction is unit-norm, (numerically) an
  // eigenvector (‖Cv − λv‖ ≈ 0 with λ its Rayleigh quotient), and no
  // coordinate axis captures more variance than it.
  test("vec_pca_topcomponent is the dominant covariance direction") {
    val dim = 64
    val v = new Array[Double](dim)
    SparkEntry.queries("vec_pca_topcomponent")(spark, sf).collect()
      .foreach(r => v(r.getAs[Int]("dim")) = r.getAs[Double]("weight"))
    val nrm = math.sqrt(v.map(x => x * x).sum)
    assert(math.abs(nrm - 1.0) < 1e-4, s"component not unit-norm: $nrm")
    // exact covariance, recomputed independently of the Aggregator path
    val rows = Tables(spark, sf, "embeddings")
      .select("embedding").collect().map(_.getSeq[Float](0).map(_.toDouble).toArray)
    val n = rows.length.toDouble
    val mean = Array.tabulate(dim)(i => rows.map(_(i)).sum / n)
    val cov = Array.tabulate(dim, dim)((i, j) =>
      rows.map(r => (r(i) - mean(i)) * (r(j) - mean(j))).sum / n)
    def quadForm(x: Array[Double]): Double = {
      val cx = Array.tabulate(dim)(i => (0 until dim).map(j => cov(i)(j) * x(j)).sum)
      (0 until dim).map(i => x(i) * cx(i)).sum / x.map(a => a * a).sum
    }
    val lambda = quadForm(v)
    val cv = Array.tabulate(dim)(i => (0 until dim).map(j => cov(i)(j) * v(j)).sum)
    val residual = math.sqrt((0 until dim).map(i => {
      val d = cv(i) - lambda * v(i); d * d
    }).sum)
    assert(residual / lambda < 1e-2, s"not an eigenvector: residual=$residual λ=$lambda")
    (0 until dim).foreach { i =>
      assert(cov(i)(i) <= lambda + 1e-9,
        s"axis $i variance ${cov(i)(i)} beats the component's λ=$lambda")
    }
  }

  // SemDeDup contract: clustering may only LOSE pairs whose members split
  // across cells (recall < 1 by design, bounded below), and must never
  // invent one — every reported pair carries an exact cosine >= tau, so
  // the output is a subset of the label-free brute-force pair set.
  test("semantic-cluster dedup: subset of exact pairs, planted recall >= 0.9") {
    import graft.functions.VectorOps
    val emb = Tables(spark, sf, "embeddings")
    val pert = emb.select(
      (col("vec_id") + 100000L).as("vec_id"),
      concat(array(element_at(col("embedding"), 2), element_at(col("embedding"), 1)),
             slice(col("embedding"), lit(3), lit(62))).as("embedding"))
    val all = emb.select("vec_id", "embedding").unionAll(pert)
    val a = all.select(col("vec_id").as("id_a"), col("embedding").as("ea"))
    val b = all.select(col("vec_id").as("id_b"), col("embedding").as("eb"))
    val exact = a.join(b, col("id_a") < col("id_b"))
      .withColumn("cos", round(VectorOps.cosine(col("ea"), col("eb")), 6))
      .filter(col("cos") >= 0.95)
      .select("id_a", "id_b").collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val got = SparkEntry.queries("dedup_semantic_cluster")(spark, sf).collect()
      .map(r => (r.getLong(1), r.getLong(2))).toSet
    assert(exact.nonEmpty, "fixture has no exact near-dup pairs to recall")
    assert(got.subsetOf(exact), s"spurious pairs: ${(got -- exact).take(5)}")
    val recall = exact.count(got.contains).toDouble / exact.size
    assert(recall >= 0.9, s"semantic recall $recall below 0.9 (|exact|=${exact.size})")
  }

  // Golden BPE encodings, hand-traced through the ranked merge list: the
  // fully-merged vocabulary words collapse to 1 token, partially-covered
  // words stop at their exact merge frontier, and out-of-vocab text falls
  // back toward characters. The declared key's DuckDB oracle re-runs the
  // same algorithm as a replace chain, so this pins the NATIVE fold (and
  // the whole-stage codegen path via a 2-column projection) independently.
  test("BPE token counts match hand-traced golden encodings") {
    import graft.functions.BpeOps
    val golden = Seq(
      "scan" -> 1, "customer" -> 1, "column" -> 1, "batch" -> 1,
      "join" -> 1, "hash" -> 1, "row" -> 1, "small" -> 1, "filter" -> 1,
      "part" -> 2, "merge" -> 2, "slow" -> 2, "dup" -> 3,
      "the" -> 3, "order" -> 3, "query" -> 4, "group" -> 5,
      "zzz" -> 3,        // out-of-vocab: stays at characters
      "" -> 0)
    golden.foreach { case (w, n) =>
      assert(BpeOps.countWord(w) == n, s"countWord($w) = ${BpeOps.countWord(w)}, want $n")
    }
    assert(BpeOps.countWord("scanscan") == 2,  // merges apply within one word
      s"countWord(scanscan) = ${BpeOps.countWord("scanscan")}")
    // oracle-encoding robustness: '(' ')' are wrapper-reserved and
    // stripped in both engines (a literal paren must not inflate the
    // count), and symbols are codepoints — a non-BMP char (2 UTF-16
    // units) is ONE symbol, matching DuckDB's string_split(w, '')
    assert(BpeOps.countWord("sc(an)") == 1, s"paren strip: ${BpeOps.countWord("sc(an)")}")
    assert(BpeOps.countWord("()") == 0, s"all-paren word: ${BpeOps.countWord("()")}")
    assert(BpeOps.countWord("a😀b") == 3,  // a, 😀, b
      s"codepoint symbols: ${BpeOps.countWord("a😀b")}")
    // text sum = word sum; empty splits contribute nothing
    val sp = spark; import sp.implicits._
    val got = Seq("scan  the query", "").toDF("text")
      .select(BpeOps.bpeTokenCount(col("text")).as("n"), length(col("text")).as("len"))
      .collect().map(_.getInt(0)).toSeq
    assert(got == Seq(1 + 3 + 4, 0), s"got $got")
  }

  // The candidate-gated edit-distance dedup must recover the FULL
  // all-pairs result on the fixture (typo-grade dups share bigrams, so
  // the df-capped inverted index loses nothing here) — the linear-scaling
  // key is only a valid substitute while this recall-1.0 property holds.
  test("dedup_edit_candidates equals the all-pairs edit-distance result") {
    def pairs(name: String) =
      SparkEntry.queries(name)(spark, sf).collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getInt(2))).toSet
    val full = pairs("dedup_edit_distance")
    val gated = pairs("dedup_edit_candidates")
    assert(gated == full, s"candidate gate lost pairs: full=$full gated=$gated")
  }

  // source_avro_roundtrip's machinery: schema fidelity (types AND the
  // null/union encoding), value identity including nulls and non-ASCII
  // strings, and the splittable multi-file layout (one container file per
  // partition — the property that gives one task per split at scale).
  test("avro roundtrip preserves schema, nulls, and partition-file layout") {
    val sp = spark; import sp.implicits._
    val tmp = Tables.scratchDir("graft_avro_spec")
    val out = tmp.resolve("t").toString
    val df = Seq(
        (1L, Some("alpha"), Some(1.5), Some(10)),
        (2L, None, None, None),
        (3L, Some("naïve 😀"), Some(-0.25), Some(-7)))
      .toDF("id", "s", "x", "k")
      .select(col("id"), col("s"), col("x"), col("k").cast("int"))
      .repartition(3)
    graft.sources.Avro.write(df, out)
    val files = java.nio.file.Files.list(java.nio.file.Paths.get(out))
      .filter(p => p.getFileName.toString.endsWith(".avro")).count()
    assert(files == 3, s"expected 3 avro container files, got $files")
    val back = graft.sources.Avro.read(sp, out, df.schema)
    assert(back.schema == df.schema,
      s"schema drifted: ${back.schema} vs ${df.schema}")
    val got = back.orderBy("id").collect().toSeq
    val want = df.orderBy("id").collect().toSeq
    assert(got == want, s"roundtrip values drifted: $got vs $want")
    // the avro schema itself encodes nullability as union {null, T}
    val sch = graft.sources.Avro.avroSchemaFor(df.schema, "t")
    assert(sch.getField("s").schema().getTypes.get(0).getType
             == org.apache.avro.Schema.Type.NULL,
      s"nullable field not a null-first union: ${sch.getField("s").schema()}")
  }
}
