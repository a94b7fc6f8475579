package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Round-9 operators: invariants stronger than the oracle hash alone. */
class Round9Spec extends AnyFunSuite with SharedSpark {

  private val sf = "/root/testdata/sf0.001"

  test("vec_kmeans_lloyd partitions the corpus into k nonempty clusters") {
    val out = SparkEntry.queries("vec_kmeans_lloyd")(spark, sf).collect()
    assert(out.length == 5, s"expected 5 clusters, got ${out.length}")
    val total = Tables(spark, sf, "embeddings").count()
    assert(out.map(_.getAs[Long]("n")).sum == total,
      "cluster sizes must sum to the corpus size (every vector assigned once)")
    assert(out.forall(_.getAs[Long]("n") > 0), "no empty clusters on this data")
  }

  test("join_bloom_prefilter equals the exact join (no false negatives)") {
    val pre = SparkEntry.queries("join_bloom_prefilter")(spark, sf).collect()
    val exact = Tables(spark, sf, "lineitem")
      .join(Tables(spark, sf, "supplier"), col("l_suppkey") === col("s_suppkey"))
      .join(Tables(spark, sf, "nation"), col("s_nationkey") === col("n_nationkey"))
      .join(Tables(spark, sf, "region").filter(col("r_name") === "ASIA"),
            col("n_regionkey") === col("r_regionkey"))
      .groupBy("n_name")
      .agg(count(lit(1)).as("n"),
           sum(round(col("l_extendedprice") * 100).cast("bigint")).as("cents"))
      .orderBy("n_name").collect()
    assert(pre.toSeq == exact.toSeq)
  }

  test("ts_autocorr emits one bounded coefficient per lag") {
    val out = SparkEntry.queries("ts_autocorr")(spark, sf).collect()
    assert(out.map(_.getAs[Long]("lag")).toSeq == Seq(1L, 2L, 3L))
    assert(out.forall(r => math.abs(r.getAs[Double]("r")) <= 1.0 + 1e-9))
    assert(out.forall(_.getAs[Long]("n") > 10))
  }

  // NOTE on magnitude: the fixture embeddings are synthetic random vectors,
  // not trained Matryoshka embeddings — a 16-dim prefix of noise does NOT
  // preserve top-1 (measured 0/10 agreement at sf0.001), so only the
  // structural invariants are asserted; the agreement RATE is the
  // operator's measurement output, not a testable property of this data.
  test("sim_matryoshka_recall emits one self-excluded pair per query") {
    val out = SparkEntry.queries("sim_matryoshka_recall")(spark, sf).collect()
    val nQueries = Tables(spark, sf, "embeddings")
      .filter(col("vec_id") % 50 === 0).count()
    assert(out.length == nQueries, "one output row per query vector")
    assert(out.forall(r => r.getAs[Long]("full_id") != r.getAs[Long]("q_id") &&
                           r.getAs[Long]("trunc_id") != r.getAs[Long]("q_id")),
      "a vector must never be its own nearest neighbor")
    assert(out.forall(r => (r.getAs[Int]("agree") == 1) ==
                           (r.getAs[Long]("full_id") == r.getAs[Long]("trunc_id"))))
  }

  test("join_pit_scd2 picks exactly the version covering each purchase") {
    val out = SparkEntry.queries("join_pit_scd2")(spark, sf)
    // no purchase may match two versions (half-open intervals partition time)
    val dup = out.groupBy("event_id").count().filter(col("count") > 1).count()
    assert(dup == 0, "a purchase matched more than one dimension version")
  }

  test("topk_skyline_pareto is mutually non-dominating and complete") {
    val sky = SparkEntry.queries("topk_skyline_pareto")(spark, sf).collect()
      .map(r => (r.getAs[Long]("price_c"), r.getAs[Long]("size")))
    assert(sky.nonEmpty)
    // no skyline member dominates another
    for (a <- sky; b <- sky if a != b)
      assert(!(a._1 <= b._1 && a._2 >= b._2 && (a._1 < b._1 || a._2 > b._2)),
        s"$a dominates $b inside the skyline")
    // every non-member is dominated by some member
    val all = Tables(spark, sf, "part")
      .select(round(col("p_retailprice") * 100).cast("bigint").as("p"),
              col("p_size").cast("bigint").as("s")).collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val skySet = sky.toSet
    for (x <- all if !skySet.contains(x))
      assert(sky.exists(m => m._1 <= x._1 && m._2 >= x._2 &&
                             (m._1 < x._1 || m._2 > x._2)),
        s"$x is not dominated yet missing from the skyline")
  }

  test("cdc_apply_log drops users whose final change is a delete") {
    val sp = spark
    val snapshot = SparkEntry.queries("cdc_apply_log")(sp, sf)
    val lastOps = Tables.events(sp, sf)
      .select(col("user_id"),
              expr("unix_micros(ts)").as("us"), col("event_id"), col("event_type"))
      .groupBy("user_id")
      .agg(max(struct(col("us"), col("event_id"), col("event_type").as("et"))).as("l"))
    val deleted = lastOps.filter(col("l.et") === "error").select("user_id")
    assert(snapshot.join(deleted, "user_id").count() == 0,
      "a user whose last event is a delete survived the fold")
    val live = lastOps.filter(col("l.et") =!= "error").count()
    assert(snapshot.count() == live, "snapshot must hold exactly the live users")
  }

  test("agg_gini_concentration lands in [0, 1)") {
    val r = SparkEntry.queries("agg_gini_concentration")(spark, sf).head()
    val g = r.getAs[Double]("gini")
    assert(g >= 0.0 && g < 1.0, s"gini out of range: $g")
  }

  test("window_rolling_median equals a brute-force frame median") {
    val out = SparkEntry.queries("window_rolling_median")(spark, sf)
      .orderBy("user_id", "event_id").collect()
    // brute force on one user: frame = 15 rows centered, lower median
    val rows = Tables.events(spark, sf)
      .filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id"),
              expr("unix_micros(ts)").as("us"),
              round(col("value") * 100).cast("bigint").as("c"))
      .orderBy("user_id", "us", "event_id").collect()
      .groupBy(_.getAs[Long]("user_id"))
    val expected = rows.toSeq.flatMap { case (uid, rs) =>
      rs.zipWithIndex.map { case (r, i) =>
        val frame = rs.slice(math.max(0, i - 7), math.min(rs.length, i + 8))
          .map(_.getAs[Long]("c")).sorted
        (uid, r.getAs[Long]("event_id"), frame((frame.length - 1) / 2))
      }.toSeq
    }.toSet
    val got = out.map(r => (r.getAs[Long]("user_id"),
                            r.getAs[Long]("event_id"),
                            r.getAs[Long]("med_cents"))).toSet
    assert(got == expected)
  }

  test("source_nested_roundtrip writes a genuine repeated group") {
    import org.apache.spark.sql.types.{ArrayType, StructType}
    SparkEntry.queries("source_nested_roundtrip")(spark, sf).collect()
    val dir = ScratchDirs.latestScratch("graft_nested-")
    val schema = spark.read.parquet(dir.resolve("orders_nested").toString).schema
    val lines = schema("lines").dataType
    assert(lines.isInstanceOf[ArrayType] &&
           lines.asInstanceOf[ArrayType].elementType.isInstanceOf[StructType],
      s"expected array<struct> repeated group, got $lines")
    val fields = lines.asInstanceOf[ArrayType].elementType
      .asInstanceOf[StructType].fieldNames.toSeq
    assert(fields == Seq("ln", "qty", "pc"))
  }

  test("sim_ann_pq recall@10 beats random against exact cosine top-10") {
    val sp = spark
    val pq = SparkEntry.queries("sim_ann_pq")(sp, sf).collect()
      .groupBy(_.getAs[Long]("q_id"))
      .map { case (q, rs) => q -> rs.map(_.getAs[Long]("vec_id")).toSet }
    assert(pq.nonEmpty && pq.values.forall(_.size == 10))
    // exact cosine top-10 per query (brute force on the small fixture)
    val vecs = Tables(sp, sf, "embeddings").collect()
      .map(r => r.getAs[Long]("vec_id") ->
                r.getAs[scala.collection.Seq[Float]]("embedding").toArray)
      .toMap
    def cos(a: Array[Float], b: Array[Float]): Double = {
      var dot = 0.0; var na = 0.0; var nb = 0.0
      for (i <- a.indices) { dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i) }
      dot / (math.sqrt(na) * math.sqrt(nb))
    }
    val recalls = pq.map { case (q, got) =>
      val exact = vecs.keys.filter(_ != q).toSeq
        .sortBy(v => (-cos(vecs(q), vecs(v)), v)).take(10).toSet
      (got & exact).size / 10.0
    }
    val mean = recalls.sum / recalls.size
    // 4 codes × 8 subspaces is a coarse quantizer; on random vectors the
    // bar is "far above chance" (random 10-of-499 ≈ 0.02), not "high"
    assert(mean > 0.15, f"mean recall@10 $mean%.3f is not above chance")
  }

  test("window_cusum_changepoint closed form equals the sequential recursion") {
    val out = SparkEntry.queries("window_cusum_changepoint")(spark, sf)
      .orderBy("hr").collect()
    assert(out.nonEmpty)
    // re-derive e_i from the output and fold the textbook recursion
    // s_t = max(0, s_{t-1} + e_t); it must equal the closed form exactly
    val n = out.length.toLong
    val st = out.map(_.getAs[Long]("cnt")).sum
    var s = 0L
    out.foreach { r =>
      val e = 2L * n * r.getAs[Long]("cnt") - 2L * st - n
      s = math.max(0L, s + e)
      assert(s == r.getAs[Long]("cusum_x2n"),
        s"closed form diverged from the recursion at hr=${r.getAs[Long]("hr")}")
      assert((r.getAs[Int]("alarm") == 1) == (s > 8L * n))
    }
  }

  test("window_mad_outlier matches a brute-force MAD computation") {
    val out = SparkEntry.queries("window_mad_outlier")(spark, sf).collect()
    val byType = Tables.events(spark, sf)
      .select(col("event_type"), round(col("value") * 100).cast("bigint").as("c"))
      .collect().groupBy(_.getString(0))
    out.foreach { r =>
      val cs = byType(r.getAs[String]("event_type")).map(_.getLong(1)).sorted
      val med = cs((cs.length - 1) / 2)
      val ads = cs.map(c => math.abs(c - med)).sorted
      val mad = ads((ads.length - 1) / 2)
      assert(r.getAs[Long]("med_cents") == med)
      assert(r.getAs[Long]("mad_cents") == mad)
      assert(r.getAs[Long]("n_outliers") == ads.count(_ > 3 * mad))
    }
  }

  test("agg_benford_deviation probabilities cover the nine digits") {
    val out = SparkEntry.queries("agg_benford_deviation")(spark, sf).collect()
    assert(out.map(_.getAs[Long]("digit")).toSeq == (1L to 9L))
    val pSum = out.map(_.getAs[Double]("benford_p")).sum
    assert(math.abs(pSum - 1.0) < 1e-5, s"Benford masses must sum to 1, got $pSum")
    val total = out.map(_.getAs[Long]("obs")).sum
    assert(total == Tables(spark, sf, "orders").count())
  }

  test("snapshot time travel: v1 stays byte-stable after the v2 commit") {
    val out = SparkEntry.queries("sink_snapshot_time_travel")(spark, sf)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getLong(2))).toMap
    // v2 must see strictly more than v1 (the append really appended),
    // and v1's files are immutable — re-reading its manifest after the
    // v2 commit returns the original slice
    assert(out("v2")._1 > out("v1")._1)
    val dir = ScratchDirs.latestScratch("graft_snap-")
    val v1Files = java.nio.file.Files.readString(dir.resolve("v1.manifest"))
      .split("\n").toSeq
    val reread = spark.read.parquet(v1Files: _*)
      .agg(count(lit(1)), sum(round(col("o_totalprice") * 100).cast("bigint")))
      .head()
    assert((reread.getLong(0), reread.getLong(1)) == out("v1"),
      "v1 snapshot changed after the v2 commit")
    val total = Tables(spark, sf, "orders").count()
    assert(out("v2")._1 == total, "v2 must see the full table")
  }

  test("window_drawdown_max equals a sequential fold per user") {
    val out = SparkEntry.queries("window_drawdown_max")(spark, sf).collect()
      .map(r => r.getAs[Long]("user_id") -> r.getAs[Long]("max_drawdown_cents"))
      .toMap
    val rows = Tables.events(spark, sf)
      .filter(col("event_type").isin("purchase", "error"))
      .select(col("user_id"), expr("unix_micros(ts)").as("us"), col("event_id"),
              when(col("event_type") === "purchase",
                   round(col("value") * 100).cast("bigint"))
                .otherwise(-round(col("value") * 100).cast("bigint")).as("delta"))
      .orderBy("user_id", "us", "event_id").collect()
      .groupBy(_.getAs[Long]("user_id"))
    rows.foreach { case (uid, rs) =>
      var curve = 0L; var peak = Long.MinValue; var maxDd = Long.MinValue
      rs.foreach { r =>
        curve += r.getAs[Long]("delta")
        peak = math.max(peak, curve)
        maxDd = math.max(maxDd, peak - curve)
      }
      assert(out(uid) == maxDd, s"user $uid: expected $maxDd got ${out(uid)}")
    }
  }

  test("text_hash_features conserves token mass and stays in range") {
    val out = SparkEntry.queries("text_hash_features")(spark, sf).collect()
    val tokens = Tables(spark, sf, "documents")
      .select(explode(split(lower(col("text")), " ")).as("w"))
      .filter(col("w").rlike("^[a-z]+$")).count()
    assert(out.map(_.getAs[Long]("tf")).sum == tokens,
      "bucketed term frequencies must sum to the token count")
    val nDocs = Tables(spark, sf, "documents").count()
    assert(out.forall { r =>
      val b = r.getAs[Long]("bucket"); b >= 0 && b < 64 &&
        r.getAs[Long]("df") <= nDocs
    })
  }
}
