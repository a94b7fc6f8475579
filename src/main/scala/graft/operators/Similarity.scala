package graft.operators

/** Similarity, ANN and vector keys.
  * REGISTRY.md maps each key to its file:line.
  */
object Similarity {
  import graft.{Decl, Tables, declMap}
  import graft.functions.VectorOps
  import org.apache.spark.sql.functions._
  import org.apache.spark.sql.{DataFrame, SparkSession}
  import org.apache.spark.sql.expressions.Window

  private def signPack(c: String, lo: Int): org.apache.spark.sql.Column =
    expr(s"aggregate(sequence(0, 31), 0L, (acc, j) -> " +
      s"acc + IF($c[j + $lo] > 0, shiftleft(1L, j), 0L))")

  /** The retrieval fixture's embeddings are near-random (measured max
    * pairwise cosine 0.51 at sf0.001 AND sf0.01) — a τ=0.90 retrieval key
    * over them has an EMPTY truth set and proves nothing. So, exactly like
    * the dedup family's `Pipeline.nearDupCorpus`, the key PLANTS its own
    * near-duplicates: each vector v gains a copy v' = v + 0.3·rot(v)
    * (rot = circular shift by one dim, id + 1000000). rot preserves the
    * norm, so cos(v, v') = (1 + 0.3t)/√(1 + 0.6t + 0.09) for t = v̂·rot(v̂),
    * minimized at t = −0.3 where it equals √(1 − 0.09) ≈ 0.9539 ≥ 0.90 for
    * EVERY row — the truth set provably contains all N planted pairs.
    * Measured: 500 planted pairs at [0.954, 0.969], max NON-planted pair
    * 0.595 at both fixture scales, so truth == planted exactly.
    */
  private[graft] def plantedEmbeddings(s: org.apache.spark.sql.SparkSession,
                                       d: String): org.apache.spark.sql.DataFrame = {
    val emb = Tables(s, d, "embeddings").select(col("vec_id"), col("embedding"))
    val dim = size(col("embedding"))
    val planted = emb.select(
      (col("vec_id") + 1000000L).as("vec_id"),
      transform(col("embedding"), (x, i) =>
        (x + lit(0.3f) * element_at(col("embedding"), ((i + 1) % dim) + 1))
          .cast("float")).as("embedding"))
    emb.unionAll(planted)
  }

  /** SRP-LSH candidate pairs over `emb` (vec_id, embedding): bucket each
    * vector in `PipelineExt.SrpTables` tables of `bits`-bit signatures and
    * emit the distinct id pairs colliding in SOME table. With
    * `multiprobe`, the probe side also visits every 1-bit-flip neighbor
    * bucket — a constant (1 + bits) fan-out on ONE side of the same
    * co-partitioned shuffle_hash self-join, making the candidate set a
    * strict superset of the single-probe one (flip 0 IS the home bucket).
    * Factored so Round11iSpec can compare both probe policies on the same
    * planted corpus.
    */
  private[graft] def srpCandidates(emb: org.apache.spark.sql.DataFrame,
                                   n: Int, bits: Int,
                                   multiprobe: Boolean): org.apache.spark.sql.DataFrame = {
    // Round-12 narrowing (guide §2.3 — shuffle fewer bytes): the (tbl,
    // bucket) join key packs into ONE bigint (bucket < 2^bits ≤ 2^12), so
    // the bucket exchange and the hash probe work on single 8-byte keys.
    // Same collision semantics — the bk encoding is injective.
    val home = emb.select(col("vec_id"),
      posexplode(PipelineExt.srpTableKeys(PipelineExt.SrpTables, bits))
        .as(Seq("tbl", "bucket")))
    val homeK = home.select(col("vec_id"),
      (col("tbl").cast("bigint") * 4294967296L + col("bucket")).as("bk"))
    val probeK0 =
      if (!multiprobe) homeK
      else {
        val flips = (0 until bits).map(i => lit(1 << i))
        home.select(col("vec_id"), explode(array((lit(0) +: flips).map(f =>
            col("tbl").cast("bigint") * 4294967296L +
              col("bucket").bitwiseXOR(f)): _*)).as("bk"))
      }
    val probeK = probeK0.repartition(n, col("bk"))
    val idx = homeK.repartition(n, col("bk"))
    probeK.as("a")
      .join(idx.as("b").hint("shuffle_hash"),
            col("a.bk") === col("b.bk") &&
            col("a.vec_id") < col("b.vec_id"))
      .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"))
      .distinct()
  }

  /** 16×64 ±1 sign matrix from the shared LCG recipe (compile-time
    * deterministic, same constant inlined into the oracle SQL). */
  private[operators] val JlSigns: Seq[Seq[Double]] = {
    var state = 0x2545F4914F6CDD1DL
    Seq.fill(16)(Seq.fill(64) {
      state = state * 6364136223846793005L + 1442695040888963407L
      if ((state >>> 63) == 0L) 1.0 else -1.0
    })
  }

  private def jlSqlLiteral: String =
    JlSigns.map(_.map(v => if (v > 0) "1.0" else "-1.0")
      .mkString("[", ",", "]")).mkString("[", ",", "]")

  /** k and iteration count for vec_kmeans_lloyd — fixed so the oracle SQL
    * can unroll the same number of CTE stages.
    */
  private val K = 5
  private val Iters = 3

  /** Test probe: one un-checkpointed Lloyd stage over the real tables. */
  private[graft] def kmeansStageForPlan(s: SparkSession, d: String): DataFrame = {
    val q = VecIndex.quantized(s, d)
    VecIndex.lloydStep(q, Nil)(VecIndex.seed(s, d, q, Nil, K))
  }

  val decls: Map[String, Decl] = declMap(
    // Binary-quantized vector search — the 1-bit/dim
    // sign quantization + hamming prefilter + exact rerank pipeline that
    // production vector stores run when the full-precision corpus is too
    // big to scan (32× less bandwidth than float32; hamming is one XOR +
    // popcount per 64 dims).
    //
    // Scale shape: the sign signature packs into two BIGINTs computed in
    // one linear scan (no shuffle); the hamming scan touches ONLY those
    // 16 bytes per vector; per-query candidates go through the native
    // bounded-heap TopKPerKey (shard pre-pass then final — the
    // sim_knn_join pattern, never a full per-query sort), and the exact
    // cosine rerank touches ≤32 full vectors per query. Query side is
    // broadcast; the corpus never moves.
    //
    // Determinism: hamming is an exact small integer; the prefilter
    // cutoff orders by (hamming, vec_id) and the rerank by
    // (round(cos, 6) DESC, vec_id) — both total orders, so the engines
    // cannot disagree on either cut.

    "sim_binary_rerank" -> Decl(
      (s, d) => {
        val emb = Tables(s, d, "embeddings")
          .select(col("vec_id"), col("embedding"),
                  signPack("embedding", 0).as("slo"),
                  signPack("embedding", 32).as("shi"))
          .localCheckpoint(true)
        val q = emb.filter(pmod(col("vec_id"), lit(50L)) === 0)
          .select(col("vec_id").as("q_id"), col("embedding").as("qe"),
                  col("slo").as("qlo"), col("shi").as("qhi"))
        val ham = emb.select(col("vec_id"), col("slo"), col("shi"))
          .crossJoin(broadcast(q.select(col("q_id"), col("qlo"), col("qhi"))))
          .filter(col("vec_id") =!= col("q_id"))
          .select(col("q_id"), col("vec_id"),
            (expr("bit_count(slo ^ qlo)") + expr("bit_count(shi ^ qhi)"))
              .cast("int").as("hamming"),
            pmod(col("vec_id"), lit(64L)).as("shard"))
        val partial = graft.plans.TopK.perKey(
          ham, Seq("q_id", "shard"), Seq("hamming" -> false, "vec_id" -> false), 32)
        val cand = graft.plans.TopK.perKey(
            partial, Seq("q_id"), Seq("hamming" -> false, "vec_id" -> false), 32)
          .select("q_id", "vec_id", "hamming")
        val rer = cand
          .join(emb.select(col("vec_id"), col("embedding")), "vec_id")
          .join(broadcast(q.select(col("q_id"), col("qe"))), "q_id")
          .select(col("q_id"), col("vec_id"), col("hamming"),
                  round(VectorOps.cosine(col("embedding"), col("qe")), 6).as("cos"))
        graft.plans.TopK.perKey(
            rer, Seq("q_id"), Seq("cos" -> true, "vec_id" -> false), 5)
          .orderBy(col("q_id"), col("cos").desc, col("vec_id"))
      },
      Some("""WITH sig AS (
             |  SELECT vec_id, list_transform(embedding, x -> x > 0) AS bits,
             |         list_transform(embedding, x -> CAST(x AS DOUBLE)) AS e
             |  FROM embeddings),
             |q AS (SELECT vec_id AS q_id, bits AS qbits, e AS qe
             |      FROM sig WHERE vec_id % 50 = 0),
             |ham AS (
             |  SELECT q_id, sig.vec_id,
             |         CAST(len(list_filter(range(1, 65),
             |           i -> bits[i] != qbits[i])) AS INT) AS hamming
             |  FROM sig CROSS JOIN q WHERE sig.vec_id <> q.q_id),
             |cand AS (
             |  SELECT q_id, vec_id, hamming FROM (
             |    SELECT q_id, vec_id, hamming,
             |           row_number() OVER (PARTITION BY q_id
             |                              ORDER BY hamming, vec_id) AS rn
             |    FROM ham) WHERE rn <= 32),
             |rer AS (
             |  SELECT cand.q_id, cand.vec_id, cand.hamming,
             |         round(list_cosine_similarity(sig.e, qe), 6) AS cos
             |  FROM cand JOIN sig ON cand.vec_id = sig.vec_id
             |            JOIN q ON cand.q_id = q.q_id)
             |SELECT q_id, vec_id, hamming, cos FROM (
             |  SELECT q_id, vec_id, hamming, cos,
             |         row_number() OVER (PARTITION BY q_id
             |                            ORDER BY cos DESC, vec_id) AS rn
             |  FROM rer) WHERE rn <= 5
             |ORDER BY q_id, cos DESC, vec_id""".stripMargin)),

    // Multiprobe LSH (the recall/fan-out dial every
    // production ANN service exposes: probe the home bucket PLUS every
    // 1-bit-flip neighbor, trading bounded extra candidates for strictly
    // higher recall) and exact heavy hitters by the Misra-Gries two-pass
    // (a mergeable candidate sketch whose no-false-negative guarantee
    // turns one verification scan into an EXACT answer — the scalable
    // alternative to sketch-only CMS answers).
    //
    // Scale shape: multiprobe multiplies the probe side's bucket keys by
    // (1 + bits) — a constant fan-out on one side of the same
    // co-partitioned shuffle_hash self-join (nothing broadcasts, pairs
    // dedup before scoring, the sim_ann_lsh discipline). Misra-Gries
    // state is k counters per partition merged associatively; the verify
    // pass is one semi-joined aggregate over the candidate set.

    // Multiprobe SRP-LSH pair retrieval at cosine >= 0.90 over the PLANTED
    // corpus (see plantedEmbeddings — the raw fixture attests no pairs at
    // this τ): candidates collide in SOME table within hamming 1 of the
    // bucket. The strictly-larger candidate set makes recall >= the
    // single-probe policy's (Round11iSpec proves the superset property and
    // an UNCONDITIONAL recall floor over the >=500-pair planted truth
    // set). Oracle-N (approximate class); the driver's rows>0 check is
    // now non-vacuous at every fixture scale.
    "sim_ann_lsh_multiprobe" -> Decl(
      (s, d) => {
        val n = s.sparkContext.defaultParallelism
        val emb = plantedEmbeddings(s, d)
        // 2N vectors after planting — keep the occupancy-constant budget
        val nVec = 2L * Tables.rowCount(s, d, "embeddings")
        def ceilLog2(x: Long): Int =
          if (x <= 1L) 0 else 64 - java.lang.Long.numberOfLeadingZeros(x - 1)
        val bits = math.min(12, math.max(PipelineExt.SrpBitsPerTable,
                                         ceilLog2(nVec / 64)))
        val pairs = srpCandidates(emb, n, bits, multiprobe = true)
        // Round-12: norms once per vector (1 codegen dot per pair instead
        // of 3 — same doubles: dot/(√(a·a)·√(b·b)) either way), and the
        // DECIMAL round runs only on survivors. round(double, 6) is a
        // per-row BigDecimal (measured 6.3 s wall over the 4.8M sf0.1
        // candidates vs 0.9 s unrounded), so the τ cut happens on the raw
        // cosine first with a conservative margin (round6(x) >= 0.90 ⇒
        // x >= 0.8999995 > 0.8999), then the EXACT rounded filter
        // reapplies on the tiny survivor set — selected pairs and emitted
        // values are bit-identical.
        val embV = emb.select(col("vec_id"), col("embedding"),
          sqrt(VectorOps.dot(col("embedding"), col("embedding"))).as("nrm"))
        pairs
          .join(embV.select(col("vec_id").as("id_a"), col("embedding").as("ea"),
                            col("nrm").as("na")).hint("shuffle_hash"),
                "id_a")
          .join(embV.select(col("vec_id").as("id_b"), col("embedding").as("eb"),
                            col("nrm").as("nb")).hint("shuffle_hash"),
                "id_b")
          .select(col("id_a"), col("id_b"),
                  (VectorOps.dot(col("ea"), col("eb")) /
                    (col("na") * col("nb"))).as("rawcos"))
          .filter(col("rawcos") >= 0.8999)
          .select(col("id_a"), col("id_b"), round(col("rawcos"), 6).as("cos"))
          .filter(col("cos") >= 0.90)
          .orderBy("id_a", "id_b")
      },
      None),

    // Exact heavy hitters over the Zipfian word stream (support > 1/64
    // of all tokens) via the Misra-Gries prefilter: pass 1 keeps 128
    // counters per partition (a guaranteed superset of every key above
    // the n/129 frequency floor after the associative merge — and
    // 1/64 > 1/129, so no true heavy hitter can be lost), pass 2
    // exact-counts ONLY the ≤128 surviving candidates (broadcast
    // semi-join riding the token scan) and applies the exact threshold.
    // The DuckDB oracle is the exact answer from a plain GROUP BY —
    // hash-equality proves the two-pass sketch route loses nothing.
    // Scale shape: the full-vocabulary shuffle of a naive word count
    // never happens; the only shuffle is |candidates| ≤ 128 groups.
    "agg_heavy_hitters_mg_exact" -> Decl(
      (s, d) => {
        val toks = Pipeline.docsWithTokens(s, d)
          .select(explode(col("toks")).as("word"))
        val mg = udaf(new graft.functions.MisraGriesAgg(128))
        // one pass → candidate set AND the exact token total together
        val candidates = toks
          .agg(mg(col("word")).as("cand"), count(lit(1)).as("total"))
          .select(col("total"), explode(col("cand")).as("word"))
        toks.join(broadcast(candidates), Seq("word"))
          .groupBy("word", "total")
          .agg(count(lit(1)).as("n"))
          .filter(col("n") * 64L > col("total"))
          .select(col("word"), col("n"))
          .orderBy("word")
      },
      Some("""SELECT word, CAST(count(*) AS BIGINT) AS n FROM (
             |  SELECT unnest(string_split(text, ' ')) AS word FROM documents) t
             |GROUP BY word
             |HAVING count(*) * 64 > (SELECT count(*) FROM (
             |  SELECT unnest(string_split(text, ' ')) AS w FROM documents) u)
             |ORDER BY word""".stripMargin)),

    // Johnson-Lindenstrauss random projection (the
    // dimensionality-reduction workhorse: a fixed ±1 sign matrix maps
    // 64-dim embeddings to 16 dims with distance distortion bounded by the
    // JL lemma — the cheap precursor to ANN indexing and the theory behind
    // SimHash-style sketches) and epsilon-greedy bandit replay (offline
    // policy evaluation by the replay method of Li et al. (WSDM'11): walk
    // the logged event stream day by day, let the policy pick an arm from
    // the PRIOR days' cumulative reward means, and score it on the
    // held-out logged pulls of that arm that day).
    //
    // Determinism: the sign matrix is a compile-time LCG constant inlined
    // BOTH as a Spark literal and as a list literal in the oracle SQL, and
    // every norm folds in index order inside one codegen'd higher-order
    // expression (no shuffle-order float summation). The bandit walk is
    // pure window algebra over the bounded day × arm grid — cumulative
    // integer cent sums, identical division inputs in both engines, and a
    // lexicographic struct-min argmax with (−mean, arm) tiebreak; the
    // deterministic exploration schedule (every 5th day, arm index
    // (day·7) mod |arms|) replaces the coin flip so replay is exactly
    // reproducible.
    //
    // Scale shape: projection is one scan (16×64 multiply-adds per row, no
    // shuffle); the pair sample joins on a computed partner id (plain hash
    // join). Replay's only corpus-sized work is the daily (day, arm)
    // aggregate; everything after runs on the |days|×|arms| grid.

    // Per-pair distance distortion of the JL map p(v) = R·v / √16 on the
    // deterministic stride-97 pair sample. Round11lSpec asserts the JL
    // concentration (mean ratio ≈ 1, tails bounded); the oracle replays
    // the identical fold.
    "vec_random_projection_jl" -> Decl(
      (s, d) => {
        val emb = Tables(s, d, "embeddings")
        val nVec = Tables.rowCount(s, d, "embeddings")
        val a = emb.filter(pmod(col("vec_id"), lit(5L)) === 0)
          .select(col("vec_id").as("id_a"),
                  pmod(col("vec_id") + 97, lit(nVec)).as("id_b"),
                  col("embedding").as("ea"))
          .filter(col("id_a") =!= col("id_b"))
        val pairs = a.join(
          emb.select(col("vec_id").as("id_b"), col("embedding").as("eb")), "id_b")
        val diff = zip_with(col("ea"), col("eb"),
          (x, y) => x.cast("double") - y.cast("double"))
        val dOrig = sqrt(aggregate(diff, lit(0.0), (acc, x) => acc + x * x))
        val rCol = typedLit(JlSigns)
        val projSq = aggregate(rCol, lit(0.0), (acc, row) => {
          val c = aggregate(zip_with(row, diff, (r, x) => r * x),
                            lit(0.0), (a2, x) => a2 + x) * 0.25
          acc + c * c
        })
        pairs
          .filter(dOrig > 0)
          .select(col("id_a"), col("id_b"),
                  round(dOrig, 6).as("d_orig"),
                  round(sqrt(projSq) / dOrig, 6).as("ratio"))
          .orderBy("id_a")
      },
      Some(s"""WITH nn AS (SELECT count(*) AS n FROM embeddings),
              |r AS (SELECT CAST($jlSqlLiteral AS DOUBLE[][]) AS m),
              |p AS (SELECT a.vec_id AS id_a, (a.vec_id + 97) % nn.n AS id_b,
              |             list_transform(a.embedding, x -> CAST(x AS DOUBLE)) AS ea
              |      FROM embeddings a CROSS JOIN nn
              |      WHERE a.vec_id % 5 = 0 AND (a.vec_id + 97) % nn.n <> a.vec_id),
              |j AS (SELECT p.id_a, p.id_b,
              |             list_transform(range(1, 65),
              |               i -> p.ea[i] - CAST(b.embedding[i] AS DOUBLE)) AS diff
              |      FROM p JOIN embeddings b ON b.vec_id = p.id_b),
              |q AS (SELECT id_a, id_b,
              |             sqrt(list_sum(list_transform(diff, x -> x * x))) AS d_orig,
              |             sqrt(list_sum(list_transform(r.m,
              |               row -> pow(0.25 * list_dot_product(row, diff), 2)))) AS d_proj
              |      FROM j CROSS JOIN r)
              |SELECT id_a, id_b, round(d_orig, 6) AS d_orig,
              |       round(d_proj / d_orig, 6) AS ratio
              |FROM q WHERE d_orig > 0
              |ORDER BY id_a""".stripMargin)),

    // Day-by-day epsilon-greedy replay over the event log: arms =
    // event_type, reward = exact cents of `value`, exploit = argmax of
    // cumulative prior mean, explore on the fixed schedule. Output per
    // day: the policy's pick, how it chose, the logged pulls it is
    // scored on, and the replay reward estimate.
    "agg_bandit_replay" -> Decl(
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val ev = Tables.events(s, d)
          .select(to_date(col("ts")).as("day"), col("event_type").as("arm"),
                  round(col("value") * 100).cast("bigint").as("cents"))
        val daily = ev.groupBy("day", "arm")
          .agg(count(lit(1)).as("n"), sum(col("cents")).as("c"))
        val days = daily.select("day").distinct()
        val arms = daily.select("arm").distinct()
        val minDay = days.agg(min(col("day")).as("d0"))
        val grid = days.crossJoin(broadcast(arms))
          .join(daily, Seq("day", "arm"), "left")
          .select(col("day"), col("arm"),
                  coalesce(col("n"), lit(0L)).as("n"),
                  coalesce(col("c"), lit(0L)).as("c"))
          .crossJoin(broadcast(minDay))
          .withColumn("day_num", datediff(col("day"), col("d0")) + 1)
        // windows over the bounded |days|×|arms| replay grid
        val wCum = Window.partitionBy("arm").orderBy("day")
          .rowsBetween(Window.unboundedPreceding, -1)
        val wArm = Window.partitionBy("day").orderBy("arm")
        val scored = grid
          .withColumn("cum_n", coalesce(sum(col("n")).over(wCum), lit(0L)))
          .withColumn("cum_c", coalesce(sum(col("c")).over(wCum), lit(0L)))
          .withColumn("mean", when(col("cum_n") > 0,
            col("cum_c").cast("double") / col("cum_n").cast("double"))
            .otherwise(lit(0.0)))
          .withColumn("arm_idx", row_number().over(wArm) - 1)
        val nArms = arms.count()
        val wDay = Window.partitionBy("day")
        val picked = scored
          .withColumn("explore", pmod(col("day_num"), lit(5L)) === 2)
          .withColumn("best_arm",
            min(struct((col("mean") * -1).as("nm"), col("arm").as("a")))
              .over(wDay).getField("a"))
          .withColumn("chosen", when(col("explore"),
              col("arm_idx") === pmod(col("day_num") * 7, lit(nArms)))
            .otherwise(col("arm") === col("best_arm")))
          .filter(col("chosen"))
        picked.select(col("day"),
                      when(col("explore"), lit("explore"))
                        .otherwise(lit("exploit")).as("method"),
                      col("arm"), col("n").as("matched_n"),
                      round(when(col("n") > 0,
                          col("c").cast("double") / col("n").cast("double") / 100.0)
                        .otherwise(lit(0.0)), 6).as("est_reward"))
          .orderBy("day")
      },
      Some("""WITH ev AS (SELECT CAST(ts AS DATE) AS day, event_type AS arm,
             |                   CAST(round(value * 100) AS BIGINT) AS cents
             |            FROM events),
             |daily AS (SELECT day, arm, count(*) AS n, sum(cents) AS c
             |          FROM ev GROUP BY 1, 2),
             |grid AS (SELECT dd.day, aa.arm, coalesce(daily.n, 0) AS n,
             |                coalesce(daily.c, 0) AS c,
             |                datediff('day', (SELECT min(day) FROM daily), dd.day) + 1
             |                  AS day_num
             |         FROM (SELECT DISTINCT day FROM daily) dd
             |         CROSS JOIN (SELECT DISTINCT arm FROM daily) aa
             |         LEFT JOIN daily ON daily.day = dd.day AND daily.arm = aa.arm),
             |scored AS (SELECT *,
             |    coalesce(sum(n) OVER (PARTITION BY arm ORDER BY day
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_n,
             |    coalesce(sum(c) OVER (PARTITION BY arm ORDER BY day
             |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_c,
             |    row_number() OVER (PARTITION BY day ORDER BY arm) - 1 AS arm_idx
             |  FROM grid),
             |m AS (SELECT *, CASE WHEN cum_n > 0
             |                     THEN CAST(cum_c AS DOUBLE) / cum_n
             |                     ELSE 0.0 END AS mean FROM scored),
             |picked AS (SELECT *,
             |    day_num % 5 = 2 AS explore,
             |    (min({'nm': -mean, 'a': arm}) OVER (PARTITION BY day)).a AS best_arm
             |  FROM m)
             |SELECT day,
             |       CASE WHEN explore THEN 'explore' ELSE 'exploit' END AS method,
             |       arm, n AS matched_n,
             |       round(CASE WHEN n > 0
             |                  THEN CAST(c AS DOUBLE) / n / 100.0
             |                  ELSE 0.0 END, 6) AS est_reward
             |FROM picked
             |WHERE CASE WHEN explore
             |           THEN arm_idx = (day_num * 7) %
             |                (SELECT count(DISTINCT arm) FROM daily)
             |           ELSE arm = best_arm END
             |ORDER BY day""".stripMargin)),

    // Hybrid-retrieval fusion and count-model
    // diagnostics — reciprocal rank fusion of the BM25 (sparse) and
    // embedding-cosine (dense) rankings for the same query document (the
    // standard hybrid-search combiner every RAG stack runs: rank-based,
    // so the two retrievers' incomparable score scales never touch), and
    // a negative-binomial method-of-moments fit of per-user event counts
    // (the overdispersion check that decides whether a Poisson rate model
    // is even admissible — var/mean ≫ 1 means it is not).
    //
    // Determinism: RRF consumes only INTEGER ranks from totally-ordered
    // cuts (score desc, id) — 1/(60+rank) is the same double in both
    // engines, missing ranks contribute exactly 0 via the outer join.
    // The NB moments come from exact DECIMAL(38,0) Σk/Σk² (associativity-
    // free), with identical expression trees downstream.
    //
    // Scale shape: both retrieval cuts are bounded top-k
    // (TakeOrderedAndProject); the fusion joins two ≤50-row lists. The NB
    // fit is one per-user shuffle + one scalar aggregate.

    // RRF (k = 60) of BM25-top-15 (reusing the text_bm25_rank scorer
    // verbatim) and cosine-top-50 against document 0's embedding;
    // the query doc itself is excluded from both lists.
    "sim_reciprocal_rank_fusion" -> Decl(
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val sparse = Text.decls("text_bm25_rank").query(s, d)
          .filter(col("doc_id") =!= 0)
          .withColumn("ra",
            row_number().over(Window.orderBy(col("bm25").desc, col("doc_id"))))
          .select(col("doc_id"), col("ra"))
        val emb = Tables(s, d, "embeddings")
        val q = emb.filter(col("vec_id") === 0)
          .select(col("embedding").as("qe"))
        val dense = emb.filter(col("vec_id") =!= 0)
          .crossJoin(broadcast(q))
          .select(col("vec_id").as("doc_id"),
                  round(VectorOps.cosine(col("embedding"), col("qe")), 6)
                    .as("cos"))
          .orderBy(col("cos").desc, col("doc_id"))
          .limit(50)
          .withColumn("rb",
            row_number().over(Window.orderBy(col("cos").desc, col("doc_id"))))
          .select(col("doc_id"), col("rb"))
        sparse.join(dense, Seq("doc_id"), "full_outer")
          .select(col("doc_id"), col("ra"), col("rb"),
                  (coalesce(lit(1.0) / (col("ra") + 60), lit(0.0)) +
                    coalesce(lit(1.0) / (col("rb") + 60), lit(0.0))).as("rrf"))
          .orderBy(col("rrf").desc, col("doc_id"))
          .limit(20)
          .select(col("doc_id"),
                  col("ra").cast("bigint").as("sparse_rank"),
                  col("rb").cast("bigint").as("dense_rank"),
                  round(col("rrf"), 6).as("rrf"))
      },
      Some {
        val bm25 = Text.decls("text_bm25_rank").oracle.get
        s"""WITH bm AS ($bm25),
           |sparse AS (
           |  SELECT doc_id,
           |         row_number() OVER (ORDER BY bm25 DESC, doc_id) AS ra
           |  FROM bm WHERE doc_id <> 0),
           |q AS (SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qe
           |      FROM embeddings WHERE vec_id = 0),
           |dense0 AS (
           |  SELECT vec_id AS doc_id,
           |         round(list_cosine_similarity(
           |           list_transform(embedding, x -> CAST(x AS DOUBLE)), q.qe), 6)
           |           AS cos
           |  FROM embeddings CROSS JOIN q WHERE vec_id <> 0
           |  ORDER BY cos DESC, doc_id LIMIT 50),
           |dense AS (
           |  SELECT doc_id,
           |         row_number() OVER (ORDER BY cos DESC, doc_id) AS rb
           |  FROM dense0),
           |fused AS (
           |  SELECT coalesce(sparse.doc_id, dense.doc_id) AS doc_id, ra, rb,
           |         -- CAST: bare 1.0 types DECIMAL in DuckDB and the
           |         -- division would stay DECIMAL (hash-risky)
           |         coalesce(CAST(1.0 AS DOUBLE) / (ra + 60), 0.0) +
           |           coalesce(CAST(1.0 AS DOUBLE) / (rb + 60), 0.0) AS rrf
           |  FROM sparse FULL OUTER JOIN dense USING (doc_id))
           |SELECT doc_id, CAST(ra AS BIGINT) AS sparse_rank,
           |       CAST(rb AS BIGINT) AS dense_rank,
           |       round(rrf, 6) AS rrf
           |FROM fused ORDER BY rrf DESC, doc_id LIMIT 20""".stripMargin
      }),

    // Negative-binomial method of moments on per-user event counts:
    // p = mean/var, r = mean²/(var − mean); the dispersion index
    // var/mean is the Poisson-adequacy verdict.
    "agg_negative_binomial_fit" -> Decl(
      (s, d) => {
        val perUser = Tables.events(s, d)
          .groupBy("user_id").agg(count(lit(1)).as("k"))
        perUser.agg(
            count(lit(1)).as("n"),
            sum(col("k").cast("decimal(38,0)")).as("sk"),
            sum((col("k") * col("k")).cast("decimal(38,0)")).as("skk"))
          .withColumn("mean", col("sk").cast("double") / col("n"))
          .withColumn("variance",
            (col("skk").cast("double") -
              col("sk").cast("double") * col("sk").cast("double") / col("n")) /
              (col("n") - 1))
          .withColumn("dispersion", col("variance") / col("mean"))
          .select(col("n").cast("bigint").as("n_users"),
                  round(col("mean"), 6).as("mean_events"),
                  round(col("variance"), 6).as("var_events"),
                  round(col("dispersion"), 6).as("dispersion_index"),
                  round(col("mean") * col("mean") /
                          (col("variance") - col("mean")), 6).as("nb_r"),
                  round(col("mean") / col("variance"), 6).as("nb_p"),
                  (col("variance") > col("mean")).as("overdispersed"))
      },
      Some("""WITH perUser AS (
             |  SELECT user_id, count(*) AS k FROM events GROUP BY user_id),
             |sums AS (
             |  SELECT CAST(count(*) AS DOUBLE) AS n,
             |         CAST(sum(CAST(k AS DECIMAL(38,0))) AS DOUBLE) AS sk,
             |         CAST(sum(CAST(k * k AS DECIMAL(38,0))) AS DOUBLE) AS skk
             |  FROM perUser),
             |m AS (
             |  SELECT n, sk / n AS mean,
             |         (skk - sk * sk / n) / (n - 1) AS variance
             |  FROM sums)
             |SELECT CAST(n AS BIGINT) AS n_users,
             |       round(mean, 6) AS mean_events,
             |       round(variance, 6) AS var_events,
             |       round(variance / mean, 6) AS dispersion_index,
             |       round(mean * mean / (variance - mean), 6) AS nb_r,
             |       round(mean / variance, 6) AS nb_p,
             |       variance > mean AS overdispersed
             |FROM m""".stripMargin)),

    // Exact integer-grid k-means (Lloyd), Bloom-filter
    // semi-join reduction, hourly-series autocorrelation, and feature hashing
    // (the "hashing trick") over document tokens.

    // k-means (Lloyd) over the embedding table — the clustering primitive
    // under semantic dedup sharding, IVF coarse quantizers, and corpus
    // topic bucketing. Every arithmetic step is EXACT so the DuckDB twin
    // hash-matches bit-for-bit: coordinates quantize to the integer
    // 1/1000 grid; a centroid is carried as (Σx per dim, n) integer
    // pairs, never a float mean; the assignment metric multiplies the
    // squared distance through by n² — num = Σᵢ(n·xᵢ − sᵢ)² is an exact
    // BIGINT < 2⁵³ (|n·x−s| ≤ 2000·303·2, 64 dims) — and the single
    // IEEE division num/n² is the only float op, identical on both
    // engines because its operands are identical integers. Ties break by
    // cluster id through the lexicographic struct-min both engines share.
    // Scale shape: the state table is k×64 rows — broadcast — so each
    // iteration is one scan of the exploded fact plus ONE shuffle keyed
    // on vec_id (the assignment group-by); classic Lloyd-on-MapReduce.
    "vec_kmeans_lloyd" -> Decl(
      (s, d) => VecIndex.lloyd(s, d, VecIndex.quantized(s, d), Nil, K, Iters, "k-means")
        .groupBy("cluster")
        .agg(max(col("cn")).as("n"), sum(col("cs")).as("ssum"))
        .orderBy("cluster"),
      Some {
        val b = new StringBuilder(
          s"""WITH q AS (SELECT vec_id, u.i,
            |    CAST(round(CAST(embedding[u.i] AS DOUBLE) * 1000) AS BIGINT) AS x
            |  FROM embeddings,
            |       LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS i) u),
            |seeds AS (SELECT vec_id FROM embeddings ORDER BY vec_id LIMIT $K),
            |s0 AS (SELECT q.vec_id AS cluster, i, x AS cs, CAST(1 AS BIGINT) AS cn
            |       FROM q JOIN seeds USING (vec_id))""".stripMargin)
        (1 to Iters).foreach { it =>
          b.append(s""",
            |a$it AS (SELECT vec_id, (min({'d': CAST(num AS DOUBLE) / (cn * cn), 'c': cluster})).c AS cluster
            |  FROM (SELECT q.vec_id, s.cluster,
            |          CAST(sum((s.cn * q.x - s.cs) * (s.cn * q.x - s.cs)) AS BIGINT) AS num,
            |          max(s.cn) AS cn
            |        FROM q JOIN s${it - 1} s USING (i) GROUP BY 1, 2)
            |  GROUP BY vec_id),
            |s$it AS (SELECT a.cluster, q.i, CAST(sum(q.x) AS BIGINT) AS cs,
            |          CAST(count(*) AS BIGINT) AS cn
            |        FROM a$it a JOIN q USING (vec_id) GROUP BY 1, 2)""".stripMargin)
        }
        b.append(s"""
          |SELECT cluster, CAST(max(cn) AS BIGINT) AS n, CAST(sum(cs) AS BIGINT) AS ssum
          |FROM s$Iters GROUP BY cluster ORDER BY cluster""".stripMargin)
        b.toString
      }),

    // Bloom-filter semi-join reduction — the 100 TB join pattern this
    // exists to demonstrate: when a selective dim filter survives only a
    // few thousand keys, shipping a ~1 MB Bloom filter to every scan task
    // drops non-qualifying fact rows BEFORE the shuffle, so the exchange
    // carries the post-join row count instead of the full fact. (Spark's
    // AQE runtime bloom does this implicitly when thresholds align; this
    // operator makes the reduction explicit and plannable.) mightContain
    // admits false positives and NO false negatives, so the exact
    // broadcast join behind it makes the result identical to the plain
    // join — the oracle needs no bloom twin.
    "join_bloom_prefilter" -> Decl(
      (s, d) => {
        // materialize the 3-table dim ONCE — it feeds three consumers
        // (the count sizing the filter, the bloom aggregation, and the
        // broadcast join) which would otherwise each re-run the join
        val dim = Tables(s, d, "supplier")
          .join(Tables(s, d, "nation"),
                col("s_nationkey") === col("n_nationkey"))
          .join(Tables(s, d, "region").filter(col("r_name") === "ASIA"),
                col("n_regionkey") === col("r_regionkey"))
          .select(col("s_suppkey"), col("n_name"))
          .localCheckpoint(true)
        val keys = dim.select("s_suppkey")
        val bf = keys.stat.bloomFilter("s_suppkey",
          math.max(keys.count(), 1000L), 0.01)
        val mightContain = udf((k: Long) => bf.mightContainLong(k))
        Tables(s, d, "lineitem")
          .filter(mightContain(col("l_suppkey")))
          .select(col("l_suppkey"),
                  round(col("l_extendedprice") * 100).cast("bigint").as("c"))
          .join(broadcast(dim), col("l_suppkey") === col("s_suppkey"))
          .groupBy("n_name")
          .agg(count(lit(1)).as("n"), sum(col("c")).as("cents"))
          .orderBy("n_name")
      },
      Some("""SELECT n_name, count(*) AS n,
             |  CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS cents
             |FROM lineitem
             |JOIN supplier ON l_suppkey = s_suppkey
             |JOIN nation ON s_nationkey = n_nationkey
             |JOIN region ON n_regionkey = r_regionkey
             |WHERE r_name = 'ASIA'
             |GROUP BY n_name ORDER BY n_name""".stripMargin)),

    // Autocorrelation of the hourly click-count series at lags 1–3 — the
    // seasonality probe of a metrics pipeline. The series (hour → count)
    // is one shuffle over events; each lag pairs the TINY hourly grid
    // with itself (broadcast self-join on hr+lag, inner — only observed
    // hours pair, deterministically). Pearson r per lag comes from six
    // exact BIGINT sufficient sums via one fixed double formula tree per
    // output row (the R11 discipline — no float aggregation anywhere).
    "ts_autocorr" -> Decl(
      (s, d) => {
        val hourly = Tables.events(s, d)
          .filter(col("event_type") === "click")
          .groupBy(expr("unix_micros(ts) div 3600000000").as("hr"))
          .agg(count(lit(1)).as("cnt"))
          .localCheckpoint(true)
        val lags = s.range(1, 4).select(col("id").as("lag"))
        val pairs = hourly.crossJoin(broadcast(lags))
          .join(broadcast(hourly.select(col("hr").as("hr2"), col("cnt").as("cnt2"))),
                col("hr2") === col("hr") + col("lag"))
          .select(col("lag"), col("cnt").as("x"), col("cnt2").as("y"))
        pairs.groupBy("lag")
          .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
               sum(col("y")).as("sy"), sum(col("x") * col("y")).as("sxy"),
               sum(col("x") * col("x")).as("sxx"),
               sum(col("y") * col("y")).as("syy"))
          .selectExpr("lag", "n",
            // nullif pins the zero-variance degenerate case (all paired
            // hours equal) to NULL identically in both engines instead of
            // an engine-encoded NaN/Infinity the hash may not agree on
            """round((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy) /
              |nullif(sqrt(CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx) *
              |       sqrt(CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy), 0.0), 6)
              |AS r""".stripMargin)
          .orderBy("lag")
      },
      Some("""WITH hourly AS (
             |  SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000 AS hr,
             |         count(*) AS cnt
             |  FROM events WHERE event_type = 'click' GROUP BY 1),
             |pairs AS (
             |  SELECT l.lag, a.cnt AS x, b.cnt AS y
             |  FROM hourly a
             |  CROSS JOIN (VALUES (1), (2), (3)) l(lag)
             |  JOIN hourly b ON b.hr = a.hr + l.lag),
             |st AS (SELECT lag, count(*) AS n,
             |         CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
             |         CAST(sum(x * y) AS BIGINT) AS sxy,
             |         CAST(sum(x * x) AS BIGINT) AS sxx,
             |         CAST(sum(y * y) AS BIGINT) AS syy
             |       FROM pairs GROUP BY lag)
             |SELECT CAST(lag AS BIGINT) AS lag, n,
             |  round((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy) /
             |        nullif(sqrt(CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx) *
             |               sqrt(CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy), 0.0), 6)
             |  AS r
             |FROM st ORDER BY lag""".stripMargin)),

    // Feature hashing (the "hashing trick") — fixed-dimension sparse text
    // features without a vocabulary table: each token folds its character
    // codes through the polynomial hash h = (31·h + code) mod 1e9+7 (the
    // text_fingerprint primitive applied per token) and lands in bucket
    // h mod 64. Output is the 64-row bucket profile (document frequency +
    // total term frequency) — at corpus scale a bounded aggregate that
    // needs no dictionary shuffle, which is the whole point of hashed
    // features over tf-idf vocabularies. Integer-only → exact twin.
    "text_hash_features" -> Decl(
      (s, d) => {
        Tables(s, d, "documents")
          .select(col("doc_id"),
                  explode(split(lower(col("text")), " ")).as("w"))
          .filter(col("w").rlike("^[a-z]+$"))
          .select(col("doc_id"), expr(
            """pmod(aggregate(
              |  transform(filter(split(w, ''), c -> c <> ''),
              |            c -> CAST(ascii(c) AS BIGINT)),
              |  CAST(0 AS BIGINT),
              |  (a, x) -> (a * 31 + x) % 1000000007), 64)""".stripMargin)
            .as("bucket"))
          .groupBy("bucket")
          .agg(countDistinct(col("doc_id")).as("df"),
               count(lit(1)).as("tf"))
          .orderBy("bucket")
      },
      Some("""WITH tok AS (
             |  SELECT doc_id, w
             |  FROM (SELECT doc_id, unnest(string_split(lower(text), ' ')) AS w
             |        FROM documents)
             |  WHERE regexp_matches(w, '^[a-z]+$')),
             |hashed AS (
             |  SELECT doc_id,
             |    list_reduce(list_prepend(CAST(0 AS BIGINT),
             |        list_transform(string_split(w, ''),
             |                       c -> CAST(ord(c) AS BIGINT))),
             |      (a, x) -> (a * 31 + x) % 1000000007) % 64 AS bucket
             |  FROM tok)
             |SELECT bucket, count(DISTINCT doc_id) AS df, count(*) AS tf
             |FROM hashed GROUP BY bucket ORDER BY bucket""".stripMargin)),

    // Matryoshka-truncation retrieval check — modern embedding stacks
    // serve a 16-dim prefix of a 64-dim vector for cheap first-stage
    // retrieval; this measures per-query whether the truncated index
    // returns the same top-1 neighbor as the full vector. Exactness:
    // dot products and squared norms are BIGINT sums on the 1/1000
    // integer grid; cosine is ONE fixed double expression over those
    // exact integers (identical IEEE ops both engines); argmax breaks
    // ties by vec_id through the shared struct-min. Scale shape: the
    // query set is bounded (every 50th vector) and BROADCAST, so
    // scoring is a scan of the exploded corpus with one (q,v)-keyed
    // shuffle — never a corpus×corpus join.
    "sim_matryoshka_recall" -> Decl(
      (s, d) => {
        val q = VecIndex.quantized(s, d)
        val norms = q.groupBy("vec_id").agg(sum(col("x") * col("x")).as("n2"))
        val normsT = q.filter(col("i") < 16)
          .groupBy("vec_id").agg(sum(col("x") * col("x")).as("n2"))
        val queries = q.filter(col("vec_id") % 50 === 0)
          .select(col("vec_id").as("q_id"), col("i"), col("x").as("qx"))
        def top1(dims: DataFrame => DataFrame, nrm: DataFrame, out: String) =
          dims(q).join(broadcast(dims(queries)), "i")
            .filter(col("vec_id") =!= col("q_id"))
            .groupBy("q_id", "vec_id")
            .agg(sum(col("qx") * col("x")).as("dot"))
            .join(nrm.select(col("vec_id"), col("n2").as("nv")), "vec_id")
            .join(broadcast(nrm.select(col("vec_id").as("q_id"), col("n2").as("nq"))), "q_id")
            .groupBy("q_id")
            .agg(min(struct(
              (-(col("dot").cast("double") /
                 (sqrt(col("nv").cast("double")) * sqrt(col("nq").cast("double"))))).as("nd"),
              col("vec_id").as("v"))).as("m"))
            .select(col("q_id"), col("m.v").as(out))
        top1(identity, norms, "full_id")
          .join(top1(_.filter(col("i") < 16), normsT, "trunc_id"), "q_id")
          .select(col("q_id"), col("full_id"), col("trunc_id"),
                  (col("full_id") === col("trunc_id")).cast("int").as("agree"))
          .orderBy("q_id")
      },
      Some("""WITH q AS (SELECT vec_id, u.i,
             |    CAST(round(CAST(embedding[u.i] AS DOUBLE) * 1000) AS BIGINT) AS x
             |  FROM embeddings,
             |       LATERAL (SELECT unnest(generate_series(1, len(embedding))) AS i) u),
             |qry AS (SELECT vec_id AS q_id, i, x AS qx FROM q WHERE vec_id % 50 = 0),
             |nf AS (SELECT vec_id, CAST(sum(x * x) AS BIGINT) AS n2 FROM q GROUP BY 1),
             |nt AS (SELECT vec_id, CAST(sum(x * x) AS BIGINT) AS n2 FROM q
             |       WHERE i <= 16 GROUP BY 1),
             |df AS (SELECT qry.q_id, q.vec_id, CAST(sum(qry.qx * q.x) AS BIGINT) AS dot
             |       FROM q JOIN qry USING (i) WHERE q.vec_id <> qry.q_id GROUP BY 1, 2),
             |tf AS (SELECT q_id,
             |    (min({'nd': -(CAST(dot AS DOUBLE) /
             |                  (sqrt(CAST(nv.n2 AS DOUBLE)) * sqrt(CAST(nq.n2 AS DOUBLE)))),
             |          'v': df.vec_id})).v AS full_id
             |  FROM df JOIN nf nv ON df.vec_id = nv.vec_id
             |          JOIN nf nq ON df.q_id = nq.vec_id GROUP BY q_id),
             |dt AS (SELECT qry.q_id, q.vec_id, CAST(sum(qry.qx * q.x) AS BIGINT) AS dot
             |       FROM q JOIN qry USING (i)
             |       WHERE q.vec_id <> qry.q_id AND i <= 16 GROUP BY 1, 2),
             |tt AS (SELECT q_id,
             |    (min({'nd': -(CAST(dot AS DOUBLE) /
             |                  (sqrt(CAST(nv.n2 AS DOUBLE)) * sqrt(CAST(nq.n2 AS DOUBLE)))),
             |          'v': dt.vec_id})).v AS trunc_id
             |  FROM dt JOIN nt nv ON dt.vec_id = nv.vec_id
             |          JOIN nt nq ON dt.q_id = nq.vec_id GROUP BY q_id)
             |SELECT q_id, full_id, trunc_id,
             |  CAST(full_id = trunc_id AS INT) AS agree
             |FROM tf JOIN tt USING (q_id) ORDER BY q_id""".stripMargin)),

    // Point-in-time join against SCD2 intervals — the feature-store
    // correctness primitive: each purchase event reads the dimension
    // VERSION that was valid at its timestamp (no leakage from future
    // versions). The dim side is the scd2_intervals construction
    // (status-change stream → [valid_from, valid_to) versions via lead);
    // the join is equi on user_id plus interval containment, so Spark
    // plans a hash/merge join with a residual range filter — per-user
    // state, never a cartesian. Half-open intervals make boundary hits
    // unambiguous in both engines.
    "join_pit_scd2" -> Decl(
      (s, d) => {
        val w = org.apache.spark.sql.expressions.Window
          .partitionBy("user_id").orderBy(col("valid_from"), col("event_id"))
        val dim = Tables.events(s, d)
          .filter(col("event_type").isin("signup", "error"))
          .select(col("user_id"), col("event_id"), col("event_type").as("status"),
                  col("ts").as("valid_from"))
          .withColumn("valid_to", lead(col("valid_from"), 1).over(w))
          .withColumn("version", row_number().over(w))
          .select(col("user_id").as("d_uid"), col("status"),
                  col("valid_from"), col("valid_to"), col("version"))
        Tables.events(s, d)
          .filter(col("event_type") === "purchase")
          .select(col("user_id"), col("event_id"), col("ts"))
          .join(dim, col("user_id") === col("d_uid") &&
                     col("ts") >= col("valid_from") &&
                     (col("valid_to").isNull || col("ts") < col("valid_to")))
          .select(col("user_id"), col("event_id"), col("status"), col("version"))
          .orderBy("user_id", "event_id")
      },
      Some("""WITH dim AS (
             |  SELECT user_id, event_type AS status,
             |    CAST(ts AS TIMESTAMP) AS valid_from,
             |    lead(CAST(ts AS TIMESTAMP)) OVER (PARTITION BY user_id
             |      ORDER BY CAST(ts AS TIMESTAMP), event_id) AS valid_to,
             |    CAST(row_number() OVER (PARTITION BY user_id
             |      ORDER BY CAST(ts AS TIMESTAMP), event_id) AS INT) AS version
             |  FROM events WHERE event_type IN ('signup', 'error'))
             |SELECT f.user_id, f.event_id, dim.status, dim.version
             |FROM events f JOIN dim ON f.user_id = dim.user_id
             |  AND CAST(f.ts AS TIMESTAMP) >= dim.valid_from
             |  AND (dim.valid_to IS NULL OR CAST(f.ts AS TIMESTAMP) < dim.valid_to)
             |WHERE f.event_type = 'purchase'
             |ORDER BY f.user_id, f.event_id""".stripMargin)),

    // Radius (range) similarity search — the
    // retrieval API member top-k doesn't cover — and per-query recall@k of
    // the Matryoshka prefix ladder as a retrieval-evaluation operator.

    // Radius search — every vector within cosine ≥ τ of each query (the
    // range-query retrieval API; top-k fixes the COUNT, radius fixes the
    // QUALITY bar). Four fixed query vectors broadcast against one
    // corpus scan (the brute-force baseline shape; the bounded-candidate
    // scale path is the stored-index probe in sim_ann_lsh / sim_ann_ivf).
    // Cosines round to 6 dp per the probed-EXACT R3 convention.
    "sim_range_radius" -> Decl(
      (s, d) => {
        val emb = Tables(s, d, "embeddings")
        val queries = emb.filter(col("vec_id") % 100 === 0 && col("vec_id") < 400)
          .select(col("vec_id").as("q_id"), col("embedding").as("qv"))
        emb.crossJoin(broadcast(queries))
          .filter(col("vec_id") =!= col("q_id"))
          .select(col("q_id"), col("vec_id"),
                  round(VectorOps.cosine(col("embedding"), col("qv")), 6).as("cos"))
          .filter(col("cos") >= 0.25)
          .orderBy("q_id", "vec_id")
      },
      Some("""WITH q AS (SELECT vec_id AS q_id,
             |             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS qv
             |           FROM embeddings WHERE vec_id % 100 = 0 AND vec_id < 400)
             |SELECT q_id, vec_id,
             |  round(list_cosine_similarity(
             |    list_transform(embedding, x -> CAST(x AS DOUBLE)), qv), 6) AS cos
             |FROM embeddings CROSS JOIN q
             |WHERE vec_id <> q_id
             |  AND round(list_cosine_similarity(
             |        list_transform(embedding, x -> CAST(x AS DOUBLE)), qv), 6)
             |      >= 0.25
             |ORDER BY q_id, vec_id""".stripMargin)),

    // Retrieval evaluation — per-query recall@5 of the 16-dim Matryoshka
    // prefix against full-vector ground truth, as a declared REPORT (the
    // aggregate twin of sim_matryoshka_recall's per-pair view): both
    // top-5 sets come from codegen'd dot product ranked with unique
    // tiebreaks, the overlap count is an integer, and the mean recall
    // ships as ppm (R14). The eval harness every ANN deployment runs
    // before trading accuracy for speed.
    "sim_recall_at_k" -> Decl(
      (s, d) => {
        val emb = Tables(s, d, "embeddings")
          .select(col("vec_id"), col("embedding"),
                  expr("slice(embedding, 1, 16)").as("prefix"))
        val queries = emb.filter(col("vec_id") % 100 === 0 && col("vec_id") < 400)
          .select(col("vec_id").as("q_id"), col("embedding").as("q_full"),
                  col("prefix").as("q_pre"))
        val scored = emb.crossJoin(broadcast(queries))
          .filter(col("vec_id") =!= col("q_id"))
          .select(col("q_id"), col("vec_id"),
                  VectorOps.dot(col("embedding"), col("q_full")).as("d_full"),
                  VectorOps.dot(col("prefix"), col("q_pre")).as("d_pre"))
        def top5(scoreCol: String) = {
          val w = Window.partitionBy("q_id")
            .orderBy(col(scoreCol).desc, col("vec_id").asc)
          scored.withColumn("rn", row_number().over(w)).filter(col("rn") <= 5)
            .select(col("q_id"), col("vec_id"))
        }
        val hit = top5("d_full").as("t")
          .join(top5("d_pre").as("p"), Seq("q_id", "vec_id"))
          .groupBy("q_id").agg(count(lit(1)).as("n_hits"))
        queries.select(col("q_id")).join(hit, Seq("q_id"), "left_outer")
          .select(col("q_id"),
                  coalesce(col("n_hits"), lit(0L)).as("n_hits"))
          .select(col("q_id"), col("n_hits"),
                  expr("(n_hits * 2000000L + 5) div 10").as("recall_ppm"))
          .orderBy("q_id")
      },
      None)
  )
}
