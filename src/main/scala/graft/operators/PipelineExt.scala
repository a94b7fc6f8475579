package graft.operators

import graft.{Decl, Tables, declMap}
import graft.functions.{TextOps, VectorOps}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Training-data-pipeline operators beyond the SURVEY §2.11 core — the
  * extended dedup/similarity/text-analysis surface a 100 TB corpus pipeline
  * needs: SimHash, exact n-gram Jaccard, embedding-cosine near-dup, SRP-LSH
  * and IVF approximate neighbor search, language-ID, quality scoring, token
  * counting, and order-sensitive document fingerprinting.
  *
  * Additions to the SURVEY §2 inventory (SURVEY §0 allows additions, never
  * renames). Everything is deterministic (R8): "random" hyperplanes come
  * from a compile-time LCG, hash families from seeded xxhash64.
  */
object PipelineExt {

  // one shared tokenization definition (Pipeline.docsWithTokens)
  private def docsWithTokens(s: SparkSession, d: String): DataFrame =
    Pipeline.docsWithTokens(s, d)

  // Deterministic pseudo-random unit-ish hyperplanes for SRP-LSH: a plain
  // LCG over a fixed seed — compile-time constants, no runtime RNG (R8).
  // 32 planes arranged as 8 tables × 4 bits: one 16-bit table would need
  // all 16 signs to agree (collision prob (1-θ/π)^16 ≈ 0.0006 at cos 0.4 —
  // measured empty output); banding trades precision work for recall
  // exactly like MinHash bands.
  private[graft] val SrpTables = 8
  private[graft] val SrpBitsPerTable = 4
  // Near-dup prefilter (cos ≥ 0.95) needs BOTH recall ≈ 1 (the exact-verify
  // output must reproduce the all-pairs oracle) and real pruning. Wider
  // bands than ANN's 4 bits are required for the latter: with 8-bit bands a
  // random pair (p_bit = 0.5) collides somewhere with prob 1-(1-2⁻⁸)³² ≈
  // 0.12, while a qualifying pair (p_bit = 1-θ/π ≥ 0.899 at cos 0.95)
  // misses every band with prob (1-0.899⁸)³² ≈ 2e-8. The planes are
  // compile-time constants, so recall on a given corpus is deterministic —
  // verified empirically at every fixture scale factor.
  private val DedupTables = 32
  private val DedupBitsPerTable = 8
  private def hyperplanes(n: Int): Seq[Seq[Float]] = {
    var state = 0x5DEECE66DL
    def next(): Float = {
      state = state * 6364136223846793005L + 1442695040888963407L
      ((state >>> 40).toInt / 8388608.0f) - 1.0f // ∈ [-1, 1)
    }
    Seq.fill(n)(Seq.fill(64)(next()))
  }

  /** `ARRAY<INT>` of SRP-LSH bucket keys for `col("embedding")` — `tables`
    * bands of `bitsPerTable` sign bits vs the fixed hyperplanes, all
    * computed in one fused codegen loop (`SrpBucketKeys`). `posexplode` the
    * result: pos = table id, value = packed bucket. Shared by the ANN
    * search and the near-dup prefilter.
    */
  private[operators] def srpTableKeys(tables: Int, bitsPerTable: Int): org.apache.spark.sql.Column =
    VectorOps.srpBuckets(
      col("embedding"),
      hyperplanes(tables * bitsPerTable).map(_.toArray).toArray,
      bitsPerTable)

  private val StopEn = Seq("the", "and", "of", "to", "in", "a")
  private val StopDe = Seq("der", "die", "und", "das", "ist", "ein")
  private val StopEs = Seq("el", "los", "que", "una", "por", "con")
  private val StopFr = Seq("le", "les", "des", "est", "une", "dans")
  private val StopZh = Seq("的", "是", "了", "在", "我", "有")

  val decls: Map[String, Decl] = declMap(
    // ------------------------------------------------------------ dedup
    // SimHash near-dup: 64-bit signature from per-token hash bit votes,
    // computed as 64 conditional-sum aggregates in one groupBy (partial agg
    // does the voting map-side). Pairing by 4×16-bit bands: hamming ≤ 3
    // guarantees at least one identical band (pigeonhole), so banding loses
    // nothing at that radius. No DuckDB twin for xxhash64 → oracle-N;
    // OperatorSpec asserts planted-pair recall.
    "dedup_simhash" -> Decl(
      (s, d) => {
        // eager checkpoint of the small pair set releases the signature
        // cache inside the query — same hygiene as dedup_near_minhash; the
        // lazy pipeline (simhashPairs) stays inspectable for plan gates
        val (matched, cached) = simhashPairs(s, d)
        val out = matched.localCheckpoint(true)
        cached.foreach(_.unpersist())
        out.orderBy("id_a", "id_b")
      },
      None),

    // Exact n-gram (bigram) Jaccard within (lang, source) groups — the
    // corpus has NATURAL near-dups here (max bigram-Jaccard ≈ 0.97), so no
    // planting. Fully relational intersection counting; DuckDB mirrors with
    // list lambdas. The group key bounds the pair space (at 100 TB the
    // grouping key IS the scalability control: pairs never cross groups).
    "dedup_ngram_jaccard" -> Decl(
      (s, d) => ngramJaccardPairs(s, d).orderBy("id_a", "id_b"),
      Some("""WITH tok AS (SELECT doc_id, lang, source, string_split(text, ' ') AS t FROM documents),
             |sh AS (SELECT DISTINCT doc_id, lang, source, g FROM (
             |  SELECT doc_id, lang, source,
             |         unnest(list_transform(generate_series(1, len(t) - 1),
             |                               i -> t[i] || ' ' || t[i + 1])) AS g
             |  FROM tok WHERE len(t) >= 2)),
             |df AS (SELECT lang, source, g, count(*) AS df
             |       FROM sh GROUP BY 1, 2, 3),
             |kept AS (SELECT sh.doc_id, sh.lang, sh.source, sh.g
             |         FROM sh JOIN df USING (lang, source, g) WHERE df <= 32),
             |sizes AS (SELECT doc_id, count(*) AS sz FROM kept GROUP BY doc_id),
             |inter AS (
             |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n
             |  FROM kept a JOIN kept b ON a.lang = b.lang AND a.source = b.source
             |                         AND a.g = b.g AND a.doc_id < b.doc_id
             |  GROUP BY 1, 2)
             |SELECT id_a, id_b,
             |       round(CAST(n AS DOUBLE) / (sa.sz + sb.sz - n), 6) AS jaccard
             |FROM inter JOIN sizes sa ON sa.doc_id = id_a
             |           JOIN sizes sb ON sb.doc_id = id_b
             |WHERE round(CAST(n AS DOUBLE) / (sa.sz + sb.sz - n), 6) >= 0.2
             |ORDER BY id_a, id_b""".stripMargin)),

    // Embedding-cosine near-dup: plant near-identical vectors (two leading
    // coordinates swapped, id+100000, same label) and find all within-label
    // pairs with cosine ≥ 0.95. SRP-LSH (32×8-bit bands, see DedupTables)
    // generates the candidate pairs — the pair space is bounded by bucket
    // collisions instead of label-group size — and the exact cosine verify
    // of candidates reproduces the all-pairs oracle output exactly (the
    // prefilter's miss probability at the 0.95 threshold is ~2e-8/pair and
    // the planes are compile-time constants, so recall on the fixtures is
    // deterministic; OperatorSpec asserts it is 1.0).
    "dedup_embedding_cosine" -> Decl(
      (s, d) => {
        val emb = Tables(s, d, "embeddings")
        val pert = emb.select(
          (col("vec_id") + 100000L).as("vec_id"),
          concat(array(element_at(col("embedding"), 2), element_at(col("embedding"), 1)),
                 slice(col("embedding"), lit(3), lit(62))).as("embedding"),
          col("label"))
        val all = emb.select("vec_id", "embedding", "label").unionAll(pert)
        val n = s.sparkContext.defaultParallelism
        // same plan discipline as sim_ann_lsh: explicit-count repartition
        // ahead of the bucket fan-out, co-partitioned shuffle_hash
        // self-join (the banded table is corpus-sized — never broadcast)
        val withB = all
          .select(col("vec_id"), col("label"),
                  posexplode(srpTableKeys(DedupTables, DedupBitsPerTable)).as(Seq("tbl", "bucket")))
          .repartition(n, col("tbl"), col("bucket"))
        val cand = withB.as("a")
          .join(withB.as("b").hint("shuffle_hash"),
                col("a.tbl") === col("b.tbl") && col("a.bucket") === col("b.bucket") &&
                col("a.label") === col("b.label") && col("a.vec_id") < col("b.vec_id"))
          .select(col("a.label").as("label"),
                  col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"))
          .distinct()
        // exact-cosine verify of candidates only. The candidate-pair table
        // grows with bucket density (same argument as sim_ann_lsh, round-10
        // ScaleProbe), so it is never broadcast — both vector joins are
        // pinned shuffle_hash on the pair keys, bounding every task by its
        // partition instead of the corpus.
        cand
          .repartition(n, col("id_a"))
          .join(all.select(col("vec_id").as("id_a"), col("embedding").as("ea"))
                  .hint("shuffle_hash"), "id_a")
          .join(all.select(col("vec_id").as("id_b"), col("embedding").as("eb"))
                  .hint("shuffle_hash"), "id_b")
          // Round-12: τ cut on the raw cosine first (round6(x) >= 0.95 ⇒
          // x >= 0.9499995 > 0.9499); the per-row decimal round only
          // touches survivors and the exact rounded filter reapplies —
          // pairs and values bit-identical.
          .withColumn("rawcos", VectorOps.cosine(col("ea"), col("eb")))
          .filter(col("rawcos") >= 0.9499)
          .withColumn("cos", round(col("rawcos"), 6))
          .filter(col("cos") >= 0.95)
          .select("label", "id_a", "id_b", "cos")
          .orderBy("label", "id_a", "id_b")
      },
      Some("""WITH pert AS (
             |  SELECT vec_id + 100000 AS vec_id,
             |         list_concat([embedding[2], embedding[1]], embedding[3:64]) AS embedding,
             |         label
             |  FROM embeddings),
             |alle AS (SELECT vec_id, embedding, label FROM embeddings
             |         UNION ALL SELECT vec_id, embedding, label FROM pert)
             |SELECT a.label AS label, a.vec_id AS id_a, b.vec_id AS id_b,
             |       round(list_cosine_similarity(
             |         list_transform(a.embedding, x -> CAST(x AS DOUBLE)),
             |         list_transform(b.embedding, x -> CAST(x AS DOUBLE))), 6) AS cos
             |FROM alle a JOIN alle b ON a.label = b.label AND a.vec_id < b.vec_id
             |WHERE round(list_cosine_similarity(
             |         list_transform(a.embedding, x -> CAST(x AS DOUBLE)),
             |         list_transform(b.embedding, x -> CAST(x AS DOUBLE))), 6) >= 0.95
             |ORDER BY label, id_a, id_b""".stripMargin)),

    // ------------------------------------------------------ ANN (scale path)
    // Signed-random-projection LSH: 16 sign bits vs fixed hyperplanes pack
    // into a bucket id; only same-bucket pairs are scored. This is the
    // billion-vector shape: bucketing is one scan + one shuffle on the
    // bucket key, and the verify step touches candidate pairs only.
    // Approximate (recall < 1) → oracle-N; OperatorSpec measures recall
    // against the exact pair set.
    "sim_ann_lsh" -> Decl(
      (s, d) => {
        val n = s.sparkContext.defaultParallelism
        val emb = Tables(s, d, "embeddings")
        // Adaptive bit budget: with FIXED bits, vectors-per-bucket grows
        // linearly with the corpus and candidate pairs quadratically (the
        // round-10 ScaleProbe measured exactly that). Holding expected
        // occupancy ~64 (bits = log2(N/64), clamped to [4, 12]) keeps
        // pairs-per-vector roughly constant — the standard LSH scale
        // knob; the hyperplanes stay compile-time-deterministic (the LCG
        // just emits tables × bits of them). At the sf0.001/0.01 fixture
        // scales the clamp keeps the historical 4 bits, so the recall
        // bound test and the CORRECTNESS row shape are unchanged.
        val nVec = Tables.rowCount(s, d, "embeddings")
        def ceilLog2(x: Long): Int =
          if (x <= 1L) 0 else 64 - java.lang.Long.numberOfLeadingZeros(x - 1)
        val annBits = math.min(12, math.max(SrpBitsPerTable, ceilLog2(nVec / 64)))
        // Dedup candidate id-pairs across tables BEFORE scoring: a pair can
        // collide in up to 8 tables, and shuffling two longs is far cheaper
        // than computing (and carrying) cosines 8×. The bucket self-join is
        // co-partitioned shuffle_hash with an EXPLICIT partition count:
        // the banded-key table is corpus-sized (broadcasting it is the OOM
        // path at a billion vectors), and AQE's size-based coalescing would
        // serialize the pair fan-out onto one core (measured 15 s
        // single-task at sf0.1).
        val withB = emb
          .select(col("vec_id"),
                  posexplode(srpTableKeys(SrpTables, annBits)).as(Seq("tbl", "bucket")))
          .repartition(n, col("tbl"), col("bucket"))
        val pairs = withB.as("a")
          .join(withB.as("b").hint("shuffle_hash"),
                col("a.tbl") === col("b.tbl") && col("a.bucket") === col("b.bucket") &&
                col("a.vec_id") < col("b.vec_id"))
          .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"))
          .distinct()
        // Scoring join: NOTHING here may broadcast. The embeddings table is
        // corpus-sized, and the deduped candidate-pair set grows with
        // bucket DENSITY (pairs-per-bucket is quadratic in vectors-per-
        // bucket under a fixed bit budget) — the round-10 ScaleProbe
        // caught an earlier broadcast(pairs) OOMing at just 10× sf0.1.
        // Both joins are pinned shuffle_hash on the pair keys: each task
        // builds only its partition's slice, so memory stays bounded by
        // the partition, not the corpus. Norms are computed ONCE per
        // vector, not per pair — same doubles, sqrt(dot(v,v)) either way,
        // 1 dot per pair instead of 3.
        val embV = emb
          .select(col("vec_id"), col("embedding"),
                  sqrt(VectorOps.dot(col("embedding"), col("embedding"))).as("nrm"))
        pairs
          .repartition(n, col("id_a"))
          .join(embV.select(col("vec_id").as("id_a"), col("embedding").as("ea"),
                            col("nrm").as("na"))
                  .hint("shuffle_hash"), "id_a")
          .join(embV.select(col("vec_id").as("id_b"), col("embedding").as("eb"),
                            col("nrm").as("nb"))
                  .hint("shuffle_hash"), "id_b")
          .select(col("id_a"), col("id_b"),
                  (VectorOps.dot(col("ea"), col("eb")) /
                    (col("na") * col("nb"))).as("rawcos"))
          // Round-12: round(double, 6) is a per-row BigDecimal — cut on the
          // raw cosine first (round6(x) >= 0.3 ⇒ x >= 0.2999995 > 0.2999),
          // then reapply the EXACT rounded filter on the survivors; the
          // emitted pairs and values are bit-identical.
          .filter(col("rawcos") >= 0.2999)
          .select(col("id_a"), col("id_b"), round(col("rawcos"), 6).as("cos"))
          .filter(col("cos") >= 0.3)
          .orderBy("id_a", "id_b")
      },
      None),

    // IVF routed search with REAL k-means cells: label means seed the
    // centroids, two deterministic Lloyd iterations refine them (assign →
    // recompute), vectors are routed to their final cell, and the query
    // scans only its 3 nearest cells for the top-10. At scale the routed
    // scan reads ~nprobe/nlist of the data; the assign passes are
    // broadcast-nested-loop over nlist centroids (tiny) × one data scan
    // each — the standard IVF build cost, amortized over every query.
    // Determinism: centroid coordinates round to 6 dp (kills partial-agg
    // ULP noise), assignment tie-breaks by lowest cell id.
    "sim_ann_ivf" -> Decl(
      (s, d) => {
        val emb = Tables(s, d, "embeddings")
        val (cent, cells) = VecIndex.ivf(s, d) // cells: final (vec_id, cid) routing
        val q = emb.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
        val probes = cent.crossJoin(broadcast(q))
          .select(col("cid"), VectorOps.cosine(col("centroid"), col("qv")).as("cscore"))
          .orderBy(col("cscore").desc, col("cid").asc)
          .limit(3)
        emb.join(cells, "vec_id")
          .join(broadcast(probes.select("cid")), "cid")
          .filter(col("vec_id") =!= 0)
          .crossJoin(broadcast(q))
          .select(col("vec_id"), round(VectorOps.cosine(col("embedding"), col("qv")), 6).as("cos"))
          .orderBy(col("cos").desc, col("vec_id").asc)
          .limit(10)
      },
      None),

    // ------------------------------------------------------------- text
    // Language-ID by stopword-list voting (a real n-gram/lexicon heuristic;
    // on this synthetic corpus every language shares one vocabulary, so
    // accuracy is data-limited — the operator and its oracle are exact).
    // Ties break by the fixed CASE order.
    "text_langid" -> Decl(
      (s, d) => {
        def hits(words: Seq[String]) =
          size(array_intersect(col("toks"), array(words.map(lit): _*)))
        val scored = docsWithTokens(s, d).select(
          col("doc_id"), col("lang"),
          hits(StopEn).as("s_en"), hits(StopDe).as("s_de"), hits(StopEs).as("s_es"),
          hits(StopFr).as("s_fr"), hits(StopZh).as("s_zh"))
        scored.select(
          col("doc_id"), col("lang"),
          when(col("s_en") >= greatest(col("s_de"), col("s_es"), col("s_fr"), col("s_zh")), "en")
            .when(col("s_de") >= greatest(col("s_es"), col("s_fr"), col("s_zh")), "de")
            .when(col("s_es") >= greatest(col("s_fr"), col("s_zh")), "es")
            .when(col("s_fr") >= col("s_zh"), "fr")
            .otherwise("zh").as("predicted"))
          .withColumn("is_correct", col("predicted") === col("lang"))
          .orderBy("doc_id")
      },
      Some(s"""WITH t AS (SELECT doc_id, lang, string_split(text, ' ') AS toks FROM documents),
              |s AS (SELECT doc_id, lang,
              |  len(list_intersect(toks, ${dlist(StopEn)})) AS s_en,
              |  len(list_intersect(toks, ${dlist(StopDe)})) AS s_de,
              |  len(list_intersect(toks, ${dlist(StopEs)})) AS s_es,
              |  len(list_intersect(toks, ${dlist(StopFr)})) AS s_fr,
              |  len(list_intersect(toks, ${dlist(StopZh)})) AS s_zh
              |  FROM t)
              |SELECT doc_id, lang,
              |  CASE WHEN s_en >= greatest(s_de, s_es, s_fr, s_zh) THEN 'en'
              |       WHEN s_de >= greatest(s_es, s_fr, s_zh) THEN 'de'
              |       WHEN s_es >= greatest(s_fr, s_zh) THEN 'es'
              |       WHEN s_fr >= s_zh THEN 'fr'
              |       ELSE 'zh' END AS predicted,
              |  (CASE WHEN s_en >= greatest(s_de, s_es, s_fr, s_zh) THEN 'en'
              |        WHEN s_de >= greatest(s_es, s_fr, s_zh) THEN 'de'
              |        WHEN s_es >= greatest(s_fr, s_zh) THEN 'es'
              |        WHEN s_fr >= s_zh THEN 'fr'
              |        ELSE 'zh' END) = lang AS is_correct
              |FROM s ORDER BY doc_id""".stripMargin)),

    // Per-language character-trigram profile — the statistical signature a
    // REAL language identifier trains on (text_langid's stopword voting is
    // the lexicon shortcut; this is the n-gram model's feature extraction).
    // One explode pass → (lang, gram) count → top-5 per language by a
    // bounded window. The gram space is tiny (≤ charset³ per language), so
    // at 100 TB the count shuffle carries pre-combined partial counts.
    "text_ngram_profile" -> Decl(
      (s, d) => {
        // Explicit-N repartition before the trigram explode: the corpus is
        // one scan partition and the interpreted HOF lambda dominates this
        // query (1.7 s single-task at sf0.1, profiled) — and AQE's
        // size-based coalescing would collapse a bare repartition(col) of
        // the small doc rows right back to one partition.
        val grams = Tables(s, d, "documents")
          .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
          .select(col("lang"),
                  explode(expr(
                    "transform(sequence(1, greatest(length(text) - 2, 0)), i -> substring(text, i, 3))"))
                    .as("gram"))
          .groupBy("lang", "gram").agg(count(lit(1)).as("cnt"))
        val w = Window.partitionBy("lang").orderBy(col("cnt").desc, col("gram").asc)
        grams.withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 5)
          .select("lang", "gram", "cnt")
          .orderBy("lang", "gram")
      },
      Some("""WITH g AS (
             |  SELECT lang,
             |         unnest(list_transform(generate_series(1, length(text) - 2),
             |                               i -> substr(text, i, 3))) AS gram
             |  FROM documents),
             |c AS (SELECT lang, gram, count(*) AS cnt FROM g GROUP BY 1, 2)
             |SELECT lang, gram, cnt FROM (
             |  SELECT lang, gram, cnt,
             |         row_number() OVER (PARTITION BY lang ORDER BY cnt DESC, gram ASC) AS rn
             |  FROM c)
             |WHERE rn <= 5 ORDER BY lang, gram""".stripMargin)),

    // Quality scoring: length, type-token ratio, mean token length,
    // stopword ratio, composite score — the standard cheap filters a
    // pretraining pipeline applies in its first pass.
    "text_quality_score" -> Decl(
      (s, d) => docsWithTokens(s, d).select(
        col("doc_id"),
        size(col("toks")).cast("int").as("n_tokens"),
        round(size(array_distinct(col("toks"))).cast("double") / size(col("toks")), 6).as("ttr"),
        round(col("n_chars").cast("double") / size(col("toks")), 6).as("mean_tok_len"),
        round(expr("size(filter(toks, x -> x = 'the' OR x = 'a'))").cast("double") /
              size(col("toks")), 6).as("stop_ratio"))
        // quality stays UNROUNDED: it is a product of already-rounded,
        // bit-identical doubles, and its true value is a short terminating
        // decimal that can land exactly on a rounding boundary (observed at
        // sf0.1: 0.64·0.96875·0.421875 = 0.2615625 — Spark and DuckDB round
        // the boundary differently). The raw double product is identical in
        // both engines; re-rounding it is what diverges.
        .withColumn("quality",
          least(lit(1.0), col("n_tokens") / 100.0) * (lit(1.0) - col("stop_ratio")) *
            col("ttr"))
        .orderBy("doc_id"),
      Some("""WITH t AS (SELECT doc_id, n_chars, string_split(text, ' ') AS toks FROM documents),
             |f AS (SELECT doc_id,
             |  CAST(len(toks) AS INT) AS n_tokens,
             |  round(CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks), 6) AS ttr,
             |  round(CAST(n_chars AS DOUBLE) / len(toks), 6) AS mean_tok_len,
             |  round(CAST(len(list_filter(toks, x -> x = 'the' OR x = 'a')) AS DOUBLE)
             |        / len(toks), 6) AS stop_ratio
             |  FROM t)
             |SELECT doc_id, n_tokens, ttr, mean_tok_len, stop_ratio,
             |  least(1.0, n_tokens / 100.0) * (1.0 - stop_ratio) * ttr AS quality
             |FROM f ORDER BY doc_id""".stripMargin)),

    // Token counting: whitespace tokens, a BPE-ish subword proxy (runs of
    // 1–4 chars), and a chars-per-token estimate.
    "text_token_count" -> Decl(
      (s, d) => docsWithTokens(s, d).select(
        col("doc_id"),
        size(col("toks")).cast("int").as("ws_tokens"),
        regexp_count(col("text"), lit("[a-z0-9]{1,4}")).cast("int").as("subword_tokens"),
        col("n_chars").cast("bigint").as("chars"),
        round(col("n_chars").cast("double") / size(col("toks")), 6).as("chars_per_token"))
        .orderBy("doc_id"),
      Some("""SELECT doc_id,
             |CAST(len(string_split(text, ' ')) AS INT) AS ws_tokens,
             |CAST(len(regexp_extract_all(text, '[a-z0-9]{1,4}')) AS INT) AS subword_tokens,
             |CAST(n_chars AS BIGINT) AS chars,
             |round(CAST(n_chars AS DOUBLE) / len(string_split(text, ' ')), 6) AS chars_per_token
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // Order-sensitive document fingerprint: polynomial rolling hash over the
    // token stream, acc = (acc*31 + tokval) mod 1e9+7 with
    // tokval = len(tok)*131 + first-char code — permutation-sensitive where
    // dedup_exact's md5 is content-only. Same fold in both engines.
    // Per-label embedding centroid — the class-centroid computation every
    // embedding pipeline needs (IVF routing builds on the same shape). The
    // scalable form is posexplode → (label, dim) partial-agg mean: one
    // shuffle of scalar rows, no array materialization per group (a
    // collect_list-then-fold centroid would buffer every vector of a label
    // in one task). Output is (label, dim, coord) scalar rows (R5).
    "agg_vector_centroid" -> Decl(
      (s, d) => Tables(s, d, "embeddings")
        .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "v")))
        .groupBy(col("label"), (col("pos") + 1).as("dim"))
        .agg(round(avg(col("v").cast("double")), 6).as("coord"))
        .orderBy("label", "dim"),
      Some("""SELECT label, pos AS dim, round(avg(CAST(v AS DOUBLE)), 6) AS coord
             |FROM (SELECT label, unnest(embedding) AS v,
             |             generate_subscripts(embedding, 1) AS pos
             |      FROM embeddings)
             |GROUP BY label, pos ORDER BY label, dim""".stripMargin)),

    // Deterministic train/valid/test assignment — the split every training
    // pipeline needs. A Knuth multiplicative hash of the doc id (NOT rand():
    // re-runs, retries, and different engines must agree on every row's
    // split; the multiplier decorrelates the split from any id ordering)
    // lands each doc in [0,100); 80/10/10 by range. Embarrassingly parallel:
    // a pure per-row projection, no shuffle except the declared total order.
    "split_train_holdout" -> Decl(
      (s, d) => {
        val bucket = pmod(col("doc_id") * lit(2654435761L), lit(100L))
        Tables.canon(
          Tables(s, d, "documents").select(
            col("doc_id"),
            bucket.as("bucket"),
            when(bucket < 80, "train").when(bucket < 90, "valid")
              .otherwise("test").as("split")))
      },
      Some("""SELECT doc_id, (doc_id * 2654435761) % 100 AS bucket,
             |CASE WHEN (doc_id * 2654435761) % 100 < 80 THEN 'train'
             |     WHEN (doc_id * 2654435761) % 100 < 90 THEN 'valid'
             |     ELSE 'test' END AS split
             |FROM documents ORDER BY ALL NULLS FIRST""".stripMargin)),

    // Stratified downsampling with per-stratum rates — rebalancing an
    // over-represented language ('en' is ~44% of the corpus; keep 10% of it,
    // 50% of everything else). Systematic-by-hash rather than rand() for the
    // same determinism reasons as the split; at 100 TB this is a pure
    // filter over the scan (no shuffle, no state), so it runs at I/O speed.
    "sample_stratified" -> Decl(
      (s, d) => {
        val ticket = pmod(col("doc_id") * lit(1099087573L), lit(1000L))
        Tables.canon(
          Tables(s, d, "documents")
            .filter(ticket < when(col("lang") === "en", 100L).otherwise(500L))
            .select(col("doc_id"), col("lang")))
      },
      Some("""SELECT doc_id, lang FROM documents
             |WHERE (doc_id * 1099087573) % 1000 <
             |      CASE WHEN lang = 'en' THEN 100 ELSE 500 END
             |ORDER BY ALL NULLS FIRST""".stripMargin)),

    "text_fingerprint" -> Decl(
      (s, d) => docsWithTokens(s, d).select(
        col("doc_id"),
        expr("""aggregate(
               |  transform(toks, t -> (length(t) * 131 + ascii(t)) % 1000000007),
               |  CAST(0 AS BIGINT),
               |  (a, x) -> (a * 31 + x) % 1000000007)""".stripMargin).as("fingerprint"))
        .orderBy("doc_id"),
      Some("""SELECT doc_id,
             |list_reduce(
             |  list_prepend(CAST(0 AS BIGINT),
             |    list_transform(string_split(text, ' '),
             |                   t -> CAST((length(t) * 131 + ascii(t)) % 1000000007 AS BIGINT))),
             |  (a, x) -> (a * 31 + x) % 1000000007) AS fingerprint
             |FROM documents ORDER BY doc_id""".stripMargin)),

    // Dedup clustering: connected components over the near-dup pair graph —
    // the step that turns pairwise similarity into "keep one canonical doc
    // per cluster". Iterative min-label propagation (Pregel-lite): each
    // round every node takes the minimum component id among itself and its
    // neighbors; driver loops to the fixpoint. Deterministic (min is
    // order-free), and each round is one join + one aggregate — at 100 TB
    // this is the standard large-graph CC shape (rounds ≈ component
    // diameter, which for dedup clusters is tiny). Oracle: DuckDB recursive
    // CTE computing min-reachable-id per doc over the same edge set.
    "dedup_connected_components" -> Decl(
      (s, d) => {
        val pairs = ngramJaccardPairs(s, d).select("id_a", "id_b")
        val edges = pairs.select(col("id_a").as("src"), col("id_b").as("dst"))
          .unionAll(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
          .persist()
        // Iterate over the DUP-GRAPH NODES only: a doc with no near-dup edge
        // can never change label, so the corpus stays out of the loop
        // entirely (at 100 TB the pair graph is orders of magnitude smaller
        // than the corpus — this is the difference between joining 5 000
        // labels per round and joining the handful of docs that actually
        // have duplicates). Isolated docs are stitched back at the end with
        // comp = doc_id.
        // One round per Fixpoint generation (a cut, so the plan never
        // deepens); `chg` marks the labels a round lowered, and the round
        // that lowers none is the fixpoint. Returning partially-propagated
        // labels would silently diverge from the recursive-CTE oracle, so
        // a >20-diameter dedup component throws (the threshold, not the
        // cap, is wrong then).
        val labels = Fixpoint(
            edges.select(col("src").as("doc_id")).distinct()
              .select(col("doc_id"), col("doc_id").as("comp")),
            Seq(count(when(col("chg"), 1))), 20, "connected components") { cur =>
          val nbrMin = cur.join(edges, col("doc_id") === col("src"))
            .groupBy(col("dst")).agg(min(col("comp")).as("nbr_min"))
            .select(col("dst").as("nbr_id"), col("nbr_min"))
          cur.join(nbrMin, col("doc_id") === col("nbr_id"), "left")
            .select(col("doc_id"),
                    least(col("comp"), coalesce(col("nbr_min"), col("comp"))).as("comp"),
                    (coalesce(col("nbr_min"), col("comp")) < col("comp")).as("chg"))
        }((r, _) => r.getLong(0) == 0L)
        val full = Tables(s, d, "documents")
          .join(labels.select(col("doc_id").as("lid"), col("comp")),
                col("doc_id") === col("lid"), "left")
          .select(col("doc_id"), coalesce(col("comp"), col("doc_id")).as("comp"))
        val out = full.localCheckpoint(true)
        edges.unpersist()
        out.orderBy("doc_id")
      },
      Some("""WITH RECURSIVE
             |tok AS (SELECT doc_id, lang, source, string_split(text, ' ') AS t FROM documents),
             |sh AS (SELECT DISTINCT doc_id, lang, source, g FROM (
             |  SELECT doc_id, lang, source,
             |         unnest(list_transform(generate_series(1, len(t) - 1),
             |                               i -> t[i] || ' ' || t[i + 1])) AS g
             |  FROM tok WHERE len(t) >= 2)),
             |df AS (SELECT lang, source, g, count(*) AS df
             |       FROM sh GROUP BY 1, 2, 3),
             |kept AS (SELECT sh.doc_id, sh.lang, sh.source, sh.g
             |         FROM sh JOIN df USING (lang, source, g) WHERE df <= 32),
             |sizes AS (SELECT doc_id, count(*) AS sz FROM kept GROUP BY doc_id),
             |inter AS (
             |  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n
             |  FROM kept a JOIN kept b ON a.lang = b.lang AND a.source = b.source
             |                         AND a.g = b.g AND a.doc_id < b.doc_id
             |  GROUP BY 1, 2),
             |pairs AS (
             |  SELECT id_a, id_b FROM inter
             |  JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
             |  WHERE round(CAST(n AS DOUBLE) / (sa.sz + sb.sz - n), 6) >= 0.2),
             |edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
             |          UNION ALL SELECT id_b, id_a FROM pairs),
             |reach AS (
             |  SELECT doc_id, doc_id AS r FROM documents
             |  UNION
             |  SELECT e.dst AS doc_id, reach.r FROM reach JOIN edges e ON e.src = reach.doc_id)
             |SELECT doc_id, min(r) AS comp FROM reach GROUP BY doc_id
             |ORDER BY doc_id""".stripMargin)),

    // Frame sampling over an opaque "video" payload: partition-batched
    // typed mapPartitions slices the BINARY into fixed 256-byte frames and
    // keeps every 2nd one — the real plumbing (explode-like row expansion
    // from binary, Array[Byte] batch shape) a video pipeline needs, with
    // the frame decode stubbed to deterministic byte math (media libs
    // aren't in this container). Payload bytes are the UTF-8 text (ASCII ⇒
    // byte i == char i), which is what makes the SQL oracle expressible.
    "multimodal_frame_sample" -> Decl(
      (s, d) => {
        val sp = s; import sp.implicits._
        Tables(s, d, "documents")
          .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
          .as[(Long, Array[Byte])]
          .mapPartitions { rows =>
            rows.flatMap { case (id, payload) =>
              payload.grouped(256).zipWithIndex.collect {
                case (frame, i) if i % 2 == 0 =>
                  (id, i, frame.length, frame(0) & 0xFF)
              }
            }
          }
          .toDF("doc_id", "frame_id", "frame_bytes", "first_byte")
          .orderBy("doc_id", "frame_id")
      },
      Some("""SELECT doc_id, i AS frame_id,
             |CAST(least(256, n_chars - i * 256) AS INT) AS frame_bytes,
             |CAST(ascii(substr(text, i * 256 + 1, 1)) AS INT) AS first_byte
             |FROM documents,
             |     unnest(generate_series(0, CAST(ceil(n_chars / 256.0) AS INT) - 1)) t(i)
             |WHERE i % 2 = 0
             |ORDER BY doc_id, frame_id""".stripMargin)),

    // ------------------------------------------------- multimodal binary
    // Opaque binary payloads + typed metadata: text bytes stand in for
    // image/audio blobs. The "decode" is a clearly-marked deterministic stub
    // (this container has no media libs), but the Spark plumbing is real:
    // BINARY column, typed Dataset, partition-batched mapPartitions — the
    // same shape a real decoder (or a Python mapInPandas worker) plugs into.
    "multimodal_binary_meta" -> Decl(
      (s, d) => {
        val sp = s; import sp.implicits._
        val bin = Tables(s, d, "documents")
          .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"),
                  struct(col("lang"), col("source"), col("n_chars")).as("meta"))
        val decoded = bin
          .select(col("doc_id"), col("payload"), col("meta.lang").as("lang"))
          .as[(Long, Array[Byte], String)]
          .mapPartitions { rows =>
            // STUB decode: a real implementation would hand `payload` to an
            // image/audio decoder per batch; the deterministic fake below
            // extracts byte-level "features" so the pipeline is testable.
            rows.map { case (id, payload, lang) =>
              // unsigned mask (like frame_sample): a signed byte would go
              // negative for non-ASCII leads while the oracle's ascii() is
              // a positive code point; empty payload → 0 = DuckDB ascii('')
              val headByte = if (payload.nonEmpty) payload(0) & 0xFF else 0
              (id, lang, payload.length.toLong, headByte)
            }
          }
          .toDF("doc_id", "lang", "n_bytes", "head_byte")
        decoded.orderBy("doc_id")
      },
      Some("""SELECT doc_id, lang,
             |CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
             |CAST(ascii(substr(text, 1, 1)) AS INT) AS head_byte
             |FROM documents ORDER BY doc_id""".stripMargin)))

  /** DuckDB list literal from strings. */
  private def dlist(ws: Seq[String]): String =
    ws.map(w => s"'$w'").mkString("[", ", ", "]")

  /** Deterministic integer cell ids seeding the IVF k-means from the label
    * partition (lazy). */
  private[graft] def ivfLabelSeed(s: SparkSession, d: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.orderBy("label")
    Tables(s, d, "embeddings").select("label").distinct()
      .withColumn("cid", row_number().over(w))
  }

  /** Elementwise mean centroid per cell: one posexplode partial-agg shuffle
    * of scalars, no per-cell array buffering. Coordinates round to 6 dp so
    * partial-agg ULP noise cannot flip downstream assignments. */
  private[graft] def ivfCentroidOf(assigned: DataFrame): DataFrame = assigned
    .select(col("cid"), posexplode(col("embedding")).as(Seq("pos", "x")))
    .groupBy("cid", "pos").agg(avg(col("x")).as("m"))
    .groupBy("cid")
    .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
    .select(col("cid"),
            expr("transform(pm, p -> CAST(round(p.m, 6) AS FLOAT))").as("centroid"))

  /** One Lloyd assignment pass of every vector to its best cell in `cent` —
    * a scan-speed projection: the (tiny, nlist-bounded) centroid table is
    * collected and rides the native `CentroidAssign` expression as a
    * reference object, so assignment is one compiled loop per row with no
    * join and no aggregate (the broadcast-nested-loop + max_by form this
    * replaces fanned every vector out ×nlist with interpreted cosines).
    * Ties break to the lowest cell id; score rounding and cosine order are
    * bit-compatible with the relational form (SketchParitySpec). LAZY in
    * the sense that the returned frame is uncheckpointed; the centroid
    * collect is the same materialization the broadcast required. */
  private[graft] def ivfAssignLazy(s: SparkSession, d: String, cent: DataFrame): DataFrame =
    Tables(s, d, "embeddings")
      // explicit-count repartition: the corpus is one scan split — without
      // it the whole per-row assign pass runs on one core
      .repartition(s.sparkContext.defaultParallelism, col("vec_id"))
      .select(col("vec_id"), centroidAssign(cent, col("embedding")).as("cid"))

  /** Each `embedding`'s nearest cell in `cent(cid, centroid)`, collected
    * once in cid order into the native `CentroidAssign` expression. */
  private[graft] def centroidAssign(cent: DataFrame, embedding: Column): Column = {
    val rows = cent.select(col("cid"), col("centroid")).collect().sortBy(_.getInt(0))
    VectorOps.centroidAssign(embedding, rows.map(_.getInt(0)),
                             rows.map(_.getSeq[Float](1).toArray))
  }

  /** LAZY 64-bit SimHash pair pipeline (hamming ≤ 3 via 4×16-bit banding),
    * NOT yet checkpointed — returned with the persisted signature table so
    * the caller controls its release; plan gates inspect this full tree.
    * Same planted-near-dup corpus as dedup_near_minhash (one shared
    * definition keeps both dedup families testing identical pairs).
    */
  private[graft] def simhashPairs(s: SparkSession, d: String): (DataFrame, Seq[DataFrame]) = {
    val n = s.sparkContext.defaultParallelism
    // PER-ROW signature (native SimHashSig over the token array): a
    // signature depends only on its own row, so the explode + shuffle +
    // sketch-aggregate of the round-1..4 form is gone entirely — same
    // bits (hash parity asserted in OperatorSpec), scan-speed, no shuffle.
    // The explicit-count repartition parallelizes the one-file scan AND
    // survives AQE coalescing into the band fan-out below.
    val sig = Pipeline.nearDupCorpus(s, d)
      .repartition(n, col("doc_id"))
      .select(col("doc_id"), graft.functions.SketchOps.simhashSig(col("toks")).as("sim"))
      .persist()
    val banded = sig.select(col("doc_id"), col("sim"),
      explode(array((0 until 4).map(b =>
        struct(lit(b).as("band"),
               shiftrightunsigned(col("sim"), b * 16).bitwiseAND(lit(0xFFFFL)).as("v"))): _*)).as("bk"))
      .select(col("doc_id"), col("sim"), col("bk.band").as("band"), col("bk.v").as("v"))
      .repartition(n, col("band"), col("v"))
    // co-partitioned shuffle_hash self-join: at corpus scale the banded
    // table is corpus-sized — broadcasting it is the OOM path; only the
    // candidate pair OUTPUT is collision-bounded.
    val matched = banded.as("a")
      .join(banded.as("b").hint("shuffle_hash"),
            col("a.band") === col("b.band") && col("a.v") === col("b.v") &&
            col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"),
              bit_count(col("a.sim").bitwiseXOR(col("b.sim"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= 3)
    (matched, Seq(sig))
  }

  /** Document-frequency cap for Jaccard shingles: a shingle shared by k
    * docs within one (lang, source) group fans out to k² rows in the
    * inverted-index self-join, and real corpora have stopword bigrams
    * ("of the") with k in the millions — the one genuine 100 TB killer in
    * this pipeline. Shingles with df > cap carry no near-dup signal (they
    * are corpus-common, not document-specific), so BOTH engines compute
    * Jaccard on the df ≤ cap shingle universe: sizes, intersections, and
    * the threshold all use the same filtered set, keeping the oracle an
    * exact mirror at any scale. 32 is a fixture no-op (max df at sf0.01 is
    * 5) but bounds the worst per-shingle fan-out at 32² rows.
    */
  private[graft] val MaxShingleDf = 32

  /** LAZY df-capped shingle-intersection table — (id_a < id_b, n, sa, sb)
    * within (lang, source) groups: the shared pair-generation core that
    * both similarity metrics finalize from (Jaccard: n/(sa+sb-n);
    * containment: n/min(sa,sb)).
    */
  private[graft] def ngramIntersectionsLazy(s: SparkSession, d: String): (DataFrame, Seq[DataFrame]) = {
    // bigram text is hashed to 64 bits INSIDE the row (ShingleHashSet:
    // per-row sorted-distinct hash set, then explode) — the old global
    // `distinct()` shuffle is gone because set-dedup is a per-document
    // property, and the self-join below moves fixed 8-byte keys instead of
    // strings (2⁻⁶⁴ collisions are far below any Jaccard threshold; the
    // DuckDB oracle's string-exact counts still hash-match). Explicit-N
    // repartition BEFORE the explode (one-file scan + AQE coalescing vs
    // the fan-out — the measured ~8× serialization trap), then ONE
    // layout exchange on the shingle key that the df aggregate, the
    // df-cap join, and the inverted-index self-join below all reuse
    // (co-partitioned shuffle_hash, no re-shuffle between them).
    val n = s.sparkContext.defaultParallelism
    val shAll = docsWithTokens(s, d)
      .repartition(n, col("doc_id"))
      .select(col("doc_id"), col("lang"), col("source"),
              explode(TextOps.shingleHashes(col("toks"), 2)).as("g"))
      .repartition(n, col("lang"), col("source"), col("g"))
      .persist()
    // df cap BEFORE the self-join — this is what bounds the pair fan-out.
    // The df table is corpus-sized (one row per distinct shingle), so it
    // must never broadcast: co-partitioned shuffle_hash on the same key.
    val dfOk = shAll.groupBy("lang", "source", "g")
      .agg(count(lit(1)).as("df"))
      .filter(col("df") <= MaxShingleDf)
      .select("lang", "source", "g")
    val sh = shAll
      .join(dfOk.hint("shuffle_hash"), Seq("lang", "source", "g"))
      .select("doc_id", "lang", "source", "g")
      .persist()
    val sizes = sh.groupBy("doc_id").agg(count(lit(1)).as("sz"))
    val inter = sh.as("a")
      .join(sh.as("b"),
            col("a.lang") === col("b.lang") && col("a.source") === col("b.source") &&
            col("a.g") === col("b.g") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .agg(count(lit(1)).as("n"))
    val out = inter
      .join(sizes.select(col("doc_id").as("id_a"), col("sz").as("sa")), "id_a")
      .join(sizes.select(col("doc_id").as("id_b"), col("sz").as("sb")), "id_b")
      .select("id_a", "id_b", "n", "sa", "sb")
    (out, Seq(shAll, sh))
  }

  /** Bigram-Jaccard near-dup pairs finalized over the SHARED
    * [[ShingleIndex]] (round-12: the shingle explode + df cap + self-join
    * core used to re-run per consumer; it now builds once per session and
    * this is a scan + finalizer). The τ cut happens on the raw ratio first
    * (round6(x) >= 0.2 ⇒ x >= 0.1999995 > 0.1999) so the per-row decimal
    * round only touches survivors; the EXACT rounded filter reapplies, so
    * the emitted pairs and values are bit-identical to the lazy builder's.
    * Shared by `dedup_ngram_jaccard` and the connected-components
    * clustering built on top of it.
    */
  private def ngramJaccardPairs(s: SparkSession, d: String): DataFrame =
    ShingleIndex.intersections(s, d)
      .withColumn("rawj", col("n").cast("double") /
        (col("sa") + col("sb") - col("n")).cast("double"))
      .filter(col("rawj") >= 0.1999)
      .select(col("id_a"), col("id_b"), round(col("rawj"), 6).as("jaccard"))
      .filter(col("jaccard") >= 0.2)
}
