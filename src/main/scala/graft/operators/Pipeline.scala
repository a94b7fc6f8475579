package graft.operators

import graft.{Decl, Tables, declMap}
import graft.functions.{TextOps, VectorOps}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** SURVEY §2.11 — LLM-data-pipeline operators over `documents` and
  * `embeddings`: dedup (exact + MinHash-LSH near-dup), similarity search,
  * text analysis, multimodal text⋈vector.
  *
  * The fixture corpus has no natural duplicates (verified at sf0.01), so
  * the dedup queries union the corpus with deterministic perturbed copies
  * (case/whitespace noise for exact-dedup normalization; word drops for
  * near-dedup) — that makes every dup group's existence part of the
  * asserted semantics instead of an accident of the data.
  */
object Pipeline {

  /** documents + a whitespace-token array (Catalyst prunes whatever a
    * caller doesn't select) — the one tokenization definition shared by
    * every text operator here and in PipelineExt.
    */
  private[operators] def docsWithTokens(s: SparkSession, d: String): DataFrame =
    Tables(s, d, "documents").select(
      col("doc_id"), col("lang"), col("source"), col("text"), col("n_chars"),
      TextOps.tokens(col("text")).as("toks"))

  /** corpus ∪ perturbed copies (ids offset by 1M, last two words dropped) —
    * the near-dup test-bed shared by the minhash and simhash dedup
    * operators (one definition so their planted pairs stay identical).
    */
  private[operators] def nearDupCorpus(s: SparkSession, d: String): DataFrame = {
    val docs = docsWithTokens(s, d).select("doc_id", "toks")
    val pert = docs.select(
      (col("doc_id") + 1000000L).as("doc_id"),
      slice(col("toks"), lit(1), greatest(size(col("toks")) - 2, lit(1))).as("toks"))
    docs.unionAll(pert)
  }

  val decls: Map[String, Decl] = declMap(
    // ------------------------------------------------------------- dedup
    // Exact dedup on normalized text: md5(lower(trim(text))) groups. One
    // shuffle on the 128-bit hash — at 100 TB this is the cheapest possible
    // exact-dup pass (hash first, never shuffle full texts).
    "dedup_exact" -> Decl(
      (s, d) => {
        val docs = Tables(s, d, "documents").select(col("doc_id"), col("text"))
        val noisy = docs.select(
          (col("doc_id") + 1000000L).as("doc_id"),
          concat(upper(col("text")), lit("  ")).as("text"))
        docs.unionAll(noisy)
          .select(col("doc_id"), md5(lower(trim(col("text")))).as("h"))
          .groupBy("h")
          .agg(count(lit(1)).as("n"), min("doc_id").as("first_id"), max("doc_id").as("last_id"))
          .filter(col("n") > 1)
          .orderBy("h")
      },
      Some("""SELECT h, count(*) AS n, min(doc_id) AS first_id, max(doc_id) AS last_id FROM (
             |  SELECT doc_id, md5(lower(trim(text))) AS h FROM (
             |    SELECT doc_id, text FROM documents
             |    UNION ALL
             |    SELECT doc_id + 1000000, upper(text) || '  ' FROM documents))
             |GROUP BY h HAVING count(*) > 1 ORDER BY h""".stripMargin)),

    // Canonical-doc selection — the step AFTER dup grouping: keep ONE
    // representative per group (min doc_id, so originals beat the planted
    // +1M copies) and account the bytes dedup saves. min_by's ordering key
    // is the unique doc_id, so the pick is deterministic (R2). Same
    // hash-first shape as dedup_exact: full text never shuffles, only
    // (hash, id, length).
    "dedup_keep_canonical" -> Decl(
      (s, d) => {
        val docs = Tables(s, d, "documents").select(col("doc_id"), col("text"))
        val noisy = docs.select(
          (col("doc_id") + 1000000L).as("doc_id"),
          concat(upper(col("text")), lit("  ")).as("text"))
        docs.unionAll(noisy)
          .select(col("doc_id"), md5(lower(trim(col("text")))).as("h"),
                  length(col("text")).cast("bigint").as("len"))
          .groupBy("h")
          .agg(count(lit(1)).as("n_docs"),
               min("doc_id").as("canonical_id"),
               sum("len").as("bytes_total"),
               min_by(col("len"), col("doc_id")).as("bytes_kept"))
          .withColumn("bytes_saved", col("bytes_total") - col("bytes_kept"))
          .orderBy("h")
      },
      Some("""SELECT h, count(*) AS n_docs, min(doc_id) AS canonical_id,
             |CAST(sum(len) AS BIGINT) AS bytes_total,
             |arg_min(len, doc_id) AS bytes_kept,
             |CAST(sum(len) - arg_min(len, doc_id) AS BIGINT) AS bytes_saved FROM (
             |  SELECT doc_id, md5(lower(trim(text))) AS h,
             |         CAST(length(text) AS BIGINT) AS len FROM (
             |    SELECT doc_id, text FROM documents
             |    UNION ALL
             |    SELECT doc_id + 1000000, upper(text) || '  ' FROM documents))
             |GROUP BY h ORDER BY h""".stripMargin)),

    // MinHash-LSH near-dup: explode shingles → one-shuffle 32-min signature
    // → 8 banded bucket keys → bucket self-join → exact-Jaccard verification
    // of candidates only, computed relationally (intersection = count of
    // matching (pair, shingle) rows; union from the set sizes).
    // Approximate-by-design (recall < 1), so no SQL oracle; OperatorSpec
    // asserts ≥98% recall of planted near-dups and the Jaccard filter.
    "dedup_near_minhash" -> Decl(
      (s, d) => {
        // Checkpoint the (small) verified-pair result eagerly so the two
        // big persisted intermediates release inside the query instead of
        // leaking into the caller's session until clearCache; the LAZY
        // pipeline stays separately inspectable (minhashPairs) so plan
        // gates see the full join tree, not a post-checkpoint LogicalRDD.
        val (scored, cached) = minhashPairs(s, d)
        val out = scored.localCheckpoint(true)
        cached.foreach(_.unpersist())
        out.orderBy("id_a", "id_b")
      },
      None),

    // -------------------------------------------------------- similarity
    // Brute-force top-k cosine vs one query vector: the correctness
    // baseline. The query row is broadcast; the scan side never shuffles —
    // at 100 TB this is one pass + a TakeOrdered(k).
    "sim_cosine_topk" -> Decl(
      (s, d) => {
        val emb = Tables(s, d, "embeddings")
        val q = emb.filter(col("vec_id") === 0).select(col("embedding").as("qv"))
        emb.filter(col("vec_id") =!= 0)
          .crossJoin(broadcast(q))
          .select(col("vec_id"),
                  round(VectorOps.cosine(col("embedding"), col("qv")), 6).as("cos"))
          .orderBy(col("cos").desc, col("vec_id").asc)
          .limit(10)
      },
      Some("""SELECT vec_id,
             |round(list_cosine_similarity(
             |  list_transform(embedding, x -> CAST(x AS DOUBLE)),
             |  (SELECT list_transform(embedding, x -> CAST(x AS DOUBLE))
             |   FROM embeddings WHERE vec_id = 0)), 6) AS cos
             |FROM embeddings WHERE vec_id <> 0
             |ORDER BY cos DESC NULLS LAST, vec_id ASC LIMIT 10""".stripMargin)),

    // All pairs ≥ τ within a label: equi key (label) + residual cosine —
    // never a global cross product, and SALTED: label is a structural
    // low-cardinality key (a handful of values over the whole corpus), so
    // an unsalted hash join on it piles each label's entire pair space
    // onto one task no matter how many executors exist. Salted.join
    // spreads every label over 8 subkeys — the exact all-pairs semantics
    // (and the oracle) are unchanged, only the placement is. τ=0.30 is
    // too low for an SRP prefilter to hold recall (per-bit collision
    // ≈0.6 at 72°), so this key keeps the exact form; the bounded-
    // candidate variants live in sim_ann_lsh / dedup_embedding_cosine.
    "sim_pair_threshold" -> Decl(
      (s, d) => {
        val emb = Tables(s, d, "embeddings")
        val a = emb.select(col("label"), col("vec_id").as("id_a"), col("embedding").as("ea"))
        val b = emb.select(col("label"), col("vec_id").as("id_b"), col("embedding").as("eb"))
        Salted.join(a, b, Seq("label"), salts = 8)
          .filter(col("id_a") < col("id_b"))
          .withColumn("cos", round(VectorOps.cosine(col("ea"), col("eb")), 6))
          .filter(col("cos") >= 0.30)
          .select("label", "id_a", "id_b", "cos")
          .orderBy("label", "id_a", "id_b")
      },
      Some("""SELECT a.label AS label, a.vec_id AS id_a, b.vec_id AS id_b,
             |round(list_cosine_similarity(
             |  list_transform(a.embedding, x -> CAST(x AS DOUBLE)),
             |  list_transform(b.embedding, x -> CAST(x AS DOUBLE))), 6) AS cos
             |FROM embeddings a JOIN embeddings b
             |ON a.label = b.label AND a.vec_id < b.vec_id
             |WHERE round(list_cosine_similarity(
             |  list_transform(a.embedding, x -> CAST(x AS DOUBLE)),
             |  list_transform(b.embedding, x -> CAST(x AS DOUBLE))), 6) >= 0.30
             |ORDER BY label, id_a, id_b""".stripMargin)),

    // ------------------------------------------------------------- text
    "text_wordcount" -> Decl(
      (s, d) => docsWithTokens(s, d)
        .select(explode(col("toks")).as("word"))
        .groupBy("word").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("word").asc)
        .limit(100),
      Some("""SELECT word, count(*) AS cnt FROM (
             |  SELECT unnest(string_split(text, ' ')) AS word FROM documents) t
             |GROUP BY word ORDER BY cnt DESC, word ASC LIMIT 100""".stripMargin)),

    "text_lang_stats" -> Decl(
      (s, d) => Tables(s, d, "documents")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
             round(avg(col("n_chars")), 6).as("avg_chars"),
             countDistinct(col("source")).as("n_sources"))
        .orderBy("lang"),
      Some("""SELECT lang, count(*) AS n_docs, round(avg(n_chars), 6) AS avg_chars,
             |count(DISTINCT source) AS n_sources
             |FROM documents GROUP BY lang ORDER BY lang""".stripMargin)),

    // tf-idf with top-3 terms per doc. Ranking happens on the ROUNDED score
    // (+ term tiebreak) so cross-engine float noise can't reorder the
    // window. Term frequencies are a PER-ROW fold (native TokenCounts:
    // sort + run-length inside the row — identical counts to the
    // explode+groupBy it replaces, asserted in SketchParitySpec), so the
    // (doc, term) shuffle, the doc-length shuffle, and the persist/
    // checkpoint machinery are all gone: two shuffles remain (the
    // vocabulary-bounded df aggregate, broadcast back like
    // text_unigram_nll's LM table, and the per-doc ranking window).
    "text_tfidf_topterms" -> Decl(
      (s, d) => {
        val docs = Tables(s, d, "documents")
        val tf = docs
          .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
          .select(col("doc_id"),
                  size(TextOps.tokens(col("text"))).as("dlen"),
                  explode(graft.functions.SketchOps.tokenCounts(
                    TextOps.tokens(col("text")))).as("tc"))
          .select(col("doc_id"), col("dlen"),
                  col("tc.term").as("term"), col("tc.cnt").as("cnt"))
        val dfq = tf.groupBy("term").agg(count(lit(1)).as("dfreq"))
        val n = docs.agg(count(lit(1)).as("n_docs"))
        val scored = tf.join(broadcast(dfq), "term").crossJoin(broadcast(n))
          .withColumn("tfidf", round(
            (col("cnt").cast("double") / col("dlen").cast("double")) *
            log(col("n_docs").cast("double") / col("dfreq").cast("double")), 6))
        val w = Window.partitionBy("doc_id").orderBy(col("tfidf").desc, col("term").asc)
        scored.withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 3)
          .select("doc_id", "term", "tfidf")
          .orderBy("doc_id", "term")
      },
      Some("""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents),
             |tf AS (SELECT doc_id, term, count(*) AS cnt FROM tok GROUP BY doc_id, term),
             |dl AS (SELECT doc_id, count(*) AS dlen FROM tok GROUP BY doc_id),
             |df AS (SELECT term, count(DISTINCT doc_id) AS dfreq FROM tok GROUP BY term),
             |n AS (SELECT count(*) AS n_docs FROM documents),
             |scored AS (
             |  SELECT tf.doc_id, tf.term,
             |  round((CAST(cnt AS DOUBLE) / CAST(dlen AS DOUBLE)) *
             |        ln(CAST(n_docs AS DOUBLE) / CAST(dfreq AS DOUBLE)), 6) AS tfidf
             |  FROM tf JOIN dl USING (doc_id) JOIN df USING (term) CROSS JOIN n)
             |SELECT doc_id, term, tfidf FROM (
             |  SELECT doc_id, term, tfidf,
             |  row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term ASC) AS rn
             |  FROM scored)
             |WHERE rn <= 3 ORDER BY doc_id, term""".stripMargin)),

    // -------------------------------------------------------- multimodal
    // Text + vector + metadata in one row: plain equi join documents ⋈
    // embeddings, aggregated by lang × label.
    "multimodal_join" -> Decl(
      (s, d) => {
        val docs = Tables(s, d, "documents"); val emb = Tables(s, d, "embeddings")
        docs.join(emb, docs("doc_id") === emb("vec_id"))
          .groupBy(col("lang"), col("label"))
          .agg(count(lit(1)).as("n"),
               round(avg(col("n_chars")), 6).as("avg_chars"),
               round(avg(element_at(col("embedding"), 1).cast("double")), 6).as("avg_first_dim"))
          .orderBy("lang", "label")
      },
      Some("""SELECT lang, label, count(*) AS n, round(avg(n_chars), 6) AS avg_chars,
             |round(avg(CAST(embedding[1] AS DOUBLE)), 6) AS avg_first_dim
             |FROM documents JOIN embeddings ON doc_id = vec_id
             |GROUP BY lang, label ORDER BY lang, label""".stripMargin)))

  /** The LAZY minhash pair pipeline: banded-LSH candidates, exact-Jaccard
    * verified, NOT yet checkpointed — returned with the persisted
    * intermediate so the caller controls its release. Kept separate from
    * the declared query so plan-level gates (ScaleSpec's cartesian sweep)
    * inspect the full join tree rather than a post-checkpoint LogicalRDD.
    *
    * Shape notes (measured at sf0.1):
    *  - signatures are PER-ROW (`ShingleHashSet` + `MinHashSig` native
    *    expressions): no explode, no shuffle, no aggregation — see
    *    functions.SketchExpressions for the relational-form comparison.
    *  - the pre-fan-out repartition carries an EXPLICIT count (AQE's
    *    size-based coalescing folds a bare repartition(col) of the small
    *    doc rows back to one partition — it cannot see the downstream
    *    fan-out; same trap as dedup_edit_distance).
    *  - the banded self-join is co-partitioned + shuffle_hash (never a
    *    broadcast: at corpus scale the banded-key table is as big as the
    *    corpus, only the CANDIDATE PAIR table is bounded).
    *  - the verify joins broadcast the deduped candidate pairs and stream
    *    the per-doc shingle-set arrays; exact Jaccard is one
    *    `array_intersect` over the two sorted hash sets per candidate.
    */
  private[graft] def minhashPairs(s: SparkSession, d: String): (DataFrame, Seq[DataFrame]) = {
    val n = s.sparkContext.defaultParallelism
    val withSh = nearDupCorpus(s, d)
      .repartition(n, col("doc_id"))
      .select(col("doc_id"), TextOps.shingleHashes(col("toks"), 3).as("hs"))
      .filter(size(col("hs")) > 0) // <n-token docs have no shingle set
      .persist()
    val banded = Minhash.bandedKeys(Minhash.signatures(withSh))
      .repartition(n, col("band"), col("sig"))
    val cand = banded.as("a")
      .join(banded.as("b").hint("shuffle_hash"),
            col("a.band") === col("b.band") && col("a.sig") === col("b.sig") &&
            col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id_a"), col("b.doc_id").as("id_b"))
      .distinct()
    // the candidate-pair table grows with the corpus (band-bucket density)
    // — never broadcast it; both shingle-set joins are pinned shuffle_hash
    // so every task's build side is one partition, not the corpus
    val scored = cand
      .repartition(n, col("id_a"))
      .join(withSh.select(col("doc_id").as("id_a"), col("hs").as("ha"))
              .hint("shuffle_hash"), "id_a")
      .join(withSh.select(col("doc_id").as("id_b"), col("hs").as("hb"))
              .hint("shuffle_hash"), "id_b")
      .select(col("id_a"), col("id_b"),
              // Round-12: merge-count over the sorted-distinct hash sets
              // (ShingleHashSet contract) — same integer as
              // size(array_intersect), no per-pair hash set / intersection
              // array (verify CPU 17 -> 12.5 s at sf0.1)
              TextOps.sortedIntersectCount(col("ha"), col("hb")).as("inter"),
              size(col("ha")).cast("bigint").as("sa"),
              size(col("hb")).cast("bigint").as("sb"))
      // Round-12: τ cut on the raw ratio first (round6(x) >= 0.5 ⇒
      // x >= 0.4999995 > 0.4999); the per-row decimal round only touches
      // survivors and the exact rounded filter reapplies — bit-identical.
      .withColumn("rawj",
        col("inter").cast("double") /
        (col("sa") + col("sb") - col("inter")).cast("double"))
      .filter(col("rawj") >= 0.4999)
      .withColumn("jaccard", round(col("rawj"), 6))
      .filter(col("jaccard") >= 0.5)
      .select("id_a", "id_b", "jaccard")
    (scored, Seq(withSh))
  }
}
