package graft.operators

/** Text-analysis keys beyond Pipeline's core text keys.
  * REGISTRY.md maps each key to its file:line.
  */
object Text {
  import graft.{Decl, Tables, declMap}
  import org.apache.spark.sql.expressions.Window
  import org.apache.spark.sql.functions._
  import graft.functions.TextOps

  private val Query = Seq("data", "spark", "query")
  private def qlist = Query.map(t => s"'$t'").mkString(", ")

  val decls: Map[String, Decl] = declMap(
    // Vocabulary richness and year-over-year
    // growth at the monthly grain.

    // Hapax legomena ratio per language: the share of the vocabulary
    // seen exactly once — the standard corpus-richness diagnostic (a
    // shrinking hapax share signals duplication or templating). Both
    // censuses ride the bounded vocabulary grid.
    "text_hapax_ratio" -> Decl(
      (s, d) => {
        val vocab = Tables(s, d, "documents")
          .select(col("lang"), explode(split(col("text"), " ")).as("w"))
          .groupBy("lang", "w").agg(count(lit(1)).as("n"))
        vocab.groupBy("lang")
          .agg(count(lit(1)).as("vocab"),
               sum(when(col("n") === 1L, 1L).otherwise(0L)).as("hapax"),
               sum(col("n")).as("tokens"))
          .select(col("lang"), col("vocab"), col("hapax"), col("tokens"),
                  round(col("hapax").cast("double") / col("vocab"), 6)
                    .as("hapax_ratio"))
          .orderBy("lang")
      },
      Some("""WITH v AS (SELECT lang, w, count(*) AS n FROM (
             |            SELECT lang, unnest(string_split(text, ' ')) AS w
             |            FROM documents) GROUP BY 1, 2)
             |SELECT lang, CAST(count(*) AS BIGINT) AS vocab,
             |       CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT)
             |         AS hapax,
             |       CAST(sum(n) AS BIGINT) AS tokens,
             |       round(CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS DOUBLE)
             |             / count(*), 6) AS hapax_ratio
             |FROM v GROUP BY lang ORDER BY lang""".stripMargin)),

    // Year-over-year monthly revenue per market segment: lag 12 on the
    // bounded (segment × month) spine, growth as an exact-integer-input
    // ppm ratio — the board-deck finance view.
    "ts_yoy_monthly" -> Decl(
      (s, d) => {
        val w = Window.partitionBy("seg").orderBy("midx")
        Tables(s, d, "orders")
          .join(Tables(s, d, "customer"), col("o_custkey") === col("c_custkey"))
          .groupBy(col("c_mktsegment").as("seg"),
                   (year(col("o_orderdate")) * 12 + month(col("o_orderdate")) - 1)
                     .cast("bigint").as("midx"))
          .agg(sum(round(col("o_totalprice") * 100).cast("bigint")).as("cents"))
          .withColumn("prev_yr_cents", lag(col("cents"), 12).over(w))
          .filter(col("prev_yr_cents").isNotNull)
          .select(col("seg"), col("midx"), col("cents"), col("prev_yr_cents"),
                  round((col("cents") - col("prev_yr_cents")).cast("double")
                        / col("prev_yr_cents") * 1e6, 6).as("yoy_ppm"))
          .orderBy("seg", "midx")
      },
      // the spine is gap-free per segment on this data, so lag 12 IS the
      // same calendar month a year earlier in both engines
      Some("""WITH m AS (SELECT c_mktsegment AS seg,
             |             CAST(year(o_orderdate) * 12 + month(o_orderdate) - 1
             |                  AS BIGINT) AS midx,
             |             sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
             |           FROM orders JOIN customer ON o_custkey = c_custkey
             |           GROUP BY 1, 2),
             |l AS (SELECT seg, midx, cents,
             |        lag(cents, 12) OVER (PARTITION BY seg ORDER BY midx)
             |          AS prev_yr_cents
             |      FROM m)
             |SELECT seg, midx, CAST(cents AS BIGINT) AS cents,
             |       CAST(prev_yr_cents AS BIGINT) AS prev_yr_cents,
             |       round(CAST(cents - prev_yr_cents AS DOUBLE)
             |             / prev_yr_cents * 1e6, 6) AS yoy_ppm
             |FROM l WHERE prev_yr_cents IS NOT NULL
             |ORDER BY seg, midx""".stripMargin)),

    // Lexical density against a data-derived
    // function-word head, and week-over-week audience overlap.

    // Lexical density: the share of a document's tokens that are NOT in
    // the corpus's top-5 frequency head (the data-derived function-word
    // proxy — no hardcoded stopword list). The head is a broadcast
    // 5-row table off the bounded vocabulary aggregate; the per-doc
    // census is one anti-membership sum, ppm floor division.
    "text_lexical_density" -> Decl(
      (s, d) => {
        val tok = Tables(s, d, "documents")
          .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
        val head = tok.groupBy("w").agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("w")).limit(5)
          .select(col("w").as("hw"))
        tok.join(broadcast(head), col("w") === col("hw"), "left")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_tokens"),
               sum(when(col("hw").isNull, 1L).otherwise(0L)).as("n_content"))
          .select(col("doc_id"), col("n_tokens"), col("n_content"),
                  expr("n_content * 1000000L div n_tokens").as("density_ppm"))
          .orderBy("doc_id")
      },
      Some("""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w
             |             FROM documents),
             |head AS (SELECT w AS hw FROM (
             |           SELECT w, count(*) AS n FROM tok GROUP BY w
             |           ORDER BY n DESC, w LIMIT 5)),
             |j AS (SELECT doc_id,
             |        CASE WHEN hw IS NULL THEN 1 ELSE 0 END AS content
             |      FROM tok LEFT JOIN head ON w = hw)
             |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
             |       CAST(sum(content) AS BIGINT) AS n_content,
             |       CAST(sum(content) * 1000000 // count(*) AS BIGINT)
             |         AS density_ppm
             |FROM j GROUP BY doc_id ORDER BY doc_id""".stripMargin)),

    // Audience overlap: Jaccard of consecutive weeks' active-user sets —
    // the retention-adjacent audience-quality metric. Intersection via
    // one self-join of the (user, week) activity grid on (user, wk+1);
    // union by inclusion–exclusion; exact integer ppm.
    "ts_audience_overlap" -> Decl(
      (s, d) => {
        val act = Tables.events(s, d)
          .select(col("user_id"),
                  expr("unix_micros(ts) div 604800000000L").as("wk"))
          .distinct()
          .localCheckpoint(true)
        val wau = act.groupBy("wk").agg(count(lit(1)).as("wau"))
        val inter = act.as("a")
          .join(act.as("b"),
                col("a.user_id") === col("b.user_id") &&
                col("b.wk") === col("a.wk") + 1)
          .groupBy(col("a.wk").as("wk")).agg(count(lit(1)).as("inter"))
        wau.select(col("wk"), col("wau").as("wau_a"))
          .join(wau.select((col("wk") - 1).as("wk"), col("wau").as("wau_b")), "wk")
          .join(inter, Seq("wk"), "left")
          .select(col("wk"), col("wau_a"), col("wau_b"),
                  coalesce(col("inter"), lit(0L)).as("inter"))
          .select(col("wk"), col("wau_a"), col("wau_b"), col("inter"),
                  expr("inter * 1000000L div (wau_a + wau_b - inter)")
                    .as("jaccard_ppm"))
          .orderBy("wk")
      },
      Some("""WITH act AS (SELECT DISTINCT user_id,
             |               CAST(epoch_us(ts) // 604800000000 AS BIGINT) AS wk
             |             FROM events),
             |wau AS (SELECT wk, count(*) AS wau FROM act GROUP BY wk),
             |inter AS (SELECT a.wk, count(*) AS inter
             |          FROM act a JOIN act b
             |            ON a.user_id = b.user_id AND b.wk = a.wk + 1
             |          GROUP BY a.wk),
             |j AS (SELECT wa.wk, wa.wau AS wau_a, wb.wau AS wau_b,
             |        coalesce(inter, 0) AS inter
             |      FROM wau wa JOIN wau wb ON wb.wk = wa.wk + 1
             |           LEFT JOIN inter ON inter.wk = wa.wk)
             |SELECT wk, CAST(wau_a AS BIGINT) AS wau_a,
             |       CAST(wau_b AS BIGINT) AS wau_b,
             |       CAST(inter AS BIGINT) AS inter,
             |       CAST(inter * 1000000 // (wau_a + wau_b - inter) AS BIGINT)
             |         AS jaccard_ppm
             |FROM j ORDER BY wk""".stripMargin)),

    // BM25 ranking — the retrieval scorer TF-IDF
    // pipelines actually graduate to (and the lexical half of every
    // RAG hybrid-search stack). Okapi BM25 with k1=1.2, b=0.75 and the
    // Lucene-style idf ln((N−df+0.5)/(df+0.5)+1), scored for a fixed
    // 3-term query against the whole corpus.
    //
    // Scale shape: the term filter lands BEFORE the tf explode aggregates
    // anything wide — only postings of the 3 query terms survive (the
    // inverted-index access pattern: work is O(Σ posting lengths), not
    // O(corpus)); df and the (N, avgdl) scalars are one bounded broadcast
    // each; the final cut is a TakeOrdered top-15, never a global sort.
    //
    // Determinism: dlen/avgdl/idf/contribution are each single IEEE
    // expression trees over exact integer statistics (identical in any
    // engine); the ≤3 per-doc contributions fold in TERM order
    // (sorted-fold discipline), and only the final sum rounds.

    "text_bm25_rank" -> Decl(
      (s, d) => {
        val docs = Tables(s, d, "documents")
        val tok = docs.select(col("doc_id"),
          explode(TextOps.tokens(col("text"))).as("term"))
        val dl = docs.select(col("doc_id"),
          size(TextOps.tokens(col("text"))).cast("bigint").as("dlen"))
        val stats = dl.agg(count(lit(1)).as("n_docs"),
                           sum(col("dlen")).as("toklen"))
        val tf = tok.filter(col("term").isin(Query: _*))
          .groupBy("doc_id", "term").agg(count(lit(1)).as("cnt"))
        val dfq = tf.groupBy("term").agg(count(lit(1)).as("dfreq"))
        val contrib = tf.join(broadcast(dfq), "term")
          .join(dl, "doc_id")
          .crossJoin(broadcast(stats))
          .withColumn("avgdl",
            col("toklen").cast("double") / col("n_docs").cast("double"))
          .withColumn("idf", log(
            (col("n_docs").cast("double") - col("dfreq") + 0.5d) /
              (col("dfreq") + 0.5d) + 1.0d))
          .withColumn("c",
            col("idf") * (col("cnt") * 2.2d) /
              (col("cnt") + lit(1.2d) * (lit(0.25d) + lit(0.75d) * col("dlen") / col("avgdl"))))
        contrib.groupBy("doc_id")
          .agg(count(lit(1)).as("n_terms"),
               expr("round(aggregate(array_sort(collect_list(struct(term, c))), " +
                 "CAST(0.0 AS DOUBLE), (acc, x) -> acc + x.c), 6)").as("bm25"))
          .orderBy(col("bm25").desc, col("doc_id"))
          .limit(15)
      },
      Some(s"""WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
             |            FROM documents),
             |dl AS (SELECT doc_id, count(*) AS dlen FROM tok GROUP BY doc_id),
             |stats AS (SELECT count(*) AS n_docs,
             |                 CAST(sum(dlen) AS DOUBLE) / count(*) AS avgdl
             |          FROM dl),
             |tf AS (SELECT doc_id, term, count(*) AS cnt FROM tok
             |       WHERE term IN ($qlist) GROUP BY doc_id, term),
             |df AS (SELECT term, count(*) AS dfreq FROM tf GROUP BY term),
             |contrib AS (
             |  SELECT tf.doc_id, tf.term,
             |         ln((CAST(n_docs AS DOUBLE) - dfreq + 0.5) / (dfreq + 0.5) + 1.0)
             |           * (cnt * 2.2)
             |           / (cnt + 1.2 * (0.25 + 0.75 * dlen / avgdl)) AS c
             |  FROM tf JOIN df USING (term) JOIN dl USING (doc_id)
             |       CROSS JOIN stats)
             |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_terms,
             |       round(list_sum(list(c ORDER BY term)), 6) AS bm25
             |FROM contrib GROUP BY doc_id
             |ORDER BY bm25 DESC, doc_id LIMIT 15""".stripMargin)),

    // RAKE keyphrase extraction (Rapid Automatic Keyword
    // Extraction — candidate phrases are maximal stopword-free token runs,
    // scored by the sum of member-word degree/frequency ratios; the
    // no-model keyphrase baseline every corpus-exploration pipeline ships)
    // and the spectral periodogram of the daily purchase series (power at
    // the Fourier frequencies — the frequency-domain complement to the
    // autocorrelation/Ljung-Box diagnostics already in the ts family).
    //
    // Determinism: stopwords are the corpus top-15 by (count desc, word);
    // phrase runs come from the gap-islands trick (pos − row_number inside
    // each doc); every float summation folds a POSITION-ORDERED list
    // (sort_array + aggregate here, list(... ORDER BY) + list_sum in the
    // oracle) so no shuffle-order double addition exists on either side.
    // Periodogram trig runs on the same IEEE doubles in both engines and
    // reports power SHARES rounded at 4 dp.
    //
    // Scale shape: RAKE is two token-granularity shuffles (word stats,
    // phrase grouping) — both map-side combined; the stoplist and the
    // word-score table are vocabulary-bounded broadcasts. The periodogram
    // reduces the corpus to the 30-day grid in one aggregate; the 14×30
    // trig table is constant-sized.

    "text_keyphrase_rake" -> Decl(
      (s, d) => {
        import org.apache.spark.sql.expressions.Window
        val toks = Pipeline.docsWithTokens(s, d)
          .select(col("doc_id"), posexplode(col("toks")).as(Seq("pos", "word")))
        val stop = toks.groupBy("word").agg(count(lit(1)).as("c"))
          .orderBy(col("c").desc, col("word").asc).limit(15)
          .select(col("word").as("sw"))
        val content = toks
          .join(broadcast(stop), col("word") === col("sw"), "left_anti")
        // gap-islands: runs of consecutive content tokens inside a doc
        val wDoc = Window.partitionBy("doc_id").orderBy("pos")
        val runs = content
          .withColumn("grp", col("pos") - row_number().over(wDoc))
        val phrases = runs
          .groupBy(col("doc_id"), col("grp"))
          .agg(concat_ws(" ", array_sort(collect_list(struct(col("pos"), col("word"))))
                 .getField("word")).as("phrase"),
               count(lit(1)).as("len"))
          .filter(col("len").between(2, 4))
          .localCheckpoint(true)
        // RAKE word stats over OCCURRENCE-level members: freq = total
        // appearances, degree = Σ phrase length over containing phrases
        val membersOcc = phrases
          .select(col("phrase"), col("len"),
                  posexplode(split(col("phrase"), " ")).as(Seq("wpos", "word")))
        val wordScore = membersOcc.groupBy("word")
          .agg((sum(col("len")).cast("double") /
                count(lit(1)).cast("double")).as("ws"))
        // phrase score: fold member scores in POSITION order, once per
        // DISTINCT phrase (occurrences are reported as n_occ, not
        // multiplied into the score)
        val scored = phrases.select("phrase").distinct()
          .select(col("phrase"),
                  posexplode(split(col("phrase"), " ")).as(Seq("wpos", "word")))
          .join(broadcast(wordScore), "word")
          .groupBy(col("phrase"))
          .agg(aggregate(array_sort(collect_list(struct(col("wpos"), col("ws"))))
                           .getField("ws"),
                         lit(0.0), (acc, x) => acc + x).as("score"))
        val occ = phrases.groupBy("phrase").agg(count(lit(1)).as("n_occ"))
        scored.join(occ, "phrase")
          .select(col("phrase"), col("n_occ"),
                  round(col("score"), 6).as("score"))
          .orderBy(col("score").desc, col("phrase").asc)
          .limit(20)
      },
      Some("""WITH tok AS (
             |  SELECT doc_id, u.word, u.pos FROM (
             |    SELECT doc_id,
             |           unnest(string_split(text, ' ')) AS word,
             |           generate_subscripts(string_split(text, ' '), 1) AS pos
             |    FROM documents) u(doc_id, word, pos)),
             |stop AS (SELECT word FROM (
             |  SELECT word, count(*) AS c FROM tok GROUP BY 1
             |  ORDER BY c DESC, word LIMIT 15)),
             |content AS (SELECT t.* FROM tok t
             |            WHERE t.word NOT IN (SELECT word FROM stop)),
             |runs AS (SELECT doc_id, word, pos,
             |                pos - row_number() OVER (PARTITION BY doc_id
             |                                         ORDER BY pos) AS grp
             |         FROM content),
             |phrases AS (SELECT doc_id, grp,
             |                   string_agg(word, ' ' ORDER BY pos) AS phrase,
             |                   count(*) AS len
             |            FROM runs GROUP BY 1, 2
             |            HAVING count(*) BETWEEN 2 AND 4),
             |members AS (SELECT phrase, len,
             |                   unnest(string_split(phrase, ' ')) AS word,
             |                   generate_subscripts(string_split(phrase, ' '), 1)
             |                     AS wpos
             |            FROM phrases),
             |ws AS (SELECT word, CAST(sum(len) AS DOUBLE) / count(*) AS ws
             |       FROM members GROUP BY 1),
             |dm AS (SELECT phrase,
             |              unnest(string_split(phrase, ' ')) AS word,
             |              generate_subscripts(string_split(phrase, ' '), 1) AS wpos
             |       FROM (SELECT DISTINCT phrase FROM phrases)),
             |scored AS (SELECT m.phrase,
             |                  list_sum(list(ws.ws ORDER BY m.wpos)) AS score
             |           FROM dm m JOIN ws ON ws.word = m.word
             |           GROUP BY m.phrase),
             |occ AS (SELECT phrase, count(*) AS n_occ FROM phrases GROUP BY 1)
             |SELECT s.phrase, o.n_occ,
             |       round(s.score, 6) AS score
             |FROM scored s JOIN occ o ON o.phrase = s.phrase
             |ORDER BY score DESC, s.phrase ASC
             |LIMIT 20""".stripMargin)),

    // Periodogram of the 30-day purchase-cents series at Fourier
    // frequencies k = 1..14: share of total (mean-removed) power per
    // frequency. Trig sums fold the day-ordered list on both sides.
    "ts_spectral_periodogram" -> Decl(
      (s, d) => {
        val daily = Tables.events(s, d)
          .filter(col("event_type") === "purchase")
          .groupBy(datediff(col("ts").cast("date"), to_date(lit("2023-12-31")))
                     .cast("bigint").as("t"))
          .agg(sum(round(col("value") * 100).cast("bigint")).as("c"))
        val spine = s.range(1, 31).select(col("id").as("t"))
          .join(daily, Seq("t"), "left")
          .select(col("t"), coalesce(col("c"), lit(0L)).as("c"))
          .orderBy("t").collect()
        val y = spine.map(r => r.getLong(1).toDouble / 100.0)
        val n = y.length
        val mean = y.sum / n
        val yc = y.map(_ - mean)
        val pk = (1 to 14).map { k =>
          var cs = 0.0; var sn = 0.0
          (1 to n).foreach { t =>
            val ang = 2.0 * math.Pi * k * t / n
            cs += yc(t - 1) * math.cos(ang)
            sn += yc(t - 1) * math.sin(ang)
          }
          (k.toLong, cs * cs + sn * sn)
        }
        val total = pk.map(_._2).sum
        def r4(x: Double): Double =
          BigDecimal(x).setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
        import s.implicits._
        pk.map { case (k, p) => (k, r4(p / total)) }
          .toDF("freq", "power_share")
          .orderBy("freq")
      },
      Some("""WITH daily AS (
             |  SELECT date_diff('day', DATE '2023-12-31', CAST(ts AS DATE)) AS t,
             |         sum(CAST(round(value * 100) AS BIGINT)) AS c
             |  FROM events WHERE event_type = 'purchase' GROUP BY 1),
             |y AS (SELECT g.t, CAST(coalesce(c, 0) AS DOUBLE) / 100.0 AS y
             |      FROM generate_series(1, 30) AS g(t)
             |      LEFT JOIN daily ON daily.t = g.t),
             |m AS (SELECT list_sum(list(y ORDER BY t)) / 30.0 AS mu FROM y),
             |yc AS (SELECT t, y - m.mu AS v FROM y CROSS JOIN m),
             |cssn AS (SELECT k,
             |    list_sum(list(v * cos(2 * pi() * k * t / 30.0) ORDER BY t)) AS cs,
             |    list_sum(list(v * sin(2 * pi() * k * t / 30.0) ORDER BY t)) AS sn
             |  FROM yc CROSS JOIN generate_series(1, 14) AS g(k)
             |  GROUP BY k),
             |pk AS (SELECT k, cs * cs + sn * sn AS p FROM cssn),
             |tot AS (SELECT list_sum(list(p ORDER BY k)) AS tp FROM pk)
             |SELECT k AS freq, round(p / tot.tp, 4) AS power_share
             |FROM pk CROSS JOIN tot
             |ORDER BY freq""".stripMargin)),

    // Corpus-order n-gram novelty — for every document,
    // the fraction of its distinct 3-grams that NO lower-doc_id document
    // contains. This is the curation signal behind "is this shard adding
    // new text or re-treading the corpus?": dedup says same/different,
    // novelty says HOW MUCH is new, per document, against everything
    // before it.
    //
    // Determinism: pure integer counts (distinct grams, grams whose
    // corpus-wide min(doc_id) is this document) and one 6-dp ratio.
    //
    // Scale shape: the naive formulation ("join every doc against all
    // earlier docs") is quadratic; this one is two hash aggregates — the
    // gram → min(doc_id) first-occurrence index (ONE shuffle on the gram
    // key, the same shape as dedup_exact's hash-first rule), then a
    // per-(doc, gram) distinct + per-doc count. Nothing is ever compared
    // pairwise.

    "text_ngram_novelty_rate" -> Decl(
      (s, d) => {
        val grams = Pipeline.docsWithTokens(s, d)
          .filter(size(col("toks")) >= 3)
          .select(col("doc_id"),
                  explode(expr(
                    "transform(sequence(0, size(toks) - 3), " +
                    "i -> concat_ws(' ', toks[i], toks[i+1], toks[i+2]))"))
                    .as("gram"))
          .distinct()  // novelty is over DISTINCT grams per doc
        val firstSeen = grams.groupBy("gram")
          .agg(min(col("doc_id")).as("first_doc"))
        grams.join(firstSeen, "gram")
          .groupBy("doc_id")
          .agg(count(lit(1)).as("n_grams"),
               sum(when(col("first_doc") === col("doc_id"), 1L).otherwise(0L))
                 .as("n_novel"))
          .select(col("doc_id"), col("n_grams"), col("n_novel"),
                  round(col("n_novel").cast("double") / col("n_grams"), 6)
                    .as("novelty"))
          .orderBy("doc_id")
      },
      Some("""WITH toks AS (
             |  SELECT doc_id, string_split(text, ' ') AS tk
             |  FROM documents WHERE len(string_split(text, ' ')) >= 3),
             |grams AS (
             |  SELECT DISTINCT doc_id, gram FROM (
             |    SELECT doc_id,
             |           unnest(list_transform(
             |             generate_series(1, len(tk) - 2),
             |             i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]))
             |             AS gram
             |    FROM toks)),
             |fs AS (SELECT gram, min(doc_id) AS first_doc
             |       FROM grams GROUP BY gram)
             |SELECT g.doc_id,
             |       count(*) AS n_grams,
             |       CAST(sum(CASE WHEN fs.first_doc = g.doc_id
             |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
             |       round(CAST(CAST(sum(CASE WHEN fs.first_doc = g.doc_id
             |                               THEN 1 ELSE 0 END) AS BIGINT)
             |                  AS DOUBLE) / count(*), 6) AS novelty
             |FROM grams g JOIN fs USING (gram)
             |GROUP BY g.doc_id
             |ORDER BY g.doc_id""".stripMargin)),

    // Pairwise ROUGE-2 recall — the n-gram overlap
    // primitive behind summarization eval and near-dup triage — scored for
    // every adjacent doc-id pair with clipped bigram counts, entirely in
    // exact integers (overlap·10⁶ div ref-total ppm).

    // ROUGE-2 recall of candidate doc (id+1) against reference doc (id):
    // clipped overlap Σ_g min(cnt_ref(g), cnt_cand(g)) over Σ_g cnt_ref.
    // Bigrams ride zip_with over the single-space token split (the
    // text-family tokenization idiom); the per-pair overlap is one
    // equi-join on (gram, pair id) — co-partitioned, linear, no corpus
    // window. Top-20 by recall keeps the output bounded; ties break on
    // the pair id.
    "text_rouge2_adjacent" -> Decl(
      (s, d) => {
        // lazy persist: the ref and cand branches would otherwise BOTH
        // recompute the tokenize+explode+census (the heaviest stage)
        val grams = Tables(s, d, "documents")
          .select(col("doc_id"), split(col("text"), " ").as("w"))
          .select(col("doc_id"), explode(expr(
            "zip_with(slice(w, 1, size(w) - 1), slice(w, 2, size(w) - 1)," +
            " (a, b) -> concat(a, ' ', b))")).as("g"))
          .groupBy("doc_id", "g").agg(count(lit(1)).as("cnt"))
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        val ref = grams.select(col("doc_id").as("ref_id"), col("g"),
                               col("cnt").as("cr"))
        val cand = grams.select((col("doc_id") - 1).as("ref_id"), col("g"),
                                col("cnt").as("cc"))
        val overlap = ref.join(cand, Seq("ref_id", "g"))
          .groupBy("ref_id")
          .agg(sum(least(col("cr"), col("cc"))).as("overlap"))
        val totals = ref.groupBy("ref_id").agg(sum(col("cr")).as("ref_total"))
        totals.join(overlap, Seq("ref_id"), "left")
          .na.fill(0L, Seq("overlap"))
          .select(col("ref_id"), (col("ref_id") + 1).as("cand_id"),
                  col("overlap"), col("ref_total"),
                  expr("(overlap * 1000000) div ref_total")
                    .as("rouge2_recall_ppm"))
          .orderBy(col("rouge2_recall_ppm").desc, col("ref_id"))
          .limit(20)
      },
      Some("""WITH grams AS (
             |  SELECT doc_id, g, count(*) AS cnt FROM (
             |    SELECT doc_id,
             |           unnest(list_transform(range(1, len(w)),
             |                                 i -> w[i] || ' ' || w[i + 1]))
             |             AS g
             |    FROM (SELECT doc_id, string_split(text, ' ') AS w
             |          FROM documents))
             |  GROUP BY 1, 2),
             |ref AS (SELECT doc_id AS ref_id, g, cnt AS cr FROM grams),
             |cand AS (SELECT doc_id - 1 AS ref_id, g, cnt AS cc FROM grams),
             |ov AS (
             |  SELECT ref.ref_id,
             |         CAST(sum(least(cr, cc)) AS BIGINT) AS overlap
             |  FROM ref JOIN cand USING (ref_id, g)
             |  GROUP BY ref.ref_id),
             |tot AS (SELECT ref_id, CAST(sum(cr) AS BIGINT) AS ref_total
             |        FROM ref GROUP BY ref_id)
             |SELECT tot.ref_id, tot.ref_id + 1 AS cand_id,
             |       CAST(coalesce(ov.overlap, 0) AS BIGINT) AS overlap,
             |       tot.ref_total,
             |       CAST(coalesce(ov.overlap, 0) AS BIGINT) * 1000000 //
             |         tot.ref_total AS rouge2_recall_ppm
             |FROM tot LEFT JOIN ov ON ov.ref_id = tot.ref_id
             |ORDER BY rouge2_recall_ppm DESC, tot.ref_id LIMIT 20""".stripMargin))
  )
}
