package graft.operators

/** Shared operator infrastructure: distributed prefix scans, skew
  * salting, minhash signatures and the stored ANN index plumbing.
  */

/** Distributed cumulative sum — the scan-parallel replacement for
  * `Window.orderBy(...)` with no partition spec, which funnels the entire
  * ordered input through ONE task (the round-9 verdict's last confirmed
  * 100×-scale killer, agg_abc_classification / agg_rfm_segmentation).
  *
  * Classic two-pass parallel prefix sum:
  *   1. range-partition on the total order, sort within partitions, and
  *      compute each partition's LOCAL running sum in one `mapPartitions`
  *      pass (no shuffle beyond the range exchange itself);
  *   2. aggregate one total per partition (#partitions rows — bounded by
  *      cluster size, not data size), prefix-sum THAT tiny table with an
  *      ordinary window, and broadcast the per-partition offsets back.
  *
  * cum(row) = localCum(row) + offset(partition). Rows and values are
  * identical to the single-task window for any TOTAL order (callers must
  * tie-break), so oracles are unchanged; wall-clock is O(n/p) per task
  * instead of O(n) on one task at every scale.
  */
object PrefixSum {
  import org.apache.spark.sql.{Column, DataFrame, Encoders, Row}
  import org.apache.spark.sql.expressions.Window
  import org.apache.spark.sql.functions._
  import org.apache.spark.sql.types.LongType


  /** Append column `out` = running sum of `value` (a BIGINT expression,
    * any sign; NULL contributes 0) over the total order `order`. Every
    * input column is preserved.
    */
  def cumsumLong(df: DataFrame, order: Seq[Column], value: Column,
                 out: String): DataFrame =
    cumsumLongs(df, order, Seq(value -> out))

  /** Append column `out` = running MIN of `value` over all STRICT
    * predecessors in the total order `order` (exclusive — the current row
    * does not see itself; the first row gets Long.MaxValue, the "no
    * predecessor" sentinel). Same two-pass shape as the cumsum: local
    * exclusive scan + inclusive per-partition totals, then a window over
    * the ≤#partitions totals and one broadcast join back. The skyline
    * operator's dominance test is exactly this scan.
    */
  def cumminLongExclusive(df: DataFrame, order: Seq[Column], value: Column,
                          out: String): DataFrame = {
    val spark = df.sparkSession
    val n = math.max(spark.sparkContext.defaultParallelism, 1)
    // NULL is the min-identity (skipped), same null discipline as cumsum
    val parted = df.withColumn("__pmv",
        coalesce(value.cast("bigint"), lit(Long.MaxValue)))
      .repartitionByRange(n, order: _*)
      .sortWithinPartitions(order: _*)
      .withColumn("__pid", spark_partition_id().cast("long"))
    val vIdx = parted.schema.fieldIndex("__pmv")
    val schema = parted.schema
      .add("__lx", LongType, nullable = false)  // exclusive running min
      .add("__lc", LongType, nullable = false)  // inclusive running min
    val local = parted.mapPartitions { rows =>
      var acc = Long.MaxValue
      rows.map { r =>
        val prior = acc
        acc = math.min(acc, r.getLong(vIdx))
        Row.fromSeq(r.toSeq ++ Seq(prior, acc))
      }
    }(Encoders.row(schema))
      // Lazy persist, NOT localCheckpoint: checkpoint (even eager=false)
      // finalizes the AQE plan and runs every upstream stage at BUILD time.
      // persist defers to the first action, then both consumers (offsets
      // aggregate + final join) share ONE materialization — which also
      // pins the range boundaries and __pid assignment they must agree on.
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val wo = Window.orderBy("__pid").rowsBetween(Window.unboundedPreceding, -1)
    val offsets = local.groupBy(col("__pid"))
      .agg(min(col("__lc")).as("__pt"))
      .select(col("__pid"),
              coalesce(min(col("__pt")).over(wo), lit(Long.MaxValue))
                .as("__off"))
    local.join(broadcast(offsets), "__pid")
      .withColumn(out, least(col("__lx"), col("__off")))
      .drop("__pid", "__pmv", "__lx", "__lc", "__off")
  }

  /** Multi-column variant: several running sums sharing ONE total order
    * and therefore one range exchange + one local pass (text_vocab_growth
    * needs cumulative tokens AND cumulative vocabulary over the same
    * checkpoint spine).
    */
  def cumsumLongs(df: DataFrame, order: Seq[Column],
                  values: Seq[(Column, String)]): DataFrame = {
    val spark = df.sparkSession
    val n = math.max(spark.sparkContext.defaultParallelism, 1)
    val k = values.size
    val withV = values.zipWithIndex.foldLeft(df) { case (d, ((v, _), i)) =>
      // NULL contributes 0, matching sum() OVER's null-skipping semantics
      d.withColumn(s"__psv$i", coalesce(v.cast("bigint"), lit(0L)))
    }
    val parted = withV
      .repartitionByRange(n, order: _*)
      .sortWithinPartitions(order: _*)
      .withColumn("__pid", spark_partition_id().cast("long"))
    val vIdx = (0 until k).map(i => parted.schema.fieldIndex(s"__psv$i"))
    val schema = (0 until k).foldLeft(parted.schema) { (sc, i) =>
      sc.add(s"__lc$i", LongType, nullable = false)
    }
    // Pass 1: per-partition running sums. A deliberate mapPartitions — the
    // running accumulators are exactly the per-partition imperative shape
    // the API exists for, and it keeps the pass single-scan with zero
    // state beyond k Longs.
    val local = parted.mapPartitions { rows =>
      val acc = new Array[Long](k)
      rows.map { r =>
        var i = 0
        while (i < k) { acc(i) += r.getLong(vIdx(i)); i += 1 }
        Row.fromSeq(r.toSeq ++ acc)
      }
    }(Encoders.row(schema))
      // Lazy persist, NOT localCheckpoint: checkpoint (even eager=false)
      // finalizes the AQE plan and runs every upstream stage at BUILD time.
      // persist defers to the first action, then both consumers (offsets
      // aggregate + final join) share ONE materialization — which also
      // pins the range boundaries and __pid assignment they must agree on.
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // Pass 2: one row per partition; the unpartitioned window below runs
    // over ≤ #partitions rows (cluster-bounded, never data-bounded).
    val wo = Window.orderBy("__pid").rowsBetween(Window.unboundedPreceding, -1)
    // Partition totals are sum(value), NOT max(running sum): the two only
    // coincide for non-negative inputs, and the contract allows negatives
    // (net change, refunds).
    val offsets = local.groupBy(col("__pid"))
      .agg(sum(col("__psv0")).as("__pt0"),
           (1 until k).map(i => sum(col(s"__psv$i")).as(s"__pt$i")): _*)
      .select(col("__pid") +:
        (0 until k).map(i =>
          coalesce(sum(col(s"__pt$i")).over(wo), lit(0L)).as(s"__off$i")): _*)
    val joined = local.join(broadcast(offsets), "__pid")
    val withOut = values.zipWithIndex.foldLeft(joined) {
      case (d, ((_, out), i)) =>
        d.withColumn(out, col(s"__lc$i") + col(s"__off$i"))
    }
    val helper = Seq("__pid") ++
      (0 until k).flatMap(i => Seq(s"__psv$i", s"__lc$i", s"__off$i"))
    withOut.drop(helper: _*)
  }
}

/** One runner for the iterative loops: data-dependent ones (BFS frontiers,
  * SCC coloring and peeling, Borůvka rounds, pointer doubling, connected
  * components) and fixed-pass ones (capped BFS, PageRank steps, Lloyd
  * iterations), which stop on the pass index `done` receives.
  *
  * Each generation is `step(previous)` cut eagerly with `localCheckpoint`,
  * so a loop's plan never grows deeper than one step. The convergence test
  * rides in that cut's own job: `probe` (aggregate columns) is computed by
  * `Dataset.observe`, and `done` reads the probe row, so testing for
  * convergence starts no job of its own (no `isEmpty`, `count()` or
  * `.first()` after the cut). Once a generation is cut, the one it
  * supersedes is released (its checkpoint blocks unpersisted), so nothing
  * may read a generation lazily after its step returns except that step's
  * own output. `init` belongs to the caller and is never released; the
  * returned generation stays alive.
  */
object Fixpoint {
  import org.apache.spark.sql.{Column, DataFrame, Row}
  import org.apache.spark.sql.execution.LogicalRDD
  import org.apache.spark.sql.functions.{count, lit}
  import org.apache.spark.sql.graft.Bridge

  /** Iterate `step` from `init` until `done` accepts a generation; returns
    * that generation. `done` reads the generation's probe row and its pass
    * index: pass p is the generation `step` produced the p-th time (1 for
    * the first), so a fixed-pass loop of k steps is `(_, p) => p == k`.
    * `step` runs at least once. A loop not done after `maxPasses` steps
    * throws an `IllegalStateException` naming `what` and the pass count.
    */
  def apply(init: DataFrame, probe: Seq[Column], maxPasses: Int, what: String)
           (step: DataFrame => DataFrame)(done: (Row, Int) => Boolean): DataFrame = {
    @annotation.tailrec
    def run(prev: DataFrame, pass: Int): DataFrame = {
      if (pass == maxPasses) throw new IllegalStateException(
        s"$what did not converge within $maxPasses passes")
      val (gen, row) = cut(step(prev), probe)
      if (pass > 0) release(prev)
      if (done(row, pass + 1)) gen else run(gen, pass + 1)
    }
    run(init, 0)
  }

  /** One generation: `df` cut eagerly, with `probe` computed in the cut's
    * own job. `localCheckpoint` runs on the observed plan's own
    * `QueryExecution`, so its observed metrics are final when the cut
    * returns. The same job counts the generation's rows, and the cut
    * carries that count as its statistics (see `Bridge.measured`). */
  def cut(df: DataFrame, probe: Seq[Column]): (DataFrame, Row) = {
    val observed = df.observe("fixpoint_probe", count(lit(1)), probe: _*)
    val gen = observed.localCheckpoint(true)
    val row = observed.queryExecution.observedMetrics("fixpoint_probe")
    (Bridge.measured(gen, row.getLong(0)), Row.fromSeq(row.toSeq.tail))
  }

  /** Drop a cut's checkpoint blocks (a no-op for any other plan). */
  private[graft] def release(gen: DataFrame): Unit = gen.queryExecution.logical match {
    case r: LogicalRDD => r.rdd.unpersist(blocking = false)
    case _ =>
  }
}

/** Skew-salted equi-join — the standard remedy when a shuffle join's key
  * distribution has hot keys (a handful of values carrying most rows), so
  * hash-partitioning on the key alone would pile those rows onto a few
  * straggler tasks. The fact side is salted into `salts` deterministic
  * subkeys; the (smaller, but not broadcastable) dim side is replicated
  * once per salt; the join runs on `(keys…, salt)` and therefore spreads
  * each hot key over `salts` partitions.
  *
  * When to reach for this instead of the alternatives:
  *  - dim fits in executor memory → just `broadcast(dim)`; no salt needed.
  *  - skew is runtime-surprising → AQE's skew-join split handles it.
  *  - skew is STRUCTURAL (a key column with few values, known at authoring
  *    time — e.g. an event-type or language code on a fact table), dim too
  *    big to broadcast → this operator: the plan is skew-proof by
  *    construction, not dependent on runtime stats, and the replication
  *    cost is exactly `salts × |dim|` rows.
  */
object Salted {
  import graft.{Decl, Tables, declMap}
  import org.apache.spark.sql.DataFrame
  import org.apache.spark.sql.functions._


  /** Join `fact` to `dim` on `keys`, spreading each key over `salts`
    * subkeys. Supported join types: inner, left, left_semi, left_anti —
    * the fact side keeps exactly one salt per row, so fact-preserving
    * semantics are unchanged; dim-preserving types (right/full) would see
    * the replicated dim and are rejected.
    *
    * The salt is `pmod(hash(every fact column), salts)` — deterministic
    * for a given row (re-runs and retried tasks salt identically, which a
    * `rand()` salt would not guarantee), uniform because `hash` mixes all
    * columns, and never null (`hash` is null-tolerant).
    */
  def join(fact: DataFrame, dim: DataFrame, keys: Seq[String], salts: Int,
           joinType: String = "inner"): DataFrame = {
    require(salts > 1, s"salts must be > 1, got $salts")
    require(Set("inner", "left", "leftouter", "leftsemi", "leftanti")
              .contains(joinType.toLowerCase.replace("_", "")),
      s"salted join preserves the fact side only; joinType '$joinType' would " +
      "duplicate dim-preserved rows across salts (use broadcast or AQE skew handling)")
    require(!fact.columns.contains("__salt") && !dim.columns.contains("__salt"),
      "input already has a __salt column — rename it before salting")
    // hash every hashable fact column for per-row spread (hashing only the
    // join keys would give one salt per key — no spread at all); MapType is
    // the one type Spark's hash rejects, and it cannot carry the key anyway
    val hashable = fact.schema.fields.filterNot(
      _.dataType.isInstanceOf[org.apache.spark.sql.types.MapType]).map(f => col(f.name))
    require(hashable.nonEmpty, "fact table has no hashable (non-map) columns to salt on")
    val saltedFact = fact.withColumn(
      "__salt", pmod(hash(hashable.toIndexedSeq: _*), lit(salts)))
    // one dim copy per salt; hint MERGE so the planner keeps the shuffle
    // join this operator exists to de-skew (auto-broadcast of a small test
    // dim would silently hide the salted shape being demonstrated)
    val saltedDim = dim
      .withColumn("__salt", explode(sequence(lit(0), lit(salts - 1))))
      .hint("merge")
    saltedFact.join(saltedDim, keys :+ "__salt", joinType).drop("__salt")
  }

  val decls: Map[String, Decl] = declMap(
    // Enrich each event with its type's aggregate stats. event_type has 5
    // values — a shuffle join on it alone lands everything on 5 of the
    // cluster's partitions no matter how many executors exist; salting by
    // 8 fans each hot key over 8 partitions (ScaleSpec asserts the salt is
    // in the physical join key). The dim here is groupBy-derived (tiny at
    // test scale) purely so the query is self-contained and oracled; the
    // operator targets dims too big to broadcast.
    "join_salted_skew" -> Decl(
      (s, d) => {
        val ev = Tables.events(s, d)
        val typeStats = ev.groupBy("event_type").agg(
          count(lit(1)).as("type_n"),
          round(avg(col("value")), 4).as("type_avg"))
        Tables.canon(
          join(ev.select("event_id", "event_type", "value"), typeStats,
               Seq("event_type"), salts = 8)
            .select(col("event_id"), col("event_type"), col("type_n"),
                    col("type_avg"),
                    round(col("value") - col("type_avg"), 4).as("dev")))
      },
      Some("""SELECT e.event_id, e.event_type, t.type_n, t.type_avg,
             |round(e.value - t.type_avg, 4) AS dev
             |FROM events e
             |JOIN (SELECT event_type, count(*) AS type_n,
             |             round(avg(value), 4) AS type_avg
             |      FROM events GROUP BY event_type) t
             |USING (event_type)
             |ORDER BY ALL NULLS FIRST""".stripMargin)))
}

/** MinHash + banded LSH over word-shingle sets, fully deterministic
  * (SURVEY §7.3 R8: the "permutations" are `xxhash64(seed, shingle)` with
  * compile-time seeds — no runtime RNG, stable across runs/partitions).
  *
  * Shape: per-row, not relational. A document's signature depends only on
  * its own shingle set, so the whole sketch is computed inside the row by
  * the native `MinHashSig` expression (one compiled loop over the
  * `ShingleHashSet` array) — a scan-speed projection with NO shuffle. The
  * only shuffles in the pipeline are the banded candidate join and the
  * candidate verify, both bounded by LSH collisions rather than corpus
  * size. (Round 1's relational form — explode every shingle, shuffle 3M
  * scalar rows, fold 32 `min` aggregates per doc — measured ~96
  * executor-CPU-seconds at sf0.1 for the signature stage alone; the
  * per-row fold is <1. Hash parity with that form is bit-exact, so
  * signatures, band keys, and recall are unchanged.)
  */
object Minhash {
  import org.apache.spark.sql.DataFrame
  import org.apache.spark.sql.functions._

  val NumHashes = 32
  val BandSize = 4
  val NumBands: Int = NumHashes / BandSize

  /** (doc_id, hs: sorted-distinct shingle hashes) → (doc_id, set_size,
    * ms: the 32-minima signature) — pure projection, no shuffle.
    */
  def signatures(withShingles: DataFrame): DataFrame =
    withShingles.select(
      col("doc_id"), size(col("hs")).as("set_size"),
      graft.functions.SketchOps.minhashSig(col("hs")).as("ms"))

  /** signatures → (doc_id, band, sig): one LSH bucket key per band —
    * `xxhash64` over the band's 4 minima, same fold as hashing the four
    * former `m0..m31` columns.
    */
  def bandedKeys(sigs: DataFrame): DataFrame = {
    val bands = array((0 until NumBands).map { b =>
      struct(
        lit(b).as("band"),
        xxhash64((0 until BandSize).map(k =>
          element_at(col("ms"), b * BandSize + k + 1)): _*).as("sig"))
    }: _*)
    sigs.select(col("doc_id"), explode(bands).as("bs"))
      .select(col("doc_id"), col("bs.band").as("band"), col("bs.sig").as("sig"))
  }
}

/** Persisted ANN / LSH index tables — build ONCE, probe MANY.
  *
  * The declared keys (`dedup_near_incremental`, `sim_ann_ivf`) derive their
  * index inside the query because the driver contract is a self-contained
  * (session, sfDir) → DataFrame. At 100 TB the index IS a table: the base
  * corpus's banded minhash keys and the IVF centroid/cell assignments are
  * built once, written to the warehouse (plain parquet directories — which
  * is exactly what [[graft.GraftCatalog.restore]] re-registers as catalog
  * tables on restart, so the index survives a session bounce with no
  * metastore), and every refresh/query PROBES the stored tables:
  *
  *  - `lsh_bands(band, sig, doc_id)` — the banded minhash keys of the base
  *    corpus, the collision side of every incremental near-dup probe.
  *  - `lsh_features(doc_id, hs)` — the shingle-hash sets candidate
  *    verification needs; storing them means a probe NEVER re-reads base
  *    text (the feature store shape).
  *  - `ivf_centroids(cid, centroid)` — nlist rows, KB-sized.
  *  - `ivf_cells(vec_id, embedding, cid)` — the corpus vectors
  *    PARTITIONED BY cid, so an nprobe-cell query prunes to nprobe/nlist
  *    of the data at the file listing, before any I/O.
  *
  * IndexSpec proves the probe plans read ONLY these stored directories —
  * no base-text re-scan, no Lloyd re-run — and prune `ivf_cells` on cid.
  */
object AnnIndex {
  import graft.Tables
  import graft.functions.{TextOps, VectorOps}
  import org.apache.spark.sql.{DataFrame, SparkSession}
  import org.apache.spark.sql.functions._


  val JaccardThreshold = 0.5
  val NProbe = 3

  // ------------------------------------------------------------ LSH index

  /** Build the near-dup index of the `documents` base corpus into
    * `warehouse`: banded minhash keys + per-doc shingle sets. One pass
    * over base text — the last time the index's lifetime touches it. */
  def buildLshIndex(s: SparkSession, d: String, warehouse: String): Unit = {
    val n = s.sparkContext.defaultParallelism
    val feats = Tables(s, d, "documents")
      .select(col("doc_id"), TextOps.tokens(col("text")).as("toks"))
      .repartition(n, col("doc_id"))
      .select(col("doc_id"), TextOps.shingleHashes(col("toks"), 3).as("hs"))
      .filter(size(col("hs")) > 0)
      .persist()
    feats.write.mode("overwrite").parquet(s"$warehouse/lsh_features")
    // bands laid out clustered by the probe key (band, sig): a collision
    // probe shuffles the (small) delta onto this layout, never the base
    Minhash.bandedKeys(Minhash.signatures(feats))
      .repartition(n, col("band"), col("sig"))
      .write.mode("overwrite").parquet(s"$warehouse/lsh_bands")
    feats.unpersist()
  }

  /** Probe the stored index with a DELTA batch (doc_id, toks): banded-key
    * collisions against `lsh_bands`, candidate verify against
    * `lsh_features` — (delta_id, base_id, jaccard ≥ 0.5) pairs. The plan
    * scans ONLY the two index directories plus the delta input: base text
    * is never touched, and the base side of both joins is pinned
    * shuffle_hash (the index is corpus-sized). The candidate table is NOT
    * broadcast either: it is delta × per-bucket base collisions, so one hot
    * (band, sig) bucket in the stored index can inflate it far past the
    * small-delta assumption — it is pinned as a shuffle-hash BUILD side
    * instead, which caps its footprint at one partition's share. */
  def probeLshIndex(s: SparkSession, warehouse: String, delta: DataFrame): DataFrame = {
    val n = s.sparkContext.defaultParallelism
    val bands = s.read.parquet(s"$warehouse/lsh_bands")
    val feats = s.read.parquet(s"$warehouse/lsh_features")
    // NOT persisted: the probe is a library API whose result the caller
    // consumes lazily, so a cache here would leak into their session; the
    // delta is the small side and its shingle projection recomputes at
    // scan speed for the two consumers below
    val dsh = delta
      .select(col("doc_id").as("delta_id"), TextOps.shingleHashes(col("toks"), 3).as("hq"))
      .filter(size(col("hq")) > 0)
      .repartition(n, col("delta_id"))
    val qKeys = Minhash.bandedKeys(
      Minhash.signatures(dsh.select(col("delta_id").as("doc_id"), col("hq").as("hs"))))
    val cand = qKeys.as("q")
      .join(bands.as("x").hint("shuffle_hash"),
            col("q.band") === col("x.band") && col("q.sig") === col("x.sig"))
      .select(col("q.doc_id").as("delta_id"), col("x.doc_id").as("base_id"))
      .distinct()
    cand.hint("shuffle_hash")
      .join(dsh, "delta_id")
      .join(feats.select(col("doc_id").as("base_id"), col("hs").as("hx"))
              .hint("shuffle_hash"), "base_id")
      .select(col("delta_id"), col("base_id"),
              // Round-12: ONE merge-count per pair (array_intersect was
              // inlined twice) over the sorted-distinct hash sets, and the
              // τ cut on the raw ratio first (round6(x) >= 0.5 ⇒
              // x >= 0.4999995 > 0.4999) so the per-row decimal round only
              // touches survivors — pairs and values bit-identical
              TextOps.sortedIntersectCount(col("hq"), col("hx")).as("inter"),
              size(col("hq")).cast("bigint").as("sq"),
              size(col("hx")).cast("bigint").as("sx"))
      .withColumn("rawj", col("inter").cast("double") /
        (col("sq") + col("sx") - col("inter")).cast("double"))
      .filter(col("rawj") >= 0.4999)
      .select(col("delta_id"), col("base_id"),
              round(col("rawj"), 6).as("jaccard"))
      .filter(col("jaccard") >= JaccardThreshold)
      .orderBy("delta_id", "base_id")
  }

  // ------------------------------------------------------------ IVF index

  /** Build the IVF index of the `embeddings` corpus into `warehouse` from
    * VecIndex's trained centroids and cell routing: the centroids and the
    * cid-partitioned cells are what persists; no probe ever re-runs a
    * k-means iteration. */
  def buildIvfIndex(s: SparkSession, d: String, warehouse: String): Unit = {
    val (cent, cells) = VecIndex.ivf(s, d)
    cent.coalesce(1).write.mode("overwrite").parquet(s"$warehouse/ivf_centroids")
    Tables(s, d, "embeddings").join(cells, "vec_id")
      .select(col("vec_id"), col("embedding"), col("cid"))
      .write.mode("overwrite").partitionBy("cid").parquet(s"$warehouse/ivf_cells")
  }

  /** Top-k cosine neighbors of `query` from the stored IVF index: route to
    * the `NProbe` best cells by the stored centroids (nlist rows — the one
    * KB-bounded driver-side read), then score ONLY those cells' vectors.
    * The cid filter is a literal IN over partition values, so the cells
    * scan prunes to NProbe/nlist of the files at listing time. */
  def probeIvfIndex(s: SparkSession, warehouse: String, query: Array[Float],
                    k: Int = 10, excludeId: Long = -1L): DataFrame = {
    val qlit = typedLit(query)
    val probeCids = s.read.parquet(s"$warehouse/ivf_centroids")
      .select(col("cid"), VectorOps.cosine(col("centroid"), qlit).as("cscore"))
      .orderBy(col("cscore").desc, col("cid").asc)
      .limit(NProbe)
      .collect().map(_.getInt(0))
    s.read.parquet(s"$warehouse/ivf_cells")
      .filter(col("cid").isin(probeCids.map(Integer.valueOf).toIndexedSeq: _*))
      .filter(col("vec_id") =!= excludeId)
      .select(col("vec_id"),
              round(VectorOps.cosine(col("embedding"), qlit), 6).as("cos"))
      .orderBy(col("cos").desc, col("vec_id").asc)
      .limit(k)
  }
}

/** Shared df-capped co-purchase PAIR INDEX — the common machinery of the
  * customer-pair link-prediction keys (`graph_adamic_adar`,
  * `graph_jaccard_neighbors`), stored ONCE per (JVM, sf dir) through
  * `Artifacts.table` and probed by every consumer (round 11 computed this
  * exchange independently in both keys, ~50 s of duplicated work in the
  * driver bench).
  *
  *  - `pairs(a, b, common, aa_raw)` — each unordered customer pair
  *    (a < b) with its per-pair aggregates: common = #shared parts and
  *    aa_raw = the UNROUNDED Adamic–Adar fold Σ 1/ln(df) in df order
  *    ([[buildPairs]]). One co-partitioned self-join of the capped edges
  *    on the part; per-part fan-out is ≤ C(MaxPartDf, 2) pairs — bounded
  *    by the cap, never the corpus; total volume Σ C(df,2) ≤
  *    (cap/2)·|edges|.
  *  - `deg(c, deg)` — per-customer distinct-part degree over the SAME
  *    capped graph (df ≤ cap, including df = 1 parts).
  */
object PairIndex {
  import graft.{Artifacts, Tables}
  import org.apache.spark.sql.{DataFrame, SparkSession}
  import org.apache.spark.sql.expressions.Window
  import org.apache.spark.sql.functions._

  val MaxPartDf = 40

  private def ensure(s: SparkSession, d: String): String => DataFrame =
    Artifacts.table(s, "pairidx", d) { w =>
      val n = s.sparkContext.defaultParallelism
      // e(c, p, df): distinct edges hashed by part once — the distinct, the
      // df window and the pair self-join all reuse that partitioning, and
      // persist shares one materialization between deg and pairs
      val e = w.temp(Tables(s, d, "orders")
        .join(Tables(s, d, "lineitem"), col("o_orderkey") === col("l_orderkey"))
        .select(col("o_custkey").as("c"), col("l_partkey").as("p"))
        .repartition(n, col("p"))
        .distinct()
        .withColumn("df", count(lit(1)).over(Window.partitionBy("p")))
        .filter(col("df") <= MaxPartDf)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
      w("deg", e.groupBy("c").agg(count(lit(1)).as("deg")))
      w("pairs", buildPairs(e))
    }

  /** The per-pair aggregates over the df-capped edge table `e(c, p, df)`,
    * pre-aggregated PER PAIR so probes are pure scans + bounded top-k:
    *   common  = #shared parts
    *   aa_raw  = Σ 1/ln(df) over the shared parts, folded in df order:
    *             each pair's (df, cnt) cells, cnt = #shared parts with
    *             that df, are summed by one running window in df order,
    *             ((cnt₁/ln df₁) + cnt₂/ln df₂) + …, and the pair's last
    *             cell (no `lead`) carries the totals. UNROUNDED; consumers
    *             round only after their top-k cut (round(double, 6) is a
    *             per-row BigDecimal).
    * The join rows are hashed by (a, b) once, so the cell count and the
    * window share one exchange, and each pair carries at most
    * MaxPartDf − 1 narrow cells.
    */
  private[graft] def buildPairs(e: DataFrame): DataFrame = {
    val n = e.sparkSession.sparkContext.defaultParallelism
    val w = Window.partitionBy("a", "b").orderBy("df")
    val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    e.as("x").join(e.as("y"), col("x.p") === col("y.p") && col("x.c") < col("y.c"))
      .select(col("x.c").as("a"), col("y.c").as("b"), col("x.df").as("df"))
      .repartition(n, col("a"), col("b"))
      .groupBy("a", "b", "df").agg(count(lit(1)).as("cnt"))
      .select(col("a"), col("b"),
              // a running sum is nullable; the stored column stays NOT NULL
              coalesce(sum(col("cnt")).over(run), lit(0L)).as("common"),
              sum(col("cnt") / ln(col("df"))).over(run).as("aa_raw"),
              lead(col("df"), 1).over(w).as("next_df"))
      .filter(col("next_df").isNull)
      .drop("next_df")
  }

  def pairs(s: SparkSession, d: String): DataFrame = ensure(s, d)("pairs")
  def deg(s: SparkSession, d: String): DataFrame = ensure(s, d)("deg")
}

/** Shared df-capped shingle-intersection INDEX — the common core of the
  * three bigram-overlap dedup keys (`dedup_ngram_jaccard`,
  * `dedup_containment`, `dedup_connected_components`), stored ONCE per
  * (JVM, sf dir) through `Artifacts.table` as the one table `inter` and
  * probed by every consumer (round-12: each key
  * independently re-ran `PipelineExt.ngramIntersectionsLazy` — the shingle
  * explode, df aggregate, and inverted-index self-join, ~45 s of task CPU
  * per bench pass at sf0.1 — to finalize a different similarity formula
  * over the SAME (id_a, id_b, n, sa, sb) pair universe).
  *
  * The build path IS `ngramIntersectionsLazy` (the plan ScaleSpec gates:
  * pinned pre-fan-out repartition, df ≤ 32 cap upstream of the self-join,
  * no cartesian), so the scale shape is unchanged — it just runs once.
  */
object ShingleIndex {
  import graft.Artifacts
  import org.apache.spark.sql.{DataFrame, SparkSession}

  /** The (id_a < id_b, n, sa, sb) pair universe within (lang, source)
    * groups: n = |shared df-capped shingles|, sa/sb = kept-shingle set
    * sizes of each side. */
  def intersections(s: SparkSession, d: String): DataFrame =
    Artifacts.table(s, "shingleidx", d) { w =>
      val (base, cached) = PipelineExt.ngramIntersectionsLazy(s, d)
      cached.foreach(w.temp)
      w("inter", base)
    }("inter")
}

/** The one vector quantizer: seed centroids, assign each vector to its
  * nearest centroid, recompute (Lloyd; the partition-by-reference-point
  * step under every clustering, PQ and IVF key). It owns the trainings and
  * the artifacts they build, each stored ONCE per (JVM, sf dir) through
  * `Artifacts.table(s, "vecidx_<family>", d)` and probed by every consumer
  * (the PairIndex/ShingleIndex precedent); the trained states a family's
  * later tables derive from are released once its tables are written:
  *  - `q`: the integer-quantized dimension table ([[quantized]]);
  *  - `pq`: `sim_ann_pq`'s subspace codebooks and codes ([[pq]]);
  *  - `ivfpq`: `sim_ann_ivfpq_residual`'s coarse centroids, residual
  *    codebooks and codes ([[ivfpq]]);
  *  - `ivf`: the float centroids and cell routing of `sim_ann_ivf`,
  *    `dedup_semantic_cluster` and `AnnIndex.buildIvfIndex` ([[ivf]]).
  *
  * Integer grid: points are `(vec_id, keys…, i, x)` rows, and a centroid
  * state is `(keys…, cluster, i, cs, cn)` — per dimension either the exact
  * sum `cs` over `cn` members, or a rounded integer mean with `cn = 1`.
  * Every artifact is exact under a parquet round-trip: the integer
  * trainings are integer arithmetic end to end, and the IVF centroids are
  * 6-dp-rounded floats — so probing the stored tables is bit-identical to
  * the inline training it replaces.
  */
object VecIndex {
  import graft.{Artifacts, Tables}
  import org.apache.spark.sql.{DataFrame, SparkSession}
  import org.apache.spark.sql.functions._

  /** The integer-quantized (vec_id, i, x, s_id) dimension table, subspace
    * `s_id = i div 8`: round(x·1000) on the float-widened double is
    * identical in both engines, and |x| ≤ 303 on this data, so every later
    * product stays far inside int64 AND double-exact range. */
  private[graft] def quantized(s: SparkSession, d: String): DataFrame =
    Artifacts.table(s, "vecidx_q", d) { w =>
      w("q", Tables(s, d, "embeddings")
        .select(col("vec_id"), posexplode(col("embedding")).as(Seq("i", "e")))
        .select(col("vec_id"), col("i"),
                round(col("e").cast("double") * 1000).cast("bigint").as("x"),
                expr("i div 8").as("s_id")))
    }("q")

  /** Seed state: the `k` lowest vec_ids' points, each a singleton cluster
    * keyed by its own vec_id. */
  private[graft] def seed(s: SparkSession, d: String, pts: DataFrame,
                          keys: Seq[String], k: Int): DataFrame = {
    val ids = Tables(s, d, "embeddings").select(col("vec_id")).orderBy("vec_id").limit(k)
    pts.join(broadcast(ids), "vec_id")
      .select(keys.map(col) ++ Seq(col("vec_id").as("cluster"), col("i"),
              col("x").as("cs"), lit(1L).as("cn")): _*)
  }

  /** Distance from every point to every centroid of its keys:
    * `(by…, keys…, cluster, d)`, d = num / cn² with num = Σ(cn·x − cs)² an
    * exact BIGINT < 2⁵³, so the one division is the only float op and is
    * identical on any engine. The k×dim state is BROADCAST: the corpus
    * never shuffles on the 64-value dim index. */
  private[graft] def distances(pts: DataFrame, state: DataFrame, keys: Seq[String],
                               by: Seq[String] = Seq("vec_id")): DataFrame = {
    val out = (by ++ keys :+ "cluster").map(col)
    val err = col("cn") * col("x") - col("cs")
    pts.join(broadcast(state), keys :+ "i")
      .groupBy(out: _*)
      .agg(sum(err * err).as("num"), max(col("cn")).as("cn"))
      .select(out :+ (col("num").cast("double") /
                      (col("cn") * col("cn")).cast("double")).as("d"): _*)
  }

  /** Each point's nearest centroid, `(by…, keys…, cluster)`; ties break to
    * the lowest cluster id through the struct-min. */
  private[graft] def nearest(pts: DataFrame, state: DataFrame, keys: Seq[String],
                             by: Seq[String] = Seq("vec_id")): DataFrame = {
    val out = (by ++ keys).map(col)
    distances(pts, state, keys, by)
      .groupBy(out: _*)
      .agg(min(struct(col("d"), col("cluster"))).as("m"))
      .select(out :+ col("m.cluster").as("cluster"): _*)
  }

  /** CAST(round(Σx / n)): one exact-int double division then one round,
    * deterministic for any partitioning. */
  private def intMean = expr("CAST(round(CAST(sum(x) AS DOUBLE) / count(1)) AS BIGINT)")

  /** One Lloyd step: assign, then re-derive each centroid from its
    * members — the exact (Σx, n) pair, or with `rounded` the rounded mean
    * over n = 1 (num / 1 is then the integer Σ(x − cs)² itself). */
  private[graft] def lloydStep(pts: DataFrame, keys: Seq[String], rounded: Boolean = false)
                              (state: DataFrame): DataFrame =
    nearest(pts, state, keys).join(pts, "vec_id" +: keys)
      .groupBy((keys :+ "cluster" :+ "i").map(col): _*)
      .agg(if (rounded) intMean.as("cs") else sum(col("x")).as("cs"),
           if (rounded) lit(1L).as("cn") else count(lit(1)).as("cn"))

  /** `passes` Lloyd steps from [[seed]], one `Fixpoint` cut per pass. */
  private[graft] def lloyd(s: SparkSession, d: String, pts: DataFrame, keys: Seq[String],
                           k: Int, passes: Int, what: String,
                           rounded: Boolean = false): DataFrame =
    Fixpoint(seed(s, d, pts, keys, k), Nil, passes, what)(lloydStep(pts, keys, rounded))(
      (_, pass) => pass == passes)

  /** PQ codebooks `(s_id, cluster, i, cs, cn)` — per 8-dim subspace, a
    * k = 4 exact Lloyd of 2 passes — and every vector's codes
    * `(vec_id, s_id, code)`. */
  private[graft] def pq(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val t = Artifacts.table(s, "vecidx_pq", d) { w =>
      val q = quantized(s, d)
      val state = w.temp(lloyd(s, d, q, Seq("s_id"), 4, 2, "PQ codebooks"))
      w("state", state)
      w("codes", nearest(q, state, Seq("s_id")).withColumnRenamed("cluster", "code"))
    }
    (t("state"), t("codes"))
  }

  /** IVF-PQ: coarse centroids `(cell, i, cc)` (k = 4), residual codebooks
    * `(s_id, code, i, cb)` (k = 8 per subspace) and codes
    * `(vec_id, cell, s_id, code)`; both trainings are 2 rounded-mean
    * passes, so every value is an integer on the milli grid. */
  private[graft] def ivfpq(s: SparkSession, d: String): (DataFrame, DataFrame, DataFrame) = {
    val t = Artifacts.table(s, "vecidx_ivfpq", d) { w =>
      val q = quantized(s, d)
      val coarse = w.temp(lloyd(s, d, q, Nil, 4, 2, "IVFPQ coarse quantizer", rounded = true))
      w("coarse", coarse.select(col("cluster").as("cell"), col("i"), col("cs").as("cc")))
      // integer residuals vs the assigned cell's centroid
      val resid = w.temp(q.join(nearest(q, coarse, Nil), "vec_id")
        .join(broadcast(coarse), Seq("cluster", "i"))
        .select(col("vec_id"), col("cluster").as("cell"), col("s_id"), col("i"),
                (col("x") - col("cs")).as("x"))
        .localCheckpoint(true))
      // 8-entry codebooks are the practical floor: k=4 measured recall
      // 0.13 at sf0.001, k=8 clears the 0.15 bound, broadcast stays tiny
      val cb = w.temp(lloyd(s, d, resid, Seq("s_id"), 8, 2, "IVFPQ residual codebooks",
                            rounded = true))
      w("cb", cb.select(col("s_id"), col("cluster").as("code"), col("i"), col("cs").as("cb")))
      w("codes", nearest(resid, cb, Seq("s_id"), Seq("vec_id", "cell"))
        .withColumnRenamed("cluster", "code"))
    }
    (t("coarse"), t("cb"), t("codes"))
  }

  /** IVF seed centroids `(cid, centroid)`: each label's mean vector. */
  private[graft] def ivfSeed(s: SparkSession, d: String): DataFrame =
    PipelineExt.ivfCentroidOf(
      Tables(s, d, "embeddings").join(broadcast(PipelineExt.ivfLabelSeed(s, d)), "label")
        .select(col("cid"), col("embedding")))

  /** IVF: the label-seeded float centroids `(cid, centroid)` after 2
    * Lloyd passes, and every vector's final cell `(vec_id, cid)`. */
  private[graft] def ivf(s: SparkSession, d: String): (DataFrame, DataFrame) = {
    val t = Artifacts.table(s, "vecidx_ivf", d) { w =>
      val emb = Tables(s, d, "embeddings")
      val step = (c: DataFrame) => PipelineExt.ivfCentroidOf(
        emb.join(PipelineExt.ivfAssignLazy(s, d, c), "vec_id").select(col("cid"), col("embedding")))
      val cent = w.temp(Fixpoint(w.temp(ivfSeed(s, d).localCheckpoint(true)), Nil, 2,
                                 "IVF k-means")(step)((_, pass) => pass == 2))
      w("cent", cent)
      w("cells", PipelineExt.ivfAssignLazy(s, d, cent))
    }
    (t("cent"), t("cells"))
  }
}

/** Per-enum-key cumulative weight over a DATA-DERIVED value grid — the
  * quantile family's shared machinery (weighted median, discrete
  * percentiles, IQR fences, winsorize thresholds, MAD). A
  * `Window.partitionBy(flag).orderBy(value)` over the distinct-cents grid
  * serializes the whole grid sort onto |enum| tasks (round-11 verdict);
  * this runs the DISTRIBUTED two-pass PrefixSum over the (key, value)
  * total order instead and subtracts each key's starting offset. The
  * offsets come from a triangular join over the ≤|enum| per-key totals —
  * no window anywhere, so nothing funnels regardless of grid size.
  */
object GridCum {
  import org.apache.spark.sql.DataFrame
  import org.apache.spark.sql.functions._

  /** Append `out` = running sum of `w` within each `key`, ordered by `v`
    * (BIGINT weights; every input column is preserved). */
  def perKeyCumsum(grid: DataFrame, key: String, v: String, w: String,
                   out: String): DataFrame = {
    val g = PrefixSum.cumsumLong(grid, Seq(col(key), col(v)), col(w), "__gcum")
    val tot = grid.groupBy(key).agg(sum(col(w)).as("__t"))
    val off = tot.as("a")
      .join(tot.as("b"), col(s"b.$key") < col(s"a.$key"), "left")
      .groupBy(col(s"a.$key").as(key))
      .agg(coalesce(sum(col("b.__t")), lit(0L)).as("__off"))
    g.join(broadcast(off), key)
      .withColumn(out, col("__gcum") - col("__off"))
      .drop("__gcum", "__off")
  }
}
