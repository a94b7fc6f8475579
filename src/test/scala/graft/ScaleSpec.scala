package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Scale-shape audits: the properties that decide whether a plan survives a
  * 1000-executor / 100 TB scale-up, asserted on the actual physical plans.
  */
class ScaleSpec extends AnyFunSuite with SharedSpark {

  private val sf = "/root/testdata/sf0.001"

  // join_cross is the one declared cartesian (5×25 rows, deliberate).
  // Everything else — including every theta/interval join — must plan as
  // hash/merge/broadcast join: an accidental CartesianProduct is the
  // classic silent 100 TB killer.
  test("no undeclared CartesianProduct in any physical plan") {
    val offenders = SparkEntry.queries.toSeq
      .filterNot(_._1 == "join_cross")
      .flatMap { case (name, fn) =>
        val plan = fn(spark, sf).queryExecution.executedPlan.toString
        if (plan.contains("CartesianProduct")) Some(name) else None
      }
    assert(offenders.isEmpty, s"cartesian products in: $offenders")
  }

  // The three pair-generating pipelines checkpoint their result, so the
  // declared queries' plans collapse to a LogicalRDD — the sweep above
  // cannot see their join trees. Inspect the LAZY (pre-checkpoint)
  // variants explicitly so a cartesian regression in the pipelines
  // themselves cannot hide behind the checkpoint.
  test("checkpointed pair pipelines have no cartesian upstream of the checkpoint") {
    val ivfLazy = operators.PipelineExt.ivfAssignLazy(spark, sf,
      operators.VecIndex.ivfSeed(spark, sf))
    val lazyPipelines = Seq(
      "dedup_near_minhash" -> operators.Pipeline.minhashPairs(spark, sf),
      "dedup_simhash" -> operators.PipelineExt.simhashPairs(spark, sf),
      "dedup_ngram_jaccard" -> operators.PipelineExt.ngramIntersectionsLazy(spark, sf),
      "sim_ann_ivf (one Lloyd round)" -> ((ivfLazy, Seq.empty[org.apache.spark.sql.DataFrame])))
    val offenders = lazyPipelines.flatMap { case (name, (df, cached)) =>
      val plan = df.queryExecution.executedPlan.toString
      cached.foreach(_.unpersist())
      if (plan.contains("CartesianProduct")) Some(name) else None
    }
    assert(offenders.isEmpty, s"cartesian products in: $offenders")
  }

  test("aggregate-only queries prune fact-table columns at the scan") {
    val plan = SparkEntry.queries("agg_groupby_pricing")(spark, sf)
      .queryExecution.executedPlan.toString
    // Q1 touches 7 of 11 lineitem columns; the untouched ones must not be read.
    assert(!plan.contains("l_partkey") && !plan.contains("l_suppkey"),
      "pricing aggregate must not scan join keys it never uses")
  }

  test("bucketed tables equi-join without a shuffle exchange") {
    val sp = spark
    val wh = java.nio.file.Files.createTempDirectory("graft_buckets")
    sp.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      Tables(sp, sf, "orders")
        .write.mode("overwrite")
        .option("path", wh.resolve("orders_b").toString)
        .bucketBy(8, "o_custkey").sortBy("o_custkey")
        .saveAsTable("orders_b")
      Tables(sp, sf, "customer")
        .write.mode("overwrite")
        .option("path", wh.resolve("cust_b").toString)
        .bucketBy(8, "c_custkey").sortBy("c_custkey")
        .saveAsTable("cust_b")
      val joined = sp.table("orders_b")
        .join(sp.table("cust_b"), col("o_custkey") === col("c_custkey"))
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("ShuffleExchange") && !plan.contains("Exchange hashpartitioning"),
        s"bucketed join must be shuffle-free, got:\n$plan")
      assert(joined.count() == Tables(sp, sf, "orders").count())
    } finally {
      sp.sql("DROP TABLE IF EXISTS orders_b")
      sp.sql("DROP TABLE IF EXISTS cust_b")
      sp.conf.unset("spark.sql.autoBroadcastJoinThreshold")
    }
  }

  test("native TopKPerKey operator plans with one shuffle and bounded heaps") {
    val q = SparkEntry.queries("topk_per_key_native")(spark, sf)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.contains("TopKPerKey"), s"custom operator missing from plan:\n$plan")
    assert(plan.split("Exchange hashpartitioning").length <= 2,
      "TopKPerKey must add at most one hash exchange")
    // results indistinguishable from the stock window plan
    val native = q.collect().toSeq
    val window = SparkEntry.queries("window_row_number_topk")(spark, sf)
      .select("o_custkey", "o_orderkey", "total").collect().toSeq
    assert(native.sortBy(r => (r.getLong(0), r.getLong(1))) ==
           window.sortBy(r => (r.getLong(0), r.getLong(1))))
  }

  test("partitioned layout prunes partitions at the scan") {
    val sp = spark
    val tmp = Tables.scratchDir("graft_prunetest")
    val out = tmp.resolve("orders_by_status").toString
    Tables(sp, sf, "orders").write.mode("overwrite")
      .partitionBy("o_orderstatus").parquet(out)
    val pruned = sp.read.parquet(out).filter(col("o_orderstatus") === "F")
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(o_orderstatus"),
      s"expected partition filter in:\n$plan")
    assert(pruned.count() ==
      Tables(sp, sf, "orders").filter(col("o_orderstatus") === "F").count())
  }

  // Runtime (bloom-filter) join pruning: when a fact⋈dim join's dim side
  // carries a selective filter and the join must shuffle (too big to
  // broadcast at scale), Catalyst can build a bloom filter from the dim
  // keys and semi-prune the fact scan before the shuffle — at 100 TB this
  // skips most of the fact exchange. The fixture scans are far below the
  // default 10 GB application-side threshold, so the test lowers the
  // thresholds to demonstrate (and pin) the rewrite itself.
  test("runtime bloom filter semi-prunes the fact side of a selective shuffle join") {
    val sp = spark
    val restore = Seq(
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold",
      "spark.sql.autoBroadcastJoinThreshold").map(k => k -> sp.conf.getOption(k))
    try {
      sp.conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
      sp.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      val li = Tables(sp, sf, "lineitem").select("l_orderkey", "l_extendedprice")
      val o = Tables(sp, sf, "orders")
        .filter(col("o_orderpriority") === "1-URGENT")
        .select("o_orderkey")
      val j = li.join(o, col("l_orderkey") === col("o_orderkey"))
      val plan = j.queryExecution.optimizedPlan.toString
      assert(plan.contains("might_contain"),
        s"expected a bloom-filter runtime filter (might_contain) in:\n$plan")
    } finally restore.foreach {
      case (k, Some(v)) => sp.conf.set(k, v)
      case (k, None) => sp.conf.unset(k)
    }
  }

  // The MERGE result set is assembled behind a copy-on-write swap (the
  // declared sink_merge_upsert key reads back a plain parquet file), so the
  // cartesian sweep above never sees its join tree. Build the result
  // assembly directly and sweep it: the matched-pair join and the
  // insert-arm anti join must plan as hash joins, never cartesians.
  test("MERGE result assembly plans without cartesian joins") {
    val sp = spark
    Tables(sp, sf, "orders").createOrReplaceTempView("orders")
    val spec = Merge.parse(
      """MERGE INTO t USING (SELECT o_orderkey AS k, o_totalprice AS p FROM orders) s
        |ON t.o_orderkey = s.k
        |WHEN MATCHED THEN UPDATE SET o_totalprice = s.p
        |WHEN NOT MATCHED THEN INSERT (o_orderkey, o_totalprice) VALUES (s.k, s.p)""".stripMargin).get
    val before = Tables(sp, sf, "orders").select(col("o_orderkey"), col("o_totalprice"))
    val plan = Sql.mergeResult(sp, before, spec).queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"cartesian in MERGE plan:\n$plan")
  }

  private def listDir(p: java.nio.file.Path): Seq[java.nio.file.Path] =
    ScratchDirs.listDir(p)

  private def latestScratch(prefix: String): java.nio.file.Path =
    ScratchDirs.latestScratch(prefix)

  test("z-order layout narrows per-file min/max on BOTH clustering columns") {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    import scala.jdk.CollectionConverters._
    val sp = spark
    // per-file [min, max] width of `column` across all parquet files in dir,
    // averaged and normalized by the global domain width
    def avgRangeFraction(dir: java.nio.file.Path, column: String, domain: Double): Double = {
      val files = listDir(dir).filter(_.getFileName.toString.endsWith(".parquet"))
      assert(files.nonEmpty, s"no parquet files under $dir")
      val fractions = files.map { f =>
        val rd = ParquetFileReader.open(HadoopInputFile.fromPath(
          new org.apache.hadoop.fs.Path(f.toString),
          sp.sparkContext.hadoopConfiguration))
        try {
          val stats = rd.getFooter.getBlocks.asScala.map { b =>
            val c = b.getColumns.asScala.find(_.getPath.toDotString == column).get
            val st = c.getStatistics
            (st.genericGetMin.asInstanceOf[Number].doubleValue(),
             st.genericGetMax.asInstanceOf[Number].doubleValue())
          }
          (stats.map(_._2).max - stats.map(_._1).min) / domain
        } finally rd.close()
      }
      fractions.sum / fractions.size
    }
    // the declared query writes the z-clustered layout
    SparkEntry.queries("layout_zorder")(sp, sf).count()
    val zdir = latestScratch("graft_zorder").resolve("lineitem_z")
    // control: same data, same file count, clustered by the UNRELATED
    // orderkey — every file spans ~the full partkey/suppkey domain
    val ctl = Tables.scratchDir("graft_zctl").resolve("lineitem_o")
    Tables(sp, sf, "lineitem")
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"))
      .repartitionByRange(8, col("l_orderkey"))
      .sortWithinPartitions("l_orderkey")
      .write.mode("overwrite").parquet(ctl.toString)
    val li = Tables(sp, sf, "lineitem")
    val pDom = li.agg(max("l_partkey") - min("l_partkey")).first().getLong(0).toDouble
    val sDom = li.agg(max("l_suppkey") - min("l_suppkey")).first().getLong(0).toDouble
    val (zp, zs) = (avgRangeFraction(zdir, "l_partkey", pDom),
                    avgRangeFraction(zdir, "l_suppkey", sDom))
    val (cp, cs) = (avgRangeFraction(ctl, "l_partkey", pDom),
                    avgRangeFraction(ctl, "l_suppkey", sDom))
    // control files span essentially the whole domain in both dimensions;
    // z-clustered files must be materially narrower in both AT ONCE
    assert(cp > 0.9 && cs > 0.9, s"control layout unexpectedly clustered: $cp / $cs")
    assert(zp < 0.66 * cp, s"z layout partkey range fraction $zp not < 0.66×$cp")
    assert(zs < 0.66 * cs, s"z layout suppkey range fraction $zs not < 0.66×$cs")
  }

  test("sink_compacted writes exactly one data file per partition directory") {
    val sp = spark
    // run the declared query (it writes, then reads back) so the assertion
    // covers the exact layout the contract key produces
    SparkEntry.queries("sink_compacted")(sp, sf).count()
    val root = latestScratch("graft_compact").resolve("docs_by_lang")
    val langDirs = listDir(root).filter(p =>
      java.nio.file.Files.isDirectory(p) &&
        p.getFileName.toString.startsWith("lang="))
    assert(langDirs.length >= 2, s"expected lang= partition dirs under $root")
    langDirs.foreach { p =>
      val files = listDir(p).count(_.getFileName.toString.endsWith(".parquet"))
      assert(files == 1, s"$p has $files parquet files; compaction should leave 1")
    }
  }

  // The candidate-verify joins must broadcast the SMALL side (the deduped
  // candidate-pair table — bounded by LSH collisions) and never the raw
  // embeddings table, which is unbounded at scale. A BroadcastExchange
  // whose subtree contains no join/aggregate is a broadcast of a raw
  // (projected/filtered) table — at a billion vectors, an OOM.
  test("LSH verify joins broadcast candidate pairs, never the full embeddings table") {
    import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    Seq("sim_ann_lsh", "dedup_embedding_cosine").foreach { name =>
      val plan = SparkEntry.queries(name)(spark, sf).queryExecution.sparkPlan
      val rawBroadcasts = plan.collect {
        case b: BroadcastExchangeExec
            if b.find(n => n.isInstanceOf[BaseJoinExec] ||
                           n.isInstanceOf[BaseAggregateExec]).isEmpty => b
      }
      assert(rawBroadcasts.isEmpty,
        s"$name broadcasts a raw table:\n${rawBroadcasts.mkString("\n")}")
    }
  }

  // The declared salted-join query must actually join on (key, salt) —
  // i.e. the fan-out is in the PHYSICAL join key, not just conceptually —
  // and the big fact-side join must not have collapsed into a broadcast
  // (which would hide the skew-spreading shape the operator exists for).
  test("join_salted_skew joins on (event_type, salt) in the physical plan") {
    import org.apache.spark.sql.execution.joins.{SortMergeJoinExec, ShuffledHashJoinExec}
    val plan = SparkEntry.queries("join_salted_skew")(spark, sf)
      .queryExecution.sparkPlan
    val shuffleJoins = plan.collect {
      case j: SortMergeJoinExec => j.leftKeys
      case j: ShuffledHashJoinExec => j.leftKeys
    }
    assert(shuffleJoins.nonEmpty, s"no shuffle join in plan:\n$plan")
    val fanOut = shuffleJoins.find(_.exists(_.toString.contains("__salt")))
    assert(fanOut.isDefined, s"no join keyed on __salt:\n$plan")
    assert(fanOut.get.length == 2, s"expected (event_type, __salt) keys, got ${fanOut.get}")
  }

  // Round-7: the within-label all-pairs cosine join is label-keyed, and
  // label is a structural hot key — the self-join must carry the salt in
  // its physical join keys so each label's quadratic pair space spreads
  // over the salt fan-out instead of one straggler task.
  test("sim_pair_threshold self-join is salted on (label, __salt)") {
    import org.apache.spark.sql.execution.joins.{SortMergeJoinExec, ShuffledHashJoinExec}
    val plan = SparkEntry.queries("sim_pair_threshold")(spark, sf)
      .queryExecution.sparkPlan
    val shuffleJoins = plan.collect {
      case j: SortMergeJoinExec => j.leftKeys
      case j: ShuffledHashJoinExec => j.leftKeys
    }
    val salted = shuffleJoins.find(_.exists(_.toString.contains("__salt")))
    assert(salted.isDefined, s"pair self-join lost its salt key:\n$plan")
  }

  // The sampling/split operators must stay pure scan-side work — a
  // shuffle or window sneaking in would turn an I/O-speed filter into a
  // cluster-wide exchange at 100 TB.
  test("split and stratified-sample plans contain no exchange except the declared sort") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    Seq("split_train_holdout", "sample_stratified").foreach { name =>
      val plan = SparkEntry.queries(name)(spark, sf).queryExecution.sparkPlan
      val shuffles = plan.collect { case e: ShuffleExchangeExec => e }
      // exactly one range partitioning for the canon total order; nothing else
      assert(shuffles.length <= 1 &&
             shuffles.forall(_.outputPartitioning.toString.contains("range")),
        s"$name has non-sort exchanges:\n$plan")
    }
  }

  // The correlated LATERAL top-1 must decorrelate into a ranked join
  // (row_number <= 1 over a window), not re-execute the subquery per outer
  // row — per-row re-execution would be a driver-side loop at scale.
  test("join_lateral_topn decorrelates into a windowed rank, not per-row subqueries") {
    val plan = SparkEntry.queries("join_lateral_topn")(spark, sf)
      .queryExecution.sparkPlan
    // a per-group rank may appear as the stock window plan or — when this
    // suite shares a session that ExtensionsSpec built — as the native
    // TopKPerKey the TopKRewrite rule substitutes for it; both are the
    // decorrelated shape (the failure mode is a per-row subquery re-plan)
    assert(plan.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => w
      case w: org.apache.spark.sql.execution.window.WindowGroupLimitExec => w
      case t: graft.plans.TopKPerKeyExec => t
    }.nonEmpty, s"no window/rank/top-k in lateral plan:\n$plan")
  }

  // The bucketized range join exists to AVOID the nested-loop plan a pure
  // range predicate would otherwise force — assert the rewrite actually
  // lands on an equi-join strategy, with the day bucket in the join keys.
  test("join_range_bucketed plans as an equi join, not a nested loop") {
    val plan = SparkEntry.queries("join_range_bucketed")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoop") && !plan.contains("CartesianProduct"),
      s"range join fell back to a nested loop:\n$plan")
    assert(plan.contains("HashJoin") || plan.contains("SortMergeJoin"),
      s"no equi-join operator in range-bucketed plan:\n$plan")
  }

  // The pre-fan-out repartitions MUST carry an explicit partition count:
  // AQE coalesces a bare repartition(col) of small pre-expansion rows back
  // to one partition (it sizes the shuffle, not the downstream fan-out),
  // serializing the pair-join / trigram-explode stages (measured ~8×).
  test("pre-fan-out repartitions pin an explicit partition count") {
    // round 5 extended the rule to every pair pipeline: the bucket/band
    // self-joins and candidate-verify joins all fan small pre-expansion
    // rows out into pair spaces AQE cannot see.
    Seq("dedup_edit_distance", "text_ngram_profile", "sim_ann_lsh",
        "dedup_embedding_cosine", "decontaminate_ngram", "text_unigram_nll")
      .foreach { name =>
      val reps = SparkEntry.queries(name)(spark, sf)
        .queryExecution.optimizedPlan.collect {
          case r: org.apache.spark.sql.catalyst.plans.logical.RepartitionByExpression => r
        }
      assert(reps.nonEmpty, s"$name lost its pre-fan-out repartition")
      assert(reps.forall(_.optNumPartitions.nonEmpty),
        s"$name repartition has no explicit partition count (AQE will coalesce it)")
    }
    // the lazy pipelines persist their repartitioned input, so the
    // repartition may sit inside the InMemoryRelation's cached plan (an
    // explicit-count repartition surfaces there as a REPARTITION_BY_NUM
    // shuffle) rather than in the logical plan on top of it
    Seq("dedup_near_minhash" -> operators.Pipeline.minhashPairs(spark, sf),
        "dedup_simhash" -> operators.PipelineExt.simhashPairs(spark, sf),
        "dedup_ngram_jaccard" -> operators.PipelineExt.ngramIntersectionsLazy(spark, sf))
      .foreach { case (name, (df, cached)) =>
        val plan = df.queryExecution.optimizedPlan
        val reps = plan.collect {
          case r: org.apache.spark.sql.catalyst.plans.logical.RepartitionByExpression => r
        }
        // pipelines may stack caches (round 7: the df-capped shingle set is
        // cached on top of the cached raw explode), so the pinned exchange
        // can sit arbitrarily deep — recurse through nested cache layers
        def pinnedIn(p: org.apache.spark.sql.execution.SparkPlan): Seq[Any] = {
          // AQE wraps the cached physical plan; collect on the wrapper
          // sees no children, so unwrap to the input plan first
          val phys = p match {
            case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
              a.inputPlan
            case x => x
          }
          phys.collect {
            case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
                if e.shuffleOrigin ==
                   org.apache.spark.sql.execution.exchange.REPARTITION_BY_NUM => Seq(e)
            case t: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
              pinnedIn(t.relation.cachedPlan)
          }.flatten
        }
        val cachedPinned = plan.collect {
          case m: org.apache.spark.sql.execution.columnar.InMemoryRelation =>
            pinnedIn(m.cachedPlan)
        }.flatten
        cached.foreach(_.unpersist())
        assert(reps.nonEmpty || cachedPinned.nonEmpty,
          s"$name lost its pre-fan-out repartition")
        assert(reps.forall(_.optNumPartitions.nonEmpty),
          s"$name repartition has no explicit partition count (AQE will coalesce it)")
      }
  }

  // Round-5 regression gate: at bench scale the planner chose to BROADCAST
  // the raw embeddings projection into the id_b candidate-verify join (the
  // billion-vector OOM path) — the raw-broadcast sweep above missed it
  // because plan shapes differ at this spec's sf. The shuffle_hash pin
  // must hold in the physical plan at every sf.
  // The Bloom prefilter must ride the corpus SCAN (a Filter below the
  // verify join), not run after it — the sketch-prefilter-then-verify
  // shape is the whole point of decontaminate_bloom at corpus scale.
  test("bloom decontamination probes the scan before the verify join") {
    import org.apache.spark.sql.execution.FilterExec
    import org.apache.spark.sql.execution.joins.BaseJoinExec
    val plan = SparkEntry.queries("decontaminate_bloom")(spark, sf)
      .queryExecution.sparkPlan
    val join = plan.collectFirst { case j: BaseJoinExec => j }
    assert(join.nonEmpty, s"no verify join in:\n$plan")
    val probeBelowJoin = join.get.find {
      case f: FilterExec =>
        f.condition.find(_.isInstanceOf[functions.BloomMightContain]).nonEmpty
      case _ => false
    }
    assert(probeBelowJoin.nonEmpty,
      s"bloom probe is not a pre-join scan filter in:\n$plan")
  }

  test("candidate-verify id_b joins are shuffled hash joins, not broadcasts") {
    import org.apache.spark.sql.execution.joins.ShuffledHashJoinExec
    Seq("sim_ann_lsh", "dedup_embedding_cosine").foreach { name =>
      val plan = SparkEntry.queries(name)(spark, sf).queryExecution.sparkPlan
      val shuffled = plan.collect { case j: ShuffledHashJoinExec => j }
      assert(shuffled.nonEmpty,
        s"$name lost its pinned shuffle_hash verify join:\n$plan")
    }
  }

  // Round-6: the incremental-dedup anti join must shuffle on the hash, not
  // broadcast the base index — at 100 TB the BASE snapshot is the unbounded
  // side (the delta is small), so a planner-chosen broadcast of base is the
  // same OOM anti-pattern the verify-join gate above pins against. The
  // bigram-LM join is corpus-sized on BOTH sides; same rule.
  test("incremental dedup and bigram-LM joins shuffle, never broadcast the big side") {
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, ShuffledHashJoinExec}
    Seq("dedup_incremental", "text_bigram_nll").foreach { name =>
      val plan = SparkEntry.queries(name)(spark, sf).queryExecution.sparkPlan
      val shuffled = plan.collect { case j: ShuffledHashJoinExec => j }
      assert(shuffled.nonEmpty, s"$name lost its pinned shuffle joins:\n$plan")
      val bhjOnCorpus = plan.collect {
        case j: BroadcastHashJoinExec => j
      }
      assert(bhjOnCorpus.isEmpty,
        s"$name broadcast a corpus-sized join side:\n$plan")
    }
  }

  // Round-7: the ngram-Jaccard inverted index must cap shingle document
  // frequency BEFORE its self-join — a shingle shared by k docs fans out
  // to k² pair rows, and real corpora have stopword bigrams with k in the
  // millions. The kept-shingle cache sits under the self-join, so the df
  // aggregate + `df <= 32` filter must appear inside a cached plan (proof
  // the cap is upstream of the pair fan-out, not applied to its output).
  test("ngram-Jaccard caps shingle document frequency upstream of the self-join") {
    val (pairs, cached) = operators.PipelineExt.ngramIntersectionsLazy(spark, sf)
    val plan = pairs.queryExecution.optimizedPlan
    val cachedPlans = plan.collect {
      case m: org.apache.spark.sql.execution.columnar.InMemoryRelation =>
        val phys = m.cachedPlan match {
          case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
            a.inputPlan
          case p => p
        }
        phys.toString
    }
    cached.foreach(_.unpersist())
    assert(cachedPlans.exists(p => p.contains("df#") && p.contains("<= 32")),
      s"df ≤ ${operators.PipelineExt.MaxShingleDf} cap is not upstream of " +
        s"the pair self-join; cached plans:\n${cachedPlans.mkString("\n---\n")}")
  }

  // Round-7: the zscore and perplexity tiers used to run whole-partition
  // windows over event_type / lang — a handful of partitions, each one
  // funneling its entire history through one task. Both are rewritten as
  // aggregate → broadcast-join → scan-parallel comparison; a Window
  // reappearing in either plan is the regression this gate pins against.
  test("zscore and perplexity-bucket plans contain no window operator") {
    Seq("window_zscore_outlier", "text_perplexity_bucket").foreach { name =>
      val plan = SparkEntry.queries(name)(spark, sf).queryExecution.optimizedPlan
      val wins = plan.collect {
        case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
      }
      assert(wins.isEmpty, s"$name plans a whole-partition Window again:\n$plan")
    }
  }

  // Declared-window-semantics allowlist (note-gate): partitioning a window
  // by a bounded-cardinality enum column (order status, market segment,
  // event type, language, ...) sends ~1/cardinality of the corpus through
  // a single task. The keys allowed below DECLARE exactly that §2.5 window
  // shape as their semantics (rank/ntile/cume_dist/range-frame demos over
  // 5-value keys — the scale-parallel formulation of the same answers is
  // the aggregate→broadcast-join pattern used by window_zscore_outlier and
  // text_perplexity_bucket), and ts_gapfill_interp's window runs over the
  // BOUNDED time-spine, not the corpus. Any query outside the allowlist
  // sweeping a window over one of these keys is an undeclared scale killer
  // and fails here. A window whose CHILD contains an Aggregate is exempt
  // ONLY when that aggregate's grouping keys are ALL bounded enums - then
  // its input is at most the product of enum cardinalities (e.g. the
  // per-(status,priority) mode counts). Round 12 tightened this: a
  // grouping that includes a DATA-DERIVED co-key (the distinct-cents grid
  // under agg_weighted_median's old plan) produces grid-sized window
  // input, and a 3-value partition key then serializes the grid sort onto
  // 3 tasks - exactly the raw-enum-key-over-value-grid shape the round-11
  // verdict flagged; such cumulations must use PrefixSum instead.
  test("low-cardinality window partitioning is limited to declared §2.5 keys") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window => LWindow}
    val lowCard = Set("o_orderstatus", "o_orderpriority", "c_mktsegment",
                      "l_returnflag", "l_linestatus", "event_type", "lang",
                      "source", "label", "n_name", "r_name")
    val allowed = Set("window_distribution", "window_ntile_firstlast",
                      "window_rank_dense", "window_range_frame",
                      "window_range_interval", "ts_gapfill_interp",
                      // reviewed round-12 (gate tightening): these windows
                      // ride per-type aggregates whose co-key is a CALENDAR
                      // or LAG spine — input grows with time span / lag
                      // count, never with corpus rows. (The value-grid
                      // cumulations the tightening targeted — weighted
                      // median, percentile_disc, IQR, winsorize, MAD — are
                      // PrefixSum'd via GridCum and must stay off this list.)
                      "ts_durbin_watson",     // hourly spine per type
                      "ts_page_hinkley",      // hourly spine per type (PH cumulation)
                      "ts_week_over_week",    // weekly spine per type
                      "window_anomaly_spike", // hourly spine per type
                      "ts_period_autocorr",   // 35-row lag grid per type
                      "text_ngram_profile")   // trigram space <= charset^3 per lang, rank-limited top-5
    val offenders = SparkEntry.queries.toSeq.flatMap { case (name, fn) =>
      // A window is a funnel only when EVERY partition key is a bounded
      // enum — (user_id, event_type) partitions at least as finely as
      // user_id alone, so a high-cardinality co-key clears the gate
      // (round 9: window_cumulative_distinct's first-occurrence window).
      val enumBoundedAggInput = (w: LWindow) =>
        w.child.collectFirst { case a: Aggregate => a }.exists { a =>
          val ks = a.groupingExpressions.flatMap(_.references.map(_.name)).distinct
          ks.nonEmpty && ks.forall(lowCard.contains)
        }
      val funnelWindows = fn(spark, sf).queryExecution.optimizedPlan.collect {
        case w: LWindow if !enumBoundedAggInput(w) =>
          val keys = w.partitionSpec.flatMap(_.references.map(_.name))
          keys.nonEmpty && keys.forall(lowCard.contains)
      }
      if (funnelWindows.contains(true) && !allowed.contains(name)) Some(name)
      else None
    }
    assert(offenders.isEmpty,
      s"undeclared low-cardinality window partitioning in: $offenders")
  }

  // Round-10: the round-9 verdict's funnel-gate blind spot. A window with
  // an EMPTY partition spec moves its whole input through ONE task
  // (WindowExec warns exactly this), so every such window must be provably
  // bounded. Two structural proofs are accepted:
  //   - the child aggregate groups ONLY by `__pid` — PrefixSum's
  //     per-partition offsets table, ≤ #cluster partitions rows by
  //     construction (cluster-bounded, never data-bounded);
  //   - a WindowGroupLimit sits under the window — Spark's rank-limit
  //     guard (InferWindowGroupLimit) caps per-partition input at k before
  //     the single-partition exchange (text_zipf_rank's top-100).
  // Anything else needs an entry in the reviewed allowlist below, each
  // with the reason its grid is DOMAIN- or CALENDAR-bounded (saturates
  // independently of corpus row count). The keys the verdict flagged —
  // agg_abc_classification, agg_rfm_segmentation, and the same-family
  // agg_lorenz_curve / text_vocab_growth — are deliberately NOT listed:
  // they are fixed via PrefixSum and must stay fixed.
  test("empty-partition windows are bounded or explicitly domain-justified") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, GlobalLimit, WindowGroupLimit, Window => LWindow}
    def structurallyBounded(w: LWindow): Boolean = {
      val pidOnly = w.child.collectFirst { case a: Aggregate =>
        val ks = a.groupingExpressions.flatMap(_.references.map(_.name)).distinct
        ks.nonEmpty && ks.forall(_ == "__pid")
      }.getOrElse(false)
      // rank-limit guards: either InferWindowGroupLimit's explicit node, or
      // LimitPushDownThroughWindow already rewrote `filter(rank <= k)` into
      // a Limit BELOW the window (text_zipf_rank: GlobalLimit 100 + top-k
      // sort feed the rank window <= k rows — bounded heaps, no funnel).
      val rankLimited = w.child.collectFirst {
        case g: WindowGroupLimit => g.limit.toLong
        case l: GlobalLimit => l.maxRows.getOrElse(Long.MaxValue)
      }.exists(_ <= 10000L)
      pidOnly || rankLimited
    }
    def offenders(df: org.apache.spark.sql.DataFrame): Seq[LWindow] =
      df.queryExecution.optimizedPlan.collect {
        case w: LWindow if w.partitionSpec.isEmpty && !structurallyBounded(w) => w
      }
    val allowed: Map[String, String] = Map(
      "agg_benford_deviation"   -> "9 leading digits",
      "agg_propensity_matching" -> "per-user activity-count grid (behavior domain, not corpus rows)",
      "agg_benjamini_hochberg"  -> "25-nation grid (nation enum, never corpus rows)",
      "agg_best_split_gini"     -> "$50-step threshold spine capped at 20 buckets",
      "agg_ecdf_grid"           -> "fixed $50k grid, <= 11 buckets",
      "agg_gini_concentration"  -> "per-source grid over the bounded source enum",
      "agg_ks_test"             -> "2-dp RAW-value grid: saturates with the value domain, not the corpus",
      "agg_mann_whitney"        -> "2-dp RAW-value grid (same domain-saturation argument)",
      "agg_kruskal_wallis"      -> "2-dp RAW-value grid (mann_whitney's machinery, k groups)",
      "agg_lorenz_curve"        -> "10-row decile spine (the cents-of-sums grid is PrefixSum'd)",
      "agg_runs_test"           -> "calendar hour spine (grows with time span, not rows)",
      "agg_sprt_sequential"     -> "calendar day spine (the cumulative LLR walks 30 daily rows)",
      "agg_spearman_corr"       -> "quantity (<=50) and discount (11) grids",
      "topk_skyline_pareto"     -> "price-band spine: price domain div 1000",
      "ts_discrete_hazard"      -> "inter-purchase week bucket capped at k=12",
      "ts_peak_concurrency"     -> "calendar minute spine (sweep line over per-minute counts)",
      "ts_seasonal_additive"    -> "calendar hour spine",
      "ts_survival_km"          -> "shipping-latency week spine (latency domain, ~18 weeks)",
      "window_cusum_changepoint" -> "calendar hour spine",
      "agg_wilcoxon_signed_rank" -> "|daily-diff| grid over the 30-day calendar spine (<=30 rows)",
      "ts_pettitt_test"          -> "calendar day spine (U_t cumulates 30 daily sign sums)",
      "sample_stratified_neyman" -> "5-row stratum enum (largest-remainder ranking)",
      "ts_max_drawdown"          -> "calendar day spine (cumulative revenue curve)",
      "ts_stochastic_osc"        -> "calendar day spine (14-day rolling frame)")
    // (agg_lorenz_curve stays listed for its 10-row DECILE spine only —
    // its unbounded cents-of-sums grid is PrefixSum'd and re-checked
    // below with the other fixed keys.)
    val fixedKeys = Seq("agg_abc_classification", "agg_rfm_segmentation",
                        "text_vocab_growth")
    assert(fixedKeys.forall(k => !allowed.contains(k)),
      "the PrefixSum-fixed keys must not creep back into the allowlist")
    val bad = SparkEntry.queries.toSeq.flatMap { case (name, fn) =>
      if (allowed.contains(name)) None
      else {
        val o = offenders(fn(spark, sf))
        if (o.nonEmpty) Some(s"$name (${o.size} unbounded single-task window(s))")
        else None
      }
    }
    assert(bad.isEmpty,
      s"undeclared empty-partition windows — single-task funnels at 100x — in:\n  ${bad.mkString("\n  ")}")
    // Deliberate regression: the OLD agg_abc_classification shape (an
    // unpartitioned cumulative window straight over the per-part
    // aggregate) MUST trip this gate — proves the detector sees the exact
    // plan the verdict flagged, so the fix can't silently rot.
    val rev = Tables(spark, sf, "lineitem")
      .groupBy("l_partkey")
      .agg(sum(round(col("l_extendedprice") * 100).cast("bigint")).as("cents"))
    val regressed = rev.withColumn("cum",
      sum(col("cents")).over(
        org.apache.spark.sql.expressions.Window
          .orderBy(col("cents").desc, col("l_partkey"))
          .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
                       org.apache.spark.sql.expressions.Window.currentRow)))
    assert(offenders(regressed).nonEmpty,
      "gate failed to flag the single-task cumulative-window shape it exists for")
    // And the fixed keys themselves must plan clean (not just be absent
    // from the allowlist).
    Seq("agg_abc_classification", "agg_rfm_segmentation",
        "text_vocab_growth").foreach { name =>
      val o = offenders(SparkEntry.queries(name)(spark, sf))
      assert(o.isEmpty, s"$name regressed to a single-task window: $o")
    }
    // agg_lorenz_curve keeps EXACTLY its 10-row decile window; its
    // cents-of-sums grid window must stay gone.
    val lorenz = offenders(SparkEntry.queries("agg_lorenz_curve")(spark, sf))
    assert(lorenz.forall(_.orderSpec.forall(
             _.references.map(_.name).forall(_ == "decile"))),
      s"agg_lorenz_curve regressed beyond the decile spine: $lorenz")
  }

  // Round-10 (ScaleProbe finding): the pair-verify joins used to
  // broadcast their candidate-pair tables — which grow with bucket
  // density / corpus size, OOMing at just 10× sf0.1 (sim_ann_lsh measured
  // it). Every input of these keys scales with the corpus, so their plans
  // must contain NO BroadcastExchange at all: candidate and vector/
  // shingle joins are pinned shuffle_hash, bounding each task's build
  // side by its partition. A broadcast reappearing here is the
  // billion-row OOM seed, whatever the local size estimate says.
  test("pair-pipeline verify joins never broadcast (corpus-growing sides)") {
    val keys = Seq("sim_ann_lsh", "dedup_embedding_cosine",
                   "dedup_near_minhash", "dedup_near_incremental",
                   "dedup_edit_candidates", "join_nearest_geo")
    val offenders = keys.flatMap { name =>
      val plan = SparkEntry.queries(name)(spark, sf)
        .queryExecution.executedPlan.toString
      if (plan.contains("BroadcastExchange")) Some(name) else None
    }
    assert(offenders.isEmpty,
      s"corpus-growing side broadcast in: $offenders")
  }

  // Round-8: the exact-k hash sample must plan as TakeOrderedAndProject —
  // per-partition bounded heaps merged on the driver (k·partitions rows)
  // — never a global Sort exchange, which materializes the full corpus
  // ordering for 100 rows of output.
  test("sample_hash_exactk plans bounded top-k, not a global sort") {
    val plan = SparkEntry.queries("sample_hash_exactk")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"expected TakeOrderedAndProject in:\n$plan")
    assert(!plan.contains("Exchange rangepartitioning"),
      s"global sort exchange for a LIMIT-k query:\n$plan")
  }

  // Round-8: the domain blocklist is KB–MB at any scale — the anti join
  // must broadcast IT (never shuffle the corpus against it), and the
  // batch k-NN join must broadcast the bounded query set while ranking
  // through the native bounded-heap operator at both stages.
  test("blocklist anti-join broadcasts the blocklist; knn join stays bounded-heap") {
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    val block = SparkEntry.queries("filter_domain_blocklist")(spark, sf)
      .queryExecution.sparkPlan
    val bhj = block.collect { case j: BroadcastHashJoinExec => j }
    assert(bhj.nonEmpty, s"blocklist anti join is not broadcast:\n$block")
    val knn = SparkEntry.queries("sim_knn_join")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(knn.split("TopKPerKey").length == 3,
      s"expected two TopKPerKey stages (shard partial + final) in:\n$knn")
    assert(knn.contains("BroadcastNestedLoopJoin"),
      s"query-set scoring pass lost its broadcast:\n$knn")
  }

  // Round-8: the semantic-cluster within-cell self-join must be a pinned
  // shuffled hash join — the assignment table is corpus-sized on BOTH
  // sides, so a planner-chosen broadcast is the standard OOM anti-pattern.
  test("semantic-cluster self-join shuffles, never broadcasts the corpus") {
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, ShuffledHashJoinExec}
    val plan = SparkEntry.queries("dedup_semantic_cluster")(spark, sf)
      .queryExecution.sparkPlan
    assert(plan.collect { case j: ShuffledHashJoinExec => j }.nonEmpty,
      s"within-cell pair join lost its pinned shuffle_hash:\n$plan")
    assert(plan.collect { case j: BroadcastHashJoinExec => j }.isEmpty,
      s"corpus-sized assignment table broadcast:\n$plan")
  }

  // Round-8b: the co-located bucketed join's entire point is that BOTH
  // sides read pre-bucketed on the join key — the SortMergeJoin subtree
  // must contain zero shuffle exchanges (the groupBy above it may keep
  // its one aggregate exchange).
  test("bucketed co-located join has no exchange inside the join") {
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.joins.SortMergeJoinExec
    val plan = SparkEntry.queries("join_bucketed_colocated")(spark, sf)
      .queryExecution.sparkPlan
    val smj = plan.collect { case j: SortMergeJoinExec => j }
    assert(smj.nonEmpty, s"bucketed join did not plan as SortMergeJoin:\n$plan")
    val shuffles = smj.head.collect { case e: ShuffleExchangeExec => e }
    assert(shuffles.isEmpty,
      s"bucketed co-located join still shuffles a side:\n${smj.head}")
  }

  // Round-8b: the day-partitioned fact scan must carry a dynamicpruning
  // partition filter — without it the join reads every partition and
  // filters post-scan, which at 100 TB is reading 7× the data.
  test("partition-pruned join injects a dynamic pruning filter") {
    val plan = SparkEntry.queries("join_partition_pruned")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("dynamicpruning"),
      s"no dynamic partition pruning in fact scan:\n$plan")
  }

  // Round-9: the k-means iteration must join the exploded corpus against
  // BROADCAST centroid state (k×64 rows) — a shuffled join on the 64-value
  // dim-index key would hash the whole corpus into 64 hot partitions.
  // The operator's checkpoints hide iteration internals from its final
  // plan, so gate the dedicated un-checkpointed single-stage probe: the
  // distance join against k×64-row centroid state must BROADCAST (a
  // shuffled join on the 64-value dim-index key would hash the whole
  // corpus into 64 hot partitions).
  test("k-means joins corpus against broadcast centroid state") {
    import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, ShuffledHashJoinExec, SortMergeJoinExec}
    val plan = operators.Similarity.kmeansStageForPlan(spark, sf)
      .queryExecution.sparkPlan
    assert(plan.collect { case j: BroadcastHashJoinExec => j }.size >= 2,
      s"expected broadcast joins for seed-state and distance stages:\n$plan")
    // Only the DIM-INDEX (i) join must never shuffle — 64 distinct keys
    // would hash the whole corpus into 64 hot partitions. The re-derive
    // join on vec_id is the step's one legitimate shuffle at scale (it
    // only broadcasts here because the small fixture fits), so a blanket
    // no-SMJ assertion would be fixture-size-dependent.
    val shuffledOnDimIndex = plan.collect {
      case j: SortMergeJoinExec
        if j.leftKeys.exists(_.references.exists(_.name == "i")) => j
      case j: ShuffledHashJoinExec
        if j.leftKeys.exists(_.references.exists(_.name == "i")) => j
    }
    assert(shuffledOnDimIndex.isEmpty,
      s"the centroid-state join shuffles on the dim index:\n$plan")
  }

  // Round-9: the Bloom prefilter must be applied to the fact scan BEFORE
  // the join (that pre-shuffle row reduction is the operator's entire
  // reason to exist), and the dim side must broadcast.
  test("bloom prefilter runs in the fact scan stage, before the join") {
    import org.apache.spark.sql.execution.FilterExec
    import org.apache.spark.sql.execution.joins.BroadcastHashJoinExec
    val plan = SparkEntry.queries("join_bloom_prefilter")(spark, sf)
      .queryExecution.sparkPlan
    val bhj = plan.collect { case j: BroadcastHashJoinExec => j }
    assert(bhj.nonEmpty, s"dim side did not broadcast:\n$plan")
    // the UDF filter must sit under the join's streamed (fact) side
    val udfFiltersUnderJoin = bhj.head.collect {
      case f: FilterExec if f.condition.toString.contains("UDF") => f
    }
    assert(udfFiltersUnderJoin.nonEmpty,
      s"bloom mightContain filter is not below the join:\n$plan")
  }

  // Round-9: the point-in-time join must plan with the user_id equi key
  // (hash/merge), with the interval containment as a residual condition —
  // never a nested-loop over fact×dim.
  test("point-in-time SCD2 join keeps its equi key") {
    val plan = SparkEntry.queries("join_pit_scd2")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoop") && !plan.contains("CartesianProduct"),
      s"PIT join lost its equi key:\n$plan")
  }

  test("salting spreads a skewed join key across subkeys") {
    val sp = spark; import sp.implicits._
    // 10k rows all sharing one key — the pathological skew case. Salt the
    // fact side into 8 subkeys and replicate the dim side per salt: the
    // join distributes over 8 partitions instead of 1 hot one.
    val skewed = sp.range(10000).select(lit(42L).as("k"), col("id").as("v"))
    val dim = Seq((42L, "only")).toDF("k", "name")
    val salted = skewed.withColumn("salt", (col("v") % 8).cast("int"))
    val dimSalted = dim.crossJoin(sp.range(8).select(col("id").cast("int").as("salt")))
    val joined = salted.join(dimSalted, Seq("k", "salt"))
    assert(joined.count() == 10000)
    val perSalt = joined.groupBy("salt").count().collect().map(_.getLong(1))
    assert(perSalt.length == 8 && perSalt.forall(c => c > 1000 && c < 1500))
  }
}
