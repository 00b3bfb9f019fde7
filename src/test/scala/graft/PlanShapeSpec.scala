package graft

import graft.operators.RankPrefix
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.ExplainMode
import org.apache.spark.sql.functions.{concat, lit, when}
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan shape assertions: the properties the 100 TB design
  * depends on (column pruning into the parquet scan, predicate
  * pushdown, broadcast joins on dimension/model sides, no cartesian
  * products) — checked on the real optimized plans so a regression in
  * query formulation fails fast, not at the next scale-up.
  */
class PlanShapeSpec extends AnyFunSuite with SparkFixture {

  /** Fresh session per spec run: QueryCache memoizes per session, and
    * a cached intermediate shows up as InMemoryTableScan — which would
    * make these assertions depend on which suites ran first.
    */
  private lazy val planSession = spark.newSession()

  private def plan(df: DataFrame): String =
    df.queryExecution.explainString(ExplainMode.fromString("formatted"))

  /** A windowspecdefinition whose FIRST argument is already a sort
    * order has an empty PARTITION BY — the textual signature of a
    * global single-task sort in formatted explain output. */
  private val GlobalWindowRe = """windowspecdefinition\([^(),]*#\d+L? (ASC|DESC)""".r

  test("revenue_by_nation: lineitem scan is column-pruned and dims broadcast") {
    val p = plan(operators.Relational.revenueByNation(planSession, sfTest))
    assert(p.contains("BroadcastHashJoin"), "dimension joins must broadcast")
    assert(!p.contains("l_comment") && !p.contains("l_shipinstruct"),
      "unused wide lineitem columns must not reach the scan")
    assert(!p.contains("CartesianProduct"))
  }

  test("pricing_summary: shipdate predicate reaches the parquet scan") {
    val p = plan(operators.Relational.pricingSummary(planSession, sfTest))
    assert(p.contains("PushedFilters") && p.contains("l_shipdate"),
      s"expected pushed shipdate filter, plan:\n${p.take(2000)}")
  }

  test("itemcf_recommend: similarity model joins by broadcast, no sort-merge on the fact side") {
    val p = plan(operators.Recsys.itemcfRecommend(planSession, sfTest))
    assert(p.contains("BroadcastHashJoin"), "K*|items| sim table must broadcast")
  }

  test("scalar subquery is decorrelated into an aggregate+join (no per-row subquery)") {
    val p = plan(operators.Relational.ordersAboveCustAvg(planSession, sfTest))
    // after RewriteCorrelatedScalarSubquery no Subquery node survives in
    // the physical tree — the correlation becomes an aggregate + join
    assert(p.contains("HashAggregate") || p.contains("SortAggregate"))
    assert(!p.toLowerCase.contains("cartesianproduct"))
  }

  test("pii_scrub: customer scan is column-pruned to the four used columns") {
    val p = plan(operators.TextAnalysis.piiScrub(planSession, sfTest))
    assert(p.contains("c_mktsegment") && !p.contains("c_acctbal"),
      "unused customer columns must not reach the scan")
    assert("""\(\d+\) Scan parquet""".r.findAllIn(p).length == 1, "exactly one customer scan")
  }

  test("pair_pmi: item-count sides broadcast into the pair half-space") {
    val p = plan(operators.GraphRank.pairPmi(planSession, sfTest))
    assert(p.contains("BroadcastHashJoin"), "count joins on <=|items| rows must broadcast")
    assert(!p.contains("CartesianProduct"),
      "the 1-row user-count must attach via broadcast nested loop, not cartesian")
  }

  test("bigram_lm: the bigram model joins back by broadcast") {
    val p = plan(operators.TextAnalysis.bigramLm(planSession, sfTest))
    assert(p.contains("BroadcastHashJoin"), "bounded-vocab model must broadcast")
  }

  test("stratified_sample: window shuffles only on the stratum key, single scan") {
    val p = plan(operators.PipelineOps.stratifiedSample(planSession, sfTest))
    assert(p.contains("l_returnflag"), "stratum key must drive the exchange")
    assert("""\(\d+\) Scan parquet""".r.findAllIn(p).length == 1, "exactly one lineitem scan")
  }

  test("hash_sample: deterministic filter is applied before aggregation (single scan)") {
    val p = plan(operators.PipelineOps.hashSample(planSession, sfTest))
    assert(p.contains("Filter") && p.contains("md5"),
      "hash predicate must filter the scan output before the aggregate")
    // formatted mode shows each operator in the tree AND a numbered
    // detail header — count the headers
    assert("""\(\d+\) Scan parquet""".r.findAllIn(p).length == 1, "exactly one lineitem scan")
  }

  test("interactions: one exchange serves both the sum and the history cap") {
    val capped = Tables.interactions(planSession, sfTest)
      .groupBy("user_id")
      .agg(graft.functions.TopKByScore.topK(
        operators.Recsys.MaxHistory,
        org.apache.spark.sql.functions.col("strength"),
        org.apache.spark.sql.functions.col("item_id"),
        org.apache.spark.sql.functions.lit(0L)).as("hs"))
    val p = plan(capped)
    // the explicit repartition on user_id is the ONLY exchange: both the
    // (user,item) sum and the per-user cap reuse HashPartitioning(user)
    assert("""\(\d+\) Exchange""".r.findAllIn(p).length == 1,
      s"expected exactly one exchange, plan:\n${p.take(3000)}")
  }

  test("top-K aggregates stay hash-based (no sort-based fallback plan)") {
    val p = plan(operators.Recsys.slopeOne(planSession, sfTest))
    assert(p.contains("ObjectHashAggregate"),
      "TypedImperativeAggregate must plan as ObjectHashAggregate")
    val thr = planSession.conf.get("spark.sql.objectHashAggregate.sortBased.fallbackThreshold").toInt
    assert(thr >= (1 << 20),
      "fallback threshold must be raised or 128 distinct keys trigger a full sort per task")
  }

  test("test sessions plan under every GraftSession setting (root and newSession)") {
    // every pin in this suite holds only for the conf Bench and Verify run
    for ((name, s) <- Seq("SparkFixture.session" -> SparkFixture.session, "newSession" -> planSession);
         (k, v) <- GraftSession.settings(SparkFixture.Cpus))
      assert(s.conf.getOption(k).contains(v), s"$name: $k is ${s.conf.getOption(k)}, GraftSession sets $v")
  }

  test("contamination: no per-token regex re-evaluation in scan-level filters") {
    val p = plan(operators.TextAnalysis.contamination(planSession, sfTest))
    // the O(len^2) round-3 bug: pushdown inlined the trigram HOF into a
    // Filter where EACH TOKEN ACCESS re-ran split(regexp_replace(...)) —
    // i.e. the regex sat inside a lambda body. A few whole-expression
    // evals per conjunct are fine (O(len) each); regex inside a
    // lambdafunction is the quadratic signature and must never return.
    assert(!"""lambdafunction\([^)]*regexp_replace""".r.findFirstIn(p).isDefined,
      "regexp_replace re-evaluated per array element inside a lambda")
  }

  test("dedup_bloom: bitset rides a broadcast; corpus key join is an unforced equi-join") {
    val p = plan(operators.Dedup.bloomDedup(planSession, sfTest))
    assert(p.contains("BroadcastNestedLoopJoin"),
      "the 1-row bloom bitset must attach via broadcast nested loop")
    assert(!p.contains("CartesianProduct"))
    // the corpus KEY SET is the TBs-at-100TB side: it must reach the
    // probe as a keyed join (hash/sort-merge/broadcast — AQE's call),
    // never a forced broadcast is asserted here by construction (no
    // hint in the source) plus the absence of all-pairs shapes above
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin")
        || p.contains("BroadcastHashJoin"),
      "corpus key join must be an equi-join")
  }

  test("kmeans: centroid tables broadcast into the assignment join") {
    val pl = plan(operators.Training.kmeansEmbed(planSession, sfTest))
    assert(pl.contains("BroadcastHashJoin"), "K*dims centroids must broadcast")
    assert(!pl.contains("CartesianProduct"))
  }

  test("negative_sample: memoized item index planned once, broadcast idx join, anti-join") {
    val df = operators.Training.negativeSample(planSession, sfTest)
    val pl = plan(df)
    // r8: the dense item index rides denseIndexOf's two-level prefix —
    // the catalog-wide row_number global window is retired
    assert(GlobalWindowRe.findFirstIn(pl).isEmpty,
      "item index must not run a catalog-wide global window")
    assert(pl.contains("LeftAnti"), "positives must be excluded via anti join")
    assert(!pl.contains("CartesianProduct"))
    // r9: the three-shuffle denseIndexOf chain is memoized per
    // (session, sfDir) and must be planned exactly ONCE — i.e. live
    // entirely inside the InMemoryRelation, never inline in the outer
    // plan (the r8 regression inlined it once per consumer). Checked
    // structurally on the optimized plan: cache substitution leaves
    // the cached subtree behind a leaf, so any window partitioned by
    // RankPrefix's cell column REACHABLE here means the memo was bypassed. (A textual
    // count over formatted explain is NOT stable for this: whether
    // the cached subtree's nodes print depends on which session
    // first materialized the shared CacheManager entry.)
    assert(pl.contains("InMemoryTableScan"),
      "idx join must read the memoized catalog index")
    val inlineCoarseWindows = df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window
          if w.partitionSpec.exists(_.toString.contains(RankPrefix.CellCol)) => w
    }.size
    assert(inlineCoarseWindows === 0,
      "the index chain must be planned once inside the cache, not once per consumer")
    // r9: the idx join is unhinted (a billions-row catalog must not be
    // forced into a broadcast at 100 TB) but the persisted index gives
    // AQE exact stats, so at dimension scale the executed adaptive
    // plan must have converted it to a broadcast
    assert(df.collect().nonEmpty)
    val exec = df.queryExecution.executedPlan.toString
    assert(exec.contains("BroadcastHashJoin"),
      "AQE must broadcast the dimension-scale memoized index into the idx join")
  }

  test("negative_sample_pop: memoized mass index, cell equi-join, anti-join, no global window") {
    val df = operators.Training.negativeSamplePop(planSession, sfTest)
    val pl = plan(df)
    // the cumulative-mass index is RankPrefix.before weighted by mass — no
    // catalog-wide global window anywhere in the sampler
    assert(GlobalWindowRe.findFirstIn(pl).isEmpty,
      "the weighted sampler must not plan an unpartitioned window")
    assert(pl.contains("InMemoryTableScan"),
      "the draw join must read the memoized popularity-mass index")
    assert(pl.contains("LeftAnti"), "positives must be excluded via anti join")
    assert(!pl.contains("CartesianProduct"))
    // the inverse-CDF range join must be the bucketed cell EQUI-join,
    // never a theta-only join of draws against the catalog-sized
    // interval table: the equi key 'cell' appears in a join condition
    assert(pl.contains("cell"), "draw->interval join must key on the mass cell")
  }

  test("rec_coverage: Gini rides the coarse prefix, no catalog-wide rank window") {
    val pl = plan(operators.Recsys.recCoverage(planSession, sfTest))
    assert(GlobalWindowRe.findFirstIn(pl).isEmpty,
      "exposure Gini must not run a catalog-wide global window")
    assert(!pl.contains("CartesianProduct"))
  }

  test("c4_filter: documents scan pruned to the used columns") {
    val pl = plan(operators.TextAnalysis.c4Filter(planSession, sfTest))
    assert(!pl.contains("n_chars") && !pl.contains("lang"),
      "unused documents columns must not reach the scan")
  }

  test("trending: anchor date rides a broadcast, single fact aggregate") {
    val pl = plan(operators.Recsys.trendingItems(planSession, sfTest))
    assert(pl.contains("BroadcastNestedLoopJoin") || pl.contains("BroadcastHashJoin"),
      "1-row anchor must broadcast")
    assert(pl.contains("TakeOrderedAndProject"),
      "global top-N must plan as TakeOrderedAndProject, not a full sort")
  }

  test("lsh_hyperplane: sign table broadcasts; candidate join is not all-pairs") {
    val pl = plan(operators.Similarity.lshHyperplane(planSession, sfTest))
    assert(pl.contains("BroadcastHashJoin"), "planes x dims sign table must broadcast")
    assert(!pl.contains("CartesianProduct"))
  }

  test("dead_stock: sold-keys side anti-joins without cartesian, part scan pruned") {
    val pl = plan(operators.Relational.deadStock(planSession, sfTest))
    assert(pl.contains("LeftAnti"), "never-sold detection must be an anti join")
    assert(!pl.contains("CartesianProduct"))
    assert(!pl.contains("p_type") && !pl.contains("p_size"),
      "unused part columns must not reach the scan")
  }

  test("late_shipments: existence predicate plans as left semi, date residual inside") {
    val pl = plan(operators.Relational.lateShipments(planSession, sfTest))
    assert(pl.contains("LeftSemi"), "EXISTS must plan as a semi join")
    assert(!pl.contains("CartesianProduct"))
  }

  test("reorder_rate: global top-N plans as TakeOrderedAndProject") {
    val pl = plan(operators.Relational.reorderRate(planSession, sfTest))
    assert(pl.contains("TakeOrderedAndProject"),
      "orderBy+limit must not plan a full global sort")
  }

  test("dedup_simhash: candidates come from a chunk equi-join, not an all-pairs scan") {
    val pl = plan(operators.Dedup.simhashPairs(planSession, sfTest))
    assert(!pl.contains("BroadcastNestedLoopJoin") && !pl.contains("CartesianProduct"),
      "signature pairing must never plan an all-pairs join")
    assert(pl.contains("comb_idx"), "pigeonhole combination key must drive the join")
  }

  test("dedup_simhash k=5: combination-key banding still plans as an equi-join") {
    val sigs = operators.Dedup.simhashSigs(planSession, sfTest)
    val pl = plan(operators.Dedup.simhashPairsFromSigs(sigs, 5))
    assert(!pl.contains("BroadcastNestedLoopJoin") && !pl.contains("CartesianProduct"),
      "k-chunk combination keys must join hash/sort-merge, never all-pairs")
    assert(pl.contains("comb_idx"), "pigeonhole combination key must drive the join")
  }

  test("brand_affinity: part dim broadcasts into the pair rollup") {
    val pl = plan(operators.Recsys.brandAffinity(planSession, sfTest))
    assert(pl.contains("BroadcastHashJoin"), "brand dim must broadcast")
    assert(!pl.contains("CartesianProduct"))
  }

  test("importance_sample: vocab LM joins back by broadcast, single documents scan") {
    val pl = plan(operators.TextAnalysis.importanceSample(planSession, sfTest))
    assert(pl.contains("BroadcastHashJoin"), "|vocab|-row LM must broadcast")
    assert(!pl.contains("CartesianProduct"))
  }

  test("lsh_recall: audit joins are equi-joins, never all-pairs") {
    val pl = plan(operators.Dedup.lshRecall(planSession, sfTest))
    assert(!pl.contains("BroadcastNestedLoopJoin") && !pl.contains("CartesianProduct"),
      "truth x candidates must join on the pair key, not scan all pairs")
  }

  test("pagerank rank join: broadcast below the node ceiling, shuffled equi-join above") {
    // the per-round ranks-into-edges join, on both sides of
    // GraphRank.BroadcastNodeCeiling; auto-broadcast is disabled so the
    // plan shows the operator's OWN choice, not Catalyst's stats-based one
    val s = spark.newSession()
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    import s.implicits._
    val ew = Seq((1L, 2L, 3L, 5L), (2L, 1L, 2L, 4L)).toDF("src", "dst", "w", "ow")
    val rankSrc = Seq((1L, 100L), (2L, 200L)).toDF("src", "rank")
    val below = plan(operators.GraphRank.rankContribJoin(ew, rankSrc, fitsBroadcast = true))
    assert(below.contains("BroadcastHashJoin"),
      "catalog-sized rank vector must broadcast into the edge join")
    val above = plan(operators.GraphRank.rankContribJoin(ew, rankSrc, fitsBroadcast = false))
    assert(!above.contains("BroadcastExchange"),
      s"above the ceiling the rank join must not broadcast, plan:\n${above.take(2000)}")
    assert(above.contains("SortMergeJoin") || above.contains("ShuffledHashJoin"),
      "above the ceiling ranks⋈edges must be a shuffled equi-join")
  }

  test("simrank: no cartesian products; truncation stays a hash-based bounded aggregate") {
    val pl = plan(operators.GraphRank.simrank(planSession, sfTest))
    assert(!pl.contains("CartesianProduct") && !pl.contains("BroadcastNestedLoopJoin"),
      "every simrank stage must join on a key")
    assert(pl.contains("ObjectHashAggregate"),
      "neighborhood truncation must plan as the bounded TypedImperativeAggregate")
  }

  test("embed_health: posexplode aggregate is partial (map-side combine before the shuffle)") {
    val pl = plan(operators.PipelineOps.embedHealth(planSession, sfTest))
    // two HashAggregate headers (partial + final) around one exchange:
    // network volume is dims x tasks, not dims x rows
    assert("""\(\d+\) HashAggregate""".r.findAllIn(pl).length >= 2,
      s"expected partial+final aggregates, plan:\n${pl.take(3000)}")
  }

  test("doc_chunks: generate-only plan — no hash shuffle anywhere") {
    val pl = plan(operators.PipelineOps.docChunks(planSession, sfTest))
    // split + sequence/explode + slice pipeline inside the scan stage;
    // the only exchange allowed is the presentation sort's range partition
    assert(!pl.contains("Exchange hashpartitioning"),
      s"chunking must not shuffle:\n${pl.take(2000)}")
    assert(pl.contains("Generate"), "chunk fan-out must be a Generate node")
  }

  test("stream_join batch form: interval condition rides the user equi-join, no BNLJ") {
    val pl = plan(streaming.Streams.streamJoinQuery(planSession, sfTest))
    assert(!pl.contains("BroadcastNestedLoopJoin") && !pl.contains("CartesianProduct"),
      s"range residual must not degrade the join:\n${pl.take(2000)}")
  }

  test("attribution: touch join is an equi-join on user with the window as residual") {
    val pl = plan(operators.Analytics.multiTouchAttribution(planSession, sfTest))
    assert(!pl.contains("BroadcastNestedLoopJoin") && !pl.contains("CartesianProduct"),
      s"attribution join degraded:\n${pl.take(2000)}")
  }

  test("merge_upsert: reconciliation is a single full-outer equi-join") {
    val pl = plan(operators.PipelineOps.mergeUpsert(planSession, sfTest))
    assert(pl.contains("FullOuter"), s"expected full-outer merge join:\n${pl.take(2000)}")
    assert(!pl.contains("CartesianProduct"))
  }

  test("cms_counts: probe join rides a broadcast of the bounded cell table") {
    val pl = plan(operators.Advanced.cmSketch(planSession, sfTest))
    assert(pl.contains("BroadcastExchange"),
      s"1024-cell sketch must broadcast into the probes:\n${pl.take(2000)}")
  }

  test("AQE splits a skewed join partition at runtime (the 100 TB hot-key path)") {
    // SCALING.md's skew story is two-layered: salting where we control
    // the query (q_salted_agg), AQE skew-join for everything else. This
    // pins layer two actually FIRING: a hot key that dwarfs its
    // siblings is split into multiple tasks by OptimizeSkewedJoin, so
    // one straggler task can't hold a 1000-executor stage hostage.
    val s = spark.newSession()
    import s.implicits._
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    s.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    // shrink the thresholds so the fixture-scale hot key qualifies
    s.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
    s.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "16384")
    s.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16384")
    s.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    // 100k rows, half of them on one hot key; dim side uniform
    val fact = s.range(100000)
      .select(when($"id" % 2 === 0, lit(7L)).otherwise($"id" % 97).as("k"),
              concat(lit("payload-payload-payload-"), $"id").as("v"))
    val dim = s.range(97).select($"id".as("k"), concat(lit("d"), $"id").as("w"))
    val joined = fact.join(dim, "k")
    // execute THIS queryExecution (count() would spawn its own, whose
    // adaptive plan is the one that finalizes) then read the final plan
    assert(joined.collect().length === 100000)
    val pl = joined.queryExecution.executedPlan.toString
    assert(pl.contains("isSkew=true") || pl.contains("skewed"),
      s"AQE skew-join did not fire:\n${pl.take(2000)}")
  }

  test("runtime bloom filter: selective dim predicate injects a bloom prefilter into the fact scan") {
    // Third layer of the big-join story: when a dimension carries a
    // selective predicate, Catalyst's InjectRuntimeFilter builds a
    // bloom filter from the dim side and applies it to the fact side
    // BEFORE the shuffle — at 100 TB this is the difference between
    // shuffling the whole fact table and shuffling the ~1% that can
    // possibly join. Production thresholds need a 10 GB application
    // side; shrink them so the fixture-scale join qualifies, then pin
    // that the optimized fact side carries bloom_filter_might_contain.
    val s = spark.newSession()
    import s.implicits._
    s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    s.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    s.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "true")
    s.conf.set("spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold", "0")
    s.conf.set("spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold", "100MB")
    val fact = s.range(200000).select(($"id" % 4096).as("k"), $"id".as("v"))
    val dim = s.range(4096).select($"id".as("k"), concat(lit("d"), $"id").as("w"))
      .where($"k" % 128 === 0) // selective: 32 of 4096 keys survive
    val joined = fact.join(dim, "k")
    val optimized = joined.queryExecution.optimizedPlan.toString
    assert(optimized.toLowerCase.contains("bloom_filter_agg") ||
           optimized.toLowerCase.contains("might_contain"),
      s"runtime bloom filter was not injected:\n${optimized.take(2000)}")
    // and it must not change results: bloom is a prefilter, the join
    // keeps exactly the fact rows whose key survives the dim predicate
    assert(joined.count() === fact.where($"k" % 128 === 0).count())
  }

  test("pareto_front: two-phase skyline never plans a quadratic join") {
    val p = plan(operators.Stats.paretoFront(planSession, sfTest))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoop"),
      "the NOT-EXISTS dominance form must exist only in the oracle")
    assert(p.contains("Window"), "skyline phases are window passes")
  }

  test("sliding_dau: contribution-day explode plans no range join at all") {
    val p = plan(operators.Stats.slidingDau(planSession, sfTest))
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      s"no shuffled join expected — the rewrite is explode + groupBy, plan:\n${p.take(1500)}")
    assert(p.contains("Generate"), "the explode IS the operator")
  }

  test("assoc_rules: item-count attaches ride broadcast; basket join is the only shuffle join") {
    val p = plan(operators.MlRecsys.assocRules(planSession, sfTest))
    assert(p.contains("BroadcastHashJoin"),
      "catalog-sized per-item counts must broadcast")
    assert(!p.contains("CartesianProduct"))
  }

  test("equidepth_hist: no unpartitioned window touches the full value set") {
    // every per-value window carries RankPrefix's cell partition key,
    // and the cell offsets are a broadcast triangle join, not a window
    val df = operators.Stats.equidepthHist(planSession, sfTest)
    val windows = df.queryExecution.optimizedPlan.collect {
      case w: org.apache.spark.sql.catalyst.plans.logical.Window => w
    }
    assert(windows.nonEmpty)
    val unpartitioned = windows.filter(_.partitionSpec.isEmpty)
    assert(unpartitioned.isEmpty,
      s"no window may be unpartitioned, saw ${unpartitioned.size}")
  }

  test("kendall_tau: quadratic pair space is a broadcast over the bounded head, never a shuffle") {
    val p = plan(operators.Stats.kendallTau(planSession, sfTest))
    // the a.id < b.id theta join must plan as BNLJ over a BROADCAST of
    // the 100-row head — a shuffled cartesian would be the catalog²
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"pair join must broadcast the bounded head:\n${p.take(1500)}")
    assert(!p.contains("CartesianProduct"), "no shuffled cartesian")
    assert(p.contains("TakeOrderedAndProject"), "top-N head must not global-sort the catalog")
  }

  test("mmr_rerank: brand attach broadcasts; candidate head is TakeOrderedAndProject") {
    val p = plan(operators.Recsys.mmrRerank(planSession, sfTest))
    assert(p.contains("BroadcastHashJoin"), "brand dimension must broadcast")
    assert(p.contains("TakeOrderedAndProject"), "candidate pool must be a bounded head")
    assert(!p.contains("CartesianProduct"))
  }

  test("itemcf_explain: sim model and popularity attaches broadcast onto the rec head") {
    val p = plan(operators.Recsys.itemcfExplain(planSession, sfTest))
    assert(p.contains("BroadcastHashJoin"), "sim model must broadcast")
    assert(!p.contains("CartesianProduct"))
  }

  test("ks_test / psi_drift: drift audits plan no joins wider than a broadcast") {
    for (q <- Seq(operators.Stats.ksTest(planSession, sfTest),
                  operators.Stats.psiDrift(planSession, sfTest))) {
      val p = plan(q)
      assert(!p.contains("CartesianProduct"))
      assert(!p.contains("SortMergeJoin"),
        "breakpoint/bounds attaches must broadcast, not shuffle the corpus")
    }
  }

  test("concurrency_peak: the big running sum windows on day; carry-in broadcasts back") {
    val p = plan(operators.Analytics.concurrencyPeak(planSession, sfTest))
    assert(p.contains("windowspecdefinition(day#"),
      "the point-level running sum must be a day-partitioned window, not a global one")
    assert(p.contains("BroadcastHashJoin"),
      "the calendar-bounded carry-in table must broadcast onto the points")
    assert(!p.contains("CartesianProduct"))
  }

  test("pq_adc: codebooks and LUT ride broadcasts; the code scan never cross-joins") {
    val p = plan(operators.Training.pqAdc(planSession, sfTest))
    assert(p.contains("BroadcastHashJoin"),
      "the per-query lookup table must broadcast into the code scan")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "ADC must join codes to LUT entries on (sub, cluster), never all-pairs")
  }

  test("rwr_proximity: every stage joins on a key (no all-pairs anywhere)") {
    val p = plan(operators.GraphRank.rwrProximity(planSession, sfTest))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"))
  }

  test("sorted_neighborhood: one part scan, bounded window, zero joins") {
    val p = plan(operators.Dedup.sortedNeighborhood(planSession, sfTest))
    assert("""\(\d+\) Scan parquet""".r.findAllIn(p).length == 1, "exactly one part scan")
    assert(!p.contains("Join"), "the window sweep replaces every pair join")
  }

  test("trade_flows: one fact-fact shuffle, every dimension attach broadcasts") {
    val p = plan(operators.Stats.tradeFlows(planSession, sfTest))
    assert("""BroadcastHashJoin""".r.findAllIn(p).length >= 4,
      "customer, supplier, and both nation attaches must broadcast")
    assert(!p.contains("CartesianProduct"))
    // the only shuffled join allowed is lineitem ⋈ orders on the order key
    assert("""(SortMergeJoin|ShuffledHashJoin)""".r.findAllIn(p).length <= 1,
      "at most the fact-fact join may shuffle")
  }

  test("ngram_novelty: first-occurrence index attaches by shingle equi-join") {
    val p = plan(operators.Dedup.ngramNovelty(planSession, sfTest))
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      "novelty scoring must never compare documents pairwise")
  }

  test("embed_pc1: every corpus-side join broadcasts (no SMJ); kcenter emits a local frame") {
    // pc1's final scalar assembly legitimately nested-loop-joins four
    // 1-ROW frames, so the pin is the absence of shuffled joins:
    // nothing after the checkpointed covariance may sort-merge.
    val p = plan(operators.Training.embedPc1(planSession, sfTest))
    assert(!p.contains("SortMergeJoin") && !p.contains("ShuffledHashJoin"),
      "every corpus join in the pc1 iteration must broadcast")
    assert(p.contains("BroadcastHashJoin"))
    // r7: the covariance is join-free — dims² products are generated
    // map-side from each row's own centered array, so no join operator
    // may key on vec_id (the r6 corpus self-join shape). Pinned on the
    // covariance stage itself (embedPc1's checkpoint hides it).
    val cov = plan(operators.Training.pc1CovOf(
      Tables.embeddings(planSession, sfTest),
      operators.Training.quantizedOf(Tables.embeddings(planSession, sfTest))))
    assert(!"""(?i)join[^\n]*vec_id""".r.findFirstIn(cov).isDefined,
      "covariance must not self-join the exploded corpus on vec_id")
    assert(!cov.contains("SortMergeJoin") && !cov.contains("ShuffledHashJoin"),
      "nothing corpus-sized may shuffle into the covariance")
    assert(cov.contains("Generate") && cov.contains("posexplode"),
      "dims² covariance cells must come from map-side generators")
    // kcenter's K selected rows are assembled driver-side (the greedy
    // witness), so its FINAL plan must be a bare local scan — the
    // heavy per-round joins live behind the checkpointed dist state
    val k = plan(operators.Training.kcenterCoreset(planSession, sfTest))
    assert(k.contains("LocalTableScan") && !k.contains("Join"))
  }

  test("revenue_gini: rank prefix windows on the coarse bucket, offsets broadcast") {
    val p = plan(operators.Stats.revenueGini(planSession, sfTest))
    assert(p.contains(s"windowspecdefinition(${RankPrefix.CellCol}#"),
      "within-bucket prefix sums must be coarse-partitioned windows, not global")
    assert(p.contains("BroadcastHashJoin"),
      "the bucket offset table must broadcast back onto the value groups")
    assert(!p.contains("CartesianProduct"))
  }

  test("mann-whitney: rank prefix on coarse-partitioned windows, offsets broadcast") {
    // r6 watch item: the tie-group prefix ran as one global
    // Window.orderBy(v) — bounded by the value domain on the fixture,
    // but a single-task funnel the moment the domain is wide. Now
    // RankPrefix.before, like equidepth/gini.
    val p = plan(operators.Stats.mannWhitney(planSession, sfTest))
    assert(p.contains(s"windowspecdefinition(${RankPrefix.CellCol}#"),
      "within-bucket rank prefixes must be coarse-partitioned windows")
    assert(p.contains("BroadcastHashJoin"),
      "the coarse offset table must broadcast back onto the value groups")
    assert(!p.contains("CartesianProduct"))
  }

  test("rfm segments: quartile scoring has no single-partition exchange and no ntile window") {
    // r6 verdict's one confirmed scale-killer: three ntile(4) windows
    // with no PARTITION BY each funneled the whole customer dimension
    // through one task. The rewrite ranks via coarse-partitioned
    // prefix windows + broadcast offsets (quartileScore), so the plan
    // must never serialize the customer base.
    val p = plan(operators.Relational.rfmSegments(planSession, sfTest))
    // NOTE: formatted mode prints exchanges as "Exchange" + an
    // "Arguments: SinglePartition" detail line — the old substring
    // "Exchange SinglePartition" never matched, so the real detector
    // is the empty-PARTITION-BY window spec (a global sort's signature)
    assert(GlobalWindowRe.findFirstIn(p).isEmpty,
      "quartile scoring must not run any global (unpartitioned) window")
    assert(!p.contains("ntile"),
      "scores must come from the closed-form rank bucket, not a global ntile window")
    assert(p.contains(s"windowspecdefinition(${RankPrefix.CellCol}#") || p.contains("windowspecdefinition(__k#"),
      "prefix/tie windows must be partitioned")
  }

  test("quality curriculum: exact-rank buckets, no global ntile window") {
    // the last corpus-sized global ntile (after r6's rfm fix): bucket
    // assignment now rides quartileScore over RankPrefix.before
    val p = plan(operators.TextAnalysis.qualityCurriculum(planSession, sfTest))
    assert(GlobalWindowRe.findFirstIn(p).isEmpty,
      "curriculum bucketing must not run any global (unpartitioned) window")
    assert(!p.contains("ntile"))
    assert(p.contains(s"windowspecdefinition(${RankPrefix.CellCol}#") || p.contains("windowspecdefinition(__k#"),
      "prefix/tie windows must be partitioned")
  }

  test("seq_patterns_exact: pairs generated map-side, floor rides a broadcast 1-row agg") {
    val p = plan(operators.MlRecsys.seqPatternsExact(planSession, sfTest))
    assert(p.contains("Generate"),
      "ordered pairs must come from generators over each user's own span array")
    assert(!p.contains("CartesianProduct"))
    // the ordered-pair space must never be built by self-joining the
    // corpus-sized span table on user_id (the span/capped frames join
    // only inside the basket-pair semi-join, which is key-partitioned)
    assert(p.contains("BroadcastNestedLoopJoin Cross") || p.contains("BroadcastHashJoin"),
      "the support floor must ride a broadcast of the 1-row user count")
  }

  test("burst_detect / rake_keywords: model sides broadcast, single-scan aggregates") {
    for (df <- Seq(operators.Analytics.burstDetect(planSession, sfTest),
                   operators.TextAnalysis.rakeKeywords(planSession, sfTest))) {
      val p = plan(df)
      assert(p.contains("BroadcastHashJoin"), "baseline/word-score side must broadcast")
      assert(!p.contains("CartesianProduct"))
      assert(!p.contains("SortMergeJoin"),
        "nothing in these queries justifies shuffling both join sides")
    }
  }

  test("span_corruption: length gate reaches the parquet scan, text never read") {
    val p = plan(operators.Training.spanCorruption(planSession, sfTest))
    assert(p.contains("PushedFilters") && p.contains("n_chars"),
      "the n_chars >= 2*SpanLen gate must push to the scan")
    assert(!p.contains("text#"),
      "span planning needs only doc_id/source/n_chars — the text column must be pruned")
    assert(GlobalWindowRe.findFirstIn(p).isEmpty,
      "the interval-union windows must partition by doc_id, never globally")
  }

  test("mutual_knn: centroid side broadcasts; pair space rides the cell equi-join") {
    // the assignment stage (pre-checkpoint): NCells centroids broadcast
    val pa = plan(operators.Similarity.cellAssignFrom(
      Tables.embeddings(planSession, sfTest), operators.Similarity.NCells))
    assert(pa.contains("BroadcastExchange"),
      "the NCells centroid table must broadcast into the assignment")
    assert(!pa.contains("SortMergeJoin"),
      "the unkeyed centroid scoring must stream the corpus past a broadcast, not shuffle it")
    // the pair stage (post-checkpoint): keyed on cid, never all-pairs
    val pe = plan(operators.Similarity.mutualEdgesFrom(
      Tables.embeddings(planSession, sfTest), operators.Similarity.NCells,
      operators.Similarity.MknnK))
    assert(!pe.contains("CartesianProduct"),
      "within-cell pairing must never plan an unkeyed all-pairs join")
  }

  test("join_explosion: each candidate's hot key plans as TakeOrderedAndProject(1)") {
    val p = plan(operators.Advanced.joinExplosion(planSession, sfTest))
    assert(p.contains("TakeOrderedAndProject"),
      "per-candidate top-key must not plan a full sort")
    assert(GlobalWindowRe.findFirstIn(p).isEmpty,
      "no global window may rank corpus-sized key counts")
  }

}
