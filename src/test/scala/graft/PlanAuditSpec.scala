package graft

import org.scalatest.funsuite.AnyFunSuite

/** Whole-registry physical-plan audit (ScaleTest-tagged: plans every
  * query, which trains the eager MLlib models — minutes, not part of
  * the default suite; run with `set Test/testOptions := Seq()`).
  *
  * Detector: a `windowspecdefinition` whose first argument is already
  * a sort order has an empty PARTITION BY — the signature of a global
  * single-task sort. Every query carrying one must appear below with
  * the reason its global window input is BOUNDED (so the single task
  * sees K, calendar-, domain- or catalog-sized rows, never the
  * corpus). The r6/r7 fixes (rfm quartiles, quality curriculum,
  * mann-whitney prefix) came from exactly this sweep — the pin keeps
  * new corpus-sized global sorts from creeping in unnoticed.
  */
class PlanAuditSpec extends AnyFunSuite with SparkFixture {

  private val GlobalWindowRe = """windowspecdefinition\([^(),]*#\d+L? (ASC|DESC)""".r

  /** K-bounded final ranking heads: the optimizer pushes the bounded
    * head UNDER the global window (LimitPushDownThroughWindow →
    * TakeOrderedAndProject, or a WindowGroupLimit), so the single
    * task sorts ≤ top-N rows — and the audit below asserts that
    * mechanism is actually present in each of these plans, not just
    * claimed. */
  private val HeadRank = Set(
    "q_bpe_merges", // top-30 merge head: the rk window rides TakeOrderedAndProject(BpeTop), never the vocab table
    "q_bpe_vocab",  // top-30 symbol head over the (alphabet + R)-row inventory — same mechanism
    // (r11: q_bpe_apply/q_bpe_curve left this list — they now apply the
    // TRAINED merge table, whose per-round argmax heads are
    // checkpoint-severed TakeOrdered(1) passes, no window at all)
    // (r11: q_eval_ranking left too — its rec-list rank window now sits
    // inside the memoized checkpoint-severed eval split, 10 rows)
    "q_bm25_rank", "q_cem_uplift", "q_brand_affinity", "q_cooccur_jaccard",
    "q_fuzzy_names", "q_hybrid_rrf", "q_importance_sample", "q_kendall_tau",
    "q_link_predict", "q_local_clustering",
    "q_mmr_rerank", "q_ngram_novelty", "q_pair_pmi", "q_rake_keywords",
    "q_record_linkage", "q_rec_calibration", "q_reorder_rate", "q_dpo_pairs",
    "q_session_entropy", "q_session_paths",
    "q_seq_buy_pairs", "q_skew_profile", "q_trending_items", "q_triangle_count",
    "q_zipf_fit")

  /** Calendar/time-bounded series: rows are days/months/hours of the
    * observed span, bounded by the calendar however large the corpus. */
  private val CalendarSeries = Set(
    "q_burst_detect", "q_changepoint", "q_concurrency_peak", "q_mom_growth",
    "q_rolling_corr", "q_seasonal_decompose", "q_survival_km", "q_stream_late",
    "q_msprt")

  /** Graph-rank output heads: each of these ends in a top-K rank over
    * the node/pair score table and the optimizer provably pushes the
    * bounded head UNDER the global window (asserted below, same
    * mechanism as [[HeadRank]] — the r8 audit verified
    * TakeOrderedAndProject in every one of these plans, retiring the
    * old unasserted "catalog-sized tier" policy claim). The two former
    * members that were NOT heads are gone from this list because their
    * global windows are gone from the plans: q_negative_sample's item
    * index and q_rec_coverage's Gini rank both ride
    * [[graft.operators.RankPrefix.before]] now, whose cell offsets are
    * a broadcast triangle join — no rank, quantile or running sum
    * built on it carries a global window, so no coarse-prefix entry is
    * listed here. */
  private val GraphRankHeads = Set(
    "q_item_communities", "q_item_pagerank", "q_rwr_proximity", "q_salsa",
    "q_shortest_paths", "q_simrank",
    "q_hits", "q_kcore", "q_modularity", "q_katz", "q_closeness",
    "q_textrank_keywords") // rank head over the ≤TrVocab-node word-rank vector

  /** Model-/reference-/dimension-bounded tables: skyline survivors,
    * bootstrap's B replicate rows, the 25-nation rank demo, the
    * 10-decile gain/qini tables. (r9 departures: q_quantile_norm's
    * reference quantile function now rides length-domain-bounded
    * histogram rank intervals — mechanism, not policy; q_bpe_merges
    * moved to [[HeadRank]] because its rk window provably rides the
    * TakeOrderedAndProject(BpeTop) head, asserted below like every
    * other head.) */
  private val BoundedModel = Set(
    "q_pareto_front", "q_bootstrap_ci",
    "q_window_ranks", "q_gain_deciles", "q_qini")

  private val Allow =
    HeadRank ++ CalendarSeries ++ GraphRankHeads ++ BoundedModel

  test("every global (unpartitioned) window sits on a documented bounded input",
      ScaleTest) {
    val plans = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, q) =>
      name -> q(spark, sfTest).queryExecution.explainString(
        org.apache.spark.sql.execution.ExplainMode.fromString("formatted"))
    }.toMap
    val flagged = plans.collect {
      case (name, p) if GlobalWindowRe.findFirstIn(p).isDefined => name
    }.toSet
    val undocumented = flagged -- Allow
    assert(undocumented.isEmpty,
      s"queries with a NEW global window — audit their input bound and either " +
        s"repartition the plan or add them to the allowlist with a reason: " +
        undocumented.toSeq.sorted.mkString(", "))
    val stale = Allow -- flagged
    assert(stale.isEmpty,
      s"allowlist entries whose global window is gone — prune them: " +
        stale.toSeq.sorted.mkString(", "))
    // HeadRank and GraphRankHeads are not taken on faith: the
    // optimizer must actually have pushed a bounded head under each
    // global window
    val unbounded = (HeadRank ++ GraphRankHeads).filter { name =>
      val p = plans(name)
      !p.contains("TakeOrderedAndProject") && !p.contains("WindowGroupLimit")
    }
    assert(unbounded.isEmpty,
      s"HeadRank entries whose plan lacks the bounding head operator " +
        s"(TakeOrderedAndProject/WindowGroupLimit): " +
        unbounded.toSeq.sorted.mkString(", "))
    // registry-wide no-cartesian sweep: every small-side cross in the
    // library is a broadcast (BroadcastNestedLoopJoin); a true
    // CartesianProduct means two non-broadcastable sides met without
    // a key — the O(N·M) shape nothing here should ever plan. The two
    // allowed entries are MLlib's recommendForAllUsers internals: a
    // DELIBERATE blocked cross of the user- and item-factor block
    // tables (exhaustive scoring is the algorithm; blocks bound the
    // memory), not an accidental unkeyed join in this library's code.
    val CartesianAllowed = Set("q_als_recommend", "q_als_implicit")
    val cartesians = plans.collect {
      case (name, p) if p.contains("CartesianProduct") => name
    }.toSet
    assert((cartesians -- CartesianAllowed).isEmpty,
      s"queries planning a NEW CartesianProduct: " +
        (cartesians -- CartesianAllowed).toSeq.sorted.mkString(", "))
    assert((CartesianAllowed -- cartesians).isEmpty,
      s"stale CartesianAllowed entries — prune: " +
        (CartesianAllowed -- cartesians).toSeq.sorted.mkString(", "))

    // r9s2 rescan pin: ≥3 fact-table path prints in one formatted
    // plan marks the split-consumer defect class (differently-
    // filtered consumers of a shared frame re-plan its corpus chain —
    // filters push below the joins and defeat exchange reuse). The
    // sweep fixed 20 queries by sever-once checkpoints (batches 1–3);
    // what remains is adjudicated: two-scan-inherent shapes printing
    // ≤2 paths per scan (a bounds/total pass plus the main pass;
    // train/test or ref/cur splits whose two halves ARE the
    // semantics; set-ops over two genuinely different slices) and the
    // memoized model families whose InMemoryRelation fragments
    // re-print the build plan's scan without re-executing it. A NEW
    // name here means a new multi-pass plan — sever it or adjudicate
    // it explicitly.
    // r10 departures: q_ab_srm (3-row arms frame severed), q_boilerplate
    // (single gram-level aggregate), q_data_quality (one PK-grouped pass
    // per fact table), q_hard_negatives (shared argmax quantizer severed
    // once), q_token_budget (slim scored frame severed before its 8
    // consumers), q_survival_km (user total derived from the severed
    // calendar-bounded duration histogram), q_zorder_layout (one stack
    // generator pass instead of the self-union), q_chi2_terms (one
    // (source, term) aggregate carries every contingency marginal),
    // q_join_explosion (fanout histogram severed once per candidate),
    // q_concurrency_peak (stack generator for the sweep points + a
    // severed calendar-bounded day aggregate), q_mix_plan (both
    // |sources|-row frames severed), q_seq_pack (slim token-count
    // frame severed ahead of bounds/offsets/packing), q_source_overlap
    // (distinct (source, shingle) set severed ahead of totals + pairs)
    // — each fix proven by an unchanged-oracle hash-match at 3 SFs.
    // r11 departures: q_bigram_lm (head counts derived from the pair
    // counts — the same-corpus MLE identity c1 = Σ_w2 c12 removes the
    // second corpus aggregate), q_cohort_ltv (user→cohort table
    // severed once ahead of its two consumers), q_eval_popularity /
    // q_eval_ranking / q_eval_ips (the time-split train/test/recs
    // artifacts are now ONE memoized checkpoint-severed build shared
    // by all five metric queries — a frozen eval split, as a real
    // eval pipeline materializes it).
    // r11 batch 2: q_retention_cohorts + q_stickiness + q_gap_fill +
    // q_burst_detect severed (user→cohort / (user, week) activity /
    // (type, day) daily / (type, hour) hourly slim frames checkpointed
    // once; spine bounds and spans derive from the severed frames —
    // truncation is monotone, grouping preserves the domain).
    // r12 departures: q_mad_outliers (the slim (type, value) projection
    // severed once — the three quantile passes are inherent, the scan
    // is not), q_heavy_hitters (sketch + stream total fused into ONE
    // aggregate pass — a whole scan saved at any scale — with the
    // 1-row result severed for its two readers), q_merge_upsert (both
    // synthetic batch arms ride one generator scan instead of a
    // self-union re-planning the corpus per arm).
    val RescanAllowed = Set(
      "q_bm25_rank",
      "q_dedup_bloom", "q_embedding_centroids",
      "q_hybrid_rrf", "q_itemcf_decay", "q_ivf_pq",
      "q_ivf_pq_filtered", // same adjudicated shape as q_ivf_pq (memoized code-table re-prints + the assignment chain); the label filter adds one slim id-list scan
      "q_knn_ivf",
      "q_lr_ranking", "q_lsh_hyperplane", "q_matryoshka",
      "q_media_neardup", "q_mutual_knn",
      "q_psi_drift", "q_semantic_dedup",
      "q_setops_users", "q_stream_drift",
      "q_tfidf_terms", "q_time_split",
      "q_weighted_reservoir") // two-scan-inherent: K-bounded key head + the weight-share aggregate
    val factTables = Seq("events", "lineitem", "orders", "documents", "embeddings")
    val rescanned = plans.collect {
      case (name, p) if factTables.exists(t =>
        s"$t\\.parquet".r.findAllIn(p).length >= 3) => name
    }.toSet
    assert((rescanned -- RescanAllowed).isEmpty,
      s"queries with a NEW multi-scan plan — sever the shared frame once " +
        s"(localCheckpoint) or adjudicate here: " +
        (rescanned -- RescanAllowed).toSeq.sorted.mkString(", "))
    assert((RescanAllowed -- rescanned).isEmpty,
      s"stale RescanAllowed entries — prune: " +
        (RescanAllowed -- rescanned).toSeq.sorted.mkString(", "))
  }
}
