package graft

import org.apache.spark.sql.execution.FormattedMode

/** Plan-shape regression guard: the properties that make the engine
  * scale (pushdown, pruning, broadcast, per-partition heaps, map-side
  * partial top-k) are asserted on the physical plans so a future
  * refactor can't silently trade them away.
  */
class PlanGuardSpec extends SparkSpec {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sfDir)
      .queryExecution.explainString(FormattedMode)

  test("scan filters reach parquet and schemas are pruned") {
    val p = plan("q_scan_filter")
    assert(p.contains("PushedFilters: [IsNotNull(l_shipdate)"), p)
    // only the 4 needed columns are read
    assert(p.contains("ReadSchema: struct<l_quantity:double,l_extendedprice:double," +
      "l_discount:double,l_shipdate:timestamp"), p)
  }

  test("vector search is broadcast + TakeOrderedAndProject (no global sort)") {
    // the query vector reaches every task in the closure of ONE job
    // over the tenant's prepared scan: scan → score → per-task k-heap
    // (TakeOrderedAndProject's bound, ≤limit rows per task) → driver
    // merge, with no Exchange of any kind and no join
    prunedBoundedScan("vs_search_topk", limit = 10)
  }

  test("per-user vector ops scan a partitioned collection with PartitionFilters") {
    // the measured path reads the materialized user-partitioned table:
    // the user_id predicate must prune partitions, not filter rows.
    // The point reads run over the tenant's prepared scan, so the scan
    // they ran is the recorded one, not the returned local frame's
    prunedBoundedScan("vs_search_topk", limit = 10)
    // a scroll returns no vectors, so its scan reads none
    val scroll = prunedBoundedScan("vs_scroll_doc", limit = 20)
    assert(!readsVectors(scroll), scroll)
    // round-13 surfaces: retrieve / scroll-with-vectors / facet all
    // prune on user_id too (the get/export/facet paths must never
    // scan other tenants' partitions); retrieve sends at most its 4 ids
    prunedBoundedScan("vs_retrieve_ids", limit = 4)
    val withVectors = prunedBoundedScan("vs_scroll_vectors", limit = 12)
    assert(readsVectors(withVectors), withVectors)
    val pf = plan("vs_facet_counts")
    assert(pf.contains("PartitionFilters") && pf.contains("user_id"), pf)
    // batched search runs the dense kernel inside the call: its one
    // corpus scan is pruned and shuffles nothing, and each task sends
    // the driver merge ≤k candidates per query — one pruned scan,
    // never |queries| jobs, never an unbounded candidate merge
    val (pb, runs) = kernelPlans("vs_search_batch")
    assert(runs.size == 1, runs)
    val scan = runs.head.corpusPlan.toString
    assert(userPruned(runs.head.corpusPlan), scan)
    assert(!scan.contains("Exchange") && !scan.contains("Join"), scan)
    assert(runs.head.maxPerQuery <= 5, runs)
    assert(!pb.contains("Exchange"), pb)
  }

  /** The plan of query `name` and the dense-kernel runs building it
    * made: the kernel executes inside the call, so the plan it ran is
    * in the run record, not in the returned frame.
    */
  private def kernelPlans(name: String): (String, Seq[graft.ann.Ann.KernelRun]) = {
    val (df, runs) = graft.ann.Ann.recordingKernelRuns(SparkEntry.queries(name)(spark, sfDir))
    (df.queryExecution.explainString(FormattedMode), runs)
  }

  private object Aqe extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

  /** Whether a file scan of `plan` (adaptive stages included) carries a
    * pruning predicate on user_id, not just the inferred isnotnull.
    */
  private def userPruned(plan: org.apache.spark.sql.execution.SparkPlan): Boolean =
    Aqe.collect(plan) {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f.partitionFilters
    }.flatten.filterNot(_.isInstanceOf[org.apache.spark.sql.catalyst.expressions.IsNotNull])
      .exists(_.references.exists(_.name == "user_id"))

  /** Whether a file scan of `plan` reads `embedding` (its ReadSchema). */
  private def readsVectors(plan: org.apache.spark.sql.execution.SparkPlan): Boolean =
    Aqe.collect(plan) {
      case f: org.apache.spark.sql.execution.FileSourceScanExec => f.requiredSchema.fieldNames.toSeq
    }.flatten.contains("embedding")

  /** Query `name` runs ONE job over a prepared tenant scan that prunes
    * user partitions, exchanges and joins nothing, and whose tasks each
    * send the driver at most `limit` rows; returns the scan's plan.
    */
  private def prunedBoundedScan(name: String, limit: Int): org.apache.spark.sql.execution.SparkPlan = {
    val (_, runs) = graft.store.TenantScans.recording(SparkEntry.queries(name)(spark, sfDir))
    assert(runs.size == 1, s"$name: $runs")
    val scan = runs.head.plan.toString
    assert(userPruned(runs.head.plan), s"$name: $scan")
    assert(!scan.contains("Exchange"), s"$name: $scan")
    assert(!scan.contains("Join") && !scan.contains("CartesianProduct"), s"$name: $scan")
    assert(runs.head.maxRows <= limit, s"$name: ${runs.head.maxRows} rows from one task")
    runs.head.plan
  }

  test("batched ANN uses the map-side partial TopK aggregate") {
    val p = plan("ann_topk_batch")
    assert(p.contains("partial_topkaggregator"), p)
    assert(p.contains("ObjectHashAggregate"), p)
  }

  test("retrieval-eval top-10 rides the TopK aggregate, not a qid window") {
    // the r12 hot-partition finding: a row_number window partitioned
    // by 5 qids sorts the whole scored corpus on 5 reducers; the TopK
    // aggregate shuffles ≤10 rows/partition/query instead
    Seq("text_ndcg", "text_map_mrr").foreach { q =>
      val p = plan(q)
      assert(p.contains("partial_topkaggregator"), s"$q: $p")
      assert(!p.contains("row_number"), s"$q still windows: $p")
    }
  }

  test("dim-table joins broadcast, fact side never exchanges before filter") {
    val p = plan("q5_multi_join")
    assert(p.contains("BroadcastHashJoin"), p)
    val q3 = plan("q3_join_topk")
    assert(q3.contains("BroadcastHashJoin"), q3)
  }

  test("as-of join plans as one window pass, never a nested-loop join") {
    val p = plan("ev_asof_join")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
    assert(p.contains("Window"), p)
  }

  test("range join plans as an equi-join, never a nested-loop join") {
    val p = plan("ev_range_join")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"), p)
  }

  test("win_ntile never plans a single-partition global window") {
    val p = plan("win_ntile")
    // ranking runs through the distributed range-sort + zipWithIndex
    // path (ops/Ranking.scala); no Window, no SinglePartition exchange
    assert(!p.contains("Window"), p)
    assert(!p.contains("SinglePartition"), p)
  }

  test("text_vocab bounds the top-50 before any global window") {
    val p = plan("text_vocab")
    assert(p.contains("TakeOrderedAndProject"), p)
    // the window must consume the bounded top-50, i.e. sit ABOVE
    // TakeOrderedAndProject in the tree (formatted explain lists
    // parents before children, so the Window line comes first)
    assert(p.indexOf("Window") < p.indexOf("TakeOrderedAndProject"), p)
  }

  test("knn accuracy broadcasts the query sample, corpus never shuffles pre-agg") {
    val p = plan("emb_knn_accuracy")
    assert(p.contains("BroadcastExchange"), p)
    // map-side partial min bounds the shuffle at |queries| rows/task
    assert(p.contains("partial_min") || p.contains("partial min"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("events sessionize pushes nothing to a driver collect") {
    // executable plan exists and is a pure window+agg pipeline
    val p = plan("ev_sessionize")
    assert(p.contains("WindowGroupLimit") || p.contains("Window"), p)
    assert(p.contains("HashAggregate") || p.contains("SortAggregate"), p)
  }

  test("decontamination broadcasts the bench shingles, corpus never exchanges pre-agg") {
    val p = plan("text_decontam")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("domain-mix sampling is a map-side filterless scan into one agg") {
    val p = plan("samp_domain_mix")
    // no join anywhere: the rate is an expression, not a lookup table
    assert(!p.contains("Join"), p)
    assert(p.contains("HashAggregate"), p)
  }

  test("heavy hitters aggregates map-side (partial before the exchange)") {
    val p = plan("ev_heavy_hitters")
    assert(p.contains("partial_heavyhittersaggregator"), p)
  }

  test("incremental dedup is an equi-join on band buckets, no cross product") {
    val p = plan("dedup_incremental")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
  }

  test("grouped search windows per doc and bounds the final ordering") {
    val p = plan("vs_search_grouped")
    assert(p.contains("TakeOrderedAndProject"), p)
    // the rank window is partitioned by doc_id — never a global sort
    assert(p.contains("windowspecdefinition(doc_id"), p)
    assert(p.contains("PartitionFilters") && p.contains("user_id"), p)
  }

  test("ANN queries read a partitioned index with pruning on the probe column") {
    // the LSH probe neighborhood / IVF probe cells equi-join the
    // PARTITION column of the materialized index, so the scan must
    // carry a dynamic partition-pruning filter — unprobed buckets and
    // cells are never opened
    val p = plan("ann_lsh_bucketed")
    assert(p.contains("dynamicpruningexpression(bucket"), p)
    val pi = plan("ann_ivf_probe")
    assert(pi.contains("dynamicpruningexpression(cid"), pi)
  }

  test("hybrid RRF ranks only bounded lists (three TakeOrdered bounds)") {
    val p = plan("text_hybrid_rrf")
    // both retrieval legs are bounded top-20 BEFORE their rank
    // windows, and the fusion itself is a bounded top-10 — so the
    // plan carries (at least) three TakeOrderedAndProject nodes and
    // its global rank windows only ever see ≤20 rows
    val takes = "TakeOrderedAndProject".r.findAllIn(p).size
    assert(takes >= 3, s"expected >=3 TakeOrderedAndProject, got $takes\n$p")
  }

  test("PII scrub is a pure map: no exchange except the output sort") {
    val p = plan("text_pii_redact")
    assert(!p.contains("BroadcastExchange") && !p.contains("HashAggregate"), p)
    // exactly the one range-partitioned exchange the ORDER BY contract
    // requires — redaction itself never shuffles
    val exchanges = "Exchange".r.findAllIn(p).size
    assert(exchanges <= 2, s"expected only the output-sort exchange:\n$p")
  }

  test("MMR pool is a bounded TakeOrdered; the greedy step adds no shuffle") {
    val p = plan("ann_mmr_rerank")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("Window"), p)
  }

  test("whitening broadcasts one stats row and never explodes the fact scan") {
    val p = plan("emb_whiten")
    assert(p.contains("BroadcastExchange"), p)
    // the only Generate (posexplode) is on the stats-building branch,
    // which aggregates straight down to 64 rows — the whitened output
    // branch is scan → broadcast-join → project
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("token-budget selection's only global window is the bucket table") {
    val p = plan("samp_token_budget")
    // per-block running sums partition by _blk; the cross-block offset
    // window sees <=100 bucket rows via the broadcast side
    assert(p.contains("windowspecdefinition(_blk"), p)
    assert(p.contains("BroadcastExchange"), p)
  }

  test("multi-tenant search is broadcast-join + partial TopK, no global candidate sort") {
    val p = plan("vs_search_all")
    assert(p.contains("partial_topkaggregator"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    // the only sort is the k*users output ordering, bounded by design;
    // candidates must never hit a window
    assert(!p.contains("Window"), p)
  }

  test("winsorize gets its cutoffs from a broadcast, never a sort-merge join") {
    val p = plan("ev_winsorize")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"), p)
  }

  test("attribution is one running per-user window, no self-join") {
    val p = plan("ev_attribution")
    val nJoins = "Join".r.findAllIn(p).length
    assert(nJoins == 0, s"expected no joins, plan:\n$p")
    assert(p.contains("Window"), p)
  }

  test("gini's only window runs over grouped distinct lengths, partitioned by source") {
    val p = plan("stat_gini")
    val w = p.linesIterator.filter(_.contains("windowspecdefinition")).mkString("\n")
    assert(w.contains("source"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("bucketed batching's row_number runs inside id-blocks (three-level scan)") {
    val p = plan("pipe_bucket_batches")
    // the level-1 row_number must partition by (_bkt, tok, _blk): a
    // length-concentrated corpus puts billions of rows on one exact
    // token count, and only the id-block key bounds that partition
    val rn = p.linesIterator.filter(_.contains("row_number()")).mkString("\n")
    assert(rn.contains("_blk"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("DSIR weighting broadcasts the 64-row LLR table, top-k is TakeOrdered") {
    val p = plan("samp_importance")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("span-ngram dedup joins grams by hash, never a cross product") {
    val p = plan("dedup_span_ngrams")
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"), p)
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"), p)
  }

  test("SemDeDup's pair scan is an equi-join on the cell id") {
    val p = plan("dedup_semantic")
    // the only nested-loop is the broadcast of the tiny centroid set;
    // cell-mate pairs must come from a hash join on cid
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"), p)
  }

  test("CCNet binning broadcasts per-language cutoffs") {
    val p = plan("text_ccnet_bins")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("transition matrix gets probabilities from a broadcast totals join") {
    val p = plan("ev_transitions")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
    // the lead()-over-fact pass lives in the shared transitionCells
    // materialization: the query itself rescans NOTHING
    assert("Scan parquet".r.findAllIn(p).size == 0, p)
    assert(p.contains("Scan ExistingRDD"), p)
    assert(!p.contains("Window"), p)
  }

  test("pagerank/stationary/transitions share ONE materialized lead() pass") {
    // the whole Markov family iterates off the same checkpointed cell
    // table — none of them re-derives the per-user fact sort
    for (q <- Seq("ev_transitions", "ev_stationary", "ev_markov_entropy")) {
      val p = plan(q)
      assert(!p.contains("Window"), s"$q re-derived the lead() pass:\n$p")
      assert("Scan parquet".r.findAllIn(p).size == 0, s"$q rescans the fact table:\n$p")
    }
    // markov_accuracy's argmax window runs over the tiny cell frame —
    // allowed — but it too must never rescan the fact table
    val pa = plan("ev_markov_accuracy")
    assert("Scan parquet".r.findAllIn(pa).size == 0, pa)
    assert(pa.contains("Scan ExistingRDD"), pa)
  }

  test("bounded EWMA collapses all 8 lags into one window pass") {
    val p = plan("ev_ewma_bounded")
    val windows = "\\bWindow\\b".r.findAllIn(p).size
    assert(windows <= 2, s"expected one WindowExec (plus header ref):\n$p")
    assert(p.contains("windowspecdefinition(user_id"), p)
  }

  test("postings build bounds the term list with TakeOrdered, no cross product") {
    val p = plan("text_postings")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("prefix-filter join candidates come from token equi-joins, never a cross product") {
    val p = plan("dedup_prefix_filter")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("Window"), p) // per-doc ordering is array_sort, not a window
  }

  test("burstiness bounds its term list with TakeOrdered and a semi-join") {
    val p = plan("text_burstiness")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(p.contains("LeftSemi"), p)
  }

  test("seasonal anomaly profile and assoc-rule totals are broadcasts") {
    val p = plan("ts_seasonal")
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
    val a = plan("ev_assoc_rules")
    assert(a.contains("BroadcastHashJoin"), a)
  }

  test("pagerank's iterations never touch the fact table (driver loop over bounded edges)") {
    // the returned plan is a LocalTableScan over the ≤|types| final
    // ranks: the 10 power iterations must not appear as 10 re-derived
    // fact-scan lineages
    val p = plan("graph_pagerank")
    assert(p.contains("LocalTableScan"), p)
    assert(!p.contains("Window"), p)
  }

  test("per-group bottom-k is a partial TopK aggregate, not a window sort") {
    val p = plan("samp_group_sample")
    assert(p.contains("partial_topkaggregator"), p)
    assert(!p.contains("Window"), p)
  }

  test("scd2 intervals are per-user windows over ONE fact scan, no self-join") {
    val p = plan("ev_scd2")
    assert("windowspecdefinition\\(user_id".r.findAllIn(p).size >= 2, p)
    assert(!p.contains("Join"), p)
    // formatted mode prints each node twice (tree line + detail header)
    assert("Scan parquet".r.findAllIn(p).size <= 2, p)
  }

  test("ACF aligns lags by equi-join over the once-materialized hourly rollup") {
    val p = plan("ts_acf")
    // hb = h + k must become an equi-join key, never a per-type cross
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("Scan ExistingRDD"), p) // localCheckpoint: facts scanned once
  }

  test("JSD / MI / triangle frames materialize once (checkpoint, not re-derive)") {
    for (q <- Seq("text_js_div", "text_mi_chi2", "graph_triangles")) {
      val p = plan(q)
      assert(p.contains("Scan ExistingRDD"), s"$q lost its checkpoint:\n$p")
      assert("Scan parquet".r.findAllIn(p).size == 0,
        s"$q re-scans the corpus around its checkpoint:\n$p")
    }
  }

  test("epoch mixing is broadcast-join + map-side explode, ≤2 fact scans") {
    val p = plan("pipe_epoch_mix")
    assert(p.contains("BroadcastHashJoin") && p.contains("Generate"), p)
    assert("Scan parquet".r.findAllIn(p).size <= 2, p)
  }

  test("shot-boundary window partitions by doc (bounded by per-video frames)") {
    val p = plan("mm_shot_bounds")
    assert(p.contains("windowspecdefinition(doc_id"), p)
  }

  test("OLS fit is one grouped aggregate: no join, no window") {
    val p = plan("stat_ols_fit")
    assert(!p.contains("Join") && !p.contains("Window"), p)
  }

  test("KMV pair estimates run on the once-materialized sketch table") {
    // the TopK partial-agg build sits inside the checkpoint lineage
    // (same bounded aggregator samp_group_sample pins); the pair plan
    // itself must only cross the tiny sketch table — no corpus scan,
    // no window, no row-scaled join
    val p = plan("text_kmv_vocab")
    assert(p.contains("Scan ExistingRDD"), p)
    assert("Scan parquet".r.findAllIn(p).size == 0, p)
    assert(!p.contains("Window"), p)
  }

  test("concurrency sweep is two-phase: day-partitioned window + broadcast carry") {
    val p = plan("ev_concurrency")
    // the boundary prefix sum must partition by day, and the carry-in
    // arrives via broadcast of the per-day net — the boundary set is
    // only read from the checkpoint, never re-derived from the facts
    assert(p.contains("windowspecdefinition(day"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("Scan ExistingRDD"), p)
    assert("Scan parquet".r.findAllIn(p).size == 0, p)
  }

  test("kNN-graph statistics join the checkpointed edge list, labels broadcast") {
    val p = plan("ann_knn_graph")
    // edges (built by the TopK partial aggregate, pinned on
    // ann_topk_batch) materialize once; the two label dims broadcast
    assert(p.contains("Scan ExistingRDD"), p)
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2, p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("filter attrition is ONE corpus scan: hash-partitioned dedup window, no join") {
    val p = plan("pipe_filter_attrition")
    assert(p.contains("windowspecdefinition(h"), p)
    assert(!p.contains("Join"), p)
    // formatted mode prints each node twice (tree line + detail header)
    assert("Scan parquet".r.findAllIn(p).size <= 2, p)
  }

  test("Welch t / kappa reduce to crosses of broadcast single-row aggregates") {
    val p = plan("stat_welch_ttest")
    assert(p.contains("Scan ExistingRDD"), s"welch lost its checkpoint:\n$p")
    assert("Scan parquet".r.findAllIn(p).size == 0,
      s"welch re-scans the corpus around its checkpoint:\n$p")
    // r17: kappa's ≤|langs|² confusion cells fold DRIVER-side — its
    // plan is a LocalTableScan (zero distributed scans, zero joins)
    val pk = plan("stat_cohens_kappa")
    assert(pk.contains("LocalTableScan"), pk)
    assert("Scan parquet".r.findAllIn(pk).size == 0, pk)
    assert(!pk.contains("Join"), pk)
  }

  test("ANOVA is one scan + two aggregates: no join, no window") {
    val p = plan("stat_anova")
    assert(!p.contains("Join") && !p.contains("Window"), p)
    // formatted mode prints each node twice (tree line + detail header)
    assert("Scan parquet".r.findAllIn(p).size <= 2, p)
  }

  test("Spearman ranks come from broadcast value-level maps, not a row sort") {
    val p = plan("stat_spearman")
    // the corpus rows arrive from the checkpoint; the only windows run
    // over the two value-histogram frames (bounded by max doc length)
    assert(p.contains("Scan ExistingRDD"), p)
    assert("Scan parquet".r.findAllIn(p).size == 0, p)
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2, p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("bot flagging is one user-partitioned lag pass, no join") {
    val p = plan("ev_bot_flags")
    assert(p.contains("windowspecdefinition(user_id"), p)
    assert(!p.contains("Join"), p)
    assert("Scan parquet".r.findAllIn(p).size <= 2, p)
  }

  test("NMI reduces to crosses of broadcast frames off the contingency checkpoint") {
    val p = plan("stat_nmi")
    assert(p.contains("Scan ExistingRDD"), p)
    assert("Scan parquet".r.findAllIn(p).size == 0, p)
    assert("BroadcastHashJoin".r.findAllIn(p).size >= 2, p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("bootstrap is ONE scan: 64 conditional sums map-side, no join, no window") {
    val p = plan("samp_bootstrap")
    assert(!p.contains("Join") && !p.contains("Window"), p)
    assert("Scan parquet".r.findAllIn(p).size <= 2, p)
    assert(p.contains("partial_sum"), p) // map-side combine of the replicate sums
  }

  test("BPE pair counts explode the distinct-word table and TakeOrdered-bound") {
    val p = plan("text_bpe_pairs")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("Join"), p)
    // the pair Generate sits ABOVE the word aggregate (vocabulary-
    // bounded input), never on the raw token stream
    val gen = p.indexOf("Generate")
    assert(gen >= 0 && p.take(gen).contains("HashAggregate"), p)
  }

  test("KM survival: one checkpointed signup agg, windows on the life table only") {
    val p = plan("ev_survival")
    // su is lazily checkpointed and reused by pu AND life — the signup
    // scan runs once; remaining parquet scans are purchase + obs-end
    assert(p.contains("Scan ExistingRDD"), p)
    assert("Scan parquet".r.findAllIn(p).size <= 4, p)
    // at-risk + survival windows run AFTER the day-level aggregate
    assert("\\(\\d+\\) Window".r.findAllIn(p).size == 2, p)
    assert(p.contains("BroadcastNestedLoopJoin"), p) // 1-row obs-end cross
  }

  test("stationary distribution iterates off the checkpointed cells: zero rescans") {
    // r17: the 12 power rounds fold DRIVER-side over the collected
    // bounded cells (the graph_pagerank altitude) — the final plan is
    // a LocalTableScan: zero distributed scans, zero joins, zero
    // exchanges beyond the output sort. The old guard pinned 12
    // broadcast-join rounds; the new one pins that NOTHING reads the
    // corpus in the emitted plan (the one fact scan lives in the
    // shared transitionCells materialization).
    val p = plan("ev_stationary")
    assert("Scan parquet".r.findAllIn(p).size == 0, p)
    assert(p.contains("LocalTableScan"), p)
    assert(!p.contains("Join"), p)
  }

  test("CUSUM collapses the stream once; windows run on the daily frame") {
    val p = plan("ts_cusum")
    assert(p.contains("Scan ExistingRDD"), p) // checkpointed daily counts
    assert("Scan parquet".r.findAllIn(p).size == 0, p)
    assert(!p.contains("SortMergeJoin"), p) // per-type mean joins broadcast
  }

  test("skyline staircase: one window over distinct prices, broadcast join-back") {
    val p = plan("q_skyline")
    assert("\\(\\d+\\) Window".r.findAllIn(p).size == 1, p)
    assert(p.contains("BroadcastHashJoin"), p) // frontier is tiny: never SMJ
    assert(!p.contains("SortMergeJoin"), p)
    // join-back scan reads only the 3 projected columns
    assert(p.contains("ReadSchema: struct<p_partkey:bigint,p_size:int,p_retailprice:double>"), p)
  }

  test("k-core peels checkpointed edges: the shingle join never re-runs") {
    // r17: the 6 peeling rounds fold DRIVER-side over the collected
    // bounded edge list — the final plan is a LocalTableScan (zero
    // distributed scans; the one shingle join lives in the shared
    // dupEdges materialization, run once per (session, dir))
    val p = plan("graph_kcore")
    assert(p.contains("LocalTableScan"), p)
    assert("Scan parquet".r.findAllIn(p).size == 0, p)
    assert(!p.contains("Join"), p)
  }

  test("vocab coverage bounds ranking with TakeOrdered off the checkpointed vocab") {
    val p = plan("text_vocab_coverage")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(p.contains("Scan ExistingRDD"), p)
    assert("Scan parquet".r.findAllIn(p).size == 0, p)
    // the only window ranks the ≤10k TakeOrdered survivors
    assert("\\(\\d+\\) Window".r.findAllIn(p).size == 1, p)
  }

  test("A/B z-test is one scan + map-side partials: no join, no window") {
    val p = plan("ev_ab_test")
    assert(!p.contains("Join") && !p.contains("Window"), p)
    assert("Scan parquet".r.findAllIn(p).size <= 2, p)
    assert(p.contains("partial_sum"), p)
  }

  test("lift/gain buckets against broadcast cutoffs off the checkpointed user agg") {
    val p = plan("ev_lift_gain")
    assert(p.contains("Scan ExistingRDD"), p)
    assert("Scan parquet".r.findAllIn(p).size == 0, p)
    assert(!p.contains("SortMergeJoin"), p)
    // the only window is the cumulative gain over the ≤10 decile rows
    assert("\\(\\d+\\) Window".r.findAllIn(p).size == 1, p)
  }

  test("Poisson bootstrap is ONE scan with 32 map-side weighted sums") {
    val p = plan("samp_poisson_bootstrap")
    assert(!p.contains("Join") && !p.contains("Window"), p)
    assert("Scan parquet".r.findAllIn(p).size <= 2, p)
    assert(p.contains("partial_sum"), p)
  }

  test("DP-noised histogram is one grouped pass; noise is a projection") {
    val p = plan("priv_dp_counts")
    assert(!p.contains("Join") && !p.contains("Window"), p)
    assert("Scan parquet".r.findAllIn(p).size <= 2, p)
  }

  test("basket pairs: A-Priori prune + TakeOrdered off the checkpointed baskets") {
    val p = plan("q_basket_pairs")
    assert(p.contains("Scan ExistingRDD"), p)
    assert("Scan parquet".r.findAllIn(p).size == 0, p)
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("SortExec"), p) // top-20 never globally sorts pairs
  }

  test("Neyman allocation windows only the |langs|-row stats frame") {
    val p = plan("samp_strat_alloc")
    assert(p.contains("Scan ExistingRDD"), p)
    assert("Scan parquet".r.findAllIn(p).size == 0, p)
    assert("\\(\\d+\\) Window".r.findAllIn(p).size == 1, p)
  }

  test("forecast backtest: one stream collapse, merged window on daily frame") {
    val p = plan("ts_backtest")
    assert(p.contains("Scan ExistingRDD"), p)
    assert("Scan parquet".r.findAllIn(p).size == 0, p)
    // trailing-mean avg and row_number share one Window node
    assert("\\(\\d+\\) Window".r.findAllIn(p).size == 1, p)
  }

  test("LTV cohorts: one checkpointed month-grain pass, window on cohort frame") {
    val p = plan("q_ltv_cohort")
    assert(p.contains("Scan ExistingRDD"), p)
    assert("Scan parquet".r.findAllIn(p).size == 0, p)
    assert("\\(\\d+\\) Window".r.findAllIn(p).size == 1, p)
  }

  test("backlog series: both sides collapse to month grain before join/windows") {
    val p = plan("q_order_backlog")
    assert("Scan parquet".r.findAllIn(p).size <= 4, p) // orders + lineitem once each
    assert("\\(\\d+\\) Window".r.findAllIn(p).size == 1, p)
  }

  test("MDE curve is one per-user pass exploded over the n-grid") {
    val p = plan("stat_mde_curve")
    assert(!p.contains("Window") && !p.contains("Join"), p)
    assert("Scan parquet".r.findAllIn(p).size <= 2, p)
    assert(p.contains("Generate"), p)
  }

  test("quantile normalization runs on checkpointed value histograms only") {
    val p = plan("samp_quantile_norm")
    assert(p.contains("Scan ExistingRDD"), p) // the (source,value,count) frame
    assert("Scan parquet".r.findAllIn(p).size == 0, p)
    // the inverse-CDF inequality join is a BNLJ over two bounded
    // histogram frames (≤ distinct values each), plus the scalar
    // total cross — nothing row-scaled may appear as a nested loop
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size <= 4, p)
  }

  test("growth accounting: churn join runs on the checkpointed weeks rollup") {
    val p = plan("ev_growth_accounting")
    assert(p.contains("Scan ExistingRDD"), p)
    assert("Scan parquet".r.findAllIn(p).size == 0, p)
    // the per-user lag window lives BEFORE the checkpoint; the final
    // plan may only join the |weeks| frame to itself — never window
    assert(!p.contains("Window"), p)
  }

  test("decomposition: seasonal map broadcasts back onto the daily frame") {
    val p = plan("ts_decompose")
    assert(p.contains("Scan ExistingRDD"), p)
    assert("Scan parquet".r.findAllIn(p).size == 0, p)
    assert(p.contains("BroadcastExchange"), p)
    assert(!p.contains("Window"), p) // MA/count windows are pre-checkpoint
  }

  test("Simpson audit: all three output shapes are rollups of one stratum frame") {
    val p = plan("ev_simpson")
    assert(p.contains("Scan ExistingRDD"), p)
    assert("Scan parquet".r.findAllIn(p).size == 0, p)
    assert(p.contains("Union"), p)
    assert(!p.contains("Window") && !p.contains("SortMergeJoin"), p)
  }

  test("Kruskal-Wallis ranks the value histogram, never re-joins rows") {
    val p = plan("stat_kruskal")
    assert(p.contains("Scan ExistingRDD"), p)
    assert("Scan parquet".r.findAllIn(p).size == 0, p)
    // the only window is the cumulative count over |distinct lengths|
    assert("\\(\\d+\\) Window".r.findAllIn(p).size <= 1, p)
    assert(p.contains("BroadcastExchange"), p) // rank map joins back broadcast
  }

  test("Brown-Forsythe joins medians back broadcast; one fact scan feeds both") {
    val p = plan("stat_levene")
    assert(p.contains("Scan ExistingRDD"), p)
    assert("Scan parquet".r.findAllIn(p).size == 0, p)
    assert(p.contains("BroadcastExchange"), p)
    assert(!p.contains("Window") && !p.contains("SortMergeJoin"), p)
  }

  test("silhouette crosses points with a broadcast centroid table only") {
    val p = plan("emb_silhouette")
    assert(p.contains("BroadcastExchange"), p)
    assert(!p.contains("SortMergeJoin") && !p.contains("Window"), p)
    // embeddings read twice: centroid build + the scored points
    assert("Scan parquet".r.findAllIn(p).size <= 4, p)
  }

  test("SRM gate is one distinct pass — no join, no window") {
    val p = plan("ev_srm")
    assert("Scan parquet".r.findAllIn(p).size <= 2, p)
    assert(!p.contains("Join") && !p.contains("Window"), p)
  }

  test("diff-in-diff buckets the checkpointed (user,day) frame via broadcast bounds") {
    val p = plan("ev_diff_in_diff")
    assert(p.contains("Scan ExistingRDD"), p)
    assert("Scan parquet".r.findAllIn(p).size == 0, p)
    assert(p.contains("BroadcastNestedLoopJoin"), p) // single-row bounds cross
    assert(!p.contains("Window") && !p.contains("SortMergeJoin"), p)
  }

  test("BH-FDR windows run on the per-type frame after one fact scan") {
    val p = plan("stat_fdr")
    assert("Scan parquet".r.findAllIn(p).size <= 2, p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("Wilson CI explodes per-user type sets — one fact scan, no join") {
    val p = plan("stat_wilson_ci")
    assert("Scan parquet".r.findAllIn(p).size <= 2, p)
    assert(p.contains("Generate"), p)
    assert(!p.contains("Join") && !p.contains("Window"), p)
  }

  test("jackknife is a broadcast-totals map over the checkpointed user frame") {
    val p = plan("stat_jackknife")
    assert(p.contains("Scan ExistingRDD"), p)
    assert("Scan parquet".r.findAllIn(p).size == 0, p)
    assert(!p.contains("Window") && !p.contains("SortMergeJoin"), p)
  }

  test("assortativity joins broadcast degrees onto checkpointed edges") {
    val p = plan("graph_assort")
    assert(p.contains("Scan ExistingRDD"), p)
    assert("Scan parquet".r.findAllIn(p).size == 0, p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("Adamic-Adar keeps top-20 via TakeOrdered, degrees broadcast") {
    val p = plan("graph_adamic_adar")
    assert(p.contains("Scan ExistingRDD"), p)
    assert("Scan parquet".r.findAllIn(p).size == 0, p)
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("BFS rounds run on checkpointed frames, never rescanning the corpus") {
    val p = plan("graph_bfs")
    assert(p.contains("Scan ExistingRDD"), p)
    assert("Scan parquet".r.findAllIn(p).size == 0, p)
  }

  test("LLR scores the checkpointed bigram frame with broadcast marginals") {
    val p = plan("text_llr")
    assert(p.contains("Scan ExistingRDD"), p)
    assert("Scan parquet".r.findAllIn(p).size == 0, p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("RAKE phrase window is per-doc partitioned, scores broadcast") {
    val p = plan("text_rake")
    assert(p.contains("Scan ExistingRDD"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("self-BLEU overlap joins are doc-keyed, never cartesian") {
    val p = plan("text_selfbleu")
    assert(p.contains("Scan ExistingRDD"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("CCF aligns lags by equi-join on the checkpointed day frame") {
    val p = plan("ts_ccf")
    assert(p.contains("Scan ExistingRDD"), p)
    assert("Scan parquet".r.findAllIn(p).size == 0, p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("Pettitt pair frame is the checkpointed day rollup, facts scanned zero times") {
    val p = plan("ts_pettitt")
    assert(p.contains("Scan ExistingRDD"), p)
    assert("Scan parquet".r.findAllIn(p).size == 0, p)
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("Q2 correlated-min: both min frames pre-aggregated, bounded output, no cartesian") {
    val p = plan("q2_min_cost")
    assert(!p.contains("CartesianProduct"), p)
    // LIMIT 20 over the sorted result must be a TakeOrdered, never a
    // global sort of the joined frame
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("Q9 substring part filter reaches the parquet scan") {
    val p = plan("q9_profit")
    assert(p.contains("StringContains(p_name,widget)"), p)
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("Q20 nested-agg semi-join: LeftSemi present, no cartesian, 1997 filter pushed") {
    val p = plan("q20_part_promotion")
    assert(p.contains("LeftSemi"), p)
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("PushedFilters") && p.contains("l_shipdate"), p)
  }

  test("anisotropy is two linear passes — no pair join anywhere") {
    val p = plan("emb_anisotropy")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("SortMergeJoin"), p)
    // the only join is the broadcast of the 1-row (n, mean_norm) frame
    assert(p.contains("BroadcastExchange"), p)
  }

  test("JL recall projects via a pure map (no shuffle before the TakeOrdered)") {
    val p = plan("ann_jl_recall")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("CartesianProduct"), p)
    // the literal-matrix projection must not re-introduce the explode
    // fan-out (Generate = explode in physical plans; the checkpointed
    // projection frame feeds both searches)
    assert(!p.contains("Generate"), p)
  }

  test("k-anonymity and HT are reduce-only: no windows, no joins") {
    for (q <- Seq("priv_k_anonymity", "priv_l_diversity", "samp_horvitz_thompson")) {
      val p = plan(q)
      assert(!p.contains("Window"), s"$q: $p")
      assert(!p.contains("Join"), s"$q: $p")
    }
  }

  test("Heaps fit windows run on the bounded block frame, never on docs") {
    val p = plan("text_heaps_fit")
    // the cumulative window consumes the post-aggregate block frame:
    // a HashAggregate (the per-block rollup) must appear BELOW the
    // Window in the tree (formatted explain lists parents first, so
    // "below" = after the Window line)
    assert(p.contains("Window"), p)
    assert(p.indexOf("HashAggregate", p.indexOf("Window")) > 0, p)
  }

  test("chi2 grid and modularity read broadcast marginals, no cartesian on facts") {
    val c = plan("stat_chi2_indep")
    assert(c.contains("BroadcastExchange"), c)
    val m = plan("graph_modularity")
    assert(!m.contains("CartesianProduct"), m)
    val j = plan("graph_jaccard_nbrs")
    assert(j.contains("TakeOrderedAndProject"), j)
    assert(j.contains("BroadcastHashJoin"), j)
  }

  test("AUC/Wasserstein windows run on the post-aggregate value grid, not docs") {
    // the docs collapse to the distinct-score histogram BEFORE any
    // window: a HashAggregate must sit below each Window node
    Seq("stat_roc_auc", "stat_wasserstein", "stat_cliffs_delta").foreach { q =>
      val p = plan(q)
      assert(p.contains("Window"), s"$q: $p")
      assert(p.indexOf("HashAggregate", p.indexOf("Window")) > 0, s"$q: $p")
    }
  }

  test("count-min build partial-aggregates cells before the shuffle") {
    val p = plan("ev_countmin")
    // the d×cell rollup must carry a map-side partial (two
    // HashAggregates around one Exchange for the cells build)
    assert(p.contains("HashAggregate"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("service embedder adds one MapPartitions and zero shuffles before it") {
    val p = plan("emb_service_search")
    assert(p.contains("MapPartitions"), p)
    // the embed stage maps the scan directly: no Exchange may appear
    // below (= after, in formatted order) the MapPartitions node
    val mp = p.indexOf("MapPartitions")
    // a broadcast (the 1-row query vector) is allowed; a shuffle is not
    assert(!p.substring(mp).contains("Exchange hashpartitioning"), p)
  }

  test("qini and PSI aggregate facts once, windows only on bounded frames") {
    val q = plan("ev_qini")
    assert(q.indexOf("HashAggregate", q.indexOf("Window")) > 0, q)
    val p = plan("stat_psi")
    assert(p.indexOf("HashAggregate", p.indexOf("Window")) > 0, p)
  }

  test("two-NN ranks via the dense kernel + TopK merge — no pair-frame window") {
    val (p, runs) = kernelPlans("emb_twonn_id")
    // the 4M-pair row_number formulation this replaced carried a
    // Window over every pair; neither the query nor the kernel's scan
    // may carry one, and the ranking must come from one dense-kernel
    // run whose tasks send ≤k candidates per query to the merge
    assert(!p.contains("Window"), p)
    assert(runs.size == 1, runs)
    val scan = runs.head.corpusPlan.toString
    assert(!scan.contains("Window") && !scan.contains("Exchange"), scan)
    assert(runs.head.maxPerQuery <= 2, runs)
  }

  test("bloom screen probes via a BROADCAST semi-join, never a shuffled one") {
    val p = plan("dedup_bloom_incremental")
    // the filter is a ≤2^16-row position table: the probe must
    // broadcast it (LeftSemi over BroadcastExchange), or a 100 TB
    // batch pays a shuffle for a 64 KB filter
    assert(p.contains("LeftSemi"), p)
    assert(p.contains("BroadcastExchange"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("ESS weights join the 64-bucket LLR table broadcast") {
    val p = plan("samp_ess")
    assert(p.contains("BroadcastExchange"), p)
    assert(!p.contains("Window"), p)
  }

  test("Fisher/Bayes support sums are DISTRIBUTED ranges — no one-row array, no window") {
    Seq("stat_fisher_exact", "stat_bayes_ab").foreach { q =>
      val p = plan(q)
      // the summation support is spark.range (scales past the array
      // cap a one-row explode(sequence(...)) would hit), joined to
      // the broadcast 1-row count frame
      assert(p.contains("Range"), s"$q: $p")
      assert(!p.contains("Generate"), s"$q: $p")
      assert(!p.contains("CartesianProduct"), s"$q: $p")
      assert(!p.contains("Window"), s"$q: $p")
    }
  }

  test("contract audit is ONE scan collapsing to a single aggregate") {
    val p = plan("pipe_contract_events")
    // all rules ride one conditional aggregate over one scan: no
    // joins, no windows, no generate
    assert(!p.contains("Join"), p)
    assert(!p.contains("Window"), p)
    // FormattedMode prints each scan once in the tree and once in the
    // detail section; one Location: line = one physical scan
    assert(p.split("Location:").length - 1 == 1,
      s"exactly one events scan expected: $p")
  }

  test("ITS and cointegration fit from aggregates — no per-day window anywhere") {
    Seq("ev_intervention_its", "ts_cointegration").foreach { q =>
      val p = plan(q)
      assert(!p.contains("Window"), s"$q: $p")
      assert(!p.contains("CartesianProduct"), s"$q: $p")
    }
  }

  test("payload-filtered search prunes partitions AND pushes the payload predicate") {
    // pre-filter semantics: the title predicate reaches the scan, the
    // user predicate prunes partitions, and each task keeps its own
    // top-5 — never a global sort over scored points
    val scan = prunedBoundedScan("vs_search_payload", limit = 5).toString
    assert(scan.contains("StringStartsWith(title,t1)"), scan)
  }

  // NOTE text_ngram_novelty's shuffle-elimination (row-local
  // array_distinct, no gram-wide join — SURVEY §6 round-12) is not
  // plan-pinnable here: its final plan truncates at the lazy
  // localCheckpoint, hiding the inner exchanges from explainString.

  test("quantized-recall eval broadcasts the bounded query set on both paths") {
    val p = plan("vec_quant_recall")
    assert(p.contains("BroadcastExchange"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("CDC chunking is zero-shuffle until the final aggregate — text never rides an exchange") {
    // r17 rewrite: cut positions are a per-row filter(sequence) HOF,
    // chunks come from zip_with on the array and its shifted self,
    // and each chunk is md5'd INSIDE the lambda — so only
    // (doc_id, hash, clen) reaches the distinct-count aggregate. The
    // r16 shape (gram explode → distinct → per-doc Window) shipped
    // the full document text through two shuffles.
    val p = plan("dedup_cdc_chunks")
    assert(!p.contains("Window"), p)
    // formatted mode prints one "(n) Exchange" detail block per
    // shuffle, each with an "Input [k]: [...]" attribute list — no
    // block may carry the text column or a chunk string
    val blocks = p.split("\n\n").filter(_.linesIterator.next().matches("\\(\\d+\\) Exchange.*"))
    assert(blocks.nonEmpty, p) // the final distinct-agg still shuffles (tiny rows)
    blocks.foreach { b =>
      assert(!b.contains("text#") && !b.contains("chunk#"), s"text rides a shuffle:\n$b")
    }
  }

  test("nn-descent refinement folds driver-side over the one bounded pool collect") {
    // r17: truth/seed/two refine rounds/recall probes fold over the
    // ≤300-row pool (the graph_label_prop altitude) — the final plan
    // is a LocalTableScan: zero distributed scans, zero joins, zero
    // windows; the one distributed pass is the bounded collect itself
    val p = plan("ann_nn_descent")
    assert(p.contains("LocalTableScan"), p)
    assert("Scan parquet".r.findAllIn(p).size == 0, p)
    assert(!p.contains("Join"), p)
  }

  test("node2vec walks fold driver-side over the shared dup-edge collect") {
    val p = plan("graph_node2vec")
    assert(p.contains("LocalTableScan"), p)
    assert("Scan parquet".r.findAllIn(p).size == 0, p)
    assert(!p.contains("Join") && !p.contains("Window"), p)
  }

  test("image phash folds driver-side over the bounded image collect") {
    // ≤40 image docs; the DCT/median/pair-hamming pipeline is exact
    // integer/quantized arithmetic over them — zero distributed work
    // beyond the collect and the output sort
    val p = plan("mm_image_phash")
    assert(p.contains("LocalTableScan"), p)
    assert("Scan parquet".r.findAllIn(p).size == 0, p)
    assert(!p.contains("Join") && !p.contains("Window"), p)
  }

  test("knn graph: mutuality and homophily ride ONE aggregate over the edge list") {
    // r17: the reversed-edge LEFT join flags mutual edges on the same
    // rows the broadcast label joins ride — one HashAggregate chain
    // (partial + final), no SortMergeJoin, no aggregate-vs-aggregate
    // outer join (the old shape ran two aggregate chains into an SMJ)
    val p = plan("ann_knn_graph")
    // r18 (ADVICE): assert the properties that matter — no sort-merge
    // join, one aggregate chain — not the literal join-strategy string:
    // the reversed-edge side's broadcast depends on size estimates, so
    // at a larger SF it may legitimately plan as a shuffled join
    assert(!p.contains("SortMergeJoin"), p)
    assert("\\(\\d+\\) HashAggregate".r.findAllIn(p).size <= 2, p)
  }
}
