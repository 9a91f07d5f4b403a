package graft

/** Physical-plan audit: dumps `explain("formatted")` for the queries
  * whose plan shape carries the scale argument (pushdown, broadcast,
  * partial aggregation, map-only stages, TakeOrderedAndProject), so
  * the claimed shapes can be read and diffed, not just asserted. Plans
  * come from the adaptive [[Session.plans]] session, so they show the
  * AQE wrapper the sweep runs under.
  * Plans go through [[normalise]], so two runs print the same bytes.
  * Output is committed as PLANS.md; regenerate with:
  * {{{
  * sbt -batch "runMain graft.PlanAudit <fixture dir>" 2>/dev/null \
  *   | sed -n '/^# PLANS/,$p' > PLANS.md
  * }}}
  */
object PlanAudit {
  val audited: Seq[(String, String)] = Seq(
    "q_pricing_summary" -> "partial/final hash aggregate, decimal sums, one shuffle",
    "q_ranged_scan" -> "PK range predicate reaches the parquet scan (PushedFilters)",
    "q_projection" -> "column pruning: ReadSchema carries only selected columns",
    "q_join_broadcast" -> "dimension side broadcast, no shuffle of the fact table",
    "q_join_star" -> "every dimension broadcast around the single fact scan",
    "q_topk" -> "global top-k plans TakeOrderedAndProject (no full sort)",
    "q_hash_sample" -> "deterministic sample: map-side filter, shuffle only for final sort",
    "q_agg_salted" -> "two-level skew rewrite: salt agg then final agg",
    "q_dedup_minhash" -> "MinHash signatures in one narrow expression (no shingle shuffle), band self-join",
    "q_tfidf" -> "vocabulary (df) side broadcast; tf aggregate partial/final",
    "q_window_range_frame" -> "value-based RANGE frame over one window exchange",
    "q_dedup_ngram" -> "per-doc distinct hash sets from one narrow expression; ONLY the pair join shuffles",
    "q_join_asof" -> "as-of join: union + last-ignoreNulls window, no cross product",
    "q_sessionize" -> "two window functions share ONE sort/exchange per user",
    "q_ann_ivf" -> "IVF: broadcast centroid assignment, per-list search join",
    "q_correlated_subquery" -> "correlated scalar subquery decorrelated to one aggregate join",
    "q_dedup_levenshtein" -> "LevenshteinPrefilter rewrite visible: length-gap guard + banded levenshtein(a,b,20)",
    "q_contamination" -> "benchmark shingle side broadcast; corpus stays a narrow scan + aggregates",
    "q_stratified_sample" -> "per-class hash sampling is a map-side filter; shuffle only for final sort",
    "q_funnel_steps" -> "each funnel stage one filtered aggregate joined to the previous frontier",
    "q_robust_scale" -> "median/MAD stats tables broadcast back to the row stream",
    "q_dedup_clusters" -> "label propagation: one join + one partial/final min aggregate per round",
    "q_equidepth_hist" -> "ONE full-data exchange (the range repartition); local ranks from the id projection, offsets broadcast; the only 1-partition exchange is the #partitions-row offset frame",
    "q_percentile_disc" -> "bounded cut lookup (Ranked.cutValuesByRank): ONE range exchange + distributed in-partition sort; collected per-(pid,flag) counts turn each rank threshold into a literal id — the final pass is a narrow mid IN (...) filter, no window, no offset broadcast subtree",
    "q_bloom_prefilter" -> "native bloom: ObjectHashAggregate builds the sketch in a scalar subquery; might_contain probe codegen'd (no ScalaUDF/BatchEvalPython)",
    "q_similarity_measures" -> "LSH-candidate pairs only: band-collision join proposes, array_intersect verifies — no shingle-occurrence self-join",
    "q_regr_slope" -> "regression power sums partial/final aggregated; 6 values per group cross the shuffle",
    "q_weighted_sample" -> "exponential keys are a map-side projection; only the per-stratum window shuffles",
    "q_pmi" -> "unigram count tables and the one-row corpus size broadcast onto the bigram aggregate",
    "q_sorted_neighborhood" -> "ONE WindowExec serves all four lags (shared spec); neighbor pairs explode from the same pass — no two-branch re-scan",
    "q_jaro_winkler" -> "blocked lag pairs from one keyed window; jaro_winkler is a single codegen'd expression in the projection",
    "q_auc" -> "score-bin aggregate BEFORE the cumulative window: the window input is the bounded bin relation, not the fact table",
    "q_crosscorr" -> "daily aggregates first; lag join + per-lag power sums run post-aggregate (broadcast joins, tiny)",
    "q_rrf_fusion" -> "lexical + vector scores broadcast-joined over the bounded candidate set; rank windows see candidates only",
    "q_ks_test" -> "binned CDF window over the bounded bin aggregate; totals broadcast; final MAX is one partial/final aggregate",
    "q_attribution" -> "one keyed window with IGNORE-NULLS last(); no self-join against event history",
    "q_skyline" -> "blocked dominance anti-join: block key is the equi-join side, dominance is the residual condition",
    "q_jdbc_ranged" -> "REAL JDBC scan (Derby): numPartitions stride predicates, range filter pushed into the RDBMS",
    "q_keyset_page" -> "keyset pagination plans TakeOrderedAndProject over the cursor-pruned scan (no OFFSET re-sort)",
    "q_quantile_norm" -> "per-group global rank from the shared Ranked.groupRanks builder: ONE range exchange + broadcast offsets — no group funnels through one task",
    "q_lexical_cosine" -> "inverted-index retrieval: probe tf broadcast onto the term-keyed corpus; dot/norms are integer partial/final aggregates",
    "q_change_point" -> "day aggregate is the only fact pass; CUSUM prefix sum via partition offsets; peak is one broadcast scalar",
    "q_bucketed_join" -> "co-located layout: both scans Bucketed: true, SortMergeJoin with NO exchange below the join",
    "q_pit_join" -> "PIT lookup: keyed equi-join carries the interval residual; probes are a bounded 10x fan-out of the user set",
    "q_incremental_agg" -> "batch tag is a projection; partial states and the merge are two hash aggregates over one scan",
    "q_negative_sample" -> "probe set broadcast; md5 coins are a map-side projection; only the per-probe top-k window shuffles",
    "q_bm25" -> "zero explodes: per-term tf and dl are narrow array expressions over one corpus scan; df and corpus stats broadcast",
    "q_rolling_active" -> "WAU without a range join: bounded 7-day fan-out explode, then two keyed aggregates",
    "q_vocab_coverage" -> "vocabulary prefix sum via ONE range exchange + broadcast offsets; coverage thresholds integer-compared in a single final aggregate",
    "q_cdc_chunks" -> "rolling-hash boundaries from two lags on ONE per-doc window; chunk and corpus aggregates keyed, nothing global",
    "q_topk_heap" -> "per-group top-k as a partial/final ObjectHashAggregate — no Window, no per-partition sort of the input",
    "q_pca_cov" -> "whole covariance matrix in ONE partial/final aggregate (d+d(d+1)/2-long buffer); no per-cell explode of the corpus",
    "q_range_bucket_join" -> "keyless range join as a band equi-join: probe side explodes ±1 band (rows×3), hash join + residual filter — no BroadcastNestedLoopJoin/CartesianProduct",
    "q_spatial_grid_join" -> "spatial nearest join as a grid-cell equi-join: probes explode a 3×3 cell ring (rows×9), hash join on (cell_y, cell_x) + haversine residual filter, argmin via one min(struct) aggregate — no cross product at any density",
    "q_spatial_watershed" -> "watershed clustering on the CELL relation: one point-count aggregate, ring-explode equi-joins for smoothing and argmax-parent, then 7 pointer-doubling self-joins — no theta join, no per-round driver loop over data",
    "q_spatial_idw" -> "IDW interpolation as one ring-explode equi-join (events×9 vs populated cells) + one partial/final aggregate of exact integer weighted sums — never an all-points × all-cells cross join",
    "q_dbscan_grid" -> "DBSCAN at cell granularity: one point-scan aggregate, then ring-explode equi-joins on the tiny cell relation; components via the checked-fixpoint CC primitive — no theta join, no per-point pair stream",
    "q_relational_division" -> "relational division as count-compare: one partial/final distinct-count aggregate over the fact table + a broadcast scalar divisor — no per-class anti-join chain",
    "q_attribution_multitouch" -> "U-shaped attribution: two keyed windows (user; user×segment) + semi/anti joins on the segment key + one final aggregate — linear in events, no history self-join",
    "q_truncation_fidelity" -> "truncation audit over the consecutive-id pair chain: one equi self-join (pairs = n−1), explode ×3 prefix widths, exact integer error aggregate — no pair explosion",
    "q_regr_multi" -> "two-predictor OLS: ONE nine-sum partial/final aggregate over the fact scan; the 2×2 Cramer solve is per-group decimal expressions — no second pass, no window",
    "q_minhash_error" -> "one fused digest pass (shingle_profile); the 16-slot agreement count is unrolled comparisons inside whole-stage codegen, not an interpreted HOF",
    "q_kmv_distinct" -> "KMV sketch as an ObjectHashAggregate partial/final pair — the 64-long sorted buffer crosses the exchange, not the rows",
    "q_cms_topk" -> "CMS counters as one ObjectHashAggregate partial/final pair (4096 longs cross the exchange); the 20-row probe side broadcasts against the one-row sketch",
    "q_range_source" -> "own DSv2 connector: the id-range predicate narrows partition PLANNING (BatchScan description shows the pushed range; 1 of 10 strides planned), aggregate is partial/final on top",
    "q_hilbert_key" -> "hilbert_key is one codegen'd expression inside the project (no UDF boundary, no 16-round column chain); the only exchange is the final range sort — the write-path sort key shape",
    "q_lateral_topn" -> "the correlated LATERAL … ORDER BY LIMIT decorrelates into a per-key ranked join (window + filter) — no per-customer re-execution of the inner query",
    "q_markov_attribution" -> "journey build = two keyed windows + one count aggregate (the only fact-table passes); the 16 value-iteration rounds are 1-row projections over the pivoted matrix",
    "q_ohlc" -> "open/close argmin/argmax via ONE min/max(struct) partial/final aggregate — no window, no per-day sort",
    "q_domain_cap" -> "skew-salted two-stage top-k: (source, salt-nibble) partial windows bound fan-in, per-source final window re-ranks ≤16·cap survivors",
    "q_kl_sources" -> "two term-keyed partial/final aggregates; per-source totals and the corpus scalar broadcast onto the contribution projection",
    "q_ann_pq" -> "PQ scoring: codegen'd asymmetric pq_cosine over the encoded corpus with broadcast raw probes — the corpus side carries 16 ints per row, not 64 floats; ranking is the TopKPairsD partial/final ObjectHashAggregate (no Window over scored pairs)",
    "q_ann_ivfpq" -> "IVF-PQ two-level index: per-list join of broadcast probe assignments against PQ-encoded inverted lists, pq_cosine only inside probed lists, heap-aggregate top-k — no full-corpus scan, no Window",
    "q_survival_curve" -> "KM recursion over the BOUNDED duration spine: fact aggregate first, then reverse-cumulative risk set + quantized-ln cumulative product on ≤91 rows",
    "q_decay_score" -> "dyadic decay weights in a narrow projection (shiftleft division, no pow); one partial/final aggregate with the corpus max date broadcast",
    "q_split_leakage" -> "collision-driven pair stream joined to a narrow md5-split projection on each endpoint; one final cell aggregate",
    "q_bitmap_retention" -> "ONE fact pass: bitmap ObjectHashAggregate per day (8 KiB buffer regardless of group size); the overlap is a calendar self-join of the 30-row bitmap table, popcounts in the projection",
    "q_sketch_overlap" -> "per-source k-min sketch via the TopKPairs heap aggregate (no per-source sort); everything after the distinct+heap is pairs × k metadata with the pair scaffold broadcast",
    "q_theil_sen" -> "monthly aggregate is the only fact pass; the pairwise slope join, rank window, and median selection all run on the bounded months² relation",
    "q_shortest_path" -> "edge contraction is the one fact-table join+aggregate; Bellman-Ford rounds iterate the nations-sized frontier (broadcast joins over metadata)",
    "q_weighted_percentile" -> "bounded-domain collapse: ONE hash aggregate reduces the fact table to the per-flag (cents -> weight) distribution (the price GRID is a domain, not a data scale), then a per-flag cumulative window over domain-sized rows picks the three cuts — no range sampling, no offset collect; Ranked.cutValues remains the operator for truly unbounded order domains",
    "q_apply_changelog" -> "changelog replay: one anti join + one union over the shared snapshot; the full-outer capture join feeds both without re-derivation (persistScoped)",
    "q_js_divergence" -> "pair scaffold as a UNION of two broadcast hash equi-joins (no OR-predicate nested loop); one (source, term) aggregate feeds totals, universe, and both contribution sides",
    "q_dedup_hops" -> "packed min-plus BFS: the converged state table reads from a localCheckpoint RDD (lineage truncated per round); one integer div/pmod projection unpacks (root, hops)",
    "q_bpe_apply" -> "all five merge rounds iterate the distinct-word frequency table (InMemoryRelation, vocab-sized); the corpus scan + regex + groupBy appears ONCE; each round is a vocab aggregate + 1-row broadcast joins",
    "q_mixed_tokens" -> "one narrow projection per doc (two regexp_replace + higher-order filter), no shuffle before the final sort",
    "q_variant_extract" -> "parse_json + variant_get stay in the scan-side projection (one parse per row); partial/final hash aggregate on event_type",
    "q_collated_group" -> "hash aggregate keyed on the UTF8_LCASE-collated column — the collation rides the grouping key, no lower() projection materialized",
    "q_sql_recursive" -> "Spark 4 recursion operator (UnionLoop): the anchor seeds the loop, each step joins the static edge relation to the previous iteration — the engine-managed form of the hand-rolled localCheckpoint loops",
    "q_name_sanitize" -> "schema-metadata scale: distinct p_type (25-ish rows) drives everything after one fact-column distinct; collision window runs on the name corpus, never on data",
    "q_join_asof_merge" -> "the custom AsofJoin node in the tree: two input exchanges+sorts placed by EnsureRequirements, NO pair-stream shuffle, NO window — one merge pass emits one row per event",
    "q_sample_quantiles" -> "KMV draw plans TakeOrderedAndProject (map-side top-k, zero exchanges); windows run over the ≤1024-row sample relation only",
    "q_dpp_join" -> "dynamicpruning subquery in the staged scan's PartitionFilters; the 25-row nation dim broadcast is reused as the pruning value source",
    "q_join_existence" -> "ExistenceJoin attaches the exists flag (broadcast build over the BUILDING probe set); the fact scan appears ONCE — no union-of-two-scans rewrite",
    "q_partition_reload" -> "read-back scan lists the re-staged day directories; one groupBy(day) with distinct-count expand, no second pass over the staging dir",
    "q_holt_trend" -> "monthly aggregate → per-flag rank window → 12-element collect; the 12-step recurrence is one codegen'd higher-order aggregate projection, zero extra exchanges",
    "q_kcore" -> "returned plan reads the converged localCheckpoint ALIVE-NODE relation (degree column included): just the output sort — the peel rounds' semi-joins and degree aggregates never appear in the result plan. The alive set stays DISTRIBUTED across rounds (no driver collect anywhere in the loop — it grows with |customers|); each round is one count action over a lazily checkpointed peel, and AQE picks broadcast vs shuffle for the semi-join probes from the alive set's TRUE materialized size",
    "q_preference_pairs" -> "single partial/final aggregate carries BOTH packed-struct argmax and argmin; no window, no second scan of documents",
    "q_curriculum" -> "per-source rank window is the only data exchange; the global interleave position computes on a TakeOrderedAndProject 40-row prefix",
    "q_merge_schema_read" -> "ONE merged scan over both drifted batch dirs (mergeSchema unions footers at planning); per-batch profile is one partial/final aggregate",
    "q_sprt" -> "event stream collapses to (variant, day) in one keyed aggregate; the cumulative window runs over the ~30-row daily relation, never raw events",
    "q_boilerplate_scrub" -> "chunk relation persisted once (InMemoryRelation feeds census, anti-join, and totals); boilerplate census is a partial/final countDistinct; re-assembly is a sorted-struct collect per doc",
    "q_scd2_merge" -> "incremental dimension maintenance: base change set persisted once, touched keys split by semi/anti join, replay window runs over change points + delta only — never the full raw history",
    "q_mann_kendall" -> "ONE fact-table aggregate to the monthly relation (persisted); the sign-pair join, tie census, and n counts all exchange month rows only",
    "q_runs_test" -> "monthly aggregate persisted; median join + lag window + run aggregate run over the bounded month relation",
    "q_kendall_tau" -> "ONE fact aggregate to the persisted monthly relation; concordance pair join and n counts exchange month rows only",
    "q_acf" -> "fact collapses to the persisted monthly relation; centered series joins broadcast stats; the 6-lag spine is a constant relation crossed against month rows only",
    "q_anova" -> "one partial/final aggregate to k=5 group rows (count/sum/sum-of-squares); F computes on the 1-row grand relation",
    "q_brown_forsythe" -> "customer cents persisted once; exact per-group median broadcast back; same 5-row ANOVA collapse as q_anova",
    "q_jackknife_ratio" -> "two fact passes only: group totals broadcast back, replicates floor-quantized map-side, moments partial/final aggregated — no fact window",
    "q_horvitz_thompson" -> "the whole design is one map-side projection (coin + stratum weight) feeding one partial/final aggregate",
    "q_adamic_adar" -> "ONE fact-fact join collapses trade to the distinct nation edge set (persisted); degree census, wedge join, and scoring all run on the bounded adjacency",
    "q_copeland" -> "one fact aggregate to the (lang, source) relation (persisted); duels and the reversed-pair join are bounded self-joins",
    "q_mrr" -> "brute-force top-k: probes broadcast, candidates stream, heap aggregate ships <=k rows per probe x partition; per-probe and mean rows read one persisted relation",
    "q_capture_recapture" -> "two-level aggregate: (lang, text-hash) membership flags first, then per-lang counts — text never shuffles twice",
    "q_ordinal_assoc" -> "same persisted monthly census as q_kendall_tau; gamma/somers are projections of the bounded count relation",
    "q_logrank" -> "order durations collapse to the <=91-day spine in one aggregate; at-risk counts are a reverse-cumulative window over that bounded spine; expectation/variance terms are exact decimal divisions",
    "q_cochran_armitage" -> "one fact aggregate to 3 band rows, then 1-row integer algebra — the z never touches raw orders again",
    "q_lexical_richness" -> "one exploded (lang, word) count exchange; per-language richness is a second bounded aggregate",
    "q_assortativity" -> "distinct edge projection persisted; two degree aggregates join back by key; one moment aggregate — no pair stream, no window",
    "q_hits" -> "ONE distributed fact collapse feeds a driver-side integer fixed point over the metadata-scale (<=|nations|^2) contracted graph; the returned plan is the nation dim joined to a literal score relation + sort",
    "q_modularity" -> "fact collapses to the undirected nation edge set once; region joins broadcast the 25-row dim; contributions are 5-row arithmetic",
    "q_label_prop" -> "returned plan reads the converged localCheckpoint label relation (size join + sort); each sync round was one vote aggregate + packed argmax over the bounded adjacency",
    "q_hodges_lehmann" -> "ONE fact aggregate to the persisted monthly relation; Walsh pair join and both medians exchange month rows only",
    "q_precision_at_k" -> "probes are a fixed-size TakeOrdered prefix (never grows with corpus); candidate scoring is the shared heap-aggregate top-k; P/R@5 is a bounded per-probe aggregate",
    "q_rfm_segments" -> "ONE tagged cut pass (Ranked.cutValuesByRank over axis-exploded rows) yields all 12 quintile cuts; buckets assign in a narrow higher-order projection over the persisted customer aggregate — no customer-sized rank join anywhere",
    "q_fk_audit" -> "one scan + one aggregate per CHILD table, all FK edges of that child folded into the same broadcast-left-join pass (NULL parent key = orphan); lineitem's three edges share one fact scan",
    "q_multimodal_decode" -> "one narrow mapPartitions over the 1-in-29 doc sample (encode + decode per row, codec instance per partition) — no shuffle before the final sort; decoded dims are the output, so the plan cannot prune the codec away",
    "q_readability" -> "one narrow per-doc projection (word/sentence/syllable censuses as codegen'd split-size + regexp_count), one partial/final language aggregate — single exchange before the final sort",
  )

  /** `plan` with its run-to-run tokens made stable: `plan_id`s renumbered
    * by first appearance, stage dir suffixes, lambda classes, identity hashes. */
  def normalise(plan: String): String = {
    val ids = scala.collection.mutable.Map[String, Int]()
    "plan_id=([0-9]+)".r
      .replaceAllIn(plan, m => s"plan_id=${ids.getOrElseUpdate(m.group(1), ids.size + 1)}")
      .replaceAll("graft_stage_[0-9]+/([A-Za-z0-9_]+)_[0-9]+", "graft_stage_N/$1_N")
      .replaceAll("Lambda\\$[0-9]+/0x[0-9a-f]+", "Lambda\\$N")
      .replaceAll("@[0-9a-f]{1,8}\\b", "")
  }

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    // the AQE plan, as the sweep runs it
    val spark = Session.plans(adaptive = true)
    println("# PLANS — physical-plan audit")
    println()
    println(s"Generated by `graft.PlanAudit` on `$sfDir`; regenerate after")
    println("plan-affecting changes. What to look for per query is noted")
    println("inline; EntrySpec/PipelineSpec assert the load-bearing shapes.")
    audited.foreach { case (name, why) =>
      println()
      println(s"## $name")
      println()
      println(s"_expect: ${why}_")
      println()
      println("```")
      val df = SparkEntry.queries(name)(spark, sfDir)
      // queryExecution.explainString(FormattedMode) without executing
      println(normalise(df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode).trim))
      println("```")
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
