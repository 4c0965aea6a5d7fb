package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.operators.{CorpusOps, Dedup, Multimodal, Similarity, TextAnalysis}
import graft.queries.{KvSurface, Relational}

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every implemented operator from SURVEY.md §2 registers here twice:
  * a Spark implementation in `queries` and (when SQL-expressible) a
  * DuckDB oracle in `oracleSql` with IDENTICAL output column names.
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.q1Agg(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q1_agg" -> (Relational.q1Agg _),
    "q3_top_orders" -> (Relational.q3TopOrders _),
    "q5_multijoin" -> (Relational.q5Multijoin _),
    "window_running" -> (Relational.windowRunning _),
    "topk_orders" -> (Relational.topkOrders _),
    "set_ops" -> (Relational.setOps _),
    "distinct_agg" -> (Relational.distinctAgg _),
    "rollup_agg" -> (Relational.rollupAgg _),
    "cube_agg" -> (Relational.cubeAgg _),
    "grouping_sets_agg" -> (Relational.groupingSetsAgg _),
    "window_nav" -> (Relational.windowNav _),
    // exact EWMA: bounded-frame weighted window, one IEEE op at the end
    "ewma_decay" -> (Relational.ewmaDecay _),
    // incremental view maintenance: delta net-effect folded into the MV
    "ivm_agg" -> (Relational.ivmAgg _),
    // median/MAD robust outlier stats + winsorized mean
    "robust_stats" -> (Relational.robustStats _),
    // dense calendar spine + carry-forward over sparse daily facts
    "resample_ffill" -> (Relational.resampleFfill _),
    "events_sessionize" -> (Relational.eventsSessionize _),
    // MATCH_RECOGNIZE analog: regex over each session's ordered
    // event-initial string (order + exclusion, beyond funnel counting)
    "session_pattern" -> (Relational.sessionPattern _),
    "session_window_agg" -> (Relational.sessionWindowAgg _),
    // sweep-line max concurrent sessions: bucketed two-phase running sum
    "peak_concurrency" -> (Relational.peakConcurrency _),
    "monthly_revenue" -> (Relational.monthlyRevenue _),
    // exact reaggregation from the materialized daily layer (decimal
    // partials are associative); oracle = the DIRECT monthly query
    "monthly_from_daily" -> (Relational.monthlyFromDaily _),
    "q4_exists" -> (Relational.q4Exists _),
    "percentiles" -> (Relational.percentiles _),
    "left_outer_orders" -> (Relational.leftOuterOrders _),
    "salted_join" -> (Relational.saltedJoinAgg _),
    // Zipf(2)-skewed synthetic key (~50% of rows on ONE key) through the
    // salted join; oracle = the plain join SQL (result-invariance under
    // real skew). Task-metric measurement: SkewHarnessSpec.
    "skew_zipf_salted" -> (Relational.skewZipfSalted _),
    // SCD type-2 temporal dimension: per-user attribute validity
    // intervals with change-only versioning (all windows user-keyed)
    "scd2_history" -> (Relational.scd2History _),
    // ANALYZE-style exact column statistics: one scan, multi-distinct
    // agg through a single Expand, stack to long format map-side
    "table_stats" -> (Relational.tableStats _),
    "full_outer_nations" -> (Relational.fullOuterNations _),
    "scalar_funcs" -> (Relational.scalarFuncs _),
    "above_avg_sql" -> (Relational.aboveAvgSql _),
    // SURVEY §2.1 client-op analogs
    "kv_get_point" -> (KvSurface.kvGetPoint _),
    "kv_getall_keys" -> (KvSurface.kvGetallKeys _),
    "all_users" -> (KvSurface.allUsers _),
    "get_profile" -> (KvSurface.getProfile _),
    "reg_insert_if_absent" -> (KvSurface.regInsertIfAbsent _),
    "auth_semijoin" -> (KvSurface.authSemijoin _),
    "kv_upsert_fold" -> (KvSurface.kvUpsertFold _),
    "kv_delete_fold" -> (KvSurface.kvDeleteFold _),
    "mru_topk" -> (KvSurface.mruTopk _),
    "quota_window" -> (KvSurface.quotaWindow _),
    "mr_all_keys" -> (KvSurface.mrAllKeys _),
    "mr_odd_key_vals" -> (KvSurface.mrOddKeyVals _),
    // training-data pipeline operators (builder brief)
    "text_stats" -> (TextAnalysis.textStats _),
    "token_topk" -> (TextAnalysis.tokenTopk _),
    "tfidf_topk" -> (TextAnalysis.tfidfTopk _),
    // TextRank keywords: fixed-point PageRank over word co-occurrence
    "textrank_keywords" -> (TextAnalysis.textrankKeywords _),
    // chi-squared language-discriminative token selection, exact cells
    "chi2_tokens" -> (TextAnalysis.chi2Tokens _),
    // positional inverted index (bucket-partitioned) + exact phrase query
    "phrase_search" -> (TextAnalysis.phraseSearch _),
    // PMI/lift collocations: exact integer ranking, one IEEE division
    "collocations_pmi" -> (TextAnalysis.collocationsPmi _),
    // unigram-LM tokenizer: integer Viterbi hard-EM, fully SQL-replayable
    "unigram_lm_vocab" -> (graft.operators.UnigramLm.unigramLmVocab _),
    // train → apply at the pruned vocab: the per-doc token budget
    "unigram_encode" -> (graft.operators.UnigramLm.unigramEncode _),
    // F2 / self-join size from the CMS matrix, one-sided + exact beside
    "sketch_f2" -> (graft.operators.Sketches.sketchF2 _),
    // BM25 weighting family (rational idf — the tfidf reproducibility
    // discipline); dl via doc-bounded window over the shared tf gen
    "bm25_topk" -> (TextAnalysis.bm25Topk _),
    "pack_shards" -> (TextAnalysis.packShards _),
    "corpus_clean" -> (TextAnalysis.corpusClean _),
    "pipeline_e2e" -> (graft.operators.Pipeline.pipelineE2e _),
    "lineage_report" -> (graft.operators.Pipeline.lineageReport _),
    "lang_detect" -> (TextAnalysis.langDetect _),
    // TRAINED lang-id: chi2-selected hashed char trigrams + fixed-point
    // NB costs trained on the labeled slice, scored corpus-wide; the
    // oracle replays selection + training + scoring
    "lang_id_trained" -> (TextAnalysis.langIdTrained _),
    "doc_fingerprint" -> (TextAnalysis.docFingerprint _),
    // corpus-hygiene extensions: repetition quality gate, PII scrubbing,
    // deterministic data mixing, fixed-budget chunking
    "quality_gopher" -> (graft.operators.CorpusOps.qualityGopher _),
    // learned quality classifier: hashed-bigram logistic trained in-engine
    // on a labeled slice (fixed-point); oracle replays train AND score
    "quality_model_score" -> (graft.operators.CorpusOps.qualityModelScore _),
    "pii_redact" -> (graft.operators.CorpusOps.piiRedact _),
    "sample_mix" -> (graft.operators.CorpusOps.sampleMix _),
    // exact-size per-language sample via the k-bounded partial
    // aggregator (no hot-key window); md5 ranking, engine-independent
    "sample_stratified" -> (graft.operators.CorpusOps.sampleStratifiedExact _),
    // weighted sampling w/o replacement + unbiased subset-sum estimator
    // (Duffield-Lund-Thorup priority sampling; global bounded top-k)
    "priority_sample" -> (graft.operators.CorpusOps.prioritySample _),
    // temperature-sampled multilingual mixture (n_l^0.5 quotas in exact
    // integer arithmetic; per-lang selection via the bounded aggregator)
    "temperature_mix" -> (graft.operators.CorpusOps.temperatureMix _),
    // one-row dataset card: exact corpus totals in one scan
    "corpus_report" -> (graft.operators.CorpusOps.corpusReport _),
    // T5-style span corruption: deterministic block masking + sentinel
    // (input, target) pair construction, strings oracle-compared
    "span_corruption" -> (graft.operators.CorpusOps.spanCorruption _),
    "chunk_docs" -> (graft.operators.CorpusOps.chunkDocs _),
    "token_bpe" -> (graft.operators.CorpusOps.tokenBpe _),
    "bpe_vocab" -> (graft.operators.CorpusOps.bpeVocab _),
    // rows-only by design: 256 merge rounds are past unrolled-SQL oracle
    // tractability; exactness at depth is spec-pinned by a full driver
    // replay of the election rule (CorpusOpsSpec)
    "bpe_vocab_256" -> (graft.operators.CorpusOps.bpeVocabLarge _),
    // the production-depth variant: top-k SYMBOL-DISJOINT merges per
    // round (a DIFFERENT documented election rule, not an approximation
    // — see bpeTrainBatched scaladoc), rows-only for the same unrolled-
    // SQL reason; exactness spec-pinned by a full driver replay of the
    // batched rule
    "bpe_vocab_256_batched" ->
      (graft.operators.CorpusOps.bpeVocabLargeBatched _),
    // tokenizer APPLICATION with the trained merges (train→apply loop)
    "bpe_encode" -> (graft.operators.CorpusOps.bpeEncode _),
    // the apply loop at PRODUCTION depth: encode against the batched
    // 256-merge vocab; rows-only like its training twin, with the whole
    // train→apply chain driver-replayed in CorpusOpsSpec
    "bpe_encode_batched" -> (graft.operators.CorpusOps.bpeEncodeBatched _),
    // losslessness proof: decode(encode(word)) == word for every trained
    // repr (reverse-rank symbol expansion), mismatches counted
    "bpe_roundtrip" -> (graft.operators.CorpusOps.bpeRoundtrip _),
    "integrity_audit" -> (graft.operators.CorpusOps.integrityAudit _),
    // snapshot diff between corpus versions: added/removed/changed by
    // content fingerprint, one full-outer join on the unique doc id
    "corpus_diff" -> (graft.operators.CorpusOps.corpusDiff _),
    "lm_bigram_score" -> (graft.operators.CorpusOps.lmBigramScore _),
    // trigram stupid backoff on a held-out split: tiered-join cascade
    // (model3 probe once; only misses re-shuffle to lower tiers)
    "lm_trigram_backoff" -> (graft.operators.CorpusOps.lmTrigramBackoff _),
    // per-source upsampling to a common token budget (materialized plan)
    "epoch_mix" -> (graft.operators.CorpusOps.epochMix _),
    // deterministic global training-order shuffle: bucket-decomposed rank,
    // oracle = the naive global row_number
    "global_shuffle" -> (TextAnalysis.globalShuffle _),
    // quality-ranked curriculum tiers (same rank decomposition, score-
    // prefix buckets)
    "curriculum" -> (TextAnalysis.curriculum _),
    // consecutive-duplicate-word removal (the repetition TRANSFORM; the
    // scrubbed text itself is oracle-compared)
    "repeat_scrub" -> (graft.operators.CorpusOps.repeatScrub _),
    "asof_join" -> (Relational.asofJoin _),
    // full merge_asof direction surface: nearest view in either time
    // direction, ties backward, one shared (user, time) sort
    "asof_join_nearest" -> (Relational.asofJoinNearest _),
    // interval join WITHOUT an equi key, decomposed into a bucket
    // equi-join (no nested loop); oracle = the naive BETWEEN join
    "range_join" -> (Relational.rangeJoinBucketed _),
    // per-group top-k via a bounded partial Aggregator (no window sort;
    // map side reduces each group to <=k entries before the exchange)
    "topk_per_group" -> (Relational.topkPerGroup _),
    // Pareto frontier via the staircase decomposition (per-size max +
    // domain-sized running max); oracle = the quadratic dominance SQL
    "skyline_pareto" -> (Relational.skylinePareto _),
    // per-group closed-form OLS over exact moment sums (partial-
    // combinable; integer/decimal until the two reported doubles)
    "grouped_regression" -> (Relational.groupedRegression _),
    // 3-step funnel via chained as-of windows (one shuffle, no range
    // self-joins); retention cohorts as pure partial-combinable rollups
    "funnel_conversion" -> (Relational.funnelConversion _),
    // U-shaped multi-touch attribution, integer-scaled exact credits
    "attribution_credit" -> (Relational.attributionCredit _),
    // market-basket: co-purchased part pairs ranked by exact lift
    "copurchase_lift" -> (Relational.copurchaseLift _),
    // RFM segmentation: quintile scores via holistic percentile, no NTILE
    "rfm_segments" -> (Relational.rfmSegments _),
    // path analysis: top session journeys + conversion share
    "session_paths" -> (Relational.sessionPaths _),
    // A/B 2x2 chi-square with exact cross-multiplied verdict
    "ab_test" -> (Relational.abTest _),
    "retention_cohorts" -> (Relational.retentionCohorts _),
    "events_anomaly" -> (Relational.eventsAnomaly _),
    // CUSUM mean-shift detection via the closed form P - min(0, runmin P)
    // — both running stats bucket-decomposed, exact DECIMAL(38,0) stats
    "changepoint_cusum" -> (Relational.changepointCusum _),
    // serial-dependence profile: exact-integer ACF at lags 1..5 per type
    "acf_lags" -> (Relational.acfLags _),
    // Deequ-style expectation suite: PK/FK/domain/range/completeness
    "dq_report" -> (Relational.dqReport _),
    // exact STL-lite: OLS trend + dow seasonality + remainder, all gated
    "seasonal_trend" -> (Relational.seasonalTrend _),
    "json_extract_agg" -> (Relational.jsonExtractAgg _),
    "pivot_lang_counts" -> (Relational.pivotLangCounts _),
    "unpivot_long" -> (Relational.unpivotLong _),
    "view_click_pairs" -> (Relational.viewClickPairs _),
    "merge_upsert" -> (Relational.mergeUpsert _),
    // co-located join through the bucketed physical layout (no Exchange on
    // either join side — plan shape pinned in ScaleLayoutSpec)
    "bucketed_join" -> (graft.operators.ScaleLayout.bucketedJoin _),
    // Z-order multi-dim clustering: per-file min/max stats prove file
    // skipping works on BOTH dims; pruning power pinned in ScaleLayoutSpec
    "zorder_layout" -> (graft.operators.ScaleLayout.zorderLayout _),
    // sketch aggregates: rows-only (sketch internals differ across engines
    // by design; error bounds vs exact are pinned in ScalaTest)
    "approx_stats" -> (TextAnalysis.approxStats _),
    // engine-neutral mergeable sketches — deterministic universal hashing
    // over the rolling-hash fold, so the DuckDB oracle replays the SKETCH
    // CONTENT bit-identically (unlike approx_stats' native HLL++ above);
    // error vs exact pinned in SketchesSpec
    "sketch_cms" -> (graft.operators.Sketches.sketchCms _),
    "hll_distinct" -> (graft.operators.Sketches.hllDistinct _),
    // bloom membership with exact confusion matrix + bit-population gate
    "bloom_membership" -> (graft.operators.Sketches.bloomMembership _),
    // stored-sketch + delta-batch register merge; oracle = the full-table
    // single-pass SQL, so the gate proves merge == rebuild exactly
    "hll_merge_incremental" -> (graft.operators.Sketches.hllMergeIncremental _),
    // KMV/theta set sketch: intersection cardinality HLL can't answer
    "kmv_overlap" -> (graft.operators.Sketches.kmvOverlap _),
    // DSIR-style domain selection: hashed-bigram likelihood-ratio
    // weights (linear-domain, decimal-quantized — ln differs by libm
    // ulps across engines), top-K most target-like candidate docs
    "dsir_select" -> (graft.operators.DsirSelect.dsirSelect _),
    // mergeable equi-width histogram + exact-replay quantile estimate
    // (the bounded-state path beside the exact `percentiles` sort)
    "hist_quantiles" -> (graft.operators.Sketches.histQuantiles _),
    // RFC-4180 quoted CSV export + multiLine read-back, digest-proven
    // byte-lossless (the third interchange format after JSONL/ORC)
    "csv_roundtrip" -> (graft.sources.JsonlExport.csvRoundtrip _),
    // two-sample chi-square drift between snapshot halves (lang mix +
    // length histogram) — rational arithmetic, no ln, oracle-exact
    "corpus_drift" -> (CorpusOps.corpusDrift _),
    // batch face of the STREAMING drift monitor (same code as the
    // stream; windowed chi-square vs the corpus reference distribution)
    "drift_windows" -> (CorpusOps.driftWindows _),
    // cluster-keyed train/val/test hashing: near-dups never straddle a
    // split boundary (split is a function of the CC cluster label)
    "split_leakfree" -> (graft.operators.Pipeline.splitLeakfree _),
    // exact kNN graph on the contract-capped slice; per-node ranking is
    // the bounded partial TopKAgg (no window sort), the aggregate the
    // LSH/IVF candidate streams feed at full scale
    "knn_graph" -> (Similarity.knnGraph _),
    // the full-corpus kNN face: the SAME bounded aggregate (set-semantics
    // variant — in-buffer dedup of the multi-table candidate stream) fed
    // by LSH candidate pairs scored inside the streamed bucket join
    "knn_graph_lsh" -> (Similarity.knnGraphLsh _),
    // the SUBQUADRATIC-COMPUTE full-corpus kNN face: candidates from the
    // own + probed inverted lists of the sharded K∝n SemDeDup centroids
    // (~320 cosines per vector at any scale), same bounded aggregate
    "knn_graph_ivf" -> (Similarity.knnGraphIvf _),
    // FULL-CORPUS connected components over the ivf kNN edges — the
    // O(log n) star-contraction engine; the graph family's first
    // whole-corpus face (the 200-node slice contract covers the rest)
    "knn_components" -> (Similarity.knnComponents _),
    // full-corpus label-prop communities over the same ivf edges — the
    // finer structure connectivity collapses (one giant component);
    // election = one max(struct(count, -label)), no packing bound
    "knn_labelprop" -> (Similarity.knnLabelprop _),
    // single-pass distributed second moments (partial-combined to d²/2
    // cells before the exchange); exact via the dec-staged sums
    "pca_covariance" -> (Similarity.pcaCovariance _),
    // driver eigen on the collected d×d + codegen'd strict-fold
    // projection (basis inlined as literals); rows-only — covariance is
    // the oracle-exact twin, SimilaritySpec pins the projection
    "pca_project" -> (Similarity.pcaProject _),
    // mixture balancing after semantic clustering: per-cluster top-m
    // most-diverse kept vectors via the same bounded partial TopKAgg
    "cluster_balanced_sample" -> (Similarity.clusterBalancedSample _),
    // exact heavy hitters via the two-pass Misra-Gries candidate/recount
    // scheme; oracle = the naive full-vocabulary HAVING query
    "heavy_hitters" -> (TextAnalysis.heavyHitters _),
    "dedup_exact" -> (Dedup.dedupExact _),
    "dedup_incremental" -> (Dedup.dedupIncremental _),
    // the runtime-filter twin: corpus scan pre-pruned by a broadcast
    // Bloom filter built from the delta's signatures — the corpus side
    // never shuffles; oracle = the plain incremental SQL (bloom FPs are
    // resolved by the exact anti-join, FNs impossible)
    "dedup_incremental_bloom" -> (Dedup.dedupIncrementalBloom _),
    // substring-level dedup (Lee et al. 2021): maximal cross-doc
    // duplicated token spans, integer-exact island merge
    "dup_spans" -> (Dedup.dupSpans _),
    // the 100 TB twin of dup_spans: grams keyed by xxhash64 over the token
    // window (no gram string anywhere in the plan), two-level distinct-doc
    // counting; oracle = the string formulation's SQL (verified twin)
    "dup_spans_hashed" -> (Dedup.dupSpansHashed _),
    // variable-length maximal spans: canonical-partner alignment chains
    // (every span a verbatim cross-doc repeat with provenance), the
    // refinement of the island approximation toward suffix-level dedup
    "dup_spans_maximal" -> (Dedup.dupSpansMaximal _),
    // two-pass maximal spans: DISTINCT union of chains against both
    // canonical occurrences - tightens toward suffix-level maximality
    "dup_spans_maximal2" -> (Dedup.dupSpansMaximal2 _),
    // rank-3+ closure: TRUE pairwise-maximal aligned repeats per
    // canonical (doc, partner) pair via dot-plot diagonal chaining +
    // containment maximality; oracle replays the identical construction
    "dup_spans_maximal_pairwise" -> (Dedup.dupSpansMaximalPairwise _),
    // whole-doc duplication-pressure score: gram counts + dup fraction
    "doc_novelty" -> (Dedup.docNovelty _),
    // batch-cadence substring dedup: delta-vs-corpus gram probe; the
    // oracle IS the full rebuild restricted to the delta
    "dup_spans_incremental" -> (Dedup.dupSpansIncremental _),
    // suffix-automaton intra-doc maximal repeats (per-row bounded, zero
    // shuffle); rows-only — IntradocRepeatsSpec replays the definition
    "intradoc_repeats" -> (Dedup.intradocRepeats _),
    // no-seed-floor substring dedup: distributed prefix-doubling suffix
    // ranks, SA-adjacent LCP descend, ML >= 4 interval union; coverage
    // superset of the gram-seeded family (spec-pinned)
    "dup_spans_suffix" -> (Dedup.dupSpansSuffix _),
    // batch-cadence suffix dedup: exact suffix-level spans for delta
    // docs vs the whole corpus; token hashing is write-once per doc,
    // the per-batch global cost is the 8-byte-key re-rank; the oracle
    // IS the full rebuild restricted to the delta
    "dup_spans_suffix_incremental" -> (Dedup.dupSpansSuffixIncremental _),
    // the APPLY face of the suffix pass — Lee et al.'s published
    // ExactSubstr policy: excise EVERY occurrence of every duplicated
    // region (vs the gram scrubs' keep-first), rebuild cleaned text
    "dup_span_suffix_scrub" -> (Dedup.dupSpanSuffixScrub _),
    // keep-first APPLY of dup_spans: excise non-first occurrences,
    // rebuild cleaned token stream (byte-exact vs the oracle)
    "dup_span_scrub" -> (Dedup.dupSpanScrub _),
    // keep-first APPLY of the aligned spans: provenance replaces the
    // span-text group — the policy is a filter (src_doc < doc_id), no
    // span-assembly aggregate or keep-first exchange anywhere
    "dup_span_scrub_aligned" -> (Dedup.dupSpanScrubAligned _),
    // SPAN-LEVEL decontamination: excise exactly the benchmark-leaked
    // token spans (island-merged), keep the rest of the document
    "decontaminate_scrub" -> (Dedup.decontaminateScrub _),
    "dedup_ngram_jaccard" -> (Dedup.dedupNgramJaccard _),
    // UNCAPPED all-pairs Jaccard >= 0.7 via prefix filtering (rarest-
    // first shingle index; no doc-cap contract, no banding loss); oracle
    // = the naive full self-join, so the gate proves completeness
    "dedup_prefix_filter" -> (Dedup.dedupPrefixFilter _),
    // asymmetric-Jaccard (containment) pairs: the dedup mode symmetric
    // resemblance misses (short doc quoted whole inside a long one)
    "dedup_containment" -> (Dedup.dedupContainment _),
    // fuzzy (edit-distance <= 1) matching via the SymSpell deletion-
    // neighborhood equi-join; oracle = the naive all-pairs query
    "dedup_edit_distance" -> (Dedup.dedupEditDistance _),
    // edit-distance <= 2 via PassJoin segment blocking (pigeonhole-
    // complete equi-join); oracle = the naive quadratic levenshtein join
    "fuzzy_join_passjoin" -> (Dedup.fuzzyJoinPassjoin _),
    "dedup_minhash_lsh" -> (Dedup.dedupMinhashLsh _),
    "dedup_minhash_verified" -> (Dedup.dedupMinhashVerified _),
    // batch-cadence near-dup: delta buckets probe the stored corpus
    // bucket table; oracle = full-rebuild truth restricted to delta pairs
    "dedup_minhash_incremental" -> (Dedup.dedupMinhashIncremental _),
    "dedup_clusters" -> (Dedup.dedupClusters _),
    "pagerank_sim" -> (graft.operators.GraphRank.pagerankSim _),
    // multi-source BFS / nearest-landmark: per-round equi-join + min
    "graph_bfs" -> (graft.operators.GraphRank.graphBfs _),
    // triangle counting: id-oriented wedge join + closure join
    "graph_triangles" -> (graft.operators.GraphRank.graphTriangles _),
    // local clustering coefficient + k-core membership
    "graph_clustering" -> (graft.operators.GraphRank.graphClustering _),
    "graph_kcore" -> (graft.operators.GraphRank.graphKcore _),
    // deterministic synchronous label-propagation communities: per round
    // one equi-join + partial-combinable (max count, min label) election
    "graph_labelprop" -> (graft.operators.GraphRank.graphLabelprop _),
    // same engine as dedup_clusters (the name is kept for its consumers)
    "dedup_clusters_star" -> (Dedup.dedupClusters _),
    "dedup_clusters_star_dist" -> (Dedup.dedupClustersStarDistributed _),
    "decontaminate" -> (Dedup.decontaminate _),
    // the EVAL-side audit: per-eval-doc leaked grams / leak fraction /
    // corpus docs carrying the leak (same two-stage hashed probe)
    "contamination_report" -> (Dedup.contaminationReport _),
    "dedup_simhash" -> (Dedup.dedupSimhash _),
    "dedup_simhash_verified" -> (Dedup.dedupSimhashVerified _),
    "ann_cosine_topk" -> (Similarity.annBruteForce _),
    // hybrid retrieval: reciprocal-rank fusion of the lexical overlap
    // list and the exact-cosine list (distributed top-k per arm, fusion
    // = a full-outer join of two k-row frames)
    "rrf_fusion" -> (Similarity.rrfFusion _),
    "embed_quantize" -> (Similarity.embedQuantize _),
    "ann_lsh" -> (Similarity.annLsh _),
    "ann_ivf" -> (Similarity.annIvf _),
    "ann_ivf_verified" -> (Similarity.annIvfVerified _),
    "ann_ivf_indexed" -> (Similarity.annIvfIndexedQuery _),
    "ann_pq" -> (Similarity.annPq _),
    "ann_ivfpq" -> (Similarity.annIvfPq _),
    // NAME PINNED since r2: embedding_neardup = the bounded EXACT primitive
    // (oracle-checked); embedding_neardup_lsh = the full-corpus LSH path.
    // r1's "embedding_neardup" was the LSH computation — r1→r2 numbers
    // under this name compare different computations; r2 onward is stable.
    "embedding_neardup" -> (Similarity.embeddingNearDupExact _),
    "semdedup" -> (Similarity.semDedup _),
    "semdedup_incremental" -> (Similarity.semDedupIncremental _),
    "embedding_neardup_lsh" -> ((s: SparkSession, d: String) =>
      Similarity.embeddingNearDup(s, d)),
    "multimodal_features" -> (Multimodal.multimodalFeatures _),
    // decode → nearest-neighbor resize → re-encode → re-decode round trip
    "multimodal_resize" -> (Multimodal.resizeImages _),
    // PCM frame tiling + strided temporal subsampling (video-frame shape)
    "multimodal_frames" -> (Multimodal.audioFrames _),
    // real video container walk: decode only the sampled keyframes
    "multimodal_video" -> (Multimodal.videoFrames _),
    // caption<->image pair mining: neighbor candidates, real per-row
    // decode, strict-fold embedding cosine, mismatch filter
    "crossmodal_pairs" -> (Multimodal.crossModalPairs _),
    // contrastive negative mining: bucketed candidate join + per-image
    // md5-ranked top-k — deterministic, metadata-only (no decode)
    "crossmodal_negatives" -> (Multimodal.crossModalNegatives _),
    // text->image retrieval through the written cluster-partitioned IVF
    // index (caption queries probe only their nearest inverted lists)
    "crossmodal_retrieval" -> (Similarity.crossModalRetrieval _),
    // IR scorecard: recall@k + reciprocal rank of the pruned IVF vs exact
    "retrieval_eval" -> (Similarity.retrievalEval _),
    // MRL: retrieval quality of the 16-dim embedding prefix vs full 64
    "matryoshka_eval" -> (Similarity.matryoshkaEval _),
    // embedding-space decontamination: paraphrase-robust eval-leak
    // flagging (broadcast eval set, strict-fold max cosine, tau verdict)
    "decontaminate_semantic" -> (Similarity.decontaminateSemantic _),
    // image-modality dedup artifact: per-image 64-bit average hash as
    // band integers (pairing spec-gated on ground-truth synthetic
    // near-dups; this corpus provably has none to find)
    "image_phash" -> (Multimodal.imagePhash _),
    "jsonl_roundtrip" -> (graft.sources.JsonlExport.jsonlRoundtrip _),
    "orc_roundtrip" -> (graft.sources.JsonlExport.orcRoundtrip _),
    "schema_evolution" -> (graft.sources.JsonlExport.schemaEvolution _),
    // DSv2 SINK: engine WAL format written via the two-phase committer,
    // read back with the DSv2 reader — lossless round trip
    "wal_sink_roundtrip" -> (graft.sources.WalSink.walSinkRoundtrip _),
    // distributed sequential quota admission (p4 semantics), oracle'd via
    // a recursive CTE that replays the same per-user fold (r4 item #6)
    "quota_admission_replay" -> ((s: SparkSession, d: String) =>
      graft.streaming.EventStreams.quotaReplayBatch(s, d,
        maxAmount = QuotaReplayMax, windowUs = QuotaReplayWindowUs)),
  )

  // quota replay knobs shared by the query and its oracle (can't drift)
  private val QuotaReplayMax = 100.0
  private val QuotaReplayWindowUs = 7L * 24 * 3600 * 1000000

  /** DuckDB-runnable ANSI SQL per query key (same column names!). */
  def oracleSql: Map[String, String] = Map(
    "q1_agg" -> Relational.q1AggSql,
    "q3_top_orders" -> Relational.q3TopOrdersSql,
    "q5_multijoin" -> Relational.q5MultijoinSql,
    "window_running" -> Relational.windowRunningSql,
    "topk_orders" -> Relational.topkOrdersSql,
    "set_ops" -> Relational.setOpsSql,
    "distinct_agg" -> Relational.distinctAggSql,
    "rollup_agg" -> Relational.rollupAggSql,
    "cube_agg" -> Relational.cubeAggSql,
    "grouping_sets_agg" -> Relational.groupingSetsAggSql,
    "window_nav" -> Relational.windowNavSql,
    "ewma_decay" -> Relational.ewmaDecaySql,
    "ivm_agg" -> Relational.ivmAggSql,
    "robust_stats" -> Relational.robustStatsSql,
    "resample_ffill" -> Relational.resampleFfillSql,
    "events_sessionize" -> Relational.eventsSessionizeSql,
    "session_pattern" -> Relational.sessionPatternSql,
    "session_window_agg" -> Relational.sessionWindowAggSql,
    "peak_concurrency" -> Relational.peakConcurrencySql,
    "monthly_revenue" -> Relational.monthlyRevenueSql,
    // the verified-twin gate: equality vs the direct monthly SQL proves
    // the daily->monthly decimal rollup is lossless
    "monthly_from_daily" -> Relational.monthlyRevenueSql,
    "q4_exists" -> Relational.q4ExistsSql,
    "percentiles" -> Relational.percentilesSql,
    "left_outer_orders" -> Relational.leftOuterOrdersSql,
    // oracle is the PLAIN join: equality proves the salt split +
    // small-side replication is result-invariant
    "salted_join" -> Relational.saltedJoinAggSql,
    "skew_zipf_salted" -> Relational.skewZipfSaltedSql,
    "scd2_history" -> Relational.scd2HistorySql,
    "table_stats" -> Relational.tableStatsSql,
    "full_outer_nations" -> Relational.fullOuterNationsSql,
    "scalar_funcs" -> Relational.scalarFuncsSql,
    "above_avg_sql" -> Relational.aboveAvgSqlOracle,
    "kv_get_point" -> KvSurface.kvGetPointSql,
    "kv_getall_keys" -> KvSurface.kvGetallKeysSql,
    "all_users" -> KvSurface.allUsersSql,
    "get_profile" -> KvSurface.getProfileSql,
    "reg_insert_if_absent" -> KvSurface.regInsertIfAbsentSql,
    "auth_semijoin" -> KvSurface.authSemijoinSql,
    "kv_upsert_fold" -> KvSurface.kvUpsertFoldSql,
    "kv_delete_fold" -> KvSurface.kvDeleteFoldSql,
    "mru_topk" -> KvSurface.mruTopkSql,
    "quota_window" -> KvSurface.quotaWindowSql,
    "mr_all_keys" -> KvSurface.mrAllKeysSql,
    "mr_odd_key_vals" -> KvSurface.mrOddKeyValsSql,
    "text_stats" -> TextAnalysis.textStatsSql,
    "token_topk" -> TextAnalysis.tokenTopkSql,
    // oracle is the naive full-vocabulary HAVING query: equality proves
    // the per-partition Misra-Gries candidate pass loses no heavy hitter
    "heavy_hitters" -> TextAnalysis.heavyHittersSql,
    "sketch_cms" -> graft.operators.Sketches.sketchCmsSql,
    "hll_distinct" -> graft.operators.Sketches.hllDistinctSql,
    "bloom_membership" -> graft.operators.Sketches.bloomMembershipSql,
    "kmv_overlap" -> graft.operators.Sketches.kmvOverlapSql,
    "hll_merge_incremental" -> graft.operators.Sketches.hllDistinctSql,
    "dsir_select" -> graft.operators.DsirSelect.dsirSelectSql,
    "hist_quantiles" -> graft.operators.Sketches.histQuantilesSql,
    "csv_roundtrip" -> graft.sources.JsonlExport.csvRoundtripSql,
    "corpus_drift" -> CorpusOps.corpusDriftSql,
    "drift_windows" -> CorpusOps.driftWindowsSql,
    "split_leakfree" -> graft.operators.Pipeline.splitLeakfreeSql,
    "knn_graph" -> Similarity.knnGraphSql,
    "knn_graph_lsh" -> Similarity.knnGraphLshSql,
    "knn_graph_ivf" -> Similarity.knnGraphIvfSql,
    "knn_components" -> Similarity.knnComponentsSql,
    "knn_labelprop" -> Similarity.knnLabelpropSql,
    "pca_covariance" -> Similarity.pcaCovarianceSql,
    "cluster_balanced_sample" -> Similarity.clusterBalancedSampleSql,
    "tfidf_topk" -> TextAnalysis.tfidfTopkSql,
    "textrank_keywords" -> TextAnalysis.textrankKeywordsSql,
    "chi2_tokens" -> TextAnalysis.chi2TokensSql,
    "phrase_search" -> TextAnalysis.phraseSearchSql,
    "collocations_pmi" -> TextAnalysis.collocationsPmiSql,
    "unigram_lm_vocab" -> graft.operators.UnigramLm.unigramLmVocabSql,
    "unigram_encode" -> graft.operators.UnigramLm.unigramEncodeSql,
    "sketch_f2" -> graft.operators.Sketches.sketchF2Sql,
    "bm25_topk" -> TextAnalysis.bm25TopkSql,
    // oracle is the SEQUENTIAL prefix sum; Spark runs the two-phase
    // bucket decomposition — equality proves the distributed cumsum
    // reproduces the sequential packing semantics exactly
    "pack_shards" -> TextAnalysis.packShardsSql,
    "corpus_clean" -> TextAnalysis.corpusCleanSql,
    // composed oracle over the composed stages: a green row proves the
    // operators CHAIN correctly (shard boundaries depend on exactly
    // which docs survived cleaning + decontamination)
    "pipeline_e2e" -> graft.operators.Pipeline.pipelineE2eSql,
    "lineage_report" -> graft.operators.Pipeline.lineageReportSql,
    "lang_detect" -> TextAnalysis.langDetectSql,
    "lang_id_trained" -> TextAnalysis.langIdTrainedSql,
    "quality_gopher" -> graft.operators.CorpusOps.qualityGopherSql,
    "quality_model_score" -> graft.operators.CorpusOps.qualityModelScoreSql,
    "pii_redact" -> graft.operators.CorpusOps.piiRedactSql,
    "sample_mix" -> graft.operators.CorpusOps.sampleMixSql,
    "sample_stratified" -> graft.operators.CorpusOps.sampleStratifiedExactSql,
    "priority_sample" -> graft.operators.CorpusOps.prioritySampleSql,
    "temperature_mix" -> graft.operators.CorpusOps.temperatureMixSql,
    "corpus_report" -> graft.operators.CorpusOps.corpusReportSql,
    "span_corruption" -> graft.operators.CorpusOps.spanCorruptionSql,
    "chunk_docs" -> graft.operators.CorpusOps.chunkDocsSql,
    "token_bpe" -> graft.operators.CorpusOps.tokenBpeSql,
    // oracle unrolls the same merge rounds as static SQL — equality proves
    // the iterative pair election, tie-break and merge application exactly
    "bpe_vocab" -> graft.operators.CorpusOps.bpeVocabSql,
    // encode rides the SAME unrolled rounds (word carried through), so
    // equality proves the trained merges apply identically to every doc
    "bpe_encode" -> graft.operators.CorpusOps.bpeEncodeSql,
    "bpe_roundtrip" -> graft.operators.CorpusOps.bpeRoundtripSql,
    "integrity_audit" -> graft.operators.CorpusOps.integrityAuditSql,
    "corpus_diff" -> graft.operators.CorpusOps.corpusDiffSql,
    "lm_bigram_score" -> graft.operators.CorpusOps.lmBigramScoreSql,
    "lm_trigram_backoff" -> graft.operators.CorpusOps.lmTrigramBackoffSql,
    // integer lottery (lot·src_tokens < remainder·2^16) — bit-identical
    // replication counts, so equality proves the whole mixing plan
    "epoch_mix" -> graft.operators.CorpusOps.epochMixSql,
    // oracle is the partition-less global row_number: equality proves the
    // bucket-decomposed distributed rank ≡ the sequential rank
    "global_shuffle" -> TextAnalysis.globalShuffleSql,
    // same proof shape over the quality ordering (score-prefix buckets)
    "curriculum" -> TextAnalysis.curriculumSql,
    "repeat_scrub" -> graft.operators.CorpusOps.repeatScrubSql,
    "asof_join" -> Relational.asofJoinSql,
    "asof_join_nearest" -> Relational.asofJoinNearestSql,
    "range_join" -> Relational.rangeJoinBucketedSql,
    // oracle = the row_number window query: equality proves the
    // k-bounded partial-merge ranking is exact
    "topk_per_group" -> Relational.topkPerGroupSql,
    "skyline_pareto" -> Relational.skylineParetoSql,
    "grouped_regression" -> Relational.groupedRegressionSql,
    "funnel_conversion" -> Relational.funnelConversionSql,
    "attribution_credit" -> Relational.attributionCreditSql,
    "copurchase_lift" -> Relational.copurchaseLiftSql,
    "rfm_segments" -> Relational.rfmSegmentsSql,
    "session_paths" -> Relational.sessionPathsSql,
    "ab_test" -> Relational.abTestSql,
    "retention_cohorts" -> Relational.retentionCohortsSql,
    "events_anomaly" -> Relational.eventsAnomalySql,
    "changepoint_cusum" -> Relational.changepointCusumSql,
    "acf_lags" -> Relational.acfLagsSql,
    "dq_report" -> Relational.dqReportSql,
    "seasonal_trend" -> Relational.seasonalTrendSql,
    "json_extract_agg" -> Relational.jsonExtractAggSql,
    "pivot_lang_counts" -> Relational.pivotLangCountsSql,
    "unpivot_long" -> Relational.unpivotLongSql,
    "view_click_pairs" -> Relational.viewClickPairsSql,
    "merge_upsert" -> Relational.mergeUpsertSql,
    // oracle is the PLAIN join aggregate: equality proves the bucketed
    // write + co-located join path is result-invariant
    "bucketed_join" -> graft.operators.ScaleLayout.bucketedJoinSql,
    "zorder_layout" -> graft.operators.ScaleLayout.zorderLayoutSql,
    // connected components over the near-dup pair graph; oracle walks the
    // same graph with a recursive CTE — equality proves the star
    // contraction computes exactly the transitive closure
    "dedup_clusters" -> Dedup.dedupClustersSql,
    "pagerank_sim" -> graft.operators.GraphRank.pagerankSimSql,
    "graph_bfs" -> graft.operators.GraphRank.graphBfsSql,
    "graph_triangles" -> graft.operators.GraphRank.graphTrianglesSql,
    "graph_clustering" -> graft.operators.GraphRank.graphClusteringSql,
    "graph_kcore" -> graft.operators.GraphRank.graphKcoreSql,
    "graph_labelprop" -> graft.operators.GraphRank.graphLabelpropSql,
    "dedup_clusters_star" -> Dedup.dedupClustersSql,
    // the distributed-rounds twin shares the oracle: ADVICE r5 — the
    // star-contraction loop itself stays under the DuckDB equality gate
    "dedup_clusters_star_dist" -> Dedup.dedupClustersSql,
    "decontaminate" -> Dedup.decontaminateSql,
    "contamination_report" -> Dedup.contaminationReportSql,
    "doc_fingerprint" -> TextAnalysis.docFingerprintSql,
    "dedup_exact" -> Dedup.dedupExactSql,
    "dup_spans" -> Dedup.dupSpansSql,
    // verified twin: the oracle is the STRING formulation's SQL — equality
    // proves the fingerprinted plan (8-byte gram keys, two-level doc
    // counting) reports byte-identical spans
    "dup_spans_hashed" -> Dedup.dupSpansSql,
    "dup_spans_maximal" -> Dedup.dupSpansMaximalSql,
    "dup_spans_maximal2" -> Dedup.dupSpansMaximal2Sql,
    "dup_spans_maximal_pairwise" -> Dedup.dupSpansMaximalPairwiseSql,
    "doc_novelty" -> Dedup.docNoveltySql,
    "dup_spans_incremental" -> Dedup.dupSpansIncrementalSql,
    "dup_spans_suffix" -> Dedup.dupSpansSuffixSql,
    "dup_spans_suffix_incremental" -> Dedup.dupSpansSuffixIncrementalSql,
    "dup_span_suffix_scrub" -> Dedup.dupSpanSuffixScrubSql,
    "dup_span_scrub" -> Dedup.dupSpanScrubSql,
    "dup_span_scrub_aligned" -> Dedup.dupSpanScrubAlignedSql,
    "decontaminate_scrub" -> Dedup.decontaminateScrubSql,
    // delta-vs-corpus: the gate proves batch-cadence dedup (anti-join on
    // the corpus fingerprint set + delta-internal keeper election)
    "dedup_incremental" -> Dedup.dedupIncrementalSql,
    // verified twin: equality vs the PLAIN incremental SQL proves the
    // bloom pre-filter is transparent (superset probe + exact resolve)
    "dedup_incremental_bloom" -> Dedup.dedupIncrementalSql,
    "dedup_ngram_jaccard" -> Dedup.dedupNgramJaccardSql,
    "dedup_prefix_filter" -> Dedup.dedupPrefixFilterSql,
    "dedup_containment" -> Dedup.dedupContainmentSql,
    "dedup_edit_distance" -> Dedup.dedupEditDistanceSql,
    "fuzzy_join_passjoin" -> Dedup.fuzzyJoinPassjoinSql,
    // the verified LSH twins' oracle IS the exact-Jaccard SQL: equality
    // holds iff the candidate generators caught every true >=0.7 pair on
    // the bounded slice — an end-to-end recall check the driver can see
    "dedup_minhash_verified" -> Dedup.dedupMinhashVerifiedSql,
    "dedup_minhash_incremental" -> Dedup.dedupMinhashIncrementalSql,
    // the banding MECHANISM oracles (r14 verdict task 1): FNV-1a +
    // splitmix64 sketch hashing, banding, and hamming replayed in exact
    // wrapping-64-bit SQL (the lang_id_trained discipline). These gate
    // the arithmetic and candidate-pair sets; the probabilistic part
    // (sketch recall of j>=0.7 truth) stays a ScalaTest pin, NOT an
    // oracle claim — see the dedupSimhashVerified scaladoc.
    "dedup_minhash_lsh" -> Dedup.dedupMinhashLshSql,
    "dedup_simhash" -> Dedup.dedupSimhashSql,
    "dedup_simhash_verified" -> Dedup.dedupSimhashVerifiedSql,
    // oracle from first principles: expected dims/file sizes follow from
    // the format geometry; Spark must reproduce them by really encoding
    // and re-parsing BMP/WAV bytes
    "multimodal_features" -> Multimodal.multimodalFeaturesSql,
    // pixel-exact: the synthesized pixel/sample values are pure integer
    // functions of the text bytes, so resize checksums and frame stats
    // are replayed byte-for-byte from first principles
    "multimodal_resize" -> Multimodal.resizeImagesSql,
    "multimodal_frames" -> Multimodal.audioFramesSql,
    "multimodal_video" -> Multimodal.videoFramesSql,
    "crossmodal_pairs" -> Multimodal.crossModalPairsSql,
    "crossmodal_negatives" -> Multimodal.crossModalNegativesSql,
    // brute-force cross-modal SQL — the end-to-end IVF recall gate
    "crossmodal_retrieval" -> Similarity.crossModalRetrievalSql,
    "retrieval_eval" -> Similarity.retrievalEvalSql,
    "matryoshka_eval" -> Similarity.matryoshkaEvalSql,
    "decontaminate_semantic" -> Similarity.decontaminateSemanticSql,
    "image_phash" -> Multimodal.imagePhashSql,
    // oracle digests the parquet SOURCE; Spark digests the JSONL
    // ROUND-TRIP — equality proves the sharded export/import is lossless
    "jsonl_roundtrip" -> graft.sources.JsonlExport.jsonlRoundtripSql,
    "orc_roundtrip" -> graft.sources.JsonlExport.orcRoundtripSql,
    "schema_evolution" -> graft.sources.JsonlExport.schemaEvolutionSql,
    // oracle digests the parquet SOURCE; Spark digests the WAL SINK
    // round trip — equality proves format + committer are lossless
    "wal_sink_roundtrip" -> graft.sources.WalSink.walSinkRoundtripSql,
    "ann_cosine_topk" -> Similarity.annBruteForceSql,
    "rrf_fusion" -> Similarity.rrfFusionSql,
    "embed_quantize" -> Similarity.embedQuantizeSql,
    // the IVF twins' oracle IS the exact brute-force SQL: equality holds
    // iff the approximate pipeline (centroids, assignment, probe
    // selection at IvfVerifyProbes=6 of 16, pruned scan, re-rank)
    // returns exactly the exact-search top-10 — end-to-end, and for
    // ann_ivf_indexed through the written cluster-partitioned index
    "ann_ivf_verified" -> Similarity.annBruteForceSql,
    "ann_ivf_indexed" -> Similarity.annBruteForceSql,
    // the inline formulation at the production probe width (4 of 16 —
    // recall is NOT total there, so brute force can't be its oracle):
    // its oracle replays the PIPELINE itself — fixed-point Lloyd
    // training, L2-argmin assignment, probe selection, cosine re-rank —
    // which became possible in r16 when ivfCentroids switched from the
    // float avg update to the quantizedLloyd discipline
    "ann_ivf" -> Similarity.annIvfSql,
    "ann_pq" -> Similarity.annPqSql,
    "ann_ivfpq" -> Similarity.annIvfPqSql,
    "embedding_neardup" -> Similarity.embeddingNearDupExactSql,
    // SemDeDup: the oracle replays centroid assignment AND the
    // within-cluster lower-id prune — strict-left-fold cosines make every
    // comparison bit-identical, so equality proves cluster assignment,
    // tie-breaks and keeper election exactly
    "semdedup" -> Similarity.semDedupSql,
    "semdedup_incremental" -> Similarity.semDedupIncrementalSql,
    // oracle replays the sequential per-user admission fold as a
    // recursive CTE carrying the admitted window as a list — equality
    // proves the distributed secondary-sort replay (and therefore the
    // streaming twin, bit-identical by shared admitOne) computes exactly
    // the reference quota semantics, doubles included
    "quota_admission_replay" -> graft.streaming.EventStreams
      .quotaReplaySql(QuotaReplayMax, QuotaReplayWindowUs),
    // the hyperplane-LSH paths are fully deterministic (driver-constant
    // planes + strict-fold projections whose SIGNS are bit-reproducible),
    // so the oracle replays bucketing, candidate generation AND the exact
    // re-rank with the plane values inlined as SQL literals — equality
    // proves the whole approximate pipeline, not just its exact twin
    "ann_lsh" -> Similarity.annLshSql,
    "embedding_neardup_lsh" -> Similarity.embeddingNearDupLshSql,
    // maximal repeats are DEFINABLE by pure occurrence counting — the
    // oracle brute-force-enumerates every token slice and applies the
    // definition, meeting the engine's suffix automaton by theorem
    // (endpos algebra; see the scaladoc): an independent-construction
    // proof in the dup_spans_hashed tradition
    "intradoc_repeats" -> Dedup.intradocRepeatsSql,
    // approx_stats: the remaining native sketch internals (HLL/quantile
    // register merges) aren't DuckDB-expressible → driver records the
    // weaker rows-only check; it has oracle-checked exact twins
    // (percentiles) and ScalaTest error-bound pins against the exact
    // operators. (The minhash/simhash banding rows joined the oracle
    // gate in r15 — their FNV/splitmix arithmetic replays in SQL — and
    // ann_ivf joined in r16 when its coarse training went fixed-point.)
    // bpe_vocab_256 / bpe_vocab_256_batched / bpe_encode_batched:
    // 256 merge rounds are past unrolled-SQL tractability → rows-only,
    // with FULL driver replays (every merge, and for the encoder every
    // document's statistics) pinned in CorpusOpsSpec; bpe_vocab /
    // bpe_encode are the oracle-exact shallow twins of the same loops.
    // pca_project: the Jacobi eigendecomposition (bounded driver work on
    // the collected 64×64 matrix) has no SQL replay → rows-only;
    // pca_covariance is its oracle-exact input twin, and SimilaritySpec
    // pins variance capture, orthonormality, per-component variance =
    // eigenvalue, and partitioning determinism.
    // (intradoc_repeats joined the oracle gate in r15: the maximal-repeat
    // definition is pure occurrence counting, which DuckDB enumerates
    // directly — IntradocRepeatsSpec additionally brute-forces it
    // driver-side over constructed docs and a corpus slice.)
  )
}
