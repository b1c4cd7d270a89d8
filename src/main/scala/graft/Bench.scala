package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

import scala.util.control.NonFatal

/** Benchmark main: times the headline queries on SPARK_GRAFT_SF_DIR and
  * prints ONE JSON line (driver contract).
  *
  * Headline set = one representative per operator category, the shapes
  * whose cost model matters at scale (scan, filter, TPC-H Q1 aggregate,
  * fact⋈fact and broadcast joins, window, top-k, set op, scalars, text
  * pipeline, MinHash LSH, LSH ANN, streaming twins). The deliberately
  * quadratic verification baselines (tagged `scaleExcluded` on their
  * QueryDef: q_dedup_ngram, q_dedup_embed, fixed 8-bit q_dedup_simhash)
  * are correctness fixtures, not performance claims — their scalable
  * twins (q_dedup_minhash, q_sim_lsh, q_dedup_simhash_sized) are what
  * gets timed. The run fails if the headline names a tagged baseline
  * (the tag is mechanical, not a list convention); naming one in
  * SPARK_GRAFT_BENCH_ONLY still runs it.
  *
  * One untimed warm-up query absorbs the JVM and session start-up;
  * each query is then timed in a single run.
  *
  * Evaluation is forced through the noop sink, not `count()`: under a
  * `count(1)` aggregate Catalyst prunes unused projections and drops the
  * final sort, so projection-shaped queries would time only their scan.
  * The noop write evaluates every output column of every row with no
  * driver collect — the honest "run the query" action.
  *
  * The shared shingle frame (the dedup family's cached input) is warmed
  * untimed and released at the end: its fill cost is a once-per-session
  * amortized cost in a real deployment, and attributing it to whichever
  * dedup query happens to run first would double-charge one query.
  */
object Bench {

  /** Evaluates every output column of every row, with no driver collect. */
  def force(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** Forces one entry; a non-fatal failure comes back as its message, a
    * fatal error (an OOM, say) propagates and ends the run. */
  private[graft] def runEntry(spark: SparkSession, sfDir: String,
                              fn: (SparkSession, String) => DataFrame): Option[String] =
    try { force(fn(spark, sfDir)); None }
    catch { case NonFatal(e) =>
      Some(s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").take(200)}")
    }

  /** Untimed warm-ups run before any timing: JVM/codegen/filesystem
    * caches, the dedup family's shared cached shingle frame, and the
    * trained trigram model every scoring pass reuses (once-per-session
    * costs, not per-query). A failed warm-up would silently move its fill
    * into the first timed query, so it fails the run, naming itself. */
  def warmUp(spark: SparkSession, sfDir: String): Unit = Seq[(String, () => DataFrame)](
    "q_scan_parquet" -> (() => SparkEntry.queries("q_scan_parquet")(spark, sfDir)),
    "Dedup.shingleFrame" -> (() => graft.operators.Dedup.shingleFrame(spark, sfDir)),
    "Vocab.lmModel" -> (() => graft.functions.Vocab.lmModel(spark, sfDir))
  ).foreach { case (name, df) =>
    try force(df())
    catch { case NonFatal(e) => throw new IllegalStateException(s"warm-up $name failed on $sfDir", e) }
  }

  val headline: Seq[String] = Seq(
    "q_scan_parquet",
    "q_filter_basic",
    "q_project_expr",
    "q_agg_global",
    "q_agg_group",
    "q_agg_distinct",
    "q_agg_rollup",
    "q_join_inner",
    "q_join_broadcast",
    "q_join_left",
    "q_join_semi",
    "q_join_asof",
    "q_tpch_q3",
    "q_tpch_q5",
    "q_tpch_q6",
    "q_tpch_q17",
    "q_tpch_q18",
    "q_sort_limit",
    "q_topk",
    "q_union_all",
    "q_win_rownum",
    "q_win_lag_lead",
    "q_win_rolling",
    "q_str_funcs",
    "q_date_funcs",
    "q_json_extract",
    "q_text_stats",
    "q_text_fingerprint",
    "q_dedup_hash",
    "q_dedup_minhash",
    "q_sim_lsh",
    "q_sim_ivf",
    "q_sim_cosine",
    "q_agg_pivot",
    "q_agg_percentile",
    "q_split_holdout",
    "q_multimodal_meta",
    "q_stream_tumble",
    "q_stream_session",
    // round 2: one representative per new operator family
    "q_sample_reservoir",
    "q_vocab_topk",
    // approx-distinct twin is the headline; the exact-Expand
    // q_profile_table stays oracle-gated in Verify but isn't timed
    "q_profile_approx",
    "q_ts_resample",
    "q_dedup_cc",
    "q_kmeans",
    // round 2, second wave: audit / relevance / CDC / layout families
    "q_dq_audit",
    "q_dq_entropy",
    "q_tfidf",
    "q_bm25",
    "q_merge_upsert",
    "q_scd2",
    "q_sessionize",
    "q_zorder",
    "q_fuzzy_jw",
    "q_incremental_agg",
    "q_chi2",
    // round 3: PQ codebook family + repetition quality signal. The
    // composed q_ivfpq runs after q_pq_assign and reuses the session's
    // memoized codebook fit — the pipeline shape (fit once, index once,
    // serve probes), so the fit cost is charged once, to the fit entry.
    "q_pq_assign",
    "q_ivfpq",
    "q_text_repetition",
    // round 4: the COUNT-driven sized index variants — timed at every
    // scale point so the lshBitsFor/ivfCellsFor rules are exercised
    // (and their cost observed) as N grows, not just documented
    "q_sim_lsh_scaled",
    "q_sim_ivf_scaled",
    // round 5: the count-driven SimHash is the family's one headline
    // entry — no N²/2⁹ candidate term (the fixed 8-bit setting and the
    // fixed 60/15 wide variant it subsumes stay as oracle fixtures;
    // at sf10 the sizing rule lands on the wide setting by itself)
    "q_dedup_simhash_sized",
    // the composed corpus-prep DAG (pairs → CC → survivors → chunk →
    // pack) — times the stage-REUSE story: its band join comes from the
    // session FrameCache the standalone dedup entries already filled
    "q_pipeline_corpus",
    // BPE merge training loop (k argmax rounds over rewritten corpus)
    "q_bpe_merges",
    // two-level IVF: the N^1.25 build-cost twin of the flat sized IVF
    "q_ivf_hier",
    // round 5, second wave: benchmark decontamination (broadcast eval
    // shingles against the corpus scan), semantic dedup (cell-bounded
    // cosine pairs — N^1.5, not N²), containment verification riding
    // the memoized LSH candidate relation, and language rebalancing
    // (stateless hash-threshold scan). q_bpe_encode stays an oracle
    // fixture: it re-runs the training loop q_bpe_merges already times.
    "q_decontaminate",
    "q_semdedup",
    "q_contain_minhash",
    "q_corpus_balance",
    // incremental corpus update (delta-vs-base dedup riding the
    // memoized pair relation) and percentile-composed winsorization;
    // q_ivf_probe_recall stays a verify-gated measurement like the
    // other recall queries
    "q_dedup_incremental",
    "q_winsorize",
    // exact-substring screen: frequency-capped shared-window equi-join
    // over the memoized 62-bit window-hash relation, plus its
    // content-mod-sampled scale knob riding the same cached frame
    "q_dedup_substring",
    "q_dedup_substring_sampled",
    // round 6: global exact percentiles — the one-group entry whose n
    // crosses the bisection activity trigger (n ≳ 26M) at sf10, so the
    // sweep runs the histogram-bisection round in anger
    "q_agg_percentile_global",
    // round 6, second wave: the corpus-curation operators a production
    // mixture pass adds around dedup — per-source caps, temperature
    // resampling, LM perplexity scoring, embedding-space
    // decontamination, and the deterministic shard-assignment write path
    "q_source_cap",
    "q_mix_temperature",
    "q_lm_score",
    "q_decontaminate_semantic",
    "q_shard_assign",
    // the composed mixture pass (LM filter → cap → balance → shard) —
    // the curation wave's q_pipeline_corpus analogue; reuses the warmed
    // LM model, so the timed cost is the four chained stages
    "q_pipeline_curate",
    // round 6, third wave: the all-nodes k-NN graph build (cell-bounded
    // top-3 edges for EVERY vector — the graph-curation pre-pass)
    "q_knn_graph",
    // round 7: the rest of the graph-curation arc — the mutual-edge
    // filter (reversed-key self-join of the edge relation) and the
    // semantic clusters it feeds (CC + survivor pick); q_semdedup above
    // now rides the same top-k edge relation instead of thresholded
    // within-cell all-pairs
    "q_knn_mutual",
    "q_knn_cluster",
    // round 9: the bloom semi-join prune pair — their entire reason to
    // exist is runtime (reject the non-matching majority before any
    // exchange), so the prune ratio must be a measured claim — and the
    // stream-stream join's batch twin
    "q_join_bloom",
    "q_decontaminate_bloom",
    "q_attrib_last_touch",
    // round 9: sort-based Pareto frontier (the oracle's O(n²) dominance
    // anti-join re-expressed as a two-pass prefix max)
    "q_skyline",
    // round 10: the d-dimensional generalization (cell-grid prune +
    // exact dominance anti-join over the surviving sliver). Entered the
    // headline AFTER the round-10 sweep was committed, so its first
    // swept timings land in round 11; cost is bounded by the fixed
    // 20k-row part table at every current SF.
    "q_skyline_3d",
    // round 10, second wave: both-sides-large retrieval (the cell
    // equi-join of two data-sized relations — rides the same memoized
    // assignment the knn family warms, so the timed cost is the join +
    // rank, which is the claim), the frozen-index delta-absorb pass,
    // and the small-files maintenance rewrite (timed end-to-end:
    // fragment + coalesce rewrite + manifest read-back — maintenance
    // I/O is a real cost a 100 TB table pays continuously)
    "q_ann_join",
    "q_semdedup_incremental",
    "q_compact",
    // round 10, fourth wave: the trained curation model — k full-batch
    // GD rounds, each one map-side-combined aggregate over the cached
    // feature frame (the treeAggregate shape); the timed cost is the
    // feature scan + k tiny agg jobs
    "q_quality_classifier",
    // hilbert layout: same write-cost shape as q_zorder (per-row
    // integer encode + the envelope fold), tighter envelopes
    "q_hilbert",
    // count-min matrix build + probes: the fixed-state sketch pass
    "q_cm_sketch",
    // the custom-planned broadcast range join (log m probe vs BNLJ)
    "q_join_range_bcast",
    // the same exec in asof mode, oracle'd against DuckDB's ASOF JOIN
    "q_join_asof_bcast",
    // round 11: the widened TPC-H surface — semi (Q4), two-nation OR
    // (Q7), share ratio (Q8), returns top-20 (Q10), outer-join
    // distribution (Q13), zero-shuffle promo share (Q14), agg-then-max
    // (Q15), disjunctive join (Q19), memoized double-anti (Q21),
    // anti + scalar avg (Q22)
    "q_tpch_q4", "q_tpch_q7", "q_tpch_q8", "q_tpch_q10", "q_tpch_q13",
    "q_tpch_q14", "q_tpch_q15", "q_tpch_q19", "q_tpch_q21", "q_tpch_q22",
    // round 11: corpus scrubbing (3 regexp passes, stateless scan) and
    // the blocked sorted-neighborhood near-dup window
    "q_pii_redact",
    "q_dedup_sorted_neighborhood",
    // round 11: filtered vector search (pre-filtered cell candidates
    // vs brute filtered ground truth), the simplified silhouette
    // (K broadcast distances/point), LPA communities (3 message
    // rounds), the KMV distinct sketch (keyed k-smallest + TakeOrdered
    // union), the Markov transition matrix (one per-user window), and
    // the JPEG marker codec (per-row build+parse)
    "q_ann_filtered",
    "q_kmeans_silhouette",
    "q_graph_labelprop",
    "q_kmv_sketch",
    "q_event_transitions",
    "q_media_jpeg",
    // round 11, second wave: DP count release (threshold-table noise,
    // stateless), linear gap interpolation (two per-user windows),
    // dynamic partition overwrite (write-path, timed end-to-end like
    // q_compact), greedy k-center (k incremental dot passes), int8
    // quantization stats (one explode + per-dim agg), per-group OLS
    // (one moment-sum pass)
    "q_dp_counts",
    "q_ts_interpolate",
    "q_write_dynamic",
    "q_sample_kcenter",
    "q_emb_int8",
    "q_ols_group",
    // round 11, third wave: the hashing-trick bucket rollup (one
    // explode + 256-group agg), per-source KL drift (two keyed aggs +
    // broadcast-back), personalized pagerank (3 quantized rounds over
    // the pair graph)
    "q_feature_hash",
    "q_kl_sources",
    "q_graph_ppr",
    // round 11, fourth wave: sketch-based join-size estimation (two
    // widths, digest cost ∝ distinct keys) and per-user burstiness
    // (one lag window + moment sums)
    "q_join_card_est",
    "q_ts_burstiness",
    // round 11, fifth wave: Q12/Q9 (one fact shuffle each), sequence
    // matching (one keyed compress + regex scans), k-anonymity ladder
    // (three class-level aggs), freshness (one keyed agg + broadcast
    // head), CDC ordered apply (one window pass), 3-hop multi-source
    // BFS (3 frontier joins), MMR re-rank (TakeOrdered candidates + 4
    // bounded greedy rounds), integer EWMA (fold over daily aggregate)
    "q_tpch_q12",
    "q_tpch_q9",
    "q_seq_match",
    "q_kanon",
    "q_dq_freshness",
    "q_cdc_apply",
    "q_graph_bfs",
    "q_rank_mmr",
    "q_ts_ewma",
    // round 11, sixth wave: RFM (three distributed-ntile scorings over
    // one checkpointed customer frame), A/B z-test (two keyed aggs),
    // association rules (pair self-join + two support joins), Gini per
    // nation (nation-partitioned rank + moment sums), Benford audit
    // (stateless scan → 9-group agg), weighted SSSP (3 relax rounds),
    // WoW growth (one keyed agg + per-type lag)
    "q_rfm",
    "q_ab_test",
    "q_assoc_rules",
    "q_gini_nation",
    "q_benford",
    "q_graph_sssp",
    "q_ts_pop",
    // round 11, seventh wave: TWAP (one lead window + keyed moments),
    // seasonal anomaly (two (type,dow)-keyed aggs + join), action
    // trigrams (two lags on one window pass), churn rollup (keyed agg
    // + broadcast head), k-core (3 peel rounds: degree agg + two
    // endpoint joins each)
    "q_ts_twap",
    "q_ts_seasonal",
    "q_seq_trigrams",
    "q_churn",
    "q_graph_kcore",
    // round 11, eighth wave: the TPC-H completion — Q2/Q11/Q16/Q20
    // adapted to the reconstructed-partsupp relation (pair-distinct
    // fact shuffle + broadcast dims; Q2 adds a per-part rank window,
    // Q11 a 1-row total broadcast, Q16 a countDistinct, Q20 a second
    // pruned fact rollup)
    "q_tpch_q2",
    "q_tpch_q11",
    "q_tpch_q16",
    "q_tpch_q20",
    // round 11, ninth wave: item-CF (capped per-customer pair join),
    // link prediction (middle-vertex 2-path join), trained NB lang
    // classifier (model keyed join against exploded test tokens),
    // ACF (lag-spine self-join over the daily aggregate), CUSUM
    // (per-type cumulative window + rank)
    "q_rec_itemcf",
    "q_graph_linkpred",
    "q_nb_lang",
    "q_ts_acf",
    "q_ts_cusum",
    // round 11, tenth wave: spatial grid join (×9 cell fan-out of the
    // small side), bitmap exact distinct (word-keyed bit_or fold),
    // LDP randomized response (two md5 coins + spine join), weekly
    // stickiness (one (day,user) distinct + two rollups)
    "q_join_spatial",
    "q_agg_bitmap",
    "q_ldp_freq",
    "q_stickiness",
    // round 11, eleventh wave: MIPS top-k (broadcast queries + two
    // per-query rank windows), 2-D PCA (one exact moment agg), the
    // seasonal-naive backtest (keyed agg + per-type lag window),
    // conversion latency (two keyed aggs + global rollup)
    "q_sim_mips",
    "q_pca_2d",
    "q_ts_forecast",
    "q_funnel_time",
    // round 11, twelfth wave: vocab coverage (TakeOrdered vocab +
    // broadcast probe), Zipf OLS fit (head-only moments), knn label
    // noise (fifth consumer of the memoized edge frame), Welch t-test
    // (two fact aggs), LOO target encoding (keyed agg broadcast back)
    "q_vocab_coverage",
    "q_text_zipf",
    "q_knn_label_noise",
    "q_welch_ttest",
    "q_feature_target_enc",
    // round 11, thirteenth wave: Poisson bootstrap (16-replicate
    // explode, one pass), degree assortativity (two degree joins +
    // moment agg), outage gaps (hour-domain lag window)
    "q_sample_bootstrap",
    "q_graph_assortativity",
    "q_ts_gaps",
    // round 11, fourteenth wave: prefix-filtering exact set-similarity
    // join (rare-token candidate join), n-gram novelty (one min-keyed
    // shuffle on the memoized shingles), content-defined chunking
    // (stateless scan), KS + Mann-Whitney (shared memoized two-pass
    // distributed CDF)
    "q_dedup_prefix_filter",
    "q_ngram_novelty",
    "q_cdc_chunks",
    "q_ks_test",
    "q_mannwhitney",
    // round 11, fifteenth wave: ROC AUC (rank-sum over the PrefixSums
    // score CDF), survival life table (user-keyed agg + day-domain
    // windows), Markov next-event predictor, l-diversity audit,
    // zone-map pruning effectiveness (two 32-zone layouts, one scan
    // each)
    "q_roc_auc",
    "q_survival",
    "q_markov_acc",
    "q_ldiversity",
    "q_zonemap_prune",
    // round 11, sixteenth wave: grid DBSCAN (COUNT-gated point set,
    // 3x3-cell candidate join, shared CC machinery), dynamic partition
    // pruning join (write + DPP-filtered scan), skew audit (keyed
    // count + TakeOrdered)
    "q_dbscan_grid",
    "q_join_dpp",
    "q_skew_audit",
    // round 11, seventeenth wave: classifier calibration (decile
    // reliability + Brier), WOE/IV feature screen, t-closeness EMD
    // audit, null-aware anti join (NAAJ plan pin), watermark late-data
    // accounting (two-pass prefix max)
    "q_calibration",
    "q_feature_woe",
    "q_tcloseness",
    "q_join_null_aware",
    "q_stream_late",
    // round 11, eighteenth wave: modularity of the LPA communities
    // (exact BIGINT numerator), existence join (IN under OR — one hash
    // probe, never a re-executed subquery)
    "q_graph_modularity",
    "q_join_existence",
    // round 11, nineteenth wave: NDCG@10 over the memoized BM25 frame,
    // bounded-frame rolling median, parquet mergeSchema evolution scan
    "q_rank_ndcg",
    "q_ts_rolling_median",
    "q_scan_merge_schema",
    // round 11, twentieth wave: PSI drift monitor between time slices
    "q_profile_psi",
    // round 12, first wave: mergeable HLL sketches (per-day build +
    // stored-sketch union rollup), Holt level+trend smoothing (keyed
    // fold, 2-BIGINT state), Mahalanobis outliers (one exact moment agg
    // + stateless scan + TakeOrdered 20), mix-shift decomposition (one
    // broadcast dim join + one (segment, period) agg)
    "q_agg_hll_merge",
    "q_ts_holt",
    "q_stat_mahalanobis",
    "q_mix_decompose",
    // round 12, second wave: embedding drift monitor (one explode agg
    // + label-pair algebra on exact integer sums) and incremental
    // sessionization (per-user carry state + one keyed left join; the
    // oracle pins incremental == one-shot). q_dedup_lsh_recall stays a
    // verify-gated evaluation entry: its ground-truth side is the N²
    // baseline, tagged scaleExcluded.
    "q_emb_drift",
    "q_sessionize_incremental",
    // round 12, third wave: rolling MAU from stored daily sketches
    // (union of 7 few-KB sketches/day vs 7x raw re-scan), the GDPR
    // retention rewrite (broadcast anti join + partitioned overwrite,
    // audit from the read-back), and the SCD2 point-in-time read
    "q_agg_hll_rolling",
    "q_write_retention",
    "q_scd2_asof",
    // round 12, fourth wave: partition-spec evolution scan (day + month
    // layouts, pruned independently, write + read timed end-to-end),
    // exact distributed weighted percentile (per-(group, value) weight
    // collapse + distinct-domain window), dedup threshold operating
    // curve (11-row window over the memoized pair relation)
    "q_part_evolution",
    "q_agg_wpercentile",
    "q_dedup_threshold_curve",
    // round 12, fifth wave: PCM feature extraction inside the audio
    // payloads (batched mapPartitions decode, exact integer energies)
    "q_media_audio_energy",
    // round 12, sixth wave — entered the headline AFTER the round-12
    // sweep was committed, so their first swept timings land in round
    // 13 (the q_skyline_3d precedent): the PIT multi-feature
    // enrichment (k features, ONE union-window pass — plan-pinned) and
    // the per-source dedup impact report (one keyed agg over the
    // memoized survivor relation)
    "q_join_pit",
    "q_corpus_dedup_report",
    // mergeable histogram sketches (quantile analog of q_agg_hll_merge)
    "q_agg_hist_merge",
    // round 12 (driver numbering): the cross-session sketch store, the
    // transactional-manifest family, and the CART stump — all carry
    // committed 4-point mini-sweep medians from the day they landed
    // (that sweep report lives in git history; see BASELINE.md)
    "q_agg_hll_persist",
    "q_tx_commit",
    "q_tx_timetravel",
    "q_tx_vacuum",
    "q_tx_stream_sink",
    "q_tx_schema_evolve",
    "q_tx_compact",
    "q_tx_quarantine",
    "q_tx_dataskip",
    "q_tx_merge",
    "q_tx_delete_vectors",
    "q_ml_stump",
    // round 13: manifest stats pruning a JOIN (metadata-join pattern),
    // metadata-only RESTORE, and the file-diff change data feed
    "q_tx_join_prune",
    "q_tx_restore",
    "q_tx_cdf",
    "q_tx_dataskip_compact",
    "q_tx_bloom_index")

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = GraftSession.create(cpus)

    // the deliberately quadratic verification baselines carry a
    // QueryDef tag, not a list convention — the headline must not
    // name one (an explicit BENCH_ONLY naming still runs it)
    val excluded = SparkEntry.allDefs.filter(_.scaleExcluded).map(_.name).toSet
    val names = sys.env.get("SPARK_GRAFT_BENCH_ONLY") match {
      // dev knob: time a comma-separated subset without the full sweep
      case Some(only) => only.split(',').toSeq.filter(SparkEntry.queries.contains)
      case None => headline.filter(SparkEntry.queries.contains)
    }
    require(headline.forall(!excluded(_)),
      s"headline contains scale-excluded baselines: ${headline.filter(excluded)}")

    warmUp(spark, sfDir)

    // A query that throws must NOT be recorded as a ~0 s timing (it
    // would *improve* the total): failures go to a separate `errors`
    // map, are excluded from `queries` and the total, and fail the run
    // with a non-zero exit so a broken query is loud, not fast.
    val benchT0 = System.nanoTime()
    val results = names.map { name =>
      val t0 = System.nanoTime()
      val err = runEntry(spark, sfDir, SparkEntry.queries(name))
      (name, (t0 - benchT0) / 1e9, (System.nanoTime() - t0) / 1e9, err)
    }
    graft.FrameCache.release(spark)
    def jstr(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val ok = results.filter(_._4.isEmpty)
    val failed = results.collect { case (k, _, _, Some(m)) => k -> m }
    val qs = ok.map { case (k, _, v, _) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val errs = failed.map { case (k, m) => "\"" + k + "\":" + jstr(m) }
      .mkString("{", ",", "}")
    val total = ok.map(_._3).sum
    println(s"""{"metric":"total","kind":"full","value":$total,"unit":"sec","queries":$qs,"errors":$errs,"sf":"$sfDir"}""")
    // Compact trailing line: the driver keeps only the LAST ~2000 chars
    // of stdout, so the full per-query line above (>>2000 chars at 170+
    // headline entries) arrives headless and unparseable (the round-9
    // and round-10 driver records both landed with parsed:null). This
    // line carries the total, the entry count, every error, and the
    // slowest 40 entries at 3-decimal precision — sized to survive the
    // tail capture whole. Both lines
    // keep "metric":"total" (the driver's tail parser keys on it); the
    // "kind" field is what distinguishes them — sweep.py selects
    // kind=="full" by key instead of the old longest-line heuristic,
    // which could mis-pick the compact line on small --only subsets.
    // r14 addition (additions-only — names/values unchanged): the
    // `start_s` array carries each top-40 entry's start offset from
    // bench t0 (seconds, same order as `queries`), so a host-contention
    // episode (r13's three contiguous 20-50 s outliers) is diagnosable
    // from the surviving tail alone: contaminated entries cluster in
    // start-time, real regressions don't. ~300 chars; the line stays
    // under the ~2000-char tail capture.
    val topEntries = ok.sortBy(-_._3).take(40)
    val top = topEntries
      .map { case (k, _, v, _) => "\"" + k + "\":" + f"$v%.3f" }
      .mkString("{", ",", "}")
    val starts = topEntries.map { case (_, st, _, _) => f"$st%.0f" }
      .mkString("[", ",", "]")
    println(s"""{"metric":"total","kind":"compact","value":${f"$total%.3f"},"unit":"sec","n_queries":${ok.size},"queries":$top,"start_s":$starts,"errors":$errs,"sf":"$sfDir"}""")
    spark.stop()
    if (failed.nonEmpty) {
      failed.foreach { case (k, m) => System.err.println(s"[bench] $k FAILED: $m") }
      sys.exit(1)
    }
  }
}
