package graft

import org.scalatest.funsuite.AnyFunSuite

/** Plan contracts: the physical-plan properties the 100 TB story rests
  * on, asserted on the executed plans so a refactor that silently
  * reintroduces a cartesian product, a lost broadcast, or a global sort
  * fails CI — not a bench run three rounds later.
  */
class PlanSpec extends AnyFunSuite with SparkSuite {

  private val dir = "/root/testdata/sf0.001"

  private def planOf(name: String): String =
    SparkEntry.queries(name)(spark, dir).queryExecution.executedPlan.toString

  /** Queries whose joins must all be broadcast (small side is a probe /
    * centroid / band-key table) — a SortMergeJoin here means the small
    * side stopped broadcasting and the corpus started shuffling. */
  private val broadcastOnly = Seq("q_knn_bruteforce", "q_ann_ivf", "q_ann_pq", "q_evaluator",
    "q_doc_filter", "q_residual_prob", "q_metrics_prob", "q_metrics_interval")

  test("probe/centroid joins stay broadcast — the corpus never shuffles for them") {
    broadcastOnly.foreach { q =>
      val p = planOf(q)
      assert(!p.contains("SortMergeJoin"), s"$q grew a SortMergeJoin:\n$p")
      assert(p.contains("Broadcast"), s"$q lost its broadcast join:\n$p")
    }
  }

  test("no unintended cartesian products anywhere in the suite's plans") {
    // BroadcastNestedLoopJoin of a broadcast probe/blockpair side is the
    // intended all-pairs shape; CartesianProduct (both sides shuffled)
    // never is.
    // q_stream_* run an embedded streaming replay whose returned plan is
    // just the memory-sink scan — executing them here costs seconds and
    // asserts nothing; their batch-side plans are covered via the twins
    SparkEntry.queries.keys.toSeq.sorted.filterNot(_.startsWith("q_stream_")).foreach { q =>
      val p = planOf(q)
      assert(!p.contains("CartesianProduct"), s"$q plans a CartesianProduct:\n$p")
    }
  }

  test("top-k queries compile to WindowGroupLimit (rank pushed below the exchange)") {
    Seq("q_knn_bruteforce", "q_ann_ivf", "q_ann_pq", "q_ann_pq_rerank", "q_knn_lsh").foreach { q =>
      val p = planOf(q)
      assert(p.contains("WindowGroupLimit"), s"$q lost its WindowGroupLimit:\n$p")
    }
  }

  test("r10: multimodal decodes are pure map plans — zero exchanges") {
    Seq("q_multimodal_decode", "q_multimodal_wav").foreach { q =>
      val p = planOf(q)
      assert(!p.contains("Exchange"), s"$q grew a shuffle — decode must stay map-side:\n$p")
    }
  }

  test("r11: real frame demux stays a pure map plan — zero exchanges") {
    val p = planOf("q_multimodal_frames")
    assert(!p.contains("Exchange"), s"q_multimodal_frames grew a shuffle — demux+sample must stay map-side:\n$p")
  }

  test("r11: LSH-candidate density variants never nest loops — banding is a key-equality join") {
    Seq("q_dbscan_lsh", "q_label_spread_lsh").foreach { q =>
      val p = planOf(q)
      assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("CartesianProduct"),
        s"$q's eps-graph must come from the banded key-equality join, not an all-pairs scan:\n$p")
    }
  }

  test("r10: robust STL joins its median store broadcast, never a SortMergeJoin") {
    val p = planOf("q_decompose_stl_robust")
    assert(!p.contains("SortMergeJoin"), s"median store stopped broadcasting:\n$p")
    assert(p.contains("Broadcast"), s"median store lost its broadcast join:\n$p")
  }

  test("r10: fixed-budget probe samples compile to TakeOrderedAndProject, not a global sort") {
    Seq("q_knn_bruteforce", "q_hard_negatives", "q_lof").foreach { q =>
      val p = planOf(q)
      assert(p.contains("TakeOrderedAndProject"),
        s"$q's probe cap lost its top-k plan (md5-rank cap must not be a full Sort):\n$p")
    }
  }

  test("aggregation-heavy queries keep map-side partial aggregation") {
    Seq("q_evaluator", "q_feat_basic", "q_metrics").foreach { q =>
      val p = planOf(q)
      // partial+final pairs show up as >= 2 HashAggregates around the shuffle
      assert("HashAggregate".r.findAllIn(p).size >= 2, s"$q lost partial aggregation:\n$p")
    }
  }

  test("scans prune to the needed columns") {
    // q_text_tokens needs only (doc_id, text) of the 5-column documents table
    val p = planOf("q_text_tokens")
    val read = "ReadSchema: [^\n]*".r.findFirstIn(p).getOrElse("")
    assert(read.contains("doc_id") && read.contains("text") && !read.contains("lang"),
      s"q_text_tokens reads more than it needs: $read")
  }

  test("serving operators stay within their shuffle budget") {
    // windowed/collected serving plans: everything hangs off the series
    // key, so at most two shuffle exchanges (hourly reduce + series
    // window/collect) regardless of data size
    Seq("q_stat_sig_serve", "q_dist_distance_serve", "q_cusum_serve", "q_ingest_e2e").foreach { q =>
      val p = planOf(q)
      val shuffles = "Exchange (hash|range)partitioning".r.findAllIn(p).size
      assert(shuffles <= 2, s"$q grew to $shuffles shuffle exchanges:\n$p")
    }
  }

  test("ingest-pipeline plans keep their scale shape") {
    // q_text_scrub is a pure map-side rewrite: zero shuffles
    val scrub = planOf("q_text_scrub")
    assert(!scrub.contains("Exchange"), s"q_text_scrub grew a shuffle:\n$scrub")
    // q_pack_sequences is ONE window shuffle keyed by the pack stream
    val pack = planOf("q_pack_sequences")
    assert("Exchange".r.findAllIn(pack).size == 1, s"q_pack_sequences should shuffle exactly once:\n$pack")
    // q_dedup_bloom keeps the bloom probe as a pre-join Filter so
    // bloom-negative rows never reach the exchange. In the printed plan
    // tree children render BELOW their parent, so a probe that is a join
    // INPUT prints after the join node; a probe applied to the join
    // OUTPUT would print before it.
    val bloom = planOf("q_dedup_bloom")
    val probeAt = bloom.indexOf("might_contain")
    val joinAt = bloom.indexOf("HashJoin")
    assert(probeAt >= 0, s"q_dedup_bloom lost its bloom probe:\n$bloom")
    assert(joinAt >= 0 && probeAt > joinAt,
      s"q_dedup_bloom's bloom probe must sit BELOW the confirm join (filter the join input):\n$bloom")
  }

  test("tokenizer-pack plans keep their scale shape") {
    // q_bpe_encode: encoding is a compiled map pass — the ONLY exchange
    // is the per-source aggregate, and the cascade is a literal argument
    // to bpe_token_count (no lambda machinery in the plan)
    val enc = planOf("q_bpe_encode")
    assert("Exchange (hash|range)partitioning".r.findAllIn(enc).size == 1,
      s"q_bpe_encode should shuffle exactly once (the source aggregate):\n$enc")
    assert(enc.contains("bpe_token_count"), s"q_bpe_encode lost the native expression:\n$enc")
    assert(!enc.contains("LambdaFunction"), s"q_bpe_encode reintroduced HOF lambdas:\n$enc")
    // q_quality_bins: everything hangs off the source key — the ntile
    // window and the (source, bin) aggregate, nothing more
    val qb = planOf("q_quality_bins")
    assert("Exchange (hash|range)partitioning".r.findAllIn(qb).size <= 2,
      s"q_quality_bins grew beyond window + aggregate:\n$qb")
    // q_mix_weights: the only real shuffle is the per-source token
    // aggregate; the #sources-row normalization joins must all broadcast
    val mw = planOf("q_mix_weights")
    assert(!mw.contains("SortMergeJoin"),
      s"q_mix_weights normalization joins must broadcast, not sort-merge:\n$mw")
  }

  test("sketch-pack plans keep their scale shape") {
    // q_sketch_distinct: the sketch aggregation must partial-aggregate
    // (sketch states merge across the shuffle, the events don't move raw)
    val sd = planOf("q_sketch_distinct")
    assert(sd.toLowerCase.contains("partial_kmv"),
      s"q_sketch_distinct lost partial sketch aggregation:\n$sd")
    // q_sketch_quantiles: the range relation joins by broadcast — a
    // sort-merge here would shuffle the full events table twice
    val sq = planOf("q_sketch_quantiles")
    assert(!sq.contains("SortMergeJoin"),
      s"q_sketch_quantiles range join must broadcast:\n$sq")
    // q_sample_weighted: global top-k compiles to TakeOrderedAndProject
    // (per-partition top-k + k-row driver merge), never a global sort
    val sw = planOf("q_sample_weighted")
    assert(sw.contains("TakeOrderedAndProject"),
      s"q_sample_weighted must plan a distributed top-k:\n$sw")
    // q_heavy_hitters: pass 1 folds tokens into MG states map-side
    // (partial_mg before the single-row merge) and pass 2's candidate
    // join must broadcast — a sort-merge would shuffle the token stream
    // the sketch exists to avoid
    val hh = planOf("q_heavy_hitters")
    assert(hh.toLowerCase.contains("partial_mg"),
      s"q_heavy_hitters lost partial MG aggregation:\n$hh")
    assert(!hh.contains("SortMergeJoin"),
      s"q_heavy_hitters candidate join must broadcast:\n$hh")
  }

  test("round-9 pack plans keep their scale shape") {
    // q_oov_rate: global top-K vocab must be TakeOrderedAndProject (never
    // a full sort) and the 2000-row vocab must broadcast onto the
    // (source, type) relation
    val oov = planOf("q_oov_rate")
    assert(oov.contains("TakeOrderedAndProject"),
      s"q_oov_rate vocab top-K lost TakeOrderedAndProject:\n$oov")
    assert(oov.contains("Broadcast"), s"q_oov_rate vocab join must broadcast:\n$oov")
    // q_leadtime: exact quantiles by value-domain counting — the only
    // sorts allowed are the tiny (priority, days)-level window sorts AFTER
    // the count aggregation, never a sort of the joined fact rows
    val lt = planOf("q_leadtime")
    assert("HashAggregate".r.findAllIn(lt).size >= 2,
      s"q_leadtime lost partial aggregation:\n$lt")
    // q_elasticity: the positivity filters must reach the lineitem scan
    val el = planOf("q_elasticity")
    val pushed = "PushedFilters: [^\n]*".r.findAllIn(el).mkString
    assert(pushed.contains("l_quantity") || pushed.contains("IsNotNull"),
      s"q_elasticity filters not pushed to scan:\n$el")
    // q_cointegration: the 10-row coefficient table must broadcast back
    // onto the pair rows
    val co = planOf("q_cointegration")
    assert(co.contains("Broadcast"), s"q_cointegration fit join must broadcast:\n$co")
    // q_kalman_level / q_binseg: one series-keyed shuffle, no sort-merge
    Seq("q_kalman_level", "q_binseg").foreach { q =>
      val p = planOf(q)
      assert(!p.contains("SortMergeJoin"), s"$q grew a join:\n$p")
    }
  }

  test("econ/ab/ops pack plans keep their scale shape") {
    // q_cuped / q_ab_winsorized: the 1-row pooled-stat and cap tables must
    // broadcast onto the user relation — never shuffle users against them
    Seq("q_cuped", "q_ab_winsorized", "q_churn_hazard", "q_cohort_ltv").foreach { q =>
      val p = planOf(q)
      assert(p.contains("Broadcast"), s"$q lost its 1-row/dim broadcast:\n$p")
      assert(!p.contains("SortMergeJoin"), s"$q grew a SortMergeJoin:\n$p")
    }
    // value-domain quantile lookups: partial aggregation must survive
    Seq("q_newsvendor", "q_price_index", "q_srm").foreach { q =>
      val p = planOf(q)
      assert("HashAggregate".r.findAllIn(p).size >= 2,
        s"$q lost partial aggregation:\n$p")
    }
    // per-series moment diagnostics: exactly one series-keyed exchange
    // feeding the moment aggregate (plus at most the output coalesce)
    Seq("q_durbin_watson", "q_arch_lm").foreach { q =>
      val p = planOf(q)
      assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
        s"$q grew a join:\n$p")
      assert("Exchange hashpartitioning".r.findAllIn(p).size <= 2,
        s"$q shuffles more than the series key:\n$p")
    }
  }

  test("signal/panel/scan/corpus pack plans keep their scale shape") {
    // hour-keyed market joins + moment aggregates: no sort-merge blowup
    Seq("q_market_beta", "q_transfer_entropy", "q_variance_ratio", "q_mosum",
      "q_boxcox", "q_friedman").foreach { q =>
      val p = planOf(q)
      assert(!p.contains("CartesianProduct"), s"$q plans a CartesianProduct:\n$p")
    }
    // per-series sliding/moment passes: bounded shuffle count
    Seq("q_variance_ratio", "q_ess", "q_record_stats").foreach { q =>
      val p = planOf(q)
      assert("Exchange hashpartitioning".r.findAllIn(p).size <= 2,
        s"$q shuffles more than the series key:\n$p")
    }
    // value-domain lookups + datasheets keep partial aggregation
    Seq("q_hill_tail", "q_dataset_card", "q_skew_diag", "q_lorenz_deciles").foreach { q =>
      val p = planOf(q)
      assert("HashAggregate".r.findAllIn(p).size >= 2,
        s"$q lost partial aggregation:\n$p")
    }
    // broadcast contracts: threshold grids / 1-row stats onto fact rows
    // (q_erlang_c is joinless — one aggregate + a scalar kernel)
    Seq("q_alert_budget", "q_cooks_distance").foreach { q =>
      val p = planOf(q)
      assert(p.contains("Broadcast"), s"$q lost its broadcast:\n$p")
      assert(!p.contains("SortMergeJoin"), s"$q grew a SortMergeJoin:\n$p")
    }
  }

  test("props-profile keeps JSON extraction inside one codegen'd scan pass") {
    val p = planOf("q_props_profile")
    assert(p.contains("get_json_object"), s"q_props_profile lost the native JSON path:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 2,
      s"q_props_profile lost partial aggregation:\n$p")
    assert("Exchange (hash|range)partitioning".r.findAllIn(p).size <= 2,
      s"q_props_profile must stay one groupBy (plus distinct expand):\n$p")
    val read = "ReadSchema: [^\n]*".r.findFirstIn(p).getOrElse("")
    assert(read.contains("props") && !read.contains("user_id"),
      s"q_props_profile reads more than it needs: $read")
  }

  test("stability pack plans keep their scale shape") {
    // per-series window + moment passes: series-keyed shuffles only,
    // never a join (the candidate-break sweep is closed-form per row)
    Seq("q_chow_test", "q_quandt_andrews", "q_ewma_chart").foreach { q =>
      val p = planOf(q)
      assert(!p.contains("SortMergeJoin") && !p.contains("CartesianProduct"),
        s"$q grew a join:\n$p")
      assert("Exchange hashpartitioning".r.findAllIn(p).size <= 2,
        s"$q shuffles more than the series key:\n$p")
    }
    // the 1-row midpoint must broadcast onto the event stream
    val pr = planOf("q_poisson_rate")
    assert(pr.contains("Broadcast"), s"q_poisson_rate lost its 1-row broadcast:\n$pr")
    assert(!pr.contains("SortMergeJoin"), s"q_poisson_rate grew a SortMergeJoin:\n$pr")
    // the k-group reduction keeps map-side partial aggregation
    val an = planOf("q_anova")
    assert("HashAggregate".r.findAllIn(an).size >= 2,
      s"q_anova lost partial aggregation:\n$an")
  }

  test("quality + multivariate pack plans keep their scale shape") {
    // code routing is a pure scan pass: no shuffle, no join
    val cd = planOf("q_code_detect")
    assert(!cd.contains("Exchange") && !cd.contains("Join"),
      s"q_code_detect must stay scan-only:\n$cd")
    // boilerplate/ttr: exploded shingle groupBy keeps partial aggregation,
    // never a cartesian (the df join is key-equality on (source, shingle))
    Seq("q_boilerplate", "q_ttr").foreach { q =>
      val p = planOf(q)
      assert(!p.contains("CartesianProduct"), s"$q plans a CartesianProduct:\n$p")
      assert("HashAggregate".r.findAllIn(p).size >= 2,
        s"$q lost partial aggregation:\n$p")
    }
    // top-20 anomaly ranking must be a distributed top-k, and the
    // 5-row covariance table must broadcast onto the hourly rows
    val pa = planOf("q_pca_anomaly")
    assert(pa.contains("TakeOrderedAndProject"),
      s"q_pca_anomaly top-20 lost TakeOrderedAndProject:\n$pa")
    val mh = planOf("q_mahalanobis")
    assert(mh.contains("Broadcast"), s"q_mahalanobis lost its broadcast:\n$mh")
    assert(!mh.contains("SortMergeJoin"), s"q_mahalanobis grew a SortMergeJoin:\n$mh")
  }

  test("dependence pack plans keep their scale shape") {
    // pair generation is a key-equality join (ts alignment), reduced by
    // per-pair kernels / rank windows — never a cartesian product
    Seq("q_kendall", "q_spearman").foreach { q =>
      val p = planOf(q)
      assert(!p.contains("CartesianProduct"), s"$q plans a CartesianProduct:\n$p")
      assert("HashAggregate".r.findAllIn(p).size >= 2,
        s"$q lost partial aggregation:\n$p")
    }
    // the DTW pair join is a broadcast nested loop over the #series-row
    // collected frame, never a CartesianProduct
    val dm = planOf("q_dtw_matrix")
    assert(!dm.contains("CartesianProduct"), s"q_dtw_matrix plans a CartesianProduct:\n$dm")
    assert(dm.contains("Broadcast"), s"q_dtw_matrix lost its broadcasts:\n$dm")
    // the MMD quadruple joins are key-equality on the quadruple index,
    // and the 1-row midpoint/bandwidth tables must broadcast
    val md = planOf("q_mmd_drift")
    assert(!md.contains("CartesianProduct"), s"q_mmd_drift plans a CartesianProduct:\n$md")
    assert(md.contains("Broadcast"), s"q_mmd_drift lost its 1-row broadcasts:\n$md")
  }

  test("nonparametric pack plans keep their scale shape") {
    // rank machinery is window passes over series-keyed shuffles; the
    // energy pair generators are key-equality self-joins — no cartesian
    Seq("q_mann_whitney", "q_cvm_test", "q_energy_dist").foreach { q =>
      val p = planOf(q)
      assert(!p.contains("CartesianProduct"), s"$q plans a CartesianProduct:\n$p")
    }
    // the hourly series pipelines pay ONE series-keyed exchange, the
    // resample's spread: the hourly aggregate, the dense grid and the
    // kernel's collect all run in its partitions, and the grid needs no join
    Seq("q_huber", "q_cusum", "q_arima", "q_bocpd", "q_fill_gaps", "q_holtwinters").foreach { q =>
      val p = planOf(q)
      assert("Exchange hashpartitioning\\(event_type".r.findAllIn(p).size == 1,
        s"$q should shuffle exactly once, by series:\n$p")
      assert(!p.contains("Join") && !p.contains("BroadcastExchange"), s"$q grew a join:\n$p")
    }
  }

  test("monitoring + spectral pack plans keep their scale shape") {
    // calibration bins are map-side (fixed-width, no sort); the trained
    // 5-double model and the bin frame broadcast
    val cb = planOf("q_calibration")
    assert(!cb.contains("CartesianProduct"), s"q_calibration plans a CartesianProduct:\n$cb")
    assert(!cb.contains("rangepartitioning"),
      s"q_calibration grew a global sort (fixed bins need none):\n$cb")
    // Wilson: the 1-row corpus total must broadcast
    val wk = planOf("q_wilson_keep")
    assert(wk.contains("Broadcast"), s"q_wilson_keep lost its broadcasts:\n$wk")
    // Lomb-Scargle: the period table and tau/stat frames broadcast; no
    // SortMergeJoin anywhere in the two-pass shape
    val ls = planOf("q_lomb_scargle")
    assert(!ls.contains("SortMergeJoin"), s"q_lomb_scargle grew a SortMergeJoin:\n$ls")
    assert(ls.contains("Broadcast"), s"q_lomb_scargle lost its broadcasts:\n$ls")
  }

  test("late-wave query plans keep their scale shape") {
    // fractal/complexity + GLM: series-keyed shuffles, bounded exchanges,
    // no cartesian products anywhere
    Seq("q_dfa", "q_sampen", "q_poisson_glm", "q_coherence", "q_tail_dependence")
      .foreach { q =>
        val p = planOf(q)
        assert(!p.contains("CartesianProduct"), s"$q plans a CartesianProduct:\n$p")
      }
    // the classifier-eval family runs on the quantized score domain /
    // broadcast models — never a global doc-range sort
    Seq("q_roc_auc", "q_gains", "q_shap_logit", "q_calibration").foreach { q =>
      val p = planOf(q)
      assert(!p.contains("rangepartitioning") || q == "q_roc_auc" || q == "q_gains",
        s"$q grew an unexpected global sort:\n$p")
      assert(p.contains("Broadcast"), s"$q lost its model broadcast:\n$p")
    }
    // synth control: the 12h panel is a pivot + one balanced filter; the
    // donor-weight table broadcasts back
    val sc = planOf("q_synth_control")
    assert(sc.contains("Broadcast"), s"q_synth_control lost its broadcasts:\n$sc")
    assert(!sc.contains("CartesianProduct"), s"q_synth_control cartesian:\n$sc")
    // block bootstrap: the resample grid joins block sums by key equality
    val bb = planOf("q_block_bootstrap")
    assert(!bb.contains("CartesianProduct"), s"q_block_bootstrap cartesian:\n$bb")
  }

  test("product-analytics pack plans keep their scale shape") {
    // growth accounting: user-keyed self-joins only, never cartesian
    val ga = planOf("q_growth_accounting")
    assert(!ga.contains("CartesianProduct"), s"q_growth_accounting cartesian:\n$ga")
    // adtributor: 1-row bounds + #values totals must broadcast
    val ad = planOf("q_adtributor")
    assert(ad.contains("Broadcast"), s"q_adtributor lost its broadcasts:\n$ad")
    assert(!ad.contains("SortMergeJoin"), s"q_adtributor grew a SortMergeJoin:\n$ad")
    // ndcg: the probe kernel broadcasts; the corpus side never shuffles
    // into a SortMergeJoin
    val nd = planOf("q_retrieval_ndcg")
    assert(nd.contains("Broadcast"), s"q_retrieval_ndcg lost the probe broadcast:\n$nd")
    assert(!nd.contains("SortMergeJoin"), s"q_retrieval_ndcg grew a SortMergeJoin:\n$nd")
  }
}
