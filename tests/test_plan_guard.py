"""Physical-plan regression guard (SURVEY §4): the headline surface
must never silently acquire a CartesianProduct, and
BroadcastNestedLoopJoin is allowed only where a plan-constant or
broadcast-tiny side makes it the intended strategy (PLANS.md records
the full audit; this test makes the review rule executable)."""

from __future__ import annotations

import re

import pytest

from tests.conftest import SF_SMOKE

# queries whose BNL is a deliberate broadcast of a 1-to-20-row side
# (query vectors, stats rows, codebooks) — see PLANS.md justifications
_BNL_ALLOWED = {
    "ann_bruteforce",
    "ann_ivf",
    "hybrid_search",
    "hybrid_search_dated",
    "hybrid_search_rrf",
    "semantic_topk",
    "semantic_topk_dated",
    "rag_context",
    "tfidf_search",
    "bm25_search",
    "bm25_indexed",  # 1-row persisted stats + 1-row df table broadcasts
    "incremental_sync",
    "unigram_logprob",
    "fuzzy_decontaminate",
    "dedup_minhash",
    "image_decode_stats",
    # round-8 headline additions (same reviewed BNLs as _BNL_JUSTIFIED)
    "bm25f_search",  # 1-row (N, field-length sums, dfs) stats broadcast
    "rolling_7d_active_users",  # 1-row calendar-bounds broadcast
}


def test_headline_plans_stay_clean(spark):
    from email_etl_spark.plans.registry import headline_queries

    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    offenders = {}
    for q in headline_queries():
        df = q.builder(spark, SF_SMOKE)
        plan = df._jdf.queryExecution().explainString(mode)
        n_cart = len(re.findall(r"\bCartesianProduct", plan))
        n_bnl = len(re.findall(r"\bBroadcastNestedLoopJoin", plan))
        if n_cart:
            offenders[q.name] = f"CartesianProduct x{n_cart}"
        elif n_bnl and q.name not in _BNL_ALLOWED:
            offenders[q.name] = f"BroadcastNestedLoopJoin x{n_bnl} (not allowed)"
    assert not offenders, offenders


def _lambda_tokenizes(plan: str) -> bool:
    """True iff any lambdafunction(...) BODY (balanced-paren argument
    span) contains the tokenizer split — i.e. the plan re-tokenizes
    per array element at runtime. A plain same-line regex is not
    enough: Catalyst prints a whole Project on one line, so split()
    appearing in a SIBLING expression would false-positive."""
    for m in re.finditer(r"lambdafunction\(", plan):
        depth, i = 1, m.end()
        while i < len(plan) and depth:
            c = plan[i]
            if c == "(":
                depth += 1
            elif c == ")":
                depth -= 1
            i += 1
        if "split(" in plan[m.end() : i]:
            return True
    return False


def test_no_tokenizer_inside_lambda_bodies(spark):
    """The O(rows x positions) re-tokenization pitfall (documented in
    functions/hashing.py): referencing the tokenizer expression inside
    a per-element lambda re-runs the split per array element — and
    Catalyst's CollapseProject can UNDO a source-level materialization
    by inlining the alias back into the lambda (decontaminate shipped
    three rounds with a hidden 26s-at-sf0.1 cost this way; the cache()
    barrier is the fix). Token arrays must reach lambdas as real
    attributes, so no optimized plan may contain the tokenizer split
    inside a lambdafunction body."""
    from email_etl_spark.plans.registry import REGISTRY

    offenders = {}
    for name in (
        "bigram_logprob",
        "dsir_weights",
        "winnowing_dedup",
        "gopher_quality",
        "token_count",
        "contamination_by_benchmark",
        "decontaminate",
        "dedup_minhash",
        "unigram_logprob",
        "zipf_fit",
        "vocab_coverage",
        "perplexity_buckets",
        "ngram_topk",
        "cooccurrence_pmi",
        "fuzzy_decontaminate",
        "dedup_substring",
        "vocab_stats",
        "langid_chargram",
        # r10: shipped the pitfall unguarded — the pushed-down n_occ
        # filter re-inlined tokens(text) into the position lambda
        "phrase_search",
    ):
        plan = (
            REGISTRY[name]
            .builder(spark, SF_SMOKE)
            ._jdf.queryExecution()
            .optimizedPlan()
            .toString()
        )
        if _lambda_tokenizes(plan):
            offenders[name] = "tokenizer split inside lambda body"
    assert not offenders, offenders


# ---------------------------------------------------------------------------
# Registry-wide review rule (parsed from the committed PLANS.md audit so
# the check is free): a BroadcastNestedLoopJoin anywhere in the 250+
# query surface must be on this reviewed list — every entry is a
# broadcast of a bounded side (a 1-row aggregate, a ≤20-row query
# batch, a K-row codebook, or a plan-constant literal table); a new
# BNL query fails here until reviewed and added. CartesianProduct is
# never allowed.
# ---------------------------------------------------------------------------

_BNL_JUSTIFIED = {
    # broadcast query vector / query batch (≤20 rows)
    "ann_bruteforce", "ann_ivf", "ann_ivfpq", "ann_recall_eval",
    "crossencoder_rerank", "hard_negatives", "hybrid_search",
    "hybrid_search_dated", "hybrid_search_rrf", "maxsim_search",
    "semantic_topk", "semantic_topk_dated", "ivf_recall_curve",
    "ndcg_eval", "incremental_neardup", "minhash_recall_eval",
    # broadcast 1-row aggregate (corpus totals, thresholds, extrema)
    "bm25_indexed", "bm25_search", "bootstrap_mean_ci", "churn_risk",
    "cooccurrence_pmi", "copurchase_types", "dau_wau", "dedup_savings",
    "dsir_weights", "dup_pagerank", "embedding_drift",
    "engagement_scores", "expectations_report", "graph_triangles",
    "incremental_sync", "length_filter_curve", "mixture_weights",
    "ngram_novelty", "order_backlog_aging", "perplexity_buckets",
    "provider_status", "q11_important_stock", "q22_idle_customers",
    "range_partition_plan", "rfm_segments", "seasonal_forecast",
    "segment_flow", "text_drift", "text_index_stats", "tfidf_search",
    "topic_coherence", "unigram_logprob", "value_ks_drift",
    "zorder_layout",
    # broadcast 1-row aggregate / constant dimension table (≤4 rows)
    "retention_purge_audit",  # 1-row retention horizon
    "doc_keywords",  # 1-row corpus doc count (idf denominator)
    "query_autocomplete",  # 3-row prefix-length table
    "dim_ablation_recall",  # 4-row width table + 5-row query batch
    # reviewed round 4 (rows first surfaced by the PLANS.md regen)
    "acf_daily",  # 1-row (N, S) daily-totals broadcast, reused x3
    "cusum_changepoint",  # same 1-row daily-totals broadcast
    "seasonal_strength",  # 1-row grand-mean broadcast
    "embedding_sim_hist",  # hash-sampled pair side, bounded + broadcast
    "spell_suggest",  # plan-constant query batch (SPELL_QUERIES)
    "gap_fill_daily",  # 366-row sequence() calendar literal broadcast
    "join_size_estimate",  # 1-row n_left/n_right count broadcasts (x6)
    "heavy_hitters_mg",  # 1-row (K+1)-th-counter threshold broadcast
    "kneser_ney_bigram",  # 1-row bigram-type-total broadcast (KN's |V|)
    # reviewed round 10 (new operators)
    "cms_freq_audit",  # 4-row sketch-lane dim broadcast (d=4)
    "token_budget_apportionment",  # 1-row corpus-total + leftover broadcasts
    "recency_decay_weights",  # 1-row max-day broadcast
    "binary_segmentation",  # 1-row corpus-total + 1-row root-argmax broadcasts
    "hll_register_audit",  # 1-row rho_max + 1-row exact-distinct broadcasts
    "binary_quant_recall",  # 5-row query-batch broadcast (ann_bruteforce shape)
    "cramer_von_mises_drift",  # 1-row stream-midpoint broadcast (value_ks_drift shape)
    "energy_distance_binned",  # support-bounded histogram x histogram broadcast
    "skipgram_pairs",  # 1-row vocab-size broadcast (negative-sample mod)
    "sample_bias_chi2",  # 1-row (N, n_sample) totals broadcast
    # reviewed round 5 (new operators)
    "bloom_fpr_report",  # three 1-row count broadcasts (n_build/probe/fp)
    "epoch_allocation",  # 1-row (budget, n_sources) broadcast
    "t_closeness_profile",  # 8-row cohort margin + 1-row total broadcast
    "weekday_anova",  # 1-row sum-of-squares broadcast
    "collocation_llr",  # 1-row bigram-total broadcast
    "lm_cross_source",  # sources-row model margin + 1-row vocab broadcast
    "pacf_daily",  # 1-row acf-anchor row exploded to 3 lags
    "slo_burn_rate",  # 1-row max(ts) horizon broadcast
    "km_survival_gaps",  # 1-row corpus-horizon broadcast
    "good_turing_counts",  # 1-row token-total + 1-row V1 broadcasts
    "props_schema_drift",  # 1-row id-midpoint + 1-row half-count broadcasts
    "content_chunk_dedup",  # 1-row chunk/token totals broadcast
    "dp_quantile_release",  # 1-row total + 1-row true-median broadcasts
    "rowgroup_size_histogram",  # 1-row group-count broadcast
    # reviewed round 6 (new operators)
    "mann_kendall_trend",  # calendar-bounded daily self-join (days², not events²) + 1-row S/tie broadcasts
    "theil_sen_trend",  # calendar-bounded daily slope pairs + 1-row median broadcasts
    "priority_status_chi2",  # 1-row N total + margin-table broadcasts (cells ~ 15 rows)
    "interleaved_eval",  # 1-row overlap-count broadcast onto the 1-row credit agg
    "hurst_exponent",  # 1-row day-count + per-window 1-row mean-RS broadcasts
    "burrows_delta",  # 20-row top-terms + 1-row source-count broadcasts
    "rocchio_expansion",  # 5-row expansion-term broadcast
    "watermark_lateness_profile",  # 1-row total-events broadcast (share_bps denominator)
    # reviewed round 7 (new operators)
    "closure_edge_stats",  # 1-row group-stats × 1-row rep-pair-stats broadcast
    "ljung_box_daily",  # 1-row (dd, nd) daily-totals broadcast, reused per lag arm
    "periodogram_daily",  # 1-row sum(ct^2) denominator broadcast
    "temperature_sampling_weights",  # 1-row corpus-total + 1-row weight-sum broadcasts
    "kruskal_wallis_value",  # 1-row (N, tie-sum) totals broadcast
    "runs_test_daily",  # 1-row doubled-median threshold broadcast
    "bm25f_search",  # 1-row (N, field-length sums, dfs) stats broadcast
    "silhouette_centroid",  # k-row centroid codebook broadcast (k labels)
    "davies_bouldin",  # k-row centroid/scatter codebook broadcasts (k^2 pairs)
    "iqr_outlier_days",  # 1-row quartile-fence broadcast onto the day rollup
    "rolling_7d_active_users",  # 1-row calendar-bounds broadcast
    "capture_recapture_users",  # 1-row (lo, hi) epoch-bounds broadcast
    "join_estimate_qerror",  # 1-row stats/actual broadcasts per join spec
    "deseasonalized_acf",  # 1-row residual-denominator broadcast
    "unigram_noise_table",  # 1-row powered-weight normalizer broadcast
    "event_id_gap_audit",  # 1-row run-count broadcast onto the 1-row stats agg
    "mixture_anneal_schedule",  # 1-row (total, k) broadcast onto the source dim
    "pca_explained_variance",  # 1-row trace aggregate under two literal rows
    "wasserstein_value_drift",  # 1-row epoch-bounds + totals broadcasts
    "discord_weeks",  # ~|days|-row z-window table broadcast (dimension-sized)
    "motif_weeks",  # same dimension-sized z-window broadcast as discord_weeks
    "term_burstiness_topk",  # 1-row doc-count broadcast
    "quantile_drift_table",  # 1-row epoch-bounds broadcast
    # reviewed round 8 (new operators)
    "ann_range_search",  # 5-row query-batch broadcast (ann_bruteforce shape)
    "rbo_rankers",  # 5-row query-batch broadcast (ann_bruteforce shape)
    "range_lsh_recall",  # 5-row query-batch broadcast (ground-truth side only)
    "theil_index_tokens",  # 1-row (n, x) totals broadcast onto two dim rollups
    "classical_decompose_daily",  # 1-row seasonal-adjustment broadcast onto the day dim
    "mutual_information_type_hour",  # 1-row N total broadcast onto the 5x24 cell table
    # reviewed round 9 (new operators)
    "cramers_v_type_weekday",  # 1-row N + nr/nc count broadcasts onto the 5x7 cell table
    "uncertainty_coeff_type_hour",  # 1-row N/MI/H(t)/H(h) broadcasts on the 5x24 cell table
    "grubbs_outlier_daily",  # 1-row (n, sum, sumsq) moments broadcast onto the day rollup
    # reviewed with the regenerated PLANS.md (the row was stale before)
    "dedup_method_agreement",  # 1-row method totals onto the 3-row method-pair list
}


def _plans_rows() -> dict[str, str]:
    import os

    path = os.path.join(os.path.dirname(__file__), "..", "PLANS.md")
    rows = {}
    with open(path) as fh:
        for ln in fh:
            parts = [p.strip() for p in ln.split("|")]
            if len(parts) >= 4 and parts[1] and parts[1] not in ("query", "---"):
                rows[parts[1]] = ln
    return rows


def test_registry_wide_bnl_allowlist():
    rows = _plans_rows()
    assert len(rows) > 200  # the audit really is registry-wide
    offenders = {
        name: ln
        for name, ln in rows.items()
        if "BNL" in ln and name not in _BNL_JUSTIFIED
    }
    assert not offenders, offenders


def test_registry_wide_no_cartesian():
    offenders = {n: ln for n, ln in _plans_rows().items() if "Cartesian" in ln}
    assert not offenders, offenders


def test_join_size_estimate_reuses_exchanges(spark):
    """The key-count aggregate feeds both the join and the n_left /
    n_right totals; the explicit isNotNull alignment exists so AQE can
    ReusedExchange them — pin that each table is physically scanned
    once per branch pair (6 reuses for 3 join specs)."""
    from email_etl_spark.plans.registry import REGISTRY

    df = REGISTRY["join_size_estimate"].builder(spark, SF_SMOKE)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ReusedExchange") >= 6, plan.count("ReusedExchange")


def test_absorption_single_event_pass(spark):
    """absorption_within_k collects the tiny transition table once;
    the returned plan must contain NO parquet scan (every Neumann step
    joins local relations — re-deriving the event lineage per branch
    was the 53-exchange regression this pins against)."""
    from email_etl_spark.plans.registry import REGISTRY

    df = REGISTRY["absorption_within_k"].builder(spark, SF_SMOKE)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "parquet" not in plan.lower(), plan[:500]


def test_no_broadcast_hint_on_candidate_pair_streams():
    """Candidate/pair streams are corpus-proportional on template-heavy
    corpora (a bucket of B boilerplate docs yields B² candidates), so a
    forced broadcast hint on them is an OOM at 100 TB — and the hint
    FORBIDS AQE from degrading gracefully. Convention: pair/candidate
    variables are named `cand`/`pairs`, and no plan or streaming source
    may wrap them in F.broadcast(...); AQE still broadcasts small pair
    sets at runtime from measured sizes. (Bounded sides keep their
    hints under other names: `pool` is LIMIT-bounded, `cand_ids` is one
    query's bucket collisions in the ANN serving path, probe/dim/stats
    tables are plan constants.)"""
    import pathlib

    root = pathlib.Path(__file__).resolve().parent.parent / "email_etl_spark"
    offenders = []
    for sub in ("plans", "streaming", "operators"):
        for f in sorted((root / sub).glob("*.py")):
            for i, ln in enumerate(f.read_text().splitlines(), 1):
                if "F.broadcast(cand)" in ln or "F.broadcast(pairs)" in ln:
                    offenders.append(f"{f.name}:{i}: {ln.strip()}")
    assert not offenders, offenders


def _plan_text(df) -> str:
    """Optimized plan text with the per-build fresh names normalized:
    exprIds (`#123`) and lambda variables (`x_7`)."""
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    return re.sub(r"\b(lambda \w+?)_\d+", r"\1", re.sub(r"#\d+L?", "#", plan))


@pytest.mark.parametrize(
    "name", ["attachment_mime_stats", "attachment_risk_by_source"]
)
def test_plan_text_is_identical_across_builds(spark, name):
    """Two builds of one query print the same plan, so plan diffs and
    plan audits show real changes only. A binary literal broke this:
    its plan text is a JVM identity hash (`[B@4005b487`)."""
    from email_etl_spark.plans.registry import REGISTRY

    first, second = (
        _plan_text(REGISTRY[name].builder(spark, SF_SMOKE)) for _ in range(2)
    )
    assert first == second
