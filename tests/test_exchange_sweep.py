"""Exchange-count regression sweep (VERDICT r5 item 3, round-6).

Round 5 found four DOUBLE-REFERENCE explosions by running
``explainString().count("Exchange")`` by hand (label_prop3 37→0,
related_tropes 54→2, ann_recall 46→4, lsh_recall 25→8).  This test
freezes that sweep: every registered query's physical plan at sf0.001
is checked against the recorded ceiling table
(tests/data/exchange_ceilings.json — measured count + 2 headroom for
AQE variation).  Any future mirror/union re-derivation fails CI here
instead of waiting for a judge bench read.

Regenerate the table after INTENTIONAL plan changes::

    python -c "
    import json
    from tropology_spark.session import get_spark
    from tropology_spark import QUERIES
    spark = get_spark('sweep')
    c = {}
    for n, fn in QUERIES.items():
        df = fn(spark, '/root/testdata/sf0.001')
        s = df._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString('simple'))
        c[n] = s.count('Exchange') + 2
    json.dump(dict(sorted(c.items())),
              open('tests/data/exchange_ceilings.json', 'w'), indent=1)
    "

A MISSING entry is a failure by design: every new query must record
its ceiling before the driver samples it (the M168 lockstep playbook).
An entry for a query that is not registered fails too, so the table
cannot keep ceilings for deleted or renamed queries.
"""

from __future__ import annotations

import json
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

from tropology_spark import QUERIES

SF_SWEEP = "/root/testdata/sf0.001"


def test_exchange_counts_within_recorded_ceilings(spark):
    ceilings = json.loads(
        (Path(__file__).parent / "data" / "exchange_ceilings.json").read_text()
    )
    missing = sorted(set(QUERIES) - set(ceilings))
    assert not missing, f"queries with no recorded Exchange ceiling: {missing}"
    orphaned = sorted(set(ceilings) - set(QUERIES))
    assert not orphaned, f"ceilings recorded for unregistered queries: {orphaned}"

    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
    over: dict[str, str] = {}

    def sweep(name: str) -> None:
        try:
            df = QUERIES[name](spark, SF_SWEEP)
            n = df._jdf.queryExecution().explainString(mode).count("Exchange")
        except Exception as exc:  # noqa: BLE001 — report, don't abort the pool
            over[name] = f"sweep error: {type(exc).__name__}: {exc}"[:200]
            return
        if n > ceilings[name]:
            over[name] = f"{n} exchanges > ceiling {ceilings[name]}"

    with ThreadPoolExecutor(max_workers=6) as pool:
        list(pool.map(sweep, sorted(QUERIES)))
    assert not over, (
        f"{len(over)} queries exceed their Exchange ceiling "
        f"(double-reference re-derivation smell):\n"
        + "\n".join(f"  {k}: {v}" for k, v in sorted(over.items()))
    )


#: Declared BroadcastNestedLoopJoin sites — every one is either the
#: declared C10 cross-count, a broadcast-of-one-row scalar attach
#: (query-vector / corpus-total / threshold rows), or the O(days x
#: types) spine cross.  The r5 judge verified the pattern; this list
#: freezes it so a NEW data-sized nested-loop join fails CI instead of
#: waiting for a bench read.
BNLJ_ALLOWED = {
    "agg_heavy_hitters", "agg_kmv_diff", "agg_kmv_intersect",
    "agg_mergeable_stats_audit",
    "analytics_basket_pairs", "analytics_mau_kmv_audit",
    "analytics_rolling_wau", "analytics_stickiness_terms",
    "dedup_lsh_recall", "graph_modularity_terms", "graph_trope_lift",
    "join_cross_count", "pipeline_dq_report", "pipeline_mixture_weights",
    "pipeline_negative_sample", "sim_ann_recall", "sim_batch_topk",
    "sim_ivf_topk", "sim_lsh_recall", "sim_maxsim_topk", "sim_pq_recall",
    "sim_range_search", "sim_rp_lsh_topk", "sim_topk_cosine",
    "sim_topk_l2", "sub_any_all", "text_langid_nb", "text_source_drift",
    "text_tfidf_top", "ts_resample_gapfill",
    # round-8 scalar attaches: M219 broadcasts the 1-row corpus count /
    # per-method totals into the 3-row union; M221 broadcasts the 1-row
    # winning pair into the merge projection.
    "dedup_survivorship_report", "text_bpe_merge2",
    # round-9 scalar attaches (pre-activation plan sweep): M227 extends
    # M221's per-round 1-row winner broadcast to four rounds; M231
    # crosses the two 1-row scalar terms (triangles x wedges); M232's
    # fused rank rides the sim_topk_* scalar-attach inputs; M241
    # broadcasts the 4-row k table + the <=10-row approx list.
    "text_bpe_vocab4", "graph_closure_rate_capped", "sim_rrf_fusion",
    "sim_recall_at_k_curve",
    # M240 composes the registered text_langid_nb (already allowlisted)
    # and inherits its model-table scalar attach.
    "text_lang_confusion",
    # round-10 scalar attaches (pre-activation plan sweep): M246
    # broadcasts the 1-row corpus token total; M249 crosses the 3-row
    # threshold table into the degree-joined edge pass; M250 broadcasts
    # the 1-row grand total into the cell table; M252 rides the J8
    # truth composition's query-vector scalar attach.
    "text_pmi_collocations", "graph_rich_club_terms",
    "analytics_chisq_priority_era", "sim_matryoshka_recall",
    # round-11 scalar attaches (pre-activation plan sweep in the staged
    # suite): M256 broadcasts the 1-row query signature+vector; M257
    # crosses the 3-row threshold table into the M2 pair set; M264
    # crosses the three 1-row config counts per (b, r) setting.
    # (M263 sim_ivf_probe_curve left this list in round 12: its
    # single-build rewrite hides the query attach behind the scored-
    # frame checkpoint, so its final plan is BNLJ-free.)
    "sim_bq_hamming_topk", "dedup_threshold_curve",
    "dedup_band_curve",
    # round-12 scalar attaches (pre-activation plan sweep in the staged
    # suite): M271 broadcasts the 1-row exact-F2 cross; M272 the 1-row
    # corpus-totals cross; M273 the 1-row query/walker rows per hop;
    # M270 inherits the composed sim_topk_cosine query attach; M276 the
    # 1-row full-sample cross; M278 the 1-row query-vector broadcast
    # (the J8 shape); M279 the 1-row period-boundary attach.
    "agg_ams_f2", "text_bm25_terms", "sim_graph_greedy_search",
    "sim_sq8_recall", "analytics_poisson_bootstrap", "sim_filtered_topk",
    "analytics_cuped_terms",
    # round-13 scalar attaches (pre-activation plan sweep in the staged
    # suite): M289 broadcasts the 1-row era-boundary cross (the CUPED
    # precedent); M295 crosses the 3-row width table into the sketch
    # cell build and the per-user estimate probe.
    "analytics_did_terms", "agg_cms_width_curve",
    # round-14 scalar attaches (pre-activation plan sweep in the staged
    # suite): M300 crosses the 2-row window-size table into the bounded
    # hour spine; M302 broadcasts the 1-row member-count modulus and
    # the 1-row probe-total attach.
    "ts_hurst_rs_terms", "agg_bloom_fpr_curve",
    # round-15 scalar attaches (pre-activation plan sweep in the staged
    # suite): M309 broadcasts the 1-row exact-distinct cross; M310 the
    # 1-row corpus-totals cross; M315 the 1-row train-count cross per
    # curve point; M317 the 1-row exact-join-size cross.
    "agg_hll_m_curve", "mm_cdc_size_curve",
    "pipeline_contamination_ngram_curve", "agg_join_size_ams",
    # round-17 scalar attach (pre-activation plan sweep in the staged
    # suite): M334 broadcasts the 1-row build-count modulus + the
    # 1-row probe-totals cross (the r14 Bloom-curve precedent); the
    # other nine r17 activations are BNLJ-free.
    "join_bloom_prefilter_audit",
}

#: The ONLY row-at-a-time Python evaluation sites: L1 (the declared
#: scalar-UDF operator, with its vectorized twin L2) and L4 (the
#: declared UDTF).  Anything else regressing to BatchEvalPython is a
#: hot-path bug.
ROW_UDF_ALLOWED = {"udf_scalar_code_norm", "udf_udtf_tokenize"}


def test_plan_antipatterns_frozen(spark):
    """Qualitative twin of the Exchange-count sweep: across every
    registered plan at sf0.001 there must be NO CartesianProduct, no
    row-Python evaluation outside the declared L1/L4 operators, and no
    BroadcastNestedLoopJoin outside the frozen scalar-attach list.
    (The fifth anti-pattern — partition-less WindowExec — is
    structurally impossible since the round-6 pmod-key conversion;
    its absence is visible as a warning-free bench tail.)"""
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
    bad: dict[str, str] = {}

    def sweep(name: str) -> None:
        try:
            df = QUERIES[name](spark, SF_SWEEP)
            s = df._jdf.queryExecution().explainString(mode)
        except Exception as exc:  # noqa: BLE001
            bad[name] = f"sweep error: {type(exc).__name__}: {exc}"[:200]
            return
        if "CartesianProduct" in s:
            bad[name] = "CartesianProduct"
        if "BatchEvalPython" in s and name not in ROW_UDF_ALLOWED:
            bad[name] = "row-Python UDF outside L1/L4"
        if "BroadcastNestedLoopJoin" in s and name not in BNLJ_ALLOWED:
            bad[name] = "new BroadcastNestedLoopJoin site"

    with ThreadPoolExecutor(max_workers=8) as pool:
        list(pool.map(sweep, list(QUERIES)))
    assert not bad, f"plan anti-patterns: {bad}"
