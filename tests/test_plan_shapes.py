"""Physical-plan guards over the ENTIRE query registry.

Scale regressions rarely change results — they change exchange and join
structure (an accidental cartesian, a lost filter pushdown, a forced
broadcast of a fact table). These tests sweep every registered query's plan
at sf0.001 (build only, no execution) and pin the invariants the 100 TB
design depends on.
"""

from __future__ import annotations

import re

import pytest

from postgresql_cdc_spark.plans import QUERIES

SF = "/root/testdata/sf0.001"

# Queries where a nested-loop/cross shape is the DOCUMENTED algorithm, not an
# accident: brute-force similarity baselines score every (query, corpus)
# pair; IVF probes cross the tiny broadcast centroid set; Q11/Q15 cross-join
# a one-row global aggregate.
NESTED_LOOP_OK = {
    "sim_topk_brute",      # exact baseline: broadcast queries x corpus scan
    "knn_label_vote",      # built on the same brute baseline (vote is hash-agg)
    "ivf_recall_eval",     # recall eval joins trained-IVF against the brute truth
    "ivfpq_recall_eval",   # same brute-truth baseline, IVF-PQ side
    "sim_topk_ivf",        # corpus x 16 broadcast centroids (cell assign)
    "ivf_cell_stats",      # same centroid cross
    "q11_important_stock",  # one-row global total broadcast
    "q15_top_supplier",     # one-row MAX broadcast
    "q22_idle_rich_customers",  # one-row AVG(acctbal) scalar broadcast
    "text_collocations",   # one-row corpus-token-total scalar broadcast
    "emb_pq_codes",        # corpus x 16-codeword broadcast codebook (PQ assign)
    "graph_triangle_census",  # one-row edge/triangle-count scalar broadcasts
    "dedup_minhash_recall_eval",  # one-row truth/found/hit-count scalar broadcasts
    "basket_part_affinity",  # one-row order-total scalar broadcast
    "join_range_buckets",  # genuine non-equi range join vs tiny bucket table
    "customer_rfm_segments",  # one-row quartile-fence scalar broadcast
    "corpus_importance_resample",  # one-row corpus-total scalar broadcast
    "emb_matryoshka_recall",  # both sides are the documented brute baseline
    "events_rolling_wau",  # one-row (d0, d1) bounds scalar broadcast
    "stats_key_skew_profile",  # one-row (t, nk, mx) scalar broadcast
    "text_tfidf_topterms",  # one-row corpus-size scalar broadcast
    "corpus_scaling_ladder",  # 6-rung literal ladder broadcast cross
    "feat_quantile_binning",  # one-row decile-bounds scalar broadcast
    "sim_topk_pq_rerank",    # corpus x 16-codeword broadcast codebook (PQ)
    "orders_abc_classification",  # one-row revenue-total scalar broadcast
    "privacy_erasure_cascade",  # one-row purged/total-count scalar broadcasts
    "ivf_nprobe_sweep",  # brute-truth baseline + one-row n_queries broadcast
    "dq_referential_orphans",  # one-row orphan/total-count scalar broadcasts
    "text_source_divergence",  # one-row token-totals scalar broadcast
    "emb_pairwise_distance_hist",  # bounded ~10%-sample all-pairs (documented)
    "join_not_in_null_semantics",  # three one-row count scalars crossed
    "events_heavy_hitters",  # one-row event-total scalar broadcast
    "feat_target_encoding",  # one-row global-mean scalar broadcast
    "feat_purged_time_folds",  # 1-row minmax + 5-row fold-span broadcasts
    "feat_negative_sampling",  # one-row part-count scalar broadcast
    "text_heaps_law",  # 8-row ladder broadcast over tiny aggregates
    "dq_benford_first_digit",  # one-row digit-total scalar broadcast
    "stats_ks_two_sample",  # 1-row totals/max scalar broadcasts
    "stats_chi2_independence",  # one-row grand-total scalar broadcast
    "stats_bootstrap_ci",  # percentile join keyed only by tiny type dim
    "events_cusum_user_drift",  # one-row global-median scalar broadcast
    "join_null_safe_equality",  # four 1-row count scalars assembled
    "orders_seasonality_index",  # one-row annual-total scalar broadcast
    "sort_null_ordering",  # <=50-candidate broadcast count-smaller pass
    "text_bm25_topk",  # two one-row scalar broadcasts (corpus stats + dfs)
    "hybrid_rrf_fusion",  # one-row stats/dfs/query-vector scalar broadcasts
    "text_perplexity_proxy",  # one-row vocab-size scalar broadcast
    "retrieval_fusion_overlap",  # same scalar broadcasts as hybrid_rrf_fusion
}


# name -> built DataFrame, shared across sweeps: builders are the expensive
# part (a few collect bounded driver-side state, e.g. k-means centroids), so
# each query builds once per session no matter how many shape tests sweep it.
_DF_CACHE: dict = {}


def _df(spark, name: str):
    if name not in _DF_CACHE:
        _DF_CACHE[name] = QUERIES[name].spark(spark, SF)
    return _DF_CACHE[name]


def _plan(spark, name: str) -> str:
    return _df(spark, name)._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )


def _is_streaming_gate(q) -> bool:
    # Module match catches plans/streaming_gate.py; the name prefix catches
    # any cdc_stream_* gate even if it moves out of that module. Building
    # ANY of them runs a real StreamingQuery — minutes of wall per sweep —
    # and the returned batch DataFrame is just a sink read, so its "plan" is
    # vacuous here.
    if q.name.startswith("cdc_stream_"):
        return True
    fn = q.spark
    while hasattr(fn, "__wrapped__"):
        fn = fn.__wrapped__
    return (getattr(fn, "__module__", "") or "").endswith("streaming_gate")


class TestNoAccidentalCrossJoins:
    @pytest.mark.slow  # r18 tier split: full-registry explain sweep (~2 min)
    def test_registry_sweep(self, spark):
        """No query may plan a CartesianProduct, and only the documented
        allowlist may plan BroadcastNestedLoopJoin.

        Streaming-gate queries are excluded: building their DataFrame RUNS a
        real StreamingQuery (minutes of wall per sweep) and the returned
        batch plan is just a memory/parquet sink scan — the interesting plan
        lives inside the stream, which the oracle gate and streaming unit
        tests already exercise."""
        offenders = {}
        for name, q in QUERIES.items():
            if _is_streaming_gate(q):
                continue
            plan = _plan(spark, name)
            for shape in ("CartesianProduct", "BroadcastNestedLoopJoin"):
                if shape in plan and not (
                    shape == "BroadcastNestedLoopJoin" and name in NESTED_LOOP_OK
                ):
                    # keep the join lines so a failure artifact says WHICH
                    # join degenerated, not just which query
                    joins = [
                        ln.strip() for ln in plan.splitlines()
                        if "Join" in ln or "Cartesian" in ln
                    ]
                    offenders[name] = f"{shape}: {joins[:4]}"
                    break
        assert not offenders, f"undeclared cross-join shapes: {offenders}"


# Queries whose plan contains an unpartitioned Window ON PURPOSE. The oracle
# SQLs in this registry routinely state a naive per-row global window — the
# Spark builders must NOT mirror that plan, because an unpartitioned window
# moves its entire input through ONE task. Every entry here documents why the
# window's INPUT is bounded by something other than the data size (a value /
# time / key RANGE divided by a bucket width, a pushed-down top-k limit, or a
# structural cap), so the single task never holds a table that scales with
# rows. A query NOT in this list that plans a global window is a scale bug.
UNPARTITIONED_WINDOW_OK = {
    # -- two-level seam stitches (operators/seams.py): the residual global
    #    window runs over the SUPER-bucket rollup, <= range / fanout^2 rows
    "events_ab_rank_sum":  "cents rollup: range/$100/8192 rows",
    "stats_ks_two_sample": "cents rollup: range/$100/8192 rows",
    "stats_weighted_median": "per-flag cents rollup: range/$10/8192 rows",
    "dq_sequence_gaps":    "key rollup: range/8192^2 rows",
    "eval_auc_exact":      "score rollup: range/1000/8192 rows",
    # -- calendar / bucket rollups: input rows = time or value range divided
    #    by the bucket width, independent of fact-table size
    "events_peak_concurrency": "per-8192-hour seam rollup (two-level)",
    "orders_cumulative_customers": "per-day first-order rollup",
    "orders_mom_revenue_trend": "per-month revenue rollup",
    "orders_backlog_timeseries": "per-day ordered/shipped rollup",
    "orders_reorder_survival_table": "per-30-day gap-bucket rollup",
    "orders_abc_classification": "per-revenue-band rollup",
    "events_lateness_profile": "<=1024 chunks (60-bit hash div 2^50)",
    "corpus_mix_report": "per-source rollup (|sources| rows)",
    # -- rank() <= k: LimitPushDownThroughWindow plans
    #    TakeOrderedAndProject(limit=k) BELOW the window, so the global
    #    window's input is exactly k rows (asserted by
    #    test_rank_limit_pushes_below_global_window)
    "events_heavy_hitters": "top-20 users",
    "emb_centroid_outliers": "top-20 outliers",
    "stats_key_skew_profile": "top-10 keys",
    "text_bpe_merge_candidates": "top-20 pairs",
    "text_ngram_lm_counts": "top-50 bigrams",
    "hybrid_rrf_fusion": "top-50 per system (lex + sem rank<=50 each push "
                         "a TakeOrdered limit below their window)",
    "retrieval_fusion_overlap": "the same two bounded rank windows as "
                                "hybrid_rrf_fusion (it aggregates that "
                                "query's 10-row result)",
    # -- structural caps
    "skyline_pareto_parts": "global pass input = per-band frontiers only "
                            "(operators/frontier.py banded prefilter)",
}


def _unpartitioned_windows(df) -> int:
    """Count Window/WindowExec nodes with an EMPTY partition spec anywhere in
    the optimized plan — descending into cached subplans (persist() swaps
    matching subtrees for InMemoryRelation, whose physical cachedPlan is
    where the window then hides) and AQE wrappers."""
    found = 0

    def walk(node):
        nonlocal found
        nm = node.getClass().getSimpleName()
        if nm in ("Window", "WindowExec") and node.partitionSpec().isEmpty():
            found += 1
        if nm == "InMemoryRelation":
            walk(node.cachedPlan())
        if nm == "InMemoryTableScanExec":
            walk(node.relation().cachedPlan())
        if nm == "AdaptiveSparkPlanExec":
            walk(node.initialPlan())
        try:
            subs = node.subqueries()
            for i in range(subs.size()):
                walk(subs.apply(i))
        except Exception:  # noqa: BLE001 — not every node exposes subqueries
            pass
        ch = node.children()
        for i in range(ch.size()):
            walk(ch.apply(i))

    walk(df._jdf.queryExecution().optimizedPlan())
    return found


class TestBoundedGlobalWindows:
    def test_registry_sweep(self, spark):
        """No query outside the documented allowlist may plan an
        unpartitioned Window. The oracle SQLs literally model the wrong
        (per-row global window) plan, so before this guard only code review
        kept a builder from shipping one (round-9 verdict #3)."""
        offenders = {}
        for name, q in QUERIES.items():
            if _is_streaming_gate(q) or name in UNPARTITIONED_WINDOW_OK:
                continue
            n = _unpartitioned_windows(_df(spark, name))
            if n:
                offenders[name] = n
        assert not offenders, (
            f"undeclared unpartitioned windows (single-task scans): "
            f"{offenders} — either repartition the window or bound its "
            f"input and document it in UNPARTITIONED_WINDOW_OK"
        )

    @pytest.mark.parametrize(
        "name,k",
        [
            ("events_heavy_hitters", 20),
            ("emb_centroid_outliers", 20),
            ("stats_key_skew_profile", 10),
            ("text_bpe_merge_candidates", 20),
            ("text_ngram_lm_counts", 50),
        ],
    )
    def test_rank_limit_pushes_below_global_window(self, spark, name, k):
        """The rank<=k allowlist entries are only safe because Catalyst
        plans the limit BELOW the global window (the window then sees k
        rows, not the table). Pin that: the physical plan must carry a
        TakeOrderedAndProject/GlobalLimit with the exact k."""
        plan = _df(spark, name)._jdf.queryExecution().executedPlan().toString()
        assert (
            f"TakeOrderedAndProject(limit={k}" in plan
            or f"GlobalLimit {k}" in plan
        ), plan[:1500]


class TestDriverSortableOutputSchemas:
    def test_no_array_or_map_output_columns(self, spark):
        """The driver's correctness gate canonicalizes results in pandas by
        sorting every column's values; a top-level ArrayType/MapType column
        crashes its sort_values with ``unhashable type: 'list'`` before any
        comparison runs (round-10 red on scalar_higher_order_funcs). Encode
        that contract the hard way: no registered query may emit an array or
        map column — scalarize via array_join + size (the pg_string_arrays
        pattern). Schema-only: ``df.schema`` resolves the analyzed plan
        without executing it. Streaming gates are skipped because BUILDING
        them runs a real StreamingQuery, but they return scalar-only sink
        reads already."""
        from pyspark.sql.types import ArrayType, MapType

        offenders = {}
        for name, q in QUERIES.items():
            if _is_streaming_gate(q):
                continue
            bad = [
                f.name
                for f in _df(spark, name).schema.fields
                if isinstance(f.dataType, (ArrayType, MapType))
            ]
            if bad:
                offenders[name] = bad
        assert not offenders, (
            f"array/map output columns break the driver's pandas "
            f"canonicalizer — scalarize them (array_join + size): {offenders}"
        )


class TestPushdownAndPruning:
    def test_q6_filters_reach_scan(self, spark):
        plan = _plan(spark, "q6_forecast_revenue")
        m = re.search(r"PushedFilters: \[(.+?)\]", plan)
        assert m and "GreaterThanOrEqual" in m.group(1), plan[:1500]

    def test_text_queries_prune_columns(self, spark):
        """documents has (doc_id, text, lang, ...); token stats must scan
        only what it projects — ReadSchema shows the pruned column set."""
        plan = _plan(spark, "text_token_stats")
        m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
        assert m is not None, plan[:1500]
        cols = {c.split(":")[0] for c in m.group(1).split(",") if c}
        assert cols == {"doc_id", "text"}, cols

    @pytest.mark.parametrize(
        "name,want",
        [
            ("text_repetition", {"doc_id", "text"}),
            ("text_bpe_token_count", {"doc_id", "text"}),
            ("decon_test_train_overlap", {"doc_id", "text"}),
            ("emb_quantize_int8", {"vec_id", "embedding"}),
            ("corpus_clean_pipeline", {"doc_id", "text"}),
        ],
    )
    def test_hygiene_queries_prune_columns(self, spark, name, want):
        """The round-6 hygiene operators are scan-speed claims — at 100 TB
        that only holds if the parquet scan reads just the projected columns
        (documents also carries lang/source/n_chars; embeddings carries
        label)."""
        plan = _plan(spark, name)
        m = re.search(r"ReadSchema: struct<([^>]*)>", plan)
        assert m is not None, plan[:1500]
        cols = {c.split(":")[0] for c in m.group(1).split(",") if c}
        assert cols == want, (name, cols)

    def test_partitioned_read_prunes_partitions(self, spark):
        """The partitioned-lake query's status filter must resolve at the
        directory level (PartitionFilters), not as a data filter over every
        file — the property that makes a partitioned 100 TB layout readable."""
        plan = _plan(spark, "source_partitioned_pruning")
        m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
        assert m is not None, plan[:2000]
        assert "o_orderstatus" in m.group(1) and "= F" in m.group(1), m.group(1)

    def test_q19_no_forced_fact_broadcast(self, spark):
        """q19 must not hard-broadcast the unfiltered part table: the plan
        may still CHOOSE broadcast from runtime stats at tiny SF, but no
        static broadcast hint may appear in the optimized logical plan."""
        df = QUERIES["q19_disjunctive_filter"].spark(spark, SF)
        logical = df._jdf.queryExecution().optimizedPlan().toString()
        assert "ResolvedHint" not in logical, logical[:1500]


@pytest.mark.parametrize("name", ["q1_pricing_summary", "dedup_exact"])
def test_whole_stage_codegen_present(spark, name):
    """The hot path stays JVM-side: the FINAL (post-AQE) plan contains at
    least one WholeStageCodegen span. AQE's initial plan reports none, so
    the query must execute first."""
    df = QUERIES[name].spark(spark, SF)
    df.collect()
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
            "formatted"
        )
    )
    # formatted mode marks codegen'd operators with "[codegen id : N]"
    assert "codegen id" in plan, plan[:1500]


def test_materialize_pipeline_shuffle_budget(spark):
    """cdc_materialize_state (synthesis window + window-fill merge) must plan
    exactly its two inherent shuffles — version-numbering over the raw key
    columns and latest-wins over the extracted envelope keys — with one sort
    each. A third Exchange/Sort means a window stopped sharing its
    partitioning (e.g. the final-row marker regressing to an unordered
    full-frame window)."""
    import re

    plan = _plan(spark, "cdc_materialize_state")
    counts = {
        k: len(re.findall(rf"\(\d+\) {k}\b", plan))
        for k in ("Exchange", "Sort", "Window")
    }
    assert counts["Exchange"] <= 2, (counts, plan[:1500])
    assert counts["Sort"] <= 2, (counts, plan[:1500])
    assert counts["Window"] <= 3, (counts, plan[:1500])


# --- broadcast-hint boundedness sweep ----------------------------------------

# Every F.broadcast() call site in non-test source, keyed (module, first
# identifier of the argument). An explicit broadcast hint OVERRIDES Spark's
# size threshold, so a hint on a side that scales with a data-derived key
# domain is a 100-TB OOM even when tiny-SF runs are green — the class the
# text_perplexity_proxy vocab-table hint fell into (r12 verdict) before it
# was dropped. Review contract for ADDING an entry: the argument must be
# provably bounded —
#   (a) a one-row / k-row aggregate (global agg, codebook, centroids,
#       count scalar),
#   (b) a fixed dimension or limit/top-k output (nation/region, rank<=k),
#   (c) a sampled query/probe set (vec_id % 100, fixed query list),
#   (d) a hot-key prefilter (HAVING count > cap: at most total/cap rows), or
#   (e) a bounded-domain rollup (priority/status/event_type/band/chunk).
# NEVER a table keyed per distinct token/user/document — those grow with the
# corpus; leave them as plain equi-joins and let AQE decide (it broadcasts
# only what actually fits at runtime).
BROADCAST_HINT_SITES = {
    "operators/dedup.py": {"hot", "spam", "wide"},          # (d) hot lists
    "operators/multimodal.py": {"hot"},                      # (d)
    "operators/seams.py": {"rhs"},                           # (e) super-bucket rollup
    "operators/similarity.py": {"centroids", "cents", "probes", "q", "wide"},
    "plans/analytics.py": {"at", "b", "bounds", "bycat", "carry", "crossing",
                           "ct", "cust", "del_c", "del_o", "e0", "mx", "n",
                           "nat", "nn", "np_", "q", "reg", "rt", "spans",
                           "supp", "t", "tot", "totals", "tri"},  # e0/tri: one-row counts
    "plans/dedup.py": {"n_found", "n_hit"},                  # (a) one-row counts
    "plans/events.py": {"base", "bounds", "carry", "mad", "mau", "med", "q",
                        "tot"},
    "plans/relational.py": {"T", "b", "bad", "buckets", "c", "cand", "dim",
                            "heavy_orders", "mx", "n", "n_nulls", "nullsafe",
                            "p", "plain", "r", "s", "small", "thresh", "top",
                            "total"},                        # (b) filtered dims, (d) sampled buckets
    "plans/retrieval.py": {"cb", "dfs", "lut", "nq", "probes", "qv", "short",
                           "st"},
    "plans/streaming_gate.py": {"cents", "folded", "mx", "nation", "nq",
                                "probes", "scan"},           # (b) 25-row dim, (a) one-row aggs
    "plans/text.py": {"ca", "cb", "dfs", "f", "kp", "ladder", "max_doc", "n",
                      "nd", "r", "st", "tot", "vocab"},      # vocab: top-k LIMIT list; (e) per-source counts
    # (c)-style bounded probe/delta sides of the join-IVM delta rule.
    # ``dd`` (a dim delta) is <= 2|micro-batch| rows by construction
    # (maxRecordsPerBatch caps the batch); ``keys_local`` (probe_by_keys'
    # large-batch exactness fallback) is the same batch-bounded key set.
    # ``_dim_side`` wraps every resolved dim-state join side in the N-ary
    # rule (r16): each is a probe_by_keys restriction to the CARRIER's
    # distinct FK values — batch-bounded on the dF term, dim-delta-fan-out-
    # bounded on the cross terms (the same mass the term's view delta must
    # carry anyway). Broadcasting them is ALSO the skew fix — a hot FK
    # value then never induces a skewed shuffle because the carrier side
    # isn't exchanged.
    "streaming/join_ivm.py": {"_dim_side", "dd", "keys_local"},
}


def test_broadcast_hints_are_reviewed():
    """Registry-wide sweep of explicit broadcast hints (the BNLJ-sweep
    pattern applied to hints): every F.broadcast() call site in package
    source must appear in BROADCAST_HINT_SITES, and every recorded site
    must still exist — adding a hint forces the boundedness review above,
    and a removed hint (e.g. the r13 text_perplexity_proxy fix) must leave
    the inventory so the list stays exact."""
    import os

    root = os.path.join(os.path.dirname(os.path.dirname(__file__)),
                        "postgresql_cdc_spark")
    pat = re.compile(r"F\.broadcast\(\s*([A-Za-z_][A-Za-z0-9_]*)", re.S)
    live: dict[str, set[str]] = {}
    for dirpath, _, files in os.walk(root):
        for fn in sorted(files):
            if not fn.endswith(".py"):
                continue
            full = os.path.join(dirpath, fn)
            rel = os.path.relpath(full, root)
            with open(full) as f:
                names = set(pat.findall(f.read()))
            if names:
                live[rel] = names
    assert live == BROADCAST_HINT_SITES, {
        "unreviewed (new hint: prove the bound, then add)": {
            m: sorted(v - BROADCAST_HINT_SITES.get(m, set()))
            for m, v in live.items()
            if v - BROADCAST_HINT_SITES.get(m, set())
        },
        "stale (hint removed: drop the entry)": {
            m: sorted(v - live.get(m, set()))
            for m, v in BROADCAST_HINT_SITES.items()
            if v - live.get(m, set())
        },
    }
