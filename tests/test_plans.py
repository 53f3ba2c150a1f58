"""Plan-shape regression tests (SURVEY §4 / 100 TB mandate): correct
answers with a bad plan fail here."""

from __future__ import annotations

import pytest

from pdf2dataset_spark.plans.audit import (
    audit,
    has_broadcast_join,
    pushed_filters,
    scan_columns,
    shuffle_count,
)
from pdf2dataset_spark.queries import load_all

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def registry():
    return load_all()


def q(registry, name, spark):
    return registry[name].fn(spark, SF)


def test_filter_pushdown_reaches_parquet(spark, registry):
    df = q(registry, "b2_filter_range", spark)
    pf = " ".join(pushed_filters(df))
    assert "l_quantity" in pf and "l_discount" in pf, pf


def test_column_pruning_on_projection(spark, registry):
    df = q(registry, "b1_project_compute", spark)
    cols = scan_columns(df)
    assert cols == {"l_orderkey", "l_linenumber", "l_extendedprice", "l_discount"}, cols


def test_broadcast_join_for_small_dim(spark, registry):
    assert has_broadcast_join(q(registry, "d2_broadcast_part_join", spark))


def test_star_join_broadcasts_dims(spark, registry):
    df = q(registry, "d11_star_join_revenue", spark)
    assert has_broadcast_join(df)
    # 3 dims broadcast; shuffles only for the two fact joins + agg +
    # final sort: lineitem must never shuffle for a dim join.
    assert shuffle_count(df) <= 6, audit(df)
    from pdf2dataset_spark.plans.audit import broadcast_exchange_count

    assert broadcast_exchange_count(df) >= 3, audit(df)


def test_flagship_agg_is_partial_final(spark, registry):
    from pdf2dataset_spark.plans.audit import explain_string

    from pdf2dataset_spark.plans.audit import _nodes

    df = q(registry, "c1_pricing_summary", spark)
    nodes = _nodes(df)
    assert nodes.count("HashAggregate") == 2, nodes  # partial + final
    # One shuffle for the tiny group keyspace (+ the final sort's
    # range exchange); fact rows never move.
    assert shuffle_count(df) <= 2, audit(df)


def test_date_filter_pushdown_in_flagship(spark, registry):
    df = q(registry, "c1_pricing_summary", spark)
    pf = " ".join(pushed_filters(df))
    assert "l_shipdate" in pf, pf


def test_topk_uses_take_ordered(spark, registry):
    from pdf2dataset_spark.plans.audit import explain_string

    plan = explain_string(q(registry, "e6_global_topk", spark))
    assert "TakeOrderedAndProject" in plan, plan


def test_semi_and_anti_join_planned_as_such(spark, registry):
    from pdf2dataset_spark.plans.audit import explain_string

    assert "LeftSemi" in explain_string(q(registry, "d6_semi_join", spark))
    assert "LeftAnti" in explain_string(q(registry, "d7_anti_join_resume", spark))


def test_extraction_pipeline_has_no_shuffle(spark, registry):
    """The document pipeline must stay embarrassingly parallel: scan →
    mapInPandas → project, zero exchanges."""
    df = q(registry, "a0_extract_pipeline", spark)
    assert shuffle_count(df) == 0, audit(df)


def test_no_cartesian_in_equi_joins(spark, registry):
    from pdf2dataset_spark.plans.audit import explain_string

    for name in ("d1_orders_customer_join", "g7_stream_static_join"):
        plan = explain_string(q(registry, name, spark))
        assert "CartesianProduct" not in plan, name


def test_global_rank_avoids_single_partition_data_window(spark, registry):
    """e5's scalable rank: the DATA flows through a range-partitioned
    exchange and a partition-local window; only the 1-row-per-
    partition offset table touches a single-partition window."""
    from pdf2dataset_spark.plans.audit import explain_string

    plan = explain_string(q(registry, "e5_global_sort", spark))
    assert "rangepartitioning" in plan, plan
    assert "__pid" in plan  # partition-local window key


def test_f22_prefix_sum_avoids_single_partition_data_window(spark, registry):
    """f22 shard packing: the token prefix sum must flow through
    global_prefix_sum (range partition + partition-local windows +
    broadcast offsets), never a global-order window over the corpus."""
    from pdf2dataset_spark.plans.audit import explain_string

    plan = explain_string(q(registry, "f22_token_shard_packing", spark))
    assert "rangepartitioning" in plan, plan
    assert "__pid" in plan, plan


def test_ivf_centroid_selection_is_take_ordered(spark):
    """The IVF build phase must select its first-C centroids with
    TakeOrderedAndProject (per-partition top-C, C rows to the driver)
    — the corpus must NOT pass through an unpartitioned row_number
    window (the round-2 scale killer)."""
    from pdf2dataset_spark.operators import similarity as sim
    from pdf2dataset_spark.plans.audit import explain_string

    e = spark.read.parquet(f"{SF}/embeddings.parquet")
    cents = sim._ivf_centroids(e, 16, "vec_id", "embedding")
    plan = explain_string(cents)
    assert "TakeOrderedAndProject" in plan, plan
    assert "Window" not in plan, plan
    # and the full assignment plan keeps every window partitioned:
    # an unpartitioned windowspecdefinition starts with its sort
    # column (marked ASC/DESC) instead of partition columns
    import re

    aplan = explain_string(sim.ivf_assign(e, 8))
    for m in re.finditer(r"windowspecdefinition\(([^)]*)\)", aplan):
        first = m.group(1).split(",")[0].strip()
        assert " ASC" not in first and " DESC" not in first, (
            "unpartitioned window in ivf_assign plan: " + m.group(0)
        )


def test_q21_semi_then_anti_with_nonequi(spark, registry):
    """sql13: the EXISTS leg must plan as LeftSemi, the NOT EXISTS
    leg as LeftAnti carrying its cross-table non-equi lateness
    predicate — not as a blow-up inner join + dedup."""
    from pdf2dataset_spark.plans.audit import explain_string

    plan = explain_string(q(registry, "sql13_q21_sole_late_shipper", spark))
    assert "LeftSemi" in plan, plan
    assert "LeftAnti" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_q20_supplier_never_shuffles(spark, registry):
    """sql12: both IN subqueries reduce to broadcast semi-joins; the
    supplier outer side must join without an exchange of its own."""
    from pdf2dataset_spark.plans.audit import explain_string

    df = q(registry, "sql12_q20_nested_in", spark)
    plan = explain_string(df)
    assert "LeftSemi" in plan, plan
    # shuffles: suppkey agg (+AQE reads); supplier side broadcast-joins.
    assert has_broadcast_join(df), audit(df)


def test_q15_max_subquery_broadcasts(spark, registry):
    """sql10: the 1-row MAX side and the supplier dim both broadcast;
    lineitem shuffles only into the suppkey aggregation."""
    df = q(registry, "sql10_q15_top_supplier", spark)
    assert has_broadcast_join(df), audit(df)


def test_q6_all_predicates_pushed_scan_pruned(spark, registry):
    df = q(registry, "sql15_q6_forecast_revenue", spark)
    pf = " ".join(pushed_filters(df))
    # shipdate range and quantity bound must reach the parquet reader
    assert "l_shipdate" in pf and "l_quantity" in pf, pf
    # 4-column query must not scan the 11-column fact
    assert scan_columns(df) <= {
        "l_shipdate",
        "l_quantity",
        "l_discount",
        "l_extendedprice",
    }, scan_columns(df)
    # global scalar agg: one partial-final exchange, nothing else
    assert shuffle_count(df) <= 1, audit(df)


def test_q8_dims_broadcast_single_fact_shuffle_pair(spark, registry):
    from pdf2dataset_spark.plans.audit import broadcast_exchange_count

    df = q(registry, "sql16_q8_market_share", spark)
    # part, supplier, customer, nation x2, region all broadcast
    assert broadcast_exchange_count(df) >= 6, audit(df)
    # shuffles: lineitem+orders for the one fact-fact join, agg, sort
    assert shuffle_count(df) <= 4, audit(df)


def test_q17_threshold_join_back_is_broadcast(spark, registry):
    df = q(registry, "sql19_q17_small_qty_revenue", spark)
    assert has_broadcast_join(df), audit(df)


def test_q13_left_join_keeps_right_side_filter(spark, registry):
    from pdf2dataset_spark.plans.audit import explain_string

    df = q(registry, "sql18_q13_order_distribution", spark)
    plan = explain_string(df)
    # the ON-clause predicate must filter orders BEFORE the join
    # (scan-side), never customers
    assert "1-URGENT" in plan, plan
    assert "LeftOuter" in plan or "left_outer" in plan.lower(), plan


def test_join_strategy_hints_select_physical_operator(spark, registry):
    """Join-strategy hints are the manual override when AQE/statistics
    pick wrong at scale; each hint must reach its physical operator."""
    from pdf2dataset_spark.io import load_table
    from pdf2dataset_spark.plans.audit import explain_string

    o = load_table(spark, SF, "orders")
    c = load_table(spark, SF, "customer")
    cond = o.o_custkey == c.c_custkey
    merge_plan = explain_string(o.join(c.hint("merge"), cond))
    assert "SortMergeJoin" in merge_plan
    shj_plan = explain_string(o.join(c.hint("shuffle_hash"), cond))
    assert "ShuffledHashJoin" in shj_plan
    bc_plan = explain_string(o.join(c.hint("broadcast"), cond))
    assert "BroadcastHashJoin" in bc_plan


def test_q2_decorrelated_to_aggregate_plus_join(spark, registry):
    """sql20: the 'regional min supply cost per part' correlated
    scalar subquery must run as aggregate+join-back (two hash
    aggregations, dims broadcast), never as a per-part re-scan or a
    cartesian product."""
    from pdf2dataset_spark.plans.audit import _nodes, explain_string

    df = registry["sql20_q2_min_cost_supplier"].fn.__wrapped__(spark, SF)
    nodes = _nodes(df)
    # ps build (partial+final) + per-part min (partial+final) >= 4
    assert nodes.count("HashAggregate") >= 4, nodes
    assert has_broadcast_join(df), audit(df)
    assert "CartesianProduct" not in explain_string(df)
    # Static plan: lineitem shuffles once into (partkey, suppkey); the
    # min_cost join-back is statically a shuffle join (its size-guarded
    # hint declines — the non-CBO estimate inherits a join-product
    # size), which AQE converts to broadcast at runtime from ACTUAL
    # sizes. 5 = ps agg + min agg + join-back pair + sort sample.
    assert shuffle_count(df) <= 5, audit(df)
    # Runtime: AQE must land broadcast joins in the final plan.
    df.collect()
    plan = explain_string(df)
    # without the marker the split is the whole plan and the assert
    # below would pass vacuously off the static broadcasts
    assert "== Initial Plan ==" in plan, plan
    final = plan.split("== Initial Plan ==")[0]
    assert "BroadcastHashJoin" in final, final


def test_plan_build_triggers_no_jobs(spark, registry):
    """Plan construction is declarative: building the headline query
    plans must trigger ZERO Spark jobs (an eager count()/collect() at
    build time is an extra full scan per build — the f9 bug class)."""
    from pdf2dataset_spark.plans.audit import job_counter

    for name in (
        "f9_tfidf_top_terms",
        "c1_pricing_summary",
        "d11_star_join_revenue",
        "f1_exact_dedup",
        "f2b_jaccard_neardup",
    ):
        # first build warms the one-time parquet-footer relation read
        registry[name].fn.__wrapped__(spark, SF)
        with job_counter(spark) as jc:
            # __wrapped__ bypasses the registry's plan cache so the
            # builder actually runs inside the counter
            registry[name].fn.__wrapped__(spark, SF)
        assert jc["jobs"] == 0, (name, jc)


def test_runtime_bloom_filter_prunes_fact_side(spark):
    """Runtime row-level bloom pruning: with a selective filter on the
    dim side of a SHUFFLE join, Catalyst injects bloom_filter_agg on
    the dim and might_contain on the fact scan side, so fact rows that
    can't join die before the shuffle — at 100 TB this is the
    difference between shuffling the whole fact table and shuffling
    the ~matching slice. Local thresholds are scaled down to trigger
    what a real cluster's defaults (10MB creation / 10GB application)
    trigger naturally."""
    import pyspark.sql.functions as F

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "10GB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    old = {k: spark.conf.get(k) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
        pa = spark.read.parquet("/root/testdata/sf0.001/part.parquet").filter(
            F.col("p_brand") == "Brand#1"
        )
        j = (
            li.join(pa, li.l_partkey == pa.p_partkey)
            .groupBy("p_brand")
            .count()
        )
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "bloom_filter_agg" in plan, plan[:2000]
        assert "might_contain" in plan.lower().replace("mightcontain", "might_contain"), plan[:2000]
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)


def test_semantic_dedup_broadcasts_centroids_no_cartesian_pairs(spark, registry):
    """f34: centroid assignment is a broadcast nested-loop (C rows
    broadcast, corpus never shuffles for it); the within-cluster pair
    stage is an equi join on list_id — never a cartesian product —
    and every window is partitioned (no global-order window)."""
    from pdf2dataset_spark.plans.audit import explain_string

    plan = explain_string(q(registry, "f34_semantic_dedup", spark))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_quality_classifier_single_doc_grain_shuffle(spark, registry):
    """f36: one explode + one doc-grain hash aggregate - exactly one
    data shuffle (partial/final agg on doc_id), wide text never
    exchanged."""
    from pdf2dataset_spark.plans.audit import explain_string

    plan = explain_string(q(registry, "f36_quality_classifier", spark))
    assert plan.count("hashpartitioning") == 1, plan


def test_semantic_dedup_nprobe_still_broadcasts_no_cartesian(spark, registry):
    """f38 (nprobe=2): probe replication must not change the plan
    class — centroids broadcast, pair stage is an equi join on
    list_id, no cartesian product anywhere."""
    from pdf2dataset_spark.plans.audit import explain_string

    plan = explain_string(q(registry, "f38_semantic_dedup_nprobe", spark))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan, plan


def test_metadata_stats_aggregate_pushdown(spark, registry):
    """c24 must answer from parquet footers: the v2 BatchScan carries
    a NON-empty PushedAggregation (an empty one still prints the
    key, so assert content, not presence)."""
    import re

    df = q(registry, "c24_metadata_stats", spark)
    plan = df._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"PushedAggregation: \[([^\]]+)\]", plan)
    assert m and "COUNT" in m.group(1).upper(), plan[:2000]


def test_metadata_stats_scan_restores_conf(spark):
    from pdf2dataset_spark.io import metadata_stats_scan

    before = spark.conf.get("spark.sql.sources.useV1SourceList")
    metadata_stats_scan(spark, "/root/testdata/sf0.001/lineitem.parquet")
    assert spark.conf.get("spark.sql.sources.useV1SourceList") == before


def test_metadata_stats_scan_leaves_parent_session_confs_alone(spark):
    """The stats scan now runs on a dedicated newSession(): the
    caller's session must never observe either conf flipped."""
    from pdf2dataset_spark.io import metadata_stats_scan

    before_v1 = spark.conf.get("spark.sql.sources.useV1SourceList")
    before_agg = spark.conf.get("spark.sql.parquet.aggregatePushdown", None)
    df = metadata_stats_scan(spark, "/root/testdata/sf0.001/lineitem.parquet")
    assert spark.conf.get("spark.sql.sources.useV1SourceList") == before_v1
    assert (
        spark.conf.get("spark.sql.parquet.aggregatePushdown", None)
        == before_agg
    )
    # and the returned frame's own session keeps pushdown enabled, so
    # aggregates planned LATER still answer from footers
    assert (
        df.sparkSession.conf.get("spark.sql.parquet.aggregatePushdown")
        == "true"
    )


def test_e18_has_no_unpartitioned_data_window(spark, registry):
    """e18's rolling revenue flows through global_prefix_sum: the only
    unpartitioned windows allowed in the plan are over the one-row-
    per-partition __pid offsets table."""
    import re

    from pdf2dataset_spark.plans.audit import explain_string

    plan = explain_string(q(registry, "e18_rolling_7day_revenue", spark))
    assert "rangepartitioning" in plan, plan
    for m in re.finditer(r"windowspecdefinition\(([^)]*)\)", plan):
        first = m.group(1).split(",")[0].strip()
        unpartitioned = " ASC" in first or " DESC" in first
        assert not unpartitioned or first.startswith("__pid"), (
            "unpartitioned data window in e18 plan: " + m.group(0)
        )


def test_f41_vocab_broadcasts_and_text_never_shuffles(spark, registry):
    """f41: the top-V vocab joins back by broadcast (V rows), bigrams
    build doc-locally (zip_with, no self-join), and the wide text
    column stays out of every exchange."""
    from pdf2dataset_spark.plans.audit import explain_string

    df = q(registry, "f41_lm_coverage_quality", spark)
    plan = explain_string(df)
    assert has_broadcast_join(df), plan
    assert "CartesianProduct" not in plan
    import re

    for m in re.finditer(r"Exchange hashpartitioning\(([^)]*)\)", plan):
        assert "text" not in m.group(1), m.group(0)


def test_pq_adc_broadcasts_codebooks_no_cartesian(spark, registry):
    """f5d: both the encode (corpus x m*ksub codebook rows) and the ADC
    scoring (assignment x LUT) keep the small side broadcast — never a
    cartesian product — so the corpus scan stays shuffle-free until the
    (id, sub)-grain aggregates."""
    from pdf2dataset_spark.plans.audit import explain_string

    plan = explain_string(q(registry, "f5d_pq_adc_topk", spark))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan, plan
    assert "CartesianProduct" not in plan, plan


# ---------------------------------------------------------------------
# Size-guarded broadcast discipline (round-7 verdict item 1): a pinned
# F.broadcast on a relation that grows with the corpus is a 100x-scale
# OOM liability — the hint removes the planner's SMJ fallback. Only
# schema-bounded relations may carry the pinned hint; everything else
# goes through _util.maybe_broadcast.

#: Per-module allowlist of variable names that may appear inside a
#: pinned ``F.broadcast(...)`` in the query modules. Every name is
#: bounded by SCHEMA or by construction, never by corpus size.
_PINNED_BROADCAST_ALLOWLIST = {
    "_util.py": {"df"},  # maybe_broadcast's own guarded hint site
    "tier_tpch.py": {
        "n", "n1", "n2",      # nation (25 rows)
        "r",                  # region (5 rows)
        "total", "avg_bal", "mx", "sc",  # single-row scalar aggregates
        "i",                  # literal 4-row spine (partsupp synth)
    },
    "tier_d.py": {
        "p",   # d2_broadcast_part_join IS the pinned-hint operator demo
        "n", "r",             # nation/region
        "b",                  # d16: nation-keyed supplier agg (<=26 rows)
    },
    "tier_g.py": set(),
    "tier_c.py": {"ref"},     # per-source KMV sketches (sources x k rows)
    "tier_f.py": {
        "q", "ref", "n_docs", "n1",  # single-row / query-side frames
        "vocab",              # .limit(200) by construction
        "bench",              # f46: the held-out benchmark shingle
                              # set — bounded by the fixed eval-suite
                              # definition (doc_id < 20), not by the
                              # corpus being scanned
    },
    "tier_a.py": set(),
    "tier_b.py": set(),
    "tier_e.py": set(),
}


def test_no_pinned_broadcast_on_corpus_growing_relations():
    """AST tripwire over every query module: each pinned F.broadcast
    argument must be a schema-bounded relation from the allowlist.
    part/supplier/customer/partsupp-derived frames must use
    maybe_broadcast (size-guarded) instead."""
    import ast
    import os

    import glob as _glob

    qdir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "pdf2dataset_spark",
        "queries",
    )
    violations = []
    # every module in the package is audited; a module absent from
    # the allowlist gets the EMPTY set, so a future tier_h.py cannot
    # silently escape the guard
    for path in sorted(_glob.glob(os.path.join(qdir, "*.py"))):
        fname = os.path.basename(path)
        allowed = _PINNED_BROADCAST_ALLOWLIST.get(fname, set())
        with open(path) as fh:
            tree = ast.parse(fh.read())
        for node in ast.walk(tree):
            if not (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr == "broadcast"
                and isinstance(node.func.value, ast.Name)
                and node.func.value.id == "F"
            ):
                continue
            arg = node.args[0] if node.args else None
            name = arg.id if isinstance(arg, ast.Name) else ast.dump(arg)
            if name not in allowed:
                violations.append(f"{fname}:{node.lineno} F.broadcast({name})")
    assert not violations, (
        "pinned F.broadcast on non-allowlisted relation(s) — use "
        "_util.maybe_broadcast for anything that grows with the corpus: "
        + "; ".join(violations)
    )


def test_maybe_broadcast_hints_only_under_threshold(spark):
    from pdf2dataset_spark.io import load_table
    from pdf2dataset_spark.queries._util import maybe_broadcast
    from pdf2dataset_spark.plans.audit import explain_string

    li = load_table(spark, SF, "lineitem")
    p = load_table(spark, SF, "part")
    # Under the (default 10MB) threshold: hint applied -> BHJ.
    hinted = li.join(maybe_broadcast(p), li.l_partkey == p.p_partkey)
    assert "BroadcastHashJoin" in explain_string(hinted)
    # 1-byte threshold: no hint; with session auto-broadcast also off,
    # the join must fall back to a shuffle join (the 100x behavior).
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        unhinted = li.join(
            maybe_broadcast(p, threshold=1), li.l_partkey == p.p_partkey
        )
        plan = explain_string(unhinted)
        assert "BroadcastHashJoin" not in plan, plan
        assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan, plan
        # threshold <= 0 (session broadcast disabled) also never hints
        off = li.join(maybe_broadcast(p), li.l_partkey == p.p_partkey)
        assert "BroadcastHashJoin" not in explain_string(off)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_maybe_broadcast_caches_estimate_per_plan(spark):
    """Round-8 advice fix: the Catalyst size estimate is cached per
    (session, canonical plan) so repeated builds of the same guarded
    relation don't re-run driver-side optimization, while the
    threshold comparison stays live against the CURRENT session conf
    on a cache hit."""
    from pdf2dataset_spark.io import load_table
    from pdf2dataset_spark.queries import _util

    _util._EST_CACHE.clear()
    p = load_table(spark, SF, "part").filter("p_size > 10")
    _util.maybe_broadcast(p)
    assert len(_util._EST_CACHE) == 1
    # identical rebuild: cache hit, no second entry
    p2 = load_table(spark, SF, "part").filter("p_size > 10")
    _util.maybe_broadcast(p2)
    assert len(_util._EST_CACHE) == 1
    # a DIFFERENT plan (other filter) gets its own entry
    _util.maybe_broadcast(load_table(spark, SF, "part").filter("p_size > 40"))
    assert len(_util._EST_CACHE) == 2
    # cache hit still honors the live threshold: 1-byte -> unhinted
    # (maybe_broadcast returns the frame object unchanged when it
    # declines), while the default threshold hints the same cached plan
    est, _t = next(iter(_util._EST_CACHE.values()))
    assert est > 1
    assert _util.maybe_broadcast(p2, threshold=1) is p2
    assert _util.maybe_broadcast(p2) is not p2


def test_partsupp_cost_cores_survive_broadcast_off(spark, registry):
    """The 100x simulation for the swept queries: with every broadcast
    guard refusing the hint (threshold -1), sql23/sql26 must (a) plan
    their corpus-growing joins as shuffle joins — no BroadcastExchange
    beyond the pinned bounded dims — and (b) return EXACTLY the rows
    the default broadcast-heavy plan returns."""
    from pdf2dataset_spark.plans.audit import _nodes, explain_string

    # Per-query cap on surviving BroadcastExchanges = pinned bounded
    # dims only, counting physical-plan subtree duplication: sql23's
    # eligible subtree (sc, i, n, r pinned) appears twice (eligible +
    # min_cost-over-eligible) -> 8; sql26 has sc, i, n once each -> 3.
    pinned_cap = {
        "sql23_q2_partsupp_min_cost": 8,
        "sql26_q9_partsupp_profit": 3,
    }
    for qname in ("sql23_q2_partsupp_min_cost", "sql26_q9_partsupp_profit"):
        baseline = sorted(map(tuple, q(registry, qname, spark).collect()))
        old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        try:
            # __wrapped__ bypasses the registry's prepared-plan cache:
            # maybe_broadcast decides at BUILD time, so the -1 conf
            # must be visible to a fresh build.
            df = registry[qname].fn.__wrapped__(spark, SF)
            plan = explain_string(df)
            # growing relations (ps/part/supplier/min_cost) fell back
            assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan, (
                qname,
                plan,
            )
            # only the pinned bounded dims may still broadcast
            assert _nodes(df).count("BroadcastExchange") <= pinned_cap[qname], (
                qname,
                audit(df),
            )
            rows = sorted(map(tuple, df.collect()))
        finally:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        assert rows == baseline, f"{qname}: broadcast-off rows diverge"


def test_f46_benchmark_broadcasts_corpus_never_shuffles_for_join(
    spark, registry
):
    """Decontamination (round-11): the benchmark shingle side is
    explicitly broadcast — the corpus-sized shingle stream must join
    WITHOUT a shuffle (only the per-doc count aggregates)."""
    df = q(registry, "f46_decontamination", spark)
    assert has_broadcast_join(df), audit(df)
    from pdf2dataset_spark.plans.audit import explain_string

    assert "SortMergeJoin" not in explain_string(df), audit(df)
    assert "Cartesian" not in explain_string(df), audit(df)


def test_f45_prunes_to_two_columns(spark, registry):
    """Gopher repetition signals read doc_id + text only — a scan
    that drags lang/source/n_chars along is wrong at 100 TB."""
    df = q(registry, "f45_gopher_repetition", spark)
    cols = scan_columns(df)
    assert cols == {"doc_id", "text"}, cols


def test_boilerplate_removal_plan_shape(spark, registry):
    """f47: paragraph-key agg + anti-join + doc regroup — keyed
    shuffles only, no cartesian product, no unpartitioned data
    window; the frac variant's corpus total rides a broadcast 1-row
    aggregate (lazy, no driver count)."""
    from pdf2dataset_spark.operators.dedup import remove_boilerplate
    from pdf2dataset_spark.plans.audit import explain_string

    plan = explain_string(q(registry, "f47_boilerplate_removal", spark))
    assert "CartesianProduct" not in plan
    assert "Window" not in plan
    df = spark.createDataFrame([(1, "a\nb")], ["doc_id", "text"])
    fplan = explain_string(remove_boilerplate(df, min_doc_frac=0.5))
    assert "CartesianProduct" not in fplan
    # the 1-row total joins broadcast-side (BroadcastNestedLoopJoin
    # over a single-row aggregate is the lazy-scalar idiom)
    assert "Broadcast" in fplan


# --------------------------------------------- bounded ORDER BY helper
class TestOrderedSmall:
    def test_total_order_and_single_partition_plan(self, spark):
        from pyspark.sql import functions as F

        from pdf2dataset_spark.queries._util import ordered_small

        df = spark.range(0, 1000).select(
            (F.col("id") % 7).alias("k"), F.col("id").alias("v")
        )
        agg = df.groupBy("k").agg(F.sum("v").alias("s"))
        want = [r.asDict() for r in agg.orderBy("k").collect()]
        got_df = ordered_small(agg, "k")
        assert [r.asDict() for r in got_df.collect()] == want
        plan = got_df._jdf.queryExecution().executedPlan().toString()
        assert "SinglePartition" in plan
        assert "rangepartitioning" not in plan
