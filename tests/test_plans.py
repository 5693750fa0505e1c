"""Explain-plan regression guards for the headline TPC-H shapes.

Correctness says the answers match DuckDB; these tests pin the PLAN —
the property that actually matters at 100 TB. For each top shape we
assert:

* every dimension side the query hints is in fact broadcast
  (``BroadcastHashJoin`` count >= the hinted count) — a silent fallback
  to shuffle joins would multiply fact-table shuffles;
* the number of shuffle ``Exchange`` nodes stays within the audited
  budget (one fact shuffle for the agg; q21's self-join family is the
  only multi-exchange plan) — a regression here means an extra
  full-fact shuffle at scale;
* no broadcast-nested-loop or cartesian product sneaks in.

Budgets were read off the audited plans (see VERDICT r1 plan audit):
q3/q5/q8/q10 = 1 exchange each; q21 = 3 after the decorrelated rewrite
(one lineitem/orders shuffle pair whose partitioning both groupBys
reuse, plus the tiny final s_name agg).
"""

from __future__ import annotations

import re

import pytest

from az_datapipeline_sentiment_analysis_spark.plans.queries import REGISTRY

SF_SMOKE = "/root/testdata/sf0.001"

# name -> (max Exchange nodes, min BroadcastHashJoin nodes)
# Budgets are the audited per-query plan numbers (late round 6 extended
# this to the FULL TPC-H set): an Exchange above budget means an extra
# full-fact shuffle appeared; a BroadcastHashJoin below budget means a
# hinted dimension silently fell back to a shuffle join. q2/q11/q22's
# BroadcastNestedLoopJoins are intended one-row/stats broadcasts, so
# those three are exempted from the no-BNLJ assertion (never from the
# no-Cartesian one).
PLAN_BUDGETS = {
    "q2_min_cost_supplier": (3, 7),
    "q3_shipping_priority": (2, 2),
    "q4_order_priority": (1, 1),
    "q5_local_supplier": (2, 5),
    "q6_forecast_revenue": (1, 0),
    "q7_volume_shipping": (1, 5),
    "q8_market_share": (2, 7),
    "q9_product_profit": (1, 4),
    "q10_returned_items": (2, 3),
    "q11_important_stock": (6, 4),
    "q12_late_shipments": (1, 1),
    "q13_customer_distribution": (2, 1),
    "q14_promo_revenue": (1, 1),
    "q15_top_supplier": (3, 2),
    "q16_supplier_cnt": (2, 2),
    "q17_small_qty_revenue": (2, 3),
    "q18_large_orders": (1, 1),
    "q19_disjunctive_revenue": (1, 1),
    "q20_part_promotion": (2, 3),
    "q21_waiting_supplier": (4, 1),
    "q22_global_sales": (2, 1),
}
# intended broadcast one-row/stats nested-loop joins
_BNLJ_OK = {"q2_min_cost_supplier", "q11_important_stock", "q22_global_sales"}


def _node_indent(line: str) -> int:
    """Column where the node NAME starts in a simple-plan tree line
    ('   :  +- Sort ...' -> index of 'S')."""
    m = re.search(r"[+:]- ", line)
    return m.end() if m else len(line) - len(line.lstrip(" :"))


def _has_single_partition_sort(simple_plan: str) -> bool:
    """True if a Sort/Window node is fed by an Exchange
    SinglePartition — the single-task global sort. The parent of a
    tree line is the nearest line above whose node name starts 3
    columns left (one '+- ' level); AQE/codegen wrappers in between
    are skipped. Works on executedPlan().toString() — the formatted
    mode prints the exchange's distribution on a separate Arguments
    line, which made the old contiguous-string checks vacuous."""
    lines = simple_plan.splitlines()
    for i, line in enumerate(lines):
        if "Exchange SinglePartition" not in line:
            continue
        ind = _node_indent(line)
        for parent in reversed(lines[:i]):
            p_ind = _node_indent(parent)
            if p_ind >= ind:
                continue
            stripped = parent.strip().lstrip(":+- ")
            if stripped.startswith(("AQEShuffleRead", "ShuffleQueryStage",
                                    "InputAdapter", "WholeStageCodegen")):
                ind = p_ind
                continue
            if stripped.startswith(("Sort ", "Sort[", "Window ",
                                    "WindowGroupLimit")):
                return True
            break
    return False


def _simple_plan(spark, name: str) -> str:
    df = REGISTRY[name].fn(spark, SF_SMOKE)
    return df._jdf.queryExecution().executedPlan().toString()


def _formatted_plan(spark, name: str) -> str:
    df = REGISTRY[name].fn(spark, SF_SMOKE)
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    return df._jdf.queryExecution().explainString(mode)


@pytest.mark.parametrize("name", sorted(PLAN_BUDGETS))
def test_tpch_plan_shape(spark, name):
    plan = _formatted_plan(spark, name)
    max_exchanges, min_broadcast = PLAN_BUDGETS[name]
    n_exchange = len(re.findall(r"\(\d+\) Exchange", plan))
    n_bhj = len(re.findall(r"\(\d+\) BroadcastHashJoin", plan))
    assert n_exchange <= max_exchanges, (
        f"{name}: {n_exchange} shuffle exchanges (budget {max_exchanges}) — "
        "an extra full-fact shuffle appeared\n" + plan
    )
    assert n_bhj >= min_broadcast, (
        f"{name}: only {n_bhj} broadcast joins (expected >= {min_broadcast}) — "
        "a hinted dimension fell back to a shuffle join\n" + plan
    )
    if name not in _BNLJ_OK:
        assert "BroadcastNestedLoopJoin" not in plan, (name, plan)
    assert "CartesianProduct" not in plan, (name, plan)


def test_flagship_q1_single_exchange(spark):
    # scan -> partial agg -> ONE shuffle -> final agg; anything more is
    # a regression in the flagship path
    plan = _formatted_plan(spark, "q1_pricing_summary")
    assert len(re.findall(r"\(\d+\) Exchange", plan)) <= 1
    assert "HashAggregate" in plan


def test_scan_dpp_plan_has_dynamic_pruning(spark):
    # The registry query only WARNS on a missing pruning subquery (an
    # optimizer change must degrade to perf, not a query error at gate
    # time); the hard assert lives here where the Spark version is
    # pinned.
    df = REGISTRY["scan_dpp"].fn(spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan


def test_join_bloom_runtime_plan_has_probe(spark):
    df = REGISTRY["join_bloom_runtime"].fn(spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "might_contain" in plan, plan


def test_sessionize_single_shuffle(spark):
    # window (user_id) and group-by (user_id, session_no) must share one
    # hash partitioning: a second Exchange means the co-keyed design
    # regressed into separate shuffles
    plan = _formatted_plan(spark, "sessionize_events")
    n_exchange = len(re.findall(r"\(\d+\) Exchange", plan))
    assert n_exchange <= 1, plan


def test_quantile_bucketing_no_window_sort(spark):
    # the operator's reason to exist: decile assignment WITHOUT an
    # ntile-style global-sort window over the fact. Windows are allowed
    # only on the bounded frames of the two-phase selection (the
    # 1024-row bucket sweep and the target buckets' distinct prices) —
    # an ntile means the scale-killing global sort came back
    plan = _formatted_plan(spark, "quantile_bucketing")
    assert "ntile" not in plan, plan


def test_heavy_hitters_broadcasts_scalar(spark):
    # the 1-row global-stats frame must broadcast (nested-loop join on
    # a single row is the intended shape; a shuffle join here would
    # repartition the whole count table against one row)
    plan = _formatted_plan(spark, "heavy_hitters")
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan, plan


def test_funnel_no_cartesian(spark):
    plan = _formatted_plan(spark, "funnel_steps")
    assert "CartesianProduct" not in plan, plan


def test_cdc_apply_broadcasts_changes(spark):
    # the CDC batch is micro-batch sized; it must broadcast so the
    # merge costs one snapshot scan
    plan = _formatted_plan(spark, "cdc_apply")
    assert "BroadcastHashJoin" in plan, plan


def test_win_rank_has_group_limit_pushdown(spark):
    # Spark's WindowGroupLimit must push the rank<=3 filter below the
    # shuffle (Partial) and re-apply it after (Final): the map-side
    # top-k is what keeps the window sort linear in group count rather
    # than corpus size at 100 TB
    df = REGISTRY["win_rank"].fn(spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("WindowGroupLimit") >= 2, plan


def test_quantile_bucketing_single_percentile(spark):
    # round 5: the exact form no longer uses Percentile AT ALL — the
    # two-phase bucketed selection computes the same interpolated
    # deciles from codegen'd hash aggregates with bounded state. A
    # percentile (or any ObjectHashAggregate) reappearing here means
    # the per-partition column buffering came back
    df = REGISTRY["quantile_bucketing"].fn(spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "percentile" not in plan, plan
    assert "ObjectHashAggregate" not in plan, plan


def test_quantile_bucketing_approx_no_exact_percentile(spark):
    # the approx twin's reason to exist: the cut computation must be
    # the mergeable sketch (approx_percentile), never the exact
    # Percentile that buffers the column per partition — and the
    # bucket assignment must stay window-free like the exact form
    plan = _formatted_plan(spark, "quantile_bucketing_approx")
    assert "approx_percentile" in plan, plan
    assert "percentile(" not in plan.replace("approx_percentile(", ""), plan
    assert "Window" not in plan, plan


def test_ewma_single_window_operator(spark):
    # all 12 lag terms must share ONE Window frame (one sort per
    # (event_type, day) partition); a second lag-bearing Window node
    # means the lags were split into separate frame evaluations. The
    # round-7 day-carry rewrite adds exactly three more windows (two
    # tiny-frame prefix sweeps and the tails row_number) — a fifth
    # means a regression.
    plan = _formatted_plan(spark, "ewma_smooth")
    # formatted output prints each node twice (tree + detail section);
    # count the "(n) Window" detail headers
    assert len(re.findall(r"\(\d+\) Window\b", plan)) == 4, plan


def test_minmax_scaler_join_no_fact_shuffle(spark):
    # the broadcast-twin's contract: the customer fact scan reaches
    # the projection without a Window and with the extrema joined via
    # broadcast — the only exchange feeds the 5-row aggregate
    plan = _formatted_plan(spark, "minmax_scaler_join")
    assert "BroadcastHashJoin" in plan, plan
    assert "Window" not in plan, plan


def test_anomaly_mad_broadcasts_stats(spark):
    # both per-group stats frames are group-cardinality-sized; each
    # must broadcast so the event stream is never repartitioned
    plan = _formatted_plan(spark, "anomaly_mad")
    assert plan.count("BroadcastHashJoin") >= 2, plan


def test_token_bpe_count_map_only(spark):
    # token accounting is a pure scan-project: any Exchange means a
    # shuffle was introduced into what must stay a map-only pass
    plan = _formatted_plan(spark, "token_bpe_count")
    assert "Exchange" not in plan, plan
    assert "Window" not in plan, plan


def test_ohlc_bars_single_aggregate_no_window(spark):
    # open/high/low/close/count must fold into ONE partial+final hash
    # aggregate pair — a Window (or a second agg over the fact) would
    # re-sort types x hours worth of raw events at 100 TB
    plan = _formatted_plan(spark, "ohlc_bars")
    assert "Window" not in plan, plan
    assert len(re.findall(r"\(\d+\) HashAggregate\b", plan)) == 2, plan


def test_markov_transitions_single_raw_shuffle(spark):
    # the user_id sort shuffle is the only exchange allowed over raw
    # events; the normalization window must run on the post-aggregate
    # |types|^2 cell frame (its exchange moves ~25 rows)
    plan = _formatted_plan(spark, "markov_transitions")
    assert plan.count("hashpartitioning(user_id") <= 2, plan


def test_rolling_wau_no_window_no_cartesian(spark):
    # the sliding-distinct rewrite's contract: explode + semi-join +
    # count-distinct, never a distinct-over-range-window and never a
    # day-range cross join against raw events
    plan = _formatted_plan(spark, "rolling_wau")
    assert "Window" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_chi2_margins_from_cell_frame(spark):
    # observed cells come from ONE broadcast-joined scan of customer;
    # the margins must derive from the 25-cell frame via windows, so
    # customer appears exactly once in the plan
    plan = _formatted_plan(spark, "chi2_independence")
    assert plan.count("customer.parquet") == 1, plan
    assert "BroadcastHashJoin" in plan, plan


def test_welch_ttest_single_fact_scan(spark):
    # moments come from ONE broadcast-joined aggregate; the complement
    # group's stats derive from the 25-cell frame via windows, so
    # customer must appear exactly once
    plan = _formatted_plan(spark, "welch_ttest")
    assert plan.count("customer.parquet") == 1, plan
    assert "BroadcastHashJoin" in plan, plan


def test_dow_seasonality_single_aggregate(spark):
    # the overall per-type average is reconstructed from the 35-cell
    # frame's own sums — exactly one aggregation of raw events
    plan = _formatted_plan(spark, "dow_seasonality")
    assert plan.count("events.parquet") == 1, plan
    assert len(re.findall(r"\(\d+\) HashAggregate\b", plan)) == 2, plan


def test_interval_overlap_join_no_theta_join(spark):
    # the operator's reason to exist: the interval overlap must run as
    # an EQUI-join on the hour bucket, never the quadratic
    # broadcast-nested-loop theta form
    plan = _formatted_plan(spark, "interval_overlap_join")
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_theta_setops_single_fact_scan(spark):
    # the mergeability story: monthly partials -> yearly union ->
    # sketch-vs-sketch set ops, all from ONE scan of orders
    plan = _formatted_plan(spark, "sketch_theta_setops")
    assert plan.count("orders.parquet") == 1, plan


def test_weighted_median_two_phase_selection(spark):
    # the naive single-window form has parallelism = |flags| (112s at
    # 100x); the two-phase selection must keep exactly two Windows
    # (bucket sweep on the tiny frame + the target-bucket finish) and
    # broadcast both tiny frames
    plan = _formatted_plan(spark, "weighted_median")
    # 2 Windows sweep the 1024-row bucket frame, 1 finishes the target
    # bucket; the naive form's 2 Windows sat over the FULL fact table,
    # which this guard distinguishes via the second lineitem scan +
    # the routing/target broadcast joins
    assert len(re.findall(r"\(\d+\) Window\b", plan)) == 3, plan
    # two scan NODES (formatted mode prints each node's path twice:
    # tree label + Location detail)
    assert plan.count("lineitem.parquet") == 4, plan
    assert plan.count("BroadcastHashJoin") >= 3, plan


def test_attribution_single_window(spark):
    # both carry-forward registers must share one Window frame — a
    # second Window would re-sort every user timeline
    plan = _formatted_plan(spark, "attribution_last_touch")
    assert len(re.findall(r"\(\d+\) Window\b", plan)) == 1, plan


def test_impute_mean_no_extra_fact_shuffle(spark):
    # the users-sized stats frame joins co-keyed on user_id; the fact
    # side must not shuffle more than once for that partitioning
    plan = _formatted_plan(spark, "impute_mean_group")
    assert plan.count("hashpartitioning(user_id") <= 4, plan
    assert "CartesianProduct" not in plan, plan


def test_pareto_no_quadratic_self_join(spark):
    # the rewrite's contract: no nested-loop/cartesian dominance join;
    # the per-price frame sweep plus one equi-join back
    plan = _formatted_plan(spark, "pareto_frontier")
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert len(re.findall(r"\(\d+\) Window\b", plan)) == 1, plan


def test_win_time_range_bucketed_partitioning(spark):
    # the bounded-history rewrite's contract: the window partitions by
    # (event_type, day-bucket) — partitioning by event_type alone has
    # parallelism = |types| (81.7s vs 50.7s at 100x)
    plan = _formatted_plan(spark, "win_time_range")
    assert "hashpartitioning(event_type" in plan, plan
    assert "__bucket" in plan, plan
    assert len(re.findall(r"\(\d+\) Window\b", plan)) == 1, plan


def test_sessionize_no_array_state(spark):
    # sessionize_events must stay lag/running-sum only — per-session
    # arrays belong exclusively to session_paths_topk, where they are
    # capped at 64 entries (see test_properties)
    plan = _formatted_plan(spark, "sessionize_events")
    assert "collect_list" not in plan, plan
    assert "collect_set" not in plan, plan


def test_win_ntile_no_single_partition_window(spark):
    # round 6: ntile/percent_rank/cume_dist are closed forms of the
    # two-phase global position (bucket route + per-bucket row_number
    # + broadcast prefix offsets). The literal window functions — or
    # ANY Exchange SinglePartition — reappearing means the
    # one-task-sorts-the-whole-table plan came back (the tiny prefix
    # sweep rides a coalesce(1), not a single-partition exchange)
    plan = _formatted_plan(spark, "win_ntile")
    assert "ntile(" not in plan, plan
    assert "percent_rank(" not in plan, plan
    assert "cume_dist(" not in plan, plan
    assert not _has_single_partition_sort(
        _simple_plan(spark, "win_ntile")
    )
    assert "hashpartitioning(__b" in plan, plan


def test_ewma_smooth_day_carry_fact_window(spark):
    # round 7 (verdict r6 "wrong #1"): the 12-lag window must NOT
    # partition by event_type alone (|types|=5 → each task sorts n/5
    # rows; compute probe 14.5-19.5s vs 7.2-8.3s at 100x). The
    # fact-side window partitions by (event_type, day); cross-day lag
    # history rides the broadcast-routed carry branch whose rank cut
    # plans as a WindowGroupLimit; the per-type prefix sweeps run on
    # the tiny counts frame via coalesce(1), never an Exchange
    # SinglePartition.
    plan = _formatted_plan(spark, "ewma_smooth")
    assert not _has_single_partition_sort(
        _simple_plan(spark, "ewma_smooth")
    )
    # the fact window's partition clause must include the day column
    assert re.search(r"hashpartitioning\(event_type#\d+, __pd", plan), plan
    # the carry tails branch must push its rank cut below the exchange
    assert "WindowGroupLimit" in plan, plan
    # and no window may partition by event_type alone
    for m in re.finditer(r"hashpartitioning\(event_type#\d+(, \d+)?\)", plan):
        raise AssertionError(f"per-type-only partitioning: {m.group(0)}\n{plan}")


def test_lateral_topk_decorrelates_to_window(spark):
    # the LATERAL correlated ORDER BY/LIMIT subquery must plan as a
    # decorrelated window rank-filter (WindowGroupLimit pushes the
    # cut below the shuffle), never per-outer-row correlated scans or
    # a cartesian product
    df = REGISTRY["lateral_topk_join"].fn(spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_semdedup_pairs_only_within_clusters(spark):
    # the pair join must key on the cluster id (list_id) — a plan
    # without that equi-key means the n^2 all-pairs form came back
    plan = _formatted_plan(spark, "semdedup_prune")
    assert "CartesianProduct" not in plan, plan
    assert re.search(r"hashpartitioning\(list_id", plan) or re.search(
        r"\[list_id", plan
    ), plan


def test_trimmed_mean_no_buffering_percentile(spark):
    # cuts must come from the two-phase selection, never the
    # column-buffering Percentile/ObjectHashAggregate
    plan = _formatted_plan(spark, "trimmed_mean_robust")
    assert "percentile" not in plan.lower(), plan
    assert "ObjectHashAggregate" not in plan, plan


def test_graph_triangles_adjacency_intersect_no_cartesian(spark):
    # the adjacency-intersect form must keep the wedge set virtual: no
    # CartesianProduct, and the triangle count comes from a JVM-side
    # array_intersect over the bounded out-neighbor lists — the wedge
    # self-join + semi probe (1.48B shuffled rows at 10x) must not
    # come back
    plan = _formatted_plan(spark, "graph_triangles")
    assert "CartesianProduct" not in plan, plan
    assert "array_intersect" in plan, plan
    assert "LeftSemi" not in plan, plan


def test_asof_nearest_single_exchange_two_sorts(spark):
    # both direction carries must ride ONE user_id exchange (two sort
    # orders, zero extra shuffles); the final project is window-only
    plan = _formatted_plan(spark, "asof_join_nearest")
    assert plan.count("hashpartitioning(user_id") <= 2, plan
    assert "CartesianProduct" not in plan, plan


def test_doc_chunking_zero_shuffle(spark):
    # the chunker's contract: split -> sequence -> explode -> slice all
    # fuse into the scan projection — ANY Exchange means a shuffle
    # appeared in a map-only plan
    plan = _formatted_plan(spark, "doc_chunking")
    assert not re.search(r"\(\d+\) Exchange", plan), plan


def test_anomaly_cusum_windows_on_cell_frame(spark):
    # one raw-stream aggregate, then windows on the types x hours cell
    # frame: the raw scan shuffles once for the agg, the cell frame
    # once for the windows — a third exchange means a window leaked
    # onto the raw stream
    plan = _formatted_plan(spark, "anomaly_cusum")
    assert len(re.findall(r"\(\d+\) Exchange", plan)) <= 2, plan


def test_exact_k_sampling_group_limit_pushdown(spark):
    # the rank cut must push below the shuffle (WindowGroupLimit
    # partial + final) so map tasks forward at most k rows per stratum
    df = REGISTRY["sample_stratified_exact_k"].fn(spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("WindowGroupLimit") >= 2, plan


def test_registry_no_unbounded_buffering_aggregates(spark):
    # Registry-wide invariant (round 5): no query may plan an EXACT
    # percentile/median aggregate — the one aggregation class whose
    # per-task state grows with column volume instead of group count
    # (TypedImperativeAggregate buffering, the round-4 verdict's named
    # scale-killer). ObjectHashAggregate itself is allowed only for
    # the bounded-state forms: sketches (KLL/theta/HLL/GK/bloom),
    # collect_list whose group size is semantically bounded, and the
    # near-dup copy-group collects. Anything new that plans an OHA
    # must either be added here with a bounded-state justification or
    # rewritten on operators/quantiles.exact_group_quantiles.
    BOUNDED_STATE_OHA = {
        "agg_collect", "agg_collect_ordered",       # collect IS the op
        "approx_quantile", "quantile_bucketing_approx",  # GK sketch
        "sketch_hll", "sketch_kll_merge", "sketch_kll_quantiles",
        "sketch_theta_distinct", "sketch_theta_setops",  # sketches
        "join_bloom_runtime",                       # runtime bloom
        # minhash_neardup / simhash_neardup / dedup_verdict left this
        # list in round 8: the copy-group collect_list was replaced by
        # a persisted map-only (fp, id) members projection, so their
        # rep aggregates hold constant state (min + first) per group —
        # see tests/test_dedup_state.py for the skewed-fixture proof
        "session_paths_topk",                       # capped at 64/session
        # out-neighbor lists under the degree orientation: every
        # neighbor outranks the node, so list length is capped by
        # ~sqrt(2m) — bounded by graph structure, not row volume
        # (the approx twin shares the core on a 5x-sampled subgraph,
        # so its cap is tighter still)
        "graph_triangles", "graph_triangles_approx",
        # map_from_entries over the (user, type) POST-AGGREGATE frame:
        # the collected entry list is bounded by |event_type| (5) per
        # user, not row volume
        "map_lambda_funcs",
        # per-basket collect_set: state is bounded by BASKET size
        # (items per order, single digits), not corpus volume — the
        # same bound the pair expansion itself relies on
        "market_basket_rules", "itemcf_neighbors",
    }
    # Entries whose ONLY single-partition sort/window runs on a
    # bounded post-aggregate frame (plan-audited round 7; the fact
    # side of each stays hash-partitioned):
    BOUNDED_FRAME_GLOBAL_SORT = {
        "pack_sequences",          # prefix sum over BUCKET totals
        "curation_pipeline",       # same prefix sum, composed stage 4
        "period_over_period",      # lag over the months frame
        "interval_concurrency",    # sweep over calendar-bounded cells
        "cumulative_distinct_users",  # running sum over the date frame
        "chi2_independence",       # margins over the 25-cell grid
        "interval_overlap_join",   # share filter over the hours frame
        "apportion_quota",         # remainders over the #sources frame
        "stream_psi_drift",        # PSI over the 10-decile frame
    }
    offenders, oha_unlisted, cartesian = {}, {}, {}
    for name, entry in REGISTRY.items():
        try:
            plan = entry.fn(spark, SF_SMOKE)._jdf.queryExecution() \
                .executedPlan().toString()
        except Exception:
            continue  # environment-gated entries; parity tests own them
        clean = plan.replace("approx_percentile(", "")
        if "percentile(" in clean or "median(" in clean:
            offenders[name] = "exact percentile/median"
        # Catalyst's InjectRuntimeFilter plans its bloom build as an
        # ObjectHashAggregate(keys=[], bloom_filter_agg(...)) — a
        # SCALAR aggregate whose whole state is one fixed-size bloom
        # buffer, and whether it fires depends on size thresholds
        # (so it appears/disappears with session cache state). Strip
        # those nodes structurally instead of allowlisting every
        # entry the optimizer happens to bless with a runtime filter.
        # Strip only SCALAR bloom-build nodes (keys=[]): a grouped
        # ObjectHashAggregate that happens to mention bloom_filter_agg
        # alongside an unbounded object agg (e.g. collect_list) must
        # still trip the gate.
        oha_lines = [
            ln for ln in plan.splitlines()
            if "ObjectHashAggregate" in ln
            and not ("bloom_filter_agg" in ln and "keys=[]" in ln)
        ]
        if oha_lines and name not in BOUNDED_STATE_OHA:
            oha_unlisted[name] = "unlisted ObjectHashAggregate"
        # registry-wide shuffle-safety invariant: a CartesianProduct
        # (the NON-broadcast nested loop — both sides materialized and
        # replicated) must never appear; intended tiny-side cross
        # joins plan as BroadcastNestedLoopJoin instead
        if "CartesianProduct" in plan:
            cartesian[name] = "CartesianProduct"
        # round-7 blanket invariant: no entry may SORT a single
        # partition — the one-task-does-everything shape behind every
        # past scale-killer (win_ntile r5, ewma_smooth r6). A bare
        # Exchange SinglePartition is fine when it merges scalar
        # aggregate partials (one row per map task — min/max/count
        # global stats do this legitimately all over the registry);
        # the hazard is a Sort/Window fed by one — UNLESS the sorted
        # frame is a POST-AGGREGATE frame whose cardinality is
        # bounded by something other than row volume. Audited
        # whitelist (each bound checked by reading the plan):
        if _has_single_partition_sort(plan) and name not in \
                BOUNDED_FRAME_GLOBAL_SORT:
            cartesian[name] = "Sort over Exchange SinglePartition"
    assert not offenders, offenders
    assert not oha_unlisted, oha_unlisted
    assert not cartesian, cartesian


def test_curation_pipeline_plan_budget(spark):
    # The composed curation pipeline owns exactly the exchanges its
    # stages own: the gate and split are shuffle-free scan
    # projections, dedup contributes the minhash band/verify/member
    # joins + the md5 window + the near-set distinct/anti-join, pack
    # contributes the bucket agg + bucket-local window, the manifest
    # ONE 64-group aggregate. Audited at 23 exchanges (sf0.001)
    # through round 11; round 12's expansion-free near-dup drop set
    # (minhash_dup_doc_ids) re-audits at 14 — a rise means a stage
    # started re-shuffling work a co-keyed neighbor already paid for.
    plan = _formatted_plan(spark, "curation_pipeline")
    n_exchange = len(re.findall(r"\(\d+\) Exchange", plan))
    assert n_exchange <= 14, (n_exchange, plan)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    # the only single-partition sort is pack's bucket-frame prefix sum
    # (bounded post-aggregate frame, same audit row as pack_sequences)


def test_semdedup_pairs_stay_cluster_keyed(spark):
    # SemDeDup's cost model (n^2 -> sum-of-cluster-sizes^2) only holds
    # if the pair stage is an EQUI-join on the cluster id: both the
    # pinned-16 and the sized quantizer must plan the pair join keyed
    # on list_id — a CartesianProduct or a join that lost the list_id
    # key means all-pairs cosine is back. Growing n_lists must change
    # only the constant matrix, never the plan shape.
    # since optimization round 11 the pair stage is a numpy
    # applyInPandas per cluster: the plan must show the pair work
    # grouped BY list_id (FlatMapGroupsInPandas fed by a
    # hashpartitioning(list_id) exchange) — losing that key means
    # all-pairs cosine is back; shape-invariance across quantizer
    # sizes still holds because only the constant matrix grows.
    shapes = {}
    for name in ("semdedup_prune", "semdedup_prune_sized"):
        plan = _simple_plan(spark, name)
        m = re.search(
            r"FlatMapGroupsInPandas \[list_id|"
            r"(SortMergeJoin|ShuffledHashJoin|BroadcastHashJoin)"
            r"[^\n]*list_id",
            plan,
        )
        assert m, f"{name}: pair stage not keyed on list_id\n{plan}"
        # round-12 salted shape: the pair group key is
        # (list_id, bp, bq) — the sub-block salting that bounds
        # per-worker memory; losing list_id from the key means
        # all-pairs cosine is back, losing bp/bq means the memory
        # bound is gone
        assert re.search(
            r"FlatMapGroupsInPandas \[list_id[^\]]*\bbp[^\]]*\bbq", plan
        ), (name, plan)
        assert "hashpartitioning(list_id" in plan, (name, plan)
        assert "CartesianProduct" not in plan, (name, plan)
        shapes[name] = m.group(0).split("[")[0]
    # same physical pair-stage strategy for both sizes
    assert shapes["semdedup_prune"] == shapes["semdedup_prune_sized"], shapes


def test_drift_family_plans_stay_distributed(spark):
    # round-6 drift/novelty entries: no CartesianProduct anywhere, no
    # single-partition exchange (the ECDF/PSI windows partition by
    # pair and the final aggregates hash on it), and nested-loop
    # joins only as broadcasts of one-row stats frames (the PSI cut
    # row, the novelty corpus total).
    for name in ("ks_drift", "psi_drift", "containment_neardup",
                 "novelty_bigram_loo"):
        plan = _formatted_plan(spark, name)
        assert "CartesianProduct" not in plan, (name, plan)
        assert not _has_single_partition_sort(_simple_plan(spark, name)), name
        assert plan.count("BroadcastNestedLoopJoin") <= 2, (name, plan)
    # the containment inverted index is pure equi-join — not even a
    # broadcast nested loop
    assert "BroadcastNestedLoopJoin" not in _formatted_plan(
        spark, "containment_neardup"
    )
    # vocab_jsd_drift / embed_drift: no cartesian; the one global
    # total in vocab_jsd is a legitimate one-row SinglePartition agg,
    # so only the join shapes are pinned here (formatted plans list
    # each node twice — tree + details — so <= 2 means one real BNLJ,
    # the broadcast one-row corpus total)
    for name in ("vocab_jsd_drift", "embed_drift"):
        plan = _formatted_plan(spark, name)
        assert "CartesianProduct" not in plan, (name, plan)
        assert plan.count("BroadcastNestedLoopJoin") <= 2, (name, plan)
    # winsorize_clip / robust_scaler: broadcast stats frame onto a
    # map-only transform — all equi-joins, no nested loop, no
    # single-partition exchange
    for name in ("winsorize_clip", "robust_scaler"):
        plan = _formatted_plan(spark, name)
        assert "CartesianProduct" not in plan, (name, plan)
        assert "BroadcastNestedLoopJoin" not in plan, (name, plan)
        assert not _has_single_partition_sort(_simple_plan(spark, name)), name


def test_global_shuffle_order_no_single_partition(spark):
    # the deterministic training shuffle is the same two-phase
    # global-position shape as win_ntile: the only fact-side window
    # partitions by the 256-way hex bucket, the prefix sweep rides a
    # coalesce(1) — a row_number over an unpartitioned ORDER BY (one
    # task sorts the corpus) must never come back
    plan = _formatted_plan(spark, "global_shuffle_order")
    assert not _has_single_partition_sort(
        _simple_plan(spark, "global_shuffle_order")
    )
    assert "hashpartitioning(__b" in plan, plan


def test_bpe_merge_pairs_map_only_expansion(spark):
    # pair expansion must stay a JVM projection: no Python workers
    # (the transform/sequence lambdas are Catalyst expressions) and
    # exactly the aggregate's exchanges — an extra shuffle means the
    # explode materialized through a repartition
    plan = _formatted_plan(spark, "bpe_merge_pairs")
    assert "BatchEvalPython" not in plan, plan
    assert "ArrowEvalPython" not in plan, plan
    assert len(re.findall(r"\(\d+\) Exchange", plan)) <= 2, plan


def test_auc_by_cohort_windows_partition_by_cohort(spark):
    # the rank windows must partition by cohort — an unpartitioned
    # rank (one task sorts every event) or a SinglePartition exchange
    # means the per-slice parallelism contract broke
    plan = _formatted_plan(spark, "auc_by_cohort")
    assert not _has_single_partition_sort(
        _simple_plan(spark, "auc_by_cohort")
    )
    assert "hashpartitioning(cohort" in plan, plan


def test_knn_classify_broadcasts_queries_and_neighbors(spark):
    # the corpus scan must never shuffle: queries broadcast into the
    # scoring join (the non-equi self-exclusion makes it a BNLJ against
    # the tiny broadcast side — intended), and the (queries x k)
    # neighbor frame broadcasts back onto the label lookup; a
    # SortMergeJoin or corpus-keyed exchange means a fact shuffle
    # appeared
    plan = _formatted_plan(spark, "knn_classify")
    assert "CartesianProduct" not in plan, plan
    assert "SortMergeJoin" not in plan, plan
    assert len(re.findall(r"\(\d+\) BroadcastNestedLoopJoin", plan)) <= 1, plan
    assert "WindowGroupLimit" in plan, plan


def test_curation_sampling_entries_never_shuffle_the_fact(spark):
    # the sampling/accounting additions are broadcast-stats onto
    # map-only projections (plus their own small aggregates): the
    # documents/events scan must never hash-partition on its own rows
    # beyond the declared aggregates, and no Python workers appear
    for name, max_exchanges in (
        ("domain_mix_temperature", 2),  # lang counts + 1-row min aggs
        ("upsample_epochs", 2),         # lang counts + 1-row max aggs
        ("shard_manifest", 1),          # the 64-group manifest agg
        ("k_anonymity_audit", 2),       # class frame + per-type rollup
    ):
        plan = _formatted_plan(spark, name)
        assert "BatchEvalPython" not in plan, (name, plan)
        assert "ArrowEvalPython" not in plan, (name, plan)
        assert "CartesianProduct" not in plan, (name, plan)
        n = len(re.findall(r"\(\d+\) Exchange hashpartitioning", plan))
        assert n <= max_exchanges, (name, n, plan)


def test_metrics_family_windows_stay_value_bounded(spark):
    # round-6 third batch (queries_metrics): every window must run on
    # a value-domain-bounded frame, so no plan may exceed its audited
    # exchange budget, the CMS probe join must broadcast the 8192-cell
    # sketch, and the one single-partition window (apportion_quota)
    # is tolerated only because its input is the #sources aggregate
    for name, max_exchanges, min_bhj in (
        ("sketch_cms", 3, 1),       # key agg, cell agg, probe re-agg
        ("gini_by_group", 2, 0),    # (seg,v) agg + seg window/agg
        ("survival_km", 3, 0),      # user agg, (cohort,dur) agg, window
        ("apportion_quota", 2, 0),  # source agg + tiny global windows
        ("readability_flesch", 0, 0),  # zero-shuffle map
    ):
        plan = _formatted_plan(spark, name)
        assert "CartesianProduct" not in plan, (name, plan)
        assert "BatchEvalPython" not in plan, (name, plan)
        n = len(re.findall(r"\(\d+\) Exchange", plan))
        assert n - plan.count("SinglePartition") <= max_exchanges, (
            name, n, plan,
        )
        bhj = len(re.findall(r"\(\d+\) BroadcastHashJoin", plan))
        assert bhj >= min_bhj, (name, bhj, plan)
    # apportion_quota's global windows are the ONLY tolerated
    # single-partition exchanges in the family, and gini/survival must
    # never plan one (their windows are keyed by segment/cohort)
    for name in ("gini_by_group", "survival_km", "sketch_cms",
                 "readability_flesch"):
        assert "SinglePartition" not in _formatted_plan(spark, name), name


def test_decile_lift_two_phase_rank_and_benford_map_only(spark):
    # decile_lift must keep win_ntile's two-phase shape: NO literal
    # ntile window (that's the one-task global sort), the fact-side
    # row_number partitioned by the value bucket, and single-partition
    # exchanges confined to the <=1024-row offset / 10-row decile
    # frames (same two win_ntile's plan carries)
    plan = _formatted_plan(spark, "decile_lift")
    assert "ntile(" not in plan, plan
    assert "hashpartitioning(__b" in plan, plan
    assert plan.count("Arguments: SinglePartition") <= 2, plan
    assert "CartesianProduct" not in plan, plan
    # benford: one 9-group aggregate shuffle, nothing else
    plan = _formatted_plan(spark, "benford_dq")
    n = len(re.findall(r"\(\d+\) Exchange", plan))
    assert n <= 1, plan
    assert "SinglePartition" not in plan, plan


def test_bootstrap_ci_one_weighted_pass(spark):
    # the Poisson bootstrap must stay ONE weighted map pass: the two
    # explodes and all 64 weight decodes fuse into one projection,
    # map-side combine into the single 64-group shuffle (plus the
    # one-row base agg); the only BNLJ is the broadcast one-row base,
    # the only single-partition exchange feeds the 64-row CI window.
    # At SMOKE scale the conditional small-input redistribute fires
    # (one-file scan -> roundrobin before the fan-out), adding one
    # intentional Exchange that a many-file production scan never pays
    plan = _formatted_plan(spark, "bootstrap_ci")
    assert "CartesianProduct" not in plan, plan
    assert "BatchEvalPython" not in plan, plan
    n = len(re.findall(r"\(\d+\) Exchange", plan))
    rr = plan.count("Arguments: RoundRobinPartitioning")
    assert n - rr <= 3 and rr <= 1, plan
    assert plan.count("Arguments: SinglePartition") <= 1, plan


def test_sampling_split_hierarchy_decay_shapes(spark):
    # round-6 fourth batch: negative_sampling's only BNLJ is the
    # broadcast one-row part count and its anti-join stays co-keyed;
    # dataset_split_time must be a zero-shuffle pushed-predicate map;
    # share_of_parent aggregates once and windows on the 25-row frame;
    # time_decayed_score collapses to the (type x age) cell frame
    for name, max_ex in (
        ("negative_sampling", 4),
        ("dataset_split_time", 0),
        ("share_of_parent", 2),
        ("time_decayed_score", 3),
    ):
        plan = _formatted_plan(spark, name)
        assert "CartesianProduct" not in plan, (name, plan)
        assert "BatchEvalPython" not in plan, (name, plan)
        n = len(re.findall(r"\(\d+\) Exchange", plan))
        assert n <= max_ex, (name, n, plan)
    plan = _formatted_plan(spark, "dataset_split_time")
    assert "PushedFilters: []" not in plan, plan


def test_diversity_and_calibration_shapes(spark):
    # distinct_ngram_ratio: map-only bigram zip, the two exchanges are
    # the (source, bigram) distinct partials and the source rollup —
    # a positional self-join appearing means the zero-join zip
    # regressed; calibration_ece: broadcast one-row stats, one
    # 10-group aggregate, SinglePartition confined to the 10-row frame
    plan = _formatted_plan(spark, "distinct_ngram_ratio")
    assert len(re.findall(r"\(\d+\) Exchange", plan)) <= 2, plan
    assert "SortMergeJoin" not in plan and "Join" not in plan, plan
    plan = _formatted_plan(spark, "calibration_ece")
    assert len(re.findall(r"\(\d+\) Exchange", plan)) <= 2, plan
    assert plan.count("Arguments: SinglePartition") <= 1, plan
    assert "BatchEvalPython" not in plan, plan


def test_rfm_single_fact_shuffle_and_seasonal_cell_join(spark):
    # rfm: orders shuffles ONCE (the per-customer aggregate); the three
    # quintile passes ride the checkpointed customer frame and the
    # scoring pass is a broadcast of one 12-value row — a literal
    # ntile window or extra fact shuffle means the textbook form
    # (three global sorts) came back
    plan = _formatted_plan(spark, "rfm_segmentation")
    assert "ntile" not in plan, plan
    assert "CartesianProduct" not in plan, plan
    assert plan.count("hashpartitioning(o_custkey") <= 1, plan
    # seasonal: one fact aggregate, then the cell-frame self-join
    plan = _formatted_plan(spark, "seasonal_naive_eval")
    assert "CartesianProduct" not in plan, plan
    n = len(re.findall(r"\(\d+\) Exchange", plan))
    assert n <= 4, plan


def test_basket_rules_and_neyman_shapes(spark):
    # basket rules: pair expansion must come from basket-bounded array
    # combinatorics (a Generate over the basket agg), never an
    # items x items join; the only joins attach counts to the
    # support-filtered pair frame
    plan = _formatted_plan(spark, "market_basket_rules")
    assert "CartesianProduct" not in plan, plan
    assert "TakeOrderedAndProject" in plan, plan
    assert len(re.findall(r"\(\d+\) Generate", plan)) >= 1, plan
    # neyman: one stratum aggregate; windows on the 5-row frame only
    plan = _formatted_plan(spark, "neyman_allocation")
    assert "CartesianProduct" not in plan, plan
    n = len(re.findall(r"\(\d+\) Exchange", plan))
    assert n - plan.count("Arguments: SinglePartition") <= 1, plan


def test_plans_modules_do_not_name_import_kernel_bearing_siblings():
    """Worker-side circular-import guard (round 9).

    When a Python worker unpickles a kernel (mapInPandas / pandas_udf
    / mapInArrow / applyInPandas / UDTF closure), it imports that
    kernel's defining module as the ENTRY of the plans import chain:
    entry -> `from .queries import _q` -> queries.py bottom imports
    EVERY sibling -> any sibling that does
    `from .queries_<entry> import names` hits the PARTIALLY
    initialized entry module and dies with ImportError — but only
    when that kernel is the first Python-worker task of the session,
    so the bug hides behind worker reuse (r9: mapinarrow_transform
    failed as a fresh session's first query while passing inside the
    full sweep). Rule enforced here: a plans module may from-name-
    import `.queries` itself (its shared names are all defined above
    the bottom import block) but NEVER a kernel-bearing sibling —
    shared helpers belong in operators/ or functions/, which import
    no plans code.
    """
    import pathlib
    import re

    plans = pathlib.Path(
        "az_datapipeline_sentiment_analysis_spark/plans"
    )
    kernel_pat = re.compile(
        r"mapInPandas|pandas_udf|mapInArrow|applyInPandas|udtf"
    )
    sources = {
        p.stem: p.read_text() for p in plans.glob("queries*.py")
    }
    sources["streaming_queries"] = (
        plans / "streaming_queries.py"
    ).read_text()
    kernel_bearing = {
        m for m, src in sources.items() if kernel_pat.search(src)
    }
    offenders = []
    for m, src in sources.items():
        # only TOP-LEVEL imports participate in the import-time cycle;
        # function-local ones run at call time, after the chain has
        # fully loaded, and are safe on driver and worker alike
        for imp in re.finditer(
            r"^from \.(queries\w*|streaming_queries) import",
            src,
            re.MULTILINE,
        ):
            tgt = imp.group(1)
            if tgt == "queries":
                continue  # core names precede the bottom imports
            if tgt in kernel_bearing:
                offenders.append(f"{m} <- {tgt}")
    assert not offenders, (
        "plans modules from-name-import kernel-bearing siblings "
        f"(worker-side circular import hazard): {offenders}"
    )


def test_package_has_no_assert_statements():
    """Invariant checks in the package raise explicitly: ``python -O``
    strips ``assert`` statements, and with them the check."""
    import ast
    import pathlib

    pkg = pathlib.Path("az_datapipeline_sentiment_analysis_spark")
    offenders = [
        f"{p}:{node.lineno}"
        for p in sorted(pkg.rglob("*.py"))
        for node in ast.walk(ast.parse(p.read_text()))
        if isinstance(node, ast.Assert)
    ]
    assert not offenders, f"assert statements in the package: {offenders}"
