"""Physical-plan quality gates: the scale claims in operator docstrings
(pushed-down filters, pruned columns, broadcast dims, partition pruning,
whole-stage codegen) asserted against the actual Catalyst output, so a
regression that silently de-optimizes a plan fails the suite even though
results stay correct."""

from __future__ import annotations

import pytest

from boltzmannclean_spark.plans.registry import all_queries

QUERIES = all_queries()


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_pricing_summary_scan_is_pruned_and_pushed(spark, sf_dir):
    df = QUERIES["pricing_summary"].spark_fn(spark, sf_dir)
    plan = _plan(df)
    assert "PushedFilters: [" in plan and "l_shipdate" in plan.split("PushedFilters")[1].split("]")[0], plan
    # Column pruning: the scan must not read columns the query never touches.
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_comment" not in read_schema, read_schema
    assert "l_partkey" not in read_schema, read_schema
    # Codegen spans only appear in the AQE-final plan, after execution.
    df.collect()
    final_plan = _plan(df)
    # "*(n)" is WholeStageCodegen's marker in the plan string.
    assert "*(" in final_plan, "aggregation fell out of codegen:\n" + final_plan


def test_project_filter_pushdown(spark, sf_dir):
    df = QUERIES["project_filter"].spark_fn(spark, sf_dir)
    plan = _plan(df)
    assert "PushedFilters: [" in plan, plan
    pushed = plan.split("PushedFilters")[1].split("]")[0]
    assert "IsNotNull" in pushed or "GreaterThan" in pushed or "EqualTo" in pushed, pushed


def test_revenue_join_broadcasts_dims(spark, sf_dir):
    df = QUERIES["join_revenue_by_nation"].spark_fn(spark, sf_dir)
    plan = _plan(df)
    assert "BroadcastHashJoin" in plan or "BroadcastExchange" in plan, plan


def test_partitioned_sink_scan_prunes_partitions(spark, sf_dir):
    df = QUERIES["sink_partitioned_pruning"].spark_fn(spark, sf_dir)
    plan = _plan(df)
    assert "PartitionFilters:" in plan, plan
    pf = plan.split("PartitionFilters:")[1].split("]")[0]
    assert "o_orderstatus" in pf, pf
    df.collect()  # materialize so the pruned scan actually runs


def test_embedding_dedup_has_no_driver_collect(spark, sf_dir):
    # The banded-LSH plan must be a pure DataFrame pipeline: joins +
    # aggregations, no Python row path and no cartesian product of the
    # corpus with itself (the planes crossJoin is a 24-row broadcast).
    df = QUERIES["dedup_embedding_cosine"].spark_fn(spark, sf_dir)
    plan = _plan(df)
    assert "CartesianProduct" not in plan, plan
    assert "mapInPandas" not in plan and "MapInPandas" not in plan, plan


def test_sessionize_single_user_shuffle(spark, sf_dir):
    # lag, running sum, and the per-session aggregate must all reuse the
    # one user_id exchange: exactly one shuffle before the final sort.
    df = QUERIES["events_sessionize"].spark_fn(spark, sf_dir)
    plan = _plan(df)
    pre_sort = plan.split("rangepartitioning")[-1]  # below the output sort
    assert pre_sort.count("Exchange hashpartitioning") == 1, plan


def test_dynamic_partition_pruning_fires(spark, sf_dir):
    # The filter is on the dim's derived column, so only a runtime
    # dynamicpruning subquery can restrict the fact scan's partitions;
    # its presence in the scan's PartitionFilters is the whole point.
    df = QUERIES["join_dynamic_partition_pruning"].spark_fn(spark, sf_dir)
    plan = _plan(df)
    assert "dynamicpruning" in plan.lower(), plan


def test_bucketed_colocated_join_has_no_exchange(spark, sf_dir):
    # Both sides are bucketed on the join key, so with broadcast
    # disabled (simulating both sides too big to broadcast — the case
    # bucketing exists for) the sort-merge join must consume the
    # bucketed scans directly: no Exchange on either join key. At tiny
    # SF the cost model broadcasts instead, which is also exchange-free;
    # the gate pins the big-table behavior.
    threshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
        df = QUERIES["join_bucketed_colocated"].spark_fn(spark, sf_dir)
        plan = _plan(df)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", threshold)
        spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
    join_pos = max(plan.find("SortMergeJoin"), plan.find("ShuffledHashJoin"))
    assert join_pos >= 0, plan
    assert "Exchange hashpartitioning(o_custkey" not in plan, plan
    assert "Exchange hashpartitioning(c_custkey" not in plan, plan
    assert "Bucketed: true" in plan, plan


def test_sessionize_skew_buckets_the_hot_key(spark, sf_dir):
    # The skew-resistant sessionizer must key its event-scale window on
    # (uid, day) — sharding the synthesized hot key across day buckets —
    # and only the session-level stage may partition on uid alone. A
    # regression to a plain uid window silently reintroduces the
    # straggler task this operator exists to avoid.
    df = QUERIES["events_sessionize_skew"].spark_fn(spark, sf_dir)
    plan = _plan(df)
    assert "hashpartitioning(uid" in plan, plan
    bucketed = [
        ln
        for ln in plan.splitlines()
        if "hashpartitioning(uid" in ln and "day" in ln
    ]
    assert bucketed, "no (uid, day)-bucketed exchange found:\n" + plan


def test_nearest_centroid_broadcasts_centroids(spark, sf_dir):
    # The corpus side must stream: centroid table broadcast, no corpus
    # cartesian product and no corpus-wide explode on the scoring path.
    df = QUERIES["embedding_nearest_centroid"].spark_fn(spark, sf_dir)
    plan = _plan(df)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_levenshtein_pairs_from_equi_join(spark, sf_dir):
    # Blocking on (lang, n_chars) must plan as a hash/merge equi-join —
    # a cartesian pair enumeration would be quadratic in the corpus.
    df = QUERIES["dedup_levenshtein_verify"].spark_fn(spark, sf_dir)
    plan = _plan(df)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_levenshtein_dp_evaluated_once(spark, sf_dir):
    # The banded DP must appear exactly once, in a projection above
    # the block join — never in the join condition, where the pushed
    # threshold filter evaluated it twice per conjunct for every
    # (lang, n_chars)-matched pair including the doc_a >= doc_b half
    # (measured 15.2 s vs 3.7 s at sf0.1). The nondeterminism barrier
    # (+ CAST(rand(0)*0 AS INT)) keeps the filter above the project.
    for name in ("dedup_levenshtein_verify", "dedup_sorted_neighborhood"):
        df = QUERIES[name].spark_fn(spark, sf_dir)
        plan = _plan(df)
        assert plan.count("levenshtein") == 1, name + ":\n" + plan
        for line in plan.splitlines():
            if "Join condition" in line:
                assert "levenshtein" not in line, name + ": " + line


def test_profile_columns_single_scan(spark, sf_dir):
    # r15 shape: counts/nulls/min/max from ONE no-grouping pass plus
    # the distinct counts from ONE unpivoted pass — exactly two scans
    # of orders (the oracle's UNION ALL twin needs 6), and the Expand
    # fan-out (6 COUNT(DISTINCT) in one agg = 7x the scan, sorted on
    # the SortAggregate path) must stay gone.
    df = QUERIES["agg_profile_columns"].spark_fn(spark, sf_dir)
    plan = _plan(df)
    assert plan.count("FileScan parquet") == 2, plan
    assert "Expand" not in plan, plan


def test_pagerank_no_cartesian_blowup(spark, sf_dir):
    # Power iteration must stay equi-join + aggregate per iteration;
    # the node count is a literal, so no nested-loop join is left.
    df = QUERIES["graph_pagerank_bipartite"].spark_fn(spark, sf_dir)
    plan = _plan(df)
    assert "CartesianProduct" not in plan, plan
    assert "NestedLoopJoin" not in plan, plan


#: Every operator whose iteration runs through graph._hop, with the
#: number of hop steps it takes (HITS runs two half-steps per round).
_HOP_USERS = {
    "graph_pagerank_bipartite": 3,
    "graph_label_propagation": 3,
    "graph_katz_centrality": 3,
    "graph_personalized_pagerank": 3,
    "graph_hits_hubs_authorities": 6,
}


@pytest.mark.parametrize("name", sorted(_HOP_USERS))
def test_hop_state_join_is_never_broadcast(spark, sf_dir, monkeypatch, name):
    # The iteration state is node-count sized — it GROWS with the
    # graph, so the state⋈edges join must be a shuffle join (a forced
    # broadcast is a guaranteed OOM at billions of nodes). Most
    # registered plans end at localCheckpoint scans, so the loop's
    # joins are invisible there: record the plan of every hop the
    # operator actually runs. Other joins (edges⋈degree in the edge
    # build) are left to cost/AQE and may broadcast at tiny SF — that's
    # size-based, not forced, and flips to shuffle at scale.
    from boltzmannclean_spark.operators import graph

    hop = graph._hop
    plans = []

    def recording_hop(*args, **kwargs):
        out = hop(*args, **kwargs)
        plans.append(_plan(out))
        return out

    monkeypatch.setattr(graph, "_hop", recording_hop)
    QUERIES[name].spark_fn(spark, sf_dir)
    assert len(plans) == _HOP_USERS[name], (name, len(plans))
    for plan in plans:
        # The state join is the one on `node`.
        state_join_lines = [
            ln for ln in plan.splitlines() if "Join" in ln and "node#" in ln
        ]
        assert state_join_lines, plan
        for ln in state_join_lines:
            assert "BroadcastHashJoin" not in ln, ln
            assert "ShuffledHashJoin" in ln or "SortMergeJoin" in ln, ln


def test_pagerank_conserves_rank_mass(spark, sf_dir):
    # Dangling-node guard: in the bipartite build every dst also
    # appears as src (edges are emitted in both directions), so no
    # rank mass can leak into a node that never redistributes it —
    # assert that structurally. Then assert Sigma-rank stays within the
    # integer-truncation envelope each iteration: each edge's
    # `r div d` loses < 1 micro-unit, each node's damping div loses
    # < 1, and 15% of the budget is re-injected exactly — so
    # RSCALE - (n_edges + n_nodes) <= Sigma-r' <= RSCALE whenever
    # Sigma-r == RSCALE-ish. A fixed loop that silently dropped
    # dangling mass would fail this immediately.
    from boltzmannclean_spark.operators.graph import (
        N_ITER,
        RSCALE,
        _cust_supp_edges,
        _pagerank_state,
        _pagerank_step,
    )
    from pyspark.sql import functions as F

    ed = _cust_supp_edges(spark, sf_dir)
    r, n_nodes = _pagerank_state(ed)
    dangling = (
        ed.select("dst")
        .distinct()
        .join(ed.select("src").distinct(), F.col("dst") == F.col("src"), "left_anti")
        .count()
    )
    assert dangling == 0, f"{dangling} dst-only nodes would leak rank mass"
    n_edges = ed.count()
    loss_bound = n_edges + n_nodes
    for _ in range(N_ITER):
        r = _pagerank_step(ed, r, n_nodes).localCheckpoint()
        total = r.agg(F.sum("r").alias("t")).collect()[0]["t"]
        assert RSCALE - loss_bound * (N_ITER + 1) <= total <= RSCALE, (
            f"rank mass {total} outside envelope [{RSCALE - loss_bound}, {RSCALE}]"
        )


def test_zorder_files_cover_bounded_rectangles(spark, sf_dir, tmp_path):
    # A Z-ordered write must give each FILE a bounded min/max rectangle
    # in both keys (that's what makes footer pruning work on either
    # predicate); a single-key sort would leave the second key's span
    # at full range in every file.
    from boltzmannclean_spark.operators.sources_sinks import (
        _morton_spark,
    )
    from pyspark.sql import functions as F

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    keyed = li.selectExpr(
        "l_partkey % 256 AS za", "l_suppkey % 256 AS zb"
    ).withColumn("morton", F.expr(_morton_spark()))
    out = str(tmp_path / "zorder")
    (
        keyed.repartitionByRange(8, "morton")
        .sortWithinPartitions("morton")
        .write.mode("overwrite")
        .parquet(out)
    )
    spans = (
        spark.read.parquet(out)
        .groupBy(F.input_file_name().alias("f"))
        .agg(
            (F.max("za") - F.min("za")).alias("span_a"),
            (F.max("zb") - F.min("zb")).alias("span_b"),
        )
        .collect()
    )
    assert len(spans) >= 4
    # every file's rectangle must be materially smaller than the full
    # 256x256 domain in at least one dimension, most in both
    tight = [r for r in spans if r.span_a <= 192 and r.span_b <= 192]
    assert len(tight) >= len(spans) // 2, [(r.span_a, r.span_b) for r in spans]


def test_compaction_reduces_file_count(spark, sf_dir, tmp_path):
    from pyspark.sql import functions as F

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet").limit(2000)
    frag = str(tmp_path / "frag")
    comp = str(tmp_path / "comp")
    li.repartition(16).write.mode("overwrite").parquet(frag)
    fdf = spark.read.parquet(frag)
    n_frag = fdf.select(F.input_file_name()).distinct().count()
    fdf.coalesce(2).write.mode("overwrite").parquet(comp)
    cdf = spark.read.parquet(comp)
    n_comp = cdf.select(F.input_file_name()).distinct().count()
    assert n_frag >= 8 and n_comp <= 2, (n_frag, n_comp)
    assert cdf.count() == fdf.count()


def test_join_strategy_hints_are_honored(spark, sf_dir):
    # The engine must expose physical join strategy control: merge →
    # SortMergeJoin, shuffle_hash → ShuffledHashJoin, broadcast →
    # BroadcastHashJoin — the knobs for overriding a bad cost estimate.
    o = spark.read.parquet(f"{sf_dir}/orders.parquet")
    c = spark.read.parquet(f"{sf_dir}/customer.parquet")
    cond = o.o_custkey == c.c_custkey
    merge_plan = _plan(o.join(c.hint("merge"), cond))
    assert "SortMergeJoin" in merge_plan, merge_plan
    sh_plan = _plan(o.join(c.hint("shuffle_hash"), cond))
    assert "ShuffledHashJoin" in sh_plan, sh_plan
    b_plan = _plan(o.join(c.hint("broadcast"), cond))
    assert "BroadcastHashJoin" in b_plan, b_plan


def test_ivf_assignment_partial_aggregates_before_shuffle(spark, sf_dir):
    # Cell assignment must never be a row_number window over vec_id,
    # which would Exchange the centroid-fanned corpus (k× the data).
    # Accepted shapes: the r15 MapInArrow encoder (zero fan-out rows —
    # NumPy argmin against the broadcast codebook) or a grouped
    # min/max_by with map-side partial aggregation. The only vec_id
    # window allowed in the nprobe plan is the tiny query-side probe
    # ranking.
    for name in ("similarity_ann_ivf", "embedding_nearest_centroid"):
        plan = _plan(QUERIES[name].spark_fn(spark, sf_dir))
        assert "windowspecdefinition(vec_id" not in plan, name + ":\n" + plan
        if "MapInArrow" in plan:
            continue
        assert "max_by" in plan or "min_by" in plan, name + ":\n" + plan
        assert "partial_" in plan, name + " lost map-side partials:\n" + plan


def test_similarity_topk_limits_rows_below_the_exchange(spark, sf_dir):
    # Per-query top-k must not funnel the scored corpus into one task
    # per query (N_QUERY=5): functions/topk.py's one row_number window
    # gets a Partial WindowGroupLimit BELOW its query_id Exchange, so
    # each map task ships at most k rows per query.
    for name in (
        "similarity_cosine_topk",
        "similarity_ann_lsh",
        "similarity_ann_ivf",
        "similarity_ann_ivf_nprobe",
        "pairs_hard_negatives",
    ):
        plan = _plan(QUERIES[name].spark_fn(spark, sf_dir))
        lines = plan.splitlines()
        ex = next(
            (i for i, ln in enumerate(lines) if "Exchange hashpartitioning(query_id" in ln),
            None,
        )
        assert ex is not None, name + " has no query_id exchange:\n" + plan
        depth = len(lines[ex]) - len(lines[ex].lstrip(" :+-"))
        below = []
        for ln in lines[ex + 1 :]:
            if len(ln) - len(ln.lstrip(" :+-")) <= depth or "Exchange" in ln:
                break
            below.append(ln)
        assert any("WindowGroupLimit" in ln and "Partial" in ln for ln in below), (
            name + " lost the map-side top-k limit:\n" + plan
        )


def test_partitioned_events_read_prunes_date_range(spark, sf_dir):
    # The date-range predicate must land in PartitionFilters (directory
    # pruning), not as a row-level data filter over all days.
    df = QUERIES["source_partitioned_events_read"].spark_fn(spark, sf_dir)
    plan = _plan(df)
    assert "PartitionFilters:" in plan, plan
    pf = plan.split("PartitionFilters:")[1].split("]")[0]
    assert "event_date" in pf, pf
    df.collect()


def test_ohlc_and_twa_single_hash_exchange(spark, sf_dir):
    """ts_ohlc_bars / ts_time_weighted_avg claim their windows ride the
    aggregation's own exchange: exactly ONE hash exchange in the plan
    (plus the final output-order range exchange)."""
    for name in ("ts_ohlc_bars", "ts_time_weighted_avg"):
        plan = _plan(QUERIES[name].spark_fn(spark, sf_dir))
        assert plan.count("Exchange hashpartitioning") == 1, f"{name}:\n{plan}"


def test_skyline_is_not_quadratic(spark, sf_dir):
    """relational_skyline must stay the segmented prefix-max plan — no
    nested-loop/cartesian self-join (the naive O(N²) formulation), and a
    bounded number of exchanges."""
    plan = _plan(QUERIES["relational_skyline"].spark_fn(spark, sf_dir))
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert plan.count("Exchange hashpartitioning") <= 4, plan


def test_bloom_semireduction_filters_before_join(spark, sf_dir):
    """The Bloom membership test (xxhash64 probes) must sit in a Filter
    on the lineitem side BEFORE the real equi-join, and the bloom build
    side must reach the probe as a broadcast, never a shuffle."""
    plan = _plan(QUERIES["join_bloom_semireduction"].spark_fn(spark, sf_dir))
    assert "xxhash64" in plan and "Filter" in plan, plan
    join_pos = plan.find("BroadcastHashJoin")
    probe_pos = plan.find("xxhash64")
    assert join_pos != -1 and probe_pos != -1, plan
    assert "CartesianProduct" not in plan, plan


def test_corr_matrix_no_shuffle(spark, sf_dir):
    """agg_corr_matrix reduces to a single global aggregation: no hash
    exchange at all (partial aggregates feed one SinglePartition merge)."""
    plan = _plan(QUERIES["agg_corr_matrix"].spark_fn(spark, sf_dir))
    assert plan.count("Exchange hashpartitioning") == 0, plan


def test_overlap_join_is_binned_not_cartesian(spark, sf_dir):
    # The interval-overlap join must be an equi-join on the time bin —
    # never a cartesian/nested-loop product of sessions with sessions.
    df = QUERIES["sessions_overlap_pairs"].spark_fn(spark, sf_dir)
    plan = _plan(df)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or (
        "BroadcastHashJoin" in plan
    ), plan


def test_bm25_filters_terms_before_aggregation(spark, sf_dir):
    # The query-term filter must land below the tf aggregation so only
    # query-term postings shuffle, not the whole token stream.
    df = QUERIES["text_bm25_topk"].spark_fn(spark, sf_dir)
    plan = _plan(df)
    agg_pos = plan.find("HashAggregate")
    filt_pos = plan.rfind("Filter")  # deepest filter in the printed tree
    assert agg_pos != -1 and filt_pos != -1, plan
    assert filt_pos > agg_pos, (
        "term filter is not below the tf aggregation:\n" + plan
    )


def test_referential_integrity_uses_broadcast_anti_joins(spark, sf_dir):
    # Orphan detection must be anti joins with the (small) parent side
    # broadcast — a shuffle anti join against a dimension would move the
    # full fact table for nothing.
    df = QUERIES["dq_referential_integrity"].spark_fn(spark, sf_dir)
    plan = _plan(df)
    assert "LeftAnti" in plan, plan
    assert "BroadcastHashJoin" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_constraint_audit_scans_each_table_once(spark, sf_dir):
    # One conditional-aggregation scan per table: 4 tables => exactly 4
    # parquet scans in the plan.
    df = QUERIES["dq_constraint_violations"].spark_fn(spark, sf_dir)
    plan = _plan(df)
    assert plan.count("Scan parquet") == 4, plan


def test_pit_scd2_join_is_keyed_not_range_only(spark, sf_dir):
    # The interval containment must ride an equi-join on custkey (the
    # residual range predicate filters in place); a pure range join
    # would be a per-key cross product at scale.
    df = QUERIES["join_pit_scd2"].spark_fn(spark, sf_dir)
    plan = _plan(df)
    assert "CartesianProduct" not in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_tpch_q09_broadcasts_every_dim(spark, sf_dir):
    """Q9's plan promise: lineitem never shuffles for part/supplier/
    nation — all three are broadcast; the only exchange pairs it with
    orders."""
    df = QUERIES["tpch_q09_product_profit"].spark_fn(spark, sf_dir)
    plan = _plan(df)
    assert plan.count("BroadcastHashJoin") >= 3, plan


def test_tpch_q06_predicates_reach_the_scan(spark, sf_dir):
    """Q6 is the pushdown showcase: shipdate and quantity filters must
    appear in the parquet scan's PushedFilters, and the scan must read
    only the four touched columns."""
    df = QUERIES["tpch_q06_revenue_forecast"].spark_fn(spark, sf_dir)
    plan = _plan(df)
    pushed = plan.split("PushedFilters")[1].split("]")[0]
    assert "l_shipdate" in pushed and "l_quantity" in pushed, pushed
    read_schema = plan.split("ReadSchema:")[1].splitlines()[0]
    assert "l_orderkey" not in read_schema, read_schema
    assert "l_tax" not in read_schema, read_schema


def test_tpch_q04_uses_semi_join(spark, sf_dir):
    """The EXISTS must plan as a LeftSemi join (key + lateness residual),
    never as an aggregate-then-inner-join or a nested loop."""
    df = QUERIES["tpch_q04_order_priority"].spark_fn(spark, sf_dir)
    plan = _plan(df)
    assert "LeftSemi" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_tpch_q22_uses_anti_join_and_one_row_broadcast(spark, sf_dir):
    """NOT EXISTS → LeftAnti; the scalar AVG → broadcast nested loop of
    a 1-row side (the bounded idiom), not a real cartesian product."""
    df = QUERIES["tpch_q22_global_sales_opportunity"].spark_fn(spark, sf_dir)
    plan = _plan(df)
    assert "LeftAnti" in plan, plan
    assert "CartesianProduct" not in plan, plan


def test_ann_serve_plans_contain_no_training(spark, sf_dir):
    """The prebuilt ANN query legs must be pure serve paths: they read
    the persisted artifact (codes/codebook[/cells] parquet under the
    index dir) and contain NO Lloyd-training aggregation — min_by/max_by
    argmin assignment is the training signature, and it must appear
    only in the build job. Guards against the serve path silently
    regressing into retrain-per-query (round-5 verdict weak #2)."""
    from boltzmannclean_spark.operators.ann_index import ensure_ann_index

    path = ensure_ann_index(spark, sf_dir)
    for name in (
        "similarity_ann_pq_adc_prebuilt",
        "similarity_ann_ivfpq_prebuilt",
    ):
        df = QUERIES[name].spark_fn(spark, sf_dir)
        plan = _plan(df)
        assert "min_by" not in plan and "max_by" not in plan, name + ":\n" + plan
        assert path in plan, f"{name} does not read the artifact:\n" + plan


def test_substring_run_join_is_shingle_keyed(spark, sf_dir):
    """The verbatim-span candidate join must be an equi-join on the
    shingle (never a cartesian doc×doc), and the DF-cap aggregation
    must partial-aggregate map-side."""
    df = QUERIES["dedup_substring_run"].spark_fn(spark, sf_dir)
    plan = _plan(df)
    assert "CartesianProduct" not in plan, plan
    assert "partial_" in plan, plan


def test_semdedup_pair_join_is_cell_keyed(spark, sf_dir):
    """SemDeDup's quadratic cosine pass must be confined to clusters:
    the pair join is an equi-join on cid, never a corpus cross
    product."""
    df = QUERIES["dedup_semantic_semdedup"].spark_fn(spark, sf_dir)
    plan = _plan(df)
    assert "CartesianProduct" not in plan, plan
    assert "cid" in plan, plan


def test_exact_moments_domain_guard_raises_loudly(spark, tmp_path):
    """Round-10 advisor item: stats_skewness_kurtosis_exact's
    decimal(38,0) x^4 chain must FAIL LOUDLY (raise_error) past the
    documented 3e7-cent domain bound instead of Spark's ANSI-off
    silent NULL-on-overflow — matching the oracle's HUGEINT, which
    errors on overflow. In-domain data must be untouched."""
    import pytest as _pytest

    from boltzmannclean_spark.operators.profiling import (
        stats_skewness_kurtosis_exact,
    )

    sf = str(tmp_path)
    spark.sql(
        "SELECT event_type, value, timestamp'2024-01-01' AS ts FROM VALUES"
        " ('a', 100.00), ('a', 200.00), ('a', 300.00), ('a', 450.00)"
        " AS t(event_type, value)"
    ).write.parquet(f"{sf}/events.parquet")
    ok = stats_skewness_kurtosis_exact(spark, sf).collect()
    assert ok[0].n == 4
    sf2 = str(tmp_path / "big")
    spark.sql(
        "SELECT event_type, value, timestamp'2024-01-01' AS ts FROM VALUES"
        " ('a', 100.00), ('a', 9e8) AS t(event_type, value)"  # 9e10 cents > 3e7 bound
    ).write.parquet(f"{sf2}/events.parquet")
    with _pytest.raises(Exception, match="exact-power domain bound"):
        stats_skewness_kurtosis_exact(spark, sf2).collect()


def test_substring_shingle_table_shares_one_exchange(spark, sf_dir):
    # r16 shape: the shingle table is repartitioned by s so the df-cap
    # aggregation and BOTH self-join sides share one exchange. The r15
    # plan duplicated the whole kept subtree per join side (8 scans,
    # 4 Generates); with AQE reuse happens at runtime, so pin the
    # static shape with AQE off: at most 2 scans / 2 Generates (the
    # column-pruned agg leg plus the full join leg) and ReusedExchange
    # present for the join sides.
    old = spark.conf.get("spark.sql.adaptive.enabled")
    try:
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        df = QUERIES["dedup_substring_run"].spark_fn(spark, sf_dir)
        plan = _plan(df)
    finally:
        spark.conf.set("spark.sql.adaptive.enabled", old)
    assert plan.count("FileScan parquet") <= 2, plan
    assert plan.count("Generate") <= 2, plan
    assert "ReusedExchange" in plan, plan


def test_recall_eval_single_evaluation_of_cand_and_truth(spark, sf_dir):
    # r16 shape: |cand|, |truth| and |cand ∩ truth| come from ONE full
    # outer join — cand/truth (and the band/minhash machinery above
    # them) must not be duplicated into separate intersect + count
    # legs. The r15 plan carried 12 Generates / 8 SortAggregates; the
    # restructured plan halves both. Pin the generate count (explode
    # sites: 2x toks into minh via the two bands consumers, 1x pinter
    # toks, 2x band posexplode, 1x probe toks).
    df = QUERIES["dedup_minhash_recall_eval"].spark_fn(spark, sf_dir)
    plan = _plan(df)
    assert plan.count("Generate") <= 6, plan
    assert "FullOuter" in plan or "full_outer" in plan.lower(), plan
