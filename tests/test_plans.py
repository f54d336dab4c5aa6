"""Physical-plan regression tests — the scale contract, not just the
results: filters must reach the parquet scan, dimension joins must
broadcast, the brute-force baselines are the ONLY nested loops, and no
Python shows up in JVM-expressible pipelines."""

from __future__ import annotations

import contextlib
import io

from mitoscape_spark.queries.extensions import QUERIES as EXT
from mitoscape_spark.queries.relational import QUERIES as REL

SF = "/root/testdata/sf0.001"


def plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_q02_filters_push_to_scan(spark):
    plan = plan_of(REL["q02"](spark, SF))
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    assert any(
        "GreaterThan(l_quantity" in l or "l_quantity" in l for l in pushed
    ), plan


def test_q09_dimension_join_broadcasts(spark):
    plan = plan_of(REL["q09"](spark, SF))
    assert "BroadcastHashJoin" in plan, plan


def test_q10_has_no_join(spark):
    # the pairwise-combination rewrite must stay join-free
    plan = plan_of(REL["q10"](spark, SF))
    assert "Join" not in plan, plan
    assert "HashAggregate" in plan


def test_q15_topk_never_global_sorts(spark):
    plan = plan_of(REL["q15"](spark, SF))
    assert "TakeOrderedAndProject" in plan, plan


def test_interval_join_is_equi_not_nested_loop(spark):
    plan = plan_of(EXT["ext_interval_join"](spark, SF))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_jvm_pipelines_have_no_python(spark):
    for name in ["q05", "q10", "ext_minhash_pairs", "ext_simhash",
                 "ext_lang_id", "ext_quality"]:
        fn = REL.get(name) or EXT[name]
        plan = plan_of(fn(spark, SF))
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, (
            f"{name} has Python in the hot path"
        )


def test_waiting_supplier_plans_semi_and_anti(spark):
    # Q21 shape: EXISTS -> semi join, NOT EXISTS -> anti join, both
    # decorrelated to hash joins (no nested loop)
    plan = plan_of(EXT["ext_sql_waiting_supplier"](spark, SF))
    assert "LeftSemi" in plan, plan
    assert "LeftAnti" in plan, plan
    assert "BroadcastNestedLoopJoin" not in plan, plan


def test_merge_upsert_broadcasts_change_keys(spark):
    # the anti-join side (change-set keys) must broadcast: the snapshot
    # is never shuffled
    plan = plan_of(EXT["ext_merge_upsert"](spark, SF))
    assert "BroadcastHashJoin" in plan, plan


def test_new_text_ops_stay_jvm_side(spark):
    for name in ["ext_redact", "ext_bpe_tokens", "ext_hash_split",
                 "ext_sample_mix", "ext_decontaminate"]:
        plan = plan_of(EXT[name](spark, SF))
        assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan, (
            f"{name} has Python in the hot path"
        )


def test_profile_is_single_aggregation_pass(spark):
    # one agg over the table: exactly one Exchange (the partial->final
    # boundary); no join, no second scan
    plan = plan_of(EXT["ext_profile"](spark, SF))
    assert "Join" not in plan, plan
    # exactly one scan (tree + detail each mention it once per scan node)
    assert plan.count("Location: InMemoryFileIndex") == 1, plan
    # multi-COUNT-DISTINCT rides one pass via Expand
    assert "Expand" in plan, plan


def test_runtime_bloom_filter_injection(spark):
    """Big-big join with a selective filter on one side: Catalyst's
    runtime row-level filtering injects a bloom filter built from the
    filtered (creation) side into the other side's scan, pruning shuffle
    input before the join — the 100 TB lever when neither side
    broadcasts. Thresholds are production-sized, so force-lower them
    here to exercise the rewrite at test scale."""
    from pyspark.sql import functions as F

    from mitoscape_spark.catalog import load_table

    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtimeFilter.number.threshold": "10",
    }
    old = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = load_table(spark, SF, "lineitem")
        orders = load_table(spark, SF, "orders").where(
            F.col("o_totalprice") > 150000
        )
        joined = li.join(orders, li.l_orderkey == orders.o_orderkey).groupBy(
            "o_orderstatus"
        ).count()
        plan = plan_of(joined)
        # creation side: bloom_filter_agg over the filtered join keys;
        # application side: a might_contain probe above the other scan
        assert "bloom_filter_agg" in plan and "might_contain" in plan, plan
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_presentation_sort_flag_switches_plan(spark):
    """_present gates on PRESENTATION_SORT: driver mode = single-
    partition sort (no range sampling), pipeline mode = distributed
    range-partitioned orderBy."""
    from mitoscape_spark.queries import relational

    try:
        driver_plan = plan_of(REL["q05"](spark, SF))
        assert "rangepartitioning" not in driver_plan.lower(), driver_plan
        relational.set_presentation_sort(False)
        sink_plan = plan_of(REL["q05"](spark, SF))
        assert "rangepartitioning" in sink_plan.lower(), sink_plan
    finally:
        relational.set_presentation_sort(True)


def test_fuzzy_partition_count_tracks_block_cardinality(spark):
    """fuzzy_pairs derives join parallelism from actual distinct-block
    count × salts (no hard-coded constant)."""
    from mitoscape_spark.operators.fuzzy import fuzzy_pairs, fuzzy_partitions

    rows = [(i, f"blk{i % 5} tail word {i}") for i in range(50)]
    df = spark.createDataFrame(rows, "id long, name string")
    # expected count must exceed spark.sql.shuffle.partitions: for
    # co-partitioned joins EnsureRequirements floors the explicit
    # count at the session conf (observed: max(user, conf))
    plan = plan_of(fuzzy_pairs(df, "id", "name", n_salts=16))
    expected = fuzzy_partitions(5, 16)  # 5 distinct first-token blocks
    assert expected > int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert "hashpartitioning(blk" in plan and f", {expected})" in plan, plan


def test_substring_dedup_no_cartesian_all_jvm(spark):
    """Span dedup must stay hash-joined (never a cross product) and
    fully JVM-side — it's the heaviest new text op."""
    plan = plan_of(EXT["ext_substring_dedup"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_temperature_mix_budget_join_broadcasts(spark):
    plan = plan_of(EXT["ext_temperature_mix"](spark, SF))
    assert "BroadcastHashJoin" in plan, plan


def test_gapfill_spine_broadcasts_bounds(spark):
    # the min/max bounds row must broadcast, never shuffle the facts
    # against a 1-row table
    plan = plan_of(EXT["ext_gapfill"](spark, SF))
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan


def test_attribution_is_pure_window_no_join(spark):
    plan = plan_of(EXT["ext_attribution"](spark, SF))
    assert "Join" not in plan, plan
    assert "Window" in plan


def test_user_trend_single_aggregation_no_python(spark):
    plan = plan_of(EXT["ext_user_trend"](spark, SF))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "HashAggregate" in plan or "SortAggregate" in plan


def test_zorder_key_is_expression_only(spark):
    plan = plan_of(EXT["ext_zorder"](spark, SF))
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # the stats row joins by broadcast (1 row), never a shuffle
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastHashJoin" in plan


def test_q6_shape_pushes_every_predicate(spark):
    plan = plan_of(EXT["ext_sql_forecast_revenue"](spark, SF))
    pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
    joined = " ".join(pushed)
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert col in joined, plan


def test_q8_shape_broadcasts_all_dims_no_cartesian(spark):
    plan = plan_of(EXT["ext_sql_market_share"](spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # five dimension joins (orders side may SMJ at scale): broadcast
    # must appear repeatedly
    assert plan.count("BroadcastHashJoin") >= 3, plan


def test_q11_shape_scalar_subquery_plans_once(spark):
    plan = plan_of(EXT["ext_sql_important_volume"](spark, SF))
    # the threshold is a scalar subquery broadcast into a Filter, not
    # a per-group nested execution
    assert "Subquery" in plan or "scalar-subquery" in plan, plan
    assert "CartesianProduct" not in plan


def test_bm25_topk_and_no_python(spark):
    from mitoscape_spark.queries.extensions import ext_bm25_search

    plan = plan_of(ext_bm25_search(spark, SF))
    assert "TakeOrderedAndProject" in plan, plan
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_triangle_count_no_cartesian(spark):
    from mitoscape_spark.queries.extensions import ext_triangle_count

    plan = plan_of(ext_triangle_count(spark, SF))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan


def test_theta_overlap_sketches_stay_jvm(spark):
    from mitoscape_spark.queries.extensions import ext_theta_overlap

    plan = plan_of(ext_theta_overlap(spark, SF))
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan


def test_join_strategy_hints_land_in_plan(spark):
    from mitoscape_spark.catalog import load_table
    from mitoscape_spark.operators.joins import (
        broadcast_join,
        merge_join,
        shuffle_hash_join,
    )

    orders = load_table(spark, SF, "orders")
    customer = load_table(spark, SF, "customer")
    li = load_table(spark, SF, "lineitem")

    p = plan_of(
        broadcast_join(
            orders, customer, orders.o_custkey == customer.c_custkey
        )
    )
    assert "BroadcastHashJoin" in p, p

    p = plan_of(
        merge_join(li, orders, li.l_orderkey == orders.o_orderkey)
    )
    assert "SortMergeJoin" in p, p

    p = plan_of(
        shuffle_hash_join(li, orders, li.l_orderkey == orders.o_orderkey)
    )
    assert "ShuffledHashJoin" in p, p


def test_join_explosion_report_math(spark):
    from mitoscape_spark.operators.joins import join_explosion_report

    left = spark.createDataFrame(
        [("a",)] * 3 + [("b",)] * 2 + [("c",)] * 1, "k string"
    )
    right = spark.createDataFrame(
        [("a",)] * 4 + [("b",)] * 5 + [("d",)] * 9, "k string"
    )
    rows = join_explosion_report(left, right, "k", top=1).collect()
    # hottest key: a (3*4=12) vs b (2*5=10); total = 12+10 ('c','d'
    # never match and must not contribute)
    assert [(r.k, r.out_rows) for r in rows] == [("a", 12), (None, 22)]
    # exact: matches the real join's output size
    real = left.join(right, "k").count()
    assert rows[-1].out_rows == real


def test_local_dim_override_plans_local_table_scan(spark):
    """register_local_override must serve a Catalyst LocalRelation
    (LocalTableScan in the physical plan), NOT an RDD-backed
    createDataFrame relation — the broadcast build side then needs no
    Python ser/de and the rows match the parquet table exactly."""
    from mitoscape_spark.catalog import (
        _TABLE_CACHE,
        load_table,
        register_local_override,
    )

    parquet_rows = sorted(
        (r.n_nationkey, r.n_name)
        for r in load_table(spark, SF, "nation").collect()
    )
    try:
        n = register_local_override(spark, SF, "nation")
        local = load_table(spark, SF, "nation")
        plan = plan_of(local)
        assert "LocalTableScan" in plan, plan
        assert "Scan parquet" not in plan, plan
        local_rows = sorted(
            (r.n_nationkey, r.n_name) for r in local.collect()
        )
        assert n == len(parquet_rows)
        assert local_rows == parquet_rows
    finally:
        key = (spark.sparkContext.applicationId, SF, "nation")
        _TABLE_CACHE.pop(key, None)


def test_local_dim_override_refuses_fact_tables(spark):
    import pytest

    from mitoscape_spark.catalog import register_local_override

    with pytest.raises(ValueError, match="max_rows"):
        register_local_override(spark, SF, "lineitem", max_rows=5)


def test_local_dim_override_refuses_empty_tables(spark, tmp_path):
    """An empty dim must raise a clear ValueError, not hand Spark the
    unparsable 'SELECT * FROM (VALUES )' (round-7 advice item 3)."""
    import pytest

    from mitoscape_spark.catalog import load_table, register_local_override

    sf_dir = str(tmp_path)
    load_table(spark, SF, "region").limit(0).write.parquet(
        f"{sf_dir}/region.parquet"
    )
    with pytest.raises(ValueError, match="empty"):
        register_local_override(spark, sf_dir, "region")


def test_quality_gopher_compositions_have_no_self_join(spark):
    """ext_auc / ext_quality_filter / ext_prep_pipeline attach quality
    and gopher columns through chained projections over ONE documents
    scan (quality_scores/gopher_rules `keep=`); a doc_id self-join of
    two scans must not reappear (round-7 join elimination)."""
    # a self-join would scan documents.parquet twice; one scan proves
    # the chained-projection shape
    for name in ("ext_quality_filter", "ext_prep_pipeline"):
        plan = plan_of(EXT[name](spark, SF))
        n_scans = plan.count("documents.parquet")
        assert n_scans == 1, (name, n_scans, plan)
        assert "Join" not in plan, (name, plan)
    # ext_auc's running_prefix checkpoints its input (the parquet scan
    # lives in earlier actions), so count join NODES instead: exactly
    # one — the prefix machinery's tiny offset-table broadcast; the
    # old doc_id self-join made it two
    plan = plan_of(EXT["ext_auc"](spark, SF))
    n_joins = sum(
        1 for line in plan.splitlines()
        if line.strip().startswith("(") and "Join" in line
    )
    assert n_joins == 1, (n_joins, plan)


def test_pairwise_ld_has_no_read_join(spark):
    """LD pairs are formed in-row from the Variants array: the plan has
    one join — the broadcast LD lookup on the pair key — and no
    self-join or join back onto the features on Read."""
    from mitoscape_spark.pipeline import fixtures
    from mitoscape_spark.pipeline.features import mt_features
    from mitoscape_spark.pipeline.ld import normalize_ld, pairwise_ld_score

    ld = normalize_ld(fixtures.to_spark(spark, fixtures.ld_scores_pdf(100)))
    feats = mt_features(
        fixtures.to_spark(spark, fixtures.mt_alignments_pdf(20))
    )
    plan = plan_of(pairwise_ld_score(feats, ld))
    joins = [
        line for line in plan.splitlines()
        if line.strip().startswith("(") and "Join" in line
    ]
    assert len(joins) == 1 and "BroadcastHashJoin" in joins[0], plan
    keys = [l for l in plan.splitlines() if "Left keys" in l or "Right keys" in l]
    assert keys and not any("Read" in l for l in keys), plan
    # the regroup on Read (+ columns that depend on it) reuses the
    # input's hash partitioning: the input's own groupBy is the only
    # exchange on Read
    assert plan.count("Arguments: hashpartitioning(Read#") == 1, plan
