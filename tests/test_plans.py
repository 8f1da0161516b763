"""Physical-plan quality gates (SURVEY.md §4, §7.4.6).

Correctness is the oracle's job; these tests pin the plan SHAPES that
make the same code hold at 100 TB: dimension joins broadcast, filters
reach the parquet scan, and top-k fuses into TakeOrderedAndProject. The
registry-wide plan gates (global windows, Python eval, cartesian
products) run in the registry sweep, tests/test_parity.py.
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

from bigdatacw1_spark.plans import (
    has_broadcast_hash_join,
    has_python_eval,
    has_take_ordered,
    pushed_filters,
)
from bigdatacw1_spark.queries import REGISTRY
from tests.conftest import SF_SMALL


def _df(spark, name):
    return REGISTRY[name].fn(spark, SF_SMALL)


def test_dim_joins_broadcast(spark):
    for name in ["tpch_q5_local_volume", "tpch_q10_returned_items", "j5_multiway_pipeline"]:
        assert has_broadcast_hash_join(_df(spark, name)), f"{name}: no broadcast join in plan"


def test_filters_push_to_parquet_scan(spark):
    # Q6's three predicates must reach the lineitem scan.
    pushed = pushed_filters(_df(spark, "tpch_q6_forecast_revenue"))
    joined = ";".join(pushed)
    assert "l_shipdate" in joined and "l_discount" in joined and "l_quantity" in joined


def test_topk_fuses_into_take_ordered(spark):
    for name in ["tpch_q3_shipping_priority", "tpch_q18_large_orders", "ref_nosql1_top_group"]:
        assert has_take_ordered(_df(spark, name)), f"{name}: top-k did a global sort"


def test_semi_anti_plans_have_single_join(spark):
    from bigdatacw1_spark.plans import formatted_plan

    for name, kind in [("j6_left_semi", "LeftSemi"), ("j7_left_anti", "LeftAnti")]:
        plan = formatted_plan(_df(spark, name))
        assert kind in plan, f"{name}: expected {kind} join in plan"


def test_ivm_joinagg_delta_is_broadcast_only(spark):
    """The join+agg IVM merge must never shuffle-join (VERDICT r5 #5):
    dims attach to the change batch by broadcast, and the view merge
    (left + anti) broadcasts the group-sized sides — the only exchanges
    in the plan are the aggregates themselves. A SortMergeJoin or
    ShuffledHashJoin here means the delta path regressed to shuffling
    fact-sized data."""
    from bigdatacw1_spark.plans import formatted_plan

    plan = formatted_plan(_df(spark, "wh_ivm_joinagg_delta"))
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan


def test_bucketed_join_plan_has_no_hash_exchange(spark):
    """Bucketed co-located join: both sides written bucketed on the join
    key means the scan carries hashpartitioning — the join AND the
    group-by-key aggregate must run with ZERO hash exchange (the only
    allowed Exchange is the rangepartitioning of the final presentation
    sort). An 'Exchange hashpartitioning' here means Spark stopped
    trusting the bucket metadata — the whole point of the layout at
    100 TB."""
    from bigdatacw1_spark.plans import formatted_plan

    df = _df(spark, "wh_bucketed_colocated_join")
    plan = formatted_plan(df)
    assert "SortMergeJoin" in plan  # the pinned bucket-to-bucket merge path
    assert "Exchange hashpartitioning" not in plan
    assert plan.count("Exchange") <= 2  # rangepartitioning of the final sort


def test_sampling_is_pure_predicate_and_bottomk_avoids_global_sort(spark):
    """hash_sample must stay a scan-level filter (no shuffle, no Python);
    hash_sample_n must fuse its limit into TakeOrderedAndProject."""
    from bigdatacw1_spark.plans import formatted_plan

    frac = _df(spark, "ext_hash_sample")
    assert not has_python_eval(frac)
    bottomk = _df(spark, "ext_hash_sample_n")
    assert has_take_ordered(bottomk), "fixed-size sample did a global sort"
    plan = formatted_plan(_df(spark, "ext_train_test_split"))
    assert "Exchange" in plan  # only the final groupBy shuffles — tagging itself is row-local


def test_range_band_join_broadcasts_nested_loop(spark):
    # Inequality join against a literal dimension: must be a
    # BroadcastNestedLoopJoin (fact side never shuffles), not a cartesian.
    from bigdatacw1_spark.plans import formatted_plan

    plan = formatted_plan(_df(spark, "j11_range_band_join"))
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan


def test_skew_diag_and_topk_per_group_avoid_global_sort(spark):
    # diag_key_skew's top-10 must fuse into TakeOrderedAndProject.
    assert has_take_ordered(_df(spark, "diag_key_skew").limit(10))


def test_binned_range_join_is_equi_shuffle_not_nested_loop(spark):
    # Two big sides with an interval predicate: binning must yield a plain
    # shuffled equi-join on the bucket id — the quadratic plans never appear.
    from bigdatacw1_spark.plans import formatted_plan

    plan = formatted_plan(_df(spark, "j12_binned_range_join"))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" in plan or "ShuffledHashJoin" in plan or "BroadcastHashJoin" in plan


def test_lateral_subquery_decorrelates_to_window(spark):
    """p10's LATERAL ... LIMIT must not plan as a nested-loop or
    cartesian join: Catalyst decorrelates it into the rank-window +
    equi-join shape (the 100 TB-safe plan for per-row top-k)."""
    plan = _df(spark, "p10_lateral_topk")._jdf.queryExecution().executedPlan().toString()
    assert "row_number" in plan
    assert "NestedLoop" not in plan and "Cartesian" not in plan


def test_aqe_splits_skewed_join_partition(spark):
    """The session's AQE config must actually split a hot join key at
    runtime: a key carrying half the left side becomes multiple tasks
    (SortMergeJoin(skew=true) + 'skewed' AQEShuffleRead in the final
    adaptive plan) — the behavior the 100 TB posture leans on instead
    of hand-salting every join. Thresholds are lowered test-locally to
    make the tiny input register as skew."""
    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1.0",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "16KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "8KB",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        big = spark.range(1_000_000).select(
            F.when(F.col("id") % 2 == 0, 0).otherwise(F.col("id") % 101).alias("k"),
            F.concat(F.lit("payload-padding-"), F.col("id")).alias("payload"),
        )
        dim = spark.range(101).select(
            F.col("id").alias("k"), (F.col("id") * 2).alias("v")
        )
        j = big.join(dim, "k")
        assert len(j.collect()) == 1_000_000
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan
        assert "skewed" in plan  # the AQEShuffleRead actually split it
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v) if v is not None else spark.conf.unset(k)


def test_scans_read_only_needed_columns(spark):
    """Column pruning must reach the parquet scan: the ReadSchema of
    each scan carries exactly the columns the query touches, not the
    table's full width (at 100 TB the difference IS the scan cost)."""
    import re

    cases = {
        # query -> max columns any of its scans may read
        "ref_nosql1_top_group": 2,   # o_totalprice, o_orderpriority
        "p6_nested_predicate": 2,
        "a7_group_avg": 2,
        "ref_nosql2_screening": 4,
    }
    for name, max_cols in cases.items():
        plan = _df(spark, name)._jdf.queryExecution().executedPlan().toString()
        schemas = re.findall(r"ReadSchema: struct<([^>]*)>", plan)
        assert schemas, name
        for s in schemas:
            ncols = len([c for c in s.split(",") if ":" in c])
            assert ncols <= max_cols, (name, s)


def test_dynamic_partition_pruning_skips_partitions(spark, tmp_path):
    """Dynamic partition pruning: on a date-partitioned fact layout (the
    production layout per sources/catalog.py's scale notes), a join
    against a filtered dimension must prune fact PARTITIONS at runtime —
    the subquery-driven skip that makes 'join one month of dims' read one
    month of a 100 TB fact table. Pinned here because it depends on the
    layout (partitionBy) + conf + join shape all cooperating."""
    from bigdatacw1_spark.sources.catalog import load_table

    li = load_table(spark, SF_SMALL, "lineitem")
    fact_dir = str(tmp_path / "li_by_month")
    li.withColumn("ship_month", F.date_format("l_shipdate", "yyyy-MM")).write.partitionBy(
        "ship_month"
    ).parquet(fact_dir)
    fact = spark.read.parquet(fact_dir)
    n_months = fact.select("ship_month").distinct().count()
    assert n_months > 12  # the layout really fans out

    dim = (
        fact.select("ship_month").distinct()
        .where(F.col("ship_month").startswith("1996-0"))  # 9 of ~83 partitions
    )
    j = fact.join(dim.hint("broadcast"), "ship_month").groupBy("ship_month").count()
    plan = j._jdf.queryExecution().executedPlan().toString()
    assert "dynamicpruning" in plan.lower(), plan[:2000]
    rows = j.collect()
    assert 0 < len(rows) <= 9


def test_runtime_bloom_filter_prunes_shuffle_join_probe(spark):
    """Runtime bloom-filter join pruning: when a selective filter sits on
    one side of a big-big shuffle join, Spark can inject a bloom filter
    from that side into the other side's scan, discarding non-matching
    rows BEFORE the shuffle. At 100 TB this turns 'shuffle everything,
    match 1%' into 'shuffle ~1%'. The OSS thresholds assume cluster-sized
    inputs, so the test lowers them to make injection observable, then
    restores every conf."""
    from bigdatacw1_spark.sources.catalog import load_table

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",  # force the shuffle join
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        li = load_table(spark, SF_SMALL, "lineitem")
        orders = load_table(spark, SF_SMALL, "orders").where(
            F.col("o_orderpriority") == "1-URGENT"
        )
        j = li.join(orders, li["l_orderkey"] == orders["o_orderkey"]).groupBy(
            "o_orderpriority"
        ).count()
        plan = j._jdf.queryExecution().optimizedPlan().toString()
        assert "might_contain" in plan, plan[:2000]
        got = j.collect()
        assert len(got) == 1 and got[0]["count"] > 0
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v) if v is not None else spark.conf.unset(k)


def test_c4_clean_is_single_scan_no_shuffle(spark):
    """The C4 cleaner is line-level array work inside one scan: no
    Exchange may appear before the (presentation-only) orderBy, and no
    Python eval anywhere — at 100 TB this stage must ride the ingest
    scan for free."""
    from bigdatacw1_spark.functions.text import c4_line_filter
    from bigdatacw1_spark.plans import formatted_plan
    from bigdatacw1_spark.sources.catalog import load_table

    out = c4_line_filter(
        load_table(spark, SF_SMALL, "documents"),
        min_words=25,
        require_terminal_punct=False,
    )
    plan = formatted_plan(out)
    assert "Exchange" not in plan, plan
    assert not has_python_eval(out)


def test_bloom_probe_is_narrow_filter_no_shuffle(spark):
    """bloom_might_contain compiles to literal-array arithmetic: the
    probe side plan is scan → filter, no Exchange, no join — the whole
    point of screening a batch against the corpus filter."""
    from bigdatacw1_spark.operators.dedup import bloom_might_contain, build_bloom
    from bigdatacw1_spark.functions.text import normalized_fingerprint
    from bigdatacw1_spark.plans import formatted_plan
    from bigdatacw1_spark.sources.catalog import load_table

    docs = load_table(spark, SF_SMALL, "documents").select(
        "doc_id", normalized_fingerprint("text").alias("fp")
    )
    bloom = build_bloom(docs.where(F.col("doc_id") % 2 == 0), "fp")
    probe = docs.where(F.col("doc_id") % 2 == 1).where(bloom_might_contain("fp", bloom))
    plan = formatted_plan(probe)
    assert "Exchange" not in plan and "Join" not in plan, plan
    assert not has_python_eval(probe)


def test_bpe_tokenize_is_single_scan_no_shuffle(spark):
    """bpe_segment is a row-local expression chain: the counting plan
    must contain no Exchange at all (the orderBy in the registry entry
    is presentation; the operator itself never shuffles)."""
    from bigdatacw1_spark.functions.text import bpe_segment
    from bigdatacw1_spark.sources.catalog import load_table
    from tests.conftest import SF_SMALL

    df = bpe_segment(load_table(spark, SF_SMALL, "documents"))
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan
    assert "PythonUDF" not in plan and "BatchEvalPython" not in plan


def test_global_order_columns_matches_window_semantics(spark):
    """global_order_columns + ntile_from_rank must be bit-identical to
    the single-partition rank/ntile/running-sum windows they replace —
    checked on a skewed, tie-heavy frame (and the plan must carry no
    partition-less window)."""
    from pyspark.sql import Window

    from bigdatacw1_spark.operators.warehouse import (
        global_order_columns,
        ntile_from_rank,
    )
    from bigdatacw1_spark.plans import count_global_windows

    df = spark.range(1000).select(
        F.col("id"),
        (F.col("id") % 13).alias("k"),          # heavy ties
        ((F.col("id") * 37) % 101).alias("v"),  # value to prefix-sum
    )
    got_df, total = global_order_columns(
        df, F.col("k"), [F.col("id")], value=F.col("v"), shards=7
    )
    assert total == 1000
    assert count_global_windows(got_df) == 0
    got = {r["id"]: (r["__rank"], r["__runsum"]) for r in got_df.collect()}
    w = Window.orderBy(F.asc("k"), F.asc("id"))
    exp_df = df.withColumn("rk", F.row_number().over(w)).withColumn(
        "rs", F.sum("v").over(w.rowsBetween(Window.unboundedPreceding, 0))
    ).withColumn("nt", F.ntile(7).over(w))
    for r in exp_df.collect():
        assert got[r["id"]] == (r["rk"], r["rs"]), r
    # ntile_from_rank replays NTILE exactly, including the ragged split
    nt_df, _ = global_order_columns(df, F.col("k"), [F.col("id")], shards=5)
    nt = {
        r["id"]: r["nt"]
        for r in nt_df.withColumn(
            "nt", ntile_from_rank(F.col("__rank"), 1000, 7)
        ).collect()
    }
    for r in exp_df.collect():
        assert nt[r["id"]] == r["nt"], r


def test_sql_udf_inlines_python_free(spark):
    """The SQL scalar UDF must inline into the Catalyst plan (no Python
    eval anywhere) and keep the key-range filter pushed to the scan."""
    df = _df(spark, "f24_sql_udf")
    assert not has_python_eval(df)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_map_rows_stage_is_python_eval(spark):
    """map_rows plans as MapInArrow; the registry sweep's Python-eval
    gate (JVM_ONLY_EXT) must see every per-row stage built on it."""
    from bigdatacw1_spark.plans import formatted_plan

    df = _df(spark, "ext_mm_decode")
    assert "MapInArrow" in formatted_plan(df)
    assert has_python_eval(df)


def test_ivm_minmax_full_recount_is_semi_joined_broadcast_only(spark):
    """Delete-capable MIN/MAX IVM (VERDICT r6 #5): the affected-group
    recount must scan the base only SEMI-JOINED on the broadcast key set
    (LeftSemi BroadcastHashJoin), drop the deleted rows with a broadcast
    LeftAnti on the batch's ids, and never shuffle-join anywhere — a
    SortMergeJoin/ShuffledHashJoin means either the recount regressed to
    a full-view recompute or a view-merge side stopped broadcasting."""
    from bigdatacw1_spark.plans import formatted_plan

    plan = formatted_plan(_df(spark, "wh_ivm_minmax_full"))
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    assert "BroadcastHashJoin" in plan
    assert "LeftSemi" in plan, "recount branch lost its semi-join pruning"
    assert "LeftAnti" in plan, "delete-id anti join vanished"


def test_ivm_topk_full_recount_is_semi_joined_broadcast_only(spark):
    """Same contract as wh_ivm_minmax_full for the top-k variant: the
    recount branch must carry LeftSemi + LeftAnti broadcast joins and
    the plan must never shuffle-join; windows stay partitioned by the
    group key (registry-wide gate covers that)."""
    from bigdatacw1_spark.plans import formatted_plan

    plan = formatted_plan(_df(spark, "wh_ivm_topk_full"))
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    assert "BroadcastHashJoin" in plan
    assert "LeftSemi" in plan and "LeftAnti" in plan


def test_plans_md_flag_table_covers_registry():
    """PLANS.md's registry-wide flag table must have exactly one row per
    registry entry and no PLAN-ERROR rows (VERDICT r6: regeneration is
    manual, so two round-6 entries went stale unnoticed — this gate makes
    a forgotten `python scripts/explain_report.py` fail CI, mirroring the
    window-coverage assertion in test_parity.py)."""
    import pathlib
    import re

    from bigdatacw1_spark.queries import REGISTRY

    plans = (pathlib.Path(__file__).resolve().parents[1] / "PLANS.md").read_text()
    table = plans.split("## Registry-wide plan flags", 1)
    assert len(table) == 2, "PLANS.md lacks the registry-wide flag table"
    rows = dict(re.findall(r"^\| (\S+) \| ([^|]+) \|$", table[1], re.M))
    rows.pop("query", None)
    missing = sorted(set(REGISTRY) - set(rows))
    stale = sorted(set(rows) - set(REGISTRY))
    assert not missing, f"PLANS.md stale: regenerate (missing {missing[:5]}...)"
    assert not stale, f"PLANS.md has rows for unknown queries: {stale[:5]}"
    errors = {n: f for n, f in rows.items() if "PLAN-ERROR" in f}
    assert not errors, f"queries that cannot plan: {errors}"


def test_ivm_zset_join_is_broadcast_only(spark):
    """Z-set join IVM: every join in the bilinear delta (dim side in
    term 1, change batches in terms 2-3, group-sized delta in the view
    merge) must broadcast — a SortMergeJoin/ShuffledHashJoin means a
    fact-sized side started shuffling and the maintenance cost stopped
    being O(batch)."""
    from bigdatacw1_spark.plans import formatted_plan

    plan = formatted_plan(_df(spark, "wh_ivm_zset_join"))
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    assert "BroadcastHashJoin" in plan


def test_peak_concurrency_carry_and_peak_join_broadcast(spark):
    """The distributed prefix scan's two join-backs (the bucket-carry
    table and the per-type peak table) are model-sized and must attach
    by broadcast; a SortMergeJoin here would shuffle the fact-sized
    point stream twice for tables of a few hundred rows. The windows
    must all be keyed (no partitionless scan)."""
    from bigdatacw1_spark.plans import count_global_windows, formatted_plan

    df = _df(spark, "ev_peak_concurrency")
    plan = formatted_plan(df)
    assert has_broadcast_hash_join(df)
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan
    assert count_global_windows(df) == 0


def test_weighted_median_single_keyed_window_pass(spark):
    """Both window aggregates (cumulative weight + partition total)
    share one partitioning by l_suppkey: the plan must contain exactly
    one 'Window' span and push the suppkey predicate to the scan."""
    from bigdatacw1_spark.plans import formatted_plan

    df = _df(spark, "wh_weighted_median")
    plan = formatted_plan(df)
    assert plan.count("Window") >= 1
    # one hashpartitioning exchange for the window key; the final
    # ORDER BY adds a rangepartitioning — no other fact shuffles
    assert plan.count("Exchange hashpartitioning") <= 1
    assert any("l_suppkey" in f for f in pushed_filters(df))


def test_mmr_topk_cut_fuses_into_take_ordered(spark):
    """MMR's only fact-sized pass is the top-20 relevance cut — it must
    be a TakeOrderedAndProject (per-partition heaps), and the bounded
    greedy tail must attach candidates by broadcast."""
    df = _df(spark, "ext_mmr_rerank")
    assert has_take_ordered(df)
    assert has_broadcast_hash_join(df)


def test_round10_entries_plan_shapes(spark):
    """Round-10 design claim, CI-enforced: the Mann-Kendall pair join
    must broadcast the calendar-bounded daily aggregate (never fall
    back to a cartesian or broadcast-nested-loop). ext_cdc_chunking's
    all-JVM, cartesian-free plan is gated by the registry sweep."""
    from bigdatacw1_spark.plans import formatted_plan

    mk_df = _df(spark, "ev_mann_kendall")
    mk = formatted_plan(mk_df)
    assert "CartesianProduct" not in mk and "BroadcastNestedLoop" not in mk
    # The np_/ties joins are explicitly hinted, so has_broadcast_hash_join
    # alone could pass even if the PAIR self-join regressed — require that
    # NO join in the plan falls back to a shuffled sort-merge.
    assert "SortMergeJoin" not in mk, "pair join must broadcast the daily agg"
    assert has_broadcast_hash_join(mk_df)


def test_round11_entries_plan_shapes(spark):
    """Round-11 design claims, CI-enforced. ext_kmv_ndv's final dim
    join broadcasts (the registry sweep's bound of 0 global windows
    keeps its bottom-k the salted two-level form, and keeps it and the
    exact-replay sketch entries all-JVM). ext_heaps_law must broadcast
    its 10-row checkpoint table on both range-joins and plan no window
    at all. ev_gorilla_dod's stacked LAGs share one partitioning, so the
    plan must contain exactly one shuffle and no sort-merge join."""
    from bigdatacw1_spark.plans import formatted_plan

    kmv_df = _df(spark, "ext_kmv_ndv")
    kmv = formatted_plan(kmv_df)
    assert has_broadcast_hash_join(kmv_df)
    assert "SortMergeJoin" not in kmv

    hl_df = _df(spark, "ext_heaps_law")
    hl = formatted_plan(hl_df)
    assert "Window" not in hl, "heaps-law must not need a global window"
    assert has_broadcast_hash_join(hl_df)
    assert "CartesianProduct" not in hl and "SortMergeJoin" not in hl

    gd_df = _df(spark, "ev_gorilla_dod")
    gd = formatted_plan(gd_df)
    # exactly three shuffles: the distinct, ONE repartition shared by
    # both stacked LAG windows, and the output range sort — a fourth
    # means the windows stopped sharing their partitioning, fewer means
    # a stage the semantics need (the distinct, the sort) vanished.
    assert gd.count("+- Exchange") == 3, "gorilla dod shuffle count changed"
    assert gd.count("Window (") == 2 and "SortMergeJoin" not in gd


def test_round12_entries_plan_shapes(spark):
    """Round-12 design claims, CI-enforced. ext_weighted_reservoir must
    fuse its global top-k to TakeOrderedAndProject (per-partition heaps,
    no full sort, no corpus shuffle) — its only window sits above the
    20-row limit. ext_kmv_set_algebra joins only sketch-sized /
    broadcast sides (no sort-merge fallback). wh_ks_test's dimension
    joins broadcast. wh_jackknife_ratio and wh_cooks_distance are
    closed-form moment passes: no window at all, broadcast-only joins,
    and top-k for cooks fuses to TakeOrderedAndProject. The registry
    sweep keeps all five all-JVM and every window of ext_kmv_set_algebra
    and wh_ks_test partitioned."""
    from bigdatacw1_spark.plans import formatted_plan

    res_df = _df(spark, "ext_weighted_reservoir")
    res = formatted_plan(res_df)
    assert "TakeOrderedAndProject" in res, "reservoir top-k lost heap fusion"
    assert "Exchange hashpartitioning" not in res, "reservoir shuffled the corpus"

    kmv_df = _df(spark, "ext_kmv_set_algebra")
    kmv = formatted_plan(kmv_df)
    assert "SortMergeJoin" not in kmv, "sketch-side join fell back to SMJ"

    ks_df = _df(spark, "wh_ks_test")
    ks = formatted_plan(ks_df)
    assert has_broadcast_hash_join(ks_df)
    assert "SortMergeJoin" not in ks

    jk_df = _df(spark, "wh_jackknife_ratio")
    jk = formatted_plan(jk_df)
    assert "Window" not in jk, "jackknife is closed-form; no window allowed"
    assert has_broadcast_hash_join(jk_df) and "SortMergeJoin" not in jk

    cd_df = _df(spark, "wh_cooks_distance")
    cd = formatted_plan(cd_df)
    assert "Window" not in cd, "cooks distance is closed-form; no window allowed"
    assert "TakeOrderedAndProject" in cd, "cooks top-k lost heap fusion"
    assert "SortMergeJoin" not in cd
