#!/usr/bin/env python
"""Dump the formatted physical plan of every headline query to PLANS.md.

The '.explain and iterate' evidence: for each headline query, the plan
plus a one-line summary of the scale-relevant properties (broadcast
joins, pushed filters, top-k fusion, python-free)."""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bigdatacw1_spark.plans import (  # noqa: E402
    count_global_windows,
    formatted_plan,
    has_broadcast_hash_join,
    has_python_eval,
    has_take_ordered,
    pushed_filters,
)
from bigdatacw1_spark.queries import REGISTRY  # noqa: E402
from bigdatacw1_spark.session import get_spark  # noqa: E402


def main() -> int:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark(app_name="explain-report")
    spark.sparkContext.setLogLevel("ERROR")

    lines = [
        "# PLANS — formatted physical plans of the headline queries",
        "",
        f"Generated by `scripts/explain_report.py` at `{sf_dir}`. Summary flags:",
        "BHJ = BroadcastHashJoin present, TOP = TakeOrderedAndProject fusion,",
        "PF = filters pushed to parquet scan, PY = python eval in plan (extensions only),",
        "GW = partition-less WindowExec (only allowed on provably bounded inputs —",
        "gated by the registry sweep, tests/test_parity.py::test_oracle_parity).",
        "",
    ]
    # Headline queries, plus non-headline operators whose plan shape is
    # itself the evidence (scale posture of the newer operator families).
    extra = [
        "tpch_q21_waiting_suppliers",
        "ext_hash_sample",
        "ext_hash_sample_n",
        "ext_tfidf_top_terms",
        "ext_embed_centroids",
        "ev_interval_join",
        "ev_sessionize_lag",
        "j11_range_band_join",
        "ext_crossdoc_ngram_overlap",
        "diag_key_skew",
        "a14_stats_moments",
        "ev_resample_ffill",
        "ext_pack_sequences",
        "ext_decontaminate",
        "f21_fx_convert",
        "f22_trader_limit_breach",
        "wh_scd2_lookup",
        "ext_sketch_audience_overlap",
        "ref_nosql1_pipeline",
        "ref_nosql2_pipeline",
        "ext_triangle_count",
        "wh_incremental_refresh",
        "ext_span_dedup",
    ]
    names = sorted(n for n, s in REGISTRY.items() if s.headline) + [
        n for n in extra if n in REGISTRY
    ]
    for name in names:
        df = REGISTRY[name].fn(spark, sf_dir)
        flags = []
        if has_broadcast_hash_join(df):
            flags.append("BHJ")
        if has_take_ordered(df):
            flags.append("TOP")
        if any(f.strip() for f in pushed_filters(df)):
            flags.append("PF")
        if has_python_eval(df):
            flags.append("PY")
        lines.append(f"## {name}  [{', '.join(flags) or '-'}]")
        lines.append("")
        lines.append("```")
        lines.append(formatted_plan(df).strip())
        lines.append("```")
        lines.append("")
    # Registry-wide flags audit: one row per query, so plan regressions
    # anywhere in the surface (a lost broadcast, a Python eval sneaking
    # into a parity query, a vanished pushdown) show up in the diff.
    lines += [
        "## Registry-wide plan flags",
        "",
        "| query | flags |",
        "|---|---|",
    ]
    for name in sorted(REGISTRY):
        try:
            df = REGISTRY[name].fn(spark, sf_dir)
            flags = []
            if has_broadcast_hash_join(df):
                flags.append("BHJ")
            if has_take_ordered(df):
                flags.append("TOP")
            if any(f.strip() for f in pushed_filters(df)):
                flags.append("PF")
            if has_python_eval(df):
                flags.append("PY")
            if count_global_windows(df):
                flags.append("GW")
            lines.append(f"| {name} | {', '.join(flags) or '-'} |")
        except Exception as e:  # a query that cannot even plan is the finding
            lines.append(f"| {name} | PLAN-ERROR: {type(e).__name__} |")
    lines.append("")
    out = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "PLANS.md")
    with open(out, "w") as f:
        f.write("\n".join(lines))
    print(f"wrote {out}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
