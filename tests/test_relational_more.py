"""Unit tests for sessionize, orphan audit, top-k per group, histogram,
and exact moment statistics (the batch additions beyond SURVEY §2)."""

from __future__ import annotations

import datetime as dt
import math

from pyspark.sql import Window
from pyspark.sql import functions as F

from bigdatacw1_spark.operators.relational import sessionize


def _ts(minute: int) -> dt.datetime:
    return dt.datetime(2024, 1, 1, 0, 0) + dt.timedelta(minutes=minute)


def test_sessionize_splits_on_gap_and_numbers_sessions(spark):
    rows = [
        (1, _ts(0), 10),
        (1, _ts(10), 11),   # 10 min gap -> same session
        (1, _ts(50), 12),   # 40 min gap -> new session
        (1, _ts(55), 13),
        (2, _ts(0), 20),    # other user: independent numbering
    ]
    df = spark.createDataFrame(rows, "user_id int, ts timestamp, event_id int")
    out = sessionize(df, ["user_id"], "ts", gap_seconds=1800, tiebreak="event_id")
    got = {(r.user_id, r.event_id): r.session_seq for r in out.collect()}
    assert got == {(1, 10): 1, (1, 11): 1, (1, 12): 2, (1, 13): 2, (2, 20): 1}


def test_sessionize_gap_is_strictly_greater_than(spark):
    # gap == gap_seconds exactly must NOT split (boundary is gap > g).
    rows = [(1, _ts(0), 1), (1, _ts(30), 2)]
    df = spark.createDataFrame(rows, "user_id int, ts timestamp, event_id int")
    out = sessionize(df, ["user_id"], "ts", gap_seconds=1800, tiebreak="event_id")
    assert {r.session_seq for r in out.collect()} == {1}


def test_sessionize_tiebreak_orders_simultaneous_events(spark):
    # Two events at the same timestamp: session assignment must not
    # depend on input order when a tiebreak column is given.
    rows = [(1, _ts(0), 2), (1, _ts(0), 1), (1, _ts(45), 3)]
    df = spark.createDataFrame(rows, "user_id int, ts timestamp, event_id int").repartition(4)
    out = sessionize(df, ["user_id"], "ts", gap_seconds=1800, tiebreak="event_id")
    got = {r.event_id: r.session_seq for r in out.collect()}
    assert got == {1: 1, 2: 1, 3: 2}


def test_orphan_audit_counts_injected_orphans(spark):
    child = spark.createDataFrame([(1, 10), (2, 10), (3, 99)], "id int, fk int")
    parent = spark.createDataFrame([(10,)], "pk int")
    orphans = child.join(parent, child["fk"] == parent["pk"], "left_anti")
    assert orphans.count() == 1
    assert orphans.collect()[0].id == 3


def test_topk_per_group_tie_break_is_deterministic(spark):
    rows = [("en", 1, 100), ("en", 2, 100), ("en", 3, 100), ("en", 4, 100)]
    df = spark.createDataFrame(rows, "lang string, doc_id int, n_chars int").repartition(4)
    w = Window.partitionBy("lang").orderBy(F.desc("n_chars"), F.asc("doc_id"))
    top = (
        df.select("lang", "doc_id", F.row_number().over(w).alias("rk"))
        .where(F.col("rk") <= 3)
        .collect()
    )
    assert sorted((r.doc_id, r.rk) for r in top) == [(1, 1), (2, 2), (3, 3)]


def test_moment_stats_match_python_reference(spark):
    vals = [(f"t{i % 2}", float(i), i * 3 % 7) for i in range(1, 21)]
    df = spark.createDataFrame(vals, "event_type string, value double, user_id int")
    df.createOrReplaceTempView("ev_moments")
    dv = F.col("value").cast("decimal(18,2)")
    m = (
        df.groupBy("event_type")
        .agg(
            F.count("value").alias("n"),
            F.sum(dv).cast("double").alias("sx"),
            F.sum(dv * dv).cast("double").alias("sxx"),
        )
        .collect()
    )
    for r in m:
        xs = [v for t, v, _ in vals if t == r.event_type]
        mean = sum(xs) / len(xs)
        var = sum((x - mean) ** 2 for x in xs) / (len(xs) - 1)
        got = (r.sxx - r.sx * r.sx / r.n) / (r.n - 1)
        assert math.isclose(got, var, rel_tol=1e-12)


def test_histogram_buckets_cover_all_rows_and_max_lands_in_last(spark):
    df = spark.createDataFrame([(float(i),) for i in range(101)], "value double")
    mm = df.agg(F.min("value").alias("mn"), F.max("value").alias("mx"))
    width = (F.col("mx") - F.col("mn")) / F.lit(10.0)
    bucket = F.least(F.lit(9), F.floor((F.col("value") - F.col("mn")) / width)).cast("int")
    out = (
        df.crossJoin(F.broadcast(mm))
        .select(bucket.alias("bucket"))
        .groupBy("bucket")
        .count()
        .collect()
    )
    counts = {r.bucket: r["count"] for r in out}
    assert sum(counts.values()) == 101
    assert set(counts) == set(range(10))
    assert counts[9] == 11  # 90..100 inclusive: max folds into the last bucket


def test_resample_ffill_fills_gaps_and_leads_with_null(spark):
    from bigdatacw1_spark.operators.relational import resample_ffill

    rows = [
        (1, dt.datetime(2024, 1, 1, 0, 30), 10.0, 100),
        (1, dt.datetime(2024, 1, 1, 3, 15), 30.0, 101),   # hours 1,2 empty
        (2, dt.datetime(2024, 1, 1, 2, 0), 99.0, 102),    # first obs at hour 2
    ]
    df = spark.createDataFrame(rows, "user_id int, ts timestamp, value double, event_id int")
    out = resample_ffill(df, "user_id", "ts", "value", tiebreak="event_id")
    got = {(r.user_id, r.hour.hour): r.value_ffill for r in out.collect()}
    # span is hour 0..3 for every user
    assert got[(1, 0)] == 10.0 and got[(1, 1)] == 10.0 and got[(1, 2)] == 10.0 and got[(1, 3)] == 30.0
    assert got[(2, 0)] is None and got[(2, 1)] is None   # before first observation
    assert got[(2, 2)] == 99.0 and got[(2, 3)] == 99.0


def test_resample_ffill_takes_latest_observation_within_hour(spark):
    from bigdatacw1_spark.operators.relational import resample_ffill

    rows = [
        (1, dt.datetime(2024, 1, 1, 0, 10), 1.0, 1),
        (1, dt.datetime(2024, 1, 1, 0, 50), 2.0, 2),      # later in same hour wins
        (1, dt.datetime(2024, 1, 1, 1, 0), 3.0, 3),
    ]
    df = spark.createDataFrame(rows, "user_id int, ts timestamp, value double, event_id int")
    out = resample_ffill(df, "user_id", "ts", "value", tiebreak="event_id")
    got = {(r.user_id, r.hour.hour): r.value_ffill for r in out.collect()}
    assert got[(1, 0)] == 2.0 and got[(1, 1)] == 3.0


def test_as_of_join_null_payload_column_stays_atomic(spark):
    """ADVICE r1 (medium): when the most recent right row holds a NULL in
    one payload column, the output must attach THAT row's NULL — not
    forward-fill the column from an older right row (a composite row that
    never existed)."""
    from bigdatacw1_spark.operators.relational import as_of_join

    left = spark.createDataFrame([(1, 100)], "k int, lts int")
    right = spark.createDataFrame(
        [(1, 10, 7.0, "old"), (1, 50, None, "new")],
        "k int, rts int, price double, tag string",
    )
    out = as_of_join(left, right, ["k"], "lts", "rts", ["price", "tag"]).collect()
    assert len(out) == 1
    # latest right row (rts=50) has price NULL — must NOT borrow 7.0 from rts=10
    assert out[0].tag == "new" and out[0].price is None


def test_as_of_join_no_prior_right_row_gives_nulls(spark):
    from bigdatacw1_spark.operators.relational import as_of_join

    left = spark.createDataFrame([(1, 5), (1, 60)], "k int, lts int")
    right = spark.createDataFrame([(1, 10, 7.0)], "k int, rts int, price double")
    got = {r.lts: r.price for r in as_of_join(left, right, ["k"], "lts", "rts", ["price"]).collect()}
    assert got == {5: None, 60: 7.0}


def test_salted_join_rejects_outer(spark):
    import pytest as _pytest

    from bigdatacw1_spark.operators.relational import salted_join

    df = spark.createDataFrame([(1, "a")], "k int, v string")
    with _pytest.raises(ValueError, match="inner/left"):
        salted_join(df, df, "k", "k", how="full")
    with _pytest.raises(ValueError, match="inner/left"):
        salted_join(df, df, "k", "k", how="right")


def test_exact_avg_overflow_documented_behavior(spark):
    """Pin the documented |x * 10^s| < 2^63 bound (ADVICE r1): under ANSI
    mode (this engine's default) an overflowing value ERRORS the query;
    under non-ANSI it becomes NULL and drops out of BOTH sum and count,
    detectable as a count mismatch vs the raw column — never a total
    saturated at 2^63 - 1. Sums themselves may pass 2^63 units."""
    import pytest as _pytest

    from pyspark.sql import functions as F

    from bigdatacw1_spark.operators.relational import decimal_units, exact_avg, exact_sum

    ok = spark.createDataFrame([(1.5,), (2.5,)], "x double")
    assert ok.agg(exact_avg("x", scale=4).alias("a")).head()[0] == 2.0

    # 9e18 units each (just under 2^63); their sum needs more than a LONG.
    big = spark.createDataFrame([(9e14,), (9e14,)], "x double")
    assert big.agg(exact_sum("x", scale=4, digits=None)).head()[0] == 1.8e15

    huge = spark.createDataFrame([(1e27,), (4.0,)], "x double")  # 1e31 units > 2^63

    def agg():
        # ANSI-ness is fixed when the columns are built: rebuild per mode
        return huge.agg(
            exact_avg("x", scale=4).alias("a"),
            exact_sum("x", scale=4, digits=None).alias("s"),
            F.count("x").alias("n_double"),
            F.count(decimal_units("x", 4)).alias("n_units"),
        )

    with _pytest.raises(Exception, match="CAST_OVERFLOW|due to an overflow"):
        agg().head()

    prev = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    try:
        row = agg().head()
        # silent exclusion: avg and sum of the survivor only, count
        # mismatch as signal; no saturated (~9.2e14) contribution
        assert row.a == 4.0 and row.s == 4.0
        assert row.n_double == 2 and row.n_units == 1
    finally:
        spark.conf.set("spark.sql.ansi.enabled", prev)


def test_decimal_units_match_duckdb_cast(spark):
    """decimal_units reproduces DuckDB's CAST(x AS DECIMAL(30,s)) exactly:
    ties, negatives, NULL, price·(1-disc)·(1+tax) products, uniform
    values and values around 2^53 units, at every scale the engine uses."""
    import random

    import duckdb
    import pyarrow as pa

    from pyspark.sql import functions as F

    from bigdatacw1_spark.operators.relational import decimal_units

    rng = random.Random(20240917)
    common = [1.005, 2.675, 0.125, 2.5, -2.5, 0.5, -0.5, 1.5, -1.005, -2.675, 0.0, -0.0, None]
    for _ in range(600):
        price = rng.randint(90_000, 10_500_000) / 100.0
        disc = rng.randint(0, 10) / 100.0
        tax = rng.randint(0, 8) / 100.0
        common += [price, price * (1 - disc), price * (1 - disc) * (1 + tax), -price * disc]
    common += [rng.uniform(-1e4, 1e4) for _ in range(600)]
    rows = []
    for s in (0, 2, 4, 6, 8):
        edge = 2.0**53 / 10**s
        near = [edge * (1 + k * 1e-16) for k in range(-8, 9)] + [edge / 2 + 0.5 / 10**s, -edge]
        near += [math.nextafter(edge, 0.0), math.nextafter(edge, math.inf)]
        rows += [(s, x) for x in common + near]
    df = spark.createDataFrame(
        [(i, s, x) for i, (s, x) in enumerate(rows)], "id long, s int, x double"
    )
    units = F.coalesce(*[F.when(F.col("s") == s, decimal_units("x", s)) for s in (0, 2, 4, 6, 8)])
    got = {r.id: r.u for r in df.select("id", units.alias("u")).collect()}

    con = duckdb.connect()
    con.register("t", pa.table({
        "id": list(range(len(rows))),
        "s": [s for s, _ in rows],
        "x": pa.array([x for _, x in rows], pa.float64()),
    }))
    want = {}
    for s in (0, 2, 4, 6, 8):
        sql = f"SELECT id, CAST(x AS DECIMAL(30,{s})) FROM t WHERE s = {s}"
        for i, d in con.execute(sql).fetchall():
            want[i] = None if d is None else int(d.scaleb(s))
    assert len(want) == len(rows)
    bad = [(rows[i], got[i], want[i]) for i in want if got[i] != want[i]]
    assert not bad, bad[:10]


def test_twap_weights_by_holding_time(spark):
    from bigdatacw1_spark.operators.timeseries import twap

    rows = [
        # key 1: value 10 held 90s, value 20 held 10s -> twap 11.0
        (1, "2024-01-01 00:00:00", 10.0, 1),
        (1, "2024-01-01 00:01:30", 20.0, 2),
        (1, "2024-01-01 00:01:40", 99.0, 3),  # last obs: no holding interval
        # key 2: single observation -> drops out
        (2, "2024-01-01 00:00:00", 5.0, 4),
    ]
    df = spark.createDataFrame(rows, ["k", "ts", "value", "eid"]).withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    out = {r["k"]: r for r in twap(df, ["k"], "ts", "value", "eid").collect()}
    assert out[1]["twap"] == 11.0
    assert out[1]["span_seconds"] == 100
    assert out[1]["n_obs"] == 3
    assert 2 not in out


def test_resample_interpolate_straight_line_and_null_edges(spark):
    from bigdatacw1_spark.operators.timeseries import resample_interpolate

    rows = [
        (1, "2024-01-01 01:00:00", 10.0, 1),
        (1, "2024-01-01 04:00:00", 40.0, 2),
        (2, "2024-01-01 02:00:00", 7.0, 3),
    ]
    df = spark.createDataFrame(rows, ["k", "ts", "value", "eid"]).withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    out = resample_interpolate(df, "k", "ts", "value", "eid").collect()
    vals = {(r["k"], r["hour"].hour): r["value_interp"] for r in out}
    # Straight line between 10@01h and 40@04h.
    assert vals[(1, 2)] == 20.0 and vals[(1, 3)] == 30.0
    # Grid spans the GLOBAL range; outside a key's own observations -> NULL.
    assert vals[(1, 1)] == 10.0 and vals[(1, 4)] == 40.0
    assert vals[(2, 1)] is None and vals[(2, 4)] is None
    assert vals[(2, 2)] == 7.0


def test_rolling_zscore_flags_spike_and_nulls_constant_series(spark):
    from bigdatacw1_spark.operators.timeseries import rolling_zscore

    rows = [(1, f"2024-01-01 00:{m:02d}:00", 10.0, m) for m in range(10)]
    rows.append((1, "2024-01-01 00:10:00", 100.0, 10))  # spike
    rows += [(2, f"2024-01-01 00:{m:02d}:00", 5.0, 20 + m) for m in range(5)]  # constant
    df = spark.createDataFrame(rows, ["k", "ts", "value", "eid"]).withColumn(
        "ts", F.col("ts").cast("timestamp")
    )
    out = rolling_zscore(df, ["k"], "ts", "value", "eid", window_rows=10).collect()
    by = {(r["k"], r["ts"].minute): r for r in out}
    assert by[(1, 10)]["zscore"] > 2.5          # the spike stands out
    assert by[(1, 5)]["zscore"] is None          # flat history: zero variance
    assert all(by[(2, m)]["zscore"] is None for m in range(5))
    assert by[(1, 0)]["zscore"] is None          # first row: n == 1


# ---------------------------------------------------------------------------
# skyline_2d
# ---------------------------------------------------------------------------

def test_skyline_2d_dominance_and_ties(spark):
    from bigdatacw1_spark.operators.relational import skyline_2d

    pts = [
        (1.0, 5), (2.0, 3), (3.0, 1),      # staircase: all on the skyline
        (2.0, 4),                          # dominated by (2.0, 3)
        (4.0, 1),                          # dominated by (3.0, 1) (tie on y)
        (1.0, 5),                          # duplicate of a skyline point
        (0.5, 9),                          # cheapest overall: on the skyline
    ]
    df = spark.createDataFrame(pts, ["x", "y"])
    got = {(r["x"], r["y"]) for r in skyline_2d(df, "x", "y").collect()}
    assert got == {(0.5, 9), (1.0, 5), (2.0, 3), (3.0, 1)}


def test_skyline_2d_partition_invariant(spark):
    """Local pruning is sound under ANY partitioning: a repartitioned
    input yields the identical skyline."""
    from bigdatacw1_spark.operators.relational import skyline_2d

    rows = [(float(i % 17), (i * 7) % 13) for i in range(500)]
    df = spark.createDataFrame(rows, ["x", "y"])
    a = {(r["x"], r["y"]) for r in skyline_2d(df, "x", "y").collect()}
    b = {(r["x"], r["y"]) for r in skyline_2d(df.repartition(13), "x", "y").collect()}
    assert a == b and len(a) > 0
    # brute-force check on the distinct points
    pts = set(rows)
    expect = {
        p for p in pts
        if not any(
            q[0] <= p[0] and q[1] <= p[1] and (q[0] < p[0] or q[1] < p[1])
            for q in pts
        )
    }
    assert a == expect


# ---------------------------------------------------------------------------
# blocked_fuzzy_pairs (prefix-filter record linkage)
# ---------------------------------------------------------------------------

def test_blocked_fuzzy_pairs_finds_all_true_pairs(spark):
    """Completeness on a hand-built corpus: blocking must not lose any
    pair within the edit-distance budget (the prefix-filter guarantee),
    and verification must reject everything beyond it."""
    from bigdatacw1_spark.operators.linkage import blocked_fuzzy_pairs

    names = [
        (1, "Jonathan Smith"),
        (2, "Jonathan Smyth"),      # dist 1 from 1
        (3, "jonathan  smith"),     # dist 0 from 1 after normalization
        (4, "Marianne Keller"),
        (5, "Marianne Kellér"),     # dist 1 from 4
        (6, "Completely Different"),
    ]
    df = spark.createDataFrame(names, ["id", "name"])
    out = {(r["a"], r["b"]): r["dist"] for r in
           blocked_fuzzy_pairs(df, "id", "name", q=3, k=1).collect()}
    assert out[(1, 2)] == 1
    assert out[(1, 3)] == 0
    assert out[(2, 3)] == 1
    assert out[(4, 5)] == 1
    assert all(6 not in pair for pair in out)


def test_blocked_fuzzy_pairs_prefix_is_bounded(spark):
    """Every string contributes at most k*q+1 = 4 blocking grams — the
    candidate fan-out bound the scale story rests on."""
    from bigdatacw1_spark.operators.linkage import qgram_prefix

    df = spark.createDataFrame(
        [(i, f"Customer Number {i:06d} with a long tail") for i in range(50)],
        ["id", "name"],
    )
    counts = (
        qgram_prefix(df, "id", "name", q=3, k=1)
        .groupBy("id").count().collect()
    )
    assert counts and all(r["count"] <= 4 for r in counts)
