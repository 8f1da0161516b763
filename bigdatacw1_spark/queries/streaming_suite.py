"""Event-time windowing entries (batch semantics of the streaming layer).

Each entry applies the SAME transformation the Structured Streaming path
uses (streaming/windows.py) to the static events table, so the driver's
oracle check validates the windowing semantics and the streaming tests
validate batch/stream equivalence — together closing the loop.

Oracle notes: Spark's tumbling windows are epoch-aligned; DuckDB's
TIME_BUCKET with a day-divisible interval aligns to the same grid.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from bigdatacw1_spark.operators.relational import exact_sum, stable_round
from bigdatacw1_spark.queries.registry import q
from bigdatacw1_spark.queries.registry import t as _t
from bigdatacw1_spark.streaming.stateful import running_user_totals
from bigdatacw1_spark.streaming.windows import (
    session_aggregate,
    sliding_counts,
    tumbling_counts,
)


@q(
    "ev_tumbling_10min",
    oracle="""
        SELECT TIME_BUCKET(INTERVAL '10 minutes', ts) AS wstart, event_type,
               COUNT(*) AS n,
               FLOOR(CAST(SUM(CAST(value AS DECIMAL(30,2))) AS DOUBLE) * 100.0 + 0.5) / 100.0 AS sum_v
        FROM events
        GROUP BY 1, 2
    """,
    headline=True,
)
def ev_tumbling_10min(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tumbling 10-minute event-time windows per event type — the
    streaming flagship aggregation, applied to the static table."""
    return tumbling_counts(_t(spark, sf_dir, "events"), minutes=10)


@q(
    "ev_sliding_10_5",
    oracle="""
        WITH offs(k) AS (VALUES (0), (1))
        SELECT TIME_BUCKET(INTERVAL '5 minutes', ts) - k * INTERVAL '5 minutes' AS wstart,
               COUNT(*) AS n,
               FLOOR(CAST(SUM(CAST(value AS DECIMAL(30,2))) AS DOUBLE) * 100.0 + 0.5) / 100.0 AS sum_v
        FROM events CROSS JOIN offs
        GROUP BY 1
    """,
)
def ev_sliding_10_5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding windows (10-minute width, 5-minute slide): every event
    belongs to exactly two windows; the oracle enumerates both via a
    2-offset cross join."""
    return sliding_counts(_t(spark, sf_dir, "events"), width_min=10, slide_min=5)


@q(
    "ev_session_30min",
    oracle="""
        WITH d AS (
            SELECT user_id, ts, value,
                   CASE WHEN LAG(ts) OVER w IS NULL
                             OR ts - LAG(ts) OVER w >= INTERVAL '30 minutes'
                        THEN 1 ELSE 0 END AS brk
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ), s AS (
            SELECT *, SUM(brk) OVER (PARTITION BY user_id ORDER BY ts
                                     ROWS UNBOUNDED PRECEDING) AS sid
            FROM d
        )
        SELECT user_id,
               MIN(ts) AS session_start,
               MAX(ts) + INTERVAL '30 minutes' AS session_end,
               COUNT(*) AS n_events,
               FLOOR(CAST(SUM(CAST(value AS DECIMAL(30,2))) AS DOUBLE) * 100.0 + 0.5) / 100.0 AS sum_v
        FROM s
        GROUP BY user_id, sid
    """,
)
def ev_session_30min(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based session windows per user via the built-in session_window
    (stateful merge under streaming); the oracle is the classic
    gaps-and-islands formulation — same session boundaries (new session
    iff gap >= 30 min), session_end = last event + gap."""
    return session_aggregate(_t(spark, sf_dir, "events"), gap_minutes=30)


@q(
    "ev_stateful_user_totals",
    oracle="""
        SELECT user_id, COUNT(*) AS n_events,
               CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS DOUBLE) / 100.0 AS sum_value
        FROM events
        GROUP BY user_id
    """,
)
def ev_stateful_user_totals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator (a keyed fold, applyInPandasWithState on
    a stream) in its batch degenerate form: one micro-batch ⇒ the emitted
    running totals ARE the per-user totals, so the explicit-state fold is
    oracle-checkable. Each row is quantized to cents before the sum, as
    the oracle does, so the sum does not depend on batching. The
    incremental multi-batch behavior is covered by
    tests/test_streaming.py::test_stateful_running_totals_match_batch."""
    return running_user_totals(_t(spark, sf_dir, "events").select("user_id", "value"))


@q(
    "ev_interval_join",
    oracle="""
        SELECT v.user_id, CAST(COUNT(*) AS BIGINT) AS n_pairs
        FROM (SELECT user_id, ts, event_id FROM events WHERE event_type = 'view') v
        JOIN (SELECT user_id, ts, event_id FROM events WHERE event_type = 'click') c
          ON v.user_id = c.user_id
         AND c.ts > v.ts AND c.ts <= v.ts + INTERVAL 5 MINUTE
        GROUP BY v.user_id
        ORDER BY v.user_id
    """,
)
def ev_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval (range) join: clicks within 5 minutes after a view by the
    same user — equi join on user_id with a bounded time residual, the
    batch semantics of the stream-stream join in streaming/joins.py
    (incremental execution covered in tests/test_streaming.py)."""
    from pyspark.sql import functions as F

    from bigdatacw1_spark.streaming.joins import view_click_pairs

    ev = _t(spark, sf_dir, "events")
    pairs = view_click_pairs(
        ev.where(F.col("event_type") == "view"),
        ev.where(F.col("event_type") == "click"),
        horizon_min=5,
    )
    return (
        pairs.groupBy(F.col("v_user").alias("user_id"))
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .orderBy("user_id")
    )


@q(
    "ev_dedup_ingest",
    oracle="""
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
               FLOOR(CAST(SUM(CAST(value AS DECIMAL(30,2))) AS DOUBLE) * 100.0 + 0.5) / 100.0 AS sum_v
        FROM (
            SELECT DISTINCT event_id, event_type, value
            FROM (SELECT event_id, event_type, value FROM events
                  UNION ALL
                  SELECT event_id, event_type, value FROM events)
        )
        GROUP BY event_type
        ORDER BY event_type
    """,
)
def ev_dedup_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest dedup in its batch degenerate form: an at-least-once feed
    (events unioned with itself) deduped on event_id, then aggregated.
    The streaming form (dropDuplicatesWithinWatermark, bounded state) is
    exercised in tests/test_streaming.py."""
    from pyspark.sql import functions as F

    from bigdatacw1_spark.operators.relational import exact_sum
    from bigdatacw1_spark.streaming.joins import dedup_events

    ev = _t(spark, sf_dir, "events").select("event_id", "ts", "event_type", "value")
    deduped = dedup_events(ev.unionAll(ev), ("event_id",))
    return (
        deduped.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"), exact_sum("value", scale=2, digits=2).alias("sum_v"))
        .orderBy("event_type")
    )


@q(
    "ev_sessionize_lag",
    oracle="""
        WITH g AS (
            SELECT user_id, ts, event_id, value,
                   CASE WHEN LAG(ts) OVER w IS NULL
                             OR CAST(FLOOR(EPOCH(ts)) AS BIGINT)
                                - CAST(FLOOR(EPOCH(LAG(ts) OVER w)) AS BIGINT) > 1800
                        THEN 1 ELSE 0 END AS boundary
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ), s AS (
            SELECT user_id, ts, value,
                   CAST(SUM(boundary) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                            ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_seq
            FROM g
        )
        SELECT user_id, session_seq,
               MIN(ts) AS session_start, MAX(ts) AS session_end,
               CAST(COUNT(*) AS BIGINT) AS n_events,
               FLOOR(CAST(SUM(CAST(value AS DECIMAL(30,2))) AS DOUBLE) * 100.0 + 0.5) / 100.0 AS total_value
        FROM s
        GROUP BY user_id, session_seq
        ORDER BY user_id, session_seq
    """,
)
def ev_sessionize_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization via the lag+running-sum islands pattern
    (operators/relational.sessionize, 30-minute gap) — the batch
    counterpart of ev_session_30min's F.session_window, additionally
    exposing a stable per-user session_seq. The per-user shuffle is
    reused by both window passes and the per-session aggregation."""
    from pyspark.sql import functions as F

    from bigdatacw1_spark.operators.relational import exact_sum, sessionize

    ev = _t(spark, sf_dir, "events")
    s = sessionize(ev, ["user_id"], "ts", gap_seconds=1800, tiebreak="event_id")
    return (
        s.groupBy("user_id", "session_seq")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
            exact_sum("value", scale=2, digits=2).alias("total_value"),
        )
        .orderBy("user_id", "session_seq")
    )


@q(
    "ev_enrich_static",
    oracle="""
        SELECT COALESCE(c_mktsegment, 'UNKNOWN') AS segment,
               CAST(COUNT(*) AS BIGINT) AS n,
               FLOOR(CAST(SUM(CAST(value AS DECIMAL(30,2))) AS DOUBLE) * 100.0 + 0.5) / 100.0 AS total_value
        FROM events LEFT JOIN customer ON user_id = c_custkey
        GROUP BY 1 ORDER BY 1
    """,
)
def ev_enrich_static(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static enrichment (streaming/joins.enrich_with_dimension):
    decorate the event stream with a broadcast customer dimension, then
    aggregate per segment. Batch entry oracle-checks the join+agg
    semantics; tests/test_streaming.py runs the same transform as an
    actual stream (no state, micro-batch × broadcast)."""
    from pyspark.sql import functions as F

    from bigdatacw1_spark.operators.relational import exact_sum
    from bigdatacw1_spark.streaming.joins import enrich_with_dimension

    ev = _t(spark, sf_dir, "events")
    dim = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey"), F.col("c_mktsegment")
    )
    j = enrich_with_dimension(ev, dim, ev["user_id"] == dim["c_custkey"])
    return (
        j.groupBy(F.coalesce("c_mktsegment", F.lit("UNKNOWN")).alias("segment"))
        .agg(
            F.count(F.lit(1)).alias("n"),
            exact_sum("value", scale=2, digits=2).alias("total_value"),
        )
        .orderBy("segment")
    )


@q(
    "ev_resample_ffill",
    oracle="""
        WITH bounds AS (
            SELECT DATE_TRUNC('hour', MIN(ts)) AS h0, DATE_TRUNC('hour', MAX(ts)) AS h1 FROM events
        ), grid AS (
            SELECT u.user_id, h.h AS hour
            FROM (SELECT DISTINCT user_id FROM events) u,
                 (SELECT UNNEST(GENERATE_SERIES(h0, h1, INTERVAL 1 HOUR)) AS h FROM bounds) h
        ), obs AS (
            SELECT user_id, hour, value FROM (
                SELECT user_id, DATE_TRUNC('hour', ts) AS hour, value,
                       ROW_NUMBER() OVER (PARTITION BY user_id, DATE_TRUNC('hour', ts)
                                          ORDER BY ts DESC, event_id DESC) AS rn
                FROM events
            ) WHERE rn = 1
        )
        SELECT g.user_id, g.hour,
               LAST_VALUE(o.value IGNORE NULLS) OVER (
                   PARTITION BY g.user_id ORDER BY g.hour ROWS UNBOUNDED PRECEDING
               ) AS value_ffill
        FROM grid g LEFT JOIN obs o ON g.user_id = o.user_id AND g.hour = o.hour
        ORDER BY g.user_id, g.hour
    """,
)
def ev_resample_ffill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly resample + forward fill (operators/relational.resample_ffill):
    densify each user's event series to one row per hour, carrying the
    latest value forward. Values pass through un-transformed (no float
    arithmetic), so the oracle match is exact."""
    from bigdatacw1_spark.operators.relational import resample_ffill

    ev = _t(spark, sf_dir, "events")
    return resample_ffill(ev, "user_id", "ts", "value", tiebreak="event_id").orderBy(
        "user_id", "hour"
    )


@q(
    "ev_time_rollup",
    oracle="""
        SELECT STRFTIME(d, '%Y-%m-%d') AS day, STRFTIME(h, '%Y-%m-%d %H:%M') AS hour,
               gid, n_events, total_value
        FROM (
            SELECT DATE_TRUNC('day', ts) AS d, DATE_TRUNC('hour', ts) AS h,
                   CAST(GROUPING(DATE_TRUNC('day', ts), DATE_TRUNC('hour', ts)) AS BIGINT) AS gid,
                   CAST(COUNT(*) AS BIGINT) AS n_events,
                   FLOOR(CAST(SUM(CAST(value AS DECIMAL(30,2))) AS DOUBLE) * 100.0 + 0.5) / 100.0
                     AS total_value
            FROM events
            GROUP BY ROLLUP (DATE_TRUNC('day', ts), DATE_TRUNC('hour', ts))
        )
    """,
)
def ev_time_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style time-hierarchy rollup: hourly, daily, and grand
    totals in ONE aggregation pass via ROLLUP(day, hour) — Spark expands
    the grouping sets inside a single hash aggregate (Expand + partial
    agg before the shuffle), so the raw events are scanned once no
    matter how many rollup levels, where a continuous-aggregate system
    would maintain one materialization per level. ``gid`` (grouping_id)
    distinguishes a real hour row from a day subtotal whose hour is
    NULL."""
    e = _t(spark, sf_dir, "events")
    day = F.date_trunc("day", F.col("ts"))
    hour = F.date_trunc("hour", F.col("ts"))
    agged = e.rollup(day.alias("day"), hour.alias("hour")).agg(
        F.grouping_id().alias("gid"),
        F.count(F.lit(1)).alias("n_events"),
        exact_sum("value", scale=2, digits=2).alias("total_value"),
    )
    return agged.select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.date_format("hour", "yyyy-MM-dd HH:mm").alias("hour"),
        "gid",
        "n_events",
        "total_value",
    )


@q(
    "ev_interval_join_outer",
    oracle="""
        SELECT v.user_id,
               CAST(COUNT(*) AS BIGINT) AS n_view_rows,
               CAST(COUNT(c.event_id) AS BIGINT) AS n_attributed,
               CAST(COUNT(*) - COUNT(c.event_id) AS BIGINT) AS n_unattributed
        FROM (SELECT user_id, ts, event_id FROM events WHERE event_type = 'view') v
        LEFT JOIN (SELECT user_id, ts, event_id FROM events WHERE event_type = 'click') c
          ON v.user_id = c.user_id
         AND c.ts > v.ts AND c.ts <= v.ts + INTERVAL 5 MINUTE
        GROUP BY v.user_id
        ORDER BY v.user_id
    """,
)
def ev_interval_join_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT OUTER interval join: every view keeps a row even when no
    click follows within 5 minutes — the funnel-drop-off side of the
    attribution question ev_interval_join answers. Batch semantics of
    the streaming outer join (streaming/joins.view_click_pairs with
    how='left_outer'; state-expiry behavior covered in
    tests/test_streaming.py)."""
    from bigdatacw1_spark.streaming.joins import view_click_pairs

    ev = _t(spark, sf_dir, "events")
    pairs = view_click_pairs(
        ev.where(F.col("event_type") == "view"),
        ev.where(F.col("event_type") == "click"),
        horizon_min=5,
        how="left_outer",
    )
    return (
        pairs.groupBy(F.col("v_user").alias("user_id"))
        .agg(
            F.count(F.lit(1)).alias("n_view_rows"),
            F.count("click_id").alias("n_attributed"),
            (F.count(F.lit(1)) - F.count("click_id")).alias("n_unattributed"),
        )
        .orderBy("user_id")
    )


@q(
    "ev_tws_topk",
    oracle="""
        WITH ranked AS (
            SELECT user_id, value,
                   CAST(ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY value DESC)
                        AS INTEGER) AS rank,
                   COUNT(*) OVER (PARTITION BY user_id) AS n_seen
            FROM events
        )
        SELECT user_id, n_seen, rank, value
        FROM ranked WHERE rank <= 3
        ORDER BY user_id, rank
    """,
)
def ev_tws_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 values per user via the transformWithState fold
    (streaming/stateful_tws.py) in its batch degenerate form — one
    applyInPandas pass with empty initial state. The oracle is the
    equivalent window-rank SQL, pinning the fold's semantics; the
    incremental multi-batch path (typed RocksDB-backed state) is
    exercised by tests/test_streaming.py::test_tws_topk_matches_batch.

    Ties are output-safe: equal values ordered arbitrarily by ROW_NUMBER
    still yield the same (rank, value) rows, and a tie straddling the
    k boundary keeps one of the equal values in both engines."""
    from bigdatacw1_spark.streaming.stateful_tws import topk_per_user

    return topk_per_user(_t(spark, sf_dir, "events"), k=3).orderBy("user_id", "rank")


@q(
    "ev_twap",
    oracle="""
        WITH seg AS (
            SELECT user_id,
                   CAST(ROUND(value * 100) AS BIGINT) AS v,
                   CAST(FLOOR(EPOCH(LEAD(ts) OVER w)) AS BIGINT)
                     - CAST(FLOOR(EPOCH(ts)) AS BIGINT) AS dt
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        )
        SELECT user_id,
               FLOOR((CAST(SUM(v * dt) AS DOUBLE) / (100.0 * SUM(dt))) * 10000.0 + 0.5)
                 / 10000.0 AS twap,
               CAST(SUM(dt) AS BIGINT) AS span_seconds,
               CAST(COUNT(*) + 1 AS BIGINT) AS n_obs
        FROM seg WHERE dt IS NOT NULL
        GROUP BY user_id
        ORDER BY user_id
    """,
)
def ev_twap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average value per user (operators/timeseries.twap):
    each observation holds until the next, weights are whole seconds and
    values integer cents, so the weighted sum is exact BIGINT arithmetic
    and the result hash-matches the oracle bit-for-bit."""
    from bigdatacw1_spark.operators.timeseries import twap

    return twap(
        _t(spark, sf_dir, "events"), ["user_id"], "ts", "value", tiebreak="event_id"
    ).orderBy("user_id")


@q(
    "ev_resample_interp",
    oracle="""
        WITH bounds AS (
            SELECT DATE_TRUNC('hour', MIN(ts)) AS h0, DATE_TRUNC('hour', MAX(ts)) AS h1 FROM events
        ), grid AS (
            SELECT u.user_id, h.h AS hour
            FROM (SELECT DISTINCT user_id FROM events) u,
                 (SELECT UNNEST(GENERATE_SERIES(h0, h1, INTERVAL 1 HOUR)) AS h FROM bounds) h
        ), obs AS (
            SELECT user_id, hour, value FROM (
                SELECT user_id, DATE_TRUNC('hour', ts) AS hour, value,
                       ROW_NUMBER() OVER (PARTITION BY user_id, DATE_TRUNC('hour', ts)
                                          ORDER BY ts DESC, event_id DESC) AS rn
                FROM events
            ) WHERE rn = 1
        ), g AS (
            SELECT g.user_id, g.hour, o.value AS obs,
                   CAST(FLOOR(EPOCH(g.hour)) // 3600 AS BIGINT) AS h
            FROM grid g LEFT JOIN obs o ON g.user_id = o.user_id AND g.hour = o.hour
        ), filled AS (
            SELECT user_id, hour, obs, h,
                   LAST_VALUE(obs IGNORE NULLS) OVER (
                       PARTITION BY user_id ORDER BY h ROWS UNBOUNDED PRECEDING) AS pv,
                   LAST_VALUE(CASE WHEN obs IS NOT NULL THEN h END IGNORE NULLS) OVER (
                       PARTITION BY user_id ORDER BY h ROWS UNBOUNDED PRECEDING) AS ph,
                   FIRST_VALUE(obs IGNORE NULLS) OVER (
                       PARTITION BY user_id ORDER BY h
                       ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
                   FIRST_VALUE(CASE WHEN obs IS NOT NULL THEN h END IGNORE NULLS) OVER (
                       PARTITION BY user_id ORDER BY h
                       ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nh
            FROM g
        )
        SELECT user_id, hour,
               CASE WHEN obs IS NOT NULL THEN obs
                    WHEN pv IS NOT NULL AND nv IS NOT NULL THEN
                        FLOOR((pv + (nv - pv) * (CAST(h - ph AS DOUBLE) / CAST(nh - ph AS DOUBLE)))
                              * 10000.0 + 0.5) / 10000.0
                    ELSE NULL END AS value_interp
        FROM filled
        ORDER BY user_id, hour
    """,
)
def ev_resample_interp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hourly resample + LINEAR interpolation
    (operators/timeseries.resample_interpolate): gaps between two
    observations take the straight-line value; hours outside a user's
    observed range stay NULL. Whole-hour integer offsets keep the
    interpolation fraction exact; the blend is the same IEEE expression
    in both engines."""
    from bigdatacw1_spark.operators.timeseries import resample_interpolate

    return resample_interpolate(
        _t(spark, sf_dir, "events"), "user_id", "ts", "value", tiebreak="event_id"
    ).orderBy("user_id", "hour")


@q(
    "ev_anomaly_zscore",
    oracle="""
        WITH t AS (
            SELECT user_id, ts, value,
                   CAST(ROUND(value * 100) AS BIGINT) AS v,
                   COUNT(*) OVER w AS n,
                   CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) OVER w AS BIGINT) AS s1,
                   CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)
                            * CAST(ROUND(value * 100) AS BIGINT)) OVER w AS BIGINT) AS s2
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)
        ), m AS (
            SELECT user_id, ts, value, n,
                   CAST(s1 AS DOUBLE) / n / 100.0 AS mean,
                   SQRT(((CAST(s2 AS DOUBLE) / n)
                         - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)) / 10000.0) AS std
            FROM t
        )
        SELECT user_id, ts, value,
               FLOOR(mean * 10000.0 + 0.5) / 10000.0 AS roll_mean,
               FLOOR(std * 10000.0 + 0.5) / 10000.0 AS roll_std,
               CASE WHEN n >= 2 AND std > 0
                    THEN FLOOR(((value - mean) / std) * 10000.0 + 0.5) / 10000.0
               END AS zscore
        FROM m
        ORDER BY user_id, ts
    """,
)
def ev_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling z-score anomaly signal over each user's trailing 10
    observations (operators/timeseries.rolling_zscore). The frame
    moments are BIGINT Σv and Σv² in cents, so even this floating-point
    statistic hash-matches the oracle — the a14 exact-moment trick
    applied to a window frame."""
    from bigdatacw1_spark.operators.timeseries import rolling_zscore

    return rolling_zscore(
        _t(spark, sf_dir, "events"), ["user_id"], "ts", "value",
        tiebreak="event_id", window_rows=10,
    ).orderBy("user_id", "ts")


@q(
    "ext_lsh_admission",
    oracle="""
        WITH tk AS (
            SELECT doc_id,
                   LEN(LIST_FILTER(STRING_SPLIT_REGEX(LOWER(text), '\\s+'),
                                   w -> w <> '')) AS nt
            FROM documents
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_batch,
               CAST(COUNT(*) FILTER (nt < 3) AS BIGINT) AS n_unshingleable,
               TRUE AS admitted_subset_ok,
               TRUE AS unshingleable_admitted_ok,
               TRUE AS one_rep_per_component_ok
        FROM tk
    """,
)
def ext_lsh_admission(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming near-dup admission (streaming/lsh_dedup.py) in its
    batch degenerate form: one micro-batch against an empty band store
    admits exactly one representative per LSH component plus every
    unshingleable doc. The incremental form — band store persisted
    across micro-batches, replay-idempotent per-batch partitions — is
    exercised end-to-end in tests/test_streaming.py.

    PROMOTED from rows-only to the sketch-style invariant oracle
    (VERDICT r4 #6 — WHICH representative survives is xxhash-band-
    defined): one summary row carrying the exact batch size and the
    exact unshingleable count (< 3 tokens ⇒ no 3-gram ⇒ no signature;
    both hash-checked vs DuckDB's replay of the same tokenizer) plus
    three admission-contract booleans the oracle pins TRUE: admitted ⊆
    batch, every unshingleable doc admitted verbatim, and the count
    identity n_admitted = n_unshingleable + n_components (exactly one
    representative per LSH connected component against an empty
    store)."""
    from bigdatacw1_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
    )
    from bigdatacw1_spark.operators.graph import connected_components
    from bigdatacw1_spark.streaming.lsh_dedup import admit_lsh_batch

    docs = _t(spark, sf_dir, "documents")
    admitted, _bands = admit_lsh_batch(spark, docs, None)
    admitted = admitted.select("doc_id").localCheckpoint(eager=False)

    n_batch = docs.count()
    sigs = minhash_signatures(docs, num_hashes=18).localCheckpoint(eager=False)
    n_unshingleable = n_batch - sigs.count()
    n_admitted = admitted.count()
    subset_ok = (
        admitted.join(docs.select("doc_id"), "doc_id", "left_anti").count() == 0
    )
    unshingleable_admitted_ok = (
        docs.select("doc_id")
        .join(sigs.select("doc_id"), "doc_id", "left_anti")
        .join(admitted, "doc_id", "left_anti")
        .count()
        == 0
    )
    comps = connected_components(
        lsh_candidate_pairs(sigs, bands=6), src="a", dst="b"
    )
    n_components = (
        sigs.select("doc_id")
        .join(comps, F.col("doc_id") == comps["node"], "left")
        .select(F.coalesce("comp", F.col("doc_id")).alias("comp"))
        .distinct()
        .count()
    )
    return spark.createDataFrame(
        [
            (
                int(n_batch),
                int(n_unshingleable),
                bool(subset_ok),
                bool(unshingleable_admitted_ok),
                bool(n_admitted == n_unshingleable + n_components),
            )
        ],
        "n_batch long, n_unshingleable long, admitted_subset_ok boolean, "
        "unshingleable_admitted_ok boolean, one_rep_per_component_ok boolean",
    )


@q(
    "ev_asof_enrich",
    oracle="""
        WITH feed AS (
            SELECT CAST(user_id % 5 AS INT) AS key, ts,
                   CASE WHEN event_type = 'view' THEN 'quote' ELSE 'trade' END AS kind,
                   value AS val, event_id
            FROM events
        ), q AS (
            SELECT key, ts AS qts, val AS rate,
                   ROW_NUMBER() OVER (PARTITION BY key, ts ORDER BY event_id DESC) AS rn
            FROM feed WHERE kind = 'quote'
        ), q1 AS (
            SELECT key, qts, rate FROM q WHERE rn = 1
        ), t AS (
            SELECT key, ts, val AS amount, event_id FROM feed WHERE kind = 'trade'
        )
        SELECT t.key, t.ts, t.event_id, t.amount, q1.rate
        FROM t ASOF LEFT JOIN q1 ON t.key = q1.key AND t.ts >= q1.qts
        ORDER BY t.key, t.ts, t.event_id
    """,
)
def ev_asof_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch anchor for the streaming as-of enrichment
    (streaming/asof_enrich.py): events multiplexed into a quote/trade
    feed ('view' rows are quotes, everything else trades, key =
    user_id%5), each trade attached to the latest at-or-before quote for
    its key. Quotes deduped to one per (key, instant) — max event_id
    wins — so both engines agree on ties; DuckDB's native ASOF LEFT JOIN
    is the oracle for the union+window as-of shape. The incremental
    foreachBatch fold of the SAME semantics (persistent last-quote
    snapshot, replay-idempotent partitions) is pinned against this batch
    form in tests/test_streaming.py."""
    from bigdatacw1_spark.operators.relational import argmin_per_group, as_of_join

    feed = _t(spark, sf_dir, "events").select(
        (F.col("user_id") % 5).cast("int").alias("key"),
        "ts",
        F.when(F.col("event_type") == "view", "quote").otherwise("trade").alias("kind"),
        F.col("value").alias("val"),
        "event_id",
    )
    quotes = feed.where(F.col("kind") == "quote").select(
        "key", F.col("ts").alias("qts"), F.col("val").alias("rate"), "event_id"
    )
    quotes = argmin_per_group(quotes, ["key", "qts"], [F.desc("event_id")]).drop("event_id")
    trades = feed.where(F.col("kind") == "trade").select(
        "key", "ts", "event_id", F.col("val").alias("amount")
    )
    out = as_of_join(trades, quotes, ["key"], "ts", "qts", ["rate"])
    return out.select("key", "ts", "event_id", "amount", "rate").orderBy(
        "key", "ts", "event_id"
    )


@q(
    "ev_tumbling_distinct_users",
    oracle="""
        SELECT TIME_BUCKET(INTERVAL '60 minutes', ts) AS wstart, event_type,
               CAST(COUNT(DISTINCT user_id) AS BIGINT) AS distinct_users
        FROM events
        GROUP BY 1, 2
        ORDER BY 1, 2
    """,
)
def ev_tumbling_distinct_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact hourly distinct users per event type in the streaming-legal
    two-phase shape (streaming/windows.tumbling_distinct_users):
    dropDuplicates on (window, type, user) then an ordinary windowed
    count — the form that runs unchanged as a watermarked stream, where
    count(distinct) itself is banned. Stream/batch equivalence is pinned
    in tests/test_streaming.py; the oracle is the direct COUNT(DISTINCT)."""
    from bigdatacw1_spark.streaming.windows import tumbling_distinct_users

    return tumbling_distinct_users(_t(spark, sf_dir, "events"), minutes=60).orderBy(
        "wstart", "event_type"
    )


@q(
    "ev_ewma",
    oracle="""
        WITH ranked AS (
            SELECT user_id, ts, event_id, value,
                   ROW_NUMBER() OVER (PARTITION BY user_id
                                      ORDER BY ts DESC, event_id DESC) AS rn,
                   COUNT(*) OVER (PARTITION BY user_id) AS n_obs,
                   MAX(ts) OVER (PARTITION BY user_id) AS last_ts
            FROM events
        ), kept AS (
            SELECT * FROM ranked WHERE rn <= 64
        ), folded AS (
            SELECT user_id, MAX(n_obs) AS n_obs, MAX(last_ts) AS last_ts,
                   LIST_REDUCE(LIST(CAST(value AS DOUBLE) ORDER BY ts, event_id),
                               (acc, x) -> acc * 0.5 + x * 0.5) AS s
            FROM kept GROUP BY user_id
        )
        SELECT user_id, CAST(n_obs AS BIGINT) AS n_obs, last_ts,
               FLOOR(s * 10000.0 + 0.5) / 10000.0 AS ewma
        FROM folded ORDER BY user_id
    """,
)
def ev_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user EWMA of event values (operators/timeseries.ewma_last),
    alpha=0.5 over the 64 most recent observations — the bounded-state
    smoothed-level signal. Both engines seed the left fold with the
    oldest kept value and fold acc*0.5 + x*0.5 in ascending
    (ts, event_id) order, so the rounded result hash-compares exactly;
    the 2^-64 truncated tail is below double resolution."""
    from bigdatacw1_spark.operators.timeseries import ewma_last

    return ewma_last(
        _t(spark, sf_dir, "events"), ["user_id"], "ts", "value",
        alpha=0.5, lookback=64, tiebreak="event_id",
    ).orderBy("user_id")


@q(
    "ev_seasonal_dow",
    oracle="""
        WITH m AS (
            SELECT event_type,
                   CAST(DAYOFWEEK(ts) + 1 AS INT) AS dow,
                   COUNT(value) AS n,
                   CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sx,
                   CAST(SUM(CAST(value AS DECIMAL(18,2))
                            * CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sxx
            FROM events GROUP BY 1, 2
        )
        SELECT event_type, dow, CAST(n AS BIGINT) AS n,
               FLOOR((sx / n) * 10000.0 + 0.5) / 10000.0 AS seasonal_mean,
               FLOOR(((sxx - sx * sx / n) / (n - 1)) * 10000.0 + 0.5) / 10000.0
                 AS residual_var
        FROM m
        ORDER BY event_type, dow
    """,
)
def ev_seasonal_dow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive decomposition by day of week: per (event_type,
    weekday) the seasonal mean and the residual variance around it —
    the baseline that turns 'Monday is always slow' into a subtractable
    component before anomaly scoring (pair with ev_anomaly_zscore,
    which assumes a stationary level). Decimal moment sums make the
    statistics order-independent (a14 discipline), then both engines
    run the identical closed forms. One map-side-combinable aggregate
    over at most |types| x 7 groups."""
    from bigdatacw1_spark.operators.relational import stable_round

    ev = _t(spark, sf_dir, "events")
    dv = F.col("value").cast("decimal(18,2)")
    m = ev.groupBy(
        "event_type", F.dayofweek("ts").cast("int").alias("dow")
    ).agg(
        F.count("value").alias("n"),
        F.sum(dv).cast("double").alias("sx"),
        F.sum(dv * dv).cast("double").alias("sxx"),
    )
    return m.select(
        "event_type",
        "dow",
        F.col("n").cast("long").alias("n"),
        stable_round(F.col("sx") / F.col("n"), 4).alias("seasonal_mean"),
        stable_round(
            (F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n"))
            / (F.col("n") - 1),
            4,
        ).alias("residual_var"),
    ).orderBy("event_type", "dow")


@q(
    "ev_anomaly_seasonal",
    oracle="""
        WITH m AS (
            SELECT event_type,
                   CAST(DAYOFWEEK(ts) + 1 AS INT) AS dow,
                   COUNT(value) AS n,
                   CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sx,
                   CAST(SUM(CAST(value AS DECIMAL(18,2))
                            * CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sxx
            FROM events GROUP BY 1, 2
        ), season AS (
            SELECT event_type, dow, sx / n AS mu,
                   SQRT((sxx - sx * sx / n) / (n - 1)) AS sigma
            FROM m
        )
        SELECT e.event_id, e.event_type,
               CAST(DAYOFWEEK(e.ts) + 1 AS INT) AS dow,
               FLOOR(((e.value - s.mu) / s.sigma) * 10000.0 + 0.5) / 10000.0
                 AS seasonal_z
        FROM events e
        JOIN season s
          ON s.event_type = e.event_type
         AND s.dow = CAST(DAYOFWEEK(e.ts) + 1 AS INT)
        WHERE ABS((e.value - s.mu) / s.sigma) > 2.5
        ORDER BY e.event_id
    """,
)
def ev_anomaly_seasonal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonally-adjusted anomaly screen: z-score each event against
    ITS weekday's (event_type, dow) baseline instead of a stationary
    level — 'high for a Monday' replaces 'high' (the ev_anomaly_zscore
    gap the seasonal decomposition exists to close). The 35-row
    seasonal table broadcasts; flagging is row-local; output is
    change-sized (|z| > 2.5 only). Means/sigmas come from the exact
    decimal moments, so both engines divide the same doubles and the
    rounded z-scores hash-compare."""
    from bigdatacw1_spark.operators.relational import stable_round

    ev = _t(spark, sf_dir, "events")
    dv = F.col("value").cast("decimal(18,2)")
    season = (
        ev.groupBy("event_type", F.dayofweek("ts").cast("int").alias("dow"))
        .agg(
            F.count("value").alias("n"),
            F.sum(dv).cast("double").alias("sx"),
            F.sum(dv * dv).cast("double").alias("sxx"),
        )
        .select(
            "event_type",
            "dow",
            (F.col("sx") / F.col("n")).alias("mu"),
            F.sqrt(
                (F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n"))
                / (F.col("n") - 1)
            ).alias("sigma"),
        )
    )
    z = (F.col("value") - F.col("mu")) / F.col("sigma")
    return (
        ev.withColumn("dow", F.dayofweek("ts").cast("int"))
        .join(F.broadcast(season), ["event_type", "dow"])
        .where(F.abs(z) > 2.5)
        .select(
            "event_id",
            "event_type",
            "dow",
            stable_round(z, 4).alias("seasonal_z"),
        )
        .orderBy("event_id")
    )


@q(
    "ev_window_funnel",
    oracle="""
        WITH o AS (
            SELECT user_id, ts, event_id, event_type, EPOCH_US(ts) AS t
            FROM events
        ), s1 AS (
            SELECT *, CASE WHEN event_type = 'view' THEN t END AS c1 FROM o
        ), s2 AS (
            SELECT *, CASE WHEN event_type = 'click' THEN
                MAX(c1) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
            END AS c2 FROM s1
        ), s3 AS (
            SELECT *, CASE WHEN event_type = 'purchase' THEN
                MAX(c2) OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
            END AS c3 FROM s2
        ), u AS (
            SELECT user_id,
                MAX(CASE WHEN c1 IS NOT NULL AND t - c1 <= 86400000000 THEN 1 ELSE 0 END) AS ok1,
                MAX(CASE WHEN c2 IS NOT NULL AND t - c2 <= 86400000000 THEN 1 ELSE 0 END) AS ok2,
                MAX(CASE WHEN c3 IS NOT NULL AND t - c3 <= 86400000000 THEN 1 ELSE 0 END) AS ok3
            FROM s3 GROUP BY user_id
        ), d AS (
            SELECT user_id,
                   GREATEST(0, ok1 * 1, ok2 * 2, ok3 * 3) AS funnel_depth
            FROM u
        )
        SELECT CAST(funnel_depth AS INT) AS funnel_depth,
               CAST(COUNT(*) AS BIGINT) AS n_users
        FROM d GROUP BY funnel_depth ORDER BY funnel_depth
    """,
)
def ev_window_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ClickHouse-style ``windowFunnel``: per user, the deepest ordered
    view → click → purchase chain whose END-TO-END span fits in 24 h
    (operators/timeseries.window_funnel), reported as a depth
    distribution. The naive formulation is a k-way self-join (k
    shuffles, n^k on hot users); this compiles to k−1 cascaded
    running-max window passes sharing ONE (user, ts, event_id) sort —
    one shuffle total, O(n·k) work, exact integer microseconds. The
    oracle replays the identical cascade, which is also the equivalence
    proof: max-t₁ chains are optimal because the only window constraint
    is t₁ ≥ t_k − W."""
    from bigdatacw1_spark.operators.timeseries import window_funnel

    depths = window_funnel(
        _t(spark, sf_dir, "events"),
        user_col="user_id",
        ts_col="ts",
        tiebreak_col="event_id",
        type_col="event_type",
        steps=["view", "click", "purchase"],
        window_micros=86_400_000_000,
    )
    return (
        depths.groupBy("funnel_depth")
        .agg(F.count(F.lit(1)).cast("long").alias("n_users"))
        .orderBy("funnel_depth")
    )


@q(
    "ev_pattern_match",
    oracle="""
        WITH coded AS (
            SELECT user_id, ts, event_id,
                   CASE event_type WHEN 'view' THEN 'v' WHEN 'click' THEN 'c'
                        WHEN 'purchase' THEN 'p' WHEN 'signup' THEN 's'
                        ELSE 'e' END AS ch
            FROM events
        ), seq AS (
            SELECT user_id, STRING_AGG(ch, '' ORDER BY ts, event_id) AS s
            FROM coded GROUP BY user_id
        )
        SELECT user_id,
               CAST(LENGTH(s) AS BIGINT) AS n_events,
               CAST(LENGTH(s) - LENGTH(REGEXP_REPLACE(s, 'v+cp', '', 'g')) AS BIGINT) AS matched_len,
               CAST(LEN(REGEXP_EXTRACT_ALL(s, 'v+cp')) AS BIGINT) AS n_matches
        FROM seq
        WHERE REGEXP_MATCHES(s, 'v+cp')
        ORDER BY user_id
    """,
)
def ev_pattern_match(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MATCH_RECOGNIZE-style sequence CEP: encode each user's
    time-ordered event stream as a one-char-per-event string and run
    the pattern 'v+cp' (one-or-more views, then a click, then a
    purchase, CONTIGUOUSLY — the adjacency constraint window functions
    and funnels cannot express) as a regex over it. Reported per user:
    stream length, total matched span, and non-overlapping match count
    (both engines' regex engines scan left-to-right leftmost-longest
    for this pattern class, so counts agree). The encode is one
    ordered collect per user (history-bounded); the regex is row-local
    after that — a 100 TB CEP pass is one keyed shuffle + linear
    scans. DuckDB mirrors via STRING_AGG ORDER BY."""
    ev = _t(spark, sf_dir, "events")
    coded = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.when(F.col("event_type") == "view", "v")
        .when(F.col("event_type") == "click", "c")
        .when(F.col("event_type") == "purchase", "p")
        .when(F.col("event_type") == "signup", "s")
        .otherwise("e")
        .alias("ch"),
    )
    seq = coded.groupBy("user_id").agg(
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list(F.struct("ts", "event_id", "ch"))),
                lambda x: x["ch"],
            ),
            "",
        ).alias("s")
    )
    return (
        seq.where(F.col("s").rlike("v+cp"))
        .select(
            "user_id",
            F.length("s").cast("long").alias("n_events"),
            (F.length("s") - F.length(F.regexp_replace("s", "v+cp", "")))
            .cast("long")
            .alias("matched_len"),
            F.regexp_count("s", F.lit("v+cp")).cast("long").alias("n_matches"),
        )
        .orderBy("user_id")
    )


@q(
    "ev_holt_forecast",
    oracle="""
        WITH RECURSIVE daily AS (
            SELECT event_type, DATE_TRUNC('day', ts) AS day,
                   CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS DOUBLE) AS x
            FROM events GROUP BY 1, 2
        ), idx AS (
            SELECT event_type, x,
                   ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) AS i,
                   COUNT(*) OVER (PARTITION BY event_type) AS n
            FROM daily
        ), fold AS (
            SELECT d2.event_type, 2 AS i, d2.x AS l, d2.x - d1.x AS b, d2.n
            FROM idx d1 JOIN idx d2
              ON d1.event_type = d2.event_type AND d1.i = 1 AND d2.i = 2
            UNION ALL
            SELECT f.event_type, f.i + 1,
                   0.5 * d.x + 0.5 * (f.l + f.b),
                   0.5 * ((0.5 * d.x + 0.5 * (f.l + f.b)) - f.l) + 0.5 * f.b,
                   f.n
            FROM fold f JOIN idx d
              ON d.event_type = f.event_type AND d.i = f.i + 1
        )
        SELECT event_type, CAST(n AS BIGINT) AS n_obs,
               FLOOR(l * 10000.0 + 0.5) / 10000.0 AS level,
               FLOOR(b * 10000.0 + 0.5) / 10000.0 AS trend,
               FLOOR((l + b) * 10000.0 + 0.5) / 10000.0 AS forecast_next
        FROM fold
        WHERE i = n
        ORDER BY event_type
    """,
)
def ev_holt_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt double exponential smoothing (operators/timeseries.
    holt_forecast) over each event type's daily integer-cents series:
    level + trend + one-step forecast — the slope-aware upgrade of
    ev_ewma for capacity/load forecasting. Identical left fold in both
    engines (α=β=0.5 exact binary fractions, standard l₂/b₂ seeding,
    l_new inlined twice the same way), so the rounded state
    hash-compares exactly. Oracle note: the fold is expressed as a
    RECURSIVE CTE, not LIST_REDUCE — DuckDB's LIST_REDUCE with a
    STRUCT accumulator silently diverges from a sequential fold at
    ≥4 elements (scalar accumulators are fine, cf. ev_ewma), so
    struct-state folds must use the recursive formulation."""
    from bigdatacw1_spark.operators.timeseries import holt_forecast

    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(F.sum(F.round(F.col("value") * 100).cast("long")).cast("double").alias("x"))
    return holt_forecast(daily, ["event_type"], "day", "x").orderBy("event_type")


@q(
    "ev_lateness_audit",
    oracle="""
        WITH arr AS (
            SELECT event_id, event_type, ts,
                   MAX(ts) OVER (PARTITION BY event_id % 32 ORDER BY event_id
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS high_wm
            FROM events
        ), lat AS (
            SELECT event_type,
                   (EPOCH_US(high_wm) - EPOCH_US(ts)) // 1000000 AS late_s
            FROM arr
        )
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(COUNT(*) FILTER (late_s > 0) AS BIGINT) AS n_late,
               CAST(MAX(late_s) AS BIGINT) AS max_late_s,
               QUANTILE_CONT(late_s, 0.99) AS p99_late_s
        FROM lat
        GROUP BY event_type
        ORDER BY event_type
    """,
)
def ev_lateness_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark-tuning audit: treating event_id as ARRIVAL order, each
    event's lateness is how far it sits behind the running max event
    time (the high watermark) at its arrival — exactly the quantity a
    withWatermark delay must exceed to avoid dropping it. Reported per
    type: late count, max, and interpolated p99 (the number you set the
    delay from). The running max is computed PER INGESTION SHARD
    (pmod(event_id, 32) — standing in for the Kafka-partition id, the
    unit within which arrival order is actually defined), so the prefix
    scan is a keyed window, never a single-partition one; watermarks in
    Structured Streaming are likewise tracked per input partition
    before the global min. One keyed window + one hash aggregate;
    exact integer seconds."""
    ev = _t(spark, sf_dir, "events")
    from pyspark.sql import Window

    us = lambda c: F.unix_micros(F.col(c).cast("timestamp"))  # noqa: E731
    arr = ev.withColumn(
        "high_wm",
        F.max("ts").over(
            Window.partitionBy(F.pmod(F.col("event_id"), F.lit(32)))
            .orderBy("event_id")
            .rowsBetween(Window.unboundedPreceding, 0)
        ),
    )
    lat = arr.select(
        "event_type",
        F.floor((us("high_wm") - us("ts")) / 1_000_000).cast("long").alias("late_s"),
    )
    return (
        lat.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            F.count_if(F.col("late_s") > 0).cast("long").alias("n_late"),
            F.max("late_s").cast("long").alias("max_late_s"),
            F.percentile("late_s", F.lit(0.99)).alias("p99_late_s"),
        )
        .orderBy("event_type")
    )


@q(
    "ev_rate_limit",
    oracle="""
        WITH RECURSIVE o AS (
            SELECT user_id, ts, event_id, EPOCH_US(ts) AS t,
                   ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS i,
                   COUNT(*) OVER (PARTITION BY user_id) AS n
            FROM events
        ), g AS (
            SELECT user_id, i, n,
                   t - LAG(t) OVER (PARTITION BY user_id ORDER BY i) AS dt
            FROM o
        ), fold AS (
            SELECT user_id, 1 AS i, n, CAST(4.0 AS DOUBLE) AS lvl, 1 AS adm
            FROM g WHERE i = 1
            UNION ALL
            SELECT f.user_id, f.i + 1, f.n,
                   LEAST(5.0, f.lvl + e.dt / 600000000.0)
                     - CASE WHEN LEAST(5.0, f.lvl + e.dt / 600000000.0) >= 1.0
                            THEN 1.0 ELSE 0.0 END,
                   f.adm + CASE WHEN LEAST(5.0, f.lvl + e.dt / 600000000.0) >= 1.0
                                THEN 1 ELSE 0 END
            FROM fold f JOIN g e ON e.user_id = f.user_id AND e.i = f.i + 1
        )
        SELECT user_id,
               CAST(n AS BIGINT) AS n_events,
               CAST(adm AS BIGINT) AS n_admitted,
               CAST(n - adm AS BIGINT) AS n_rejected
        FROM fold
        WHERE i = n
        ORDER BY user_id
    """,
)
def ev_rate_limit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-bucket rate limiting replayed over history — the admission
    audit run before enforcing a limiter in the ingest tier: bucket of
    5 tokens per user, 1 token / 10 min refill, each event consumes one
    if available. The clamped fold is inherently sequential, so the
    Spark side folds each user's PRE-COMPUTED gap array (one lag window
    + one sorted bounded collect — a single keyed shuffle; state is two
    numbers) and the oracle replays the identical expressions as a
    recursive CTE (the Holt discipline: LEAST/add/divide in the same
    shapes, level seeded at capacity−1). Integer-microsecond gaps; the
    only floats are one division and the clamp per step."""
    ev = _t(spark, sf_dir, "events")
    from pyspark.sql import Window

    t_us = F.unix_micros(F.col("ts").cast("timestamp"))
    w = Window.partitionBy("user_id").orderBy(F.asc("ts"), F.asc("event_id"))
    g = ev.select("user_id", "ts", "event_id", t_us.alias("t")).withColumn(
        "dt", (F.col("t") - F.lag("t").over(w)).cast("double")
    )
    agg = g.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("long").alias("n_events"),
        F.transform(
            F.array_sort(F.collect_list(F.struct("ts", "event_id", "dt"))),
            lambda s: s["dt"],
        ).alias("gaps"),
    )
    init = F.struct(
        F.lit(4.0).alias("lvl"), F.lit(1).cast("long").alias("adm")
    )

    def step(acc, dt):
        lvl1 = F.least(F.lit(5.0), acc["lvl"] + dt / F.lit(600000000.0))
        ok = lvl1 >= F.lit(1.0)
        return F.struct(
            (lvl1 - F.when(ok, F.lit(1.0)).otherwise(F.lit(0.0))).alias("lvl"),
            (acc["adm"] + F.when(ok, F.lit(1)).otherwise(F.lit(0)).cast("long")).alias("adm"),
        )

    folded = F.aggregate(
        F.slice(F.col("gaps"), 2, F.size("gaps") - 1), init, step
    )
    return agg.select(
        "user_id",
        "n_events",
        folded["adm"].alias("n_admitted"),
        (F.col("n_events") - folded["adm"]).cast("long").alias("n_rejected"),
    ).orderBy("user_id")


@q(
    "ev_forecast_backtest",
    oracle="""
        WITH RECURSIVE daily AS (
            SELECT event_type, DATE_TRUNC('day', ts) AS day,
                   CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS DOUBLE) AS x
            FROM events GROUP BY 1, 2
        ), idx AS (
            SELECT event_type, x,
                   ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) AS i,
                   COUNT(*) OVER (PARTITION BY event_type) AS n
            FROM daily
        ), fold AS (
            SELECT event_type, 1 AS i, x AS ewma,
                   CAST(0.0 AS DOUBLE) AS sae_e, CAST(0.0 AS DOUBLE) AS sae_n,
                   x AS prev, n
            FROM idx WHERE i = 1
            UNION ALL
            SELECT f.event_type, f.i + 1,
                   0.5 * d.x + 0.5 * f.ewma,
                   f.sae_e + ABS(d.x - f.ewma),
                   f.sae_n + ABS(d.x - f.prev),
                   d.x, f.n
            FROM fold f JOIN idx d
              ON d.event_type = f.event_type AND d.i = f.i + 1
        )
        SELECT event_type,
               CAST(n - 1 AS BIGINT) AS n_forecasts,
               FLOOR(sae_e / (n - 1) * 10000.0 + 0.5) / 10000.0 AS mae_ewma,
               FLOOR(sae_n / (n - 1) * 10000.0 + 0.5) / 10000.0 AS mae_naive
        FROM fold
        WHERE i = n AND n >= 2
        ORDER BY event_type
    """,
)
def ev_forecast_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-origin one-step backtest (operators/timeseries.
    backtest_one_step) of the EWMA forecaster against the naive
    last-value baseline over each event type's daily integer-cents
    series — the accept/reject gate for ev_ewma/ev_holt_forecast
    before they drive capacity decisions (a forecaster that cannot
    beat mae_naive is noise). Identical four-scalar left fold in both
    engines; the oracle uses the recursive-CTE formulation because
    struct-state LIST_REDUCE diverges (ev_holt_forecast note)."""
    from bigdatacw1_spark.operators.timeseries import backtest_one_step

    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(F.sum(F.round(F.col("value") * 100).cast("long")).cast("double").alias("x"))
    return backtest_one_step(daily, ["event_type"], "day", "x").orderBy("event_type")


@q(
    "ev_cusum_changepoint",
    oracle="""
        WITH daily AS (
            SELECT event_type, DATE_TRUNC('day', ts) AS day,
                   CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS x
            FROM events GROUP BY 1, 2
        ), w AS (
            SELECT event_type, day, x,
                   ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) AS i,
                   COUNT(*) OVER (PARTITION BY event_type) AS n
            FROM daily
        ), ref AS (
            SELECT event_type, COUNT(*) AS n1, SUM(x) AS s1
            FROM w WHERE i <= n // 2 GROUP BY event_type
        ), d AS (
            SELECT w.event_type, w.day, w.n, ref.n1, ref.s1,
                   ref.n1 * w.x - ref.s1 AS dd
            FROM w JOIN ref USING (event_type)
        ), s AS (
            SELECT *, SUM(dd) OVER (PARTITION BY event_type ORDER BY day
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ss
            FROM d
        ), c AS (
            SELECT *, ss - LEAST(MIN(ss) OVER (PARTITION BY event_type ORDER BY day
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0) AS cc
            FROM s
        ), r AS (
            SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
                                         ORDER BY cc DESC, day) AS rk
            FROM c
        )
        SELECT event_type, CAST(n AS BIGINT) AS n_days,
               FLOOR(CAST(s1 AS DOUBLE) / n1 / 100.0 * 10000.0 + 0.5) / 10000.0 AS mu_ref,
               FLOOR(CAST(cc AS DOUBLE) / n1 / 100.0 * 10000.0 + 0.5) / 10000.0 AS peak_cusum,
               day AS peak_day
        FROM r WHERE rk = 1 AND n >= 4
        ORDER BY event_type
    """,
)
def ev_cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM change-point detection (operators/timeseries.
    cusum_changepoint) over each event type's daily cents series: the
    sustained-shift detector that catches slow drifts the per-point
    z-score (ev_anomaly_zscore) misses. The sequential CUSUM recurrence
    collapses to running-sum-minus-running-min, so the whole detector
    is two cumulative windows + a rank, all partitioned by series key —
    no fold, no collect. Integer (n1·x − s1) cumulations keep every
    window value exact; the oracle replays the identical windows."""
    from bigdatacw1_spark.operators.timeseries import cusum_changepoint

    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("x"))
    return cusum_changepoint(daily, ["event_type"], "day", "x").orderBy("event_type")


@q(
    "ev_anomaly_mad",
    oracle="""
        WITH daily AS (
            SELECT event_type, DATE_TRUNC('day', ts) AS day,
                   CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS x
            FROM events GROUP BY 1, 2
        ), med AS (
            SELECT event_type, QUANTILE_CONT(x, 0.5) AS m
            FROM daily GROUP BY event_type
        ), dev AS (
            SELECT d.event_type, d.day, d.x,
                   ABS(CAST(d.x AS DOUBLE) - med.m) AS ad
            FROM daily d JOIN med USING (event_type)
        ), mad AS (
            SELECT event_type, QUANTILE_CONT(ad, 0.5) AS mad
            FROM dev GROUP BY event_type
        )
        SELECT dev.event_type, dev.day, dev.x AS x_cents,
               FLOOR(dev.ad / (1.4826 * mad.mad) * 10000.0 + 0.5) / 10000.0
                   AS robust_z
        FROM dev JOIN mad USING (event_type)
        WHERE mad.mad > 0.0 AND dev.ad > 3.0 * 1.4826 * mad.mad
        ORDER BY dev.event_type, dev.day
    """,
)
def ev_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust anomaly detection by median absolute deviation — the
    outlier gate that, unlike ev_anomaly_zscore's mean/std, is not
    poisoned by the outliers it hunts (one whale day inflates σ and
    hides itself; the median pair does not budge): flag days with
    |x − median| > 3·1.4826·MAD and report the robust z. Two grouped
    interpolated percentiles over the same integer multisets both
    engines sort identically (the a15/time_to_convert idiom) + two
    broadcast joins back; change-sized output."""
    from bigdatacw1_spark.operators.relational import stable_round

    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("x"))
    med = daily.groupBy("event_type").agg(
        F.percentile("x", F.lit(0.5)).alias("m")
    )
    dev = daily.join(F.broadcast(med), "event_type").select(
        "event_type",
        "day",
        "x",
        F.abs(F.col("x").cast("double") - F.col("m")).alias("ad"),
    )
    mad = dev.groupBy("event_type").agg(F.percentile("ad", F.lit(0.5)).alias("mad"))
    out = dev.join(F.broadcast(mad), "event_type").where(
        (F.col("mad") > 0.0) & (F.col("ad") > F.lit(3.0) * F.lit(1.4826) * F.col("mad"))
    )
    return out.select(
        "event_type",
        "day",
        F.col("x").alias("x_cents"),
        stable_round(F.col("ad") / (F.lit(1.4826) * F.col("mad")), 4).alias("robust_z"),
    ).orderBy("event_type", "day")


@q(
    "ev_seasonal_strength",
    oracle="""
        WITH daily AS (
            SELECT event_type, DATE_TRUNC('day', ts) AS day,
                   CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS x
            FROM events GROUP BY 1, 2
        ), d AS (
            SELECT event_type, DAYOFWEEK(day) + 1 AS dow, x FROM daily
        ), per_dow AS (
            SELECT event_type, dow,
                   CAST(COUNT(*) AS DECIMAL(38,0)) AS nd,
                   CAST(SUM(x) AS DECIMAL(38,0)) AS sd
            FROM d GROUP BY event_type, dow
        ), tot AS (
            SELECT event_type,
                   CAST(COUNT(*) AS DECIMAL(38,0)) AS n,
                   CAST(SUM(x) AS DECIMAL(38,0)) AS s,
                   CAST(SUM(CAST(x AS DECIMAL(38,0)) * x) AS DECIMAL(38,0)) AS s2
            FROM d GROUP BY event_type
        ), btw AS (
            SELECT event_type,
                   LIST_SUM(LIST(CAST(sd AS DOUBLE) * CAST(sd AS DOUBLE)
                                 / CAST(nd AS DOUBLE) ORDER BY dow)) AS b
            FROM per_dow GROUP BY event_type
        )
        SELECT t.event_type, CAST(t.n AS BIGINT) AS n_days,
               FLOOR((b.b - CAST(t.s AS DOUBLE) * CAST(t.s AS DOUBLE) / CAST(t.n AS DOUBLE))
                     / (CAST(t.s2 AS DOUBLE)
                        - CAST(t.s AS DOUBLE) * CAST(t.s AS DOUBLE) / CAST(t.n AS DOUBLE))
                     * 1000000.0 + 0.5) / 1000000.0 AS r2_dow
        FROM tot t JOIN btw b USING (event_type)
        WHERE t.s2 * t.n > t.s * t.s
        ORDER BY t.event_type
    """,
)
def ev_seasonal_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonality STRENGTH per series — how much of the daily variance
    the day-of-week profile (ev_seasonal_dow) actually explains:
    R² = (Σ_dow S_d²/n_d − S²/n) / (Σx² − S²/n), the ANOVA
    between-groups share. All sums are exact DECIMAL(38) integer
    moments; the only floats are the seven dow-ORDERED division terms
    (fixed fold) and the final ratio. Constant series (zero total
    variance) drop out rather than emit 0/0."""
    from bigdatacw1_spark.operators.relational import stable_round

    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("x"))
    d = daily.select("event_type", F.dayofweek("day").alias("dow"), "x")
    dec = "decimal(38,0)"
    per_dow = d.groupBy("event_type", "dow").agg(
        F.count(F.lit(1)).cast(dec).alias("nd"), F.sum("x").cast(dec).alias("sd")
    )
    tot = d.groupBy("event_type").agg(
        F.count(F.lit(1)).cast(dec).alias("n"),
        F.sum("x").cast(dec).alias("s"),
        F.sum(F.col("x").cast(dec) * F.col("x")).cast(dec).alias("s2"),
    )
    term = (
        F.col("sd").cast("double") * F.col("sd").cast("double") / F.col("nd").cast("double")
    )
    btw = (
        per_dow.select("event_type", "dow", term.alias("t"))
        .groupBy("event_type")
        .agg(
            F.aggregate(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("dow", F.col("t").alias("v")))),
                    lambda s: s["v"],
                ),
                F.lit(0.0),
                lambda acc, v: acc + v,
            ).alias("b")
        )
    )
    sd, nd = F.col("s").cast("double"), F.col("n").cast("double")
    r2 = (F.col("b") - sd * sd / nd) / (F.col("s2").cast("double") - sd * sd / nd)
    return (
        tot.join(btw, "event_type")
        .where(F.col("s2") * F.col("n") > F.col("s") * F.col("s"))
        .select(
            "event_type",
            F.col("n").cast("long").alias("n_days"),
            stable_round(r2, 6).alias("r2_dow"),
        )
        .orderBy("event_type")
    )


_ACF_LAGS = range(1, 8)

_ACF_UNION = "\nUNION ALL\n".join(
    f"SELECT event_type, {k} AS lag, x, "
    f"LAG(x, {k}) OVER (PARTITION BY event_type ORDER BY day) AS y FROM daily"
    for k in _ACF_LAGS
)


@q(
    "ev_autocorrelation",
    oracle=f"""
        WITH daily AS (
            SELECT event_type, DATE_TRUNC('day', ts) AS day,
                   CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS x
            FROM events GROUP BY 1, 2
        ), lagged AS (
            {_ACF_UNION}
        ), m AS (
            SELECT event_type, lag,
                   CAST(COUNT(*) AS DECIMAL(38,0)) AS n,
                   CAST(SUM(x) AS DECIMAL(38,0)) AS sx,
                   CAST(SUM(y) AS DECIMAL(38,0)) AS sy,
                   CAST(SUM(CAST(x AS DECIMAL(38,0)) * y) AS DECIMAL(38,0)) AS sxy,
                   CAST(SUM(CAST(x AS DECIMAL(38,0)) * x) AS DECIMAL(38,0)) AS sxx,
                   CAST(SUM(CAST(y AS DECIMAL(38,0)) * y) AS DECIMAL(38,0)) AS syy
            FROM lagged WHERE y IS NOT NULL
            GROUP BY event_type, lag
        )
        SELECT event_type, CAST(lag AS INT) AS lag, CAST(n AS BIGINT) AS n_pairs,
               FLOOR(CAST(n * sxy - sx * sy AS DOUBLE)
                     / SQRT(CAST(n * sxx - sx * sx AS DOUBLE)
                            * CAST(n * syy - sy * sy AS DOUBLE))
                     * 1000000.0 + 0.5) / 1000000.0 AS acf
        FROM m
        WHERE n * sxx > sx * sx AND n * syy > sy * sy
        ORDER BY event_type, lag
    """,
)
def ev_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation function (lags 1-7) of each event type's daily
    cents series — the diagnostic that says WHICH structure the
    forecasting entries should exploit (high lag-7 ⇒ weekly
    seasonality for ev_seasonal_dow; high lag-1 ⇒ momentum for
    ev_ewma/holt). Pearson r per (series, lag) from exact DECIMAL(38)
    integer cross-moments over lag-window pairs — one series-keyed
    shuffle serves all seven lag windows; the two final expressions are
    the only floats. Degenerate (zero-variance) slices drop out."""
    from pyspark.sql import Window

    from bigdatacw1_spark.operators.relational import stable_round

    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("x"))
    w = Window.partitionBy("event_type").orderBy("day")
    with_lags = daily.select(
        "event_type",
        "x",
        *[F.lag("x", k).over(w).alias(f"y{k}") for k in _ACF_LAGS],
    )
    lagged = with_lags.select(
        "event_type",
        "x",
        F.explode(
            F.array(
                *[
                    F.struct(F.lit(k).alias("lag"), F.col(f"y{k}").alias("y"))
                    for k in _ACF_LAGS
                ]
            )
        ).alias("s"),
    ).select("event_type", F.col("s.lag").alias("lag"), "x", F.col("s.y").alias("y"))
    dec = "decimal(38,0)"
    m = (
        lagged.where(F.col("y").isNotNull())
        .groupBy("event_type", "lag")
        .agg(
            F.count(F.lit(1)).cast(dec).alias("n"),
            F.sum("x").cast(dec).alias("sx"),
            F.sum("y").cast(dec).alias("sy"),
            F.sum(F.col("x").cast(dec) * F.col("y")).cast(dec).alias("sxy"),
            F.sum(F.col("x").cast(dec) * F.col("x")).cast(dec).alias("sxx"),
            F.sum(F.col("y").cast(dec) * F.col("y")).cast(dec).alias("syy"),
        )
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    den = F.sqrt(
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
        * (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    )
    return (
        m.where(
            (F.col("n") * F.col("sxx") > F.col("sx") * F.col("sx"))
            & (F.col("n") * F.col("syy") > F.col("sy") * F.col("sy"))
        )
        .select(
            "event_type",
            F.col("lag").cast("int").alias("lag"),
            F.col("n").cast("long").alias("n_pairs"),
            stable_round(num / den, 6).alias("acf"),
        )
        .orderBy("event_type", "lag")
    )


@q(
    "ev_theil_sen",
    oracle="""
        WITH daily AS (
            SELECT event_type, DATE_TRUNC('day', ts) AS day,
                   CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS x
            FROM events GROUP BY 1, 2
        ), pairs AS (
            SELECT a.event_type,
                   CAST(b.x - a.x AS DOUBLE)
                       / DATE_DIFF('day', a.day, b.day) AS slope
            FROM daily a JOIN daily b USING (event_type)
            WHERE a.day < b.day
        ), np AS (
            SELECT event_type, COUNT(*) AS n_points FROM daily GROUP BY 1
        )
        SELECT p.event_type,
               CAST(np.n_points AS BIGINT) AS n_points,
               CAST(COUNT(*) AS BIGINT) AS n_pairs,
               FLOOR(QUANTILE_CONT(p.slope, 0.5) * 10000.0 + 0.5) / 10000.0
                   AS ts_slope
        FROM pairs p JOIN np USING (event_type)
        GROUP BY p.event_type, np.n_points
        ORDER BY p.event_type
    """,
)
def ev_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil–Sen robust trend per event type
    (operators/timeseries.theil_sen_slope): the median of all pairwise
    daily slopes — the trend estimator that shrugs off the whale days
    ev_anomaly_mad flags, where a17_regression's OLS line is dragged by
    a single outlier. The pair join is quadratic only in SERIES LENGTH
    (calendar-bounded, ≤365/key/yr), equi-keyed so each key's pairs
    stay in one partition; the median is the exact interpolated
    quantile (F.percentile ≡ QUANTILE_CONT) over exact integer-diff
    slopes, so the rounded value hash-compares."""
    from bigdatacw1_spark.operators.timeseries import theil_sen_slope

    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("x"))
    return theil_sen_slope(daily, ["event_type"], "day", "x").orderBy("event_type")


@q(
    "ev_ohlc_bars",
    oracle="""
        WITH ev AS (
            SELECT TIME_BUCKET(INTERVAL '15 minutes', ts) AS wstart, event_type,
                   event_id, ts, CAST(ROUND(value * 100) AS BIGINT) AS cents
            FROM events
        ), r AS (
            SELECT *,
                   ROW_NUMBER() OVER (PARTITION BY wstart, event_type
                                      ORDER BY ts, event_id) AS rn_a,
                   ROW_NUMBER() OVER (PARTITION BY wstart, event_type
                                      ORDER BY ts DESC, event_id DESC) AS rn_d
            FROM ev
        )
        SELECT wstart, event_type,
               CAST(COUNT(*) AS BIGINT) AS volume,
               CAST(MAX(CASE WHEN rn_a = 1 THEN cents END) AS BIGINT) AS open_cents,
               CAST(MAX(cents) AS BIGINT) AS high_cents,
               CAST(MIN(cents) AS BIGINT) AS low_cents,
               CAST(MAX(CASE WHEN rn_d = 1 THEN cents END) AS BIGINT) AS close_cents
        FROM r GROUP BY wstart, event_type
        ORDER BY wstart, event_type
    """,
)
def ev_ohlc_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLC candle bars — the classic market-data / metrics rollup:
    open/high/low/close/volume per (15-minute tumbling window, series).
    ONE hash aggregate does all five statistics: open and close are
    MIN_BY/MAX_BY on the composite order key struct(ts, event_id) —
    event_id uniquifies simultaneous ticks, so the bar is deterministic
    cross-engine — while high/low/volume are plain MIN/MAX/COUNT in the
    same partial+final agg. No window function, no second shuffle, no
    per-window sort: at 100 TB this is a single map-side-combining pass,
    which is why exchanges compute candles this way (the window-rank
    formulation the ORACLE uses — first/last row per partition — needs
    a per-window sort Spark never pays here; the hash match proves the
    one-pass MIN_BY plan equals it)."""
    ev = _t(spark, sf_dir, "events").select(
        F.window("ts", "15 minutes").start.alias("wstart"),
        "event_type",
        "ts",
        "event_id",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    ord_key = F.struct(F.col("ts"), F.col("event_id"))
    return (
        ev.groupBy("wstart", "event_type")
        .agg(
            F.count(F.lit(1)).cast("long").alias("volume"),
            F.min_by("cents", ord_key).cast("long").alias("open_cents"),
            F.max("cents").cast("long").alias("high_cents"),
            F.min("cents").cast("long").alias("low_cents"),
            F.max_by("cents", ord_key).cast("long").alias("close_cents"),
        )
        .orderBy("wstart", "event_type")
    )


@q(
    "ev_calendar_weeks",
    oracle="""
        SELECT CAST(CAST(DATE_TRUNC('week', ts) AS TIMESTAMP) AS VARCHAR)
                   AS wstart, event_type,
               CAST(COUNT(*) AS BIGINT) AS n,
               FLOOR(CAST(SUM(CAST(value AS DECIMAL(30,2))) AS DOUBLE)
                     * 100.0 + 0.5) / 100.0 AS sum_v
        FROM events
        GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def ev_calendar_weeks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CALENDAR-aligned weekly rollup — the window shape F.window()
    cannot express: tumbling windows are epoch-aligned, and 7-day
    epoch buckets start on Thursday (1970-01-01), not Monday.
    Calendar semantics (ISO weeks here; months/quarters identically)
    come from date_trunc as a GROUP BY key instead — still one
    partial+final hash aggregate, same single shuffle as the epoch
    windows, and the same exact-decimal sum idiom so the cross-engine
    hash never flips on float accumulation order. wstart is emitted as
    a string because DATE/TIMESTAMP dtypes diverge between the engines'
    pandas bridges (driver-compare pitfall, documented in FIXTURES)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(
            F.date_trunc("week", F.col("ts")).cast("string").alias("wstart"),
            "event_type",
        )
        .agg(
            F.count(F.lit(1)).cast("long").alias("n"),
            (
                F.floor(
                    F.sum(F.col("value").cast("decimal(30,2)")).cast("double")
                    * 100.0
                    + F.lit(0.5)
                )
                / 100.0
            ).alias("sum_v"),
        )
        .orderBy("wstart", "event_type")
    )


@q(
    "ev_slo_burn_rate",
    oracle="""
        WITH h AS (
            SELECT TIME_BUCKET(INTERVAL '1 hour', ts) AS h1,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
                       AS BIGINT) AS errs
            FROM events GROUP BY 1
        ), h6 AS (
            SELECT TO_TIMESTAMP(
                       FLOOR(EPOCH(h1) / 21600) * 21600
                   ) AT TIME ZONE 'UTC' AS w6,
                   SUM(n) AS n6, SUM(errs) AS e6
            FROM h GROUP BY 1
        ), joined AS (
            SELECT CAST(h.h1 AS VARCHAR) AS hour_start,
                   h.n AS n_1h, h.errs AS err_1h,
                   CAST(h6.n6 AS BIGINT) AS n_6h,
                   CAST(h6.e6 AS BIGINT) AS err_6h,
                   FLOOR(CAST(h.errs AS DOUBLE) / h.n / 0.25 * 10000.0 + 0.5)
                       / 10000.0 AS burn_1h,
                   FLOOR(CAST(h6.e6 AS DOUBLE) / h6.n6 / 0.25 * 10000.0 + 0.5)
                       / 10000.0 AS burn_6h
            FROM h JOIN h6
              ON TO_TIMESTAMP(FLOOR(EPOCH(h.h1) / 21600) * 21600)
                 AT TIME ZONE 'UTC' = h6.w6
        )
        SELECT hour_start, n_1h, err_1h, n_6h, err_6h, burn_1h, burn_6h,
               (burn_1h > 1.0 AND burn_6h > 1.0) AS alert
        FROM joined ORDER BY hour_start
    """,
)
def ev_slo_burn_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-window SLO burn-rate alerting (the Google SRE workbook
    pattern, public): with a 75%-success SLO (error budget 0.25),
    burn rate = error_rate / budget over a SHORT window (1 h — fast
    detection) and a LONG window (6 h — de-noising); page only when
    BOTH exceed 1.0, which is what kills the flapping a single window
    produces. Two-level rollup, not two scans: the 1-hour aggregate is
    computed once, and the 6-hour tier re-aggregates those ~hourly rows
    (map-side combinable, trivially small) — the hour→6h join is
    group-key-sized and AQE broadcasts it; the fact is scanned and
    shuffled exactly once. Integer counts make every rate a ratio of
    exact BIGINTs, so the rounded burn rates hash identically
    cross-engine; hour_start is emitted as a string (dtype-bridge
    pitfall)."""
    from bigdatacw1_spark.operators.relational import stable_round

    ev = _t(spark, sf_dir, "events")
    hourly = ev.groupBy(F.window("ts", "1 hour").start.alias("h1")).agg(
        F.count(F.lit(1)).cast("long").alias("n_1h"),
        F.sum((F.col("event_type") == "error").cast("long"))
        .cast("long")
        .alias("err_1h"),
    )
    w6 = F.timestamp_seconds(
        F.floor(F.unix_timestamp(F.col("h1")) / 21600) * 21600
    ).alias("w6")
    six = hourly.groupBy(w6).agg(
        F.sum("n_1h").cast("long").alias("n_6h"),
        F.sum("err_1h").cast("long").alias("err_6h"),
    )
    burn = lambda e, n: stable_round(  # noqa: E731
        e.cast("double") / n.cast("double") / F.lit(0.25), 4
    )
    joined = hourly.join(
        six,
        F.timestamp_seconds(F.floor(F.unix_timestamp(F.col("h1")) / 21600) * 21600)
        == F.col("w6"),
    )
    return joined.select(
        F.col("h1").cast("string").alias("hour_start"),
        "n_1h",
        "err_1h",
        "n_6h",
        "err_6h",
        burn(F.col("err_1h"), F.col("n_1h")).alias("burn_1h"),
        burn(F.col("err_6h"), F.col("n_6h")).alias("burn_6h"),
        (
            (burn(F.col("err_1h"), F.col("n_1h")) > 1.0)
            & (burn(F.col("err_6h"), F.col("n_6h")) > 1.0)
        ).alias("alert"),
    ).orderBy("hour_start")


@q(
    "ev_peak_concurrency",
    oracle="""
        WITH pts AS (
            SELECT event_type, ts AS t, 1 AS delta FROM events
            UNION ALL
            SELECT event_type,
                   ts + TO_SECONDS(CAST(FLOOR(value * 60) AS BIGINT)), -1
            FROM events
        ), run AS (
            SELECT event_type, t,
                   SUM(delta) OVER (PARTITION BY event_type ORDER BY t, delta
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                       AS running
            FROM pts
        ), mx AS (
            SELECT event_type, MAX(running) AS peak FROM run GROUP BY 1
        )
        SELECT r.event_type, CAST(m.peak AS BIGINT) AS peak_concurrency,
               CAST(MIN(r.t) AS VARCHAR) AS first_peak_ts
        FROM run r JOIN mx m
          ON r.event_type = m.event_type AND r.running = m.peak
        GROUP BY 1, 2 ORDER BY 1
    """,
)
def ev_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sweep-line peak concurrency — max simultaneously-active intervals
    per type (each event holds a resource for floor(value·60) seconds):
    the capacity question behind connection pools, seat licenses, and
    GPU-slot planning. Every interval contributes a +1 at its start and
    a −1 at its end; the running sum of deltas in (t, delta) order is
    the active count, and its max is the answer. Ends sort BEFORE
    starts at an equal timestamp (delta asc), so back-to-back intervals
    never double-count; within a tie group the delta is constant, so
    the prefix sum is order-invariant and engine-identical.

    Scale shape — a DISTRIBUTED prefix scan, not one giant window: the
    fact-level running sum is computed inside (event_type, day) buckets
    (time-bounded partitions), and the cross-bucket carry is a window
    over the bucket AGGREGATE (types × days rows, model-sized) joined
    back by broadcast. Integer deltas make the decomposition exact, so
    the oracle's single-window formulation matches bit-for-bit. The
    peak join-back is broadcast (one row per type)."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    starts = ev.select(
        "event_type", F.col("ts").alias("t"), F.lit(1).alias("delta")
    )
    ends = ev.select(
        "event_type",
        F.expr(
            "timestampadd(SECOND, CAST(FLOOR(value * 60) AS BIGINT), ts)"
        ).alias("t"),
        F.lit(-1).alias("delta"),
    )
    pts = starts.unionAll(ends).withColumn("bucket", F.date_trunc("day", "t"))
    w_in = (
        Window.partitionBy("event_type", "bucket")
        .orderBy("t", "delta")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    w_carry = (
        Window.partitionBy("event_type")
        .orderBy("bucket")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    carry = (
        pts.groupBy("event_type", "bucket")
        .agg(F.sum("delta").alias("btot"))
        .withColumn("carry", F.coalesce(F.sum("btot").over(w_carry), F.lit(0)))
        .select("event_type", "bucket", "carry")
    )
    run = pts.join(F.broadcast(carry), ["event_type", "bucket"]).withColumn(
        "running", F.sum("delta").over(w_in) + F.col("carry")
    )
    mx = run.groupBy("event_type").agg(F.max("running").alias("peak"))
    return (
        run.join(F.broadcast(mx), "event_type")
        .where(F.col("running") == F.col("peak"))
        .groupBy("event_type")
        .agg(
            F.max("peak").cast("long").alias("peak_concurrency"),
            F.min("t").cast("string").alias("first_peak_ts"),
        )
        .orderBy("event_type")
    )


@q(
    "ev_kalman_1d",
    oracle="""
        WITH RECURSIVE daily AS (
            SELECT event_type, DATE_TRUNC('day', ts) AS day,
                   CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS DOUBLE) AS x
            FROM events GROUP BY 1, 2
        ), idx AS (
            SELECT event_type, x,
                   ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY day) AS i,
                   COUNT(*) OVER (PARTITION BY event_type) AS n
            FROM daily
        ), fold AS (
            SELECT event_type, 1 AS i, x AS xs, CAST(1.0 AS DOUBLE) AS p, n
            FROM idx WHERE i = 1
            UNION ALL
            SELECT f.event_type, f.i + 1,
                   f.xs + ((f.p + 0.25) / ((f.p + 0.25) + 4.0)) * (d.x - f.xs),
                   (1.0 - (f.p + 0.25) / ((f.p + 0.25) + 4.0)) * (f.p + 0.25),
                   f.n
            FROM fold f JOIN idx d
              ON d.event_type = f.event_type AND d.i = f.i + 1
        )
        SELECT event_type, CAST(n AS BIGINT) AS n_obs,
               FLOOR(xs * 10000.0 + 0.5) / 10000.0 AS estimate,
               FLOOR(p * 10000.0 + 0.5) / 10000.0 AS variance,
               FLOOR((p + 0.25) / ((p + 0.25) + 4.0) * 10000.0 + 0.5)
                   / 10000.0 AS gain
        FROM fold
        WHERE i = n
        ORDER BY event_type
    """,
)
def ev_kalman_1d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar Kalman filter (operators/timeseries.kalman_filter_1d) over
    each event type's daily integer-cents series — the optimal linear
    level tracker, completing the estimator ladder ev_ewma (fixed gain)
    → ev_holt_forecast (adds a slope) → Kalman (gain ADAPTS from the
    modeled noise ratio Q/R and settles at the Riccati fixed point).
    Q=0.25, R=4.0 are exact binary fractions; the fold carries (x, P)
    as a struct, so the oracle uses the RECURSIVE-CTE formulation (the
    LIST_REDUCE struct-accumulator bug, cf. ev_holt_forecast) with the
    gain expression inlined identically to the Spark step. One shuffle
    on the key; per-key state is the day-bounded series."""
    from bigdatacw1_spark.operators.timeseries import kalman_filter_1d

    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(F.sum(F.round(F.col("value") * 100).cast("long")).cast("double").alias("x"))
    return kalman_filter_1d(daily, ["event_type"], "day", "x").orderBy("event_type")


@q(
    "ev_mtbf_mttr",
    oracle="""
        WITH marked AS (
            SELECT user_id, ts, event_id,
                   event_type = 'error' AS is_err,
                   LAG(event_type = 'error') OVER (
                       PARTITION BY user_id ORDER BY ts, event_id) AS prev_err,
                   MIN(CASE WHEN event_type <> 'error' THEN ts END) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id
                       ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
                       AS recovery_ts
            FROM events
        ), starts AS (
            SELECT user_id, ts,
                   EPOCH_US(recovery_ts) - EPOCH_US(ts) AS ttr_us,
                   EPOCH_US(ts) - EPOCH_US(LAG(ts) OVER (
                       PARTITION BY user_id ORDER BY ts, event_id)) AS tbf_us
            FROM marked
            WHERE is_err AND (prev_err IS NULL OR NOT prev_err)
        )
        SELECT CAST(COUNT(*) AS BIGINT) AS n_outages,
               CAST(COUNT(ttr_us) AS BIGINT) AS n_recovered,
               FLOOR(CAST(SUM(ttr_us) AS DOUBLE) / COUNT(ttr_us)
                     / 1000000.0 * 1000.0 + 0.5) / 1000.0 AS mttr_s,
               FLOOR(CAST(SUM(tbf_us) AS DOUBLE) / COUNT(tbf_us)
                     / 1000000.0 * 1000.0 + 0.5) / 1000.0 AS mtbf_s
        FROM starts
    """,
)
def ev_mtbf_mttr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MTBF / MTTR from a raw event log — the two reliability numbers an
    SRE review reads first, treating each user's stream as a monitored
    unit: an OUTAGE starts at an 'error' whose previous event is not an
    error (gaps-and-islands start), and RECOVERS at the first
    non-error event after it (conditional MIN over the
    1-FOLLOWING..UNBOUNDED frame — one keyed window, no self-join).
    MTTR averages recovery − start; MTBF averages the gap between
    successive outage starts (LAG over the starts only). All durations
    are exact integer microseconds summed as BIGINTs, so the final
    double division is engine-identical; windows are keyed by user_id,
    whose cardinality scales with the data — no low-cardinality
    partition at 100 TB."""
    from pyspark.sql import Window

    from bigdatacw1_spark.operators.relational import stable_round

    ev = _t(spark, sf_dir, "events")
    us = lambda c: F.unix_micros(c.cast("timestamp"))  # noqa: E731
    w_ord = Window.partitionBy("user_id").orderBy("ts", "event_id")
    w_next = w_ord.rowsBetween(1, Window.unboundedFollowing)
    is_err = F.col("event_type") == "error"
    marked = ev.select(
        "user_id",
        "ts",
        "event_id",
        is_err.alias("is_err"),
        F.lag(is_err).over(w_ord).alias("prev_err"),
        F.min(F.when(~is_err, F.col("ts"))).over(w_next).alias("recovery_ts"),
    )
    starts = (
        marked.where(
            F.col("is_err") & (F.col("prev_err").isNull() | ~F.col("prev_err"))
        )
        .select(
            "user_id",
            "ts",
            (us(F.col("recovery_ts")) - us(F.col("ts"))).alias("ttr_us"),
            (us(F.col("ts")) - us(F.lag("ts").over(w_ord))).alias("tbf_us"),
        )
    )
    return starts.agg(
        F.count(F.lit(1)).cast("long").alias("n_outages"),
        F.count("ttr_us").cast("long").alias("n_recovered"),
        stable_round(
            F.sum("ttr_us").cast("double") / F.count("ttr_us") / 1_000_000.0, 3
        ).alias("mttr_s"),
        stable_round(
            F.sum("tbf_us").cast("double") / F.count("tbf_us") / 1_000_000.0, 3
        ).alias("mtbf_s"),
    )


@q(
    "ev_sax_words",
    oracle="""
        WITH b AS (
            SELECT event_type, DATE_TRUNC('day', ts) AS day,
                   CAST(EXTRACT(HOUR FROM ts) AS INT) // 6 AS bucket,
                   SUM(CAST(ROUND(value * 100) AS BIGINT)) AS x
            FROM events GROUP BY 1, 2, 3
        ), st AS (
            SELECT event_type,
                   CAST(SUM(x) AS DOUBLE) / COUNT(*) AS mu,
                   SQRT((CAST(SUM(x * x) AS DOUBLE)
                         - CAST(SUM(x) AS DOUBLE) * CAST(SUM(x) AS DOUBLE)
                           / COUNT(*)) / COUNT(*)) AS sd
            FROM b GROUP BY 1
        )
        SELECT b.event_type, CAST(CAST(b.day AS TIMESTAMP) AS VARCHAR) AS day,
               STRING_AGG(
                   CASE WHEN (x - mu) / sd < -0.6745 THEN 'a'
                        WHEN (x - mu) / sd < 0.0 THEN 'b'
                        WHEN (x - mu) / sd < 0.6745 THEN 'c'
                        ELSE 'd' END, '' ORDER BY bucket) AS word
        FROM b JOIN st USING (event_type)
        GROUP BY 1, 2 ORDER BY 1, 2
    """,
)
def ev_sax_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SAX symbolization (Lin/Keogh '03) — each (type, day) becomes a
    4-letter word: the day's four 6-hour PAA buckets, z-normalized
    against the TYPE's bucket distribution and mapped to 'a'..'d' at
    the N(0,1) quartile breakpoints (±0.6745, 0). SAX is the standard
    dimensionality cut for motif discovery and whole-series indexing —
    downstream, identical words are grouped by a plain hash aggregate
    instead of any numeric distance. Exactness: bucket sums are exact
    integer cents; μ and σ (population, computed as
    (Σx² − (Σx)²/n)/n with one shared expression shape) are then
    deterministic doubles, so the symbol binning never flips at a
    breakpoint cross-engine. Two hash aggregates + one broadcast
    join-back of the type-sized stats table — no windows, scale-safe."""
    ev = _t(spark, sf_dir, "events")
    b = (
        ev.groupBy(
            "event_type",
            F.date_trunc("day", "ts").alias("day"),
            F.floor(F.hour("ts") / 6).cast("int").alias("bucket"),
        )
        .agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("x"))
    )
    st = b.groupBy("event_type").agg(
        (F.sum("x").cast("double") / F.count(F.lit(1))).alias("mu"),
        F.sqrt(
            (
                F.sum(F.col("x") * F.col("x")).cast("double")
                - F.sum("x").cast("double")
                * F.sum("x").cast("double")
                / F.count(F.lit(1))
            )
            / F.count(F.lit(1))
        ).alias("sd"),
    )
    z = (F.col("x") - F.col("mu")) / F.col("sd")
    sym = (
        F.when(z < -0.6745, F.lit("a"))
        .when(z < 0.0, F.lit("b"))
        .when(z < 0.6745, F.lit("c"))
        .otherwise(F.lit("d"))
    )
    return (
        b.join(F.broadcast(st), "event_type")
        .groupBy("event_type", F.col("day").cast("string").alias("day"))
        .agg(
            F.array_join(
                F.transform(
                    F.sort_array(F.collect_list(F.struct(F.col("bucket"), sym.alias("s")))),
                    lambda o: o["s"],
                ),
                "",
            ).alias("word")
        )
        .orderBy("event_type", "day")
    )


_ESD_STATS = """
            SELECT event_type,
                   CAST(SUM(x) AS DOUBLE) / COUNT(*) AS mu,
                   SQRT((CAST(SUM(x * x) AS DOUBLE)
                         - CAST(SUM(x) AS DOUBLE) * CAST(SUM(x) AS DOUBLE)
                           / COUNT(*)) / COUNT(*)) AS sd
            FROM {src} GROUP BY 1
"""

_ESD_PICK = """
            SELECT d.event_type, d.day, ABS(d.x - s.mu) / s.sd AS r_stat
            FROM {src} d JOIN {st} s USING (event_type)
            QUALIFY ROW_NUMBER() OVER (PARTITION BY d.event_type
                ORDER BY ABS(d.x - s.mu) DESC, d.day) = 1
"""

_ESD_REM = """
            SELECT d.* FROM {src} d
            LEFT JOIN {pick} p
              ON d.event_type = p.event_type AND d.day = p.day
            WHERE p.day IS NULL
"""


@q(
    "ev_esd_outliers",
    oracle=(
        """
        WITH daily AS (
            SELECT event_type, DATE_TRUNC('day', ts) AS day,
                   SUM(CAST(ROUND(value * 100) AS BIGINT)) AS x
            FROM events GROUP BY 1, 2
        ), st1 AS ("""
        + _ESD_STATS.format(src="daily")
        + "), p1 AS ("
        + _ESD_PICK.format(src="daily", st="st1")
        + "), rem1 AS ("
        + _ESD_REM.format(src="daily", pick="p1")
        + "), st2 AS ("
        + _ESD_STATS.format(src="rem1")
        + "), p2 AS ("
        + _ESD_PICK.format(src="rem1", st="st2")
        + "), rem2 AS ("
        + _ESD_REM.format(src="rem1", pick="p2")
        + "), st3 AS ("
        + _ESD_STATS.format(src="rem2")
        + "), p3 AS ("
        + _ESD_PICK.format(src="rem2", st="st3")
        + """)
        SELECT event_type, round, CAST(CAST(day AS TIMESTAMP) AS VARCHAR) AS day,
               FLOOR(r_stat * 10000.0 + 0.5) / 10000.0 AS r_stat,
               FLOOR(r_stat * 10000.0 + 0.5) / 10000.0 > 3.0 AS is_outlier
        FROM (
            SELECT event_type, 1 AS round, day, r_stat FROM p1
            UNION ALL SELECT event_type, 2, day, r_stat FROM p2
            UNION ALL SELECT event_type, 3, day, r_stat FROM p3
        )
        ORDER BY event_type, round
    """
    ),
)
def ev_esd_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Generalized ESD outlier test (Rosner '83), three rounds unrolled —
    the statistically honest way to find MULTIPLE outliers in a series:
    a single z-score pass (ev_anomaly_zscore) suffers masking, where
    one huge spike inflates σ and hides the second spike; ESD removes
    the most extreme point and RECOMPUTES μ/σ each round, so each
    R-statistic is scored against outlier-free spread. Per event type's
    daily cents series: round r reports the extreme day and its
    R = |x−μ|/σ (flagged at the fixed 3.0 cut; the full test compares
    against the t-quantile λ_r, which no SQL engine tabulates).
    Exactness: Σx/Σx² are exact BIGINTs so μ/σ are deterministic
    doubles; argmax ties break by day. Each round is one model-sized
    aggregate, a broadcast join-back, and an anti-join — the fact is
    never windowed."""
    from pyspark.sql import Window

    from bigdatacw1_spark.operators.relational import stable_round

    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("x"))

    rem = daily
    picks = []
    w = Window.partitionBy("event_type").orderBy(F.desc("absdev"), F.asc("day"))
    for r in (1, 2, 3):
        st = rem.groupBy("event_type").agg(
            (F.sum("x").cast("double") / F.count(F.lit(1))).alias("mu"),
            F.sqrt(
                (
                    F.sum(F.col("x") * F.col("x")).cast("double")
                    - F.sum("x").cast("double")
                    * F.sum("x").cast("double")
                    / F.count(F.lit(1))
                )
                / F.count(F.lit(1))
            ).alias("sd"),
        )
        scored = (
            rem.join(F.broadcast(st), "event_type")
            .withColumn("absdev", F.abs(F.col("x") - F.col("mu")))
            .withColumn("rn", F.row_number().over(w))
        )
        pick = scored.where(F.col("rn") == 1)
        picks.append(
            pick.select(
                "event_type",
                F.lit(r).alias("round"),
                F.col("day").cast("string").alias("day"),
                stable_round(F.col("absdev") / F.col("sd"), 4).alias("r_stat"),
            )
        )
        rem = rem.join(
            pick.select("event_type", "day"), ["event_type", "day"], "left_anti"
        )
    out = picks[0].unionAll(picks[1]).unionAll(picks[2])
    return out.select(
        "event_type",
        "round",
        "day",
        "r_stat",
        (F.col("r_stat") > 3.0).alias("is_outlier"),
    ).orderBy("event_type", "round")


_DTW_CELL = (
    "ABS(a[(t // nb) + 1] - b[(t % nb) + 1])"
    " + CASE WHEN (t // nb) + 1 = 1 THEN L[LEN(L)]"
    " WHEN (t % nb) + 1 = 1 THEN L[LEN(L) - nb + 1]"
    " ELSE LEAST(L[LEN(L)], L[LEN(L) - nb + 1], L[LEN(L) - nb]) END"
)


@q(
    "ev_dtw_distance",
    oracle=f"""
        WITH RECURSIVE daily AS (
            SELECT event_type, DATE_TRUNC('day', ts) AS day,
                   CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS DOUBLE) AS x
            FROM events GROUP BY 1, 2
        ), ser AS (
            SELECT event_type, LIST(x ORDER BY day) AS arr
            FROM daily GROUP BY 1
        ), grid AS (
            SELECT s.event_type, s.arr AS a, r.arr AS b,
                   LEN(s.arr) AS na, LEN(r.arr) AS nb
            FROM ser s, (SELECT arr FROM ser WHERE event_type = 'view') r
            WHERE LEN(s.arr) >= 2 AND LEN(r.arr) >= 2
        ), fold AS (
            SELECT event_type, a, b, na, nb, 1 AS t,
                   [ABS(a[1] - b[1])] AS L
            FROM grid
            UNION ALL
            SELECT event_type, a, b, na, nb, t + 1,
                   CASE WHEN LEN(list_append(L, {_DTW_CELL})) > nb + 1
                        THEN list_append(L, {_DTW_CELL})[2:]
                        ELSE list_append(L, {_DTW_CELL}) END
            FROM fold WHERE t < na * nb
        )
        SELECT event_type, CAST(na AS BIGINT) AS na, CAST(nb AS BIGINT) AS nb,
               CAST(L[LEN(L)] AS BIGINT) AS dtw_cents,
               FLOOR(L[LEN(L)] / (na + nb) / 100.0 * 10000.0 + 0.5) / 10000.0
                   AS dtw_norm
        FROM fold WHERE t = na * nb ORDER BY event_type
    """,
)
def ev_dtw_distance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dynamic time warping (operators/timeseries.dtw_fold) of each
    event type's daily cents series against the 'view' reference series
    — THE elastic similarity measure for series whose shapes match but
    whose timing drifts (Euclidean distance punishes a one-day phase
    shift as hard as a different shape; DTW aligns first). An operator
    Spark has no builtin for, expressed as one JVM-side fold: the
    O(na·nb) DP walks cells row-major carrying only the last nb+1
    values (the reachable left/up/diag cells), so fold state is O(nb)
    and the expression distributes with the rows — one bounded collect
    per key, one broadcast of the reference row, no UDF, no driver
    loop. Integer-cents costs keep every DP cell an exact integer, so
    the DuckDB oracle replays the IDENTICAL recursion as a recursive
    CTE over the same sliding list (validated cell-for-cell against a
    brute-force O(na·nb) matrix offline); dtw(view, view) = 0 is the
    built-in sanity row. dtw_norm divides by the path-length bound
    (na+nb) and rescales to currency units."""
    from bigdatacw1_spark.operators.timeseries import dtw_fold

    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(F.sum(F.round(F.col("value") * 100).cast("long")).cast("double").alias("x"))
    obs = F.struct(F.col("day").alias("t"), F.col("x").alias("v"))
    ser = daily.groupBy("event_type").agg(
        F.transform(F.sort_array(F.collect_list(obs)), lambda o: o["v"]).alias("arr")
    )
    ref = ser.where(F.col("event_type") == "view").select(F.col("arr").alias("b"))
    grid = (
        ser.crossJoin(F.broadcast(ref))
        .select(
            "event_type",
            F.col("arr").alias("a"),
            "b",
            F.size("arr").alias("na"),
            F.size("b").alias("nb"),
        )
        .where((F.col("na") >= 2) & (F.col("nb") >= 2))
    )
    d = dtw_fold(F.col("a"), F.col("b"), F.col("na"), F.col("nb"))
    from bigdatacw1_spark.operators.relational import stable_round

    return grid.select(
        "event_type",
        F.col("na").cast("long").alias("na"),
        F.col("nb").cast("long").alias("nb"),
        d.cast("long").alias("dtw_cents"),
        stable_round(d / (F.col("na") + F.col("nb")) / 100.0, 4).alias("dtw_norm"),
    ).orderBy("event_type")


@q(
    "ev_spc_rules",
    oracle="""
        WITH daily AS (
            SELECT event_type, DATE_TRUNC('day', ts) AS day,
                   SUM(CAST(ROUND(value * 100) AS BIGINT)) AS x
            FROM events GROUP BY 1, 2
        ), st AS (
            SELECT event_type,
                   CAST(SUM(x) AS DOUBLE) / COUNT(*) AS mu,
                   SQRT((CAST(SUM(x * x) AS DOUBLE)
                         - CAST(SUM(x) AS DOUBLE) * CAST(SUM(x) AS DOUBLE)
                           / COUNT(*)) / COUNT(*)) AS sd
            FROM daily GROUP BY 1
        ), z AS (
            SELECT d.event_type, d.day, (d.x - s.mu) / s.sd AS z
            FROM daily d JOIN st s USING (event_type)
        )
        SELECT event_type, CAST(CAST(day AS TIMESTAMP) AS VARCHAR) AS day,
               FLOOR(z * 10000.0 + 0.5) / 10000.0 AS z,
               ABS(z) > 3.0 AS rule1,
               (SUM(CASE WHEN z > 2.0 THEN 1 ELSE 0 END) OVER w3 >= 2
                OR SUM(CASE WHEN z < -2.0 THEN 1 ELSE 0 END) OVER w3 >= 2)
                   AS rule2,
               (COUNT(*) OVER w8 = 8
                AND (SUM(CASE WHEN z > 0.0 THEN 1 ELSE 0 END) OVER w8 = 8
                     OR SUM(CASE WHEN z < 0.0 THEN 1 ELSE 0 END) OVER w8 = 8))
                   AS rule8
        FROM z
        WINDOW w3 AS (PARTITION BY event_type ORDER BY day
                      ROWS BETWEEN 2 PRECEDING AND CURRENT ROW),
               w8 AS (PARTITION BY event_type ORDER BY day
                      ROWS BETWEEN 7 PRECEDING AND CURRENT ROW)
        ORDER BY event_type, day
    """,
)
def ev_spc_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Western Electric control-chart rules over each type's daily cents
    series — the SPC discipline behind 'is this metric drifting or just
    noisy': rule 1 (one point beyond 3σ — a spike), rule 2 (two of
    three consecutive beyond 2σ on the SAME side — a shift starting),
    rule 8 (eight consecutive on one side of the mean — a sustained
    level change no single-point test sees). Emits EVERY day with its
    z-score and the three flags (a violations-only cut can be vacuous
    at small scale, and the all-days chart is what gets plotted
    anyway). Exactness: μ/σ from exact integer Σx/Σx² (one shared
    expression shape), so z and every rule comparison are deterministic
    doubles; both rolling counts ride the same keyed window spec —
    partitions are day-bounded per type. Completes the anomaly family:
    zscore (pointwise), MAD (robust), CUSUM (cumulative), seasonal
    (deseasonalized), ESD (multi-outlier), SPC (run rules)."""
    from pyspark.sql import Window

    from bigdatacw1_spark.operators.relational import stable_round

    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("x"))
    st = daily.groupBy("event_type").agg(
        (F.sum("x").cast("double") / F.count(F.lit(1))).alias("mu"),
        F.sqrt(
            (
                F.sum(F.col("x") * F.col("x")).cast("double")
                - F.sum("x").cast("double")
                * F.sum("x").cast("double")
                / F.count(F.lit(1))
            )
            / F.count(F.lit(1))
        ).alias("sd"),
    )
    z = daily.join(F.broadcast(st), "event_type").select(
        "event_type",
        "day",
        ((F.col("x") - F.col("mu")) / F.col("sd")).alias("z"),
    )
    w3 = (
        Window.partitionBy("event_type").orderBy("day").rowsBetween(-2, 0)
    )
    w8 = (
        Window.partitionBy("event_type").orderBy("day").rowsBetween(-7, 0)
    )
    cnt = lambda cond, w: F.sum(F.when(cond, 1).otherwise(0)).over(w)  # noqa: E731
    return z.select(
        "event_type",
        F.col("day").cast("string").alias("day"),
        stable_round(F.col("z"), 4).alias("z"),
        (F.abs(F.col("z")) > 3.0).alias("rule1"),
        (
            (cnt(F.col("z") > 2.0, w3) >= 2) | (cnt(F.col("z") < -2.0, w3) >= 2)
        ).alias("rule2"),
        (
            (F.count(F.lit(1)).over(w8) == 8)
            & (
                (cnt(F.col("z") > 0.0, w8) == 8)
                | (cnt(F.col("z") < 0.0, w8) == 8)
            )
        ).alias("rule8"),
    ).orderBy("event_type", "day")


_KB_N0 = "LEAST(f.c0, f.c1) + (f.lam0 - d.n * LN(f.lam0))"
_KB_N1 = "LEAST(f.c1, f.c0 + f.pen) + (f.lam1 - d.n * LN(f.lam1))"


@q(
    "ev_burst_kleinberg",
    oracle=f"""
        WITH RECURSIVE hourly AS (
            SELECT event_type, DATE_TRUNC('hour', ts) AS hour,
                   CAST(COUNT(*) AS BIGINT) AS n
            FROM events GROUP BY 1, 2
        ), bounds AS (
            SELECT event_type, MIN(hour) AS h0, MAX(hour) AS h1
            FROM hourly GROUP BY 1
        ), grid AS (
            SELECT event_type,
                   UNNEST(GENERATE_SERIES(h0, h1, INTERVAL 1 HOUR)) AS hour
            FROM bounds
        ), dense AS (
            SELECT g.event_type, g.hour, COALESCE(h.n, 0) AS n
            FROM grid g LEFT JOIN hourly h
              ON g.event_type = h.event_type AND g.hour = h.hour
        ), stats AS (
            SELECT event_type,
                   CAST(SUM(n) AS DOUBLE) / COUNT(*) AS lam0,
                   2.0 * (CAST(SUM(n) AS DOUBLE) / COUNT(*)) AS lam1,
                   LN(CAST(COUNT(*) AS DOUBLE)) AS pen,
                   CAST(COUNT(*) AS BIGINT) AS nh
            FROM dense GROUP BY 1
        ), idx AS (
            SELECT d.event_type, d.n, s.lam0, s.lam1, s.pen, s.nh,
                   ROW_NUMBER() OVER (PARTITION BY d.event_type
                       ORDER BY d.hour) AS i
            FROM dense d JOIN stats s USING (event_type)
        ), fold AS (
            SELECT event_type, lam0, lam1, pen, nh, 1 AS i,
                   (lam0 - n * LN(lam0)) AS c0,
                   pen + (lam1 - n * LN(lam1)) AS c1,
                   CASE WHEN pen + (lam1 - n * LN(lam1))
                             < (lam0 - n * LN(lam0))
                        THEN 1 ELSE 0 END AS cnt
            FROM idx WHERE i = 1
            UNION ALL
            SELECT f.event_type, f.lam0, f.lam1, f.pen, f.nh, f.i + 1,
                   {_KB_N0},
                   {_KB_N1},
                   f.cnt + CASE WHEN {_KB_N1} < {_KB_N0} THEN 1 ELSE 0 END
            FROM fold f JOIN idx d
              ON d.event_type = f.event_type AND d.i = f.i + 1
        )
        SELECT event_type, nh AS n_hours, CAST(cnt AS BIGINT) AS burst_hours,
               FLOOR(LEAST(c0, c1) * 10000.0 + 0.5) / 10000.0 AS min_cost
        FROM fold WHERE i = nh ORDER BY event_type
    """,
)
def ev_burst_kleinberg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kleinberg burst detection ('02) — the trending-topics automaton:
    a 2-state Viterbi over each type's DENSE hourly count series, state
    0 emitting at the base rate λ₀ = mean counts/hour, state 1 at
    λ₁ = 2λ₀, with Poisson NLL emission cost λq − n·ln λq and an
    entry toll ln(n_hours); burst_hours counts the steps where the
    burst state is strictly cheaper. This is min-plus DP — a THIRD
    fold algebra after the linear estimators (ewma/holt/kalman) and
    DTW's min-of-paths, state (c₀, c₁, cnt) carried as a struct, so
    the oracle replays it as a RECURSIVE CTE with the step expressions
    textually inlined (struct LIST_REDUCE bug, cf. ev_holt_forecast).
    The fold runs over the hour grid — bounded by the time SPAN, not
    the row count, so per-key state stays O(hours) at any scale; the
    grid is sequence+explode, never driver-side. Exactness: hourly
    counts are exact BIGINTs, λ/penalty are one shared expression
    shape, and min-plus over deterministic doubles is deterministic."""
    ev = _t(spark, sf_dir, "events")
    from bigdatacw1_spark.operators.relational import stable_round

    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hour")
    ).agg(F.count(F.lit(1)).cast("long").alias("n"))
    bounds = hourly.groupBy("event_type").agg(
        F.min("hour").alias("h0"), F.max("hour").alias("h1")
    )
    grid = bounds.select(
        "event_type",
        F.explode(F.sequence("h0", "h1", F.expr("INTERVAL 1 HOUR"))).alias("hour"),
    )
    dense = grid.join(hourly, ["event_type", "hour"], "left").select(
        "event_type", "hour", F.coalesce(F.col("n"), F.lit(0)).alias("n")
    )
    obs = F.struct(F.col("hour").alias("t"), F.col("n").cast("double").alias("v"))
    ser = dense.groupBy("event_type").agg(
        F.transform(F.sort_array(F.collect_list(obs)), lambda o: o["v"]).alias("ns"),
        (F.sum("n").cast("double") / F.count(F.lit(1))).alias("lam0"),
        F.count(F.lit(1)).cast("long").alias("nh"),
    )
    lam0, nh = F.col("lam0"), F.col("nh")
    lam1 = F.lit(2.0) * lam0
    pen = F.log(nh.cast("double"))
    ns = F.col("ns")
    n1v = F.element_at(ns, 1)
    f0 = lambda n: lam0 - n * F.log(lam0)  # noqa: E731
    f1 = lambda n: lam1 - n * F.log(lam1)  # noqa: E731
    init = F.struct(
        f0(n1v).alias("c0"),
        (pen + f1(n1v)).alias("c1"),
        F.when(pen + f1(n1v) < f0(n1v), F.lit(1)).otherwise(F.lit(0)).alias("cnt"),
    )

    def step(acc, n):
        n0 = F.least(acc["c0"], acc["c1"]) + f0(n)
        n1 = F.least(acc["c1"], acc["c0"] + pen) + f1(n)
        return F.struct(
            n0.alias("c0"),
            n1.alias("c1"),
            (acc["cnt"] + F.when(n1 < n0, F.lit(1)).otherwise(F.lit(0))).alias("cnt"),
        )

    folded = F.aggregate(
        F.slice(ns, 2, F.greatest(F.size(ns) - 1, F.lit(0))), init, step
    )
    return ser.select(
        "event_type",
        nh.alias("n_hours"),
        folded["cnt"].cast("long").alias("burst_hours"),
        stable_round(F.least(folded["c0"], folded["c1"]), 4).alias("min_cost"),
    ).orderBy("event_type")


@q(
    "ev_hampel_filter",
    oracle="""
        WITH daily AS (
            SELECT event_type, DATE_TRUNC('day', ts) AS day,
                   SUM(CAST(ROUND(value * 100) AS BIGINT)) AS x
            FROM events GROUP BY 1, 2
        ), framed AS (
            SELECT event_type, day, x,
                   LIST(x) OVER (PARTITION BY event_type ORDER BY day
                       ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING) AS arr
            FROM daily
        )
        SELECT event_type, CAST(CAST(day AS TIMESTAMP) AS VARCHAR) AS day,
               CAST(x AS BIGINT) AS x_cents,
               CAST(LIST_SORT(arr)[4] AS BIGINT) AS med,
               CAST(LIST_SORT(LIST_TRANSFORM(arr,
                        v -> ABS(v - LIST_SORT(arr)[4])))[4] AS BIGINT) AS mad,
               ABS(x - LIST_SORT(arr)[4])
                   > 3.0 * 1.4826 * LIST_SORT(LIST_TRANSFORM(arr,
                         v -> ABS(v - LIST_SORT(arr)[4])))[4] AS is_outlier
        FROM framed WHERE LEN(arr) = 7
        ORDER BY event_type, day
    """,
)
def ev_hampel_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hampel filter — the ROLLING robust outlier detector (rolling
    median ± 3·1.4826·rolling MAD over a centered 7-day frame): where
    ev_anomaly_zscore's rolling mean/σ are themselves dragged by the
    spike they should flag, the median/MAD pair has a 50% breakdown
    point, so one bad day cannot mask itself. The frame is collected
    as a 7-element list per row (frame-bounded state) and median/MAD
    are row-local sorted-array lookups — element 4 of 7, exact integer
    cents, no float before the final threshold compare, which both
    engines evaluate with the identical 3.0·1.4826·MAD literal chain.
    Edge rows without a full frame are excluded (a half-frame median
    is a different estimator). One keyed window pass, day-bounded
    partitions."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("x"))
    w = Window.partitionBy("event_type").orderBy("day").rowsBetween(-3, 3)
    framed = daily.withColumn("arr", F.collect_list("x").over(w)).where(
        F.size("arr") == 7
    )
    med = F.element_at(F.sort_array(F.col("arr")), 4)
    mad = F.element_at(
        F.sort_array(F.transform(F.col("arr"), lambda v: F.abs(v - med))), 4
    )
    return framed.select(
        "event_type",
        F.col("day").cast("string").alias("day"),
        F.col("x").cast("long").alias("x_cents"),
        med.cast("long").alias("med"),
        mad.cast("long").alias("mad"),
        (
            F.abs(F.col("x") - med) > F.lit(3.0) * F.lit(1.4826) * mad
        ).alias("is_outlier"),
    ).orderBy("event_type", "day")


@q(
    "ev_poisson_rate_test",
    oracle="""
        WITH anchor AS (SELECT MAX(ts) AS hi FROM events),
        counts AS (
            SELECT e.event_type,
                   SUM(CASE WHEN e.ts > a.hi - INTERVAL 7 DAY
                            THEN 1 ELSE 0 END) AS c1,
                   SUM(CASE WHEN e.ts <= a.hi - INTERVAL 7 DAY
                             AND e.ts > a.hi - INTERVAL 28 DAY
                            THEN 1 ELSE 0 END) AS c2
            FROM events e CROSS JOIN anchor a
            GROUP BY e.event_type
        )
        SELECT event_type,
               CAST(c1 AS BIGINT) AS recent_7d,
               CAST(c2 AS BIGINT) AS prior_21d,
               FLOOR(((c1 - (c1 + c2) * 0.25)
                      / SQRT((c1 + c2) * 0.25 * 0.75)) * 10000.0 + 0.5)
                   / 10000.0 AS z_score,
               ABS((c1 - (c1 + c2) * 0.25)
                   / SQRT((c1 + c2) * 0.25 * 0.75)) > 3.0 AS rate_changed
        FROM counts
        WHERE c1 + c2 > 0
        ORDER BY event_type
    """,
)
def ev_poisson_rate_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-window Poisson rate-change alert (the conditional/binomial
    C-test): under H0 of a constant event rate, the recent-7-day count
    c1 given the 28-day total n = c1+c2 is Binomial(n, 7/28), so
    z = (c1 − n/4)/√(n·(1/4)·(3/4)) flags event types whose arrival
    rate genuinely shifted — the exact test behind "error rate doubled
    this week" alerting, and the discrete-count complement of the
    value-based detectors (ev_cusum_changepoint, ev_esd_outliers).
    The window anchor is MAX(ts), computed once and broadcast (a 1-row
    cross join, never a shuffle of the facts); counts are one partial
    aggregation over the stream, so the whole test is a single
    map-side-combinable pass at any scale. z is one double expression
    over exact integer counts — bit-identical across engines."""
    ev = _t(spark, sf_dir, "events")
    anchor = ev.agg(F.max("ts").alias("hi"))
    counted = (
        ev.crossJoin(F.broadcast(anchor))
        .groupBy("event_type")
        .agg(
            F.sum(
                F.when(F.col("ts") > F.col("hi") - F.expr("INTERVAL 7 DAY"), 1).otherwise(0)
            ).alias("c1"),
            F.sum(
                F.when(
                    (F.col("ts") <= F.col("hi") - F.expr("INTERVAL 7 DAY"))
                    & (F.col("ts") > F.col("hi") - F.expr("INTERVAL 28 DAY")),
                    1,
                ).otherwise(0)
            ).alias("c2"),
        )
        .where(F.col("c1") + F.col("c2") > 0)
    )
    n = F.col("c1") + F.col("c2")
    z = (F.col("c1") - n * F.lit(0.25)) / F.sqrt(n * F.lit(0.25) * F.lit(0.75))
    return counted.select(
        "event_type",
        F.col("c1").cast("long").alias("recent_7d"),
        F.col("c2").cast("long").alias("prior_21d"),
        stable_round(z, 4).alias("z_score"),
        (F.abs(z) > F.lit(3.0)).alias("rate_changed"),
    ).orderBy("event_type")


@q(
    "ev_holt_winters",
    oracle="""
        WITH RECURSIVE daily AS (
            SELECT event_type, DATE_TRUNC('day', ts) AS day,
                   SUM(CAST(ROUND(value * 100) AS BIGINT)) AS x
            FROM events GROUP BY 1, 2
        ), ser AS (
            SELECT event_type, LIST(x ORDER BY day) AS xs, COUNT(*) AS n
            FROM daily GROUP BY event_type HAVING COUNT(*) >= 15
        ), seed AS (
            SELECT event_type, xs, n,
                   (xs[1]+xs[2]+xs[3]+xs[4]+xs[5]+xs[6]+xs[7]) / 7.0 AS l0,
                   ((xs[8]+xs[9]+xs[10]+xs[11]+xs[12]+xs[13]+xs[14]) / 7.0
                    - (xs[1]+xs[2]+xs[3]+xs[4]+xs[5]+xs[6]+xs[7]) / 7.0) / 7.0 AS b0,
                   [CAST(v AS DOUBLE)
                    - (xs[1]+xs[2]+xs[3]+xs[4]+xs[5]+xs[6]+xs[7]) / 7.0
                    FOR v IN xs[1:7]] AS s
            FROM ser
        ), rec AS (
            SELECT event_type, xs, n, 8 AS t,
                   CAST(l0 AS DOUBLE) AS l, CAST(b0 AS DOUBLE) AS b, s
            FROM seed
            UNION ALL
            SELECT event_type, xs, n, t + 1,
                   0.3 * (xs[t] - s[1]) + 0.7 * (l + b),
                   0.1 * ((0.3 * (xs[t] - s[1]) + 0.7 * (l + b)) - l) + 0.9 * b,
                   LIST_APPEND(s[2:7],
                       0.2 * (xs[t] - (0.3 * (xs[t] - s[1]) + 0.7 * (l + b)))
                       + 0.8 * s[1])
            FROM rec WHERE t <= n
        ), fin AS (SELECT * FROM rec WHERE t = n + 1)
        SELECT event_type, CAST(g.h AS INTEGER) AS h,
               FLOOR((l + h * b + s[h]) * 10000.0 + 0.5) / 10000.0
                   AS forecast_cents
        FROM fin, GENERATE_SERIES(1, 7) AS g(h)
        ORDER BY event_type, h
    """,
)
def ev_holt_winters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive Holt-Winters (triple exponential smoothing, weekly
    season m=7) — the seasonal upgrade of ev_holt_forecast: level,
    trend AND a 7-slot seasonal state evolve together, so the 7-day
    forecast carries the day-of-week shape instead of a straight line.
    Seeds are the classical ones (L0 = mean of week 1, B0 = (mean of
    week 2 − mean of week 1)/7, S0 = week-1 deviations); the update
    with α=0.3, β=0.1, γ=0.2 rotates the seasonal list each step so
    its head is always the factor for the CURRENT step — list state in
    a fold, the ev_dtw_distance pattern. The fold runs as F.aggregate
    over each type's day-ordered array (series bounded by the date
    span, never fact-sized); the oracle replays the identical
    expression shapes in a recursive CTE with LIST state (LIST_REDUCE
    with a struct accumulator is the documented DuckDB bug — avoided).
    Aggregation to daily cents is the only shuffle; the per-type fold
    is row-local thereafter. Note the seasonal index is the series
    POSITION, not the calendar weekday: at these SFs every day has
    events, so positions and weekdays coincide."""
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("x"))
    ser = (
        daily.groupBy("event_type")
        .agg(F.sort_array(F.collect_list(F.struct("day", "x"))).alias("pairs"))
        .where(F.size("pairs") >= 15)
        .select(
            "event_type",
            F.transform(F.col("pairs"), lambda p: p["x"].cast("double")).alias("xs"),
            F.size("pairs").alias("n"),
        )
    )
    xs = F.col("xs")
    wk1 = sum(F.element_at(xs, i) for i in range(1, 8)) / F.lit(7.0)
    wk2 = sum(F.element_at(xs, i) for i in range(8, 15)) / F.lit(7.0)
    seeded = ser.select(
        "event_type",
        "xs",
        "n",
        wk1.alias("l0"),
        ((wk2 - wk1) / F.lit(7.0)).alias("b0"),
        F.transform(F.slice(xs, 1, 7), lambda v: v - wk1).alias("s0"),
    )

    def step(acc, x):
        s1 = F.element_at(acc["s"], 1)
        lnew = F.lit(0.3) * (x - s1) + F.lit(0.7) * (acc["l"] + acc["b"])
        bnew = F.lit(0.1) * (lnew - acc["l"]) + F.lit(0.9) * acc["b"]
        snew = F.lit(0.2) * (x - lnew) + F.lit(0.8) * s1
        return F.struct(
            lnew.alias("l"),
            bnew.alias("b"),
            F.concat(F.slice(acc["s"], 2, 6), F.array(snew)).alias("s"),
        )

    init = F.struct(
        F.col("l0").cast("double").alias("l"),
        F.col("b0").cast("double").alias("b"),
        F.col("s0").alias("s"),
    )
    folded = seeded.select(
        "event_type",
        F.aggregate(
            F.slice(xs, 8, F.col("n") - 7), init, step
        ).alias("st"),
    )
    h = F.explode(F.sequence(F.lit(1), F.lit(7))).alias("h")
    return (
        folded.select("event_type", "st", h)
        .select(
            "event_type",
            F.col("h").cast("int").alias("h"),
            stable_round(
                F.col("st.l")
                + F.col("h") * F.col("st.b")
                + F.element_at(F.col("st.s"), F.col("h")),
                4,
            ).alias("forecast_cents"),
        )
        .orderBy("event_type", "h")
    )


@q(
    "ev_periodogram",
    oracle="""
        WITH hourly AS (
            SELECT event_type,
                   CAST(FLOOR(EPOCH(ts) / 3600.0) AS BIGINT) AS h,
                   CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS x
            FROM events GROUP BY 1, 2
        ), periods AS (SELECT UNNEST([6.0, 12.0, 24.0, 168.0]) AS p),
        terms AS (
            SELECT hourly.event_type, periods.p,
                   CAST(FLOOR(CAST(x AS DOUBLE)
                              * COS(6.283185307179586
                                    * CAST(h % CAST(p AS BIGINT) AS DOUBLE) / p)
                              + 0.5) AS BIGINT) AS tc,
                   CAST(FLOOR(CAST(x AS DOUBLE)
                              * SIN(6.283185307179586
                                    * CAST(h % CAST(p AS BIGINT) AS DOUBLE) / p)
                              + 0.5) AS BIGINT) AS ts_
            FROM hourly, periods
        ), powers AS (
            SELECT event_type, p,
                   CAST(SUM(tc) AS BIGINT) * CAST(SUM(tc) AS BIGINT)
                   + CAST(SUM(ts_) AS BIGINT) * CAST(SUM(ts_) AS BIGINT)
                       AS power_raw
            FROM terms GROUP BY event_type, p
        ), tot AS (
            SELECT event_type, CAST(SUM(power_raw) AS BIGINT) AS total
            FROM powers GROUP BY event_type
        )
        SELECT pw.event_type,
               CAST(pw.p AS INT) AS period_hours,
               pw.power_raw,
               FLOOR(CAST(pw.power_raw AS DOUBLE) / CAST(t.total AS DOUBLE)
                     * 1000000.0 + 0.5) / 1000000.0 AS power_share
        FROM powers pw JOIN tot t USING (event_type)
        ORDER BY pw.event_type, period_hours
    """,
)
def ev_periodogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discrete-Fourier periodogram at candidate seasonal periods (6 h,
    12 h, 24 h, weekly): per event type, power(P) = (Σ x_t·cos 2πt/P)²
    + (Σ x_t·sin 2πt/P)² over the hourly cents series — the frequency-
    domain detector that finds WHICH cycle dominates, where
    ev_seasonal_strength only scores a pre-assumed one. The phase index
    reduces to t mod P BEFORE the trig call (an integer, so both
    engines evaluate cos/sin on identical small arguments — no
    large-angle libm reduction drift), and each x·cos term is floored
    to an integer unit so the Fourier sums are exact BIGINTs,
    order-free across partitions; power and its share re-derive from
    those integers. Shape: one hash aggregate to hourly cells, a 4-row
    period table broadcast as a crossJoin (one pass scores all
    periods), one aggregate per (type, period) — no window at all, so
    it scales as two groupBys regardless of series length."""
    ev = _t(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type",
        F.floor(F.unix_timestamp("ts") / F.lit(3600.0)).cast("long").alias("h"),
    ).agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("x"))
    periods = spark.range(1).select(
        F.explode(
            F.array(F.lit(6.0), F.lit(12.0), F.lit(24.0), F.lit(168.0))
        ).alias("p")
    )
    angle = (
        F.lit(6.283185307179586)
        * (F.col("h") % F.col("p").cast("long")).cast("double")
        / F.col("p")
    )
    xd = F.col("x").cast("double")
    terms = hourly.crossJoin(F.broadcast(periods)).select(
        "event_type",
        "p",
        F.floor(xd * F.cos(angle) + F.lit(0.5)).cast("long").alias("tc"),
        F.floor(xd * F.sin(angle) + F.lit(0.5)).cast("long").alias("ts_"),
    )
    powers = terms.groupBy("event_type", "p").agg(
        (
            F.sum("tc").cast("long") * F.sum("tc").cast("long")
            + F.sum("ts_").cast("long") * F.sum("ts_").cast("long")
        ).alias("power_raw")
    )
    tot = powers.groupBy("event_type").agg(
        F.sum("power_raw").cast("long").alias("total")
    )
    return (
        powers.join(F.broadcast(tot), "event_type")
        .select(
            "event_type",
            F.col("p").cast("int").alias("period_hours"),
            "power_raw",
            stable_round(
                F.col("power_raw").cast("double") / F.col("total").cast("double"),
                6,
            ).alias("power_share"),
        )
        .orderBy("event_type", "period_hours")
    )


# ---------------------------------------------------------------------------
# Round 8 (second batch): time-series econometrics — long-memory (Hurst),
# unit-root (Dickey-Fuller), and quantile-forecast evaluation (pinball).
# ---------------------------------------------------------------------------


@q(
    "ev_hurst_rs",
    oracle="""
        WITH hourly AS (
            SELECT event_type, DATE_TRUNC('hour', ts) AS hr,
                   CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS x
            FROM events GROUP BY 1, 2
        ), idxd AS (
            SELECT event_type, x,
                   CAST(ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY hr)
                        AS BIGINT) - 1 AS i
            FROM hourly
        ), sized AS (
            SELECT event_type, x, i, m, CAST(i // m AS BIGINT) AS blk,
                   CAST(i % m AS BIGINT) AS pos
            FROM idxd, (SELECT UNNEST([8, 16, 32]) AS m)
        ), blocks AS (
            SELECT event_type, m, blk,
                   CAST(COUNT(*) AS BIGINT) AS cnt,
                   CAST(SUM(x) AS BIGINT) AS sx,
                   CAST(SUM(CAST(x AS DECIMAL(38,0)) * x) AS DECIMAL(38,0)) AS sxx
            FROM sized GROUP BY 1, 2, 3
        ), walk AS (
            SELECT s.event_type, s.m, s.blk,
                   CAST(s.m AS BIGINT)
                       * SUM(s.x) OVER (PARTITION BY s.event_type, s.m, s.blk
                                        ORDER BY s.pos ROWS UNBOUNDED PRECEDING)
                   - (s.pos + 1) * b.sx AS dev
            FROM sized s JOIN blocks b
              ON b.event_type = s.event_type AND b.m = s.m AND b.blk = s.blk
            WHERE b.cnt = s.m
        ), ranges AS (
            SELECT event_type, m, blk,
                   CAST(MAX(dev) - MIN(LEAST(dev, 0)) AS BIGINT) AS r_scaled
            FROM walk GROUP BY 1, 2, 3
        ), rs AS (
            SELECT r.event_type, r.m,
                   CAST(FLOOR(CAST(r.r_scaled AS DOUBLE)
                              / SQRT(CAST(CAST(b.m AS DECIMAL(38,0)) * b.sxx
                                          - CAST(b.sx AS DECIMAL(38,0)) * b.sx
                                          AS DOUBLE))
                              * 1000000.0 + 0.5) AS BIGINT) AS rs_q
            FROM ranges r JOIN blocks b
              ON b.event_type = r.event_type AND b.m = r.m AND b.blk = r.blk
            WHERE CAST(b.m AS DECIMAL(38,0)) * b.sxx
                  > CAST(b.sx AS DECIMAL(38,0)) * b.sx
        ), means AS (
            SELECT event_type, m,
                   CAST(COUNT(*) AS BIGINT) AS n_blocks,
                   CAST(SUM(rs_q) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
                       / 1000000.0 AS mean_rs
            FROM rs GROUP BY 1, 2
        ), pivoted AS (
            SELECT event_type,
                   MAX(CASE WHEN m = 8 THEN mean_rs END) AS rs8,
                   MAX(CASE WHEN m = 16 THEN mean_rs END) AS rs16,
                   MAX(CASE WHEN m = 32 THEN mean_rs END) AS rs32,
                   CAST(SUM(n_blocks) AS BIGINT) AS n_blocks_total
            FROM means GROUP BY event_type
        )
        SELECT event_type, n_blocks_total,
               FLOOR(rs8 * 10000.0 + 0.5) / 10000.0 AS rs_8,
               FLOOR(rs16 * 10000.0 + 0.5) / 10000.0 AS rs_16,
               FLOOR(rs32 * 10000.0 + 0.5) / 10000.0 AS rs_32,
               FLOOR((LN(rs32) - LN(rs8)) / (2.0 * LN(2.0)) * 1000000.0 + 0.5)
                   / 1000000.0 AS hurst
        FROM pivoted ORDER BY event_type
    """,
)
def ev_hurst_rs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hurst exponent via rescaled-range (R/S) analysis over each event
    type's hourly cents series: H≈0.5 means a memoryless walk, H>0.5
    long-range dependence (trends persist — capacity planning must not
    assume bursts average out), H<0.5 mean reversion. Blocks of m ∈
    {8,16,32} hours; within each block the cumulative deviation from
    the block mean is kept EXACT by scaling by m (S'_k = m·Σx_{≤k} −
    k·Σx, a BIGINT walk — no float accumulation anywhere in the range),
    and R/S = range(S')/sqrt(m·Σx²−(Σx)²) collapses the two /m factors
    so the only floats are one division and one sqrt of exact integer
    moments. Per-(series,m) means average micro-quantized R/S values
    (exact, order-free sums); H is the log-log slope, which for the
    dyadic grid {8,16,32} reduces to the closed form
    (ln RS₃₂ − ln RS₈)/(2 ln 2) — no float OLS. The min is taken
    against LEAST(dev,0) because the walk implicitly starts at S'₀=0.
    Shape: one hash agg to hourly cells, a 3× UNNEST fan-out over block
    sizes, per-block windows (≤32 rows each), then block-count-sized
    rollups — nothing after the first agg scales with raw events."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hr")
    ).agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("x"))
    idxd = hourly.select(
        "event_type",
        "x",
        (
            F.row_number()
            .over(Window.partitionBy("event_type").orderBy("hr"))
            .cast("long")
            - 1
        ).alias("i"),
    )
    sized = idxd.select(
        "event_type", "x", "i", F.explode(F.array(F.lit(8), F.lit(16), F.lit(32))).alias("m")
    ).select(
        "event_type",
        "x",
        "i",
        "m",
        (F.col("i") / F.col("m")).cast("long").alias("blk"),
        (F.col("i") % F.col("m")).cast("long").alias("pos"),
    )
    dec = "decimal(38,0)"
    blocks = sized.groupBy("event_type", "m", "blk").agg(
        F.count(F.lit(1)).cast("long").alias("cnt"),
        F.sum("x").cast("long").alias("sx"),
        F.sum(F.col("x").cast(dec) * F.col("x")).cast(dec).alias("sxx"),
    )
    w_blk = (
        Window.partitionBy("event_type", "m", "blk")
        .orderBy("pos")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    walk = (
        sized.alias("s")
        .join(
            blocks.alias("b"),
            ["event_type", "m", "blk"],
        )
        .where(F.col("b.cnt") == F.col("m"))
        .select(
            "event_type",
            "m",
            "blk",
            "pos",
            "sx",
            (
                F.col("m").cast("long")
                * F.sum("s.x").over(
                    Window.partitionBy("event_type", "m", "blk")
                    .orderBy("pos")
                    .rowsBetween(Window.unboundedPreceding, Window.currentRow)
                )
                - (F.col("pos") + 1) * F.col("b.sx")
            ).alias("dev"),
        )
    )
    ranges = walk.groupBy("event_type", "m", "blk").agg(
        (F.max("dev") - F.min(F.least(F.col("dev"), F.lit(0))))
        .cast("long")
        .alias("r_scaled")
    )
    var_scaled = (
        F.col("m").cast(dec) * F.col("sxx") - F.col("sx").cast(dec) * F.col("sx")
    )
    rs = (
        ranges.join(blocks, ["event_type", "m", "blk"])
        .where(var_scaled > 0)
        .select(
            "event_type",
            "m",
            F.floor(
                F.col("r_scaled").cast("double")
                / F.sqrt(var_scaled.cast("double"))
                * F.lit(1000000.0)
                + F.lit(0.5)
            )
            .cast("long")
            .alias("rs_q"),
        )
    )
    means = rs.groupBy("event_type", "m").agg(
        F.count(F.lit(1)).cast("long").alias("n_blocks"),
        (
            F.sum("rs_q").cast("double")
            / F.count(F.lit(1)).cast("double")
            / F.lit(1000000.0)
        ).alias("mean_rs"),
    )
    pivoted = means.groupBy("event_type").agg(
        F.max(F.when(F.col("m") == 8, F.col("mean_rs"))).alias("rs8"),
        F.max(F.when(F.col("m") == 16, F.col("mean_rs"))).alias("rs16"),
        F.max(F.when(F.col("m") == 32, F.col("mean_rs"))).alias("rs32"),
        F.sum("n_blocks").cast("long").alias("n_blocks_total"),
    )
    return pivoted.select(
        "event_type",
        "n_blocks_total",
        stable_round(F.col("rs8"), 4).alias("rs_8"),
        stable_round(F.col("rs16"), 4).alias("rs_16"),
        stable_round(F.col("rs32"), 4).alias("rs_32"),
        stable_round(
            (F.log(F.col("rs32")) - F.log(F.col("rs8")))
            / (F.lit(2.0) * F.log(F.lit(2.0))),
            6,
        ).alias("hurst"),
    ).orderBy("event_type")


@q(
    "ev_adf_stationarity",
    oracle="""
        WITH hourly AS (
            SELECT event_type, DATE_TRUNC('hour', ts) AS hr,
                   CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS y
            FROM events GROUP BY 1, 2
        ), lagged AS (
            SELECT event_type,
                   y - LAG(y) OVER (PARTITION BY event_type ORDER BY hr) AS dy,
                   LAG(y) OVER (PARTITION BY event_type ORDER BY hr) AS ylag
            FROM hourly
        ), m AS (
            SELECT event_type,
                   CAST(COUNT(*) AS DECIMAL(38,0)) AS n,
                   CAST(SUM(ylag) AS DECIMAL(38,0)) AS sx,
                   CAST(SUM(dy) AS DECIMAL(38,0)) AS sy,
                   CAST(SUM(CAST(ylag AS DECIMAL(38,0)) * dy) AS DECIMAL(38,0)) AS sxy,
                   CAST(SUM(CAST(ylag AS DECIMAL(38,0)) * ylag) AS DECIMAL(38,0)) AS sxx,
                   CAST(SUM(CAST(dy AS DECIMAL(38,0)) * dy) AS DECIMAL(38,0)) AS syy
            FROM lagged WHERE ylag IS NOT NULL
            GROUP BY event_type
        ), fit AS (
            SELECT event_type, CAST(n AS BIGINT) AS n_obs,
                   CAST(n * sxy - sx * sy AS DOUBLE)
                       / CAST(n * sxx - sx * sx AS DOUBLE) AS beta,
                   CAST(n * syy - sy * sy AS DOUBLE) / CAST(n AS DOUBLE) AS csyy,
                   CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n AS DOUBLE) AS csxy,
                   CAST(n * sxx - sx * sx AS DOUBLE) / CAST(n AS DOUBLE) AS csxx
            FROM m
        ), tstat AS (
            SELECT event_type, n_obs, beta,
                   beta / SQRT(((csyy - beta * csxy)
                                / CAST(n_obs - 2 AS DOUBLE)) / csxx) AS t_adf
            FROM fit
        )
        SELECT event_type, n_obs,
               FLOOR(beta * 1000000.0 + 0.5) / 1000000.0 AS beta,
               FLOOR(t_adf * 1000000.0 + 0.5) / 1000000.0 AS t_adf,
               CASE WHEN t_adf < -2.86 THEN 1 ELSE 0 END AS stationary
        FROM tstat ORDER BY event_type
    """,
)
def ev_adf_stationarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dickey-Fuller unit-root test per event type: regress the hourly
    first difference Δy_t on y_{t-1} (with intercept); a significantly
    negative coefficient rejects the unit root — the series mean-reverts
    and historical averages are meaningful forecasts — while t above the
    -2.86 critical value (5%, constant-only DF) says the level wanders
    and every forecast entry should difference first. The pre-flight
    check for ev_holt_forecast / ev_forecast_backtest. All five
    regression moments are exact DECIMAL(38) sums over integer
    (Δy, y_lag) pairs — one shuffle by series, order-free — and β, its
    standard error (SSE/(n−2)/Sxx with SSE = Syy − β·Sxy on centered
    moments), and t are closed-form doubles computed by the identical
    expression in both engines. Series length is calendar-bounded
    (720 rows/series/month), so the lag window input stays tiny."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", "ts").alias("hr")
    ).agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("y"))
    w = Window.partitionBy("event_type").orderBy("hr")
    lagged = hourly.select(
        "event_type",
        (F.col("y") - F.lag("y").over(w)).alias("dy"),
        F.lag("y").over(w).alias("ylag"),
    )
    dec = "decimal(38,0)"
    m = (
        lagged.where(F.col("ylag").isNotNull())
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).cast(dec).alias("n"),
            F.sum("ylag").cast(dec).alias("sx"),
            F.sum("dy").cast(dec).alias("sy"),
            F.sum(F.col("ylag").cast(dec) * F.col("dy")).cast(dec).alias("sxy"),
            F.sum(F.col("ylag").cast(dec) * F.col("ylag")).cast(dec).alias("sxx"),
            F.sum(F.col("dy").cast(dec) * F.col("dy")).cast(dec).alias("syy"),
        )
    )
    nd = F.col("n").cast("double")
    fit = m.select(
        "event_type",
        F.col("n").cast("long").alias("n_obs"),
        (
            (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
            / (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
        ).alias("beta"),
        ((F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double") / nd).alias("csyy"),
        ((F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double") / nd).alias("csxy"),
        ((F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double") / nd).alias("csxx"),
    )
    t_adf = F.col("beta") / F.sqrt(
        ((F.col("csyy") - F.col("beta") * F.col("csxy"))
         / (F.col("n_obs") - 2).cast("double"))
        / F.col("csxx")
    )
    tstat = fit.select("event_type", "n_obs", "beta", t_adf.alias("t_adf"))
    return tstat.select(
        "event_type",
        "n_obs",
        stable_round(F.col("beta"), 6).alias("beta"),
        stable_round(F.col("t_adf"), 6).alias("t_adf"),
        F.when(F.col("t_adf") < -2.86, 1).otherwise(0).alias("stationary"),
    ).orderBy("event_type")


@q(
    "ev_pinball_loss",
    oracle="""
        WITH daily AS (
            SELECT event_type, DATE_TRUNC('day', ts) AS day,
                   CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS y
            FROM events GROUP BY 1, 2
        ), train AS (
            SELECT event_type, DAYOFWEEK(day) AS dow, y
            FROM daily WHERE day < TIMESTAMP '2024-01-22'
        ), fc AS (
            SELECT event_type, dow,
                   QUANTILE_CONT(y, 0.5) AS q50,
                   QUANTILE_CONT(y, 0.9) AS q90
            FROM train GROUP BY 1, 2
        ), test AS (
            SELECT event_type, DAYOFWEEK(day) AS dow, y
            FROM daily WHERE day >= TIMESTAMP '2024-01-22'
        ), scored AS (
            SELECT t.event_type, tau.tau, t.y,
                   CASE WHEN tau.tau = 0.5 THEN fc.q50 ELSE fc.q90 END AS q
            FROM test t
            JOIN fc ON fc.event_type = t.event_type AND fc.dow = t.dow
            CROSS JOIN (SELECT UNNEST([0.5, 0.9]) AS tau) tau
        ), lossed AS (
            SELECT event_type, tau,
                   CAST(FLOOR(GREATEST(tau * (CAST(y AS DOUBLE) - q),
                                       (tau - 1.0) * (CAST(y AS DOUBLE) - q))
                              * 100.0 + 0.5) AS BIGINT) AS loss_q,
                   CASE WHEN CAST(y AS DOUBLE) <= q THEN 1 ELSE 0 END AS covered
            FROM scored
        )
        SELECT event_type, tau,
               CAST(COUNT(*) AS BIGINT) AS n_test_days,
               FLOOR(CAST(SUM(loss_q) AS DOUBLE) / 100.0
                     / CAST(COUNT(*) AS DOUBLE) / 100.0
                     * 10000.0 + 0.5) / 10000.0 AS mean_pinball_dollars,
               FLOOR(CAST(SUM(covered) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
                     * 10000.0 + 0.5) / 10000.0 AS coverage
        FROM lossed GROUP BY event_type, tau
        ORDER BY event_type, tau
    """,
)
def ev_pinball_loss(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pinball (quantile) loss — the proper scoring rule for quantile
    forecasts, and what every probabilistic-forecast leaderboard (M5,
    GEFCom) ranks by: L_tau(y,q) = max(tau(y-q), (tau-1)(y-q)). A
    day-of-week empirical-quantile forecaster (median and P90 per
    (series, dow), fit on the first 3 weeks) is scored on the last 9
    days, per series and tau, alongside empirical coverage — P90
    should cover ~90% of test days; pinball penalizes BOTH miscoverage
    and uninformatively wide quantiles, which coverage alone cannot.
    Complements ev_forecast_backtest (point MAE) with the quantile
    view. Cross-engine: the forecast is the exact interpolated
    quantile (F.percentile ≡ QUANTILE_CONT), per-day losses are
    centi-cent-quantized before the order-free sum. Shape: two hash
    aggs (daily cells → dow quantiles), a broadcast-sized forecast
    joined back to test days, 2× tau fan-out; everything after the
    daily agg is calendar-bounded."""
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("y"))
    cutoff = F.lit("2024-01-22").cast("timestamp")
    train = daily.where(F.col("day") < cutoff).select(
        "event_type", F.dayofweek("day").alias("dow"), "y"
    )
    fc = train.groupBy("event_type", "dow").agg(
        F.percentile("y", F.lit(0.5)).alias("q50"),
        F.percentile("y", F.lit(0.9)).alias("q90"),
    )
    test = daily.where(F.col("day") >= cutoff).select(
        "event_type", F.dayofweek("day").alias("dow"), "y"
    )
    scored = (
        test.join(F.broadcast(fc), ["event_type", "dow"])
        .select(
            "event_type",
            "y",
            F.explode(F.array(F.lit(0.5), F.lit(0.9))).alias("tau"),
            "q50",
            "q90",
        )
        .select(
            "event_type",
            "tau",
            "y",
            F.when(F.col("tau") == 0.5, F.col("q50")).otherwise(F.col("q90")).alias("q"),
        )
    )
    resid = F.col("y").cast("double") - F.col("q")
    lossed = scored.select(
        "event_type",
        "tau",
        F.floor(
            F.greatest(F.col("tau") * resid, (F.col("tau") - 1.0) * resid)
            * F.lit(100.0)
            + F.lit(0.5)
        )
        .cast("long")
        .alias("loss_q"),
        F.when(F.col("y").cast("double") <= F.col("q"), 1).otherwise(0).alias("covered"),
    )
    return (
        lossed.groupBy("event_type", "tau")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_test_days"),
            F.sum("loss_q").cast("long").alias("sum_loss"),
            F.sum("covered").cast("long").alias("sum_cov"),
        )
        .select(
            "event_type",
            "tau",
            "n_test_days",
            stable_round(
                F.col("sum_loss").cast("double")
                / F.lit(100.0)
                / F.col("n_test_days").cast("double")
                / F.lit(100.0),
                4,
            ).alias("mean_pinball_dollars"),
            stable_round(
                F.col("sum_cov").cast("double") / F.col("n_test_days").cast("double"),
                4,
            ).alias("coverage"),
        )
        .orderBy("event_type", "tau")
    )


_XCORR_LAGS = list(range(-6, 7))

_XCORR_UNION = "\nUNION ALL\n".join(
    f"SELECT a.et AS et_a, b.et AS et_b, {k} AS lag, a.x AS x, b.x AS y\n"
    f"            FROM hourly a JOIN hourly b\n"
    f"              ON b.hidx = a.hidx + {k} AND a.et < b.et"
    for k in _XCORR_LAGS
)


@q(
    "ev_cross_correlation",
    oracle=f"""
        WITH hourly AS (
            SELECT event_type AS et,
                   CAST(EPOCH(DATE_TRUNC('hour', ts)) AS BIGINT) // 3600 AS hidx,
                   CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS x
            FROM events GROUP BY 1, 2
        ), lagged AS (
            {_XCORR_UNION}
        ), m AS (
            SELECT et_a, et_b, lag,
                   CAST(COUNT(*) AS DECIMAL(38,0)) AS n,
                   CAST(SUM(x) AS DECIMAL(38,0)) AS sx,
                   CAST(SUM(y) AS DECIMAL(38,0)) AS sy,
                   CAST(SUM(CAST(x AS DECIMAL(38,0)) * y) AS DECIMAL(38,0)) AS sxy,
                   CAST(SUM(CAST(x AS DECIMAL(38,0)) * x) AS DECIMAL(38,0)) AS sxx,
                   CAST(SUM(CAST(y AS DECIMAL(38,0)) * y) AS DECIMAL(38,0)) AS syy
            FROM lagged GROUP BY 1, 2, 3
        ), r AS (
            SELECT et_a, et_b, lag, CAST(n AS BIGINT) AS n_pairs,
                   FLOOR(CAST(n * sxy - sx * sy AS DOUBLE)
                         / SQRT(CAST(n * sxx - sx * sx AS DOUBLE)
                                * CAST(n * syy - sy * sy AS DOUBLE))
                         * 1000000.0 + 0.5) / 1000000.0 AS xcorr
            FROM m
            WHERE n * sxx > sx * sx AND n * syy > sy * sy
        ), keyed AS (
            SELECT *,
                   CAST(FLOOR(xcorr * 1000000.0 + 0.5) AS BIGINT) * 4096
                       + (6 - ABS(lag)) * 64 + (6 - lag) AS rank_key
            FROM r
        ), best AS (
            SELECT et_a, et_b,
                   MAX_BY(lag, rank_key) AS best_lag,
                   MAX(xcorr) AS best_xcorr,
                   CAST(MAX_BY(n_pairs, rank_key) AS BIGINT) AS n_pairs
            FROM keyed GROUP BY et_a, et_b
        )
        SELECT et_a, et_b, CAST(best_lag AS INT) AS best_lag, n_pairs,
               best_xcorr,
               (SELECT xcorr FROM r
                WHERE r.et_a = best.et_a AND r.et_b = best.et_b AND r.lag = 0)
                   AS xcorr_lag0
        FROM best ORDER BY et_a, et_b
    """,
)
def ev_cross_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lead-lag cross-correlation between every pair of event-type
    hourly series (lags −6h..+6h): the diagnostic that finds WHICH
    series forecasts which — if corr(click_t, purchase_{t+2}) beats
    corr at lag 0, clicks lead purchases by two hours and belong in the
    purchase forecaster's features. Reports each pair's best lag
    (ties prefer the smallest |lag|, then the earlier lag — pinned
    cross-engine by ranking on the tuple (xcorr, −|lag|, −lag)) plus
    the lag-0 baseline. Same exact-DECIMAL(38) moment machinery as
    ev_autocorrelation, keyed by integer hour index so the 13 lag
    joins are plain integer equi-joins (one shuffle of the tiny hourly
    cells serves all lags); series pairs are P(5,2)/2 = 10 — bounded by
    the type vocabulary, not the fact table."""
    from pyspark.sql import Window  # noqa: F401  (kept for parity with siblings)

    ev = _t(spark, sf_dir, "events")
    hourly = ev.groupBy(
        F.col("event_type").alias("et"),
        (F.unix_timestamp(F.date_trunc("hour", "ts")) / 3600)
        .cast("long")
        .alias("hidx"),
    ).agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("x"))
    a = hourly.select(
        F.col("et").alias("et_a"), F.col("hidx").alias("ha"), F.col("x").alias("x")
    )
    b = hourly.select(
        F.col("et").alias("et_b"), F.col("hidx").alias("hb"), F.col("x").alias("y")
    )
    lag_col = F.explode(F.array(*[F.lit(k) for k in _XCORR_LAGS])).alias("lag")
    a_l = a.select("*", lag_col)
    lagged = a_l.join(
        b,
        (F.col("hb") == F.col("ha") + F.col("lag")) & (F.col("et_a") < F.col("et_b")),
    ).select("et_a", "et_b", "lag", "x", "y")
    dec = "decimal(38,0)"
    m = lagged.groupBy("et_a", "et_b", "lag").agg(
        F.count(F.lit(1)).cast(dec).alias("n"),
        F.sum("x").cast(dec).alias("sx"),
        F.sum("y").cast(dec).alias("sy"),
        F.sum(F.col("x").cast(dec) * F.col("y")).cast(dec).alias("sxy"),
        F.sum(F.col("x").cast(dec) * F.col("x")).cast(dec).alias("sxx"),
        F.sum(F.col("y").cast(dec) * F.col("y")).cast(dec).alias("syy"),
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast("double")
    den = F.sqrt(
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
        * (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    )
    r = (
        m.where(
            (F.col("n") * F.col("sxx") > F.col("sx") * F.col("sx"))
            & (F.col("n") * F.col("syy") > F.col("sy") * F.col("sy"))
        )
        .select(
            "et_a",
            "et_b",
            "lag",
            F.col("n").cast("long").alias("n_pairs"),
            stable_round(num / den, 6).alias("xcorr"),
        )
    )
    # A single packed BIGINT ranking key (xcorr micro-units, then smaller
    # |lag|, then earlier lag) — DuckDB's max_by cannot order by a struct,
    # so both engines rank on the identical integer.
    rank_key = (
        F.floor(F.col("xcorr") * F.lit(1000000.0) + F.lit(0.5)).cast("long")
        * F.lit(4096)
        + (F.lit(6) - F.abs(F.col("lag"))) * F.lit(64)
        + (F.lit(6) - F.col("lag"))
    )
    best = r.groupBy("et_a", "et_b").agg(
        F.max_by("lag", rank_key).cast("int").alias("best_lag"),
        F.max("xcorr").alias("best_xcorr"),
        F.max_by("n_pairs", rank_key).cast("long").alias("n_pairs"),
    )
    lag0 = r.where(F.col("lag") == 0).select(
        "et_a", "et_b", F.col("xcorr").alias("xcorr_lag0")
    )
    return (
        best.join(lag0, ["et_a", "et_b"], "left")
        .select("et_a", "et_b", "best_lag", "n_pairs", "best_xcorr", "xcorr_lag0")
        .orderBy("et_a", "et_b")
    )


@q(
    "ev_stl_strength",
    oracle="""
        WITH hourly AS (
            SELECT event_type AS et, DATE_TRUNC('hour', ts) AS hr,
                   CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS x
            FROM events GROUP BY 1, 2
        ), ma AS (
            SELECT et, hr, x,
                   CAST(HOUR(hr) AS BIGINT) AS hod,
                   COUNT(*) OVER w AS cnt,
                   CAST(SUM(x) OVER w AS BIGINT) AS s25
            FROM hourly
            WINDOW w AS (PARTITION BY et ORDER BY hr
                         ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING)
        ), full_rows AS (
            SELECT et, hod, x, 25 * x - s25 AS detr
            FROM ma WHERE cnt = 25
        ), seas AS (
            SELECT et, hod,
                   CAST(FLOOR(CAST(SUM(detr) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)
                              * 1000000.0 + 0.5) AS BIGINT) AS s_micro
            FROM full_rows GROUP BY et, hod
        ), comps AS (
            SELECT f.et,
                   f.detr * 1000000 AS detr_u,
                   f.detr * 1000000 - s.s_micro AS r_u,
                   25000000 * f.x - s.s_micro AS desea_u
            FROM full_rows f JOIN seas s ON s.et = f.et AND s.hod = f.hod
        ), m AS (
            SELECT et,
                   CAST(COUNT(*) AS DECIMAL(38,0)) AS n,
                   CAST(SUM(CAST(detr_u AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sd,
                   CAST(SUM(CAST(detr_u AS DECIMAL(38,0)) * detr_u) AS DECIMAL(38,0)) AS ssd,
                   CAST(SUM(CAST(r_u AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sr,
                   CAST(SUM(CAST(r_u AS DECIMAL(38,0)) * r_u) AS DECIMAL(38,0)) AS ssr,
                   CAST(SUM(CAST(desea_u AS DECIMAL(38,0))) AS DECIMAL(38,0)) AS sq,
                   CAST(SUM(CAST(desea_u AS DECIMAL(38,0)) * desea_u) AS DECIMAL(38,0)) AS ssq
            FROM comps GROUP BY et
        ), vs AS (
            SELECT et, CAST(n AS BIGINT) AS n_hours,
                   CAST(n * ssd - sd * sd AS DOUBLE) AS vd,
                   CAST(n * ssr - sr * sr AS DOUBLE) AS vr,
                   CAST(n * ssq - sq * sq AS DOUBLE) AS vq
            FROM m
        )
        SELECT et AS event_type, n_hours,
               FLOOR(GREATEST(0.0, 1.0 - vr / vd) * 1000000.0 + 0.5)
                   / 1000000.0 AS seasonal_strength,
               FLOOR(GREATEST(0.0, 1.0 - vr / vq) * 1000000.0 + 0.5)
                   / 1000000.0 AS trend_strength,
               FLOOR(vr / vd * 1000000.0 + 0.5) / 1000000.0 AS remainder_share
        FROM vs WHERE vd > 0 AND vq > 0
        ORDER BY event_type
    """,
)
def ev_stl_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STL-style decomposition strengths (Hyndman's tsfeatures measures,
    the forecastability triage run before choosing a model): each hourly
    series is split into trend (centered 25-hour moving average, FULL
    windows only), hour-of-day seasonal (mean of detrended per hour),
    and remainder; F_seasonal = max(0, 1−Var(R)/Var(S+R)) and F_trend =
    max(0, 1−Var(R)/Var(T+R)). High F_seasonal routes the series to
    ev_seasonal_dow/holt_winters, high F_trend to ev_holt_forecast, both
    low means model the mean and stop. Differs from ev_seasonal_strength
    (one ANOVA R² on raw dailies) by actually REMOVING the trend first —
    a trending series fools the ANOVA but not STL. Exactness: the
    decomposition is computed in SCALED INTEGERS (detrended = 25x − Σ₂₅x,
    components in micro-units after one quantized division), so every
    variance comes from exact DECIMAL(38) moment sums — no float
    accumulates across rows. Shape: one hash agg to hourly cells, one
    25-row window per series, one (series, hour-of-day) agg, one keyed
    join back, one moment rollup — all shuffles keyed by series,
    calendar-bounded input."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    hourly = ev.groupBy(
        F.col("event_type").alias("et"), F.date_trunc("hour", "ts").alias("hr")
    ).agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("x"))
    w = Window.partitionBy("et").orderBy("hr").rowsBetween(-12, 12)
    ma = hourly.select(
        "et",
        "hr",
        "x",
        F.hour("hr").cast("long").alias("hod"),
        F.count(F.lit(1)).over(w).alias("cnt"),
        F.sum("x").over(w).cast("long").alias("s25"),
    )
    full_rows = ma.where(F.col("cnt") == 25).select(
        "et", "hod", "x", (F.lit(25) * F.col("x") - F.col("s25")).alias("detr")
    )
    seas = full_rows.groupBy("et", "hod").agg(
        F.floor(
            F.sum("detr").cast("double")
            / F.count(F.lit(1)).cast("double")
            * F.lit(1000000.0)
            + F.lit(0.5)
        )
        .cast("long")
        .alias("s_micro")
    )
    comps = full_rows.join(seas, ["et", "hod"]).select(
        "et",
        (F.col("detr") * F.lit(1000000)).alias("detr_u"),
        (F.col("detr") * F.lit(1000000) - F.col("s_micro")).alias("r_u"),
        (F.lit(25000000) * F.col("x") - F.col("s_micro")).alias("desea_u"),
    )
    dec = "decimal(38,0)"
    m = comps.groupBy("et").agg(
        F.count(F.lit(1)).cast(dec).alias("n"),
        F.sum(F.col("detr_u").cast(dec)).cast(dec).alias("sd"),
        F.sum(F.col("detr_u").cast(dec) * F.col("detr_u")).cast(dec).alias("ssd"),
        F.sum(F.col("r_u").cast(dec)).cast(dec).alias("sr"),
        F.sum(F.col("r_u").cast(dec) * F.col("r_u")).cast(dec).alias("ssr"),
        F.sum(F.col("desea_u").cast(dec)).cast(dec).alias("sq"),
        F.sum(F.col("desea_u").cast(dec) * F.col("desea_u")).cast(dec).alias("ssq"),
    )
    vs = m.select(
        "et",
        F.col("n").cast("long").alias("n_hours"),
        (F.col("n") * F.col("ssd") - F.col("sd") * F.col("sd"))
        .cast("double")
        .alias("vd"),
        (F.col("n") * F.col("ssr") - F.col("sr") * F.col("sr"))
        .cast("double")
        .alias("vr"),
        (F.col("n") * F.col("ssq") - F.col("sq") * F.col("sq"))
        .cast("double")
        .alias("vq"),
    )
    return (
        vs.where((F.col("vd") > 0) & (F.col("vq") > 0))
        .select(
            F.col("et").alias("event_type"),
            "n_hours",
            stable_round(
                F.greatest(F.lit(0.0), F.lit(1.0) - F.col("vr") / F.col("vd")), 6
            ).alias("seasonal_strength"),
            stable_round(
                F.greatest(F.lit(0.0), F.lit(1.0) - F.col("vr") / F.col("vq")), 6
            ).alias("trend_strength"),
            stable_round(F.col("vr") / F.col("vd"), 6).alias("remainder_share"),
        )
        .orderBy("event_type")
    )


@q(
    "ev_bollinger_bands",
    oracle="""
        WITH daily AS (
            SELECT event_type, DATE_TRUNC('day', ts) AS day,
                   CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS cents
            FROM events GROUP BY 1, 2
        ), frames AS (
            SELECT event_type, day, cents,
                   CAST(COUNT(*) OVER w AS BIGINT) AS n_obs,
                   CAST(SUM(cents) OVER w AS BIGINT) AS s,
                   CAST(SUM(cents * cents) OVER w AS BIGINT) AS ss
            FROM daily
            WINDOW w AS (PARTITION BY event_type ORDER BY day
                         ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
        ), bands AS (
            SELECT event_type, day, cents, n_obs,
                   CAST(s AS DOUBLE) / n_obs AS mid,
                   SQRT((CAST(ss AS DOUBLE)
                         - CAST(s AS DOUBLE) * s / n_obs) / n_obs) AS sd
            FROM frames WHERE n_obs = 7
        )
        SELECT event_type, CAST(day AS VARCHAR) AS day, cents,
               FLOOR(mid * 100.0 + 0.5) / 100.0 AS mid,
               FLOOR((mid - 2.0 * sd) * 100.0 + 0.5) / 100.0 AS lower,
               FLOOR((mid + 2.0 * sd) * 100.0 + 0.5) / 100.0 AS upper,
               CASE WHEN sd > 0.0
                    THEN FLOOR((cents - (mid - 2.0 * sd)) / (4.0 * sd)
                               * 1000000.0 + 0.5) / 1000000.0
               END AS pct_b
        FROM bands ORDER BY event_type, day
    """,
)
def ev_bollinger_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bollinger bands over the per-type daily-revenue series: 7-day
    rolling mean ± 2 population SDs plus %B (where today sits inside
    the band, the mean-reversion signal) — the envelope chart every
    monitoring and trading dashboard draws. The rolling frame sums
    INTEGER cents and cents² (any accumulation order is exact, so
    Spark's sliding re-scan and DuckDB's segment tree agree bitwise);
    mean and SD are then identical closed forms per row. Windows
    partition by event_type; warm-up rows (frame < 7 days) are dropped
    so every band is a full-window statistic."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(F.sum(F.round(F.col("value") * 100).cast("long")).cast("long").alias("cents"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-6, Window.currentRow)
    )
    c = F.col("cents")
    frames = daily.select(
        "event_type",
        "day",
        "cents",
        F.count(F.lit(1)).over(w).cast("long").alias("n_obs"),
        F.sum(c).over(w).cast("long").alias("s"),
        F.sum(c * c).over(w).cast("long").alias("ss"),
    ).where(F.col("n_obs") == 7)
    nd = F.col("n_obs").cast("double")
    sd_ = F.sqrt(
        (F.col("ss").cast("double") - F.col("s").cast("double") * F.col("s") / nd) / nd
    )
    bands = frames.select(
        "event_type",
        "day",
        "cents",
        (F.col("s").cast("double") / nd).alias("mid"),
        sd_.alias("sd"),
    )
    mid, sd = F.col("mid"), F.col("sd")
    return bands.select(
        "event_type",
        F.col("day").cast("date").cast("string").alias("day"),
        "cents",
        stable_round(mid, 2).alias("mid"),
        stable_round(mid - 2 * sd, 2).alias("lower"),
        stable_round(mid + 2 * sd, 2).alias("upper"),
        F.when(
            sd > 0.0,
            stable_round((F.col("cents") - (mid - 2 * sd)) / (4 * sd), 6),
        ).alias("pct_b"),
    ).orderBy("event_type", "day")


@q(
    "ev_stochastic_oscillator",
    oracle="""
        WITH daily AS (
            SELECT event_type, DATE_TRUNC('day', ts) AS day,
                   CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS cents
            FROM events GROUP BY 1, 2
        ), k AS (
            SELECT event_type, day,
                   CAST(COUNT(*) OVER w AS BIGINT) AS n_obs,
                   cents - CAST(MIN(cents) OVER w AS BIGINT) AS num,
                   CAST(MAX(cents) OVER w AS BIGINT)
                     - CAST(MIN(cents) OVER w AS BIGINT) AS den
            FROM daily
            WINDOW w AS (PARTITION BY event_type ORDER BY day
                         ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
        ), kq AS (
            SELECT event_type, day, n_obs,
                   CAST(FLOOR(100.0 * CAST(num AS DOUBLE) / den * 1000000.0 + 0.5)
                        AS BIGINT) AS k_micro
            FROM k WHERE n_obs = 14 AND den > 0
        ), d AS (
            SELECT event_type, day, k_micro,
                   CAST(COUNT(*) OVER w3 AS BIGINT) AS nd,
                   CAST(SUM(k_micro) OVER w3 AS BIGINT) AS sd
            FROM kq
            WINDOW w3 AS (PARTITION BY event_type ORDER BY day
                          ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
        )
        SELECT event_type, CAST(CAST(day AS DATE) AS VARCHAR) AS day,
               CAST(k_micro AS DOUBLE) / 1000000.0 AS pct_k,
               FLOOR(CAST(sd AS DOUBLE) / nd / 1000000.0 * 10000.0 + 0.5)
                   / 10000.0 AS pct_d
        FROM d WHERE nd = 3
        ORDER BY event_type, day
    """,
)
def ev_stochastic_oscillator(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stochastic oscillator %K/%D over the per-type daily-revenue
    series: %K = 100·(close − min14)/(max14 − min14) locates today in
    the 14-day range; %D smooths %K over 3 periods (the crossover
    signal). Rolling MIN/MAX over integer cents are order-free exact;
    %K is quantized to integer MICRO-units before the 3-period mean so
    the smoothing sums integers, not doubles — Spark's sliding re-scan
    and DuckDB's segment-tree window accumulate doubles in different
    orders, and the quantization makes that difference vanish instead
    of surfacing at the rounding boundary. Partitioned windows only;
    warm-up rows dropped."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(F.sum(F.round(F.col("value") * 100).cast("long")).cast("long").alias("cents"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-13, Window.currentRow)
    )
    k = daily.select(
        "event_type",
        "day",
        F.count(F.lit(1)).over(w).cast("long").alias("n_obs"),
        (F.col("cents") - F.min("cents").over(w).cast("long")).alias("num"),
        (F.max("cents").over(w).cast("long") - F.min("cents").over(w).cast("long")).alias(
            "den"
        ),
    )
    kq = k.where((F.col("n_obs") == 14) & (F.col("den") > 0)).select(
        "event_type",
        "day",
        F.floor(
            F.lit(100.0)
            * F.col("num").cast("double")
            / F.col("den").cast("double")
            * F.lit(1000000.0)
            + F.lit(0.5)
        )
        .cast("long")
        .alias("k_micro"),
    )
    w3 = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-2, Window.currentRow)
    )
    d = kq.select(
        "event_type",
        "day",
        "k_micro",
        F.count(F.lit(1)).over(w3).cast("long").alias("nd"),
        F.sum("k_micro").over(w3).cast("long").alias("sd"),
    ).where(F.col("nd") == 3)
    return d.select(
        "event_type",
        F.col("day").cast("date").cast("string").alias("day"),
        (F.col("k_micro").cast("double") / F.lit(1000000.0)).alias("pct_k"),
        stable_round(
            F.col("sd").cast("double") / F.col("nd").cast("double") / F.lit(1000000.0),
            4,
        ).alias("pct_d"),
    ).orderBy("event_type", "day")


@q(
    "ev_gk_volatility",
    oracle="""
        WITH ranked AS (
            SELECT event_type, DATE_TRUNC('day', ts) AS day,
                   CAST(ROUND(value * 100) AS BIGINT) AS cents,
                   ROW_NUMBER() OVER (PARTITION BY event_type, DATE_TRUNC('day', ts)
                                      ORDER BY ts, event_id) AS rn_a,
                   ROW_NUMBER() OVER (PARTITION BY event_type, DATE_TRUNC('day', ts)
                                      ORDER BY ts DESC, event_id DESC) AS rn_d
            FROM events
        ), ohlc AS (
            SELECT event_type, day,
                   CAST(SUM(CASE WHEN rn_a = 1 THEN cents ELSE 0 END) AS BIGINT) AS o,
                   CAST(MAX(cents) AS BIGINT) AS h,
                   CAST(MIN(cents) AS BIGINT) AS l,
                   CAST(SUM(CASE WHEN rn_d = 1 THEN cents ELSE 0 END) AS BIGINT) AS c,
                   CAST(COUNT(*) AS BIGINT) AS n_ticks
            FROM ranked GROUP BY event_type, day
        )
        SELECT event_type, CAST(CAST(day AS DATE) AS VARCHAR) AS day,
               o, h, l, c, n_ticks,
               FLOOR((0.5 * LN(CAST(h AS DOUBLE) / l) * LN(CAST(h AS DOUBLE) / l)
                      - (2.0 * LN(2.0) - 1.0)
                        * LN(CAST(c AS DOUBLE) / o) * LN(CAST(c AS DOUBLE) / o))
                     * 100000000.0 + 0.5) / 100000000.0 AS gk_var,
               FLOOR(LN(CAST(h AS DOUBLE) / l) * LN(CAST(h AS DOUBLE) / l)
                     / (4.0 * LN(2.0)) * 100000000.0 + 0.5)
                   / 100000000.0 AS parkinson_var
        FROM ohlc
        WHERE h > l
        ORDER BY event_type, day
    """,
)
def ev_gk_volatility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Garman-Klass and Parkinson daily variance estimators from OHLC
    bars — the range-based volatility measures that are 5-7× more
    efficient than close-to-close variance because the intraday HIGH
    and LOW carry information a single close discards. Open/close come
    from deterministic first/last-tick selection ((ts, event_id)
    tie-broken row_numbers — the ev_ohlc_bars construction), high/low
    are exact integer extremes, and both estimators are per-row closed
    forms over one day's integers — NO cross-row double sums anywhere,
    so the transcendentals round identically. One partitioned window
    pass + one hash aggregate, day-partitioned and trivially parallel
    at any scale."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events").withColumn(
        "day", F.date_trunc("day", F.col("ts"))
    )
    wp = Window.partitionBy("event_type", "day")
    ranked = ev.select(
        "event_type",
        "day",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
        F.row_number().over(wp.orderBy("ts", "event_id")).alias("rn_a"),
        F.row_number()
        .over(wp.orderBy(F.col("ts").desc(), F.col("event_id").desc()))
        .alias("rn_d"),
    )
    ohlc = ranked.groupBy("event_type", "day").agg(
        F.sum(F.when(F.col("rn_a") == 1, F.col("cents")).otherwise(0))
        .cast("long")
        .alias("o"),
        F.max("cents").cast("long").alias("h"),
        F.min("cents").cast("long").alias("l"),
        F.sum(F.when(F.col("rn_d") == 1, F.col("cents")).otherwise(0))
        .cast("long")
        .alias("c"),
        F.count(F.lit(1)).cast("long").alias("n_ticks"),
    )
    ln_hl = F.log(F.col("h").cast("double") / F.col("l").cast("double"))
    ln_co = F.log(F.col("c").cast("double") / F.col("o").cast("double"))
    ln2 = F.log(F.lit(2.0))
    return (
        ohlc.where(F.col("h") > F.col("l"))
        .select(
            "event_type",
            F.col("day").cast("date").cast("string").alias("day"),
            "o",
            "h",
            "l",
            "c",
            "n_ticks",
            stable_round(
                F.lit(0.5) * ln_hl * ln_hl - (F.lit(2.0) * ln2 - 1) * ln_co * ln_co, 8
            ).alias("gk_var"),
            stable_round(ln_hl * ln_hl / (F.lit(4.0) * ln2), 8).alias("parkinson_var"),
        )
        .orderBy("event_type", "day")
    )


@q(
    "ev_sharpe_sortino",
    oracle="""
        WITH daily AS (
            SELECT event_type, DATE_TRUNC('day', ts) AS day,
                   CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS cents
            FROM events GROUP BY 1, 2
        ), rets AS (
            SELECT event_type,
                   CAST(FLOOR((CAST(cents AS DOUBLE)
                               / LAG(cents) OVER (PARTITION BY event_type
                                                  ORDER BY day) - 1.0)
                              * 1000000.0 + 0.5) AS BIGINT) AS r_micro
            FROM daily
            QUALIFY LAG(cents) OVER (PARTITION BY event_type ORDER BY day)
                    IS NOT NULL
        ), m AS (
            SELECT event_type,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(CAST(r_micro AS DECIMAL(38,0))) AS DOUBLE) AS s,
                   CAST(SUM(CAST(r_micro * r_micro AS DECIMAL(38,0))) AS DOUBLE) AS ss,
                   CAST(SUM(CASE WHEN r_micro < 0
                                 THEN CAST(r_micro * r_micro AS DECIMAL(38,0))
                                 ELSE CAST(0 AS DECIMAL(38,0)) END) AS DOUBLE) AS ssd
            FROM rets GROUP BY event_type
        )
        SELECT event_type, n,
               FLOOR(s / n / 1000000.0 * 100000000.0 + 0.5)
                   / 100000000.0 AS mean_return,
               FLOOR((s / n) / SQRT((ss - s * s / n) / (n - 1)) * SQRT(252.0)
                     * 1000000.0 + 0.5) / 1000000.0 AS sharpe_annual,
               FLOOR((s / n) / SQRT(ssd / n) * SQRT(252.0)
                     * 1000000.0 + 0.5) / 1000000.0 AS sortino_annual
        FROM m ORDER BY event_type
    """,
)
def ev_sharpe_sortino(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Annualized Sharpe and Sortino ratios over per-type daily-revenue
    returns (rf = 0): Sharpe divides mean return by the full SD; Sortino
    divides by DOWNSIDE deviation only (√(Σ min(r,0)²/n)) — the number
    that stops penalizing upside volatility, which is why allocation
    committees quote it. Simple returns from a partitioned LAG are
    floor-quantized to integer MICRO-units at birth, so every moment
    (Σr, Σr², downside Σr²) is an exact DECIMAL(38,0) sum — order-free
    at any scale — and the ratios are closed forms over exact integers.
    One partitioned lag window + one hash aggregate."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(F.sum(F.round(F.col("value") * 100).cast("long")).cast("long").alias("cents"))
    w = Window.partitionBy("event_type").orderBy("day")
    rets = (
        daily.withColumn("prev", F.lag("cents").over(w))
        .where(F.col("prev").isNotNull())
        .select(
            "event_type",
            F.floor(
                (F.col("cents").cast("double") / F.col("prev").cast("double") - 1.0)
                * F.lit(1000000.0)
                + F.lit(0.5)
            )
            .cast("long")
            .alias("r_micro"),
        )
    )
    r = F.col("r_micro")
    dec0 = F.lit(0).cast("decimal(38,0)")
    m = rets.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(r.cast("decimal(38,0)")).cast("double").alias("s"),
        F.sum((r * r).cast("decimal(38,0)")).cast("double").alias("ss"),
        F.sum(F.when(r < 0, (r * r).cast("decimal(38,0)")).otherwise(dec0))
        .cast("double")
        .alias("ssd"),
    )
    nd = F.col("n").cast("double")
    mean = F.col("s") / nd
    return m.select(
        "event_type",
        "n",
        stable_round(mean / F.lit(1000000.0), 8).alias("mean_return"),
        stable_round(
            mean
            / F.sqrt((F.col("ss") - F.col("s") * F.col("s") / nd) / (nd - 1))
            * F.sqrt(F.lit(252.0)),
            6,
        ).alias("sharpe_annual"),
        stable_round(
            mean / F.sqrt(F.col("ssd") / nd) * F.sqrt(F.lit(252.0)), 6
        ).alias("sortino_annual"),
    ).orderBy("event_type")


@q(
    "ev_rolling_median",
    oracle="""
        WITH daily AS (
            SELECT event_type, DATE_TRUNC('day', ts) AS day,
                   CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS cents
            FROM events GROUP BY 1, 2
        ), framed AS (
            SELECT event_type, day, cents,
                   LIST(cents) OVER w AS frame,
                   CAST(COUNT(*) OVER w AS BIGINT) AS n_obs
            FROM daily
            WINDOW w AS (PARTITION BY event_type ORDER BY day
                         ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
        ), med AS (
            SELECT event_type, day, cents, n_obs,
                   LIST_SORT(frame) AS s
            FROM framed WHERE n_obs = 7
        )
        SELECT event_type, CAST(CAST(day AS DATE) AS VARCHAR) AS day, cents,
               CAST(s[4] AS BIGINT) AS rolling_median_cents,
               CAST(cents - s[4] AS BIGINT) AS residual_cents
        FROM med ORDER BY event_type, day
    """,
)
def ev_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """7-day rolling MEDIAN of the per-type daily-revenue series — the
    robust smoother that a single spike day cannot drag (unlike the
    rolling mean in ev_bollinger_bands; pair the two and the residual
    column is a spike detector, the ev_hampel_filter idea at window
    scale). No native rolling-median exists in either engine, so both
    sides collect the 7-row frame, sort it, and index the middle —
    integer cents, odd window, so the median is exact with no ties
    ambiguity. The frame is constant-size (7), so the per-row
    collect+sort is O(1) and the operator scales linearly; windows
    partition by event_type."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(F.sum(F.round(F.col("value") * 100).cast("long")).cast("long").alias("cents"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-6, Window.currentRow)
    )
    framed = daily.select(
        "event_type",
        "day",
        "cents",
        F.collect_list("cents").over(w).alias("frame"),
        F.count(F.lit(1)).over(w).cast("long").alias("n_obs"),
    ).where(F.col("n_obs") == 7)
    med = framed.select(
        "event_type", "day", "cents", F.sort_array(F.col("frame")).alias("s")
    )
    m = F.element_at(F.col("s"), 4)
    return med.select(
        "event_type",
        F.col("day").cast("date").cast("string").alias("day"),
        "cents",
        m.cast("long").alias("rolling_median_cents"),
        (F.col("cents") - m).cast("long").alias("residual_cents"),
    ).orderBy("event_type", "day")


@q(
    "ev_page_hinkley",
    oracle="""
        WITH daily AS (
            SELECT event_type, DATE_TRUNC('day', ts) AS day,
                   CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS cents
            FROM events GROUP BY 1, 2
        ), running AS (
            SELECT event_type, day, cents,
                   CAST(SUM(cents) OVER w AS BIGINT) AS s,
                   CAST(COUNT(*) OVER w AS BIGINT) AS i
            FROM daily
            WINDOW w AS (PARTITION BY event_type ORDER BY day
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        ), terms AS (
            SELECT event_type, day, cents, i,
                   (CAST(cents AS DOUBLE) - CAST(s AS DOUBLE) / i) / 100.0 AS term
            FROM running
        ), cum1 AS (
            SELECT event_type, day, cents,
                   SUM(term) OVER (PARTITION BY event_type ORDER BY day
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND CURRENT ROW) AS m_t
            FROM terms
        ), cum AS (
            SELECT event_type, day, cents, m_t,
                   MIN(m_t) OVER (PARTITION BY event_type ORDER BY day
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND CURRENT ROW) AS m_min
            FROM cum1
        )
        SELECT event_type, CAST(CAST(day AS DATE) AS VARCHAR) AS day, cents,
               FLOOR((m_t - m_min) * 10000.0 + 0.5) / 10000.0 AS ph_stat,
               (m_t - m_min) > 5000.0 AS alarm
        FROM cum ORDER BY event_type, day
    """,
)
def ev_page_hinkley(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Page-Hinkley mean-shift detector over the per-type daily-revenue
    series (δ=0, λ=5000 dollars): m_t accumulates deviations from the
    EXPANDING mean, and the alarm statistic is m_t minus its running
    minimum — the sequential changepoint test that fires on sustained
    drift where a z-score (ev_anomaly_zscore) only sees single spikes,
    and the streaming-friendly sibling of the offline ev_cusum entry.
    The expanding mean divides an exact integer running sum; the
    deviation cumsum is a forward sequential fold over the ordered day
    axis (the wh_survival_km running-sum discipline) and the running
    MIN is order-exact. Partitioned windows only, one pass."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(F.sum(F.round(F.col("value") * 100).cast("long")).cast("long").alias("cents"))
    w = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    running = daily.select(
        "event_type",
        "day",
        "cents",
        F.sum("cents").over(w).cast("long").alias("s"),
        F.count(F.lit(1)).over(w).cast("long").alias("i"),
    )
    terms = running.select(
        "event_type",
        "day",
        "cents",
        (
            (F.col("cents").cast("double") - F.col("s").cast("double") / F.col("i"))
            / F.lit(100.0)
        ).alias("term"),
    )
    cum = terms.select(
        "event_type",
        "day",
        "cents",
        F.sum("term").over(w).alias("m_t"),
    ).select(
        "event_type",
        "day",
        "cents",
        "m_t",
        F.min("m_t").over(w).alias("m_min"),
    )
    ph = F.col("m_t") - F.col("m_min")
    return cum.select(
        "event_type",
        F.col("day").cast("date").cast("string").alias("day"),
        "cents",
        stable_round(ph, 4).alias("ph_stat"),
        (ph > 5000.0).alias("alarm"),
    ).orderBy("event_type", "day")


@q(
    "ev_rsi_wilder",
    oracle="""
        WITH daily AS (
            SELECT event_type, DATE_TRUNC('day', ts) AS day,
                   CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS cents
            FROM events GROUP BY 1, 2
        ), diffs AS (
            SELECT event_type, day,
                   cents - LAG(cents) OVER (PARTITION BY event_type
                                            ORDER BY day) AS d
            FROM daily
            QUALIFY d IS NOT NULL
        ), folded AS (
            SELECT event_type,
                   CAST(COUNT(*) AS BIGINT) AS n_changes,
                   LIST_REDUCE(LIST(CAST(GREATEST(d, 0) AS DOUBLE) ORDER BY day),
                               (acc, x) -> acc * (13.0/14.0) + x * (1.0/14.0))
                       AS avg_gain,
                   LIST_REDUCE(LIST(CAST(GREATEST(-d, 0) AS DOUBLE) ORDER BY day),
                               (acc, x) -> acc * (13.0/14.0) + x * (1.0/14.0))
                       AS avg_loss
            FROM diffs GROUP BY event_type
        )
        SELECT event_type, n_changes,
               FLOOR(avg_gain * 10000.0 + 0.5) / 10000.0 AS avg_gain,
               FLOOR(avg_loss * 10000.0 + 0.5) / 10000.0 AS avg_loss,
               CASE WHEN avg_loss = 0.0 THEN 100.0
                    ELSE FLOOR((100.0 - 100.0 / (1.0 + avg_gain / avg_loss))
                               * 10000.0 + 0.5) / 10000.0
               END AS rsi
        FROM folded ORDER BY event_type
    """,
)
def ev_rsi_wilder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wilder's RSI over the per-type daily-revenue series: gains and
    losses from day-over-day integer deltas, each smoothed by the
    Wilder recursion s_t = s_{t−1}·13/14 + x_t/14 (an EWMA with
    α = 1/14), RSI = 100 − 100/(1 + avg_gain/avg_loss) — the
    overbought/oversold oscillator, seeded with the first change (the
    ev_ewma seeding contract; the classic SMA-of-14 seed is a
    different warm-up, same recursion). Both engines run the identical
    LEFT FOLD in ascending day order (F.aggregate ↔ LIST_REDUCE — the
    ev_ewma discipline), and the folded state is bounded by the
    calendar, not the corpus: the fact-sized pass is the upstream
    daily hash aggregate."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(F.sum(F.round(F.col("value") * 100).cast("long")).cast("long").alias("cents"))
    w = Window.partitionBy("event_type").orderBy("day")
    diffs = (
        daily.withColumn("d", F.col("cents") - F.lag("cents").over(w))
        .where(F.col("d").isNotNull())
        .select(
            "event_type",
            "day",
            F.greatest(F.col("d"), F.lit(0)).cast("double").alias("g"),
            F.greatest(-F.col("d"), F.lit(0)).cast("double").alias("l"),
        )
    )
    agg = diffs.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_changes"),
        F.sort_array(
            F.collect_list(F.struct(F.col("day"), F.col("g").alias("v")))
        ).alias("gs"),
        F.sort_array(
            F.collect_list(F.struct(F.col("day"), F.col("l").alias("v")))
        ).alias("ls"),
    )

    def wilder(arr):
        return F.aggregate(
            F.slice(arr, 2, F.size(arr) - 1),
            F.element_at(arr, 1)["v"],
            lambda acc, o: acc * F.lit(13.0 / 14.0) + o["v"] * F.lit(1.0 / 14.0),
        )

    folded = agg.select(
        "event_type",
        "n_changes",
        wilder(F.col("gs")).alias("avg_gain"),
        wilder(F.col("ls")).alias("avg_loss"),
    )
    ag, al = F.col("avg_gain"), F.col("avg_loss")
    return folded.select(
        "event_type",
        "n_changes",
        stable_round(ag, 4).alias("avg_gain"),
        stable_round(al, 4).alias("avg_loss"),
        F.when(al == 0.0, F.lit(100.0))
        .otherwise(stable_round(F.lit(100.0) - F.lit(100.0) / (1.0 + ag / al), 4))
        .alias("rsi"),
    ).orderBy("event_type")


@q(
    "ev_macd",
    oracle="""
        WITH daily AS (
            SELECT event_type, DATE_TRUNC('day', ts) AS day,
                   CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS cents
            FROM events GROUP BY 1, 2
        ), series AS (
            SELECT event_type,
                   CAST(COUNT(*) AS BIGINT) AS n_days,
                   LIST(CAST(cents AS DOUBLE) ORDER BY day) AS closes
            FROM daily GROUP BY event_type
        ), macd_arr AS (
            SELECT event_type, n_days,
                   LIST_TRANSFORM(
                       GENERATE_SERIES(CAST(n_days AS INT) - 8,
                                       CAST(n_days AS INT)),
                       k ->
                         LIST_REDUCE(closes[1:k],
                             (acc, x) -> acc * (11.0/13.0) + x * (2.0/13.0))
                       - LIST_REDUCE(closes[1:k],
                             (acc, x) -> acc * (25.0/27.0) + x * (2.0/27.0))
                   ) AS m
            FROM series WHERE n_days >= 27
        ), sig AS (
            SELECT event_type, n_days, m,
                   LIST_REDUCE(m, (acc, x) -> acc * (8.0/10.0) + x * (2.0/10.0))
                       AS signal
            FROM macd_arr
        )
        SELECT event_type, n_days,
               FLOOR(m[9] * 10000.0 + 0.5) / 10000.0 AS macd,
               FLOOR(signal * 10000.0 + 0.5) / 10000.0 AS signal,
               FLOOR((m[9] - signal) * 10000.0 + 0.5) / 10000.0 AS histogram
        FROM sig ORDER BY event_type
    """,
)
def ev_macd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MACD(12,26,9) over the per-type daily-revenue series: the moving
    average convergence/divergence line (EMA12 − EMA26), its 9-period
    signal EMA, and the histogram whose sign flip is the classic
    momentum crossover. The signal EMA needs the LAST NINE values of
    the MACD line, each of which is a fold over a different prefix of
    the close series — so this is a NESTED Catalyst HOF: an outer
    transform over prefix lengths k with two inner left folds per k
    (the ext_rouge_l_pairs nesting pattern; DuckDB mirrors with
    LIST_TRANSFORM over GENERATE_SERIES + LIST_REDUCE on list slices).
    The arrays are calendar-bounded (daily closes), EMAs seed with the
    first close (ev_ewma contract), O(9·n) work per key, zero Python.
    Smoothing factors 2/(n+1) per the standard definition."""
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", F.col("ts")).alias("day")
    ).agg(F.sum(F.round(F.col("value") * 100).cast("long")).cast("long").alias("cents"))
    series = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_days"),
        F.transform(
            F.sort_array(
                F.collect_list(
                    F.struct(F.col("day"), F.col("cents").cast("double").alias("v"))
                )
            ),
            lambda o: o["v"],
        ).alias("closes"),
    ).where(F.col("n_days") >= 27)

    def ema_prefix(arr, k, keep, alpha):
        pre = F.slice(arr, 1, k)
        return F.aggregate(
            F.slice(pre, 2, k - 1),
            F.element_at(pre, 1),
            lambda acc, x: acc * F.lit(keep) + x * F.lit(alpha),
        )

    closes = F.col("closes")
    n_int = F.col("n_days").cast("int")
    macd_arr = series.select(
        "event_type",
        "n_days",
        F.transform(
            F.sequence(n_int - 8, n_int),
            lambda k: ema_prefix(closes, k, 11.0 / 13.0, 2.0 / 13.0)
            - ema_prefix(closes, k, 25.0 / 27.0, 2.0 / 27.0),
        ).alias("m"),
    )
    sig = macd_arr.select(
        "event_type",
        "n_days",
        "m",
        F.aggregate(
            F.slice(F.col("m"), 2, 8),
            F.element_at(F.col("m"), 1),
            lambda acc, x: acc * F.lit(8.0 / 10.0) + x * F.lit(2.0 / 10.0),
        ).alias("signal"),
    )
    last = F.element_at(F.col("m"), 9)
    return sig.select(
        "event_type",
        "n_days",
        stable_round(last, 4).alias("macd"),
        stable_round(F.col("signal"), 4).alias("signal"),
        stable_round(last - F.col("signal"), 4).alias("histogram"),
    ).orderBy("event_type")


@q(
    "ev_engle_granger",
    oracle="""
        WITH hourly AS (
            SELECT event_type, DATE_TRUNC('hour', ts) AS hr,
                   CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS y
            FROM events GROUP BY 1, 2
        ), mkt AS (
            SELECT hr, CAST(SUM(y) AS BIGINT) AS x FROM hourly GROUP BY hr
        ), j AS (
            SELECT h.event_type, h.hr, h.y, m.x
            FROM hourly h JOIN mkt m ON h.hr = m.hr
        ), ols AS (
            SELECT event_type,
                   CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(CAST(x AS DECIMAL(38,0))) AS DOUBLE) AS sx,
                   CAST(SUM(CAST(y AS DECIMAL(38,0))) AS DOUBLE) AS sy,
                   CAST(SUM(CAST(x AS DECIMAL(19,0))
                            * CAST(y AS DECIMAL(19,0))) AS DOUBLE) AS sxy,
                   CAST(SUM(CAST(x AS DECIMAL(19,0))
                            * CAST(x AS DECIMAL(19,0))) AS DOUBLE) AS sxx
            FROM j GROUP BY event_type
        ), beta AS (
            SELECT event_type, n,
                   (n * sxy - sx * sy) / (n * sxx - sx * sx) AS b,
                   (sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx)
                       / n AS a
            FROM ols
        ), resid AS (
            SELECT j.event_type, j.hr,
                   CAST(FLOOR((j.y - beta.a - beta.b * j.x) * 100.0 + 0.5)
                        AS BIGINT) AS e
            FROM j JOIN beta ON j.event_type = beta.event_type
        ), pairs AS (
            SELECT event_type,
                   LAG(e) OVER (PARTITION BY event_type ORDER BY hr) AS el,
                   e - LAG(e) OVER (PARTITION BY event_type ORDER BY hr) AS de
            FROM resid
            QUALIFY el IS NOT NULL
        ), adf AS (
            SELECT event_type,
                   CAST(COUNT(*) AS BIGINT) AS m,
                   CAST(SUM(CAST(el AS DECIMAL(19,0))
                            * CAST(de AS DECIMAL(19,0))) AS DOUBLE) AS sed,
                   CAST(SUM(CAST(el AS DECIMAL(19,0))
                            * CAST(el AS DECIMAL(19,0))) AS DOUBLE) AS see,
                   CAST(SUM(CAST(de AS DECIMAL(19,0))
                            * CAST(de AS DECIMAL(19,0))) AS DOUBLE) AS sdd
            FROM pairs GROUP BY event_type
        )
        SELECT b.event_type, b.n,
               FLOOR(b.b * 1000000.0 + 0.5) / 1000000.0 AS hedge_beta,
               FLOOR(b.a * 100.0 + 0.5) / 100.0 AS alpha_cents,
               FLOOR((adf.sed / adf.see)
                     / SQRT(((adf.sdd - 2.0 * (adf.sed / adf.see) * adf.sed
                              + (adf.sed / adf.see) * (adf.sed / adf.see)
                                * adf.see)
                             / CAST(adf.m - 1 AS DOUBLE)) / adf.see)
                     * 10000.0 + 0.5) / 10000.0 AS adf_t
        FROM beta b JOIN adf ON b.event_type = adf.event_type
        ORDER BY b.event_type
    """,
)
def ev_engle_granger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engle-Granger cointegration step 1+2 for each event type against
    the market (the hourly total across all types): OLS hedge ratio
    y = α + βx, then the Dickey-Fuller t-statistic of the RESIDUAL's
    mean reversion (Δe = ρe₋₁: t = ρ̂/se(ρ̂)) — the pairs-trading /
    spread-monitoring test that distinguishes a genuinely cointegrated
    pair from two series that merely trend together (ev_adf_stationarity
    is the same DF machinery on a raw series). Every moment is an exact
    DECIMAL(38,0) sum of integers: the OLS runs on integer cents and
    the residuals are floor-quantized to centi-cents at birth, so ρ̂,
    its standard error (expanded as Σde² − 2ρ̂Σe·de + ρ̂²Σe² — no second
    residual pass), and the t-stat are closed forms over exact inputs.
    Two hash aggregates + one partitioned lag window."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("hr")
    ).agg(F.sum(F.round(F.col("value") * 100).cast("long")).cast("long").alias("y"))
    mkt = hourly.groupBy("hr").agg(F.sum("y").cast("long").alias("x"))
    j = hourly.join(mkt, "hr").select("event_type", "hr", "y", "x")
    x, y = F.col("x"), F.col("y")
    ols = j.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum(x.cast("decimal(38,0)")).cast("double").alias("sx"),
        F.sum(y.cast("decimal(38,0)")).cast("double").alias("sy"),
        F.sum(x.cast("decimal(19,0)") * y.cast("decimal(19,0)"))
        .cast("double")
        .alias("sxy"),
        F.sum(x.cast("decimal(19,0)") * x.cast("decimal(19,0)"))
        .cast("double")
        .alias("sxx"),
    )
    nd = F.col("n").cast("double")
    b_expr = (nd * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        nd * F.col("sxx") - F.col("sx") * F.col("sx")
    )
    beta = ols.select(
        "event_type",
        "n",
        b_expr.alias("b"),
        ((F.col("sy") - b_expr * F.col("sx")) / nd).alias("a"),
    )
    resid = j.join(F.broadcast(beta), "event_type").select(
        "event_type",
        "hr",
        F.floor(
            (y.cast("double") - F.col("a") - F.col("b") * x.cast("double"))
            * F.lit(100.0)
            + F.lit(0.5)
        )
        .cast("long")
        .alias("e"),
    )
    w = Window.partitionBy("event_type").orderBy("hr")
    pairs = (
        resid.withColumn("el", F.lag("e").over(w))
        .where(F.col("el").isNotNull())
        .select("event_type", "el", (F.col("e") - F.col("el")).alias("de"))
    )
    el, de = F.col("el"), F.col("de")
    adf = pairs.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("m"),
        F.sum(el.cast("decimal(19,0)") * de.cast("decimal(19,0)"))
        .cast("double")
        .alias("sed"),
        F.sum(el.cast("decimal(19,0)") * el.cast("decimal(19,0)"))
        .cast("double")
        .alias("see"),
        F.sum(de.cast("decimal(19,0)") * de.cast("decimal(19,0)"))
        .cast("double")
        .alias("sdd"),
    )
    rho = F.col("sed") / F.col("see")
    s2 = (
        F.col("sdd") - F.lit(2.0) * rho * F.col("sed") + rho * rho * F.col("see")
    ) / (F.col("m") - 1).cast("double")
    return (
        beta.join(adf, "event_type")
        .select(
            "event_type",
            "n",
            stable_round(F.col("b"), 6).alias("hedge_beta"),
            stable_round(F.col("a"), 2).alias("alpha_cents"),
            stable_round(rho / F.sqrt(s2 / F.col("see")), 4).alias("adf_t"),
        )
        .orderBy("event_type")
    )


@q(
    "ev_pacf",
    oracle="""
        WITH hourly AS (
            SELECT event_type, DATE_TRUNC('hour', ts) AS hr,
                   CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS x
            FROM events GROUP BY 1, 2
        ), stats AS (
            SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(x) AS BIGINT) AS s
            FROM hourly GROUP BY event_type
        ), dm AS (
            SELECT h.event_type, h.hr,
                   h.x * st.n - st.s AS d,
                   LAG(h.x * st.n - st.s, 1) OVER w AS d1,
                   LAG(h.x * st.n - st.s, 2) OVER w AS d2,
                   LAG(h.x * st.n - st.s, 3) OVER w AS d3
            FROM hourly h JOIN stats st ON h.event_type = st.event_type
            WINDOW w AS (PARTITION BY h.event_type ORDER BY h.hr)
        ), moms AS (
            SELECT event_type,
                   CAST(SUM(CAST(d AS DECIMAL(19,0)) * CAST(d AS DECIMAL(19,0))) AS DOUBLE) AS c0,
                   CAST(SUM(CASE WHEN d1 IS NOT NULL
                                 THEN CAST(d AS DECIMAL(19,0))
                                      * CAST(d1 AS DECIMAL(19,0))
                                 ELSE CAST(0 AS DECIMAL(38,0)) END) AS DOUBLE) AS c1,
                   CAST(SUM(CASE WHEN d2 IS NOT NULL
                                 THEN CAST(d AS DECIMAL(19,0))
                                      * CAST(d2 AS DECIMAL(19,0))
                                 ELSE CAST(0 AS DECIMAL(38,0)) END) AS DOUBLE) AS c2,
                   CAST(SUM(CASE WHEN d3 IS NOT NULL
                                 THEN CAST(d AS DECIMAL(19,0))
                                      * CAST(d3 AS DECIMAL(19,0))
                                 ELSE CAST(0 AS DECIMAL(38,0)) END) AS DOUBLE) AS c3
            FROM dm GROUP BY event_type
        ), rho AS (
            SELECT event_type, c1 / c0 AS r1, c2 / c0 AS r2, c3 / c0 AS r3
            FROM moms
        ), dl AS (
            SELECT event_type, r1, r2, r3,
                   (r2 - r1 * r1) / (1.0 - r1 * r1) AS p22
            FROM rho
        ), dl3 AS (
            SELECT event_type, r1, r2, r3, p22,
                   r1 * (1.0 - p22) AS p21
            FROM dl
        )
        SELECT event_type,
               FLOOR(r1 * 1000000.0 + 0.5) / 1000000.0 AS pacf_1,
               FLOOR(p22 * 1000000.0 + 0.5) / 1000000.0 AS pacf_2,
               FLOOR((r3 - p21 * r2 - p22 * r1)
                     / (1.0 - p21 * r1 - p22 * r2)
                     * 1000000.0 + 0.5) / 1000000.0 AS pacf_3
        FROM dl3 ORDER BY event_type
    """,
)
def ev_pacf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial autocorrelation at lags 1–3 via the Durbin-Levinson
    recursion — the AR-order selection companion to ev_autocorrelation
    (ACF says WHETHER past correlates; PACF says which lag carries
    DIRECT signal once shorter lags are regressed out — the PACF
    cutoff IS the AR(p) order). Demeaning is kept exact by scaling:
    d_t = n·x_t − Σx is an INTEGER, and every lag covariance Σd_t·d_{t−k}
    is an exact DECIMAL sum (DECIMAL(19,0) factors so the PRODUCT never
    overflows). The scheme's intrinsic domain is |d_t| < ~9.2e18: d_t
    itself is computed in BIGINT, which is not a shortcut — d_t² must
    fit DECIMAL(38,0) anyway, so a wider d_t could not be squared
    exactly either; beyond that magnitude the exact path would need a
    pre-aggregated rescale, not a wider cast. The common n² factor
    cancels in the autocorrelation ratios; φ22 and φ33 then follow the explicit DL
    closed forms with identical expression trees in both engines. One
    hash aggregate, one partitioned lag window, one tiny reduction."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("hr")
    ).agg(F.sum(F.round(F.col("value") * 100).cast("long")).cast("long").alias("x"))
    stats = hourly.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("s"),
    )
    w = Window.partitionBy("event_type").orderBy("hr")
    dcol = F.col("x") * F.col("n") - F.col("s")
    dm = (
        hourly.join(F.broadcast(stats), "event_type")
        .withColumn("d", dcol)
        .select(
            "event_type",
            "hr",
            "d",
            F.lag("d", 1).over(w).alias("d1"),
            F.lag("d", 2).over(w).alias("d2"),
            F.lag("d", 3).over(w).alias("d3"),
        )
    )
    dec0 = F.lit(0).cast("decimal(38,0)")

    def cov(lagcol: str):
        return (
            F.sum(
                F.when(
                    F.col(lagcol).isNotNull(),
                    F.col("d").cast("decimal(19,0)")
                    * F.col(lagcol).cast("decimal(19,0)"),
                ).otherwise(dec0)
            )
            .cast("double")
        )

    moms = dm.groupBy("event_type").agg(
        F.sum(F.col("d").cast("decimal(19,0)") * F.col("d").cast("decimal(19,0)"))
        .cast("double")
        .alias("c0"),
        cov("d1").alias("c1"),
        cov("d2").alias("c2"),
        cov("d3").alias("c3"),
    )
    rho = moms.select(
        "event_type",
        (F.col("c1") / F.col("c0")).alias("r1"),
        (F.col("c2") / F.col("c0")).alias("r2"),
        (F.col("c3") / F.col("c0")).alias("r3"),
    )
    p22 = (F.col("r2") - F.col("r1") * F.col("r1")) / (
        F.lit(1.0) - F.col("r1") * F.col("r1")
    )
    dl = rho.withColumn("p22", p22).withColumn(
        "p21", F.col("r1") * (F.lit(1.0) - F.col("p22"))
    )
    pacf3 = (F.col("r3") - F.col("p21") * F.col("r2") - F.col("p22") * F.col("r1")) / (
        F.lit(1.0) - F.col("p21") * F.col("r1") - F.col("p22") * F.col("r2")
    )
    return dl.select(
        "event_type",
        stable_round(F.col("r1"), 6).alias("pacf_1"),
        stable_round(F.col("p22"), 6).alias("pacf_2"),
        stable_round(pacf3, 6).alias("pacf_3"),
    ).orderBy("event_type")


@q(
    "ev_ljung_box",
    oracle="""
        WITH hourly AS (
            SELECT event_type, DATE_TRUNC('hour', ts) AS hr,
                   CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS x
            FROM events GROUP BY 1, 2
        ), stats AS (
            SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
                   CAST(SUM(x) AS BIGINT) AS s
            FROM hourly GROUP BY event_type
        ), dm AS (
            SELECT h.event_type, st.n,
                   h.x * st.n - st.s AS d,
                   LAG(h.x * st.n - st.s, 1) OVER w AS d1,
                   LAG(h.x * st.n - st.s, 2) OVER w AS d2,
                   LAG(h.x * st.n - st.s, 3) OVER w AS d3,
                   LAG(h.x * st.n - st.s, 4) OVER w AS d4,
                   LAG(h.x * st.n - st.s, 5) OVER w AS d5
            FROM hourly h JOIN stats st ON h.event_type = st.event_type
            WINDOW w AS (PARTITION BY h.event_type ORDER BY h.hr)
        ), moms AS (
            SELECT event_type, MAX(n) AS n,
                   CAST(SUM(CAST(d AS DECIMAL(19,0))
                            * CAST(d AS DECIMAL(19,0))) AS DOUBLE) AS c0,
                   CAST(SUM(CASE WHEN d1 IS NOT NULL THEN CAST(d AS DECIMAL(19,0)) * CAST(d1 AS DECIMAL(19,0)) ELSE CAST(0 AS DECIMAL(38,0)) END) AS DOUBLE) AS c1,
                   CAST(SUM(CASE WHEN d2 IS NOT NULL THEN CAST(d AS DECIMAL(19,0)) * CAST(d2 AS DECIMAL(19,0)) ELSE CAST(0 AS DECIMAL(38,0)) END) AS DOUBLE) AS c2,
                   CAST(SUM(CASE WHEN d3 IS NOT NULL THEN CAST(d AS DECIMAL(19,0)) * CAST(d3 AS DECIMAL(19,0)) ELSE CAST(0 AS DECIMAL(38,0)) END) AS DOUBLE) AS c3,
                   CAST(SUM(CASE WHEN d4 IS NOT NULL THEN CAST(d AS DECIMAL(19,0)) * CAST(d4 AS DECIMAL(19,0)) ELSE CAST(0 AS DECIMAL(38,0)) END) AS DOUBLE) AS c4,
                   CAST(SUM(CASE WHEN d5 IS NOT NULL THEN CAST(d AS DECIMAL(19,0)) * CAST(d5 AS DECIMAL(19,0)) ELSE CAST(0 AS DECIMAL(38,0)) END) AS DOUBLE) AS c5
            FROM dm GROUP BY event_type
        )
        SELECT event_type, CAST(n AS BIGINT) AS n,
               CAST(5 AS INT) AS lags,
               FLOOR(CAST(n AS DOUBLE) * (n + 2.0)
                     * ((c1/c0)*(c1/c0) / (n - 1.0)
                        + (c2/c0)*(c2/c0) / (n - 2.0)
                        + (c3/c0)*(c3/c0) / (n - 3.0)
                        + (c4/c0)*(c4/c0) / (n - 4.0)
                        + (c5/c0)*(c5/c0) / (n - 5.0))
                     * 1000000.0 + 0.5) / 1000000.0 AS q_stat,
               FLOOR(CAST(n AS DOUBLE) * ((c1/c0)*(c1/c0)
                        + (c2/c0)*(c2/c0) + (c3/c0)*(c3/c0)
                        + (c4/c0)*(c4/c0) + (c5/c0)*(c5/c0))
                     * 1000000.0 + 0.5) / 1000000.0 AS box_pierce_q
        FROM moms ORDER BY event_type
    """,
)
def ev_ljung_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ljung-Box portmanteau test (Q = n(n+2)Σρ_k²/(n−k), lags 1–5,
    with the cruder Box-Pierce Q for reference) on the per-type hourly
    series — THE residual-whiteness gate: run it on a forecaster's
    residuals (ev_holt_forecast, ev_forecast_backtest) and a
    significant Q says structure remains that the model missed; on the
    raw series it quantifies total linear memory where ev_pacf locates
    it. Same exact-covariance machinery as ev_pacf: scaled demeaning
    keeps d integer, DECIMAL(19,0) factor products cannot overflow,
    the n² scale cancels in each ρ_k, and the five-term Q is one
    closed-form expression ordered identically in both engines. Same
    intrinsic domain as ev_pacf: d is computed in BIGINT (|d| <
    ~9.2e18), which is the exact scheme's own ceiling since d² must
    fit DECIMAL(38,0) regardless — see ev_pacf's docstring."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("hr")
    ).agg(F.sum(F.round(F.col("value") * 100).cast("long")).cast("long").alias("x"))
    stats = hourly.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n"),
        F.sum("x").cast("long").alias("s"),
    )
    w = Window.partitionBy("event_type").orderBy("hr")
    dm = (
        hourly.join(F.broadcast(stats), "event_type")
        .withColumn("d", F.col("x") * F.col("n") - F.col("s"))
        .select(
            "event_type",
            "n",
            "d",
            *[F.lag("d", k).over(w).alias(f"d{k}") for k in range(1, 6)],
        )
    )
    dec0 = F.lit(0).cast("decimal(38,0)")

    def cov(k: int):
        return (
            F.sum(
                F.when(
                    F.col(f"d{k}").isNotNull(),
                    F.col("d").cast("decimal(19,0)")
                    * F.col(f"d{k}").cast("decimal(19,0)"),
                ).otherwise(dec0)
            )
            .cast("double")
            .alias(f"c{k}")
        )

    moms = dm.groupBy("event_type").agg(
        F.max("n").alias("n"),
        F.sum(F.col("d").cast("decimal(19,0)") * F.col("d").cast("decimal(19,0)"))
        .cast("double")
        .alias("c0"),
        *[cov(k) for k in range(1, 6)],
    )
    nd = F.col("n").cast("double")
    rho2 = [
        (F.col(f"c{k}") / F.col("c0")) * (F.col(f"c{k}") / F.col("c0"))
        for k in range(1, 6)
    ]
    q_lb = nd * (nd + 2.0) * sum(r / (nd - k) for k, r in zip(range(1, 6), rho2))
    q_bp = nd * sum(rho2[0:1] + rho2[1:])
    return moms.select(
        "event_type",
        F.col("n").cast("long").alias("n"),
        F.lit(5).cast("int").alias("lags"),
        stable_round(q_lb, 6).alias("q_stat"),
        stable_round(q_bp, 6).alias("box_pierce_q"),
    ).orderBy("event_type")


@q(
    "ev_mann_kendall",
    oracle="""
        WITH daily AS (
            SELECT event_type, DATE_TRUNC('day', ts) AS day,
                   CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS x
            FROM events GROUP BY 1, 2
        ), s AS (
            SELECT a.event_type,
                   CAST(SUM(CASE WHEN b.x > a.x THEN 1
                                 WHEN b.x < a.x THEN -1 ELSE 0 END) AS BIGINT)
                       AS s_stat,
                   CAST(COUNT(*) AS BIGINT) AS n_pairs
            FROM daily a JOIN daily b USING (event_type)
            WHERE a.day < b.day
            GROUP BY a.event_type
        ), np AS (
            SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_points
            FROM daily GROUP BY event_type
        ), ties AS (
            SELECT event_type,
                   CAST(SUM(t * (t - 1) * (2 * t + 5)) AS BIGINT) AS tie_term
            FROM (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS t
                  FROM daily GROUP BY event_type, x) g
            GROUP BY event_type
        ), scored AS (
            SELECT s.event_type, np.n_points, s.n_pairs, s.s_stat,
                   CAST(np.n_points * (np.n_points - 1) * (2 * np.n_points + 5)
                        - ties.tie_term AS DOUBLE) / 18.0 AS vs
            FROM s JOIN np USING (event_type) JOIN ties USING (event_type)
        ), z AS (
            SELECT event_type, n_points, n_pairs, s_stat, vs,
                   CASE WHEN vs <= 0 THEN 0.0
                        WHEN s_stat > 0 THEN CAST(s_stat - 1 AS DOUBLE) / SQRT(vs)
                        WHEN s_stat < 0 THEN CAST(s_stat + 1 AS DOUBLE) / SQRT(vs)
                        ELSE 0.0 END AS zraw
            FROM scored
        )
        SELECT event_type, n_points, n_pairs, s_stat,
               FLOOR(vs * 10000.0 + 0.5) / 10000.0 AS var_s,
               FLOOR(zraw * 1000000.0 + 0.5) / 1000000.0 AS z_mk,
               CASE WHEN zraw > 1.959964 THEN 'increasing'
                    WHEN zraw < -1.959964 THEN 'decreasing'
                    ELSE 'no_trend' END AS trend
        FROM z ORDER BY event_type
    """,
)
def ev_mann_kendall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Kendall trend test per event type — the nonparametric
    HYPOTHESIS-TEST companion to ev_theil_sen's slope ESTIMATE (the
    standard pairing in hydrology/telemetry: MK says WHETHER a monotonic
    trend exists, Theil-Sen says how steep). S = SUM sign(x_j - x_i) over
    i<j day pairs is an exact BIGINT; Var(S) uses the tie-corrected
    closed form [n(n-1)(2n+5) - SUM t(t-1)(2t+5)] / 18 with every factor
    integer until the single division; the normal approximation applies
    the +/-1 continuity correction before the SQRT, and the trend verdict
    compares the UNROUNDED z to the two-sided 5% bound so both engines
    branch on identical doubles. The pair join is quadratic only in
    SERIES LENGTH (calendar-bounded per key, like ev_theil_sen), equi-
    keyed on event_type so each key's pairs stay in one partition; tie
    groups come from one extra hash aggregate on (key, x)."""
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(F.sum(F.round(F.col("value") * 100).cast("long")).cast("long").alias("x"))
    a = daily.alias("a")
    b = daily.alias("b")
    s = (
        a.join(b, "event_type")
        .where(F.col("a.day") < F.col("b.day"))
        .groupBy("event_type")
        .agg(
            F.sum(
                F.when(F.col("b.x") > F.col("a.x"), 1)
                .when(F.col("b.x") < F.col("a.x"), -1)
                .otherwise(0)
            )
            .cast("long")
            .alias("s_stat"),
            F.count(F.lit(1)).cast("long").alias("n_pairs"),
        )
    )
    np_ = daily.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("long").alias("n_points")
    )
    ties = (
        daily.groupBy("event_type", "x")
        .agg(F.count(F.lit(1)).cast("long").alias("t"))
        .groupBy("event_type")
        .agg(
            F.sum(
                F.col("t") * (F.col("t") - 1) * (2 * F.col("t") + 5)
            )
            .cast("long")
            .alias("tie_term")
        )
    )
    n = F.col("n_points")
    vs = (
        (n * (n - 1) * (2 * n + 5) - F.col("tie_term")).cast("double") / F.lit(18.0)
    )
    scored = (
        s.join(F.broadcast(np_), "event_type")
        .join(F.broadcast(ties), "event_type")
        .withColumn("vs", vs)
    )
    zraw = (
        F.when(F.col("vs") <= 0, F.lit(0.0))
        .when(
            F.col("s_stat") > 0,
            (F.col("s_stat") - 1).cast("double") / F.sqrt(F.col("vs")),
        )
        .when(
            F.col("s_stat") < 0,
            (F.col("s_stat") + 1).cast("double") / F.sqrt(F.col("vs")),
        )
        .otherwise(F.lit(0.0))
    )
    z = scored.withColumn("zraw", zraw)
    return z.select(
        "event_type",
        "n_points",
        "n_pairs",
        "s_stat",
        stable_round(F.col("vs"), 4).alias("var_s"),
        stable_round(F.col("zraw"), 6).alias("z_mk"),
        F.when(F.col("zraw") > 1.959964, F.lit("increasing"))
        .when(F.col("zraw") < -1.959964, F.lit("decreasing"))
        .otherwise(F.lit("no_trend"))
        .alias("trend"),
    ).orderBy("event_type")


@q(
    "ev_garch_vol",
    oracle="""
        WITH daily AS (
            SELECT event_type, DATE_TRUNC('day', ts) AS day,
                   CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS x
            FROM events GROUP BY 1, 2
        ), rets AS (
            SELECT event_type, day,
                   CAST(x - LAG(x) OVER (PARTITION BY event_type ORDER BY day)
                        AS DOUBLE) / 100.0 AS r,
                   COUNT(*) OVER (PARTITION BY event_type) AS n_obs
            FROM daily
        ), lists AS (
            SELECT event_type, MAX(n_obs) AS n_obs,
                   LIST(r * r ORDER BY day) AS e2
            FROM rets WHERE r IS NOT NULL
            GROUP BY event_type
        ), folded AS (
            SELECT event_type, n_obs, LEN(e2) AS m,
                   LIST_REDUCE(LIST_PREPEND(e2[1], e2[1:LEN(e2) - 1]),
                               (acc, x) -> 0.25 + 0.125 * x + 0.75 * acc) AS h
            FROM lists
        )
        SELECT event_type,
               CAST(n_obs AS BIGINT) AS n_obs,
               CAST(m AS BIGINT) AS n_returns,
               FLOOR(h * 1000000.0 + 0.5) / 1000000.0 AS h_last,
               FLOOR(SQRT(h) * 1000000.0 + 0.5) / 1000000.0 AS sigma_last,
               h > 2.0 AS above_longrun
        FROM folded ORDER BY event_type
    """,
)
def ev_garch_vol(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GARCH(1,1) conditional variance per event type
    (operators/timeseries.garch_volatility) over the daily integer-cents
    series — volatility clustering, the series property none of the
    level trackers (ev_ewma / ev_holt_forecast / ev_kalman_1d) can see
    and the range-based ev_gk_volatility only proxies per-bar: after a
    large squared innovation the filter EXPECTS further large moves
    (alpha kicks h up), then decays geometrically (beta) toward the
    long-run variance omega/(1-alpha-beta)=2.0. Parameters are exact
    binary fractions; the recursion is a scalar left fold mirrored
    between F.aggregate and LIST_REDUCE (seed h_1 = eps2_1, fold over
    eps2_1..eps2_{m-1}; DuckDB's seed-is-first-element convention is
    satisfied by prepending the seed to the truncated list); returns
    are exact integer cents diffs scaled once, so the rounded outputs
    hash-compare. One shuffle on the key; per-key state is the
    day-bounded series."""
    from bigdatacw1_spark.operators.timeseries import garch_volatility

    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type", F.date_trunc("day", "ts").alias("day")
    ).agg(F.sum(F.round(F.col("value") * 100).cast("long")).cast("long").alias("x"))
    return garch_volatility(daily, ["event_type"], "day", "x").orderBy("event_type")


@q(
    "ev_gorilla_dod",
    oracle="""
        WITH p AS (
            SELECT DISTINCT event_type, EPOCH_US(ts) // 1000000 AS t FROM events
        ), d1 AS (
            SELECT event_type, t,
                   t - LAG(t) OVER (PARTITION BY event_type ORDER BY t) AS delta
            FROM p
        ), d2 AS (
            SELECT event_type, t, delta,
                   delta - LAG(delta) OVER (PARTITION BY event_type ORDER BY t) AS dod
            FROM d1
        ), cl AS (
            SELECT event_type, dod,
                   CASE WHEN dod IS NULL THEN 0
                        WHEN dod = 0 THEN 1
                        WHEN dod BETWEEN -63 AND 64 THEN 9
                        WHEN dod BETWEEN -255 AND 256 THEN 12
                        WHEN dod BETWEEN -2047 AND 2048 THEN 16
                        ELSE 36 END AS bits
            FROM d2
        )
        SELECT event_type,
               CAST(COUNT(*) AS BIGINT) AS n_points,
               CAST(COUNT(*) FILTER (WHERE dod = 0) AS BIGINT) AS n_b0,
               CAST(COUNT(*) FILTER (WHERE bits = 9) AS BIGINT) AS n_b9,
               CAST(COUNT(*) FILTER (WHERE bits = 12) AS BIGINT) AS n_b12,
               CAST(COUNT(*) FILTER (WHERE bits = 16) AS BIGINT) AS n_b16,
               CAST(COUNT(*) FILTER (WHERE bits = 36) AS BIGINT) AS n_b36,
               CAST(96 + SUM(bits) AS BIGINT) AS total_bits,
               FLOOR((96 + SUM(bits)) / CAST(COUNT(*) AS DOUBLE) * 10000.0 + 0.5)
                   / 10000.0 AS bits_per_point
        FROM cl GROUP BY event_type ORDER BY event_type
    """,
)
def ev_gorilla_dod(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gorilla delta-of-delta timestamp compression accounting per event
    type (Pelkonen et al., VLDB 2015 — the Facebook TSDB scheme behind
    Prometheus/M3/InfluxDB chunks): second-granularity arrival times per
    series, first differences, then the difference of differences, each
    classified into Gorilla's variable-length buckets (0 -> 1 bit,
    [-63,64] -> 9, [-255,256] -> 12, [-2047,2048] -> 16, else 36; 64+32
    header bits for the first point and first delta). The output is the
    full bucket histogram plus the exact compressed size — the planning
    number a 100 TB time-series store needs to size chunks.

    The timeline is the DISTINCT (type, second) set, so the sort key is
    unique and both engines see the identical sequence. Two stacked LAG
    windows over the same (event_type) partitioning collapse onto ONE
    shuffle; the classification and histogram are plain codegen
    conditionals + one hash aggregate. Every hashed column is an exact
    integer except bits_per_point, one IEEE division (stable_round).
    Reference connection: completes the wire-format family of
    ext_rle_bitpack (Parquet RLE) and ext_cdc_chunking (CDC) with the
    time-series-native codec."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    # DuckDB's // truncates toward zero while floor(x/1e6) rounds toward
    # negative infinity — divergent for pre-1970 timestamps — so mirror
    # the truncating integer division exactly with `div`.
    p = ev.select(
        "event_type",
        F.expr("unix_micros(cast(ts as timestamp)) div 1000000").alias("t"),
    ).distinct()
    w = Window.partitionBy("event_type").orderBy("t")
    d1 = p.withColumn("delta", F.col("t") - F.lag("t").over(w))
    d2 = d1.withColumn("dod", F.col("delta") - F.lag("delta").over(w))
    bits = (
        F.when(F.col("dod").isNull(), F.lit(0))
        .when(F.col("dod") == 0, F.lit(1))
        .when(F.col("dod").between(-63, 64), F.lit(9))
        .when(F.col("dod").between(-255, 256), F.lit(12))
        .when(F.col("dod").between(-2047, 2048), F.lit(16))
        .otherwise(F.lit(36))
    )
    cl = d2.select("event_type", "dod", bits.alias("bits"))
    total = F.lit(96) + F.sum("bits")
    return (
        cl.groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n_points"),
            F.sum((F.col("dod") == 0).cast("long")).alias("n_b0"),
            F.sum((F.col("bits") == 9).cast("long")).alias("n_b9"),
            F.sum((F.col("bits") == 12).cast("long")).alias("n_b12"),
            F.sum((F.col("bits") == 16).cast("long")).alias("n_b16"),
            F.sum((F.col("bits") == 36).cast("long")).alias("n_b36"),
            total.cast("long").alias("total_bits"),
            stable_round(
                total / F.count(F.lit(1)).cast("double"), 4
            ).alias("bits_per_point"),
        )
        .orderBy("event_type")
    )
