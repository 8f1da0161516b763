"""Relational operator helpers (SURVEY.md §2.2-§2.6).

Thin, composable wrappers over DataFrame built-ins for the patterns the
reference exercises repeatedly. Everything stays JVM-side (Catalyst
expressions, whole-stage codegen) — no Python UDFs.

Reference cites are to /root/reference/Student_23098644/1.CourseworkOne/.
"""

from __future__ import annotations

import math
import os
from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T


def stable_round(value: Column, digits: int = 4) -> Column:
    """Cross-engine-identical rounding of a double: ``floor(x*10^d + 0.5) / 10^d``.

    Engine ``round(double, d)`` implementations disagree near decimal
    midpoints: Spark rounds the exact decimal expansion of the double
    (BigDecimal HALF_UP), DuckDB multiplies by 10^d in double first (which
    can round up to the midpoint) — for the same input bits they return
    0.8857 vs 0.8858. Expressing the rounding as plain IEEE arithmetic
    makes both engines run the identical instruction sequence. DuckDB
    equivalent: ``FLOOR(x * 10^d + 0.5) / 10^d``.

    Only valid for |x*10^d| < 2^53 (fine for all our ratios/aggregates).
    """
    s = float(10**digits)
    return F.floor(value * s + 0.5) / s


def quantize_big(value: Column) -> Column:
    """floor(x + 0.5) for non-negative doubles of ANY magnitude, as an
    exact DECIMAL(38,0) — the building block for order-free cross-group
    sums of derived doubles (the chi2_micro discipline generalized).

    Spark's ``floor()`` returns LONG and overflows past 2^63, so this
    stays in double arithmetic: ``t - fmod(t, 1.0)`` is the exact IEEE
    floor for t ≥ 0 (fmod is exact; the subtraction is exact below 2^52
    and a no-op at magnitudes where doubles are already integral).
    DuckDB equivalent: ``CAST(FLOOR(x + 0.5) AS DECIMAL(38,0))`` (its
    FLOOR returns DOUBLE natively, identical bits)."""
    t = value + F.lit(0.5)
    return (t - t % F.lit(1.0)).cast("decimal(38,0)")


def lit_array(values: Sequence, element_type: str) -> Column:
    """Literal array as ONE plan leaf instead of an N-child CreateArray.

    ``F.array(*[F.lit(v) for v in values])`` costs one py4j round trip
    per element at DataFrame-build time and hands Catalyst an N-child
    expression to walk on every analysis/optimization pass — measured
    ~10 s of pure driver time for the 16,384-counter Count-Min lookup
    table (guide §1.2: driver-side build work is paid on every run).
    Encoding the values as a single comma-joined string literal and
    ``split().cast()``-ing it keeps the build at ONE py4j call and the
    plan at three foldable nodes, which Catalyst constant-folds into a
    single array Literal before physical planning — the executed plan
    carries the identical literal array either way.

    Exactness: integers round-trip through decimal text losslessly (an
    out-of-range value fails the ANSI cast loudly); doubles are
    ``repr()``'d — Python's shortest-round-trip decimal form — and
    Java's correctly-rounded ``Double.parseDouble`` returns the
    identical bits (pinned in tests). Non-finite doubles are rejected
    (their text forms differ between Python and Java).
    """
    vals = list(values)
    if element_type not in {"int", "bigint", "double", "float"}:
        raise ValueError(f"lit_array: unsupported element type {element_type!r}")
    if not vals:
        return F.array().cast(f"array<{element_type}>")
    if element_type in {"double", "float"}:
        floats = [float(v) for v in vals]
        if not all(math.isfinite(v) for v in floats):
            raise ValueError("lit_array: non-finite double cannot round-trip as text")
        body = ",".join(repr(v) for v in floats)
    else:
        body = ",".join(str(int(v)) for v in vals)
    return F.split(F.lit(body), ",").cast(f"array<{element_type}>")


def int_lit_array(values: Sequence) -> Column:
    """``lit_array`` with the element width ``F.lit`` would have picked:
    array<int> when every value fits in 32 bits, array<bigint> otherwise
    — so converted call sites keep byte-identical output schemas."""
    vals = [int(v) for v in values]
    wide = any(not (-(1 << 31) <= v < (1 << 31)) for v in vals)
    return lit_array(vals, "bigint" if wide else "int")


def _size_conf_bytes(df: DataFrame, key: str, default: int) -> int:
    raw = str(df.sparkSession.conf.get(key, str(default))).strip().lower()
    units = {"k": 1 << 10, "m": 1 << 20, "g": 1 << 30, "t": 1 << 40}
    if raw and raw[-1] == "b" and len(raw) > 1 and raw[-2] in units:
        raw = raw[:-1]
    if raw and raw[-1] in units:
        return int(float(raw[:-1]) * units[raw[-1]])
    return int(raw)


def _estimated_scan_partitions(df: DataFrame) -> int | None:
    """Leaf-scan parallelism estimate from file sizes, mirroring Spark's
    split packing (FilePartition.maxSplitBytes + openCost padding), WITHOUT
    physical planning: ``df.rdd`` compiles the physical plan and — under
    AQE — eagerly executes every upstream shuffle stage just to report a
    partition count (measured: ~2 s of ext_neardup_lsh_verified's 2.6 s
    was the fan_out ``.rdd`` probe executing the candidate pipeline at
    DataFrame-BUILD time). Returns None when the input is not a statable
    local file scan; callers then fall back to the ``.rdd`` probe."""
    try:
        files = df.inputFiles()
    except Exception:  # non-file-backed plan
        return None
    if not files:
        return None
    total = 0
    for uri in files:
        path = uri
        if path.startswith("file:"):
            from urllib.parse import unquote, urlparse

            path = unquote(urlparse(path).path)
        elif "://" in path:
            return None  # remote FS: stat would be a network call per file
        try:
            total += os.path.getsize(path)
        except OSError:
            return None
    mpb = _size_conf_bytes(df, "spark.sql.files.maxPartitionBytes", 128 << 20)
    open_cost = _size_conf_bytes(df, "spark.sql.files.openCostInBytes", 4 << 20)
    parallelism = df.sparkSession.sparkContext.defaultParallelism
    padded = total + open_cost * len(files)
    max_split = min(mpb, max(open_cost, padded // max(parallelism, 1)))
    return max(1, math.ceil(padded / max(max_split, 1)))


_UNHASHABLE_TYPES = (T.MapType,) + (
    (T.VariantType,) if hasattr(T, "VariantType") else ()
)


def _hashable_type(dt: T.DataType) -> bool:
    """xxhash64-supported? Maps (and variants) are rejected at analysis
    time, including nested inside arrays/structs — recurse the tree."""
    if isinstance(dt, _UNHASHABLE_TYPES):
        return False
    if isinstance(dt, T.ArrayType):
        return _hashable_type(dt.elementType)
    if isinstance(dt, T.StructType):
        return all(_hashable_type(f.dataType) for f in dt.fields)
    return True


def _deterministic_spread_key(df: DataFrame) -> Column | None:
    """xxhash64 over every hash-supported column — a deterministic,
    high-cardinality synthetic partitioning key (guide §2.5: derive the
    synthetic key deterministically; never rand()). None when no column
    is hashable (caller falls back to round-robin)."""
    cols = [
        F.col(f.name) for f in df.schema.fields if _hashable_type(f.dataType)
    ]
    if not cols:
        return None
    return F.xxhash64(*cols)


def fan_out(df: DataFrame, min_partitions: int | None = None) -> DataFrame:
    """Raise scan parallelism for CPU-bound row-expanding stages.

    A small single-file parquet scan plans as ONE input partition, so a
    downstream explode/tokenize pipeline runs on one core no matter how
    many the cluster has. Repartition up to ``defaultParallelism`` — but
    only when the input is under-parallel: on a production many-file scan
    (100 TB → thousands of splits) this is a no-op, so the conditional
    never injects a full-corpus shuffle where the scan already fans out.

    The under-parallel probe estimates split count from the leaf files
    (guide §6 split-packing arithmetic) instead of ``df.rdd``, which
    would force physical planning — and under AQE eagerly EXECUTE every
    upstream shuffle stage — per call (guide §1.2 driver work).

    The spread uses HASH partitioning on a deterministic xxhash64 of the
    row, not keyless ``repartition(n)``: round-robin pays a local sort of
    the ENTIRE input inside the (single, serial) upstream task before the
    exchange (spark.sql.execution.sortBeforeRepartition, needed so task
    retries reproduce row placement — guide §2.5), and that sort is pure
    serial overhead exactly where fan_out is trying to escape serial
    execution. A per-row deterministic hash key needs no such sort (a
    retried task recomputes identical placements) and spreads as evenly —
    xxhash64 is full-cardinality, far above the 20-100x distinct-values
    guidance. Rows with map-typed columns (unhashable) keep round-robin.

    Caveat: the hash key collocates IDENTICAL rows, so an input with few
    distinct full rows (e.g. a projected low-cardinality frame) hashes to
    few partitions and stays under-parallel — exactly what fan_out exists
    to fix. Callers must pass rows made distinct by a unique id column
    (every current caller carries doc_id/vec_id)."""
    sc = df.sparkSession.sparkContext
    target = min_partitions or sc.defaultParallelism
    current = _estimated_scan_partitions(df)
    if current is None:
        current = df.rdd.getNumPartitions()
    if current < target:
        key = _deterministic_spread_key(df)
        if key is not None:
            return df.repartition(target, key)
        return df.repartition(target)
    return df


# The exact aggregates are written as one SQL expression each and built
# with a single ``F.expr``: a PySpark Column method costs about 1 ms of
# driver time (py4j round trips plus call-site capture), and the ~30 Column
# calls of one limb-summed average would double a query's build time.
#
# Exact sums split each quantized LONG into two unsigned 18-bit limbs and
# the signed rest (q >> 36). Each limb sums as a primitive LONG: the two low
# limbs stay exact to 2^45 rows per group, and so does the top one while
# |q| < 2^54, i.e. for every value a double holds to the unit of its scale.
_LIMB_BITS = 18
_LIMB_MASK = (1 << _LIMB_BITS) - 1


def _dbl(v: float) -> str:
    """A DOUBLE literal in Spark SQL (plain ``1.5`` parses as DECIMAL)."""
    return f"{float(v)!r}D"


def _units_sql(value: str, scale: int) -> str:
    ansi = SparkSession.active().conf.get("spark.sql.ansi.enabled") == "true"
    # sign(x * 10^s) == sign(x) for s >= 0; the shorter form keeps plans small
    q = f"rint(({value}) * {_dbl(10**scale)} + signum({value}) * {_dbl(1e-9)})"
    return f"{'CAST' if ansi else 'TRY_CAST'}({q} AS BIGINT)"


def _sum_units_sql(q: str) -> str:
    b, m = _LIMB_BITS, _LIMB_MASK
    return (
        f"((CAST(sum(shiftright({q}, {2 * b})) AS DECIMAL(38,0)) * {1 << b}"
        f" + sum(shiftright({q}, {b}) & {m})) * {1 << b} + sum({q} & {m}))"
    )


def _round_sql(value: str, digits: int | None) -> str:
    """``stable_round`` in SQL; ``digits=None`` returns ``value``."""
    if digits is None:
        return value
    s = _dbl(10**digits)
    return f"FLOOR(({value}) * {s} + {_dbl(0.5)}) / {s}"


def decimal_units(value: str, scale: int) -> Column:
    """DuckDB's ``CAST(x AS DECIMAL(30,s))`` as its unscaled integer: a
    LONG count of 10^-s units, computed without a per-row decimal.
    ``value`` is a SQL expression (a column name, or e.g.
    ``"l_extendedprice * (1 - l_discount)"``).

    Spark casts a double to DECIMAL through ``java.math.BigDecimal``
    (built from ``Double.toString``), an object per row that dominated
    the exact aggregates. These are DuckDB's own cast steps in IEEE
    arithmetic, so both engines quantize a double to the same integer
    (ties such as 1.005 or -2.5 included; pinned against DuckDB in
    tests/test_relational_more.py): ``q = x * 10^s``, nudge by
    ``sign(q) * 1e-9``, round half to even (``rint``, C's
    ``nearbyint``), convert to an integer.

    Magnitude bound: |x * 10^s| < 2^63. Past it the conversion fails like
    the decimal cast it replaces: under ANSI mode (this engine's
    default) the query errors; with spark.sql.ansi.enabled=false the
    value becomes NULL, never a saturated 2^63 - 1. The cast reads the
    mode when the column is built, as Spark's own casts do at analysis.
    """
    return F.expr(_units_sql(value, scale))


def sum_units(value: str, scale: int) -> Column:
    """``SUM(CAST(x AS DECIMAL(30,s)))`` as its unscaled integer, a
    DECIMAL(38,0): exact and order-independent, from primitive LONG adds
    per row (three limb sums, see ``_LIMB_BITS``) recombined once per
    group. A limb sum past 2^63 raises under ANSI."""
    return F.expr(_sum_units_sql(_units_sql(value, scale)))


def from_units(units: Column, scale: int) -> Column:
    """DECIMAL(p,s) → DOUBLE in DuckDB's steps, from the unscaled integer:
    ``double(N) / 10^s``."""
    return units.cast("double") / float(10**scale)


def exact_avg(value: str, scale: int = 4, digits: int | None = 4) -> Column:
    """Cross-engine-deterministic average (SURVEY.md §7.4.4) of the SQL
    expression ``value``.

    ``avg(double)`` sums in partition order, so two engines (or two runs
    with different partitioning) can disagree in the last ulp — which
    flips the final rounded digit whenever the true value sits at a
    rounding boundary. Instead: quantize to integer units of 10^-s
    (``decimal_units``, exactly DuckDB's decimal cast), sum them exactly
    (``sum_units``: associative, order-independent), then one double
    division and a stable_round. DuckDB equivalent:
    ``FLOOR((SUM(CAST(x AS DECIMAL(30,s))) / COUNT(x)) * 10^d + 0.5) / 10^d``.

    ``scale`` must be >= the decimals of the data (lossless quantization).
    Magnitude bound: each value needs |x * 10^s| < 2^63 (s=4 → 9.2e14;
    ample for our monetary/quantity columns); sums have no practical
    bound (exact to 2^45 rows per group, see ``_LIMB_BITS``). A value
    beyond the bound fails its quantization: under Spark 4's default ANSI
    mode (what this engine runs) the query ERRORS — loud and safe; only
    with spark.sql.ansi.enabled=false does it become NULL and drop from
    BOTH sum and count, skewing the "exact" average — detectable then as
    F.count(col) != F.count(decimal_units(col, s)) (behavior pinned in
    tests/test_relational_more.py). A saturated value never enters the
    sum. ``digits=None`` skips the final round (still deterministic).
    """
    q = _units_sql(value, scale)
    avg = f"CAST({_sum_units_sql(q)} AS DOUBLE) / {_dbl(10**scale)} / count({q})"
    return F.expr(_round_sql(avg, digits))


def exact_sum(value: str, scale: int = 4, digits: int | None = 2) -> Column:
    """Order-independent sum of the SQL expression ``value`` via decimal
    quantization — same rationale and bounds as exact_avg. DuckDB equivalent:
    ``FLOOR(CAST(SUM(CAST(x AS DECIMAL(30,s))) AS DOUBLE) * 10^d + 0.5) / 10^d``."""
    s = f"CAST({_sum_units_sql(_units_sql(value, scale))} AS DOUBLE) / {_dbl(10**scale)}"
    return F.expr(_round_sql(s, digits))


def conditional_avg(value: Column | str, cond: Column, alias: str) -> Column:
    """Pivot-by-CASE aggregate: ``avg(case when <cond> then <value> end)``.

    Operator A3 (SQLQueries.sql:19-26). Rows failing ``cond`` contribute
    NULL, which ``avg`` ignores — exactly PostgreSQL's semantics.
    """
    value = F.col(value) if isinstance(value, str) else value
    return F.avg(F.when(cond, value)).alias(alias)


def comparison_case(left: Column, right: Column, left_label: str, right_label: str, alias: str = "comparison") -> Column:
    """3-branch searched CASE (F3, SQLQueries.sql:22-26): which side is
    larger, with 'N/A' when either side is NULL (null-rejecting ``>``)."""
    return (
        F.when(left > right, F.lit(left_label))
        .when(left < right, F.lit(right_label))
        .otherwise(F.lit("N/A"))
        .alias(alias)
    )


def group_dedup(df: DataFrame, cols: Sequence[str]) -> DataFrame:
    """GROUP BY every selected column with no aggregate — the reference's
    dedup idiom (A5, SQLQueries.sql:42,51). Semantically SELECT DISTINCT;
    Spark plans it as a hash aggregate with map-side partial combine, so
    at scale duplicates collapse before the shuffle."""
    return df.select(*cols).dropDuplicates(list(cols))


def having(df_agged: DataFrame, cond: Column) -> DataFrame:
    """HAVING ≡ filter after aggregation (A4, SQLQueries.sql:30)."""
    return df_agged.filter(cond)


def argmin_per_group(
    df: DataFrame,
    group_cols: Sequence[str],
    order_cols: Sequence[Column | str],
) -> DataFrame:
    """Deterministic first-per-group (A9, NoSQLQueries.js:49-50).

    The reference relies on Mongo's ``$sort`` + ``$group $first`` stage
    ordering; Spark's ``first()`` after ``orderBy`` is NOT deterministic
    across partitionings (SURVEY.md §7.4.2), so we use a rank window with
    an explicit total order (callers must include a tie-break column).

    Scale: the window shuffles once on ``group_cols`` — same cost as the
    groupBy the reference's ``$group`` implies; no extra pass.
    """
    w = Window.partitionBy(*group_cols).orderBy(*order_cols)
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def above_group_average(
    df: DataFrame,
    group_cols: Sequence[str],
    metrics: Sequence[str],
) -> DataFrame:
    """Keep rows where EVERY metric exceeds its group average (W1).

    The reference expresses this as $group + $push + $filter against
    group-level scalars (NoSQLQueries.js:35-47); the Spark-idiomatic plan
    is an average over a partition window followed by a row-level filter —
    one shuffle, no array materialization per group (a group with millions
    of members would OOM the $push approach at 100 TB)."""
    w = Window.partitionBy(*group_cols)
    out = df
    cond = F.lit(True)
    for m in metrics:
        out = out.withColumn(f"__avg_{m}", F.avg(m).over(w))
        cond = cond & (F.col(m) > F.col(f"__avg_{m}"))
    return out.filter(cond).drop(*[f"__avg_{m}" for m in metrics])


def topk(df: DataFrame, order_cols: Sequence[Column | str], k: int) -> DataFrame:
    """Sort + limit (O4, NoSQLQueries.js:11-12). Spark fuses this into
    TakeOrderedAndProject: each partition keeps only k rows, so no full
    sort and no single-node materialization at scale."""
    return df.orderBy(*order_cols).limit(k)


def salted_join(
    left: DataFrame,
    right: DataFrame,
    left_key: str,
    right_key: str,
    n_salts: int = 8,
    how: str = "inner",
) -> DataFrame:
    """Skew-mitigating equi-join: when one join key value carries a large
    share of the left side, a plain key-hash shuffle lands that key on one
    reducer. Salting splits it: the left side gets a deterministic row
    salt (hash of all columns, mod ``n_salts``), the right side is
    replicated once per salt, and the join runs on (key, salt) — the hot
    key spreads across ``n_salts`` reducers. For inner and left joins the
    result is identical to the plain join for any salt assignment, so the
    oracle is the plain SQL join. Right/full-outer joins are rejected:
    each unmatched right *replica* would emit its own null-extended row
    (``n_salts`` duplicates), so salting cannot express them — mitigate
    right-side-preserving skew with AQE skew-join instead.

    Use when AQE's runtime skew split is unavailable (e.g. the skewed
    side feeds a window) or the skew is known ahead of time; cost is
    ``n_salts`` x the (small) right side's shuffle volume.
    """
    if how.lower() not in {"inner", "left", "left_outer", "leftouter"}:
        raise ValueError(
            f"salted_join supports inner/left, not {how!r}: replicated "
            "unmatched right rows would duplicate null-extended output"
        )
    lsalt = F.pmod(F.xxhash64(*[F.col(c) for c in left.columns]), F.lit(n_salts))
    l = left.withColumn("__salt", lsalt)
    r = right.withColumn("__salt", F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1))))
    joined = l.join(
        r, (l[left_key] == r[right_key]) & (l["__salt"] == r["__salt"]), how
    )
    return joined.drop(l["__salt"]).drop(r["__salt"])


def as_of_join(
    left: DataFrame,
    right: DataFrame,
    on: Sequence[str],
    left_ts: str,
    right_ts: str,
    right_cols: Sequence[str],
    tiebreak: str | None = None,
    tolerance_seconds: int | None = None,
) -> DataFrame:
    """As-of (point-in-time) join: for every left row, attach the right
    row with the greatest ``right_ts <= left_ts`` within the same ``on``
    key — e.g. "price as of the trade time", "last purchase before this
    click". Left rows with no prior right row get NULLs (left-outer
    semantics). ``tolerance_seconds`` bounds staleness: a match older
    than the bound is treated as no match (all NULLs) — "use the last
    quote, but never one more than an hour old". Spark has no built-in
    ASOF join; the scalable shape is union + ordered window, NOT a
    range self-join:

      1. union the two inputs with a source tag (right rows sort before
         left rows at equal timestamps, so "at or before" includes ties);
      2. one window per key ordered by (ts, tag): ``last(payload,
         ignorenulls=True)`` carries the most recent right row forward —
         the payload is a single STRUCT of all ``right_cols``, so every
         attached column comes from the SAME right row (forward-filling
         each column independently would stitch together a composite row
         that never existed whenever the latest right row holds a NULL
         in one payload column);
      3. keep only left rows and unpack the struct.

    Cost: ONE shuffle on the key — same as any join — and state per row
    is O(1), vs. the O(rows_left x rows_right) blow-up of the naive
    range-join + argmax formulation. Skewed keys split fine under AQE
    because the window partitions by the same key.

    ``right_cols`` are attached as-is and must not collide with left
    column names; ``tiebreak`` (a right column, e.g. an event id) makes
    the winner among equal right timestamps deterministic.
    """
    on = list(on)
    overlap = set(right_cols) & set(left.columns)
    if overlap:
        raise ValueError(f"right_cols collide with left columns: {sorted(overlap)}")
    lpay = [c for c in left.columns if c not in on and c != left_ts]
    # The carried payload includes the right row's own timestamp so a
    # staleness bound can be applied AFTER the forward fill (the window
    # itself always carries the latest row; tolerance is a filter on it).
    rpay_type = T.StructType(
        [right.schema[c] for c in right_cols]
        + [T.StructField("__rts", right.schema[right_ts].dataType)]
    )
    lt = left.select(
        *on,
        F.col(left_ts).alias("__ts"),
        F.lit(1).alias("__src"),
        F.lit(None).cast("long").alias("__tie"),
        *lpay,
        F.lit(None).cast(rpay_type).alias("__rpay"),
    )
    rt = right.select(
        *on,
        F.col(right_ts).alias("__ts"),
        F.lit(0).alias("__src"),
        (F.col(tiebreak).cast("long") if tiebreak else F.lit(0).cast("long")).alias("__tie"),
        *[F.lit(None).cast(left.schema[c].dataType).alias(c) for c in lpay],
        F.struct(*right_cols, F.col(right_ts).alias("__rts")).alias("__rpay"),
    )
    w = (
        Window.partitionBy(*on)
        .orderBy(F.asc("__ts"), F.asc("__src"), F.asc_nulls_last("__tie"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    carried = lt.unionByName(rt).select(
        *on,
        "__ts",
        "__src",
        *lpay,
        F.last("__rpay", ignorenulls=True).over(w).alias("__rpay"),
    )
    if tolerance_seconds is not None:
        # Full-precision timestamp comparison (µs), matching how any SQL
        # engine would evaluate r_ts >= l_ts - INTERVAL tolerance.
        fresh = F.col("__rpay")["__rts"] >= (
            F.col("__ts") - F.expr(f"INTERVAL {int(tolerance_seconds)} SECONDS")
        )
        carried = carried.withColumn(
            "__rpay", F.when(fresh, F.col("__rpay"))
        )
    return carried.where(F.col("__src") == 1).select(
        *on,
        F.col("__ts").alias(left_ts),
        *lpay,
        *[F.col("__rpay")[c].alias(c) for c in right_cols],
    )


def binned_range_join(
    points: DataFrame,
    intervals: DataFrame,
    point_col: str,
    lo_col: str,
    hi_col: str,
    bin_width: float,
) -> DataFrame:
    """Range (point-in-interval) join between two BIG sides as an
    EQUI-join: bin the value axis into fixed-width buckets, tag each
    point with its single bucket, explode each interval into every
    bucket it overlaps, join on bucket equality, then re-check the exact
    predicate ``lo <= point < hi``.

    Why: Spark plans a raw inequality join as BroadcastNestedLoopJoin
    (fine only when one side fits in memory — see the j11 band-lookup
    shape) or a cartesian product (never fine). Binning turns it into a
    plain shuffled hash/sort-merge join: each side shuffles ONCE on the
    bucket id, work is Σ(points_in_bucket × intervals_overlapping it) —
    the 100 TB shape, and value-skewed hot buckets split under AQE
    skew-join like any other equi-key. Each qualifying pair appears
    exactly once because a point lives in exactly one bucket — no
    post-join dedup.

    ``bin_width`` tunes replication: intervals are replicated
    ``ceil(span/bin_width)+1`` times, so pick it near the typical
    interval span (replication ≈ 2×) — far smaller wins nothing, far
    larger co-buckets unrelated rows. Inner semantics; compose with a
    left-anti on the interval keys for the unmatched side.
    """
    w = float(bin_width)
    pb = points.withColumn("__bin", F.floor(F.col(point_col) / w).cast("long"))
    ib = intervals.withColumn(
        "__bin",
        F.explode(
            F.sequence(
                F.floor(F.col(lo_col) / w).cast("long"),
                F.floor(F.col(hi_col) / w).cast("long"),
            )
        ),
    )
    exact = (F.col(point_col) >= F.col(lo_col)) & (F.col(point_col) < F.col(hi_col))
    return pb.join(ib, "__bin").where(exact).drop("__bin")


def sessionize(
    df: DataFrame,
    key_cols: Sequence[str],
    ts_col: str,
    gap_seconds: int,
    tiebreak: str | None = None,
) -> DataFrame:
    """Gap-based sessionization via window functions (the classic SQL
    islands pattern): a new session starts whenever the gap to the
    previous event of the same key exceeds ``gap_seconds``; the running
    sum of those boundary flags numbers the sessions 1..k per key.

    This is the batch analog of ``F.session_window`` (streaming/windows
    .py) but additionally yields a stable per-key ``session_seq``, which
    session_window does not expose. One shuffle (partitionBy key) serves
    both window passes and the downstream per-session aggregation.

    ``tiebreak`` orders simultaneous events deterministically.
    """
    order = [F.asc(ts_col)] + ([F.asc(tiebreak)] if tiebreak else [])
    w = Window.partitionBy(*key_cols).orderBy(*order)
    prev = F.lag(F.unix_timestamp(F.col(ts_col))).over(w)
    gap = F.unix_timestamp(F.col(ts_col)) - prev
    boundary = F.when(prev.isNull() | (gap > gap_seconds), 1).otherwise(0)
    running = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return df.withColumn("session_seq", F.sum(boundary).over(running))


def resample_ffill(
    df: DataFrame,
    key: str,
    ts_col: str,
    value_col: str,
    tiebreak: str,
) -> DataFrame:
    """Hourly resample + forward fill: one row per (key, hour) over the
    global observed span, carrying the last observation per key forward
    across empty hours (null before a key's first observation).

    Scale shape: the per-(key,hour) last-observation rank and the
    forward-fill window both partition by key, so ONE hash shuffle of the
    observations serves every step; the dense grid is generated by
    ``sequence`` + explode on a distinct-keys frame (rows = keys × hours,
    never materialized on the driver), and the grid↔observation join is
    on the same key partitioning. The classic time-series densification
    Spark lacks as a built-in.
    """
    hour = F.date_trunc("hour", F.col(ts_col))
    w_last = Window.partitionBy(key, "hour").orderBy(
        F.desc(ts_col), F.desc(tiebreak)
    )
    obs = (
        df.select(key, hour.alias("hour"), F.col(ts_col), F.col(value_col), F.col(tiebreak))
        .withColumn("rn", F.row_number().over(w_last))
        .where(F.col("rn") == 1)
        .select(key, "hour", F.col(value_col).alias("__obs"))
    )
    bounds = df.agg(
        F.date_trunc("hour", F.min(ts_col)).alias("h0"),
        F.date_trunc("hour", F.max(ts_col)).alias("h1"),
    )
    grid = (
        df.select(key)
        .distinct()
        .crossJoin(F.broadcast(bounds))
        .select(
            key,
            F.explode(F.sequence("h0", "h1", F.expr("INTERVAL 1 HOUR"))).alias("hour"),
        )
    )
    w_fill = (
        Window.partitionBy(key)
        .orderBy("hour")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        grid.join(obs, [key, "hour"], "left")
        .select(
            key,
            "hour",
            F.last("__obs", ignorenulls=True).over(w_fill).alias("value_ffill"),
        )
    )


def skyline_2d(df: DataFrame, x: str, y: str) -> DataFrame:
    """Pareto-optimal (skyline) set over two minimize-dimensions.

    A point p is on the skyline iff no other point q has q.x <= p.x AND
    q.y <= p.y with at least one strict inequality — the classic "cheapest
    AND smallest" multi-criteria pick (Börzsönyi et al., ICDE 2001). The
    naive formulation is the O(n²) NOT EXISTS anti-join; at 100 TB that is
    a self cross join and dead on arrival.

    Distributed shape (exact, two passes):
      1. distinct (x, y) — duplicates are mutually non-dominating noise
         and one hash aggregate removes them (after dedup "dominates"
         simplifies to: earlier in (x ASC, y ASC) order with y <= p.y);
      2. LOCAL prune: per input partition, sort by (x ASC, y ASC) and keep
         rows whose y is strictly below the running minimum — each
         partition's skyline. Dominance is transitive, so a point dominated
         in ANY subset is dominated globally: pruning is sound regardless
         of how rows landed in partitions, and the result is independent
         of the partitioning even though spark_partition_id() itself is not
         deterministic.
      3. GLOBAL pass: the same running-minimum scan over the union of the
         (small) local skylines — a single-partition window, but only over
         the pruned set, which is the fundamental skyline trade: the final
         merge touches candidate points only.

    The running-minimum formulation works ONLY in 2-D (the skyline of a
    sorted sequence is a monotone staircase); d>2 needs the
    block-nested-loops generalization and is out of scope here.
    """
    xc, yc = F.col(x), F.col(y)
    pts = df.select(xc.alias(x), yc.alias(y)).dropDuplicates()

    def prune(frame: DataFrame, part_cols: list[Column]) -> DataFrame:
        w = (
            Window.partitionBy(*part_cols)
            .orderBy(xc.asc(), yc.asc())
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        rm = F.min(yc).over(w)
        return (
            frame.withColumn("__rm", rm)
            .where(F.col("__rm").isNull() | (yc < F.col("__rm")))
            .drop("__rm")
        )

    local = prune(pts, [F.spark_partition_id()])
    return prune(local, [])
