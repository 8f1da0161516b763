"""Streaming replay for the traced run: the ``streaming`` and
``sources.sinks`` layers.

The first ``DAYS`` days of the generated ``events`` table are cut into
time-ordered files, which
``streaming.windows.run_continuous_aggregate`` reads one file per
micro-batch (``availableNow``) and writes through
``sources.sinks.upsert_partitions``. The per-layer values come from
``StreamingQuery.recentProgress``, the SQL status store's write metrics
and the app's job list. The final table is checked against the batch
``tumbling_counts(minutes=60)`` over the same files.
"""

from __future__ import annotations

import os
import random
from pathlib import Path

DAYS = 4  # every hour of every day is one partition of the sink
FILES = 4  # micro-batches with data
MINUTES = 60
# SQL write-command metric name -> per-layer metric it feeds
WRITE_METRICS = {"number of written files": "sink.files_written",
                 "written output": "sink.bytes_written"}


def split_events(data_dir: Path, out_dir: Path, seed: int) -> int:
    """Cut the first ``DAYS`` days of ``events`` into ``FILES`` parquet
    files, at cut points drawn from ``seed``, with increasing mtimes so the
    file source reads them in event-time order. Returns the bytes written."""
    import datetime as dt

    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    events = pq.read_table(data_dir / "events.parquet").sort_by("ts")
    end = pc.min(events["ts"]).as_py() + dt.timedelta(days=DAYS)
    events = events.filter(pc.less(events["ts"], end))
    n, rng = events.num_rows, random.Random(f"replay/{seed}")
    cuts = [0] + [int(n * (i + rng.uniform(-0.25, 0.25)) / FILES) for i in range(1, FILES)] + [n]
    out_dir.mkdir(parents=True)
    size, mtime = 0, 1_700_000_000
    for i in range(FILES):
        path = out_dir / f"part-{i}.parquet"
        pq.write_table(events.slice(cuts[i], cuts[i + 1] - cuts[i]), path)
        os.utime(path, (mtime + 10 * i, mtime + 10 * i))
        size += path.stat().st_size
    return size


def _job_ids(sc) -> set[int]:
    jobs = sc._jsc.sc().statusStore().jobsList(sc._gateway.jvm.java.util.ArrayList())
    return {jobs.apply(i).jobId() for i in range(jobs.size())}


def replay(spark, data_dir: Path, work_dir: Path, seed: int) -> tuple[dict, list[dict]]:
    """Run the replay; return its per-layer metrics and one op per
    micro-batch, each marked correct when the final table matches."""
    import layers
    from check import digest
    from pyspark.sql import functions as F

    from bigdatacw1_spark.sources.catalog import TABLES
    from bigdatacw1_spark.streaming.windows import run_continuous_aggregate, tumbling_counts

    sc = spark.sparkContext
    in_dir, out_dir = work_dir / "events-in", work_dir / "cagg"
    in_bytes = split_events(data_dir, in_dir, seed)
    layers.drain(sc)
    jobs_before, first_exec = _job_ids(sc), layers.last_execution_id(spark)
    query = run_continuous_aggregate(spark, str(in_dir), str(out_dir), minutes=MINUTES)
    try:
        finished = query.awaitTermination(150)
        error = query.exception()
    finally:
        if query.isActive:
            query.stop()
    progress = query.recentProgress
    layers.drain(sc)
    jobs = len(_job_ids(sc) - jobs_before)
    written = layers.sql_metrics_since(spark, first_exec, WRITE_METRICS)

    ok = bool(finished) and error is None
    if ok:
        static = (spark.read.schema(TABLES["events"]).parquet(str(in_dir))
                  .withColumn("ts", F.col("ts").cast("timestamp")))
        want = tumbling_counts(static, MINUTES)
        got = spark.read.parquet(str(out_dir)).select(*want.columns)
        ok = digest(got.columns, got.collect()) == digest(want.columns, want.collect())

    def total_s(key: str) -> float:
        return sum(p.durationMs.get(key, 0) for p in progress) / 1e3

    state = progress[-1].stateOperators[0] if progress and progress[-1].stateOperators else None
    batches = len(progress)
    metrics = {
        "stream.batches": float(batches),
        "stream.trigger_s": total_s("triggerExecution"),
        "stream.add_batch_s": total_s("addBatch"),
        "stream.planning_s": total_s("queryPlanning"),
        "stream.wal_commit_s": total_s("walCommit"),
        "stream.jobs_per_batch": jobs / batches if batches else 0.0,
        "stream.state_rows": float(state.numRowsTotal) if state else 0.0,
        "stream.state_bytes": float(state.memoryUsedBytes) if state else 0.0,
        **written,
        "sink.bytes_per_input_byte": written["sink.bytes_written"] / in_bytes,
    }
    ops = [{"name": "stream_batch", "batch": p.batchId, "rows": p.numInputRows,
            "latency_s": p.durationMs.get("triggerExecution", 0) / 1e3, "ok": ok}
           for p in progress]
    if not ops:
        ops = [{"name": "stream_batch", "latency_s": 0.0, "ok": False, "error": repr(error)[:300]}]
    return metrics, ops
