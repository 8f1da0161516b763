#!/usr/bin/env python3
"""End-to-end benchmark of the spark-graft engine.

One closed-loop client runs one workload in one process on
``local[<cpus>]`` over sf0.1 tables made by datagen.py:

  headline_sf01  the 11 ``headline=True`` registry entries
  python_udf     seven entries whose plans cross into Python workers

An op is one registry query, timed from the ``spec.fn`` call to the end of
``collect()`` and checked against the value hash of the entry's DuckDB
oracle. A pass runs every entry of the workload once, in one order drawn
from ``--seed`` and kept for every pass of the run, the warm-up pass
included. ``--seconds`` fixes the number of whole passes, so every run of
a workload times the same ops. The last stdout line is one JSON
object; the line before it is the run's full record (environment, host
noise, set-up phases, every op). ``--trace 1`` reports the per-layer
metrics of one traced pass and a streaming replay instead (see README.md).

    python3 perfbench/run.py --workload headline_sf01 --seed 1 --seconds 15 --trace 0
    python3 perfbench/run.py --workload all --seed 1    # table of every workload
"""

from __future__ import annotations

import argparse
import hashlib
import json
import math
import os
import random
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

T_START = time.perf_counter()
HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

SF = 0.1
DATA_SEED = 42  # the tables are fixed; --seed draws the pass order
SETUPS = 3  # set-ups per run; setup_s takes their median
PYTHON_UDF = [
    "ext_compression_ratio", "ext_mm_features", "ext_mm_decode", "ext_mm_resize",
    "ext_mm_audio", "ext_mm_spectral", "ev_stateful_user_totals",
]
# Steady pass time on 4 CPUs; a run times ceil(--seconds / PASS_S) passes.
PASS_S = {"headline_sf01": 13.0, "python_udf": 7.5}
WORKLOADS = tuple(PASS_S)


def metric_units() -> tuple[dict, dict]:
    """Units of the end-to-end and per-layer metrics, by name, as
    BENCHMARK.json declares them."""
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


def import_engine():
    """Import the engine from this checkout, or stop without a result."""
    sys.path.insert(0, str(ROOT))
    try:
        import bigdatacw1_spark
    except ImportError as e:
        sys.exit(f"perfbench: the engine is not in {ROOT}: {e}")
    if Path(bigdatacw1_spark.__file__).resolve().parent.parent != ROOT:
        sys.exit(f"perfbench: imported the engine from {bigdatacw1_spark.__file__}, not {ROOT}")


def pin_env(run_dir: Path) -> dict:
    """Pin what the engine reads from the environment; return the pins."""
    for k in ("SPARK_GRAFT_MASTER", "SPARK_GRAFT_SHUFFLE_PARTITIONS", "SPARK_GRAFT_DRIVER_MEM"):
        os.environ.pop(k, None)
    for d in ("spark-local", "tmp"):
        (run_dir / d).mkdir(parents=True)
    pins = {
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_LOCAL_DIRS": str(run_dir / "spark-local"),
        # Spark's Python workers import the engine too.
        "PYTHONPATH": os.pathsep.join(filter(None, [str(ROOT), os.environ.get("PYTHONPATH")])),
        "PYSPARK_PYTHON": sys.executable,
        "TMPDIR": str(run_dir / "tmp"),
        "TZ": "UTC",
    }
    os.environ.update(pins)
    time.tzset()
    return pins


def cpu_times() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def steal_share(before: list[int], after: list[int]) -> float:
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if sum(d) else 0.0


def spin_s() -> float:
    """Best of 3 timings of a fixed CPython loop: the host's speed right now.
    Neighbours on a shared host can slow every op by a third without any
    steal showing; this probe shows it in the record."""
    best = float("inf")
    for _ in range(3):
        t0 = time.perf_counter()
        acc = 0
        for i in range(1_000_000):
            acc += i
        best = min(best, time.perf_counter() - t0)
    return best


def quartiles(xs: list[float]) -> tuple[float, float]:
    """Median and 75th percentile (inclusive method)."""
    q = statistics.quantiles(xs, n=4, method="inclusive")
    return q[1], q[2]


class Session:
    """Set-ups of the engine's session, each timed by layer."""

    def __init__(self, run_dir: Path, data_dir: Path):
        self.data_dir = str(data_dir)
        self.conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": str(run_dir / "warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={run_dir / 'tmp'}",
        }
        self.spark = None
        self.start_s: list[float] = []
        self.register_s: list[float] = []

    def set_up(self) -> None:
        from bigdatacw1_spark.session import get_spark
        from bigdatacw1_spark.sources.catalog import register_views

        if self.spark is not None:
            self.spark.stop()
        t0 = time.perf_counter()
        self.spark = get_spark(app_name="perfbench", extra_conf=self.conf)
        self.spark.sparkContext.setLogLevel("ERROR")
        t1 = time.perf_counter()
        register_views(self.spark, self.data_dir)
        t2 = time.perf_counter()
        self.start_s.append(t1 - t0)
        self.register_s.append(t2 - t1)

    def median_s(self) -> float:
        return statistics.median(a + b for a, b in zip(self.start_s, self.register_s))

    def close(self) -> None:
        """Stop Spark and wait for its JVM to exit."""
        from pyspark import SparkContext

        if self.spark is None:
            return
        self.spark.stop()
        gateway = SparkContext._gateway
        proc = getattr(gateway, "proc", None)
        if gateway is not None:
            gateway.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


class Queries:
    """A workload of registry queries, one pass = each entry once.

    Every pass of a run keeps the order drawn from the seed. Spark caches
    the classes it generates for each plan, and a pass needs more of them
    than the cache holds, so how many are compiled again depends on the
    order of the previous pass. With a fresh order per pass that count,
    and with it each pass's time, would vary with the order; a repeated
    order recompiles the same classes every pass."""

    def __init__(self, names: list[str], seed: int):
        self.names = names
        self.order = random.Random(f"order/{seed}").sample(names, len(names))
        self.expected: dict[str, str] = {}
        self.warm_s = 0.0

    def prepare(self, data_dir: Path) -> None:
        """Load each entry's oracle hash, computing the ones whose oracle SQL
        is not yet cached beside the data."""
        from check import oracle_digests

        from bigdatacw1_spark.queries import REGISTRY
        from bigdatacw1_spark.sources.catalog import TABLES

        cache_file = data_dir / "oracle.json"
        cache = json.loads(cache_file.read_text()) if cache_file.exists() else {}
        missing = {n: REGISTRY[n].oracle for n in self.names
                   if cache.get(n, {}).get("sql") != REGISTRY[n].oracle}
        if missing:
            for n, h in oracle_digests(str(data_dir), missing, TABLES).items():
                cache[n] = {"sql": missing[n], "digest": h}
            tmp = cache_file.with_suffix(f".{os.getpid()}")
            tmp.write_text(json.dumps(cache))
            tmp.replace(cache_file)
        self.expected = {n: cache[n]["digest"] for n in self.names}

    def op(self, spark, data_dir: Path, name: str, tag: str | None = None) -> dict:
        """Run one query; ``tag`` puts build and execution in job groups
        ``build/<tag>`` and ``exec/<tag>`` and forces the plan on its own."""
        from check import digest

        from bigdatacw1_spark.queries import REGISTRY

        sc = spark.sparkContext
        rec = {"name": name}
        t0 = time.perf_counter()
        try:
            if tag:
                sc.setJobGroup(f"build/{tag}", name)
            df = REGISTRY[name].fn(spark, str(data_dir))
            t1 = time.perf_counter()
            if tag:
                sc.setJobGroup(f"exec/{tag}", name)
                df._jdf.queryExecution().executedPlan()
            t2 = time.perf_counter()
            rows = df.collect()
            t3 = time.perf_counter()
        except Exception as e:  # a failed op is counted, not fatal
            rec.update(latency_s=time.perf_counter() - t0, ok=False, error=repr(e)[:300])
            return rec
        finally:
            if tag:
                sc._jsc.clearJobGroup()
        rec.update(latency_s=t3 - t0, build_s=t1 - t0, plan_s=t2 - t1, exec_s=t3 - t2,
                   rows=len(rows), ok=digest(df.columns, rows) == self.expected[name])
        return rec

    def warm_up(self, spark, data_dir: Path) -> None:
        """One untimed pass; its time is part of ``setup_s``."""
        t0 = time.perf_counter()
        for name in self.order:
            self.op(spark, data_dir, name)
        self.warm_s = time.perf_counter() - t0

    def timed(self, spark, data_dir: Path, passes: int) -> list[dict]:
        return [self.op(spark, data_dir, name) for _ in range(passes) for name in self.order]

    def traced(self, spark, data_dir: Path, units: dict) -> tuple[dict, list[dict]]:
        """One untraced and one traced pass in the same order; the traced
        pass's layer metrics and the overhead between the two."""
        import layers

        sc = spark.sparkContext
        order = self.order
        plain = [self.op(spark, data_dir, n) for n in order]
        layers.drain(sc)
        first_exec = layers.last_execution_id(spark)
        compiles_before = layers.compile_counters(spark)
        ops = [self.op(spark, data_dir, n, tag=str(i)) for i, n in enumerate(order)]
        compiles = {k: v - compiles_before[k] for k, v in layers.compile_counters(spark).items()}
        layers.drain(sc)
        tracker = sc.statusTracker()
        build_jobs = [j for i in range(len(order)) for j in tracker.getJobIdsForGroup(f"build/{i}")]
        exec_jobs = [j for i in range(len(order)) for j in tracker.getJobIdsForGroup(f"exec/{i}")]
        m = dict.fromkeys(units, 0.0)
        m.update(layers.stage_metrics(sc, exec_jobs))
        m.update(layers.sql_metrics_since(spark, first_exec))
        m.update(compiles)
        n_jobs = len(build_jobs) + len(exec_jobs)
        m.update({
            "build.s": sum(o.get("build_s", 0.0) for o in ops),
            "build.jobs": float(len(build_jobs)),
            "build.job_share": len(build_jobs) / n_jobs if n_jobs else 0.0,
            "plan.s": sum(o.get("plan_s", 0.0) for o in ops),
            "exec.s": sum(o.get("exec_s", 0.0) for o in ops),
            "exec.jobs": float(len(exec_jobs)),
            "result.rows": float(sum(o.get("rows", 0) for o in ops)),
            "trace.overhead_share": sum(o["latency_s"] for o in ops)
            / sum(o["latency_s"] for o in plain) - 1.0,
        })
        return m, plain + ops


def make_workload(name: str, seed: int) -> Queries:
    from bigdatacw1_spark.queries import REGISTRY

    names = (sorted(n for n, s in REGISTRY.items() if s.headline)
             if name == "headline_sf01" else PYTHON_UDF)
    return Queries(names, seed)


def versions(spark) -> dict:
    import pyspark

    return {
        "python": sys.version.split()[0],
        "pyspark": pyspark.__version__,
        "spark": spark.version,
        "java": spark.sparkContext._jvm.java.lang.System.getProperty("java.version"),
    }


def dataset() -> Path:
    """The generated tables, made once per checkout and generator version."""
    import datagen

    version = hashlib.sha256((HERE / "datagen.py").read_bytes()).hexdigest()[:12]
    data_dir = HERE / ".work" / f"data-sf{SF}-seed{DATA_SEED}-{version}"
    if not (data_dir / "region.parquet").exists():
        tmp = data_dir.with_name(f"{data_dir.name}.{os.getpid()}")
        datagen.generate(str(tmp), DATA_SEED, SF)
        tmp.rename(data_dir)
    return data_dir


def run(args) -> int:
    e2e_units, layer_units = metric_units()
    import_engine()
    run_dir = HERE / ".work" / f"run-{os.getpid()}"
    shutil.rmtree(run_dir, ignore_errors=True)
    pins = pin_env(run_dir)
    load_before, cpu_before, spin_before = os.getloadavg()[0], cpu_times(), spin_s()
    phases, last = {}, [T_START]

    def phase(name: str) -> None:
        now = time.perf_counter()
        phases[name] = now - last[0]
        last[0] = now

    data_dir = dataset()
    phase("start_s")  # imports, host probes and the generated tables
    session = Session(run_dir, data_dir)
    try:
        wl = make_workload(args.workload, args.seed)
        wl.prepare(data_dir)  # oracle answers come before set-up, untimed
        phase("prepare_s")
        for _ in range(SETUPS):
            session.set_up()
        spark = session.spark
        phase("set_ups_s")
        wl.warm_up(spark, data_dir)
        phase("warm_up_s")
        if args.trace:
            import replay

            metrics, ops = wl.traced(spark, data_dir, layer_units)
            metrics["session.start_s"] = statistics.median(session.start_s)
            metrics["catalog.register_s"] = statistics.median(session.register_s)
            stream_metrics, stream_ops = replay.replay(spark, data_dir, run_dir / "replay", args.seed)
            metrics.update(stream_metrics)
            ops += stream_ops
            units = layer_units
        else:
            passes = math.ceil(args.seconds / PASS_S[args.workload])
            ops = wl.timed(spark, data_dir, passes)
            latency = [o["latency_s"] for o in ops]
            p50, p75 = quartiles(latency)
            metrics = {"setup_s": session.median_s() + wl.warm_s,
                       "throughput_per_s": len(latency) / sum(latency),
                       "latency_p50_s": p50, "latency_p75_s": p75}
            units = e2e_units
        env = versions(spark)
        phase("measure_s")
    finally:
        session.close()
        shutil.rmtree(run_dir, ignore_errors=True)
    phase("close_s")
    failed = sum(not o["ok"] for o in ops)
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "sf": SF, "env": {**env, **pins},
        "host": {"load1_before": load_before, "load1_after": os.getloadavg()[0],
                 "steal_share": steal_share(cpu_before, cpu_times()),
                 "spin_s_before": spin_before, "spin_s_after": spin_s()},
        "set_ups": {"session_start_s": session.start_s, "catalog_register_s": session.register_s},
        "phases": phases,
        "error_share": {"value": failed / len(ops), "unit": "share"},
        "ops": ops,
    }
    print(json.dumps({"record": record}, default=str))
    print(json.dumps({
        "correct": failed == 0, "attempted": len(ops), "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()},
    }))
    return 0


def run_all(args) -> int:
    """Run every workload in its own process and print one table."""
    print(f"{'workload':<15}" + "".join(f"{k:>20}" for k in (*metric_units()[0], "error_share")))
    for w in WORKLOADS:
        cmd = [sys.executable, __file__, "--workload", w, "--seed", str(args.seed),
               "--seconds", str(args.seconds), "--trace", "0"]
        lines = subprocess.run(cmd, check=True, capture_output=True, text=True).stdout.splitlines()
        rec, res = json.loads(lines[-2])["record"], json.loads(lines[-1])
        cells = [f"{m['value']:.4g} {m['unit']}" for m in res["metrics"].values()]
        cells.append(f"{rec['error_share']['value']:.4g} share")
        print(f"{w:<15}" + "".join(f"{c:>20}" for c in cells), flush=True)
    return 0


def main() -> int:
    ap = argparse.ArgumentParser(description="spark-graft end-to-end benchmark")
    ap.add_argument("--workload", required=True, choices=(*WORKLOADS, "all"))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=15.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    return run_all(args) if args.workload == "all" else run(args)


if __name__ == "__main__":
    sys.exit(main())
