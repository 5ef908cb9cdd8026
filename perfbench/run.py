"""Benchmark of the betfair_database_spark product path.

Run from the root of a checkout:

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 8 --trace 0

Workloads (see workloads.py): ``ingest`` (the write path) and ``query``
(the read path). ``--trace 0`` measures and prints every end-to-end metric;
``--trace 1`` is a separate run that records spans around the package's
functions, turns Spark's event log on, and prints the per-layer metrics.
Every answer is checked against the generated corpus's manifest; a wrong
answer or an exception counts as a failed operation.

The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}``.
The line before it, prefixed ``perfbench-detail``, holds percentiles with
sample counts, host context, errors, and (traced runs) the tracing overhead
against the last untraced run of the same workload and seed. Both are also
written under ``.perfbench/results/``; work files live under
``.perfbench/work/`` and are removed when the run ends.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shlex
import shutil
import signal
import statistics
import sys
import time
from dataclasses import dataclass
from pathlib import Path

HERE = Path(__file__).resolve().parent

from proc import descendants  # noqa: E402  (HERE is on sys.path as the script's directory)
from spans import OWN_JOBS  # noqa: E402
SELECT_KINDS = ("readme", "point", "range", "dialect", "rollup", "scan", "size")


@dataclass
class Context:
    workload: str
    seed: int
    seconds: float
    trace: bool
    root: Path
    work: Path
    spark: object = None
    corpus: object = None
    corpus_bytes: int = 0


# ------------------------------------------------------------------ host


def cpu_stat() -> tuple[int, int] | None:
    """(steal ticks, total ticks) from /proc/stat."""
    try:
        with open("/proc/stat") as fh:
            vals = [int(v) for v in fh.readline().split()[1:]]
        return vals[7], sum(vals)
    except (OSError, ValueError, IndexError):
        return None


def host_sample() -> dict:
    out = {"cpus": len(os.sched_getaffinity(0))}
    try:
        out["load_avg"] = [round(x, 2) for x in os.getloadavg()]
    except OSError:
        pass
    out["_stat"] = cpu_stat()
    return out


def steal_pct(a, b) -> float | None:
    if not (a and b and b[1] > a[1]):
        return None
    return round(100.0 * (b[0] - a[0]) / (b[1] - a[1]), 3)


def peak_rss_mb() -> tuple[float, dict]:
    """Sum of peak resident sizes over this process and its descendants,
    and the same sums per process name (``driver`` for this process)."""
    by_name: dict[str, float] = {}
    for pid in [os.getpid()] + descendants():
        try:
            with open(f"/proc/{pid}/status") as fh:
                fields = dict(line.split(":", 1) for line in fh if ":" in line)
        except OSError:
            continue
        name = "driver" if pid == os.getpid() else fields["Name"].strip()
        hwm_mb = int(fields.get("VmHWM", "0 kB").split()[0]) / 1024.0
        by_name[name] = by_name.get(name, 0.0) + hwm_mb
    return sum(by_name.values()), by_name


# ----------------------------------------------------------------- stats


def pct(values: list[float], q: float) -> float:
    """Nearest-rank percentile."""
    s = sorted(values)
    return s[min(len(s) - 1, max(0, int(q * len(s) + 0.5) - 1))]


def timing_summary(values: list[float]) -> dict:
    """Median, plus the highest whole percentile above it that has at least
    10 samples beyond it (none below 21 samples)."""
    n = len(values)
    out = {"n": n, "p50": statistics.median(values) if values else None}
    q = math.floor(100 * (1 - 10 / n)) if n else 0
    if q > 50:
        out[f"p{q}"] = pct(values, q / 100)
    return out


# -------------------------------------------------------------- spark env


def spark_env(ctx: Context) -> None:
    """Per-run scratch, stats and event-log locations, set before the JVM
    starts: nothing is written outside the run's work directory."""
    tmp = ctx.work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(tmp)
    os.environ["SPARK_LOCAL_DIRS"] = str(ctx.work / "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    conf = {
        "spark.bfdb.dispatch.statsDir": str(ctx.work / "stats"),
        "spark.sql.warehouse.dir": str(ctx.work / "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    if ctx.trace:
        (ctx.work / "eventlog").mkdir()
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = f"file://{ctx.work / 'eventlog'}"
        conf["spark.eventLog.compress"] = "false"
        conf["spark.eventLog.rolling.enabled"] = "false"
    args = [a for k, v in conf.items() for a in ("--conf", f"{k}={v}")]
    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])


def warm_up(spark) -> None:
    """One trivial job, so the first timed call does not pay for the
    scheduler's first start."""
    spark.sparkContext.setJobDescription(OWN_JOBS)
    spark.range(1000).selectExpr("sum(id)").collect()
    spark.sparkContext.setJobDescription(None)


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait for it and the Python
    workers it started to exit."""
    from pyspark import SparkContext

    started = descendants()
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None
    deadline = time.monotonic() + 30
    while (alive := [p for p in started if os.path.exists(f"/proc/{p}")]) and time.monotonic() < deadline:
        time.sleep(0.1)
    for pid in alive:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass


# ---------------------------------------------------------------- metrics


# one write sequence: index and both rollups, and on ``ingest`` also the
# insert, clean and export
WRITES = ("index", "create_rollup", "insert", "clean", "export")


def end_to_end(led, setup_s: float) -> dict:
    """The bounded metrics: set-up wall time, stored bytes, and the CPU time
    the benchmark's process tree spent in each operation. CPU time leaves
    out waiting and other tenants' work: hypervisor steal on a shared 4-vCPU
    host moved the wall time of the same operation by 30-60% between runs,
    its CPU time far less. The wall-clock metrics are in ``wall_clock``."""
    c = led.cpu
    med = statistics.median
    selects = [x for k in SELECT_KINDS for x in c.get(k, [])]
    m = {
        "setup_s": (setup_s, "s"),
        "index_cpu_ms_per_market": (1000 * med(c["index"]) / led.extra["markets"], "ms"),
        "ingest_cpu_s": (sum(sum(c.get(k, [])) for k in WRITES) / len(c["index"]), "s"),
        "stored_bytes_per_input_byte": (med(led.extra["stored_ratio"]), "ratio"),
        "select_cpu_mean_ms": (1000 * statistics.mean(selects), "ms"),
    }
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


def wall_clock(led, rss_mb: float) -> dict:
    """What a user waits for and the memory the run holds, and the median
    CPU time of a select: reported in the detail line and by traced runs,
    but not bounded."""
    t = led.times
    med = statistics.median
    selects = [x for k in SELECT_KINDS for x in t.get(k, [])]
    cpu_selects = [x for k in SELECT_KINDS for x in led.cpu.get(k, [])]
    m = {
        "peak_rss_mb": (rss_mb, "MB"),
        "index_markets_per_s": (led.extra["markets"] / med(t["index"]), "1/s"),
        "ingest_s": (sum(sum(t.get(k, [])) for k in WRITES) / len(t["index"]), "s"),
        "select_p50_ms": (1000 * med(selects), "ms"),
        "select_qps": (len(selects) / sum(selects), "1/s"),
        # CPU time, but it falls between shapes whose costs differ
        # fourfold, and its spread between runs (0.15-0.27 of the median)
        # is too wide for a bound
        "select_cpu_p50_ms": (1000 * med(cpu_selects), "ms"),
    }
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


def timing_detail(led) -> dict:
    out = {k: timing_summary(v) for k, v in led.times.items()}
    out["select"] = timing_summary([x for k in SELECT_KINDS for x in led.times.get(k, [])])
    return out


# -------------------------------------------------------------------- run


def run(ctx: Context) -> dict:
    import workloads as W

    host0 = host_sample()
    t_prep = time.perf_counter()
    W.prepare(ctx)
    prepare_s = time.perf_counter() - t_prep

    spark_env(ctx)
    t0 = time.perf_counter()
    from betfair_database_spark.session import get_spark

    spark = ctx.spark = get_spark("perfbench")
    session_s = time.perf_counter() - t0
    detail: dict = {"workload": ctx.workload, "seed": ctx.seed, "trace": int(ctx.trace)}
    try:
        tracer = None
        if ctx.trace:
            import spans as T

            tracer = T.Tracer(spark)
            T.install(tracer)
        warm_up(spark)
        if ctx.workload == "query":
            led, db = W.query_setup(ctx)
            setup_s = time.perf_counter() - t0
            W.query(ctx, led, db)
        else:
            setup_s = time.perf_counter() - t0
            led = W.ingest(ctx)
        rss, detail["peak_rss_mb_by_process"] = peak_rss_mb()
        detail["state_left"] = state_left(spark, ctx)
        if tracer is not None:
            tracer.uninstall()
            tracer.count_kept()
    finally:
        t_stop = time.perf_counter()
        stop_spark(spark)
        detail["stop_s"] = time.perf_counter() - t_stop
    host1 = host_sample()

    metrics = end_to_end(led, setup_s)
    detail.update(
        {
            "prepare_s": prepare_s,
            "session_s": session_s,
            "failed_ops_ratio": led.failed / max(1, led.attempted),
            "errors": led.errors,
            "timings": timing_detail(led),
            "extra": {k: v for k, v in led.extra.items() if k != "routes"},
            "host": {
                "cpus": host0["cpus"],
                "load_avg_start": host0.get("load_avg"),
                "load_avg_end": host1.get("load_avg"),
                "steal_pct": steal_pct(host0["_stat"], host1["_stat"]),
            },
            "cpu_timings": {k: timing_summary(v) for k, v in led.cpu.items()},
            "end_to_end": metrics,
            "wall_clock": wall_clock(led, rss),
        }
    )
    if ctx.trace:
        import layers

        detail["layers"] = layers.per_layer(tracer, T.read_event_log(ctx.work / "eventlog"), led, detail)
        tracer.dump(ctx.root / ".perfbench" / "results" / f"{run_id(ctx)}.spans.json")
        metrics = {k: {"value": v[0], "unit": v[1]} for k, v in detail["layers"].items()}
        detail["trace_overhead"] = trace_overhead(ctx, detail)
    return {
        "correct": led.failed == 0,
        "attempted": led.attempted,
        "failed": led.failed,
        "metrics": metrics,
    }, detail


def state_left(spark, ctx: Context) -> dict:
    """Session and disk state the run leaves behind (reported, not cleared)."""
    cache = spark._jsparkSession.sharedState().cacheManager()
    stats = ctx.work / "stats"
    return {
        "cached_plans_left": 0 if cache.isEmpty() else 1,
        "sidecar_files": sum(1 for p in stats.rglob("*") if p.is_file()) if stats.exists() else 0,
    }


def run_id(ctx: Context) -> str:
    return f"{ctx.workload}-seed{ctx.seed}-trace{int(ctx.trace)}"


def trace_overhead(ctx: Context, traced: dict) -> dict:
    """Traced against the last untraced run of this workload and seed, on
    every end-to-end and wall-clock metric."""
    base = ctx.root / ".perfbench" / "results" / f"{ctx.workload}-seed{ctx.seed}-trace0.json"
    if not base.exists():
        return {"note": "no untraced run of this workload and seed to compare"}
    parts = ("end_to_end", "wall_clock")
    plain = json.loads(base.read_text())["detail"]
    before = {k: v["value"] for part in parts for k, v in plain[part].items()}
    return {
        k: v["value"] / before[k] - 1.0
        for part in parts
        for k, v in traced[part].items()
        if before.get(k)
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("ingest", "query"))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=8)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = Path.cwd()
    if not (root / "betfair_database_spark" / "__init__.py").is_file() or not (
        root / "tests" / "corpus.py"
    ).is_file():
        print("perfbench: run from the root of a repository checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, str(root))
    ctx = Context(args.workload, args.seed, args.seconds, bool(args.trace), root, None)
    ctx.work = root / ".perfbench" / "work" / f"{run_id(ctx)}-{os.getpid()}"
    results = root / ".perfbench" / "results"
    results.mkdir(parents=True, exist_ok=True)
    ctx.work.mkdir(parents=True)
    try:
        out, detail = run(ctx)
    finally:
        shutil.rmtree(ctx.work, ignore_errors=True)
    (results / f"{run_id(ctx)}.json").write_text(json.dumps({"result": out, "detail": detail}, indent=1))
    print("perfbench-detail " + json.dumps(detail))
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
