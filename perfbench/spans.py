"""Outside-in tracing: spans around calls into the package's functions.

The package carries no tracing code. ``install`` swaps selected functions
for wrappers that record a span per call (name, start, end, parent, op id)
and set the Spark job description to the span name, so Spark's event log
attributes every job to the innermost span that launched it. Spans stay in
memory until the run writes them out.

A function imported by name into another module (``from x import f``) is
bound there too; ``install`` rewraps every binding of the same function
object across the package, so a call reaches the wrapper however the
caller imported it.
"""

from __future__ import annotations

import functools
import json
import statistics
import sys
import threading
import time
from collections import defaultdict
from dataclasses import asdict, dataclass
from pathlib import Path

PACKAGE = "betfair_database_spark"
# job description of the benchmark's own jobs (warm-up, row counts after
# the run); it names no span, so those jobs belong to no layer
OWN_JOBS = "perfbench"
# materialized frames kept for a row count after the run: reason -> count
COUNTED = {"materialize:etl-listing": "files_listed", "materialize:etl-pairing": "orphan_files"}


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    op: int
    start: float
    end: float = 0.0

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder for one client thread."""

    def __init__(self, spark=None):
        self.spark = spark
        self.spans: list[Span] = []
        self._local = threading.local()
        self._next_op = 0
        self._patched: list[tuple[object, str, object]] = []
        self.kept: dict[str, list] = {}
        self.counts: dict[str, int] = {}

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def _describe(self, text: str | None) -> None:
        if self.spark is not None:
            self.spark.sparkContext.setJobDescription(text)

    def span(self, name: str):
        return _SpanContext(self, name)

    # ------------------------------------------------------------ patching

    def wrap(self, module, attr: str, name: str | None = None, namer=None, after=None) -> None:
        """Wrap ``module.attr`` and every other package binding of it.
        ``after(label, result)`` runs once the call's span has closed."""
        original = getattr(module, attr)
        label = name or f"{module.__name__.rsplit('.', 1)[-1]}.{attr}"

        @functools.wraps(original)
        def wrapper(*args, **kwargs):
            text = namer(args, kwargs) if namer else label
            with self.span(text):
                out = original(*args, **kwargs)
            if after is not None:
                after(text, out)
            return out

        for mod in [m for n, m in list(sys.modules.items()) if n.startswith(PACKAGE)]:
            for key, value in list(vars(mod).items()):
                if value is original:
                    self._patched.append((mod, key, original))
                    setattr(mod, key, wrapper)

    def wrap_method(self, cls, attr: str, name: str | None = None) -> None:
        original = cls.__dict__[attr]
        label = name or f"{cls.__name__}.{attr}"

        @functools.wraps(original)
        def wrapper(*args, **kwargs):
            with self.span(label):
                return original(*args, **kwargs)

        self._patched.append((cls, attr, original))
        setattr(cls, attr, wrapper)

    def count_kept(self) -> None:
        """Row counts of the frames ``install`` kept, made once the timed
        work is over so that their jobs add to no span and no operation.
        The frames are checkpointed, so nothing is read again from disk."""
        from pyspark.sql import functions as F

        self._describe(OWN_JOBS)
        listings = self.kept.get("files_listed", [])
        pairings = self.kept.get("orphan_files", [])
        self.counts["files_listed"] = sum(df.count() for df in listings)
        self.counts["orphan_files"] = sum(df.where(F.col("path").isNull()).count() for df in pairings)
        self._describe(None)
        self.kept.clear()

    def uninstall(self) -> None:
        for owner, key, original in reversed(self._patched):
            setattr(owner, key, original)
        self._patched.clear()

    # ------------------------------------------------------------- reading

    def by_name(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def total(self, name: str) -> float:
        return sum(s.seconds for s in self.by_name(name))

    def self_seconds(self, span: Span) -> float:
        """Span time not covered by its direct children."""
        covered = sum(c.seconds for c in self.spans if c.parent == span.id)
        return max(0.0, span.seconds - covered)

    def dump(self, path: Path) -> None:
        path.write_text(json.dumps([asdict(s) for s in self.spans]))


class _SpanContext:
    def __init__(self, tracer: Tracer, name: str):
        self.tracer = tracer
        self.name = name

    def __enter__(self) -> Span:
        t = self.tracer
        stack = t._stack()
        parent = stack[-1] if stack else None
        if parent is None:
            t._next_op += 1
        span = Span(
            id=len(t.spans),
            name=self.name,
            parent=parent.id if parent else None,
            op=parent.op if parent else t._next_op,
            start=time.perf_counter(),
        )
        t.spans.append(span)
        stack.append(span)
        t._describe(f"{self.name} #{span.id}")
        self.span = span
        return span

    def __exit__(self, *exc) -> None:
        t = self.tracer
        self.span.end = time.perf_counter()
        stack = t._stack()
        stack.pop()
        t._describe(f"{stack[-1].name} #{stack[-1].id}" if stack else None)


def install(tracer: Tracer) -> None:
    """Wrap the package's public entry points and phase boundaries."""
    from betfair_database_spark import database, etl, inserts, rollup
    from betfair_database_spark.plans import dialect, materialize
    from betfair_database_spark.sources import (
        bulk,
        discovery,
        fetch,
        marketdef,
        metadata_reader,
    )

    for method in ("index", "select", "insert", "clean", "export", "create_rollup"):
        tracer.wrap_method(database.BetfairDatabase, method)
    tracer.wrap_method(database.BetfairDatabase, "_write_index", "database.write_index")
    tracer.wrap_method(database.BetfairDatabase, "_upsert_partitions", "database.upsert")
    tracer.wrap(etl, "build_index_frame", "etl.build_index_frame")
    tracer.wrap(etl, "_fill_counters", "etl.counters")

    def keep_frame(label: str, df) -> None:
        if label in COUNTED:
            tracer.kept.setdefault(COUNTED[label], []).append(df)

    tracer.wrap(
        materialize,
        "materialize",
        namer=lambda a, k: "materialize:" + str(k.get("role", a[1] if len(a) > 1 else "intermediate")),
        after=keep_frame,
    )
    for module in (discovery, fetch, marketdef, metadata_reader, bulk):
        for attr, value in list(vars(module).items()):
            if (
                callable(value)
                and not attr.startswith("_")
                and getattr(value, "__module__", None) == module.__name__
            ):
                tracer.wrap(module, attr, f"sources.{attr}")
    for attr in ("route_select", "rollup_update", "spec_rollup_update"):
        tracer.wrap(rollup, attr, f"rollup.{attr}")
    tracer.wrap(dialect, "translate_where", "dialect.translate_where")
    tracer.wrap(inserts, "insert_markets", "inserts.insert_markets")


# ---------------------------------------------------------------- event log


def read_event_log(directory: Path) -> dict[str, dict]:
    """Engine counters per job description from a Spark JSON event log."""
    stage_desc: dict[int, str] = {}
    out: dict[str, dict] = defaultdict(
        lambda: {
            "jobs": 0,
            "stages": 0,
            "tasks": 0,
            "executor_cpu_s": 0.0,
            "shuffle_read_bytes": 0,
            "shuffle_write_bytes": 0,
            "spill_bytes": 0,
            "_task_ms": [],
        }
    )
    for path in sorted(p for p in Path(directory).rglob("*") if p.is_file()):
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    desc = (ev.get("Properties") or {}).get("spark.job.description") or "(none)"
                    out[desc]["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_desc[sid] = desc
                elif kind == "SparkListenerStageCompleted":
                    sid = ev["Stage Info"]["Stage ID"]
                    if sid in stage_desc:
                        out[stage_desc[sid]]["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    desc = stage_desc.get(ev.get("Stage ID"), "(none)")
                    m = ev.get("Task Metrics") or {}
                    rec = out[desc]
                    rec["tasks"] += 1
                    rec["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    sr = m.get("Shuffle Read Metrics") or {}
                    rec["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                    rec["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
                    rec["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    rec["_task_ms"].append(m.get("Executor Run Time", 0))
    result = {}
    for desc, rec in out.items():
        times = rec.pop("_task_ms")
        med = statistics.median(times) if times else 0
        rec["task_max_over_median"] = (max(times) / med) if med else 0.0
        result[desc] = rec
    return result


def sum_engine(records: dict[str, dict], keep=lambda desc: True) -> dict:
    """Totals over the job descriptions ``keep`` accepts."""
    keys = ("jobs", "stages", "tasks", "executor_cpu_s", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes")
    tot = {k: 0 for k in keys}
    skew = 0.0
    for desc, rec in records.items():
        if keep(desc):
            for k in keys:
                tot[k] += rec[k]
            skew = max(skew, rec["task_max_over_median"])
    tot["task_max_over_median"] = skew
    return tot
