"""Per-layer metrics of a traced run, from its spans and Spark event log.

Spark plans lazily, so execution time lands in the eager calls: the
``materialize:<reason>`` spans name the ETL and maintenance phases, and a
layer's lazy constructors (``sources.*``) record planning time only.
"""

from __future__ import annotations

import re
import statistics

from spans import OWN_JOBS, Span, Tracer, sum_engine

OPS = ("index", "insert", "select", "clean", "export", "create_rollup")
ENGINE = (
    ("jobs", "count"),
    ("stages", "count"),
    ("tasks", "count"),
    ("executor_cpu_s", "s"),
    ("shuffle_read_bytes", "B"),
    ("shuffle_write_bytes", "B"),
    ("spill_bytes", "B"),
    ("task_max_over_median", "ratio"),
)
_SPAN_ID = re.compile(r" #(\d+)$")


def _root(tracer: Tracer, span: Span) -> Span:
    while span.parent is not None:
        span = tracer.spans[span.parent]
    return span


def _sum(tracer: Tracer, *names: str) -> float:
    return sum(tracer.total(n) for n in names)


def _median_ms(tracer: Tracer, name: str) -> float:
    spans = tracer.by_name(name)
    return 1000 * statistics.median(s.seconds for s in spans) if spans else 0.0


def _median_s(led, kind: str) -> float:
    times = led.times.get(kind)
    return statistics.median(times) if times else 0.0


def _gap(tracer: Tracer, parent: str, before: str, after: str) -> float:
    """Time inside each ``parent`` span between the end of its ``before``
    child and the start of its ``after`` child."""
    total = 0.0
    for p in tracer.by_name(parent):
        kids = [s for s in tracer.spans if s.parent == p.id]
        ends = [s.end for s in kids if s.name == before]
        starts = [s.start for s in kids if s.name == after]
        if ends and starts:
            total += min(starts) - max(ends)
    return total


def per_layer(tracer: Tracer, engine: dict, led, detail: dict) -> dict:
    """name -> (value, unit)."""
    t = tracer
    builds = t.by_name("etl.build_index_frame")
    routes = led.extra.get("routes", [])
    index_rows = led.extra.get("index_counters", {})
    out = {
        **{k: (v["value"], v["unit"]) for k, v in detail["wall_clock"].items()},
        "session.start_s": (detail["session_s"], "s"),
        "sources.listing_s": (
            _sum(t, "sources.list_files", "sources.classify_files", "materialize:etl-listing", "materialize:insert-db-listing"),
            "s",
        ),
        "sources.defs_scan_s": (
            _sum(
                t,
                "sources.definition_lines",
                "sources.extract_latest_definitions",
                "materialize:etl-derived-defs",
                "sources.write_derived_metadata_files",
            ),
            "s",
        ),
        "sources.meta_fetch_s": (_sum(t, "sources.fetch_text_files", "materialize:etl-meta-content"), "s"),
        "sources.files_listed": (t.counts.get("files_listed", 0), "count"),
        "sources.orphan_files": (t.counts.get("orphan_files", 0), "count"),
        "etl.build_s": (sum(s.seconds for s in builds), "s"),
        "etl.plan_self_s": (sum(t.self_seconds(s) for s in builds), "s"),
        "etl.counters_s": (t.total("etl.counters"), "s"),
        "etl.rows_indexed_ratio": (
            index_rows.get("rows_inserted", 0) / max(1, index_rows.get("total_markets", 0)),
            "ratio",
        ),
        "functions.flatten_s": (t.total("materialize:etl-flat-union"), "s"),
        "materialize.calls": (sum(1 for s in t.spans if s.name.startswith("materialize:")), "count"),
        "materialize_s": (sum(s.seconds for s in t.spans if s.name.startswith("materialize:")), "s"),
        "inserts.decide_s": (
            _sum(t, "materialize:insert-db-listing", "materialize:insert-decision-join", "materialize:insert-decided"),
            "s",
        ),
        "inserts.file_ops_s": (
            _gap(t, "inserts.insert_markets", "materialize:insert-decided", "materialize:insert-new-rows"),
            "s",
        ),
        "insert_markets_per_s": (
            led.extra["insert_markets"] / sum(led.times["insert"]) if "insert" in led.times else 0.0,
            "1/s",
        ),
        "maintain_s": (_median_s(led, "clean") + _median_s(led, "export"), "s"),
        "inserts.inserted": (led.extra.get("insert_counts", {}).get("inserted", 0), "count"),
        "inserts.updated": (led.extra.get("insert_counts", {}).get("updated", 0), "count"),
        "inserts.skipped": (led.extra.get("insert_counts", {}).get("skipped", 0), "count"),
        "database.write_index_s": (t.total("database.write_index"), "s"),
        "database.upsert_s": (t.total("database.upsert"), "s"),
        "database.clean_s": (t.total("BetfairDatabase.clean"), "s"),
        "database.export_s": (t.total("BetfairDatabase.export"), "s"),
        "database.index_bytes": (led.extra.get("index_bytes", 0), "B"),
        "rollup.update_s": (_sum(t, "rollup.rollup_update", "rollup.spec_rollup_update"), "s"),
        "rollup.route_ms": (_median_ms(t, "rollup.route_select"), "ms"),
        "rollup.route_share": (
            sum(r.startswith("rollup:") for r in routes) / len(routes) if routes else 0.0,
            "ratio",
        ),
        "dialect.translate_ms": (_median_ms(t, "dialect.translate_where"), "ms"),
        "select_scan_p50_ms": (1000 * _median_s(led, "scan"), "ms"),
        "select_rollup_p50_ms": (1000 * _median_s(led, "rollup"), "ms"),
        "select_dialect_p50_ms": (1000 * _median_s(led, "dialect"), "ms"),
        "cache.plans_left": (detail["state_left"]["cached_plans_left"], "count"),
        "stats.sidecar_files": (detail["state_left"]["sidecar_files"], "count"),
    }
    program = sum_engine(engine, keep=lambda d: d != OWN_JOBS)
    for key, unit in ENGINE:
        out[f"spark.{key}"] = (program[key], unit)

    def op_of(desc: str) -> str | None:
        m = _SPAN_ID.search(desc)
        if m is None:
            return None
        return _root(t, t.spans[int(m.group(1))]).name.rsplit(".", 1)[-1]

    for op in OPS:
        totals = sum_engine(engine, keep=lambda d, op=op: op_of(d) == op)
        for key, unit in ENGINE:
            out[f"spark.{op}.{key}"] = (totals[key], unit)
    return out

