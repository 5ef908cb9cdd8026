"""The ``ingest`` and ``query`` workloads.

Both drive the public ``BetfairDatabase`` API in one client thread, in a
closed loop, and check every answer against the corpus manifest. Every
workload reports every end-to-end metric; those of the write side come from
the index build and rollups that both workloads run:

- ``ingest`` repeats the write sequence on a freshly written corpus until
  ``--seconds`` have passed: ``index`` -> two rollups -> an insert
  batch under ``update`` whose new, unchanged and changed markets take the
  INSERT, SKIP and UPDATE actions -> delete ~2% of the data files ->
  ``clean`` -> ``export``. An untimed round of selects after the build and
  a timed round after the insert and after the export check the written
  index; those are its only reads.
- ``query`` builds the index and the same rollups during set-up, then sends
  seeded rounds of selects until ``--seconds`` have passed.
"""

from __future__ import annotations

import csv
import json
import os
import random
import shutil
import time
from dataclasses import dataclass, field
from pathlib import Path

import corpus as C
import queries as Q
from proc import tree_cpu_s

BYTYPE = Q.BYTYPE_SPEC
# a database of a few thousand markets; an insert batch adds 5% new markets
# and re-sends 2% (both shares are assumptions)
SIZES = dict(n_markets=2000, batch_new=100, batch_overlap=40)
# duplicate policies ``ingest`` inserts under: one insert call per run
# keeps a run inside its time budget; ``skip`` and ``replace`` run in the
# benchmark's tests
INGEST_POLICIES = ("update",)
# untimed rounds of selects before ``query`` starts timing: the CPU time of
# a select falls to about a third over the first dozen rounds of a session,
# as the JVM compiles the select path; four rounds take the steepest part
# of that fall out of the timed loop and still fit a run's time budget
QUERY_WARM_ROUNDS = 4


@dataclass
class Ledger:
    """Operation outcomes and timings of one run."""

    attempted: int = 0
    failed: int = 0
    errors: list = field(default_factory=list)
    times: dict = field(default_factory=dict)  # op kind -> list of seconds
    cpu: dict = field(default_factory=dict)  # op kind -> list of process-tree CPU seconds
    extra: dict = field(default_factory=dict)

    def record(self, kind: str, seconds: float, error: str | None = None) -> None:
        self.attempted += 1
        self.times.setdefault(kind, []).append(seconds)
        if error is not None:
            self.failed += 1
            if len(self.errors) < 20:
                self.errors.append(f"{kind}: {error}")

    def timed(self, kind: str, fn, check=None):
        """Run ``fn``; count it failed if it or ``check`` raises, or if
        ``check`` objects. Only ``fn`` is timed. Returns ``fn``'s result,
        or None when the operation failed."""
        # a failed operation is data for the report, not a crash
        c0 = tree_cpu_s()
        t0 = time.perf_counter()
        try:
            out, error = fn(), None
        except Exception as exc:
            out, error = None, f"{type(exc).__name__}: {exc}"
        seconds = time.perf_counter() - t0
        self.cpu.setdefault(kind, []).append(tree_cpu_s() - c0)
        if error is None and check is not None:
            try:
                error = check(out)
            except Exception as exc:
                error = f"check raised {type(exc).__name__}: {exc}"
        self.record(kind, seconds, error)
        return out if error is None else None


def _expect(want):
    return lambda got: None if got == want else f"got {got!r}, want {want!r}"


def _tree_bytes(*paths: Path) -> int:
    return sum(C.tree_bytes(p) for p in paths if p.exists())


def _stored_bytes(db_dir: Path) -> int:
    """Index plus rollup bytes on disk."""
    return _tree_bytes(*db_dir.glob(".betfairdatabase*"))


def _check_counters(led: Ledger, db, corpus: C.Corpus):
    def check(_):
        c = db.last_counters
        got = {k: getattr(c, k) for k in corpus.counters()}
        led.extra["index_counters"] = got
        if got != corpus.counters():
            return f"counters {got} != {corpus.counters()}"
        return None if c.validate() else "Counters.validate() failed"

    return check


def _check_export(db):
    def check(path):
        with open(path, newline="", encoding="utf-8") as fh:
            rows = list(csv.reader(fh))
        if rows[0] != db.columns():
            return "export header differs from columns()"
        if len(rows) - 1 != db.size():
            return f"export has {len(rows) - 1} rows, size() is {db.size()}"
        return None

    return check


def build(led: Ledger, db, corpus: C.Corpus, corpus_bytes: int) -> None:
    """``index`` and both rollups; then the bytes they store."""
    led.timed("index", db.index, _check_counters(led, db, corpus))
    led.timed("create_rollup", db.create_rollup)
    led.timed("create_rollup", lambda: db.create_rollup(**BYTYPE))
    led.extra.setdefault("stored_ratio", []).append(_stored_bytes(db.database_dir) / corpus_bytes)


def insert_batches(led: Ledger, db, corpus: C.Corpus, work: Path, policies) -> None:
    """Insert the batches of ``policies``."""
    for batch in corpus.batches:
        if batch.policy not in policies:
            continue
        src = work / f"batch-{batch.policy}"
        C.write_batch(corpus, batch, src)
        os.sync()
        want = batch.expected()

        def check(n, want=want):
            c = db.last_counters
            got = {"inserted": n, "updated": c.markets_updated, "skipped": c.markets_skipped}
            tally = led.extra.setdefault("insert_counts", {"inserted": 0, "updated": 0, "skipped": 0})
            for k, v in (("inserted", n - c.markets_updated), ("updated", c.markets_updated), ("skipped", c.markets_skipped)):
                tally[k] += v
            return None if got == want else f"{batch.policy}: {got} != {want}"

        led.timed("insert", lambda: db.insert(src, on_duplicates=batch.policy), check)
        led.extra["insert_markets"] = led.extra.get("insert_markets", 0) + len(batch.new) + len(batch.same) + len(batch.changed)


def clean_export(led: Ledger, db, corpus: C.Corpus, work: Path) -> None:
    """Delete ~2% of the data files, ``clean``, ``export``."""
    for mid in corpus.deleted:
        C.data_path(corpus, db.database_dir, mid).unlink()
    led.timed("clean", db.clean, _expect(len(corpus.deleted)))
    export_dir = work / "export"
    export_dir.mkdir(exist_ok=True)
    led.timed("export", lambda: db.export(export_dir), _check_export(db))
    led.extra["index_bytes"] = _tree_bytes(db.database_dir / ".betfairdatabaseindex.parquet")


def read_queries(led: Ledger, db, queries: list[Q.Query], scan_twins: dict) -> None:
    """Time each query; check it; check routed aggregates against a scan."""
    for q in queries:
        answer = led.timed(q.kind, lambda: Q.run(db, q), lambda a, q=q: Q.check(q, a))
        if q.kind in ("rollup", "scan"):
            led.extra.setdefault("routes", []).append(db.last_select_route)
        if q.kind == "rollup" and answer is not None:
            key = repr(sorted(q.kwargs.items()))
            if key not in scan_twins:
                scan_twins[key] = led.timed(
                    "scan-twin", lambda: db.select(return_dict=False, use_rollups=False, **q.kwargs)
                )
            twin = scan_twins[key]
            if twin is not None:
                same = Q.same_rows(answer, twin)
                led.record("rollup-twin", 0.0, None if same else "routed answer differs from the scan")


def warm_round(led: Ledger, db, queries: list[Q.Query]) -> None:
    """Checked but untimed selects: the first runs of each shape compile
    its plan, so the timed rounds after them measure warm selects."""
    warm = Ledger()
    read_queries(warm, db, queries, {})
    led.attempted += warm.attempted
    led.failed += warm.failed
    led.errors += warm.errors


def prepare(ctx) -> None:
    """Generate the seed's corpus and flush it to disk, before the session
    starts: a freshly written corpus otherwise shows up as iowait inside
    the first timed call."""
    ctx.corpus = C.generate(ctx.seed, **SIZES)
    ctx.corpus_bytes = C.write_database(ctx.corpus, ctx.work / "corpus")
    (ctx.work / "manifest.json").write_text(json.dumps(ctx.corpus.manifest()))
    os.sync()


def ingest(ctx) -> Ledger:
    from betfair_database_spark import BetfairDatabase

    led = Ledger()
    corpus = ctx.corpus
    rng = random.Random(ctx.seed + 1)
    t_end = time.perf_counter() + ctx.seconds
    i = 0
    while True:
        work = ctx.work / f"iter{i}"
        work.mkdir()
        if i == 0:  # the prepared corpus is fresh and already flushed
            db_dir = ctx.work / "corpus"
        else:
            db_dir = work / "db"
            C.write_database(corpus, db_dir)
            os.sync()
        db = BetfairDatabase(db_dir, spark=ctx.spark)
        build(led, db, corpus, ctx.corpus_bytes)
        # the check selects are spread over the sequence, so that a short
        # burst of host noise slows few of them: an untimed warm-up round
        # after the build, a timed round after the insert and one after
        # clean and export
        warm_round(led, db, Q.round_of(rng, corpus.indexed()))
        insert_batches(led, db, corpus, work, INGEST_POLICIES)
        truth = corpus.final_indexed(INGEST_POLICIES, cleaned=False)
        read_queries(led, db, Q.round_of(rng, truth), {})
        clean_export(led, db, corpus, work)
        read_queries(led, db, Q.round_of(rng, corpus.final_indexed(INGEST_POLICIES)), {})
        led.extra["markets"] = corpus.counters()["total_markets"]
        shutil.rmtree(work)
        i += 1
        if time.perf_counter() >= t_end:
            break
    led.extra["iterations"] = i
    return led


def query_setup(ctx):
    """Index, rollups and ``QUERY_WARM_ROUNDS`` warm-up rounds for
    ``query``; counts toward set-up time."""
    from betfair_database_spark import BetfairDatabase

    led = Ledger()
    corpus = ctx.corpus
    db = BetfairDatabase(ctx.work / "corpus", spark=ctx.spark)
    build(led, db, corpus, ctx.corpus_bytes)
    led.extra["markets"] = corpus.counters()["total_markets"]
    rng = random.Random(ctx.seed)
    for _ in range(QUERY_WARM_ROUNDS):
        warm_round(led, db, Q.round_of(rng, corpus.indexed()))
    return led, db


def query(ctx, led: Ledger, db) -> Ledger:
    corpus = ctx.corpus
    truth = corpus.indexed()
    rng = random.Random(ctx.seed + 1)
    twins: dict = {}
    t0 = time.perf_counter()
    rounds = 0
    while time.perf_counter() - t0 < ctx.seconds:
        read_queries(led, db, Q.round_of(rng, truth), twins)
        rounds += 1
    led.extra["select_wall_s"] = time.perf_counter() - t0
    led.extra["select_rounds"] = rounds
    return led
