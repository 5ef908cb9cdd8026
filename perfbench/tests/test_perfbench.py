"""The benchmark's own checks: a deterministic generator, a ground truth
that matches a real index, wrong answers that count as failures, and CPU
time that follows the benchmark's own process tree."""

from __future__ import annotations

import hashlib
import random
import subprocess
import sys

import corpus as C
import proc as P
import queries as Q
import workloads as W
from conftest import TINY


def _digest(root) -> str:
    h = hashlib.sha256()
    for p in sorted(root.rglob("*")):
        if p.is_file():
            h.update(str(p.relative_to(root)).encode())
            h.update(p.read_bytes())
    return h.hexdigest()


def test_generator_is_deterministic_per_seed(tmp_path):
    a, b, c = (C.generate(s, **TINY) for s in (3, 3, 4))
    assert a.manifest() == b.manifest()
    assert a.manifest() != c.manifest()
    C.write_database(a, tmp_path / "a")
    C.write_database(b, tmp_path / "b")
    for batch in a.batches:
        C.write_batch(a, batch, tmp_path / "a" / f"batch-{batch.policy}")
        C.write_batch(b, batch, tmp_path / "b" / f"batch-{batch.policy}")
    assert _digest(tmp_path / "a") == _digest(tmp_path / "b")


def test_generator_varies_the_input_properties():
    corpus = C.generate(5, n_markets=400)
    kinds = {m.kind for m in corpus.markets}
    assert kinds == set(C.BASE_KINDS)
    assert {m.codec for m in corpus.markets} == set(C.CODECS)
    assert {m.event_type_id for m in corpus.markets} >= {"7", "4339", "1"}
    assert max(m.lines for m in corpus.markets) > 4 * C.MEAN_LINES
    for batch in corpus.batches:
        assert batch.new and batch.same and batch.changed


def test_ground_truth_matches_a_tiny_index(tiny):
    corpus, db = tiny
    got = {k: getattr(db.last_counters, k) for k in corpus.counters()}
    assert got == corpus.counters()
    assert db.last_counters.validate()
    led = W.Ledger()
    rng = random.Random(1)
    for _ in range(2):
        W.read_queries(led, db, Q.round_of(rng, corpus.indexed()), {})
    assert led.failed == 0, led.errors
    assert sum(len(led.times[k]) for k in Q.SHAPES) == 2 * len(Q.SHAPES)


class _Altered:
    """A database whose selects lose their last row."""

    def __init__(self, db):
        self.db = db

    def __getattr__(self, name):
        return getattr(self.db, name)

    def select(self, *args, **kwargs):
        return self.db.select(*args, **kwargs)[:-1]

    def size(self):
        return self.db.size() + 1


def test_altered_answers_count_as_failed_ops(tiny):
    corpus, db = tiny
    truth = corpus.indexed()
    rng = random.Random(2)
    queries = [Q.readme(rng, truth), Q.scan_agg(rng, truth), Q.size(rng, truth)]
    led = W.Ledger()
    W.read_queries(led, _Altered(db), queries, {})
    assert led.attempted == 3
    assert led.failed == 3, led.errors


def test_routed_aggregate_that_differs_from_its_scan_fails(tiny):
    corpus, db = tiny
    q = Q.rollup_agg(random.Random(3), corpus.indexed())
    twins = {repr(sorted(q.kwargs.items())): [("no", "such", "row")]}
    led = W.Ledger()
    W.read_queries(led, db, [q], twins)
    assert led.failed == 1 and "differs from the scan" in led.errors[0]


def test_write_sequence_under_every_policy_matches_the_manifest(spark, tmp_path):
    from betfair_database_spark import BetfairDatabase

    corpus = C.generate(9, **TINY)
    corpus_bytes = C.write_database(corpus, tmp_path / "db")
    db = BetfairDatabase(tmp_path / "db", spark=spark)
    led = W.Ledger()
    W.build(led, db, corpus, corpus_bytes)
    W.insert_batches(led, db, corpus, tmp_path, C.POLICIES)
    assert db.size() == len(corpus.final_indexed(cleaned=False))
    W.clean_export(led, db, corpus, tmp_path)
    assert led.failed == 0, led.errors
    assert led.attempted == 1 + 2 + len(C.POLICIES) + 2  # index, rollups, inserts, clean, export
    assert db.size() == len(corpus.final_indexed())


def test_tree_cpu_counts_live_and_reaped_children():
    # the child burns 0.5 s of CPU, then waits for its stdin to close
    burn = "import sys, time\nt = time.process_time()\nwhile time.process_time() - t < 0.5: pass\nprint(flush=True)\nsys.stdin.read()"
    c0 = P.tree_cpu_s()
    child = subprocess.Popen([sys.executable, "-c", burn], stdin=subprocess.PIPE, stdout=subprocess.PIPE)
    child.stdout.readline()
    live = P.tree_cpu_s() - c0
    child.stdin.close()
    child.wait()
    reaped = P.tree_cpu_s() - c0
    assert live >= 0.45
    assert reaped >= live - 0.02
