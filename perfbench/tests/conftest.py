"""Fixtures for the benchmark's own tests (run from the checkout root:
``python3 -m pytest perfbench/tests -q``)."""

from __future__ import annotations

import os
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
sys.path[:0] = [str(HERE.parents[1]), str(HERE.parent)]
os.environ.setdefault("SPARK_GRAFT_CPUS", str(len(os.sched_getaffinity(0))))

TINY = dict(n_markets=60, batch_new=6, batch_overlap=4)


@pytest.fixture(scope="session")
def spark():
    from betfair_database_spark.session import get_spark

    return get_spark("perfbench-tests")


@pytest.fixture(scope="session")
def tiny(spark, tmp_path_factory):
    """A tiny generated corpus, indexed, with both rollups."""
    import corpus as C
    import queries as Q
    from betfair_database_spark import BetfairDatabase

    corpus = C.generate(7, **TINY)
    root = tmp_path_factory.mktemp("tiny") / "db"
    C.write_database(corpus, root)
    db = BetfairDatabase(root, spark=spark)
    db.index()
    db.create_rollup()
    db.create_rollup(**Q.BYTYPE_SPEC)
    return corpus, db
