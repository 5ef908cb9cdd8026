"""End-to-end drive of the public package API on the fixture corpus.

The verify skill's core script (now committed under scripts/ so it
survives between rounds; `.scratch/verify_core.py` was the old ephemeral
home). Builds the Betfair-shaped corpus from tests/corpus.py into a tmp
dir, then drives index → select (dialect shim) → column contract →
limit/tuple shapes → export → clean → insert with all three duplicate
policies, asserting the same expectations the round-4..7 verifies used.
"""

from __future__ import annotations

import shutil
import sys
import tempfile
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))
sys.path.insert(0, str(Path(__file__).resolve().parents[1] / "tests"))

import betfair_database_spark as bfdb  # noqa: E402
from corpus import build_corpus  # noqa: E402


def main() -> int:
    tmp = Path(tempfile.mkdtemp(prefix="bfdb_verify_"))
    try:
        db = tmp / "db"
        build_corpus(db)

        n = bfdb.index(db)
        print(f"index: {n} markets")
        assert n == 9, n

        cols = bfdb.columns()
        print(f"columns: {len(cols)}")
        assert len(cols) == 37, cols

        rows = bfdb.select(db)
        assert len(rows) == 9
        assert all(len(r) == 37 for r in rows)

        # dialect shim surfaces
        w = bfdb.select(db, where="bspMarket = true")
        w2 = bfdb.select(db, where="bspMarket = 1")
        assert {r["marketId"] for r in w} == {r["marketId"] for r in w2}
        t = bfdb.select(db, where="time(marketTime) > '12:00:00'")
        s = bfdb.select(db, where="strftime('%Y', marketTime) = '2023'")
        b = bfdb.select(
            db, where="marketTime BETWEEN '2023-01-01' AND '2024-01-01'"
        )
        nn = bfdb.select(db, where="raceId IS NOT NULL")
        print(
            f"select: all=9 bsp={len(w)} time={len(t)} strftime={len(s)} "
            f"between={len(b)} notnull={len(nn)}"
        )

        lim = bfdb.select(db, columns=["marketId", "marketType"], limit=3)
        assert len(lim) == 3 and len(lim[0]) == 2
        tup = bfdb.select(db, limit=2, return_dict=False)
        assert isinstance(tup[0], tuple) and len(tup[0]) == 37

        out = bfdb.export(db, tmp / "exp")
        print(f"export: {out.name}")
        assert out.exists()

        removed = bfdb.clean(db)
        print(f"clean: removed {removed}")
        assert bfdb.size(db) + removed == 9

        # insert with the three duplicate policies: fresh db, insert lays
        # files out under the import pattern, re-insert hits the same
        # destination paths (duplicate detection is PATH-based — the
        # reference's file-level semantics, processor.py — so an
        # indexed-in-place db plus a sibling source is NOT a duplicate)
        ins_db = tmp / "insdb"
        ins_db.mkdir()
        src = tmp / "src"
        build_corpus(src)
        first = bfdb.insert(ins_db, src, copy=True)
        print(f"insert fresh: {first}")
        assert first == 9
        skipped = bfdb.insert(ins_db, src, copy=True, on_duplicates="skip")
        print(f"insert skip: {skipped}")
        assert skipped == 0
        upd0 = bfdb.insert(ins_db, src, copy=True, on_duplicates="update")
        print(f"insert update unchanged: {upd0}")
        assert upd0 == 0
        # mutate one market's catalogue: marketName is indexed → 1 update
        cat = src / "1.222000002.json"
        cat.write_text(
            cat.read_text(encoding="utf-8").replace(
                "R1 320m Mdn", "R1 320m Mdn Renamed"
            ),
            encoding="utf-8",
        )
        upd1 = bfdb.insert(ins_db, src, copy=True, on_duplicates="update")
        print(f"insert update changed: {upd1}")
        assert upd1 == 1
        # irrelevant change (whitespace only) → 0 updates
        cat.write_text(cat.read_text(encoding="utf-8") + "\n", encoding="utf-8")
        upd2 = bfdb.insert(ins_db, src, copy=True, on_duplicates="update")
        print(f"insert update irrelevant: {upd2}")
        assert upd2 == 0

        # materialized rollup (round 8): build, read back, incremental
        # maintenance under insert, staleness heal path
        from betfair_database_spark.database import BetfairDatabase
        from betfair_database_spark.rollup import (
            BUILTIN_ROLLUP,
            spec_view,
            summarize_spec,
        )

        def recomputed():
            ref = summarize_spec(db._read_index(), BUILTIN_ROLLUP)
            return {tuple(r) for r in spec_view(ref, BUILTIN_ROLLUP).collect()}

        db = BetfairDatabase(ins_db)
        n_roll = db.create_rollup()
        print(f"rollup rows: {n_roll}")
        assert n_roll > 0
        got = {tuple(r) for r in db.rollup().collect()}
        want = recomputed()
        assert got == want, "rollup != from-scratch recompute"
        # mutate + insert → rollup must follow without create_rollup()
        cat.write_text(
            cat.read_text(encoding="utf-8").replace(
                "R1 320m Mdn Renamed", "R1 320m Mdn Again"
            ),
            encoding="utf-8",
        )
        assert bfdb.insert(ins_db, src, copy=True, on_duplicates="update") == 1
        got = {tuple(r) for r in db.rollup().collect()}
        want = recomputed()
        assert got == want, "rollup stale after insert"
        print("rollup: incremental maintenance verified")

        print("VERIFY CORE: all checks passed")
        return 0
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    raise SystemExit(main())
