"""Maintenance surface: size/export/clean/insert with duplicate policies
(semantics pinned by reference tests/test_integration.py:431-607)."""

from __future__ import annotations

import csv
import json
import pathlib
from pathlib import Path

import pytest

from tests.corpus import EXPECTED, build_corpus


@pytest.fixture(scope="module")
def mutable_db(spark, tmp_path_factory):
    from betfair_database_spark.database import BetfairDatabase

    root = tmp_path_factory.mktemp("mutdb") / "db"
    build_corpus(root)
    db = BetfairDatabase(root, spark=spark)
    db.index()
    return db


def test_export_csv(mutable_db, tmp_path):
    dest = mutable_db.export(tmp_path)
    assert dest.name == "db.csv"
    with open(dest, newline="") as f:
        rows = list(csv.DictReader(f))
    assert len(rows) == EXPECTED["rows"]
    from betfair_database_spark.const import SQL_TABLE_COLUMNS

    assert list(rows[0].keys()) == list(SQL_TABLE_COLUMNS)
    # NULL renders as empty string (csv.DictWriter parity)
    cat_row = next(r for r in rows if r["marketId"] == "1.222000001")
    assert cat_row["marketSettledTime"] == ""
    assert cat_row["bspMarket"] == "0"


def test_clean_to_empty_and_insert_corrupt_only(spark, tmp_path):
    from betfair_database_spark.database import BetfairDatabase

    root = tmp_path / "tiny"
    root.mkdir()
    (root / "1.900000001.json").write_text(
        '{"marketId":"1.900000001","marketName":"X","marketStartTime":"2023-01-01T00:00:00.000Z"}'
    )
    (root / "1.900000001").write_text('{"marketId":"1.900000001"}')
    db = BetfairDatabase(root, spark=spark)
    assert db.index() == 1
    (root / "1.900000001").unlink()
    assert db.clean() == 1
    assert db.size() == 0  # index emptied, still readable
    # insert from a corrupt-only source: nothing importable, index unchanged
    src = tmp_path / "corrupt_src"
    src.mkdir()
    (src / "1.900000002.json").write_text("{broken")
    (src / "1.900000002").write_text("data")
    assert db.insert(src, copy=True) == 0
    assert db.size() == 0


def test_clean_removes_missing_data_files(mutable_db):
    root = mutable_db.database_dir
    (root / "1.222000001").unlink()
    (root / "1.222000005.gz").unlink()
    removed = mutable_db.clean()
    assert removed == 2
    assert mutable_db.size() == EXPECTED["rows"] - 2
    assert mutable_db.clean() == 0  # idempotent


class TestInsertPolicies:
    @pytest.fixture(scope="class")
    def env(self, spark, tmp_path_factory):
        from betfair_database_spark.database import BetfairDatabase

        base = tmp_path_factory.mktemp("insenv")
        target = base / "newdb"
        target.mkdir()
        src = base / "src"
        build_corpus(src)
        db = BetfairDatabase(target, spark=spark)
        return db, src

    def test_insert_into_fresh_db(self, env):
        db, src = env
        n = db.insert(src, copy=True)
        assert n == EXPECTED["rows"]
        assert db.size() == EXPECTED["rows"]
        # copy leaves source files in place
        assert (src / "1.222000001.json").exists()
        # betfair_historical layout
        paths = [r["marketMetadataFilePath"] for r in db.select(["marketMetadataFilePath"])]
        assert any("/2023/Aug/2/" in p for p in paths)

    def test_reinsert_skip(self, env):
        db, src = env
        assert db.insert(src, copy=True, on_duplicates="skip") == 0
        assert db.size() == EXPECTED["rows"]

    def test_reinsert_update_unchanged(self, env):
        db, src = env
        assert db.insert(src, copy=True, on_duplicates="update") == 0

    def test_reinsert_update_changed_metadata(self, env):
        db, src = env
        p = src / "1.222000001.json"
        d = json.loads(p.read_text())
        d["description"]["marketTime"] = "2023-07-28T13:00:00.000Z"
        p.write_text(json.dumps(d))
        assert db.insert(src, copy=True, on_duplicates="update") == 1
        row = db.select(["marketTime"], where="marketId = '1.222000001'")[0]
        assert row["marketTime"] == "2023-07-28T13:00:00.000Z"

    def test_reinsert_update_irrelevant_change(self, env):
        db, src = env
        p = src / "1.222000001.json"
        d = json.loads(p.read_text())
        d["totalMatched"] = 99999.0  # not an indexed column
        p.write_text(json.dumps(d))
        assert db.insert(src, copy=True, on_duplicates="update") == 0

    def test_reinsert_replace(self, env):
        db, src = env
        n = db.insert(src, copy=True, on_duplicates="replace")
        assert n == EXPECTED["rows"]  # every market rewritten
        assert db.size() == EXPECTED["rows"]  # no duplicate rows

    def test_insert_move_removes_sources(self, spark, tmp_path):
        from betfair_database_spark.database import BetfairDatabase

        target = tmp_path / "movedb"
        target.mkdir()
        src = tmp_path / "movesrc"
        build_corpus(src)
        db = BetfairDatabase(target, spark=spark)
        n = db.insert(src, copy=False, pattern="event_id")
        assert n == EXPECTED["rows"]
        # moved: indexed market files are gone from the source tree
        assert not (src / "1.222000001.json").exists()
        assert not (src / "1.222000001").exists()
        # non-importable leftovers stay behind
        assert (src / "1.222000008.json").exists()  # had no data file
        assert (src / "1.222000009").exists()  # had no definition


def test_insert_custom_callable_pattern(spark, tmp_path):
    """A user callable (flat-row dict -> relative dir) routes destinations
    through the vectorized pandas-UDF path (reference imports.py custom
    pattern contract)."""
    from betfair_database_spark.database import BetfairDatabase

    target = tmp_path / "customdb"
    target.mkdir()
    src = tmp_path / "customsrc"
    build_corpus(src)

    def by_type(row: dict) -> str:
        return f"{row['eventTypeId'] or 'unknown'}/{row['marketType'] or 'NA'}"

    db = BetfairDatabase(target, spark=spark)
    n = db.insert(src, copy=True, pattern=by_type)
    assert n == EXPECTED["rows"]
    # greyhound WIN market landed under its eventTypeId/marketType dir
    assert (target / "4339" / "WIN" / "1.222000002.json").exists()
    rows = db.select(["marketMetadataFilePath"], where="marketId = '1.222000002'")
    assert rows[0]["marketMetadataFilePath"].endswith("/4339/WIN/1.222000002.json")


def _partition_snapshot(index_path: Path, part: str) -> dict[str, tuple[int, float, bytes]]:
    """Map part-file name -> (size, mtime, first bytes) for one partition dir."""
    d = index_path / part
    out = {}
    for f in sorted(d.glob("*.parquet")):
        st = f.stat()
        out[f.name] = (st.st_size, st.st_mtime_ns, f.read_bytes()[:64])
    return out


class TestPartitionScopedMaintenance:
    """insert()/clean() rewrite ONLY touched eventTypeId partitions
    (VERDICT r4 item 1): untouched partition dirs stay byte-identical."""

    @pytest.fixture()
    def env(self, spark, tmp_path):
        from betfair_database_spark.database import BetfairDatabase

        target = tmp_path / "psdb"
        target.mkdir()
        src = tmp_path / "pssrc"
        build_corpus(src)
        db = BetfairDatabase(target, spark=spark)
        db.insert(src, copy=True)
        return db, src

    def test_insert_leaves_untouched_partitions_byte_identical(self, env, tmp_path):
        db, _ = env
        before = _partition_snapshot(db._index_path, "eventTypeId=7")
        # New market in the greyhound (4339) partition only
        src2 = tmp_path / "ps_src2"
        src2.mkdir()
        meta = json.loads((Path(src2).parent / "pssrc" / "1.222000002.json").read_text())
        meta["marketId"] = "1.222999001"
        (src2 / "1.222999001.json").write_text(json.dumps(meta))
        (src2 / "1.222999001").write_text('{"op":"mcm"}')
        assert db.insert(src2, copy=True) == 1
        after = _partition_snapshot(db._index_path, "eventTypeId=7")
        assert before == after  # same files, same mtimes, same bytes
        assert db.size() == EXPECTED["rows"] + 1

    def test_clean_leaves_untouched_partitions_byte_identical(self, env):
        db, _ = env
        before = _partition_snapshot(db._index_path, "eventTypeId=7")
        # Remove the greyhound market's data file -> only 4339 partition shrinks
        gone = [
            r["marketDataFilePath"]
            for r in db.select(["marketDataFilePath"], where="eventTypeId = '4339'")
        ]
        assert gone
        for p in gone:
            Path(p).unlink()
        assert db.clean() == len(gone)
        after = _partition_snapshot(db._index_path, "eventTypeId=7")
        assert before == after
        assert not (db._index_path / "eventTypeId=4339").exists()  # emptied dir removed
        assert db.size() == EXPECTED["rows"] - len(gone)

    def test_size_served_from_manifest_without_spark(self, env):
        db, _ = env
        # Manifest present -> size() must not run any Spark job at all.
        real_spark = db.spark
        db.spark = None
        try:
            assert db.size() == EXPECTED["rows"]
        finally:
            db.spark = real_spark
        # Manifest removed -> falls back to a distributed count, same answer.
        (db._index_path / "_manifest.json").unlink()
        assert db.size() == EXPECTED["rows"]


def test_export_multipart_matches_single_file(mutable_db, tmp_path):
    """single_file=False writes header-consistent part shards whose union of
    rows equals the single-file export exactly (VERDICT r4 item 4)."""
    single = mutable_db.export(tmp_path)
    single_lines = single.read_text().splitlines()
    header, single_rows = single_lines[0], sorted(single_lines[1:])

    part_dir = mutable_db.export(tmp_path, single_file=False)
    assert part_dir.is_dir()
    parts = sorted(part_dir.glob("part-*.csv"))
    assert parts
    multi_rows = []
    for p in parts:
        lines = p.read_text().splitlines()
        assert lines[0] == header  # every shard self-describing, same header
        multi_rows.extend(lines[1:])
    assert sorted(multi_rows) == single_rows


def test_partition_upsert_null_event_type(spark, tmp_path):
    """A market with no eventTypeId lands in the hive null partition
    (__HIVE_DEFAULT_PARTITION__); partition-scoped insert and clean must
    route it there and remove the emptied dir, leaving others untouched."""
    from betfair_database_spark.database import BetfairDatabase

    target = tmp_path / "nulldb"
    target.mkdir()
    src = tmp_path / "nullsrc"
    build_corpus(src)
    db = BetfairDatabase(target, spark=spark)
    db.insert(src, copy=True)
    before = _partition_snapshot(db._index_path, "eventTypeId=7")

    src2 = tmp_path / "nullsrc2"
    src2.mkdir()
    meta = json.loads((src / "1.222000001.json").read_text())
    meta["marketId"] = "1.222999100"
    del meta["eventType"]  # no event type at all -> null partition
    (src2 / "1.222999100.json").write_text(json.dumps(meta))
    (src2 / "1.222999100").write_text('{"op":"mcm"}')
    assert db.insert(src2, copy=True) == 1
    null_dir = db._index_path / "eventTypeId=__HIVE_DEFAULT_PARTITION__"
    assert null_dir.exists()
    row = db.select(["eventTypeId"], where="marketId = '1.222999100'")[0]
    assert row["eventTypeId"] is None
    assert _partition_snapshot(db._index_path, "eventTypeId=7") == before

    # clean() empties and removes ONLY the null partition
    data_path = db.select(["marketDataFilePath"], where="marketId = '1.222999100'")[0][
        "marketDataFilePath"
    ]
    Path(data_path).unlink()
    assert db.clean() == 1
    assert not null_dir.exists()
    assert _partition_snapshot(db._index_path, "eventTypeId=7") == before
    assert db.size() == EXPECTED["rows"]


class TestCrashAtomicMaintenance:
    """The round-6 commit protocol: readers resolve part-files through the
    manifest, the manifest swap is an atomic rename, so killing the upsert
    at ANY step leaves every (fresh) reader on a consistent snapshot —
    either the whole old index or the whole new one, never a mix."""

    @pytest.fixture()
    def env(self, spark, tmp_path):
        from betfair_database_spark.database import BetfairDatabase

        target = tmp_path / "cadb"
        target.mkdir()
        src = tmp_path / "casrc"
        build_corpus(src)
        db = BetfairDatabase(target, spark=spark)
        db.insert(src, copy=True)
        return db

    @staticmethod
    def _snapshot(db):
        rows = db.select(["marketId", "marketDataFilePath"])
        return sorted((r["marketId"], r["marketDataFilePath"]) for r in rows)

    @staticmethod
    def _delete_one_partition_data(db):
        gone = [
            r["marketDataFilePath"]
            for r in db.select(["marketDataFilePath"], where="eventTypeId = '4339'")
        ]
        assert gone
        for p in gone:
            Path(p).unlink()
        return gone

    def test_crash_before_commit_readers_see_old_snapshot(self, env, monkeypatch):
        import betfair_database_spark.database as dbmod

        db = env
        before = self._snapshot(db)
        size_before = db.size()
        self._delete_one_partition_data(db)

        def boom(*a, **k):
            raise RuntimeError("injected crash before manifest commit")

        monkeypatch.setattr(dbmod, "_manifest_write", boom)
        with pytest.raises(RuntimeError, match="injected"):
            db.clean()
        monkeypatch.undo()
        # new part-files ARE on disk (append ran), but uncommitted — every
        # reader channel still serves the old snapshot exactly
        assert self._snapshot(db) == before
        assert db.size() == size_before
        # retry without the fault completes and lands the new snapshot
        removed = db.clean()
        assert removed > 0
        assert db.size() == size_before - removed
        assert not (db._index_path / "eventTypeId=4339").exists()

    def test_crash_after_commit_readers_see_new_snapshot(self, env, monkeypatch):
        from betfair_database_spark.database import BetfairDatabase

        db = env
        size_before = db.size()
        gone = self._delete_one_partition_data(db)

        real_reap = BetfairDatabase._reap_files
        calls = {"n": 0}

        def reap_then_die(self, rel_paths):
            calls["n"] += 1
            if calls["n"] == 2:  # step 4: post-commit reap of old files
                raise RuntimeError("injected crash after manifest commit")
            return real_reap(self, rel_paths)

        monkeypatch.setattr(BetfairDatabase, "_reap_files", reap_then_die)
        with pytest.raises(RuntimeError, match="injected"):
            db.clean()
        monkeypatch.undo()
        # commit landed: readers see the NEW snapshot exactly — the
        # replaced files still sit on disk but are unreferenced, so no
        # duplicate rows appear
        snap = self._snapshot(db)
        assert len(snap) == size_before - len(gone)
        assert db.size() == size_before - len(gone)
        assert not any(p in {s[1] for s in snap} for p in gone)
        # a later maintenance pass reaps the garbage (step 0)
        src3 = db.database_dir.parent / "ca_src3"
        src3.mkdir()
        meta = json.loads((db.database_dir.parent / "casrc" / "1.222000002.json").read_text())
        meta["marketId"] = "1.222999002"
        (src3 / "1.222999002.json").write_text(json.dumps(meta))
        (src3 / "1.222999002").write_text('{"op":"mcm"}')
        assert db.insert(src3, copy=True) == 1
        from betfair_database_spark.database import (
            _list_part_files,
            _manifest_files,
            _manifest_read,
        )

        files = _manifest_files(_manifest_read(db._index_path))
        for key, names in files.items():
            assert sorted(names) == _list_part_files(db._index_path, key)


class TestTimeTravel:
    """Snapshot retention over the versioned-manifest protocol: with
    retain_snapshots > 1, every maintenance commit stays readable via
    select(version=...) until vacuum() prunes it — Delta-style time
    travel, built from nothing but the manifest copies in _snapshots/."""

    @pytest.fixture()
    def env(self, spark, tmp_path):
        from betfair_database_spark.database import BetfairDatabase

        target = tmp_path / "ttdb"
        target.mkdir()
        src = tmp_path / "ttsrc"
        build_corpus(src)
        db = BetfairDatabase(target, spark=spark, retain_snapshots=3)
        db.insert(src, copy=True)
        return db

    @staticmethod
    def _ids(db, version=None):
        return sorted(
            r["marketId"] for r in db.select(["marketId"], version=version)
        )

    def test_versions_accumulate_and_read_back(self, env, tmp_path):
        db = env
        v1_ids = self._ids(db)
        snaps = db.snapshots()
        v1 = snaps[-1]["version"]  # env's insert may commit more than once
        assert snaps[-1]["current"] and snaps[-1]["readable"]
        assert snaps[-1]["rows"] == len(v1_ids)

        # second commit: insert one more market
        src2 = tmp_path / "tt_src2"
        src2.mkdir()
        meta = json.loads((tmp_path / "ttsrc" / "1.222000002.json").read_text())
        meta["marketId"] = "1.222990001"
        (src2 / "1.222990001.json").write_text(json.dumps(meta))
        (src2 / "1.222990001").write_text('{"op":"mcm"}')
        assert db.insert(src2, copy=True) == 1

        # third commit: clean after deleting one market's data file
        gone_path = db.select(
            ["marketDataFilePath"], where="marketId = '1.222000002'"
        )[0]["marketDataFilePath"]
        Path(gone_path).unlink()
        assert db.clean() == 1

        versions = [s["version"] for s in db.snapshots()]
        assert versions[-3:] == [v1, v1 + 1, v1 + 2]
        # retention=3 keeps the last three readable
        assert all(s["readable"] for s in db.snapshots()[-3:])

        # every historical state reads back exactly
        assert self._ids(db, version=v1) == v1_ids
        assert self._ids(db, version=v1 + 1) == sorted(v1_ids + ["1.222990001"])
        assert self._ids(db, version=v1 + 2) == sorted(
            set(v1_ids + ["1.222990001"]) - {"1.222000002"}
        )
        # the live read equals the newest snapshot
        assert self._ids(db) == self._ids(db, version=v1 + 2)
        # size() still serves the LIVE snapshot only
        assert db.size() == len(self._ids(db))

    def test_vacuum_prunes_history_with_clear_errors(self, env, tmp_path):
        db = env
        src2 = tmp_path / "tt_src2"
        src2.mkdir()
        meta = json.loads((tmp_path / "ttsrc" / "1.222000002.json").read_text())
        meta["marketId"] = "1.222990002"
        (src2 / "1.222990002.json").write_text(json.dumps(meta))
        (src2 / "1.222990002").write_text('{"op":"mcm"}')
        db.insert(src2, copy=True)
        live = self._ids(db)

        old_versions = [s["version"] for s in db.snapshots()[:-1]]
        reaped = db.vacuum(retain_last=1)
        assert reaped > 0
        snaps = db.snapshots()
        # vacuum prunes both the files AND the snapshot metadata: only the
        # live snapshot remains listed, the rest become unknown versions
        assert [s["version"] for s in snaps] == [snaps[-1]["version"]]
        assert snaps[-1]["readable"] and snaps[-1]["current"]
        with pytest.raises(ValueError, match="unknown index snapshot"):
            db.select(["marketId"], version=old_versions[-1])
        with pytest.raises(ValueError, match="unknown index snapshot"):
            db.select(["marketId"], version=99)
        # live snapshot untouched by vacuum
        assert self._ids(db) == live
        # and the on-disk file set is exactly the live manifest again
        from betfair_database_spark.database import (
            _list_part_files,
            _manifest_files,
            _manifest_read,
        )

        files = _manifest_files(_manifest_read(db._index_path))
        for key, names in files.items():
            assert sorted(names) == _list_part_files(db._index_path, key)

    def test_default_retention_keeps_current_behavior(self, spark, tmp_path):
        """retain_snapshots=1 (default): maintenance immediately reaps
        replaced files — on-disk part-files always equal the live
        manifest, exactly the pre-time-travel storage contract."""
        from betfair_database_spark.database import (
            BetfairDatabase,
            _list_part_files,
            _manifest_files,
            _manifest_read,
        )

        target = tmp_path / "defdb"
        target.mkdir()
        src = tmp_path / "defsrc"
        build_corpus(src)
        db = BetfairDatabase(target, spark=spark)
        db.insert(src, copy=True)
        gone_path = db.select(
            ["marketDataFilePath"], where="marketId = '1.222000002'"
        )[0]["marketDataFilePath"]
        Path(gone_path).unlink()
        db.clean()
        files = _manifest_files(_manifest_read(db._index_path))
        for key, names in files.items():
            assert sorted(names) == _list_part_files(db._index_path, key)
        # history metadata still lists every version; under
        # retain_snapshots=1 no pruned non-empty snapshot stays readable
        vs = db.snapshots()
        assert len(vs) >= 2 and vs[-1]["current"] and vs[-1]["readable"]
        assert all(not s["readable"] for s in vs[:-1] if s["rows"] > 0)

    def test_lazy_reader_survives_concurrent_upsert(self, env, tmp_path):
        """The concurrent-reader payoff of retention: a reader that
        RESOLVED its file list (lazy DataFrame) before an upsert still
        collects the correct old-snapshot rows afterwards, because the
        files it holds are retained rather than reaped mid-read. (With
        retain_snapshots=1 the same sequence can hit deleted files —
        the documented single-writer caveat.)"""
        db = env
        v_before = db.snapshots()[-1]["version"]
        before_ids = self._ids(db)
        # a LAZY frame pinned to the current version's file list
        lazy = db.select_df(["marketId"], version=v_before)
        # concurrent writer: insert a new market (new commit, new files)
        src2 = tmp_path / "tt_lazy_src"
        src2.mkdir()
        meta = json.loads((tmp_path / "ttsrc" / "1.222000002.json").read_text())
        meta["marketId"] = "1.222990009"
        (src2 / "1.222990009.json").write_text(json.dumps(meta))
        (src2 / "1.222990009").write_text('{"op":"mcm"}')
        assert db.insert(src2, copy=True) == 1
        # the pre-upsert reader still sees exactly the old snapshot
        assert sorted(r["marketId"] for r in lazy.collect()) == before_ids

    def test_cross_process_reader_pinned_version(self, env, tmp_path):
        """Round 12 (verdict #5): the manifest/snapshot protocol's whole
        purpose is concurrent READERS in other processes — a real second
        process (own JVM, own SparkSession) holding ``version=N`` keeps
        reading byte-identical rows while this process runs insert →
        clean → vacuum(retaining N), and errors loudly once vacuum
        reaps N. The retention contract, tested across a process
        boundary instead of in-process lazy frames."""
        import subprocess
        import sys as _sys
        import time as _time

        db = env
        version = db.snapshots()[-1]["version"]
        box = tmp_path / "xproc"
        box.mkdir()
        repo = str(Path(__file__).resolve().parents[1])
        script = box / "reader.py"
        script.write_text(
            f"""
import os, sys, time
from pathlib import Path
sys.path.insert(0, {repo!r})
os.environ["SPARK_GRAFT_CPUS"] = "4"
os.environ["SPARK_DRIVER_MEMORY"] = "2g"
from betfair_database_spark.session import get_spark
from betfair_database_spark.database import BetfairDatabase

box = Path({str(box)!r})
spark = get_spark("xproc-reader")
db = BetfairDatabase({str(db.database_dir)!r}, spark=spark)
VERSION = {version}

def digest():
    rows = db.select(version=VERSION)
    return "%d:%s" % (
        len(rows),
        hash(tuple(sorted(repr(sorted(r.items())) for r in rows))),
    )

def wait(name, timeout=180):
    t0 = time.time()
    while not (box / name).exists():
        if time.time() - t0 > timeout:
            raise SystemExit("timeout waiting for " + name)
        time.sleep(0.2)

(box / "read1.txt").write_text(digest())
wait("go2")
(box / "read2.txt").write_text(digest())
wait("go3")
try:
    digest()
    out = "NO_ERROR"
except Exception as e:
    out = type(e).__name__ + ": " + str(e)[:300]
(box / "read3.txt").write_text(out)
"""
        )

        def wait_for(name, proc, timeout=240):
            t0 = _time.time()
            while not (box / name).exists():
                if proc.poll() is not None:
                    raise AssertionError(
                        f"reader died before {name}: "
                        f"{proc.stderr.read().decode()[-2000:]}"
                    )
                if _time.time() - t0 > timeout:
                    proc.kill()
                    raise AssertionError(f"timeout waiting for {name}")
                _time.sleep(0.3)
            return (box / name).read_text()

        proc = subprocess.Popen(
            [_sys.executable, str(script)],
            stdout=subprocess.DEVNULL,
            stderr=subprocess.PIPE,
        )
        try:
            read1 = wait_for("read1.txt", proc)
            # writer churn in THIS process: insert a new market + clean
            src2 = tmp_path / "xp_src"
            src2.mkdir()
            meta = json.loads(
                (tmp_path / "ttsrc" / "1.222000002.json").read_text()
            )
            meta["marketId"] = "1.222990077"
            (src2 / "1.222990077.json").write_text(json.dumps(meta))
            (src2 / "1.222990077").write_text('{"op":"mcm"}')
            assert db.insert(src2, copy=True) == 1
            gone = db.select(
                ["marketDataFilePath"], where="marketId = '1.222990077'"
            )[0]["marketDataFilePath"]
            Path(gone).unlink()
            assert db.clean() == 1
            # vacuum but RETAIN the reader's version (3 keeps it)
            db.vacuum(retain_last=3)
            assert any(
                s["version"] == version and s["readable"]
                for s in db.snapshots()
            )
            (box / "go2").touch()
            read2 = wait_for("read2.txt", proc)
            assert read2 == read1  # byte-identical through maintenance
            # now reap the reader's version
            db.vacuum(retain_last=1)
            (box / "go3").touch()
            read3 = wait_for("read3.txt", proc)
            assert read3.startswith("ValueError")
            assert "unknown index snapshot" in read3
            assert proc.wait(timeout=120) == 0
        finally:
            if proc.poll() is None:
                proc.kill()


class TestWriterLock:
    """Single-writer mutual exclusion (round 7): the crash-atomic commit
    protocol assumes one writer; the lock file beside the index enforces
    it with a loud ConcurrentWriterError on contention and a staleness
    takeover for dead holders."""

    @pytest.fixture()
    def env(self, spark, tmp_path_factory):
        from betfair_database_spark.database import BetfairDatabase

        base = tmp_path_factory.mktemp("lockenv")
        target = base / "db"
        target.mkdir()
        src = base / "src"
        build_corpus(src)
        db = BetfairDatabase(target, spark=spark)
        return db, src, base

    def test_concurrent_inserts_exactly_one_wins(self, spark, env):
        """Two overlapping insert() calls: the one that reaches the lock
        second raises ConcurrentWriterError, the winner commits a
        consistent snapshot."""
        import threading

        from betfair_database_spark.database import BetfairDatabase
        from betfair_database_spark.exceptions import ConcurrentWriterError

        db, src, base = env
        src2 = base / "src2"
        build_corpus(src2)
        db2 = BetfairDatabase(db.database_dir, spark=spark)

        entered = threading.Event()
        release = threading.Event()
        results: dict = {}

        import betfair_database_spark.inserts as insmod

        real_insert_markets = insmod.insert_markets

        def slow_insert_markets(*a, **kw):
            entered.set()
            assert release.wait(60)
            return real_insert_markets(*a, **kw)

        insmod.insert_markets = slow_insert_markets
        # database.insert imported the symbol lazily inside the method, so
        # patching the module attribute is enough
        try:
            t = threading.Thread(
                target=lambda: results.update(a=db.insert(src, copy=True))
            )
            t.start()
            assert entered.wait(60)
            # the first writer holds the lock (alive pid, this host)
            with pytest.raises(ConcurrentWriterError):
                db2.insert(src2, copy=True)
            release.set()
            t.join(120)
        finally:
            insmod.insert_markets = real_insert_markets
        assert results.get("a") == EXPECTED["rows"]
        assert db.size() == EXPECTED["rows"]
        # lock released: the loser can now write
        assert db2.insert(src2, copy=True, on_duplicates="skip") == 0

    def test_stale_lock_from_dead_pid_is_taken_over(self, env):
        import os
        import socket
        import subprocess

        db, src, _ = env
        # a real pid that has exited on this host
        proc = subprocess.Popen(["true"])
        proc.wait()
        lock = db.database_dir / ".betfairdatabaseindex.parquet.lock"
        lock.write_text(f"{proc.pid} {socket.gethostname()} 0.0")
        assert db.insert(src, copy=True) == EXPECTED["rows"]  # took over
        assert not lock.exists()

    def test_live_and_foreign_locks_are_respected(self, env):
        import os
        import socket

        from betfair_database_spark.exceptions import ConcurrentWriterError

        db, src, _ = env
        lock = db.database_dir / ".betfairdatabaseindex.parquet.lock"
        # live pid on this host -> contention
        lock.write_text(f"{os.getpid()} {socket.gethostname()} 0.0")
        with pytest.raises(ConcurrentWriterError):
            db.insert(src, copy=True)
        # foreign host -> never stolen, even with a dead-looking pid
        lock.write_text(f"999999999 not-{socket.gethostname()} 0.0")
        with pytest.raises(ConcurrentWriterError):
            db.insert(src, copy=True)
        # unreadable/garbage lock -> loud, not stolen
        lock.write_text("garbage")
        with pytest.raises(ConcurrentWriterError):
            db.insert(src, copy=True)
        lock.unlink()
        assert db.insert(src, copy=True) == EXPECTED["rows"]

    def test_foreign_lock_expired_heartbeat_taken_over(self, spark, env):
        """Cross-host liveness (round 9): a lock whose HEARTBEAT (mtime)
        is older than the lease is taken over even when its contents name
        a live-looking pid on another host — a crashed driver elsewhere
        no longer wedges maintenance forever. Strictly after the lease:
        the same foreign lock with a fresh heartbeat still raises."""
        import os
        import socket
        import time as _time

        from betfair_database_spark.exceptions import ConcurrentWriterError

        db, src, _ = env
        lock = db.database_dir / ".betfairdatabaseindex.parquet.lock"
        foreign = f"{os.getpid()} other-{socket.gethostname()} 0.0"
        # fresh heartbeat: NEVER stolen, regardless of lease
        lock.write_text(foreign)
        with pytest.raises(ConcurrentWriterError):
            db.insert(src, copy=True)
        # heartbeat one lease + epsilon in the past: taken over
        old = _time.time() - db.lock_lease_seconds - 5
        os.utime(lock, (old, old))
        assert db.insert(src, copy=True) == EXPECTED["rows"]
        assert not lock.exists()

    def test_heartbeat_keeps_live_holder_unstolen(self, spark, env):
        """The holder's daemon thread refreshes the lock mtime every
        lease/3, so a LIVE foreign-looking holder is never expired: with
        a sub-second lease, a second handle contends (loudly) for several
        lease durations while the first sits inside the context."""
        import time as _time

        from betfair_database_spark.database import BetfairDatabase
        from betfair_database_spark.exceptions import ConcurrentWriterError

        db, src, _ = env
        holder = BetfairDatabase(
            db.database_dir, spark=spark, lock_lease_seconds=0.4
        )
        contender = BetfairDatabase(
            db.database_dir, spark=spark, lock_lease_seconds=0.4
        )
        lock = db.database_dir / ".betfairdatabaseindex.parquet.lock"
        with holder._writer_lock():
            m0 = lock.stat().st_mtime
            _time.sleep(1.6)  # 4 lease durations; heartbeat every ~0.13 s
            assert lock.stat().st_mtime > m0  # the heartbeat really beats
            with pytest.raises(ConcurrentWriterError):
                with contender._writer_lock():
                    pass
        assert not lock.exists()  # released on exit
        with contender._writer_lock():  # now freely acquirable
            assert lock.exists()

    def test_takeover_race_admits_exactly_one_writer(self, spark, env):
        """Round 10 (ADVICE): N contenders that all observe the SAME
        expired heartbeat race the takeover — rename arbitration admits
        exactly ONE; the rest raise ConcurrentWriterError. The old
        unconditional unlink could delete the winner's freshly created
        lock and admit two writers."""
        import os
        import socket
        import threading
        import time as _time

        from betfair_database_spark.database import BetfairDatabase
        from betfair_database_spark.exceptions import ConcurrentWriterError

        db, src, _ = env
        lock = db.database_dir / ".betfairdatabaseindex.parquet.lock"
        n = 8
        for _round in range(3):
            # an expired foreign lock every contender sees as stale
            lock.write_text(f"12345 other-{socket.gethostname()} 0.0")
            old = _time.time() - 3600
            os.utime(lock, (old, old))
            handles = [
                BetfairDatabase(db.database_dir, spark=spark)
                for _ in range(n)
            ]
            barrier = threading.Barrier(n)
            reg = threading.Lock()
            holders, losers, errors = [], [], []
            active = [0]
            max_active = [0]

            def contend(h, i):
                barrier.wait()
                try:
                    with h._writer_lock():
                        with reg:
                            holders.append(i)
                            active[0] += 1
                            max_active[0] = max(max_active[0], active[0])
                        # hold until every other contender has resolved, so
                        # no loser can acquire sequentially after release
                        deadline = _time.monotonic() + 30
                        while _time.monotonic() < deadline:
                            with reg:
                                if len(holders) + len(losers) == n:
                                    break
                            _time.sleep(0.01)
                        with reg:
                            active[0] -= 1
                except ConcurrentWriterError:
                    with reg:
                        losers.append(i)
                except Exception as e:  # pragma: no cover
                    errors.append(e)

            ts = [
                threading.Thread(target=contend, args=(h, i))
                for i, h in enumerate(handles)
            ]
            for t in ts:
                t.start()
            for t in ts:
                t.join(60)
            assert not errors
            assert max_active[0] == 1  # never two concurrent writers
            assert len(holders) == 1, (holders, losers)
            assert len(losers) == n - 1
            assert not lock.exists()
            # no claim/arbitration temp files leaked
            assert not list(db.database_dir.glob("*.lock.tko*"))
            assert not list(db.database_dir.glob("*.lock.rel.*"))

    def test_release_restores_taken_over_lock_and_is_loud(self, spark, env):
        """Round 10 (ADVICE): if the lease is taken over mid-write, (a)
        release must NOT delete the new holder's lock (rename-verify
        restores it), and (b) the lost lease is LOUD — the context exit
        raises instead of silently returning a possibly-raced commit."""
        import os
        import socket
        import time as _time

        from betfair_database_spark.database import BetfairDatabase
        from betfair_database_spark.exceptions import ConcurrentWriterError

        db, src, _ = env
        holder = BetfairDatabase(
            db.database_dir, spark=spark, lock_lease_seconds=0.4
        )
        lock = db.database_dir / ".betfairdatabaseindex.parquet.lock"
        thief = f"99999 thief-{socket.gethostname()} 0.0"
        with pytest.raises(ConcurrentWriterError, match="lease lost"):
            with holder._writer_lock():
                lock.write_text(thief)  # simulate a lease takeover
                _time.sleep(0.6)  # let the heartbeat observe it
        # the new holder's lock survived our release
        assert lock.read_text().strip() == thief
        assert holder._lease_lost
        lock.unlink()

    def test_heartbeat_retries_transient_utime_failures(
        self, spark, env, monkeypatch
    ):
        """Round 10 (ADVICE): a transient OSError from os.utime (NFS blip)
        must not permanently stop lease refresh — the heartbeat retries
        within the lease and the holder keeps the lock, quietly."""
        import os
        import time as _time

        from betfair_database_spark.database import BetfairDatabase

        db, src, _ = env
        holder = BetfairDatabase(
            db.database_dir, spark=spark, lock_lease_seconds=0.6
        )
        lock = db.database_dir / ".betfairdatabaseindex.parquet.lock"
        real_utime = os.utime
        fails = {"left": 2}

        def flaky(path, *a, **kw):
            if str(path) == str(lock) and fails["left"] > 0:
                fails["left"] -= 1
                raise OSError("transient storage hiccup")
            return real_utime(path, *a, **kw)

        monkeypatch.setattr(
            "betfair_database_spark.database.os.utime", flaky
        )
        with holder._writer_lock():
            m0 = lock.stat().st_mtime
            _time.sleep(1.5)
            assert fails["left"] == 0  # the flaky window was exercised
            assert lock.stat().st_mtime > m0  # refresh recovered
        assert not holder._lease_lost
        assert not lock.exists()

    def test_persistent_utime_failure_is_loud_after_one_lease(
        self, spark, env, monkeypatch
    ):
        """Round 10 (ADVICE): when refresh failures persist a full lease,
        the holder is told loudly on exit (the lock may have been taken
        over by then) instead of finishing silently."""
        import time as _time

        from betfair_database_spark.database import BetfairDatabase
        from betfair_database_spark.exceptions import ConcurrentWriterError

        db, src, _ = env
        holder = BetfairDatabase(
            db.database_dir, spark=spark, lock_lease_seconds=0.3
        )

        def always_fail(path, *a, **kw):
            raise OSError("storage gone")

        monkeypatch.setattr(
            "betfair_database_spark.database.os.utime", always_fail
        )
        with pytest.raises(ConcurrentWriterError, match="lease lost"):
            with holder._writer_lock():
                _time.sleep(1.2)
        assert holder._lease_lost

    def test_lock_restore_falls_back_without_hardlinks(
        self, tmp_path, monkeypatch
    ):
        """Round 11 (ADVICE): restoring a raced-away fresh lock must not
        silently no-op on filesystems without hard-link support (NFS /
        object-store mounts) — that would delete the new holder's lock
        and admit a second writer for up to a lease. The fallback
        re-creates the lock via O_EXCL with the same contents."""
        import os as _os

        import betfair_database_spark.database as dbmod

        lock = tmp_path / ".lock"
        lock.write_text("4242 otherhost 1.0")

        def no_links(src, dst, *a, **kw):
            raise OSError(95, "Operation not supported")

        monkeypatch.setattr(dbmod.os, "link", no_links)
        # release path: the renamed file turns out not to be ours
        dbmod._lock_release(lock, mine="9999 myhost 2.0")
        assert lock.read_text() == "4242 otherhost 1.0"
        assert not list(tmp_path.glob(".lock.rel.*"))
        # never-clobber: a lock that reappears mid-restore is preserved
        tmp = tmp_path / ".lock.t"
        tmp.write_text("1111 thirdhost 3.0")
        dbmod._lock_restore(tmp, lock)
        assert lock.read_text() == "4242 otherhost 1.0"
        _os.unlink(tmp)

    def test_cross_process_writer_contention_and_handoff(self, env):
        """Round 12: the lease lock's claim is CROSS-PROCESS mutual
        exclusion, but every contention test so far ran threads in one
        process. A real second process (own JVM, own SparkSession)
        attempting insert() while THIS process holds the writer lock
        must get ConcurrentWriterError; after release it must succeed,
        and the child's commit must be readable here — the full
        lock-protocol round trip over the shared filesystem."""
        import subprocess
        import sys as _sys
        import time as _time

        db, src, base = env
        assert db.insert(src, copy=True) == EXPECTED["rows"]
        box = base / "xpw"
        box.mkdir()
        # a corpus of one NEW market for the child to insert
        src2 = box / "src2"
        src2.mkdir()
        meta = json.loads((src / "1.222000001.json").read_text())
        meta["marketId"] = "1.222990088"
        (src2 / "1.222990088.json").write_text(json.dumps(meta))
        (src2 / "1.222990088").write_text(
            (src / "1.222000001").read_text()
        )
        repo = str(Path(__file__).resolve().parents[1])
        script = box / "writer.py"
        script.write_text(
            f"""
import os, sys, time
from pathlib import Path
sys.path.insert(0, {repo!r})
os.environ["SPARK_GRAFT_CPUS"] = "4"
os.environ["SPARK_DRIVER_MEMORY"] = "2g"
from betfair_database_spark.session import get_spark
from betfair_database_spark.database import BetfairDatabase
from betfair_database_spark.exceptions import ConcurrentWriterError

box = Path({str(box)!r})
spark = get_spark("xproc-writer")
db = BetfairDatabase({str(db.database_dir)!r}, spark=spark)

def wait(name, timeout=180):
    t0 = time.time()
    while not (box / name).exists():
        if time.time() - t0 > timeout:
            raise SystemExit("timeout waiting for " + name)
        time.sleep(0.2)

wait("go1")  # parent holds the lock
try:
    db.insert({str(src2)!r}, copy=True)
    out1 = "NO_ERROR"
except ConcurrentWriterError as e:
    out1 = "ConcurrentWriterError"
except Exception as e:
    out1 = type(e).__name__ + ": " + str(e)[:200]
(box / "attempt1.txt").write_text(out1)
wait("go2")  # parent released
n = db.insert({str(src2)!r}, copy=True)
(box / "attempt2.txt").write_text(str(n))
"""
        )

        def wait_for(name, proc, timeout=300):
            t0 = _time.time()
            while not (box / name).exists():
                if proc.poll() is not None:
                    raise AssertionError(
                        f"writer died before {name}: "
                        f"{proc.stderr.read().decode()[-2000:]}"
                    )
                if _time.time() - t0 > timeout:
                    proc.kill()
                    raise AssertionError(f"timeout waiting for {name}")
                _time.sleep(0.3)
            return (box / name).read_text()

        proc = subprocess.Popen(
            [_sys.executable, str(script)],
            stdout=subprocess.DEVNULL,
            stderr=subprocess.PIPE,
        )
        try:
            with db._writer_lock():  # this process holds the lease
                (box / "go1").touch()
                assert wait_for("attempt1.txt", proc) == (
                    "ConcurrentWriterError"
                )
            (box / "go2").touch()
            assert wait_for("attempt2.txt", proc) == "1"
            assert proc.wait(timeout=180) == 0
        finally:
            if proc.poll() is None:
                proc.kill()
        # the child's commit is visible to THIS process's handle
        rows = db.select(
            ["marketId"], where="marketId = '1.222990088'"
        )
        assert len(rows) == 1
        assert db.size() == EXPECTED["rows"] + 1
        # and this process can take the lock again afterwards
        assert db.clean() == 0


class TestMaterializedRollup:
    """The built-in continuous-aggregate rollup (``rollup.BUILTIN_ROLLUP``,
    served by the spec machinery): incrementally maintained by
    insert()/clean(), never re-reads the index on an incremental update,
    and refuses to serve stale aggregates after a simulated crash between
    the index commit and the rollup swap."""

    @pytest.fixture(scope="class")
    def env(self, spark, tmp_path_factory):
        from betfair_database_spark.database import BetfairDatabase

        base = tmp_path_factory.mktemp("rollupenv")
        target = base / "db"
        target.mkdir()
        src = base / "src"
        build_corpus(src)
        db = BetfairDatabase(target, spark=spark)
        db.insert(src, copy=True)
        return db, src

    @staticmethod
    def _recomputed(db):
        from betfair_database_spark.rollup import (
            BUILTIN_ROLLUP,
            spec_view,
            summarize_spec,
        )

        ref = spec_view(
            summarize_spec(db._read_index(), BUILTIN_ROLLUP), BUILTIN_ROLLUP
        )
        return {tuple(r) for r in ref.collect()}

    @staticmethod
    def _materialized(db):
        return {tuple(r) for r in db.rollup().collect()}

    def test_missing_rollup_raises(self, spark, tmp_path):
        from betfair_database_spark.database import BetfairDatabase
        from betfair_database_spark.exceptions import RollupMissingError

        root = tmp_path / "nodb"
        root.mkdir()
        (root / "1.900000003.json").write_text(
            '{"marketId":"1.900000003","marketName":"X",'
            '"marketStartTime":"2023-01-01T00:00:00.000Z"}'
        )
        (root / "1.900000003").write_text('{"marketId":"1.900000003"}')
        db = BetfairDatabase(root, spark=spark)
        db.index()
        with pytest.raises(RollupMissingError):
            db.rollup()

    def test_create_and_read_back(self, env):
        db, _ = env
        n = db.create_rollup()
        got = db.rollup()
        assert [f.simpleString() for f in got.schema.fields] == [
            "eventTypeId:string",
            "startDate:date",
            "markets:bigint",
            "bspMarkets:bigint",
            "inPlayMarkets:bigint",
            "settledMarkets:bigint",
            "runnersTotal:bigint",
            "firstStart:string",
            "lastStart:string",
        ]
        rows = self._materialized(db)
        assert len(rows) == n > 0
        assert rows == self._recomputed(db)

    def test_insert_maintains_rollup(self, env):
        db, src = env
        p = src / "1.222000001.json"
        d = json.loads(p.read_text())
        d["description"]["marketTime"] = "2023-07-28T14:30:00.000Z"
        p.write_text(json.dumps(d))
        assert db.insert(src, copy=True, on_duplicates="update") == 1
        assert self._materialized(db) == self._recomputed(db)

    def test_clean_maintains_rollup(self, env):
        db, _ = env
        # the insert above laid files out under the betfair_historical
        # pattern; remove one data file so clean() has something to reap
        victim = next(
            pathlib.Path(r["marketDataFilePath"])
            for r in db.select(["marketDataFilePath"])
        )
        victim.unlink()
        assert db.clean() == 1
        assert self._materialized(db) == self._recomputed(db)

    def test_incremental_update_never_rereads_index(self, env, monkeypatch):
        from betfair_database_spark import rollup as R
        from betfair_database_spark.database import BetfairDatabase

        db, _ = env
        repl = db._read_index().localCheckpoint()  # captured BEFORE the patch
        touched = [r[0] for r in repl.select("eventTypeId").distinct().collect()]

        def boom(self, version=None):
            raise AssertionError("incremental rollup update re-read the index")

        monkeypatch.setattr(BetfairDatabase, "_read_index", boom)
        R.spec_rollup_update(db, repl, touched)  # must not touch the index
        monkeypatch.undo()
        assert self._materialized(db) == self._recomputed(db)

    def test_stale_rollup_detected_and_healed(self, env):
        from betfair_database_spark.exceptions import StaleRollupError
        from betfair_database_spark.rollup import _META_NAME, spec_rollup_path

        db, _ = env
        meta_file = spec_rollup_path(db.database_dir, "builtin") / _META_NAME
        meta = json.loads(meta_file.read_text())
        # simulate a crash between the index commit and the rollup swap:
        # the rollup's recorded snapshot lags the committed index manifest
        meta["index_snapshot"] = meta["index_snapshot"] - 1
        meta_file.write_text(json.dumps(meta))
        with pytest.raises(StaleRollupError):
            db.rollup()
        db.create_rollup()  # the documented heal
        assert self._materialized(db) == self._recomputed(db)

    def test_crashed_swap_staleness_not_laundered(self, env):
        """A rollup whose recorded snapshot is MORE than one behind the
        commit being maintained (a prior op crashed between its index
        commit and rollup swap) must NOT be carried over and re-stamped
        fresh by the next incremental update — spec_rollup_update detects
        the gap (sequential snapshots: only snap-1/snap are safe bases) and
        heals with a full rebuild. Pinned by tampering an UNTOUCHED
        partition's rollup row: laundering would preserve the tamper and
        stamp it fresh; the rebuild discards it."""
        from pyspark.sql import functions as F

        from betfair_database_spark import rollup as R
        from betfair_database_spark.database import _manifest_snapshot_no

        db, _ = env
        live = R.spec_rollup_path(db.database_dir, "builtin")
        rows = db.spark.read.parquet(str(live))
        parts = sorted(
            r[0] for r in rows.select("eventTypeId").distinct().collect()
        )
        assert len(parts) >= 2
        tampered_part, touched_part = parts[0], parts[-1]
        bad = rows.withColumn(
            "_p_markets",
            F.when(
                F.col("eventTypeId") == tampered_part,
                F.col("_p_markets") + 999,
            ).otherwise(F.col("_p_markets")),
        ).localCheckpoint()
        snap = _manifest_snapshot_no(db._index_path)
        # stale by 2: a prior swap crashed
        R._spec_atomic_swap(
            db,
            live,
            bad,
            {
                "index_snapshot": snap - 2,
                "spec": R.BUILTIN_ROLLUP,
                "name": "builtin",
            },
        )
        repl = db._read_index().localCheckpoint()
        R.spec_rollup_update(db, repl, [touched_part])
        # healed: tamper gone, stamped current, serves without raising
        assert self._materialized(db) == self._recomputed(db)

    def test_full_reindex_rebuilds_rollup(self, env):
        db, _ = env
        db.index(force=True)
        assert self._materialized(db) == self._recomputed(db)

    def test_builtin_name_is_reserved_and_startDate_routes(self, env):
        """``builtin`` names the built-in spec: with dims/aggs it is
        refused, without them it heals exactly like create_rollup(). Its
        derived ``startDate`` dim routes like any spec dim and equals
        the scan, which resolves the alias from the persisted spec."""
        db, _ = env
        with pytest.raises(ValueError, match="builtin"):
            db.create_rollup(
                name="builtin", dims=["marketType"], aggs=["n=count()"]
            )
        assert db.create_rollup(name="builtin") == db.create_rollup()
        assert self._materialized(db) == self._recomputed(db)
        q = dict(
            columns=["startDate", "count(*) AS n"], group_by=["startDate"]
        )
        got = sorted(tuple(r) for r in db.select(return_dict=False, **q))
        assert db.last_select_route == "rollup:builtin"
        want = sorted(
            tuple(r)
            for r in db.select(return_dict=False, use_rollups=False, **q)
        )
        assert db.last_select_route == "scan"
        assert got == want and got


class TestSpecRollups:
    """User-declared rollup specs (round 9): named rollups with arbitrary
    index-column/derived dims and mergeable aggregates share the default
    rollup's whole protocol — partition-incremental maintenance through
    insert()/clean(), snapshot stamping, StaleRollupError on the crash
    window — and serve the USER grain even when the dims don't contain
    the partition key (internal partials merged at read time)."""

    SPEC_A = dict(
        name="bytype",
        dims=["eventTypeId", "marketType"],
        aggs=["markets=count()", "runnersTotal=sum(runners)"],
    )
    SPEC_B = dict(  # dims WITHOUT the partition key + derived dim + HLL
        name="bycountry",
        dims=[
            "eventCountryCode",
            "startDay=to_date(substring(marketStartTime, 1, 10))",
        ],
        aggs=[
            "markets=count()",
            "firstStart=min(marketStartTime)",
            "lastStart=max(marketStartTime)",
            "venues=approx_count_distinct(eventVenue)",
        ],
    )

    @pytest.fixture(scope="class")
    def env(self, spark, tmp_path_factory):
        from betfair_database_spark.database import BetfairDatabase

        base = tmp_path_factory.mktemp("specrollup")
        target = base / "db"
        target.mkdir()
        src = base / "src"
        build_corpus(src)
        db = BetfairDatabase(target, spark=spark)
        db.insert(src, copy=True)
        db.create_rollup(**self.SPEC_A)
        db.create_rollup(**self.SPEC_B)
        return db, src

    @staticmethod
    def _from_scratch(db, spec):
        from betfair_database_spark.rollup import (
            parse_spec,
            spec_view,
            summarize_spec,
        )

        s = parse_spec(spec["dims"], spec["aggs"])
        return {
            tuple(r)
            for r in spec_view(
                summarize_spec(db._read_index(), s), s
            ).collect()
        }

    def _served(self, db, name):
        return {tuple(r) for r in db.rollup(name).collect()}

    def test_create_and_read_back_both_specs(self, env):
        db, _ = env
        for spec in (self.SPEC_A, self.SPEC_B):
            got = self._served(db, spec["name"])
            assert got and got == self._from_scratch(db, spec)

    def test_insert_maintains_both_specs(self, env):
        db, src = env
        p = src / "1.222000001.json"
        d = json.loads(p.read_text())
        d["description"]["marketTime"] = "2023-08-02T10:00:00.000Z"
        p.write_text(json.dumps(d))
        assert db.insert(src, copy=True, on_duplicates="update") == 1
        for spec in (self.SPEC_A, self.SPEC_B):
            assert self._served(db, spec["name"]) == self._from_scratch(
                db, spec
            )

    def test_clean_maintains_both_specs(self, env):
        db, _ = env
        victim = next(
            pathlib.Path(r["marketDataFilePath"])
            for r in db.select(["marketDataFilePath"])
        )
        victim.unlink()
        assert db.clean() == 1
        for spec in (self.SPEC_A, self.SPEC_B):
            assert self._served(db, spec["name"]) == self._from_scratch(
                db, spec
            )

    def test_spec_incremental_update_never_rereads_index(self, env, monkeypatch):
        """The named-rollup incremental update has the same no-reread
        contract as the default rollup: touched partitions come from the
        in-memory replacement frame, untouched rows from the previous
        rollup file — the index parquet is never scanned."""
        from betfair_database_spark import rollup as R
        from betfair_database_spark.database import BetfairDatabase

        db, _ = env
        repl = db._read_index().localCheckpoint()  # captured BEFORE the patch
        touched = [r[0] for r in repl.select("eventTypeId").distinct().collect()]

        def boom(self, version=None):
            raise AssertionError("spec rollup update re-read the index")

        monkeypatch.setattr(BetfairDatabase, "_read_index", boom)
        R.spec_rollup_update(db, repl, touched)
        monkeypatch.undo()
        for spec in (self.SPEC_A, self.SPEC_B):
            assert self._served(db, spec["name"]) == self._from_scratch(
                db, spec
            )

    def test_stale_named_rollup_detected(self, env):
        from betfair_database_spark.exceptions import StaleRollupError
        from betfair_database_spark.rollup import _META_NAME, spec_rollup_path

        db, _ = env
        meta_file = (
            spec_rollup_path(db.database_dir, "bytype") / _META_NAME
        )
        meta = json.loads(meta_file.read_text())
        meta["index_snapshot"] -= 1  # crash between index commit and swap
        meta_file.write_text(json.dumps(meta))
        with pytest.raises(StaleRollupError):
            db.rollup("bytype")
        db.create_rollup(name="bytype")  # heal from the persisted spec
        assert self._served(db, "bytype") == self._from_scratch(
            db, self.SPEC_A
        )

    def test_bad_specs_rejected(self, env):
        db, _ = env
        with pytest.raises(ValueError):
            db.create_rollup(
                name="x", dims=["noSuchColumn"], aggs=["n=count()"]
            )
        with pytest.raises(ValueError):
            db.create_rollup(
                name="x", dims=["marketType"], aggs=["n=median(runners)"]
            )
        with pytest.raises(ValueError):
            db.create_rollup(name="x", dims=["marketType"], aggs=[])
        with pytest.raises(ValueError):  # _p_ is the partials namespace
            db.create_rollup(
                name="x", dims=["_p_d=upper(marketType)"], aggs=["n=count()"]
            )
        # round 10 (ADVICE): a lone half of a spec must not silently fall
        # into the heal-from-persisted-spec path and discard the caller's
        # new dims/aggs — even for a name whose spec exists
        with pytest.raises(ValueError, match="both dims"):
            db.create_rollup(name="bytype", dims=["marketType"])
        with pytest.raises(ValueError, match="both dims"):
            db.create_rollup(name="bytype", aggs=["n=count()"])

    def test_drop_rollup(self, env):
        from betfair_database_spark.exceptions import RollupMissingError

        db, _ = env
        assert db.drop_rollup("bycountry") is True
        assert db.drop_rollup("bycountry") is False
        with pytest.raises(RollupMissingError):
            db.rollup("bycountry")
        # the other spec (and the default machinery) is untouched
        assert self._served(db, "bytype") == self._from_scratch(
            db, self.SPEC_A
        )


def test_rollup_stays_fresh_under_time_travel_and_vacuum(spark, tmp_path):
    """Rollup + snapshot retention interplay: with retain_snapshots > 1,
    maintenance keeps the rollup at the LIVE snapshot while older index
    snapshots stay readable; vacuum() reaps history without touching
    rollup freshness."""
    from betfair_database_spark.database import BetfairDatabase
    from betfair_database_spark.rollup import (
        BUILTIN_ROLLUP,
        spec_view,
        summarize_spec,
    )

    base = tmp_path
    target = base / "db"
    target.mkdir()
    src = base / "src"
    build_corpus(src)
    db = BetfairDatabase(target, spark=spark, retain_snapshots=3)
    db.insert(src, copy=True)
    db.create_rollup()
    v0 = db.snapshots()[-1]["version"]

    p = src / "1.222000001.json"
    d = json.loads(p.read_text())
    d["description"]["marketTime"] = "2023-07-28T15:45:00.000Z"
    p.write_text(json.dumps(d))
    assert db.insert(src, copy=True, on_duplicates="update") == 1

    # rollup followed the live snapshot...
    got = {tuple(r) for r in db.rollup().collect()}
    ref = spec_view(
        summarize_spec(db._read_index(), BUILTIN_ROLLUP), BUILTIN_ROLLUP
    )
    want = {tuple(r) for r in ref.collect()}
    assert got == want
    # ...while the PRE-update snapshot is still readable (time travel)
    old = db.select_df(version=v0)
    assert old.count() == db.size()

    assert db.vacuum(retain_last=1) > 0  # history reaped
    got = {tuple(r) for r in db.rollup().collect()}  # rollup untouched
    assert got == want


def test_snapshot_diff_reports_added_removed_changed(spark, tmp_path):
    """diff(v_old[, v_new]): one row per difference across two committed
    snapshots — an update is 'changed', a clean is 'removed', a new
    market is 'added'; identical rows never appear."""
    from betfair_database_spark.database import BetfairDatabase

    base = tmp_path
    target = base / "db"
    target.mkdir()
    src = base / "src"
    build_corpus(src)
    db = BetfairDatabase(target, spark=spark, retain_snapshots=10)
    db.insert(src, copy=True)
    v1 = db.snapshots()[-1]["version"]

    # change one market's metadata
    p = src / "1.222000001.json"
    d = json.loads(p.read_text())
    d["description"]["marketTime"] = "2023-07-28T16:20:00.000Z"
    p.write_text(json.dumps(d))
    assert db.insert(src, copy=True, on_duplicates="update") == 1
    v2 = db.snapshots()[-1]["version"]

    d12 = {
        (r["change_type"], r["marketMetadataFilePath"].rsplit("/", 1)[-1])
        for r in db.diff(v1, v2).collect()
    }
    assert d12 == {("changed", "1.222000001.json")}

    # remove a market's data file -> clean() drops the row
    victim = next(
        pathlib.Path(r["marketDataFilePath"])
        for r in db.select(
            ["marketDataFilePath"], where="marketId = '1.222000002'"
        )
    )
    victim.unlink()
    assert db.clean() == 1
    d2live = {
        (r["change_type"], r["marketMetadataFilePath"].rsplit("/", 1)[-1])
        for r in db.diff(v2).collect()  # vs live
    }
    assert d2live == {("removed", "1.222000002.json")}

    # no self-diff noise
    assert db.diff(v1, v1).count() == 0


class TestRollupRouting:
    """Rollup auto-routing (round 10, verdict #1): a select() aggregate
    covered by a FRESH materialized rollup is served from the rollup and
    never reads the index parquet; anything uncovered, ambiguous or
    stale falls back to the scan silently. Routed answers equal the
    scan's exactly (the staleness protocol guarantees it)."""

    SPEC = dict(
        name="byvenue",
        dims=["eventVenue", "marketType"],
        aggs=[
            "n=count()",
            "nr=count(runners)",  # non-null count: the avg denominator
            "runnersTotal=sum(runners)",
            "rsq=sumsq(runners)",  # second moment: stddev/var numerator
            "rhist=hist(runners, 0, 40, 16)",  # percentile partial
            "rq=qsketch(runners)",  # log-linear quantile sketch (r13)
            "firstStart=min(marketStartTime)",
            "ids=approx_count_distinct(marketId)",
        ],
    )
    SPEC_DAY = dict(  # derived dim: day-grain continuous aggregate
        name="byday",
        dims=["startDay=to_date(substring(marketStartTime, 1, 10))"],
        aggs=["n=count()", "runnersTotal=sum(runners)"],
    )

    @pytest.fixture(scope="class")
    def env(self, spark, tmp_path_factory):
        from betfair_database_spark.database import BetfairDatabase

        base = tmp_path_factory.mktemp("routing")
        target = base / "db"
        target.mkdir()
        src = base / "src"
        build_corpus(src)
        db = BetfairDatabase(target, spark=spark)
        db.insert(src, copy=True)
        db.create_rollup()  # built-in
        db.create_rollup(**self.SPEC)
        db.create_rollup(**self.SPEC_DAY)
        return db, src

    @staticmethod
    def _rows(db, **kw):
        return sorted(
            (tuple(r) for r in db.select(return_dict=False, **kw)),
            key=lambda t: tuple((v is None, v) for v in t),
        )

    def test_covered_query_never_reads_index(self, env, monkeypatch):
        from betfair_database_spark.database import BetfairDatabase

        db, _ = env
        q = dict(
            columns=[
                "eventVenue",
                "count(*) AS n",
                "sum(runners) AS runnersTotal",
            ],
            group_by=["eventVenue"],
        )
        want = self._rows(db, use_rollups=False, **q)
        assert db.last_select_route == "scan"

        def boom(self, version=None):  # pragma: no cover
            raise AssertionError("index parquet read during routed select")

        monkeypatch.setattr(BetfairDatabase, "_read_index", boom)
        got = self._rows(db, **q)
        assert db.last_select_route == "rollup:byvenue"
        assert got == want and got

    def test_where_and_subset_dims_route(self, env, monkeypatch):
        from betfair_database_spark.database import BetfairDatabase

        db, _ = env
        q = dict(
            columns=["marketType", "count(*) AS n"],
            where="marketType IN ('WIN', 'PLACE') AND eventVenue IS NOT NULL",
            group_by=["marketType"],
        )
        want = self._rows(db, use_rollups=False, **q)
        monkeypatch.setattr(
            BetfairDatabase,
            "_read_index",
            lambda *a, **k: (_ for _ in ()).throw(AssertionError("scan")),
        )
        got = self._rows(db, **q)
        assert db.last_select_route == "rollup:byvenue"
        assert got == want and got

    def test_approx_distinct_routed_equals_scan(self, env):
        db, _ = env
        q = dict(
            columns=["eventVenue", "approx_count_distinct(marketId) AS ids"],
            group_by=["eventVenue"],
        )
        want = self._rows(db, use_rollups=False, **q)
        got = self._rows(db, **q)
        assert db.last_select_route == "rollup:byvenue"
        assert got == want  # same DataSketches HLL on both paths

    def test_builtin_rollup_routes_eventTypeId(self, env, monkeypatch):
        from betfair_database_spark.database import BetfairDatabase

        db, _ = env
        q = dict(
            columns=[
                "eventTypeId",
                "count(*) AS markets",
                "min(marketStartTime) AS firstStart",
                "count(marketSettledTime) AS settled",
            ],
            group_by=["eventTypeId"],
        )
        want = self._rows(db, use_rollups=False, **q)
        monkeypatch.setattr(
            BetfairDatabase,
            "_read_index",
            lambda *a, **k: (_ for _ in ()).throw(AssertionError("scan")),
        )
        # the spec rollup does not cover these aggs; the built-in does
        got = self._rows(db, **q)
        assert db.last_select_route == "rollup:builtin"
        assert got == want and got

    def test_global_aggregate_routes(self, env, monkeypatch):
        from betfair_database_spark.database import BetfairDatabase

        db, _ = env
        q = dict(columns=["count(*) AS n"], group_by=[])
        want = self._rows(db, use_rollups=False, **q)
        monkeypatch.setattr(
            BetfairDatabase,
            "_read_index",
            lambda *a, **k: (_ for _ in ()).throw(AssertionError("scan")),
        )
        got = self._rows(db, **q)
        assert db.last_select_route.startswith("rollup:")
        assert got == want == [(db.size(),)]
        # filtered-to-empty global count must be 0 on the routed path too
        empty = self._rows(
            db,
            columns=["count(*) AS n"],
            where="eventVenue = 'no-such-venue-xyzzy'",
            group_by=[],
        )
        assert db.last_select_route.startswith("rollup:")
        assert empty == [(0,)]

    def test_stale_rollup_falls_back_to_scan(self, env):
        import json as _json

        from betfair_database_spark.rollup import _META_NAME, spec_rollup_path

        db, _ = env
        q = dict(
            columns=["eventVenue", "count(*) AS n"],
            group_by=["eventVenue"],
        )
        want = self._rows(db, use_rollups=False, **q)
        metas = []
        for p in (
            spec_rollup_path(db.database_dir, "byvenue"),
            spec_rollup_path(db.database_dir, "builtin"),
        ):
            mf = p / _META_NAME
            meta = _json.loads(mf.read_text())
            metas.append((mf, dict(meta)))
            meta["index_snapshot"] -= 1  # simulate the crash window
            mf.write_text(_json.dumps(meta))
        try:
            got = self._rows(db, **q)  # falls back, NEVER raises
            assert db.last_select_route == "scan"
            assert got == want
        finally:
            for mf, meta in metas:
                mf.write_text(_json.dumps(meta))
        got = self._rows(db, **q)  # fresh again: routed again
        assert db.last_select_route == "rollup:byvenue"
        assert got == want

    def test_uncovered_shapes_fall_back(self, env):
        db, _ = env
        # WHERE on a non-dim column: unroutable
        self._rows(
            db,
            columns=["eventVenue", "count(*) AS n"],
            where="marketId = '1.222000001'",
            group_by=["eventVenue"],
        )
        assert db.last_select_route == "scan"
        # aggregate no rollup stores: unroutable
        self._rows(
            db,
            columns=["eventVenue", "max(marketId) AS m"],
            group_by=["eventVenue"],
        )
        assert db.last_select_route == "scan"
        # un-aliased aggregate: unroutable (output naming would differ)
        db.select_df(
            columns=["eventVenue", "count(*)"], group_by=["eventVenue"]
        )
        assert db.last_select_route == "scan"
        # plain projection select: untouched by routing
        rows = db.select(columns=["marketId"], limit=3)
        assert db.last_select_route == "scan" and len(rows) == 3

    def test_derived_dim_routes_and_falls_back(self, env, monkeypatch):
        """Round 10 (full form of verdict #1): a DERIVED-dim spec rollup
        (day grain) routes covered queries, and the scan fallback
        resolves the alias from the PERSISTED spec — the same query text
        works whether the rollup is fresh or stale."""
        import json as _json

        from betfair_database_spark.database import BetfairDatabase
        from betfair_database_spark.rollup import _META_NAME, spec_rollup_path

        db, _ = env
        q = dict(
            columns=["startDay", "count(*) AS n", "sum(runners) AS r"],
            group_by=["startDay"],
        )
        want = self._rows(db, use_rollups=False, **q)  # scan: alias resolved
        assert db.last_select_route == "scan" and want
        monkeypatch.setattr(
            BetfairDatabase,
            "_read_index",
            lambda *a, **k: (_ for _ in ()).throw(AssertionError("scan")),
        )
        got = self._rows(db, **q)
        assert db.last_select_route == "rollup:byday"
        assert got == want
        monkeypatch.undo()
        # stale byday: falls back to the scan, alias STILL resolves
        mf = spec_rollup_path(db.database_dir, "byday") / _META_NAME
        meta = _json.loads(mf.read_text())
        orig = dict(meta)
        meta["index_snapshot"] -= 1
        mf.write_text(_json.dumps(meta))
        try:
            got = self._rows(db, **q)
            assert db.last_select_route == "scan"
            assert got == want
        finally:
            mf.write_text(_json.dumps(orig))
        # a WHERE over a plain column byday does not store is NOT
        # routable via byday — the scan serves it, alias still resolved
        rows = db.select(
            columns=["startDay", "count(*) AS n"],
            where="eventVenue IS NOT NULL",
            group_by=["startDay"],
            return_dict=False,
        )
        assert db.last_select_route == "scan" and rows

    def test_limit_and_use_rollups_false(self, env):
        db, _ = env
        q = dict(
            columns=["eventVenue", "count(*) AS n"],
            group_by=["eventVenue"],
        )
        routed = self._rows(db, limit=2, **q)
        assert db.last_select_route == "rollup:byvenue"
        assert len(routed) == 2
        self._rows(db, use_rollups=False, **q)
        assert db.last_select_route == "scan"

    def test_avg_routes_from_sum_count_partials(self, env, monkeypatch):
        """Round 11 (verdict #4): avg(col) routes when the covering spec
        stores BOTH sum(col) and count(col); both paths serve the same
        sum/count division, so routed == scan exactly."""
        from betfair_database_spark.database import BetfairDatabase

        db, _ = env
        q = dict(
            columns=["eventVenue", "avg(runners) AS avgRunners"],
            group_by=["eventVenue"],
        )
        want = self._rows(db, use_rollups=False, **q)
        assert db.last_select_route == "scan" and want
        monkeypatch.setattr(
            BetfairDatabase,
            "_read_index",
            lambda *a, **k: (_ for _ in ()).throw(AssertionError("scan")),
        )
        got = self._rows(db, **q)
        assert db.last_select_route == "rollup:byvenue"
        assert got == want
        monkeypatch.undo()
        # byday stores sum(runners) but only count() — avg needs the
        # NON-NULL count(col) partial, so the query scans (and works)
        rows = self._rows(
            db,
            columns=["startDay", "avg(runners) AS avgRunners"],
            group_by=["startDay"],
        )
        assert db.last_select_route == "scan" and rows

    def test_derived_dim_where_routes_and_scan_resolves(
        self, env, monkeypatch
    ):
        """Round 11 (verdict #3): WHERE on a DERIVED rollup dim routes
        (the alias is a stored column of the partials frame; filtering
        group dims commutes with the merge), and the scan fallback
        resolves the alias inside WHERE from the persisted spec — the
        same query text works fresh or stale."""
        import json as _json

        from betfair_database_spark.database import BetfairDatabase
        from betfair_database_spark.rollup import (
            _META_NAME,
            spec_rollup_path,
        )

        db, _ = env
        q = dict(
            columns=["startDay", "count(*) AS n", "sum(runners) AS r"],
            where="startDay BETWEEN '2023-08-01' AND '2023-08-31'",
            group_by=["startDay"],
        )
        want = self._rows(db, use_rollups=False, **q)
        assert db.last_select_route == "scan" and want
        monkeypatch.setattr(
            BetfairDatabase,
            "_read_index",
            lambda *a, **k: (_ for _ in ()).throw(AssertionError("scan")),
        )
        got = self._rows(db, **q)
        assert db.last_select_route == "rollup:byday"
        assert got == want
        monkeypatch.undo()
        # stale byday: same query text falls back to the scan, the
        # WHERE alias still resolves via the persisted spec expression
        mf = spec_rollup_path(db.database_dir, "byday") / _META_NAME
        meta = _json.loads(mf.read_text())
        orig = dict(meta)
        meta["index_snapshot"] -= 1
        mf.write_text(_json.dumps(meta))
        try:
            got = self._rows(db, **q)
            assert db.last_select_route == "scan"
            assert got == want
        finally:
            mf.write_text(_json.dumps(orig))

    def test_bare_aggregate_estimator_stable(self, env):
        """Round 11 (ADVICE): a bare-aggregate approx_count_distinct
        (group_by=None) must use the DataSketches twin on the SCAN path
        too — the same query must not change estimator when its rollup
        goes stale."""
        db, _ = env
        q = dict(columns=["approx_count_distinct(marketId) AS ids"])
        routed = self._rows(db, **q)
        assert db.last_select_route.startswith("rollup:")
        df = db.select_df(use_rollups=False, **q)
        assert db.last_select_route == "scan"
        plan = df._jdf.queryExecution().analyzed().toString()
        assert "hll_sketch_estimate" in plan
        scan = sorted(tuple(r) for r in df.collect())
        assert scan == routed

    def test_no_alias_aggregate_keeps_name_and_estimator(self, env):
        """Round 12 (ADVICE): a NO-alias approx_count_distinct entry is
        never routable (routing requires an explicit alias), so the scan
        twin must leave it verbatim — rewriting it changed the output
        column name (the return_dict key) and the estimate between
        releases."""
        db, _ = env
        df = db.select_df(columns=["approx_count_distinct(marketId)"])
        assert db.last_select_route == "scan"
        assert df.columns == ["approx_count_distinct(marketId)"]
        plan = df._jdf.queryExecution().analyzed().toString()
        assert "hll_sketch_estimate" not in plan

    def test_glob_where_routes_in_cold_session(self, env):
        """Round 11 (ADVICE): route_select registers the sqlite_* temp
        functions before analyzing candidates, so a routable WHERE whose
        translation needs them (GLOB) routes even in a session where no
        scan query ran first."""
        import betfair_database_spark.plans.dialect as dialect

        db, _ = env
        q = dict(
            columns=["marketType", "count(*) AS n"],
            where="marketType GLOB 'W*'",
            group_by=["marketType"],
        )
        want = self._rows(db, use_rollups=False, **q)
        assert want
        # simulate a cold session: forget the registration memo and drop
        # the function the GLOB translation references
        dialect._REGISTERED_SESSIONS.discard(db.spark)
        db.spark.sql("DROP TEMPORARY FUNCTION IF EXISTS sqlite_glob_regex")
        got = self._rows(db, **q)
        assert db.last_select_route == "rollup:byvenue"
        assert got == want

    def test_stddev_var_route_and_scan_parity(self, env, monkeypatch):
        """Round 12 (verdict #4): stddev/var(col) select() queries route
        to a spec rollup storing the sumsq partial, the routed merge and
        the scan twin compute ONE moment formula (rollup.moment_sql)
        from exact integer partials — so routed == scan bit-for-bit —
        and the scan twin does NOT use Spark's native Welford stddev
        (whose rounding differs from the moment form)."""
        from betfair_database_spark.database import BetfairDatabase

        db, _ = env
        q = dict(
            columns=[
                "eventVenue",
                "count(runners) AS n",
                "stddev(runners) AS sd",
                "var_samp(runners) AS vs",
                "var_pop(runners) AS vp",
                "stddev_pop(runners) AS sp",
                "variance(runners) AS vr",
            ],
            group_by=["eventVenue"],
        )
        want = self._rows(db, use_rollups=False, **q)
        assert db.last_select_route == "scan"
        # the scan twin is the moment form, not native stddev
        df = db.select_df(use_rollups=False, **q)
        plan = df._jdf.queryExecution().analyzed().toString()
        assert "stddev" not in plan.lower() and "SQRT" in plan.upper()
        monkeypatch.setattr(
            BetfairDatabase,
            "_read_index",
            lambda *a, **k: (_ for _ in ()).throw(AssertionError("scan")),
        )
        got = self._rows(db, **q)
        assert db.last_select_route == "rollup:byvenue"
        assert got == want and got
        monkeypatch.undo()
        # single-market groups: sample forms NULL, population forms 0.0
        one = [r for r in want if r[1] == 1]
        if one:
            assert one[0][2] is None and one[0][3] is None
            assert one[0][4] == 0.0 and one[0][5] == 0.0

    # ---- routed-vs-scan equivalence fuzz (round 11, verdict #6) ----
    #
    # The router silently substitutes a different physical plan under
    # the user's only query surface, so it is load-bearing for
    # correctness; hand-picked pins cover hand-picked shapes. This fuzz
    # generates seeded random select() shapes — covered / uncovered /
    # derived-dim / WHERE-on-dim / bare-aggregate — and asserts BOTH the
    # route flag (against a test-local coverage truth table, written
    # independently of the router's own logic) and row equality vs
    # use_rollups=False.
    #
    # Mutation notes (tried while writing this test):
    #  - dropping the WHERE filter from the routed merge
    #    (test_fuzz_catches_where_dropping_mutation below) is CAUGHT:
    #    routed rows diverge from the scan on filtered shapes.
    #  - breaking _agg_covered to always claim coverage is MASKED by
    #    design: merge_partials then KeyErrors on the missing partial,
    #    route_select's try/except falls back to the scan, and the
    #    answer stays correct (the fallback-on-any-doubt contract turns
    #    that mutation into a missed optimization, not a wrong answer —
    #    the route-flag assertion here would still catch it as a flag
    #    mismatch for shapes the truth table says must route).

    _FUZZ_DIMS = {
        # name -> routable-by candidates (None = unroutable everywhere)
        "eventVenue": {"rollup:byvenue"},
        "marketType": {"rollup:byvenue"},
        "startDay": {"rollup:byday"},
        "eventTypeId": {"rollup:byvenue", "rollup:byday", "rollup:builtin"},
        "eventCountryCode": set(),
    }
    _FUZZ_AGGS = [
        # (entry, (op, col), covered-by)
        ("count(*) AS n", ("count", None),
         {"rollup:byvenue", "rollup:byday", "rollup:builtin"}),
        ("sum(runners) AS rt", ("sum", "runners"),
         {"rollup:byvenue", "rollup:byday", "rollup:builtin"}),
        ("min(marketStartTime) AS fs", ("min", "marketStartTime"),
         {"rollup:byvenue", "rollup:builtin"}),
        ("avg(runners) AS ar", ("avg", "runners"), {"rollup:byvenue"}),
        ("stddev(runners) AS sd", ("stddev", "runners"),
         {"rollup:byvenue"}),
        ("var_samp(runners) AS vr", ("var_samp", "runners"),
         {"rollup:byvenue"}),
        ("approx_count_distinct(marketId) AS ids",
         ("approx_count_distinct", "marketId"), {"rollup:byvenue"}),
        ("approx_percentile_hist(runners, 0.5) AS ph",
         ("approx_percentile_hist", "runners"), {"rollup:byvenue"}),
        ("approx_percentile(runners, 0.5) AS qp",
         ("approx_percentile", "runners"), {"rollup:byvenue"}),
        ("max(marketId) AS mm", ("max", "marketId"), set()),
    ]
    _FUZZ_WHERES = [
        (None, set()),
        ("marketType IN ('WIN', 'PLACE')", {"marketType"}),
        ("eventVenue IS NOT NULL", {"eventVenue"}),
        ("startDay >= '2023-08-01'", {"startDay"}),
        ("marketId = '1.222000001'", {"marketId"}),
    ]

    def _expected_route(self, dims, agg_specs, where_idents):
        """Independent truth table: first candidate (router order: spec
        names sorted, built-in last) whose dims cover every referenced
        identifier and whose partials cover every aggregate."""
        for cand in ("rollup:byday", "rollup:byvenue", "rollup:builtin"):
            dim_ok = all(
                cand in self._FUZZ_DIMS.get(d, set()) for d in dims
            )
            wid_ok = all(
                cand in self._FUZZ_DIMS.get(w, set()) for w in where_idents
            )
            agg_ok = all(cand in covered for _, _, covered in agg_specs)
            if dim_ok and wid_ok and agg_ok:
                return cand
        return "scan"

    def _fuzz_shapes(self, seed, n):
        import random

        rng = random.Random(seed)
        dims_pool = list(self._FUZZ_DIMS)
        for _ in range(n):
            dims = rng.sample(dims_pool, rng.choice([0, 1, 1, 2]))
            aggs = rng.sample(self._FUZZ_AGGS, rng.randint(1, 3))
            if any(a[1][0] == "approx_percentile" for a in aggs):
                # hist + qsketch percentiles in ONE query is a
                # documented loud error on the scan path (their scan
                # twins need different SQL shapes); pinned separately
                aggs = [
                    a for a in aggs
                    if a[1][0] != "approx_percentile_hist"
                ] or aggs
            where, wid = self._FUZZ_WHERES[
                rng.randrange(len(self._FUZZ_WHERES))
            ]
            yield dims, aggs, where, wid

    def test_routed_vs_scan_equivalence_fuzz(self, env):
        db, _ = env
        checked = routed = 0
        for dims, aggs, where, wid in self._fuzz_shapes(11, 110):
            q = dict(
                columns=dims + [a[0] for a in aggs],
                where=where,
                group_by=dims if dims else None,
            )
            want = self._rows(db, use_rollups=False, **q)
            assert db.last_select_route == "scan"
            got = self._rows(db, **q)
            expect = self._expected_route(dims, aggs, wid)
            assert db.last_select_route == expect, (q, db.last_select_route)
            assert got == want, (q, db.last_select_route)
            checked += 1
            routed += expect != "scan"
        # the generator must actually exercise both paths heavily
        assert checked == 110 and 20 <= routed <= 90, (checked, routed)

    def test_fuzz_catches_where_dropping_mutation(self, env, monkeypatch):
        """Inject the dangerous mutation class — a VALID-but-wrong
        routed frame (WHERE silently dropped from the merge) — and
        assert the fuzz detects it. Pins that the equivalence fuzz has
        teeth, not just coverage."""
        import betfair_database_spark.rollup as rollup_mod

        db, _ = env
        real = rollup_mod.merge_partials

        def mutant(internal, spec, group_dims, aggs, where_expr=None):
            return real(internal, spec, group_dims, aggs, None)

        monkeypatch.setattr(rollup_mod, "merge_partials", mutant)
        caught = 0
        for dims, aggs, where, wid in self._fuzz_shapes(13, 60):
            if where is None:
                continue
            q = dict(
                columns=dims + [a[0] for a in aggs],
                where=where,
                group_by=dims if dims else None,
            )
            if self._expected_route(dims, aggs, wid) == "scan":
                continue
            want = self._rows(db, use_rollups=False, **q)
            got = self._rows(db, **q)
            caught += got != want
        assert caught > 0


def test_all_null_sum_cell_stores_null_partial(spark):
    """Round 11 (ADVICE): the built-in rollup stores NULL (not 0) sum
    partials for all-NULL cells, so a routed sum over such a group merges
    to exactly what the scan's sum() returns — NULL, SQLite's sum() over
    all NULLs. Mixed cells still merge by NULL-skipping sum."""
    from pyspark.sql import functions as F

    from betfair_database_spark.rollup import BUILTIN_ROLLUP, summarize_spec

    rows = [
        ("7", "2024-01-01T10:00:00.000Z", None, None, None, None),
        ("7", "2024-01-01T11:00:00.000Z", None, 1, None, 4),
        ("4", "2024-01-01T10:00:00.000Z", 1, None, None, 6),
    ]
    df = spark.createDataFrame(
        rows,
        "eventTypeId string, marketStartTime string, bspMarket int, "
        "turnInPlayEnabled int, marketSettledTime string, runners int",
    )
    part = summarize_spec(df, BUILTIN_ROLLUP)
    cells = {r["eventTypeId"]: r for r in part.collect()}
    assert cells["4"]["_p_inPlayMarkets"] is None  # all-NULL cell -> NULL
    assert cells["4"]["_p_bspMarkets"] == 1
    assert cells["7"]["_p_bspMarkets"] is None
    assert cells["7"]["_p_runnersTotal"] == 4
    # the routed merge (sum of partials) == the scan's sum(), per column
    merged = part.agg(
        F.sum("_p_bspMarkets").alias("b"),
        F.sum("_p_inPlayMarkets").alias("i"),
        F.sum("_p_runnersTotal").alias("r"),
    ).first()
    scan = df.agg(
        F.sum("bspMarket").alias("b"),
        F.sum("turnInPlayEnabled").alias("i"),
        F.sum("runners").alias("r"),
    ).first()
    assert tuple(merged) == tuple(scan)


class TestHistPercentile:
    """Histogram partials + approx_percentile_hist (round 12): the
    percentile twin of the variance family — a MERGEABLE fixed-bin
    histogram partial (array<bigint>) serves approx_percentile_hist(col,
    q) identically on the routed and scan paths (the function is DEFINED
    as histogram interpolation; hist_bin_sql / hist_percentile_from_
    array_sql are the single shared texts)."""

    @pytest.fixture(scope="class")
    def env(self, spark, tmp_path_factory):
        from betfair_database_spark.database import BetfairDatabase

        base = tmp_path_factory.mktemp("histroute")
        target = base / "db"
        target.mkdir()
        src = base / "src"
        build_corpus(src)
        db = BetfairDatabase(target, spark=spark)
        db.insert(src, copy=True)
        db.create_rollup(
            name="histq",
            dims=["eventVenue"],
            aggs=["hn=count()", "rh=hist(runners, 0, 40, 16)"],
        )
        return db, src

    @staticmethod
    def _rows(db, **kw):
        return sorted(
            (tuple(r) for r in db.select(return_dict=False, **kw)),
            key=lambda t: tuple((v is None, v) for v in t),
        )

    Q = dict(
        columns=[
            "eventVenue",
            "count(*) AS n",
            "approx_percentile_hist(runners, 0.5) AS p50",
            "approx_percentile_hist(runners, 0.9) AS p90",
        ],
        group_by=["eventVenue"],
    )

    def test_route_and_scan_parity(self, env, monkeypatch):
        from betfair_database_spark.database import BetfairDatabase

        db, _ = env
        want = self._rows(db, use_rollups=False, **self.Q)
        assert db.last_select_route == "scan" and want
        monkeypatch.setattr(
            BetfairDatabase,
            "_read_index",
            lambda *a, **k: (_ for _ in ()).throw(
                AssertionError("index read during routed select")
            ),
        )
        got = self._rows(db, **self.Q)
        assert db.last_select_route == "rollup:histq"
        assert got == want

    def test_maintained_after_insert(self, env, tmp_path):
        """insert() keeps the hist partial incrementally maintained
        (element-wise bin adds) — the routed answer after maintenance
        still equals the scan exactly."""
        db, src = env
        extra = tmp_path / "extra"
        extra.mkdir()
        # re-insert a market under a new id: new rows, same venues
        for stem in ("1.222000001",):
            meta = json.loads((src / f"{stem}.json").read_text())
            meta["marketId"] = "1.999000001"
            (extra / "1.999000001.json").write_text(json.dumps(meta))
            (extra / "1.999000001").write_text(
                (src / stem).read_text()
            )
        assert db.insert(extra, copy=True) == 1
        want = self._rows(db, use_rollups=False, **self.Q)
        got = self._rows(db, **self.Q)
        assert db.last_select_route == "rollup:histq"
        assert got == want

    def test_undeclared_binning_raises(self, env):
        db, _ = env
        with pytest.raises(ValueError, match="hist partial"):
            db.select(
                columns=["approx_percentile_hist(eventTypeId, 0.5) AS p"],
                group_by=[],
                use_rollups=False,
            )

    def test_q_out_of_range_raises(self, env):
        db, _ = env
        with pytest.raises(ValueError, match="in \\(0, 1\\]"):
            db.select(
                columns=["approx_percentile_hist(runners, 0.0) AS p"],
                group_by=[],
                use_rollups=False,
            )

    def test_missing_alias_raises(self, env):
        """No 'AS alias' → loud contract error, not an opaque Spark
        undefined-function analysis failure (round-12 ADVICE)."""
        db, _ = env
        with pytest.raises(ValueError, match="AS alias"):
            db.select(
                columns=["approx_percentile_hist(runners, 0.5)"],
                group_by=[],
                use_rollups=False,
            )

    def test_max_bins_scan_form_analyzes(self, env):
        """HIST_MAX_BINS=512 is a promise: the scan twin's inline SQL
        must survive the analyzer/codegen at the permitted maximum. The
        let-binding rewrite (round-12 ADVICE) keeps the nbins-term
        aggregate text appearing once instead of five times."""
        import shutil

        from betfair_database_spark.rollup import (
            HIST_MAX_BINS,
            spec_rollup_path,
        )

        db, _ = env
        db.create_rollup(
            name="histmax",
            dims=["marketType"],
            aggs=[f"bh=hist(eventTypeId, 0, 80, {HIST_MAX_BINS})"],
        )
        try:
            rows = db.select(
                columns=["approx_percentile_hist(eventTypeId, 0.5) AS p"],
                group_by=[],
                use_rollups=False,
            )
            assert len(rows) == 1 and rows[0]["p"] is not None
        finally:
            shutil.rmtree(spec_rollup_path(db.database_dir, "histmax"))

    def test_conflicting_binning_raises(self, env):
        db, _ = env
        db.create_rollup(
            name="histq2",
            dims=["marketType"],
            aggs=["rh2=hist(runners, 0, 50, 10)"],
        )
        try:
            with pytest.raises(ValueError, match="different binning"):
                db.select(use_rollups=False, **self.Q)
            # the ROUTED path must raise the SAME ambiguity error before
            # picking a spec — not silently answer from whichever spec
            # iterates first (round-12 ADVICE: routed == scan includes
            # the error contract)
            with pytest.raises(ValueError, match="different binning"):
                db.select(**self.Q)
        finally:
            import shutil

            from betfair_database_spark.rollup import spec_rollup_path

            shutil.rmtree(spec_rollup_path(db.database_dir, "histq2"))

    def test_parse_spec_validation(self):
        from betfair_database_spark.rollup import parse_spec

        with pytest.raises(ValueError, match="hi > lo"):
            parse_spec(["eventVenue"], ["h=hist(runners, 40, 0, 16)"])
        with pytest.raises(ValueError, match="nbins"):
            parse_spec(["eventVenue"], ["h=hist(runners, 0, 40, 0)"])
        with pytest.raises(ValueError, match="nbins"):
            parse_spec(["eventVenue"], ["h=hist(runners, 0, 40, 100000)"])
        with pytest.raises(ValueError, match="known index column"):
            parse_spec(["eventVenue"], ["h=hist(nosuch, 0, 40, 16)"])
        spec = parse_spec(
            ["eventVenue"], ["h=hist(runners, -1.5, 4e1, 16)"]
        )
        assert spec["aggs"][0] == {
            "alias": "h", "op": "hist", "col": "runners",
            "lo": -1.5, "hi": 40.0, "nbins": 16,
        }


class TestQSketchPercentile:
    """Log-linear quantile-sketch partials + approx_percentile (round
    13, verdict #3): a parameter-free, drift-proof mergeable percentile
    partial — sparse map<okey, count> with exact-IEEE bin arithmetic —
    serving approx_percentile(col, q) identically on the routed and
    scan paths. Unlike hist (round 12), no declared range exists to
    clip against."""

    @pytest.fixture(scope="class")
    def env(self, spark, tmp_path_factory):
        from betfair_database_spark.database import BetfairDatabase

        base = tmp_path_factory.mktemp("qsroute")
        target = base / "db"
        target.mkdir()
        src = base / "src"
        build_corpus(src)
        db = BetfairDatabase(target, spark=spark)
        db.insert(src, copy=True)
        db.create_rollup(
            name="qsq",
            dims=["eventVenue"],
            aggs=["qn=count()", "rq=qsketch(runners)"],
        )
        return db, src

    @staticmethod
    def _rows(db, **kw):
        return sorted(
            (tuple(r) for r in db.select(return_dict=False, **kw)),
            key=lambda t: tuple((v is None, v) for v in t),
        )

    Q = dict(
        columns=[
            "eventVenue",
            "count(*) AS n",
            "approx_percentile(runners, 0.5) AS p50",
            "approx_percentile(runners, 0.9) AS p90",
        ],
        group_by=["eventVenue"],
    )

    def test_route_and_scan_parity(self, env, monkeypatch):
        from betfair_database_spark.database import BetfairDatabase

        db, _ = env
        want = self._rows(db, use_rollups=False, **self.Q)
        assert db.last_select_route == "scan" and want
        monkeypatch.setattr(
            BetfairDatabase,
            "_read_index",
            lambda *a, **k: (_ for _ in ()).throw(
                AssertionError("index read during routed select")
            ),
        )
        got = self._rows(db, **self.Q)
        assert db.last_select_route == "rollup:qsq"
        assert got == want

    def test_maintained_after_insert(self, env, tmp_path):
        """insert() keeps the sketch partial incrementally maintained
        (key-wise map fold) — routed after maintenance == scan."""
        db, src = env
        extra = tmp_path / "extra"
        extra.mkdir()
        for stem in ("1.222000001",):
            meta = json.loads((src / f"{stem}.json").read_text())
            meta["marketId"] = "1.999000002"
            (extra / "1.999000002.json").write_text(json.dumps(meta))
            (extra / "1.999000002").write_text((src / stem).read_text())
        assert db.insert(extra, copy=True) == 1
        want = self._rows(db, use_rollups=False, **self.Q)
        got = self._rows(db, **self.Q)
        assert db.last_select_route == "rollup:qsq"
        assert got == want

    def test_scan_works_without_any_declared_spec(
        self, spark, tmp_path_factory
    ):
        """approx_percentile is parameter-free: the scan builds the
        sketch from raw rows with NO spec declared anywhere — and the
        value equals the exact percentile within the documented
        relative bound."""
        from betfair_database_spark.database import BetfairDatabase

        base = tmp_path_factory.mktemp("qsnospec")
        (base / "db").mkdir()
        src = base / "src"
        build_corpus(src)
        db = BetfairDatabase(base / "db", spark=spark)
        db.insert(src, copy=True)
        rows = db.select(
            columns=["approx_percentile(runners, 0.5) AS p"],
            group_by=[],
        )
        assert db.last_select_route == "scan"
        exact = sorted(
            r["runners"]
            for r in db.select(columns=["runners"])
            if r["runners"] is not None
        )
        import math

        true_p50 = exact[max(0, math.ceil(0.5 * len(exact)) - 1)]
        assert abs(rows[0]["p"] - true_p50) <= abs(true_p50) / 128

    def test_missing_alias_raises(self, env):
        db, _ = env
        with pytest.raises(ValueError, match="AS alias"):
            db.select(
                columns=["approx_percentile(runners, 0.5)"],
                group_by=[],
                use_rollups=False,
            )

    def test_q_out_of_range_raises(self, env):
        db, _ = env
        with pytest.raises(ValueError, match="in \\(0, 1\\]"):
            db.select(
                columns=["approx_percentile(runners, 0.0) AS p"],
                group_by=[],
                use_rollups=False,
            )

    def test_hist_mix_raises_loudly(self, env):
        import shutil

        from betfair_database_spark.rollup import spec_rollup_path

        db, _ = env
        db.create_rollup(
            name="qsmixh",
            dims=["marketType"],
            aggs=["mh=hist(runners, 0, 40, 16)"],
        )
        try:
            with pytest.raises(ValueError, match="split the query"):
                db.select(
                    columns=[
                        "approx_percentile(runners, 0.5) AS a",
                        "approx_percentile_hist(runners, 0.5) AS b",
                    ],
                    group_by=[],
                    use_rollups=False,
                )
        finally:
            shutil.rmtree(spec_rollup_path(db.database_dir, "qsmixh"))

    def test_acd_mix_matches_flat_twin(self, env):
        """approx_count_distinct combined with approx_percentile runs
        through the two-level scan — the HLL union is partition-
        independent, so the estimate equals the flat twin's."""
        db, _ = env
        q = dict(
            columns=[
                "eventVenue",
                "approx_count_distinct(marketId) AS ids",
            ],
            group_by=["eventVenue"],
        )
        flat = self._rows(db, use_rollups=False, **q)
        q2 = dict(
            columns=q["columns"]
            + ["approx_percentile(runners, 0.5) AS p"],
            group_by=["eventVenue"],
        )
        key = lambda t: tuple((v is None, v) for v in t)  # noqa: E731
        two = [
            (r[0], r[1]) for r in self._rows(db, use_rollups=False, **q2)
        ]
        assert sorted(two, key=key) == sorted(flat, key=key)

    def test_drift_hist_clips_sketch_tracks(self, spark):
        """THE motivating scenario (round-13 verdict #3): a value
        domain that drifts far above a hist spec's declared [lo, hi)
        silently clips into the edge bin — the hist answer stays near
        hi while the true p90 is 100x higher. The qsketch answer stays
        within its documented relative bound with no redeclaration."""
        import pandas as pd

        from betfair_database_spark.rollup import (
            merge_partials,
            summarize_spec,
        )

        # declared when values lived in [0, 100); later drifted to 10000
        vals = [float(v) for v in range(1, 100)] + [
            float(v) for v in range(5000, 10001, 50)
        ]
        df = spark.createDataFrame(
            pd.DataFrame(
                {"g": ["a"] * len(vals), "v": vals, "b": [0] * len(vals)}
            )
        )
        exact = sorted(vals)
        import math

        true_p90 = exact[max(0, math.ceil(0.9 * len(exact)) - 1)]
        spec_h = {
            "dims": [{"alias": "g", "expr": None}],
            "aggs": [
                {
                    "alias": "h", "op": "hist", "col": "v",
                    "lo": 0.0, "hi": 100.0, "nbins": 32,
                }
            ],
        }
        spec_q = {
            "dims": [{"alias": "g", "expr": None}],
            "aggs": [{"alias": "q", "op": "qsketch", "col": "v"}],
        }
        hist_p90 = merge_partials(
            summarize_spec(df, spec_h, part_col="b"),
            spec_h,
            ["g"],
            [("approx_percentile_hist", "v", "p90", 0.9)],
        ).first()["p90"]
        qs_p90 = merge_partials(
            summarize_spec(df, spec_q, part_col="b"),
            spec_q,
            ["g"],
            [("approx_percentile", "v", "p90", 0.9)],
        ).first()["p90"]
        # hist: clipped into the edge bin — off by ~99%
        assert abs(hist_p90 - true_p90) / true_p90 > 0.5
        # sketch: within the documented 1/128 relative bound
        assert abs(qs_p90 - true_p90) / true_p90 <= 1 / 128

    def test_parse_spec_qsketch(self):
        from betfair_database_spark.rollup import parse_spec

        spec = parse_spec(["eventVenue"], ["q=qsketch(runners)"])
        assert spec["aggs"][0] == {
            "alias": "q", "op": "qsketch", "col": "runners"
        }
        with pytest.raises(ValueError, match="known index column"):
            parse_spec(["eventVenue"], ["q=qsketch(nosuch)"])
        with pytest.raises(ValueError, match="known index column"):
            parse_spec(["eventVenue"], ["q=qsketch()"])


class TestSuggestHistBinning:
    def test_suggest_and_roundtrip_through_create_rollup(
        self, spark, tmp_path_factory
    ):
        """suggest_hist_binning derives [floor(min), ceil(max)) from one
        scan, and its output string parses straight into create_rollup;
        the resulting rollup serves approx_percentile_hist."""
        from betfair_database_spark.database import BetfairDatabase

        base = tmp_path_factory.mktemp("histsuggest")
        target = base / "db"
        target.mkdir()
        src = base / "src"
        build_corpus(src)
        db = BetfairDatabase(target, spark=spark)
        db.insert(src, copy=True)
        spec = db.suggest_hist_binning("runners", nbins=12)
        import re

        m = re.match(
            r"runners_hist=hist\(runners, (\S+), (\S+), 12\)", spec
        )
        assert m, spec
        lo, hi = float(m.group(1)), float(m.group(2))
        mn, mx = db.select_df(use_rollups=False).agg(
            {"runners": "min"}
        ).first()[0], db.select_df(use_rollups=False).agg(
            {"runners": "max"}
        ).first()[0]
        assert lo <= mn and hi >= mx and hi > lo
        db.create_rollup(
            name="suggested", dims=["eventVenue"], aggs=["n=count()", spec]
        )
        rows = db.select(
            columns=[
                "eventVenue",
                "approx_percentile_hist(runners, 0.5) AS p50",
            ],
            group_by=["eventVenue"],
        )
        assert db.last_select_route == "rollup:suggested"
        assert rows and all(
            r["p50"] is None or lo <= r["p50"] <= hi for r in rows
        )

    def test_all_null_column_raises(self, spark):
        from betfair_database_spark.rollup import suggest_hist_binning

        df = spark.createDataFrame(
            [(1, None), (2, None)], "id long, v double"
        )
        with pytest.raises(ValueError, match="no non-NULL"):
            suggest_hist_binning(df, "v")

    def test_degenerate_single_value_range(self, spark):
        from betfair_database_spark.rollup import suggest_hist_binning

        df = spark.createDataFrame([(1, 7.0), (2, 7.0)], "id long, v double")
        s = suggest_hist_binning(df, "v", nbins=4, alias="h")
        assert s == "h=hist(v, 7.0, 8.0, 4)"
