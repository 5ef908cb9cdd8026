"""Seeded Betfair-shaped corpus generator with a ground-truth manifest.

One seed fixes every byte of the corpus and every expected answer. The
corpus varies the input properties the engine's behaviour depends on:

- metadata kind: catalogue ``.json``, definition ``.json``, or no ``.json``
  at all (orphan stream data whose definition the index derives);
- codec of the stream file: plain, ``.gz``, ``.bz2`` or ``.zip``;
- stream length: exponential in lines per file;
- racing (horse, greyhound) against non-racing (soccer, tennis, cricket)
  market names;
- a small share of corrupt files, metadata-only and data-only markets;
- insert batches that mix new markets with markets already in the
  database, one batch per duplicate policy.

The database corpus is laid out like Betfair's historical archive
(``{year}/{Mon}/{day}/{eventId}/``), which is where ``insert`` places files,
so a re-inserted market lands on its existing destination path.

The market shapes come from ``tests/corpus.py`` (read-only reuse).
"""

from __future__ import annotations

import bz2
import datetime as dt
import gzip
import json
import random
import zipfile
from dataclasses import asdict, dataclass, field
from pathlib import Path

from tests.corpus import _cat, _defn, _mcm_line, _snapshot_line

# The mix weights below (kinds, codecs, sports, stream length) are
# assumptions, not measured from Betfair's historical archive. They give
# every code path the index takes a share of the corpus, with the
# catalogue path the most common.

# kinds whose market lands in the index
INDEXED_KINDS = ("catalogue", "definition", "derived")
# kind -> weight in the database corpus
BASE_KINDS = {
    "catalogue": 0.52,
    "definition": 0.26,
    "derived": 0.15,
    "corrupt_meta": 0.015,
    "corrupt_data": 0.01,
    "meta_only": 0.025,
    "data_only": 0.02,
}
# new markets in insert batches are always indexable
BATCH_KINDS = {"catalogue": 0.55, "definition": 0.3, "derived": 0.15}
CODECS = {"": 0.4, ".gz": 0.3, ".bz2": 0.15, ".zip": 0.15}
POLICIES = ("update", "skip", "replace")

# (eventTypeId, eventTypeName, weight, market types)
SPORTS = [
    ("7", "Horse Racing", 0.35, ("WIN", "PLACE", "EACH_WAY")),
    ("4339", "Greyhound Racing", 0.2, ("WIN", "PLACE")),
    ("1", "Soccer", 0.25, ("MATCH_ODDS", "OVER_UNDER_25")),
    ("2", "Tennis", 0.1, ("MATCH_ODDS",)),
    ("4", "Cricket", 0.1, ("MATCH_ODDS",)),
]
RACING = ("7", "4339")
VENUES = ["Ascot", "Kempton", "York", "Romford", "Sheffield", "Leopardstown", "Flemington"]
TIMEZONES = ["Europe/London", "Europe/London", "Europe/London", "Australia/Sydney"]
HORSE_RACES = ["Hcap Chs", "Mdn Stks", "Nov Hrd", "Hcap", "Claim Stks"]
HORSE_DISTS = ["5f", "6f", "7f", "1m", "1m2f", "2m", "2m4f", "3m"]
MONTHS = ["Jan", "Feb", "Mar", "Apr", "May", "Jun", "Jul", "Aug", "Sep", "Oct", "Nov", "Dec"]
YEAR_START = dt.datetime(2023, 1, 1, tzinfo=dt.timezone.utc)
MEAN_LINES = 12.0
MAX_LINES = 400


@dataclass
class Market:
    market_id: str
    kind: str
    codec: str
    lines: int
    event_type_id: str
    market_type: str
    bsp: bool
    start: str  # ISO-8601 UTC, as the index stores it
    event_id: str
    venue: str | None
    name: str
    runners: int
    timezone: str

    @property
    def indexed(self) -> bool:
        return self.kind in INDEXED_KINDS

    def layout_dir(self) -> str:
        """Betfair historical layout: the directory ``insert`` moves to."""
        t = dt.datetime.fromisoformat(self.start.replace("Z", "+00:00"))
        return f"{t.year}/{MONTHS[t.month - 1]}/{t.day}/{self.event_id}"

    def data_name(self) -> str:
        return self.market_id + self.codec


@dataclass
class Batch:
    policy: str
    new: list[Market] = field(default_factory=list)
    # existing markets re-sent unchanged / with a changed name and a longer
    # stream (only the UPDATE policy tells the two apart)
    same: list[str] = field(default_factory=list)
    changed: list[str] = field(default_factory=list)

    def expected(self) -> dict:
        """(inserted, updated, skipped) as ``insert`` reports them: its
        return value counts inserts plus updates."""
        n_new, n_same, n_changed = len(self.new), len(self.same), len(self.changed)
        if self.policy == "update":
            updated, skipped = n_changed, n_same
        elif self.policy == "skip":
            updated, skipped = 0, n_same + n_changed
        else:
            updated, skipped = n_same + n_changed, 0
        return {"inserted": n_new + updated, "updated": updated, "skipped": skipped}


@dataclass
class Corpus:
    seed: int
    markets: list[Market]
    batches: list[Batch]
    deleted: list[str]  # market ids whose data file is removed before clean

    def counters(self) -> dict:
        """Import counters ``index()`` must report for the database corpus."""
        kinds = [m.kind for m in self.markets]
        return {
            "total_markets": len(kinds),
            "rows_inserted": sum(k in INDEXED_KINDS for k in kinds),
            "corrupt_files": kinds.count("corrupt_meta") + kinds.count("corrupt_data"),
            "markets_without_data": kinds.count("meta_only"),
            "markets_without_metadata": kinds.count("data_only"),
        }

    def indexed(self) -> list[Market]:
        return [m for m in self.markets if m.indexed]

    def final_indexed(self, policies=POLICIES, cleaned: bool = True) -> list[Market]:
        """Index rows after the batches of ``policies`` are inserted and,
        if ``cleaned``, the deleted files' markets are cleaned out."""
        gone = set(self.deleted) if cleaned else set()
        rows = [m for m in self.indexed() if m.market_id not in gone]
        return rows + [m for b in self.batches if b.policy in policies for m in b.new]

    def manifest(self) -> dict:
        return {
            "seed": self.seed,
            "counters": self.counters(),
            "markets": [asdict(m) for m in self.markets],
            "batches": [
                {
                    "policy": b.policy,
                    "new": [m.market_id for m in b.new],
                    "same": b.same,
                    "changed": b.changed,
                    "expected": b.expected(),
                }
                for b in self.batches
            ],
            "deleted": self.deleted,
        }


def _pick(rng: random.Random, weights: dict):
    return rng.choices(list(weights), weights=list(weights.values()))[0]


def _market(rng: random.Random, market_id: str, kind: str) -> Market:
    sport = rng.choices(SPORTS, weights=[s[2] for s in SPORTS])[0]
    etid, _, _, types = sport
    start = YEAR_START + dt.timedelta(minutes=5 * rng.randrange(365 * 288))
    racing = etid in RACING
    mtype = rng.choice(types)
    if etid == "7":
        name = f"{rng.choice(HORSE_DISTS)} {rng.choice(HORSE_RACES)}"
    elif etid == "4339":
        name = f"R{rng.randint(1, 12)} {rng.choice([280, 320, 480, 500])}m A{rng.randint(1, 9)}"
    else:
        name = "Match Odds" if mtype == "MATCH_ODDS" else "Over/Under 2.5 Goals"
    if racing and mtype == "PLACE":
        name = "To Be Placed"
    lines = min(MAX_LINES, 1 + int(rng.expovariate(1.0 / MEAN_LINES)))
    return Market(
        market_id=market_id,
        kind=kind,
        codec=_pick(rng, CODECS),
        lines=lines,
        event_type_id=etid,
        market_type=mtype,
        bsp=racing and rng.random() < 0.8,
        start=start.strftime("%Y-%m-%dT%H:%M:%S.000Z"),
        event_id=str(32_000_000 + rng.randrange(4000)),
        venue=rng.choice(VENUES) if racing else None,
        name=name,
        runners=rng.randint(2, 14),
        timezone=rng.choice(TIMEZONES),
    )


def generate(
    seed: int,
    n_markets: int = 1000,
    batch_new: int = 60,
    batch_overlap: int = 40,
    delete_share: float = 0.02,
) -> Corpus:
    """The corpus description for ``seed`` (no files written)."""
    rng = random.Random(seed)
    next_id = 200_000_000 + (seed % 1000) * 100_000

    def new_id() -> str:
        nonlocal next_id
        next_id += 1
        return f"1.{next_id}"

    markets = [_market(rng, new_id(), _pick(rng, BASE_KINDS)) for _ in range(n_markets)]
    # overlaps re-send markets whose metadata file names its own market
    # (catalogue / definition .json), disjoint across batches
    pool = [m.market_id for m in markets if m.kind in ("catalogue", "definition")]
    rng.shuffle(pool)
    batches = []
    for policy in POLICIES:
        b = Batch(policy)
        b.new = [_market(rng, new_id(), _pick(rng, BATCH_KINDS)) for _ in range(batch_new)]
        overlap, pool = pool[:batch_overlap], pool[batch_overlap:]
        half = len(overlap) // 2
        b.same, b.changed = sorted(overlap[:half]), sorted(overlap[half:])
        batches.append(b)
    untouched = sorted(
        m.market_id for m in markets if m.indexed and m.market_id in set(pool)
    )
    deleted = sorted(rng.sample(untouched, max(1, round(delete_share * len(untouched)))))
    return Corpus(seed, markets, batches, deleted)


# ----------------------------------------------------------------- writing


def _definition(m: Market, version: int = 1, with_id: bool = True) -> dict:
    return _defn(
        m.market_id if with_id else None,
        m.name,
        m.start,
        event_type_id=m.event_type_id,
        market_type=m.market_type,
        venue=m.venue,
        country="GB" if m.venue else None,
        timezone=m.timezone,
        open_date=m.start,
        runners=m.runners,
        version=version,
        event_id=m.event_id,
    ) | {"bspMarket": m.bsp}


def _catalogue(m: Market) -> dict:
    names = {s[0]: s[1] for s in SPORTS}
    cat = _cat(
        m.market_id,
        m.name,
        m.start,
        event_type=(m.event_type_id, names[m.event_type_id]),
        market_type=m.market_type,
        venue=m.venue,
        country="GB" if m.venue else None,
        timezone=m.timezone,
        open_date=m.start,
        runners=m.runners,
        bsp=m.bsp,
    )
    cat["event"]["id"] = m.event_id
    return cat


def _stream(m: Market, lines: int) -> str:
    pt0 = int(dt.datetime.fromisoformat(m.start.replace("Z", "+00:00")).timestamp() * 1000)
    pt0 -= 3_600_000
    if m.kind == "data_only":
        return "\n".join(_snapshot_line(m.market_id, pt0 + i) for i in range(lines))
    out = []
    for i in range(lines):
        pt = pt0 + 1000 * i
        if m.kind in ("definition", "derived") and (i == 0 or i == lines - 1):
            # the last definition line wins; versions grow along the stream
            defn = _definition(m, version=1 + i, with_id=False)
            out.append(_mcm_line(m.market_id, pt, defn))
        else:
            rc = [{"ltp": round(1.5 + (i % 17) / 4, 2), "id": 20000 + i % m.runners}]
            out.append(_mcm_line(m.market_id, pt, None, rc=rc))
    if m.kind == "corrupt_data":
        out.append('{"op":"mcm","pt":1,"mc":[{"id":"%s","marketDefinition":{broken' % m.market_id)
    return "\n".join(out)


def _write_data(path: Path, m: Market, text: str) -> None:
    raw = text.encode()
    if m.codec == ".gz":
        path.write_bytes(gzip.compress(raw, mtime=0))
    elif m.codec == ".bz2":
        path.write_bytes(bz2.compress(raw))
    elif m.codec == ".zip":
        with zipfile.ZipFile(path, "w", zipfile.ZIP_DEFLATED) as zf:
            info = zipfile.ZipInfo(m.market_id, date_time=(2023, 1, 1, 0, 0, 0))
            info.compress_type = zipfile.ZIP_DEFLATED
            zf.writestr(info, raw)
    else:
        path.write_bytes(raw)


def write_market(directory: Path, m: Market, changed: bool = False) -> None:
    """Metadata and/or stream file of one market into ``directory``."""
    directory.mkdir(parents=True, exist_ok=True)
    lines = m.lines + (5 if changed else 0)
    if m.kind in ("catalogue", "definition", "corrupt_meta", "meta_only"):
        if m.kind == "corrupt_meta":
            meta = "{not valid json"
        else:
            shown = Market(**{**asdict(m), "name": m.name + " (v2)"}) if changed else m
            body = _catalogue(shown) if m.kind in ("catalogue", "meta_only") else _definition(shown)
            meta = json.dumps(body, separators=(",", ":"))
        (directory / (m.market_id + ".json")).write_text(meta, encoding="utf-8")
    if m.kind != "meta_only":
        _write_data(directory / m.data_name(), m, _stream(m, lines))


def write_database(corpus: Corpus, root: Path) -> int:
    """The database corpus under ``root``; returns its bytes on disk."""
    for m in corpus.markets:
        write_market(root / m.layout_dir(), m)
    return tree_bytes(root)


def write_batch(corpus: Corpus, batch: Batch, root: Path) -> None:
    """One insert batch: new markets plus re-sent existing ones, flat."""
    by_id = {m.market_id: m for m in corpus.markets}
    for m in batch.new:
        write_market(root, m)
    for mid in batch.same:
        write_market(root, by_id[mid])
    for mid in batch.changed:
        write_market(root, by_id[mid], changed=True)


def data_path(corpus: Corpus, root: Path, market_id: str) -> Path:
    m = next(m for m in corpus.markets if m.market_id == market_id)
    return root / m.layout_dir() / m.data_name()


def tree_bytes(root: Path) -> int:
    return sum(p.stat().st_size for p in Path(root).rglob("*") if p.is_file())

