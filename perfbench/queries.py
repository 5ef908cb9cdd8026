"""The select mix and its ground truth.

Each shape draws one ``select`` call from a seeded generator and says how to
check the answer against the corpus manifest: the expected row count, and
for aggregates the expected ``count(*)`` per group.
"""

from __future__ import annotations

import datetime as dt
import random
from collections import Counter
from dataclasses import dataclass, field
from zoneinfo import ZoneInfo

from corpus import Market

LONDON = ZoneInfo("Europe/London")
BYTYPE_SPEC = dict(
    name="bytype",
    dims=["marketType"],
    aggs=["n=count()", "runnersTotal=sum(runners)"],
)


@dataclass
class Query:
    kind: str  # readme | point | range | dialect | rollup | scan | size
    kwargs: dict = field(default_factory=dict)
    rows: int = 0  # expected row count
    groups: dict | None = None  # expected count per group key, aggregates only


def _utc(m: Market) -> dt.datetime:
    return dt.datetime.fromisoformat(m.start.replace("Z", "+00:00"))


def readme(rng: random.Random, truth: list[Market]) -> Query:
    limit = rng.randint(10, 100)
    n = sum(
        m.event_type_id in ("7", "4339") and m.market_type == "WIN" and m.bsp
        for m in truth
    )
    where = "eventTypeId IN ('7', '4339') AND marketType = 'WIN' AND bspMarket = true"
    cols = ["marketId", "marketName", "marketStartTime", "eventVenue"]
    return Query("readme", dict(columns=cols, where=where, limit=limit), min(n, limit))


def point(rng: random.Random, truth: list[Market]) -> Query:
    if rng.random() < 0.9:
        mid, rows = rng.choice(truth).market_id, 1
    else:
        mid, rows = "1.999999999", 0
    return Query("point", dict(where=f"marketId = '{mid}'"), rows)


def time_range(rng: random.Random, truth: list[Market]) -> Query:
    lo = dt.date(2023, 1, 1) + dt.timedelta(days=rng.randrange(330))
    hi = lo + dt.timedelta(days=rng.randint(1, 30))
    a, b = lo.isoformat(), hi.isoformat()
    n = sum(a <= m.start < b for m in truth)
    where = f"marketStartTime >= '{a}' AND marketStartTime < '{b}'"
    return Query(
        "range",
        dict(columns=["marketId", "marketStartTime"], where=where, limit=200),
        min(n, 200),
    )


def dialect(rng: random.Random, truth: list[Market]) -> Query:
    """SQLite datetime modifiers with an explicit capture timezone; the
    windows straddle the spring and autumn clock changes."""
    centre = rng.choice([dt.date(2023, 3, 26), dt.date(2023, 10, 29)])
    lo = centre - dt.timedelta(days=rng.randint(0, 20))
    hi = centre + dt.timedelta(days=rng.randint(0, 20))
    hour = rng.randint(0, 23)
    n = sum(
        lo <= (t := _utc(m).astimezone(LONDON)).date() <= hi and t.hour >= hour
        for m in truth
    )
    where = (
        f"date(marketStartTime, 'localtime') BETWEEN '{lo}' AND '{hi}' "
        f"AND strftime('%H', marketStartTime, 'localtime') >= '{hour:02d}'"
    )
    return Query(
        "dialect",
        dict(columns=["marketId"], where=where, local_tz="Europe/London"),
        n,
    )


def _grouped(kind: str, truth: list[Market], key, cols, group_by, where=None, keep=None) -> Query:
    counts = Counter(key(m) for m in truth if keep is None or keep(m))
    kwargs = dict(columns=cols, group_by=group_by)
    if where:
        kwargs["where"] = where
    return Query(kind, kwargs, len(counts), dict(counts))


def rollup_agg(rng: random.Random, truth: list[Market]) -> Query:
    """An aggregate that a materialized rollup covers."""
    pick = rng.randrange(3)
    if pick == 0:  # the built-in per-(sport, day) rollup
        cols = ["eventTypeId", "count(*) AS markets", "sum(runners) AS runnersTotal", "min(marketStartTime) AS firstStart"]
        return _grouped("rollup", truth, lambda m: m.event_type_id, cols, ["eventTypeId"])
    cols = ["marketType", "count(*) AS n", "sum(runners) AS runnersTotal"]
    if pick == 1:
        return _grouped("rollup", truth, lambda m: m.market_type, cols, ["marketType"])
    return _grouped(
        "rollup",
        truth,
        lambda m: m.market_type,
        cols,
        ["marketType"],
        where="marketType IN ('WIN', 'PLACE')",
        keep=lambda m: m.market_type in ("WIN", "PLACE"),
    )


def scan_agg(rng: random.Random, truth: list[Market]) -> Query:
    """An aggregate no rollup covers."""
    if rng.random() < 0.5:
        cols = ["eventVenue", "count(*) AS n", "max(marketStartTime) AS lastStart"]
        return _grouped("scan", truth, lambda m: m.venue, cols, ["eventVenue"])
    cols = ["eventTimezone", "count(*) AS n", "avg(runners) AS meanRunners"]
    return _grouped("scan", truth, lambda m: m.timezone, cols, ["eventTimezone"])


def size(rng: random.Random, truth: list[Market]) -> Query:
    return Query("size", rows=len(truth))


SHAPES = {
    "readme": readme,
    "point": point,
    "range": time_range,
    "dialect": dialect,
    "rollup": rollup_agg,
    "scan": scan_agg,
    "size": size,
}


def round_of(rng: random.Random, truth: list[Market]) -> list[Query]:
    """One round: every shape once, in a seeded order. Whole rounds keep
    the mix, and so the medians, the same from run to run."""
    names = list(SHAPES)
    rng.shuffle(names)
    return [SHAPES[n](rng, truth) for n in names]


def run(db, q: Query):
    """Execute one query; returns the raw answer."""
    if q.kind == "size":
        return db.size()
    return db.select(return_dict=False, **q.kwargs)


def check(q: Query, answer) -> str | None:
    """None when the answer matches the ground truth, else the reason."""
    if q.kind == "size":
        return None if answer == q.rows else f"size {answer} != {q.rows}"
    if len(answer) != q.rows:
        return f"{q.kind}: {len(answer)} rows != {q.rows}"
    if q.groups is not None:
        got = {row[0]: row[1] for row in answer}
        if got != q.groups:
            return f"{q.kind}: group counts differ"
    return None


def same_rows(a, b) -> bool:
    def key(rows):
        return sorted((tuple(r) for r in rows), key=lambda t: tuple((v is None, str(v)) for v in t))

    return key(a) == key(b)
