"""Seeded CRM input generator for the ``crm_mix`` workload.

The same seed gives byte-identical tables, a different seed gives different
values with the same shape. (``olap_sf01`` generates nothing: it reads the
committed copy of the engine's sf0.1 test corpus in ``perfbench/corpus``.)

``fans_table`` builds the CRM ``fans`` table in the value domains of the
80-row reference fixture (``hive_feature_demo_spark/fixtures/fans.py``),
at any size, plus the append batches the ``crm_mix`` workload offers.
"""

from __future__ import annotations

import datetime as dt

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq


def _rng(seed: int, stream: str) -> np.random.Generator:
    """Independent generator per (seed, stream name)."""
    return np.random.default_rng([seed, sum(ord(c) << (8 * (i % 4)) for i, c in enumerate(stream))])


def _pick(rng: np.random.Generator, domain: list[str], n: int, p=None) -> pa.Array:
    return pa.array(np.asarray(domain, dtype=object)[rng.choice(len(domain), n, p=p)], pa.string())


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.integers(round(lo * 100), round(hi * 100) + 1, n) / 100.0, 2)


# ---------------------------------------------------------------------------
# CRM fans (value domains of the 80-row reference fixture)
# ---------------------------------------------------------------------------

GENRES = {
    "Jazz": 52, "Blues": 26, "Indie": 11, "Gospel": 9, "Rock": 8,
    "Hip-Hop": 7, "Classical": 7, "Alternative": 6, "Latin": 6, "EDM": 4,
    "Electronic": 3, "R&B": 2, "Folk": 2, "Punk": 2, "Rap": 1,
}
CITIES = ["Chicago", "West Chicago", "Evanston", "Oak Park", "Naperville",
          "Springfield", "Peoria", "Rockford", "Aurora", "Joliet"]
_FIRST = ["Marcus", "Aisha", "Derek", "Elena", "Jamal", "Sofia", "Trevor",
          "Nina", "Paulo", "Keiko", "Andre", "Maya", "Victor", "Lena",
          "Omar", "Tasha", "Felix", "Ingrid", "Raj", "Carmen"]
_LAST = ["Chen", "Johnson", "Okafor", "Ramirez", "Nguyen", "Kowalski",
         "Brown", "Silva", "Tanaka", "Mueller", "Washington", "Osei",
         "Petrov", "Garcia", "Kim", "Rossi"]
_PURCHASE_LO = dt.date(2023, 7, 18)
_PURCHASE_SPAN = (dt.date(2024, 10, 14) - _PURCHASE_LO).days

FANS_SCHEMA = pa.schema([
    ("id", pa.string()),
    ("first_name", pa.string()),
    ("last_name", pa.string()),
    ("email", pa.string()),
    ("phone", pa.string()),
    ("city", pa.string()),
    ("state", pa.string()),
    ("events_attended", pa.list_(pa.string())),
    ("genres", pa.list_(pa.string())),
    ("last_purchase_date", pa.date32()),
    ("total_spent", pa.float64()),
    ("email_open_rate", pa.float64()),
    ("email_click_rate", pa.float64()),
    ("subscribed", pa.bool_()),
])


def _list_column(values: np.ndarray, keep: np.ndarray, domain: list[str]) -> pa.Array:
    """List<string> column from an (n, k) index matrix and keep-mask."""
    offsets = np.concatenate([[0], np.cumsum(keep.sum(axis=1))]).astype(np.int32)
    flat = np.asarray(domain, dtype=object)[values[keep]]
    return pa.ListArray.from_arrays(pa.array(offsets), pa.array(flat, pa.string()))


def fans_table(rng: np.random.Generator, ids: list[str]) -> pa.Table:
    """Fans rows for ``ids`` drawn from the fixture's value domains."""
    n = len(ids)
    first = np.asarray(_FIRST, dtype=object)[rng.integers(0, len(_FIRST), n)]
    last = np.asarray(_LAST, dtype=object)[rng.integers(0, len(_LAST), n)]
    genre_names = list(GENRES)
    g = rng.choice(len(genre_names), (n, 3), p=np.array(list(GENRES.values())) / sum(GENRES.values()))
    k = rng.choice([1, 2, 3], n, p=[20 / 80, 54 / 80, 6 / 80])
    keep = np.ones((n, 3), dtype=bool)
    keep[:, 1] = (k >= 2) & (g[:, 1] != g[:, 0])
    keep[:, 2] = (k >= 3) & (g[:, 2] != g[:, 0]) & (g[:, 2] != g[:, 1])
    ev_domain = [f"Event {e} {y}" for e in range(1, 40) for y in (2023, 2024)]
    ev = rng.integers(0, len(ev_domain), (n, 4))
    ev_keep = np.arange(4)[None, :] < rng.integers(1, 5, n)[:, None]
    days = rng.integers(0, _PURCHASE_SPAN + 1, n)
    return pa.table({
        "id": pa.array(ids, pa.string()),
        "first_name": pa.array(first, pa.string()),
        "last_name": pa.array(last, pa.string()),
        "email": pa.array([f"{a[0].lower()}{b.lower()}{i}@example.com"
                           for a, b, i in zip(first, last, ids)], pa.string()),
        "phone": pa.array([f"+1312555{x:04d}" for x in rng.integers(0, 10_000, n)], pa.string()),
        "city": _pick(rng, CITIES, n),
        "state": pa.array(["IL"] * n, pa.string()),
        "events_attended": _list_column(ev, ev_keep, ev_domain),
        "genres": _list_column(g, keep, genre_names),
        "last_purchase_date": pa.array(
            (np.datetime64(_PURCHASE_LO) + days.astype("timedelta64[D]")), pa.date32()),
        "total_spent": pa.array(_money(rng, 134.0, 934.0, n)),
        "email_open_rate": pa.array(_money(rng, 0.36, 0.82, n)),
        "email_click_rate": pa.array(_money(rng, 0.10, 0.35, n)),
        "subscribed": pa.array(rng.random(n) < 0.9),
    }, schema=FANS_SCHEMA)


def fan_id(i: int) -> str:
    return f"f{i:08d}"


def write_fans(path: str, seed: int, n_rows: int) -> None:
    """The base fans table (ids ``f00000001``..) as one parquet file with
    row groups small enough that a scan splits across cores."""
    tbl = fans_table(_rng(seed, "fans"), [fan_id(i + 1) for i in range(n_rows)])
    pq.write_table(tbl, path, row_group_size=max(1, n_rows // 8))
