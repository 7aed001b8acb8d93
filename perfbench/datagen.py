"""Seeded input generators for the benchmark workloads.

Everything here is a pure function of the seed: the same seed gives
byte-identical inputs. The engine only ever sees the generated files.

- :class:`RaceFeed` emits race-result messages shaped like
  ``schemas.RACE_RESULT_MSG`` (20 drivers, 22 grands prix, advancing
  session keys) with at-least-once re-sends, null positions and one
  malformed line per file.
- :func:`write_star_tables` writes the ten registry tables
  (``session.TABLE_NAMES``) with the column types and value domains of
  the project's sf0.01 test tables.
"""

from __future__ import annotations

import json
import random
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

N_DRIVERS = 20
N_GPS = 22
GP_NAMES = [f"GP{i:02d}" for i in range(N_GPS)]
SEASON_START = datetime(2024, 3, 1, 15, 0, 0)

#: share of messages that re-send an earlier (session, driver) payload
RESEND_SHARE = 0.05
#: share of messages whose race is still running (position null)
NULL_POSITION_SHARE = 0.02


class RaceFeed:
    """Deterministic producer of race-result JSON lines.

    Each new session is one race of all 20 drivers at one grand prix;
    session keys advance monotonically. A re-send repeats an earlier
    message byte for byte, as an at-least-once producer would.
    """

    def __init__(self, seed: int) -> None:
        self._rng = random.Random(seed)
        self._session = 0
        self._sent: list[str] = []
        self._pending: list[str] = []

    def _race(self) -> list[str]:
        s = self._session
        self._session += 1
        gp = GP_NAMES[s % N_GPS]
        date = (SEASON_START + timedelta(days=7 * (s % N_GPS))).isoformat()
        order = list(range(1, N_DRIVERS + 1))
        self._rng.shuffle(order)
        out = []
        for pos, driver in enumerate(order, start=1):
            running = self._rng.random() < NULL_POSITION_SHARE
            out.append(
                json.dumps(
                    {
                        "grand_prix": gp,
                        "date": date,
                        "driver_number": str(driver),
                        "position": None if running else pos,
                        "laps_completed": 57 - (pos > 15),
                        "dnf": pos > 18,
                        "gap_to_leader": None if pos == 1 else f"+{pos * 1.7:.3f}",
                        "meeting_key": f"m{s // 3}",
                        "session_key": f"s{s:06d}",
                    }
                )
            )
        return out

    def batch(self, n_messages: int) -> list[str]:
        """``n_messages`` lines: fresh results, ~5 % re-sends of earlier
        messages, and one malformed line (not counted in the n)."""
        lines: list[str] = []
        while len(lines) < n_messages:
            if self._sent and self._rng.random() < RESEND_SHARE:
                lines.append(self._rng.choice(self._sent))
                continue
            if not self._pending:
                self._pending = self._race()
            msg = self._pending.pop(0)
            self._sent.append(msg)
            lines.append(msg)
        lines.insert(self._rng.randrange(len(lines) + 1), '{"grand_prix": "GP00", "posi')
        return lines


def drivers_rows() -> list[tuple[str, str, str | None]]:
    """The driver dimension: every driver the feed emits, some without
    a headshot."""
    return [
        (str(d), f"Driver {d:02d}", None if d % 7 == 0 else f"http://img/{d}.png")
        for d in range(1, N_DRIVERS + 1)
    ]


# -- registry tables ---------------------------------------------------------

_WORDS = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
_PART_ADJ = ["small", "red", "blue", "hot", "old", "large", "new"]
_PART_NOUN = ["ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil"]
_PART_TYPES = ["ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD", "LARGE"]
_SEGMENTS = ["HOUSEHOLD", "MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE"]
_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_LANGS = ["en"] * 9 + ["zh", "es", "de", "fr"] * 3
_EVENT_TYPES = ["signup", "error", "click", "view", "purchase"]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

#: row counts of the project's sf0.01 tables
SIZES = {
    "customer": 1500,
    "supplier": 100,
    "part": 2000,
    "orders": 15000,
    "lineitem": 60000,
    "events": 10000,
    "documents": 500,
    "embeddings": 500,
}


def _days(rng: np.random.Generator, start: str, end: str, n: int) -> pa.Array:
    lo = np.datetime64(start, "D").astype(np.int64)
    hi = np.datetime64(end, "D").astype(np.int64)
    days = rng.integers(lo, hi, n)
    return pa.array(days.astype("datetime64[D]").astype("datetime64[us]"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def star_tables(seed: int) -> dict[str, pa.Table]:
    """The ten registry tables as Arrow tables, from ``seed``."""
    rng = np.random.default_rng(seed)
    n = SIZES
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": _REGIONS,
        }
    )
    t["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": [f"NATION_{i}" for i in range(25)],
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    t["customer"] = pa.table(
        {
            "c_custkey": pa.array(range(n["customer"]), pa.int64()),
            "c_name": [f"Customer#{i:09d}" for i in range(n["customer"])],
            "c_nationkey": pa.array(rng.integers(0, 25, n["customer"]), pa.int32()),
            "c_acctbal": _money(rng, -999.99, 9999.99, n["customer"]),
            "c_mktsegment": rng.choice(_SEGMENTS, n["customer"]),
        }
    )
    t["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(range(n["supplier"]), pa.int64()),
            "s_name": [f"Supplier#{i:09d}" for i in range(n["supplier"])],
            "s_nationkey": pa.array(rng.integers(0, 25, n["supplier"]), pa.int32()),
            "s_acctbal": _money(rng, -999.99, 9999.99, n["supplier"]),
        }
    )
    names = [f"{a} {b}" for a in _PART_ADJ for b in _PART_NOUN]
    t["part"] = pa.table(
        {
            "p_partkey": pa.array(range(n["part"]), pa.int64()),
            "p_name": rng.choice(names, n["part"]),
            "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, n["part"])],
            "p_type": rng.choice(_PART_TYPES, n["part"]),
            "p_size": pa.array(rng.integers(1, 51, n["part"]), pa.int32()),
            "p_retailprice": np.round(900 + np.arange(n["part"]) % 1000 * 0.1, 2),
        }
    )
    no = n["orders"]
    t["orders"] = pa.table(
        {
            "o_orderkey": pa.array(range(no), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n["customer"], no), pa.int64()),
            "o_orderstatus": rng.choice(["P", "O", "F"], no),
            "o_totalprice": _money(rng, 1000, 500000, no),
            "o_orderdate": _days(rng, "1995-01-01", "2001-08-01", no),
            "o_orderpriority": rng.choice(_PRIORITIES, no),
        }
    )
    nl = n["lineitem"]
    t["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, no, nl), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, n["part"], nl), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n["supplier"], nl), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, nl), pa.int32()),
            "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
            "l_extendedprice": _money(rng, 900, 105000, nl),
            "l_discount": rng.integers(0, 11, nl) / 100.0,
            "l_tax": rng.integers(0, 9, nl) / 100.0,
            "l_returnflag": rng.choice(["R", "A", "N"], nl),
            "l_linestatus": rng.choice(["O", "F"], nl),
            "l_shipdate": _days(rng, "1995-01-01", "2002-01-01", nl),
        }
    )
    ne = n["events"]
    ts0 = np.datetime64("2024-01-01T00:00:00", "us").astype(np.int64)
    ts = np.sort(rng.integers(ts0, ts0 + 30 * 86400 * 10**6, ne))
    t["events"] = pa.table(
        {
            "event_id": pa.array(range(ne), pa.int64()),
            "ts": pa.array(ts.astype("datetime64[us]")),
            "user_id": pa.array(rng.integers(0, 150, ne), pa.int64()),
            "event_type": rng.choice(_EVENT_TYPES, ne),
            "value": np.round(rng.exponential(50, ne), 2) + 0.01,
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
        }
    )
    texts: list[str] = []
    for i in range(n["documents"]):
        if texts and rng.random() < 0.05:
            # planted near-duplicate: an earlier document plus a marker
            texts.append(texts[int(rng.integers(0, len(texts)))] + " dup")
        else:
            texts.append(" ".join(rng.choice(_WORDS, int(rng.integers(10, 100)))))
    t["documents"] = pa.table(
        {
            "doc_id": pa.array(range(len(texts)), pa.int64()),
            "text": texts,
            "lang": rng.choice(_LANGS, len(texts)),
            "source": [f"src{i}" for i in rng.integers(0, 20, len(texts))],
            "n_chars": pa.array([len(x) for x in texts], pa.int64()),
        }
    )
    nv = n["embeddings"]
    vecs = rng.standard_normal((nv, 64))
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    t["embeddings"] = pa.table(
        {
            "vec_id": pa.array(range(nv), pa.int64()),
            "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, nv), pa.int32()),
        }
    )
    return t


def write_star_tables(seed: int, out_dir: str) -> None:
    """Write ``<out_dir>/<name>.parquet`` for every registry table."""
    for name, table in star_tables(seed).items():
        pq.write_table(table, f"{out_dir}/{name}.parquet")
