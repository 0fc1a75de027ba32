"""Seeded input generators for the benchmark.

Everything the program reads is made here from the workload seed, so
the same seed gives byte-identical inputs and the program never sees
the seed itself.

* ``write_tables`` writes the TPC-H-shaped star schema plus ``events``
  as one parquet file per table, with the schemas and value domains of
  the engine's testdata (FIXTURES.md §2).  Money and rates carry two
  decimals so the engine's exact-decimal sums stay bit-identical to the
  DuckDB oracle.
* ``ChangeFeed`` makes the CDC change files: a full-load file that
  inserts every key once, then one NDJSON file per tick of about 1,500
  INSERT/MODIFY/REMOVE events over the same fixed key space, together
  with the latest-wins model of the table after each file.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# -------------------------------------------------------------- tables

_SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
_PART_ADJ = ["blue", "cold", "hot", "large", "new", "old", "red", "small"]
_PART_NOUN = ["anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"]
_PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
_STATUS = ["F", "O", "P"]
_PRIORITY = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]

# rows per unit of scale factor (TPC-H ratios; events as in the testdata)
_ROWS_PER_SF = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
    "events": 1_000_000,
}

TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events")

_DAY_US = 86_400 * 1_000_000
_EPOCH_1995 = np.datetime64("1995-01-01", "us")


def _cents(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    """Uniform money values with exactly two decimals."""
    return np.round(rng.integers(int(lo * 100), int(hi * 100) + 1, n) / 100.0, 2)


def _pick(rng: np.random.Generator, values: list[str], n: int) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[rng.integers(0, len(values), n)])


def _days(rng: np.random.Generator, lo_day: int, hi_day: int, n: int) -> pa.Array:
    offs = rng.integers(lo_day, hi_day + 1, n).astype("int64") * _DAY_US
    return pa.array(_EPOCH_1995 + offs.astype("timedelta64[us]"), pa.timestamp("us"))


def make_tables(seed: int, sf: float) -> dict[str, pa.Table]:
    """The star schema and ``events`` at scale factor ``sf``."""
    rng = np.random.default_rng([seed, 1])
    n = {t: max(1, int(r * sf)) for t, r in _ROWS_PER_SF.items()}
    out: dict[str, pa.Table] = {}
    out["region"] = pa.table(
        {
            "r_regionkey": pa.array(range(5), pa.int32()),
            "r_name": pa.array(_REGIONS),
        }
    )
    out["nation"] = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    nc = n["customer"]
    out["customer"] = pa.table(
        {
            "c_custkey": pa.array(np.arange(nc, dtype="int64")),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(nc)]),
            "c_nationkey": pa.array(rng.integers(0, 25, nc).astype("int32")),
            "c_acctbal": pa.array(_cents(rng, -999.99, 9999.99, nc)),
            "c_mktsegment": _pick(rng, _SEGMENTS, nc),
        }
    )
    ns = n["supplier"]
    out["supplier"] = pa.table(
        {
            "s_suppkey": pa.array(np.arange(ns, dtype="int64")),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(ns)]),
            "s_nationkey": pa.array(rng.integers(0, 25, ns).astype("int32")),
            "s_acctbal": pa.array(_cents(rng, -999.99, 9999.99, ns)),
        }
    )
    npart = n["part"]
    keys = np.arange(npart, dtype="int64")
    names = np.char.add(
        np.char.add(np.asarray(_PART_ADJ)[rng.integers(0, 8, npart)], " "),
        np.asarray(_PART_NOUN)[rng.integers(0, 8, npart)],
    )
    retail = np.round(900.0 + (keys % 1000) / 10.0, 2)
    out["part"] = pa.table(
        {
            "p_partkey": pa.array(keys),
            "p_name": pa.array(names.astype(object)),
            "p_brand": pa.array(
                np.char.add("Brand#", rng.integers(1, 26, npart).astype(str)).astype(object)
            ),
            "p_type": _pick(rng, _PART_TYPES, npart),
            "p_size": pa.array(rng.integers(1, 51, npart).astype("int32")),
            "p_retailprice": pa.array(retail),
        }
    )
    no = n["orders"]
    out["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(no, dtype="int64")),
            "o_custkey": pa.array(rng.integers(0, nc, no).astype("int64")),
            "o_orderstatus": _pick(rng, _STATUS, no),
            "o_totalprice": pa.array(_cents(rng, 1000.0, 500_000.0, no)),
            "o_orderdate": _days(rng, 0, 2403, no),  # 1995-01-01 .. 2001-08-01
            "o_orderpriority": _pick(rng, _PRIORITY, no),
        }
    )
    nl = n["lineitem"]
    partkey = rng.integers(0, npart, nl).astype("int64")
    qty = rng.integers(1, 51, nl).astype("float64")
    out["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, no, nl).astype("int64")),
            "l_partkey": pa.array(partkey),
            "l_suppkey": pa.array(rng.integers(0, ns, nl).astype("int64")),
            "l_linenumber": pa.array(rng.integers(1, 8, nl).astype("int32")),
            "l_quantity": pa.array(qty),
            "l_extendedprice": pa.array(np.round(qty * retail[partkey], 2)),
            "l_discount": pa.array(rng.integers(0, 11, nl) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, nl) / 100.0),
            "l_returnflag": _pick(rng, ["A", "N", "R"], nl),
            "l_linestatus": _pick(rng, ["F", "O"], nl),
            "l_shipdate": _days(rng, 1, 2499, nl),
        }
    )
    ne = n["events"]
    # one month of events, in time order, microsecond timestamps
    ts_us = np.sort(rng.integers(0, 30 * _DAY_US, ne)).astype("int64")
    out["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(ne, dtype="int64")),
            "ts": pa.array(
                np.datetime64("2024-01-01", "us") + ts_us.astype("timedelta64[us]"),
                pa.timestamp("us"),
            ),
            "user_id": pa.array(rng.integers(0, max(1, ne // 66), ne).astype("int64")),
            "event_type": _pick(rng, _EVENT_TYPES, ne),
            "value": pa.array(np.round(rng.exponential(50.0, ne), 2)),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)]),
        }
    )
    return out


def write_tables(seed: int, sf: float, out_dir: str) -> None:
    """Write every table as ``{out_dir}/{name}.parquet``."""
    os.makedirs(out_dir, exist_ok=True)
    for name, table in make_tables(seed, sf).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))


# ---------------------------------------------------------- CDC feed

_TICKERS = ["AAPL", "AMZN", "GOOG", "MSFT", "NFLX", "NVDA", "ORCL", "TSLA"]
_SYSTEMS = ["nyse", "nasdaq", "bats"]


def key_id(k: int) -> str:
    return f"{k:024x}"


class ChangeFeed:
    """Seeded CDC change files and the latest-wins model they imply.

    File 0 is the full load: one INSERT per key, so the key space is
    full before the first timed tick and every later file touches the
    same share of the table.  Each later file holds ``events_per_tick``
    events on uniformly drawn keys: about ``remove_share`` of them
    REMOVE the key, the rest INSERT it when it is absent and MODIFY it
    when present.  ``seq`` increases across all files, so the latest
    event per key is unambiguous.
    """

    def __init__(
        self,
        seed: int,
        n_keys: int = 5_000,
        events_per_tick: int = 1_500,
        remove_share: float = 0.01,
    ) -> None:
        self.seed = seed
        self.n_keys = n_keys
        self.events_per_tick = events_per_tick
        self.remove_share = remove_share
        self.ticks = 0
        self._seq = 0
        # key -> shares of its live image (absent = not live)
        self.live: dict[int, int] = {}

    def _image(self, rng: np.random.Generator, k: int, shares: int) -> dict:
        price = round(int(rng.integers(1_000, 100_000)) / 100.0, 2)
        book = np.round(price + rng.integers(-50, 51, 6) / 100.0, 2).tolist()
        image = {
            "id": key_id(k),
            "details": {
                "asks": book[:3],
                "bids": book[3:],
                "lag": int(rng.integers(0, 1_000)),
                "system": _SYSTEMS[int(rng.integers(0, len(_SYSTEMS)))],
            },
            "price": price,
            "shares": shares,
            "ticker": _TICKERS[int(rng.integers(0, len(_TICKERS)))],
            "time": {"date": f"2024-01-{1 + self.ticks % 28:02d}T{self._seq % 24:02d}:00:00.000Z"},
        }
        if rng.random() < 0.9:  # the optional field drifts in and out
            image["ticket"] = f"T{int(rng.integers(0, 10**6)):06d}"
        return image

    def next_events(self) -> list[dict]:
        """The next file's events, applied to the model."""
        rng = np.random.default_rng([self.seed, 2, self.ticks])
        if self.ticks == 0:
            keys = list(range(self.n_keys))
            removes = [False] * self.n_keys
        else:
            keys = rng.integers(0, self.n_keys, self.events_per_tick).tolist()
            removes = (rng.random(self.events_per_tick) < self.remove_share).tolist()
        events = []
        for k, is_remove in zip(keys, removes):
            self._seq += 1
            if is_remove:
                events.append({"eventName": "REMOVE", "seq": self._seq, "removedId": key_id(k)})
                self.live.pop(k, None)
                continue
            shares = int(rng.integers(1, 10_000))
            name = "MODIFY" if k in self.live else "INSERT"
            events.append(
                {"eventName": name, "seq": self._seq, "newImage": self._image(rng, k, shares)}
            )
            self.live[k] = shares
        self.ticks += 1
        return events

    def write_next(self, path: str) -> tuple[int, int]:
        """Write the next file as NDJSON; returns (events, bytes)."""
        events = self.next_events()
        with open(path, "w") as fh:
            for e in events:
                fh.write(json.dumps(e, separators=(",", ":")))
                fh.write("\n")
        return len(events), os.path.getsize(path)

    def expected(self) -> tuple[int, int]:
        """(live keys, Σ shares) of the table after the files so far."""
        return len(self.live), sum(self.live.values())
