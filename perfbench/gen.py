"""Seeded input generator.

Every input the program sees is made here from ``--seed``: the same seed
gives byte-identical parquet files. The shapes follow the engine's
snapshot contract (``sources/tables.py``: ten tables, one parquet file
each, ``events.ts`` stored as parquet TIMESTAMP(NANOS), which the
loaders read as int64 and rebuild as TIMESTAMP_NTZ, so time windows
push down in the raw nanos domain), the streaming landing zone's
contract (``streaming.incremental.EVENT_STREAM_SCHEMA``: ``ts`` as
TIMESTAMP_NTZ) and the reference's payload footprint (BASELINE.md: ~31
Nambu PV plant-units, ~25 Namdong wind plants, 43 ASOS weather
stations, 24 rows per plant-day).
"""

from __future__ import annotations

import datetime as dt
import os
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

from energy_data_pipeline_spark.sources.tables import TABLE_NAMES

EVENT_TYPES = np.array(["signup", "purchase", "view", "click", "error"])
EVENTS_START = dt.datetime(2024, 1, 1)
EVENT_DAYS = 30
_WORDS = np.array(
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch".split()
)
_LANGS = np.array(["en", "zh", "es", "fr", "de"])
_LANG_P = [0.41, 0.15, 0.15, 0.15, 0.14]

N_PV_UNITS = 31
N_WIND_PLANTS = 25
N_STATIONS = 43


def _rng(seed: int, stream: str) -> np.random.Generator:
    # one independent stream per table, so resizing one leaves the others
    return np.random.default_rng([seed, zlib.crc32(stream.encode())])


def _write(table: pa.Table, path: str) -> None:
    pq.write_table(table, path)


def _days(rng, lo: str, hi: str, n: int) -> np.ndarray:
    a = np.datetime64(lo, "D")
    span = int((np.datetime64(hi, "D") - a) // np.timedelta64(1, "D"))
    return (a + rng.integers(0, span + 1, n)).astype("datetime64[us]")


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _texts(rng, n: int, base_texts: list[str] | None = None) -> list[str]:
    """Documents of 10-100 words; ~5% are near-duplicates (an earlier
    document plus a marker word) and ~0.2% exact duplicates, so the
    dedup stages have work to find."""
    pool = list(base_texts or [])
    out: list[str] = []
    lens = rng.integers(10, 101, n)
    kind = rng.random(n)
    for i in range(n):
        have = len(pool) + len(out)
        if have and kind[i] < 0.05:
            j = int(rng.integers(0, have))
            src = pool[j] if j < len(pool) else out[j - len(pool)]
            out.append(src + " dup")
        elif have and kind[i] < 0.052:
            j = int(rng.integers(0, have))
            out.append(pool[j] if j < len(pool) else out[j - len(pool)])
        else:
            out.append(" ".join(_WORDS[rng.integers(0, len(_WORDS), lens[i])]))
    return out


def _documents(rng, first_id: int, n: int, base_texts=None) -> pa.Table:
    text = _texts(rng, n, base_texts)
    ids = np.arange(first_id, first_id + n, dtype=np.int64)
    return pa.table(
        {
            "doc_id": ids,
            "text": text,
            "lang": _LANGS[rng.choice(len(_LANGS), n, p=_LANG_P)],
            "source": np.char.add("src", (ids % 20).astype(str)),
            "n_chars": np.array([len(t) for t in text], dtype=np.int64),
        }
    )


def _events(rng, first_id: int, day0: int, n_days: int, n: int, n_users: int) -> pa.Table:
    start = np.datetime64(EVENTS_START, "us") + np.timedelta64(day0, "D")
    span_us = n_days * 86_400_000_000
    ts = start + np.sort(rng.integers(0, span_us, n)).astype("timedelta64[us]")
    return pa.table(
        {
            "event_id": np.arange(first_id, first_id + n, dtype=np.int64),
            "ts": pa.array(ts.astype("datetime64[ns]"), pa.timestamp("ns")),
            "user_id": rng.integers(0, n_users, n).astype(np.int64),
            "event_type": EVENT_TYPES[rng.integers(0, 5, n)],
            "value": np.round(rng.exponential(50.0, n), 2),
            "props": np.char.add(
                np.char.add('{"k": ', rng.integers(0, 100, n).astype(str)), "}"
            ),
        }
    )


class Snapshot:
    """Sizes of one generated snapshot at scale factor ``sf`` (the same
    row ratios as the engine's sf-named test snapshots: sf0.1 has 600k
    lineitem rows, 100k events and 5k documents)."""

    def __init__(self, sf: float):
        self.sf = sf
        self.customers = int(150_000 * sf)
        self.suppliers = max(int(10_000 * sf), 10)
        self.parts = int(200_000 * sf)
        self.orders = int(1_500_000 * sf)
        self.lineitems = int(6_000_000 * sf)
        self.events = int(1_000_000 * sf)
        self.users = max(int(15_000 * sf), 10)
        self.documents = int(50_000 * sf)
        self.embeddings = int(20_000 * sf)
        self.events_per_day = self.events // EVENT_DAYS

    def write(self, seed: int, out_dir: str) -> None:
        os.makedirs(out_dir, exist_ok=True)
        p = lambda name: os.path.join(out_dir, f"{name}.parquet")  # noqa: E731

        _write(
            pa.table(
                {
                    "r_regionkey": pa.array(range(5), pa.int32()),
                    "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
                }
            ),
            p("region"),
        )
        _write(
            pa.table(
                {
                    "n_nationkey": pa.array(range(25), pa.int32()),
                    "n_name": [f"NATION_{i}" for i in range(25)],
                    "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
                }
            ),
            p("nation"),
        )
        r = _rng(seed, "customer")
        n = self.customers
        _write(
            pa.table(
                {
                    "c_custkey": np.arange(n, dtype=np.int64),
                    "c_name": [f"Customer#{i:09d}" for i in range(n)],
                    "c_nationkey": r.integers(0, 25, n).astype(np.int32),
                    "c_acctbal": _money(r, -999.99, 9999.99, n),
                    "c_mktsegment": np.array(
                        ["MACHINERY", "AUTOMOBILE", "HOUSEHOLD", "BUILDING", "FURNITURE"]
                    )[r.integers(0, 5, n)],
                }
            ),
            p("customer"),
        )
        r = _rng(seed, "supplier")
        n = self.suppliers
        _write(
            pa.table(
                {
                    "s_suppkey": np.arange(n, dtype=np.int64),
                    "s_name": [f"Supplier#{i:09d}" for i in range(n)],
                    "s_nationkey": r.integers(0, 25, n).astype(np.int32),
                    "s_acctbal": _money(r, -999.99, 9999.99, n),
                }
            ),
            p("supplier"),
        )
        r = _rng(seed, "part")
        n = self.parts
        adj = np.array(["large", "hot", "blue", "old", "cold", "red", "small", "new"])
        noun = np.array(["ring", "bolt", "plate", "gear", "widget", "rod", "anvil", "gizmo"])
        keys = np.arange(n, dtype=np.int64)
        _write(
            pa.table(
                {
                    "p_partkey": keys,
                    "p_name": np.char.add(
                        np.char.add(adj[r.integers(0, 8, n)], " "), noun[r.integers(0, 8, n)]
                    ),
                    "p_brand": np.char.add("Brand#", r.integers(1, 26, n).astype(str)),
                    "p_type": np.array(
                        ["LARGE", "MEDIUM", "ECONOMY", "PROMO", "SMALL", "STANDARD"]
                    )[r.integers(0, 6, n)],
                    "p_size": r.integers(1, 51, n).astype(np.int32),
                    "p_retailprice": np.round(900.0 + (keys % 1000) * 0.1, 1),
                }
            ),
            p("part"),
        )
        r = _rng(seed, "orders")
        n = self.orders
        _write(
            pa.table(
                {
                    "o_orderkey": np.arange(n, dtype=np.int64),
                    "o_custkey": r.integers(0, self.customers, n).astype(np.int64),
                    "o_orderstatus": np.array(["P", "O", "F"])[r.integers(0, 3, n)],
                    "o_totalprice": _money(r, 1000.0, 500000.0, n),
                    "o_orderdate": pa.array(
                        _days(r, "1995-01-01", "2001-08-01", n), pa.timestamp("us")
                    ),
                    "o_orderpriority": np.array(
                        ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
                    )[r.integers(0, 5, n)],
                }
            ),
            p("orders"),
        )
        r = _rng(seed, "lineitem")
        n = self.lineitems
        _write(
            pa.table(
                {
                    "l_orderkey": r.integers(0, self.orders, n).astype(np.int64),
                    "l_partkey": r.integers(0, self.parts, n).astype(np.int64),
                    "l_suppkey": r.integers(0, self.suppliers, n).astype(np.int64),
                    "l_linenumber": r.integers(1, 8, n).astype(np.int32),
                    "l_quantity": r.integers(1, 51, n).astype(np.float64),
                    "l_extendedprice": _money(r, 900.0, 105000.0, n),
                    "l_discount": r.integers(0, 11, n) / 100.0,
                    "l_tax": r.integers(0, 9, n) / 100.0,
                    "l_returnflag": np.array(["N", "R", "A"])[r.integers(0, 3, n)],
                    "l_linestatus": np.array(["F", "O"])[r.integers(0, 2, n)],
                    "l_shipdate": pa.array(
                        _days(r, "1995-01-02", "2001-11-04", n), pa.timestamp("us")
                    ),
                }
            ),
            p("lineitem"),
        )
        _write(
            _events(_rng(seed, "events"), 0, 0, EVENT_DAYS, self.events, self.users),
            p("events"),
        )
        _write(_documents(_rng(seed, "documents"), 0, self.documents), p("documents"))
        r = _rng(seed, "embeddings")
        n = self.embeddings
        v = r.standard_normal((n, 64)).astype(np.float32)
        v /= np.linalg.norm(v, axis=1, keepdims=True)
        _write(
            pa.table(
                {
                    "vec_id": np.arange(n, dtype=np.int64),
                    "embedding": pa.array(list(v), pa.list_(pa.float32())),
                    "label": r.integers(0, 10, n).astype(np.int32),
                }
            ),
            p("embeddings"),
        )

    def write_tick(self, seed: int, base_dir: str, tick: int, out_dir: str) -> None:
        """Snapshot for refresh tick ``tick`` (1-based): the base tables
        plus ``tick`` cumulative increments, each one more event day and
        ~2% more documents. Unchanged tables are hard links to the
        base snapshot. Also writes this tick's landed payloads
        (``pv_wide``, ``wind_wide``, ``asos``, and the day's events in
        the stream's landing shape, ``events_increment``) under
        ``out_dir/landed``."""
        os.makedirs(os.path.join(out_dir, "landed"), exist_ok=True)
        for name in TABLE_NAMES:
            if name not in ("events", "documents"):
                os.link(
                    os.path.join(base_dir, f"{name}.parquet"),
                    os.path.join(out_dir, f"{name}.parquet"),
                )
        base_events = pq.read_table(os.path.join(base_dir, "events.parquet"))
        base_docs = pq.read_table(os.path.join(base_dir, "documents.parquet"))
        ev_parts = [base_events]
        doc_parts = [base_docs]
        next_event = base_events.num_rows
        next_doc = base_docs.num_rows
        inc = None
        for k in range(1, tick + 1):
            r = _rng(seed, f"tick{k}")
            inc = _events(
                r, next_event, EVENT_DAYS + k - 1, 1, self.events_per_day, self.users
            )
            ev_parts.append(inc)
            next_event += inc.num_rows
            n_docs = max(self.documents // 50, 1)
            docs = _documents(
                r, next_doc, n_docs, base_texts=base_docs.column("text").to_pylist()
            )
            doc_parts.append(docs)
            next_doc += n_docs
        _write(pa.concat_tables(ev_parts), os.path.join(out_dir, "events.parquet"))
        _write(pa.concat_tables(doc_parts), os.path.join(out_dir, "documents.parquet"))
        landed = os.path.join(out_dir, "landed")
        write_landing(inc, os.path.join(landed, "events_increment.parquet"))
        day = (EVENTS_START + dt.timedelta(days=EVENT_DAYS + tick - 1)).date()
        write_payloads(seed, f"tick{tick}", day, landed)


def write_landing(events: pa.Table, path: str) -> None:
    """Events as they land for the stream: the columns of
    ``EVENT_STREAM_SCHEMA``, ``ts`` as parquet TIMESTAMP(MICROS) not
    adjusted to UTC, which Spark reads as TIMESTAMP_NTZ."""
    cols = ("event_id", "ts", "user_id", "event_type", "value")
    t = events.select(cols)
    ts = t.column("ts").cast(pa.timestamp("us"))
    _write(t.set_column(1, "ts", ts), path)


def write_payloads(seed: int, stream: str, day: dt.date, out_dir: str) -> None:
    """Landed source payloads for one ``day``:

    - ``pv_wide.parquet``: Nambu PV REST shape, one row per plant-unit-day
      (ymd, gencd, hogi, plant_name, qhorgen01..24 as strings, a few
      unparseable cells and null plant names);
    - ``wind_wide.parquet``: Namdong wind shape (ymd, plant_name, hogi,
      qhorGen01..24 as doubles), some plants multi-unit;
    - ``asos.parquet``: hourly ASOS weather per station (station_name,
      tm, ta, hm) with seeded NULL runs of 1-6 hours.
    """
    os.makedirs(out_dir, exist_ok=True)
    r = _rng(seed, f"payload-{stream}")
    ymd = day.strftime("%Y%m%d")

    # PV: 31 plant-units over 11 plants (gencd), hogi 1-3
    units = [(f"{997 + i // 3}D", i % 3 + 1) for i in range(N_PV_UNITS)]
    cols: dict[str, list] = {"ymd": [], "gencd": [], "hogi": [], "plant_name": []}
    for h in range(1, 25):
        cols[f"qhorgen{h:02d}"] = []
    for g, hogi in units:
        cols["ymd"].append(ymd)
        cols["gencd"].append(g)
        cols["hogi"].append(hogi)
        cols["plant_name"].append("None" if r.random() < 0.1 else f"plant-{g}")
        cap = r.uniform(500.0, 3000.0)
        for h in range(1, 25):
            sun = max(0.0, np.sin((h - 6) / 14.0 * np.pi)) if 6 <= h <= 20 else 0.0
            cell = f"{cap * sun * r.uniform(0.7, 1.0):.3f}"
            cols[f"qhorgen{h:02d}"].append("bad" if r.random() < 0.005 else cell)
    _write(pa.table(cols), os.path.join(out_dir, "pv_wide.parquet"))

    # wind: 25 plants, the first 5 with two units
    plants = [(f"wind-{i:02d}", 1) for i in range(N_WIND_PLANTS)]
    plants += [(f"wind-{i:02d}", 2) for i in range(5)]
    cols = {"ymd": [], "plant_name": [], "hogi": []}
    for h in range(1, 25):
        cols[f"qhorGen{h:02d}"] = []
    for name, hogi in plants:
        cols["ymd"].append(ymd)
        cols["plant_name"].append(name)
        cols["hogi"].append(hogi)
        gen = np.round(r.gamma(2.0, 400.0, 24), 3)
        for h in range(1, 25):
            cols[f"qhorGen{h:02d}"].append(float(gen[h - 1]))
    _write(pa.table(cols), os.path.join(out_dir, "wind_wide.parquet"))

    # ASOS: 43 stations, hourly, ~5% missing in runs of 1-6 hours
    hours = 24
    t0 = np.datetime64(day, "h")
    tm = (t0 + np.arange(hours).astype("timedelta64[h]")).astype("datetime64[us]")
    names, tms, tas, hms = [], [], [], []
    hh = np.arange(hours)
    for s in range(N_STATIONS):
        ta = 15 + 10 * np.sin(2 * np.pi * hh / 24) + r.normal(0, 2, hours)
        hm = 60 + 20 * np.sin(2 * np.pi * hh / 24) + r.normal(0, 5, hours)
        for col in (ta, hm):
            missing = 0
            target = int(0.05 * hours)
            while missing < target:
                length = int(r.integers(1, 7))
                start = int(r.integers(1, max(hours - length - 1, 2)))
                col[start : start + length] = np.nan
                missing += length
        names += [f"station-{s:02d}"] * hours
        tms.append(tm)
        tas.append(np.round(ta, 1))
        hms.append(np.round(hm, 1))
    ta_all = np.concatenate(tas)
    hm_all = np.concatenate(hms)
    _write(
        pa.table(
            {
                "station_name": names,
                "tm": pa.array(np.concatenate(tms), pa.timestamp("us")),
                "ta": pa.array(ta_all, mask=np.isnan(ta_all)),
                "hm": pa.array(hm_all, mask=np.isnan(hm_all)),
            }
        ),
        os.path.join(out_dir, "asos.parquet"),
    )
