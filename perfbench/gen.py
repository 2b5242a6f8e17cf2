"""Seeded input generators and their expected outputs.

Everything the engine reads in a benchmark run is written here from the
run's ``--seed``; everything the benchmark checks the engine against is
computed here too, in numpy, without calling the engine.

Two families of inputs:

- HCDP-shaped wide station CSVs (``SKN``, eight translated metadata
  columns, ``X%Y.%m.%d`` date headers, ``"NA"`` cells, a few truncated
  rows) plus :class:`ObsModel`, a numpy model of the observation table
  that predicts row counts, created/replaced figures and read answers.
- A small TPC-H-shaped table set (the same ten tables and schemas the
  registry queries load) for the registry-query pass.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from datetime import date, timedelta

import numpy as np

META_HEADER = (
    "SKN", "Station.Name", "Observer", "Network", "Island",
    "ELEV.m.", "LAT", "LON", "NCEI.id",
)
ISLANDS = ("Oahu", "Maui", "Kauai", "Hawaii", "Molokai", "Lanai")
NETWORKS = ("HaleNet", "NWS", "USGS", "SCAN", "CoCoRaHS")
NA_SHARE = 0.03
TRUNCATED_SHARE = 0.01
REVISED_SHARE = 0.10
DATATYPE = "rainfall"


def header_of(d: date) -> str:
    return f"X{d.year:04d}.{d.month:02d}.{d.day:02d}"


def cents_str(c: np.ndarray) -> np.ndarray:
    """Integer hundredths -> '12.34' strings (exact decimal text)."""
    c = np.asarray(c, dtype=np.int64)
    return np.char.add(
        np.char.add(np.char.mod("%d", c // 100), "."),
        np.char.zfill(np.char.mod("%d", c % 100), 2),
    )


@dataclass
class ObsModel:
    """Ground truth for one station matrix and the table built from it.

    ``cents[s, d]`` is station s's value on day ``start + d`` in hundredths
    (rainfall in mm, 0.00 to 80.00); ``na[s, d]`` marks an ``"NA"`` cell.
    ``trunc[s]`` is how many trailing fields station s's row loses in
    every file written (0 for most stations). ``in_table``/``table_cents``
    model the observation table after the ingests :meth:`apply_file`
    recorded.
    """

    seed: int
    n_stations: int
    start: date
    n_days: int
    cents: np.ndarray = field(init=False)
    na: np.ndarray = field(init=False)
    trunc: np.ndarray = field(init=False)
    skn: list[str] = field(init=False)
    in_table: np.ndarray = field(init=False)
    table_cents: np.ndarray = field(init=False)
    rng: np.random.Generator = field(init=False)

    def __post_init__(self) -> None:
        self.rng = np.random.default_rng(self.seed)
        shape = (self.n_stations, self.n_days)
        self.cents = self.rng.integers(0, 8001, size=shape)
        self.na = self.rng.random(shape) < NA_SHARE
        self.trunc = np.zeros(self.n_stations, dtype=np.int64)
        n_trunc = max(2, int(self.n_stations * TRUNCATED_SHARE))
        who = self.rng.choice(self.n_stations, size=n_trunc, replace=False)
        self.trunc[who] = self.rng.integers(1, 4, size=n_trunc)
        # HCDP station numbers look numeric ("1029.10"): they must stay
        # strings end to end, trailing zero included
        self.skn = [f"{100 + 7 * i}.{(13 * i) % 100:02d}" for i in range(self.n_stations)]
        self.in_table = np.zeros(shape, dtype=bool)
        self.table_cents = np.zeros(shape, dtype=np.int64)

    def day_index(self, d: date) -> int:
        k = (d - self.start).days
        if not 0 <= k < self.n_days:
            raise ValueError(f"{d} outside the model's days")
        return k

    def date_of(self, k: int) -> date:
        return self.start + timedelta(k)

    # -- inputs ------------------------------------------------------------

    def write_csv(self, path: str, first: date, last: date) -> None:
        """One wide CSV with date columns first..last (inclusive)."""
        lo, hi = self.day_index(first), self.day_index(last) + 1
        cells = np.where(self.na[:, lo:hi], "NA", cents_str(self.cents[:, lo:hi]))
        header = list(META_HEADER) + [header_of(self.date_of(k)) for k in range(lo, hi)]
        lines = [",".join(header)]
        for s in range(self.n_stations):
            fields = [
                self.skn[s], f"Station {s}", f"obs{s % 17}",
                NETWORKS[s % len(NETWORKS)], ISLANDS[s % len(ISLANDS)],
                str(10 + (37 * s) % 3000), f"{19.5 + (s % 300) / 137:.4f}",
                f"{-155.0 - (s % 400) / 151:.4f}",
                "NA" if s % 3 else f"USC00{510000 + s}",
            ] + cells[s].tolist()
            if self.trunc[s]:
                fields = fields[: -int(self.trunc[s])]
            lines.append(",".join(fields))
        os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
        with open(path, "w", encoding="utf-8") as f:
            f.write("\n".join(lines) + "\n")

    def present(self, first: date, last: date, file_last: date) -> np.ndarray:
        """Which (station, day in first..last) cells a file ending at
        ``file_last`` actually carries: not NA and not cut off."""
        lo, hi = self.day_index(first), self.day_index(last) + 1
        fe = self.day_index(file_last)
        pres = ~self.na[:, lo:hi]
        cut_from = fe + 1 - self.trunc  # first missing day per station
        days = np.arange(lo, hi)
        return pres & (days[None, :] < cut_from[:, None])

    def revise(self, d: date) -> int:
        """Seeded revision of day d for REVISED_SHARE of the stations.

        Only non-NA cells change, and always by a nonzero amount. Returns
        how many cells changed."""
        k = self.day_index(d)
        pick = self.rng.random(self.n_stations) < REVISED_SHARE
        pick &= ~self.na[:, k]
        delta = self.rng.integers(1, 500, size=self.n_stations)
        self.cents[pick, k] = (self.cents[pick, k] + delta[pick]) % 8001
        # a wrap onto the old value is impossible: 1 <= delta < 8001
        return int(pick.sum())

    # -- expected outputs ----------------------------------------------------

    def apply_file(self, window_first: date, window_last: date, file_last: date) -> tuple[int, int]:
        """Model one file's merge over its in-range window: (created, replaced)."""
        lo, hi = self.day_index(window_first), self.day_index(window_last) + 1
        pres = self.present(window_first, window_last, file_last)
        new = self.cents[:, lo:hi]
        had = self.in_table[:, lo:hi]
        old = self.table_cents[:, lo:hi]
        created = int((pres & ~had).sum())
        replaced = int((pres & had & (old != new)).sum())
        self.in_table[:, lo:hi] |= pres
        self.table_cents[:, lo:hi] = np.where(pres, new, old)
        return created, replaced

    def row_count(self) -> int:
        return int(self.in_table.sum())

    def series(self, station: int, first: date, last: date) -> list[tuple[str, float]]:
        """(iso date, value) rows of one station over first..last."""
        lo, hi = self.day_index(first), self.day_index(last) + 1
        out = []
        for k in range(lo, hi):
            if self.in_table[station, k]:
                out.append((self.date_of(k).isoformat(), self.table_cents[station, k] / 100))
        return out

    def daily_means(self, first: date, last: date) -> dict[str, float]:
        lo, hi = self.day_index(first), self.day_index(last) + 1
        pres = self.in_table[:, lo:hi]
        tot = np.where(pres, self.table_cents[:, lo:hi], 0).sum(axis=0)
        n = pres.sum(axis=0)
        return {
            self.date_of(lo + j).isoformat(): tot[j] / 100 / n[j]
            for j in range(hi - lo) if n[j]
        }

    def station_totals(self, first: date, last: date) -> dict[str, float]:
        lo, hi = self.day_index(first), self.day_index(last) + 1
        pres = self.in_table[:, lo:hi]
        tot = np.where(pres, self.table_cents[:, lo:hi], 0).sum(axis=1)
        return {self.skn[s]: tot[s] / 100 for s in range(self.n_stations) if pres[s].any()}


def month_span(year: int, month: int) -> tuple[date, date]:
    first = date(year, month, 1)
    return first, date(year + (month == 12), month % 12 + 1, 1) - timedelta(1)


def month_files(model: ObsModel, year: int, months: int, out_dir: str) -> list[str]:
    """The first ``months`` monthly wide CSVs of ``year`` (X%Y.%m.%d
    headers, ~30 date columns each); the model records each file's
    merge into an empty table."""
    paths = []
    for m in range(1, months + 1):
        first, last = month_span(year, m)
        p = os.path.join(out_dir, f"{year:04d}_{m:02d}.csv")
        model.write_csv(p, first, last)
        model.apply_file(first, last, last)
        paths.append(p)
    return paths


# -- TPC-H-shaped tables for the registry queries ----------------------------

WORDS = (
    "a agg batch big column customer data dup fast filter group hash join "
    "key line merge order part query row scan slow small sort spark stream "
    "table the value vector window"
).split()


def write_query_tables(out_dir: str, seed: int, scale: float = 0.01) -> dict[str, int]:
    """The ten tables the registry queries load, with their names and
    schemas, at ``scale`` (0.01 -> ~60k lineitem rows). Returns row counts."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed + 7919)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = int(150_000 * scale), int(10_000 * scale), int(200_000 * scale)
    n_ord, n_events, n_docs, n_emb = int(1_500_000 * scale), int(1_000_000 * scale), int(50_000 * scale), int(50_000 * scale)
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    tables: dict[str, pa.Table] = {}

    def money(n, lo, hi):
        return np.round(rng.integers(int(lo * 100), int(hi * 100), size=n) / 100, 2)

    tables["region"] = pa.table({
        "r_regionkey": pa.array(np.arange(5), i32),
        "r_name": pa.array(["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"], s),
    })
    tables["nation"] = pa.table({
        "n_nationkey": pa.array(np.arange(25), i32),
        "n_name": pa.array([f"NATION_{i}" for i in range(25)], s),
        "n_regionkey": pa.array(np.arange(25) % 5, i32),
    })
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    tables["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(n_cust), i64),
        "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)], s),
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
        "c_acctbal": pa.array(money(n_cust, -999.99, 9999.99), f64),
        "c_mktsegment": pa.array(segs[rng.integers(0, 5, n_cust)], s),
    })
    tables["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), i64),
        "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)], s),
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
        "s_acctbal": pa.array(money(n_supp, -999.99, 9999.99), f64),
    })
    adj = np.array(["small", "red", "blue", "hot", "old", "large", "green", "cold"])
    noun = np.array(["ring", "widget", "bolt", "plate", "rod", "gear", "pipe", "nut"])
    types = np.array(["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"])
    tables["part"] = pa.table({
        "p_partkey": pa.array(np.arange(n_part), i64),
        "p_name": pa.array(np.char.add(np.char.add(adj[rng.integers(0, 8, n_part)], " "), noun[rng.integers(0, 8, n_part)]), s),
        "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)], s),
        "p_type": pa.array(types[rng.integers(0, 6, n_part)], s),
        "p_size": pa.array(rng.integers(1, 51, n_part), i32),
        "p_retailprice": pa.array(np.round(900 + (np.arange(n_part) % 1000) / 10, 2), f64),
    })
    day0 = np.datetime64("1995-01-01")
    odate = day0 + rng.integers(0, 2400, n_ord).astype("timedelta64[D]")
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    tables["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), i64),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
        "o_orderstatus": pa.array(np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)], s),
        "o_totalprice": pa.array(money(n_ord, 1000, 500000), f64),
        "o_orderdate": pa.array(odate.astype("datetime64[us]"), pa.timestamp("us")),
        "o_orderpriority": pa.array(prio[rng.integers(0, 5, n_ord)], s),
    })
    lines_per = rng.integers(1, 8, n_ord)
    okey = np.repeat(np.arange(n_ord), lines_per)
    n_li = len(okey)
    lnum = np.concatenate([np.arange(1, k + 1) for k in lines_per])
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    ship = odate[okey] + rng.integers(1, 122, n_li).astype("timedelta64[D]")
    tables["lineitem"] = pa.table({
        "l_orderkey": pa.array(okey, i64),
        "l_partkey": pa.array(rng.integers(0, n_part, n_li), i64),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), i64),
        "l_linenumber": pa.array(lnum, i32),
        "l_quantity": pa.array(qty, f64),
        "l_extendedprice": pa.array(money(n_li, 900, 105000), f64),
        "l_discount": pa.array(rng.integers(0, 11, n_li) / 100, f64),
        "l_tax": pa.array(rng.integers(0, 9, n_li) / 100, f64),
        "l_returnflag": pa.array(np.array(["A", "N", "R"])[rng.integers(0, 3, n_li)], s),
        "l_linestatus": pa.array(np.array(["F", "O"])[rng.integers(0, 2, n_li)], s),
        "l_shipdate": pa.array(ship.astype("datetime64[us]"), pa.timestamp("us")),
    })
    t0 = np.datetime64("2024-01-01T00:00:00", "us")
    step = np.int64(30 * 86400 * 1_000_000 // max(n_events, 1))
    ts = t0 + (np.arange(n_events) * step + rng.integers(0, step, n_events)).astype("timedelta64[us]")
    etypes = np.array(["click", "error", "purchase", "signup", "view"])
    tables["events"] = pa.table({
        "event_id": pa.array(np.arange(n_events), i64),
        "ts": pa.array(ts, pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, max(n_events // 66, 2), n_events), i64),
        "event_type": pa.array(etypes[rng.integers(0, 5, n_events)], s),
        "value": pa.array(money(n_events, 0.01, 490.02), f64),
        "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)], s),
    })
    words = np.array(WORDS)
    texts: list[str] = []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.1:
            # near-duplicate of an earlier document: one word swapped
            w = texts[int(rng.integers(0, i))].split(" ")
            w[int(rng.integers(0, len(w)))] = str(words[rng.integers(0, len(words))])
            texts.append(" ".join(w))
        else:
            texts.append(" ".join(words[rng.integers(0, len(words), int(rng.integers(10, 90)))]))
    langs = np.array(["en", "en", "en", "zh", "es", "de", "fr"])
    tables["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_docs), i64),
        "text": pa.array(texts, s),
        "lang": pa.array(langs[rng.integers(0, len(langs), n_docs)], s),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)], s),
        "n_chars": pa.array([len(t) for t in texts], i64),
    })
    emb = rng.normal(size=(n_emb, 64)).astype(np.float32)
    emb /= np.linalg.norm(emb, axis=1, keepdims=True)
    tables["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(n_emb), i64),
        "embedding": pa.array(list(emb), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_emb), i32),
    })
    for name, tbl in tables.items():
        pq.write_table(tbl, os.path.join(out_dir, f"{name}.parquet"))
    return {name: tbl.num_rows for name, tbl in tables.items()}
