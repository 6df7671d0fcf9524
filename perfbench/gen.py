"""Seeded input generators.

Every generator takes a ``numpy.random.Generator`` (or a seed) and is
pure: the same seed gives byte-identical inputs. Nothing here imports
Spark, so the truth models are testable on their own.

- :class:`DimensionSource` — full-snapshot CSV extracts for the SCD2
  pipeline, in the reference dialect (``;``, cp1252, header, CRLF), and
  the truth model that says what each merge must report.
- :class:`OrdersShadow` — the row-level model of the Delta-log table
  that the ``deltalog_dml`` workload mutates.
- :func:`write_star_schema` — the star-schema tables the registered
  queries read (same table and column names and types as the engine's
  fixtures, smaller and seeded).
"""

from __future__ import annotations

import random
from dataclasses import dataclass, field
from datetime import datetime, timedelta
from pathlib import Path

import numpy as np

# --- SCD2 dimension source -------------------------------------------------

KEY_COL = "Kostenstelle"
COMPARE_COLS = ("Bezeichnung", "Bereich")
CSV_DIALECT = {"sep": ";", "encoding": "cp1252"}  # lines end in CRLF

_WORDS = (
    "Verwaltung", "Küche", "Lager", "Vertrieb", "Einkauf", "Prüfung",
    "Wartung", "Büro", "Schulung", "Qualität", "Logistik", "Straßenbau",
    "Forschung", "Empfang", "Kantine", "Fuhrpark", "Technik", "Personal",
)
_AREAS = ("Nord", "Süd", "Ost", "West", "Zentrale", "Außendienst", "Werk 1", "Werk 2")


@dataclass
class BatchTruth:
    """What one merge must report, and what the snapshot holds."""

    run_ts: str
    new_keys: int
    updated_keys: int
    unchanged: int
    rows: int


@dataclass
class DimensionSource:
    """Truth model of an SCD2 source: a dimension of ``n_keys`` keys
    that drifts from batch to batch.

    Each batch after the first changes ``change_frac`` of the existing
    keys (one compare column each, value→value, value→NULL or
    NULL→value) and adds ``new_frac`` new keys. The CSV snapshot always
    carries every live key, plus exact duplicate rows, values padded
    with blanks (equal after trim) and empty fields (NULL)."""

    n_keys: int
    seed: int
    change_frac: float = 0.03
    new_frac: float = 0.01
    dup_frac: float = 0.005
    pad_frac: float = 0.02
    null_frac: float = 0.02
    state: dict[str, tuple[str | None, ...]] = field(default_factory=dict)
    versions: dict[str, int] = field(default_factory=dict)
    batches: int = 0

    def __post_init__(self) -> None:
        self._rng = random.Random(self.seed)
        self._next_key = 0

    def _value(self, col: int) -> str | None:
        if self._rng.random() < self.null_frac:
            return None
        if col == 0:
            return f"{self._rng.choice(_WORDS)} {self._rng.randrange(1000):03d}"
        return self._rng.choice(_AREAS)

    def _new_key(self) -> str:
        k = f"KS{self._next_key:07d}"
        self._next_key += 1
        self.state[k] = tuple(self._value(c) for c in range(len(COMPARE_COLS)))
        self.versions[k] = 1
        return k

    def _change(self, key: str) -> None:
        old = list(self.state[key])
        col = self._rng.randrange(len(old))
        new = self._value(col)
        while new == old[col]:
            new = self._value(col)
        old[col] = new
        self.state[key] = tuple(old)
        self.versions[key] += 1

    def run_ts(self, batch: int) -> str:
        ts = datetime(2026, 1, 1) + timedelta(hours=batch)
        return ts.strftime("%Y-%m-%d %H:%M:%S")

    def next_batch(self) -> BatchTruth:
        """Advance the model by one batch and return its truth."""
        b = self.batches
        self.batches += 1
        if b == 0:
            for _ in range(self.n_keys):
                self._new_key()
            return BatchTruth(self.run_ts(b), len(self.state), 0, 0, 0)
        live = sorted(self.state)
        n_change = max(1, round(len(live) * self.change_frac))
        for k in self._rng.sample(live, n_change):
            self._change(k)
        n_new = max(1, round(len(live) * self.new_frac))
        for _ in range(n_new):
            self._new_key()
        return BatchTruth(self.run_ts(b), n_new, n_change, len(live) - n_change, 0)

    def _field(self, v: str | None) -> str:
        if v is None:
            return ""
        if self._rng.random() < self.pad_frac:
            return " " * self._rng.randint(1, 3) + v + " " * self._rng.randint(0, 3)
        return v

    def snapshot_csv(self) -> bytes:
        """The current state as one CSV extract in the reference
        dialect; row order is shuffled and some rows repeat exactly."""
        lines = [";".join((KEY_COL, *COMPARE_COLS))]
        rows = []
        for k, vals in self.state.items():
            line = ";".join([k, *(self._field(v) for v in vals)])
            rows.append(line)
            if self._rng.random() < self.dup_frac:
                rows.append(line)
        self._rng.shuffle(rows)
        lines.extend(rows)
        return ("\r\n".join(lines) + "\r\n").encode(CSV_DIALECT["encoding"])

    def write_batch(self, path: Path) -> BatchTruth:
        """Advance one batch and write its extract to ``path``."""
        truth = self.next_batch()
        data = self.snapshot_csv()
        path.write_bytes(data)
        truth.rows = data.count(b"\r\n") - 1
        return truth


# --- Delta-log orders table ------------------------------------------------

ORDER_STATUS = ("F", "O", "P")
ORDER_PRIORITY = ("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
ORDERS_SCHEMA = (
    "o_orderkey long, o_custkey long, o_orderstatus string, "
    "o_totalprice double, o_orderdate date, o_orderpriority string"
)
_EPOCH = datetime(1995, 1, 1).date()
HASH_MOD = 2_147_483_647


def order_row_hash(key: int, cust: int, status: str, cents: int) -> int:
    """Per-row hash the checker sums on both sides (Spark and Python):
    exact integer arithmetic, so the sums agree bit for bit."""
    return (key * 1_000_003 + cust * 7919 + cents * 31 + ORDER_STATUS.index(status)) % HASH_MOD


@dataclass
class OrdersShadow:
    """Row-level model of the orders table: key → (cust, status,
    cents, day offset, priority). ``snapshot()`` gives the two numbers
    every read is checked against."""

    rows: dict[int, tuple[int, str, int, int, str]] = field(default_factory=dict)
    next_key: int = 0

    def _row(self, rng: random.Random, n_cust: int) -> tuple[int, str, int, int, str]:
        return (
            rng.randrange(n_cust),
            rng.choice(ORDER_STATUS),
            rng.randrange(100_000, 50_000_000),
            rng.randrange(2400),
            rng.choice(ORDER_PRIORITY),
        )

    def new_rows(self, rng: random.Random, n: int, n_cust: int) -> dict[int, tuple]:
        out = {}
        for _ in range(n):
            out[self.next_key] = self._row(rng, n_cust)
            self.next_key += 1
        return out

    def upsert_rows(self, rng: random.Random, n_update: int, n_new: int, n_cust: int) -> dict[int, tuple]:
        out = {k: self._row(rng, n_cust) for k in rng.sample(sorted(self.rows), min(n_update, len(self.rows)))}
        out.update(self.new_rows(rng, n_new, n_cust))
        return out

    def apply(self, batch: dict[int, tuple]) -> None:
        self.rows.update(batch)

    def delete_cust(self, cust: int) -> int:
        gone = [k for k, r in self.rows.items() if r[0] == cust]
        for k in gone:
            del self.rows[k]
        return len(gone)

    def snapshot(self) -> tuple[int, int]:
        h = 0
        for k, (cust, status, cents, _, _) in self.rows.items():
            h += order_row_hash(k, cust, status, cents)
        return len(self.rows), h

    @staticmethod
    def write_parquet(path: Path, batch: dict[int, tuple]) -> None:
        """``batch`` as one parquet file with the table's schema."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        cols = list(zip(*OrdersShadow.to_records(batch)))
        types = (pa.int64(), pa.int64(), pa.string(), pa.float64(), pa.date32(), pa.string())
        names = [c.split()[0] for c in ORDERS_SCHEMA.split(", ")]
        pq.write_table(pa.table([pa.array(c, t) for c, t in zip(cols, types)], names=names), path)

    @staticmethod
    def to_records(batch: dict[int, tuple]) -> list[tuple]:
        return [
            (k, cust, status, cents / 100.0, _EPOCH + timedelta(days=day), prio)
            for k, (cust, status, cents, day, prio) in sorted(batch.items())
        ]


# --- star schema for the registered queries --------------------------------

REGIONS = ("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
SEGMENTS = ("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
PART_ADJ = ("blue", "cold", "hot", "large", "new", "old", "red", "small")
PART_NOUN = ("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
PART_TYPES = ("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
EVENT_TYPES = ("click", "error", "purchase", "signup", "view")
LANGS = ("de", "en", "es", "fr", "zh")
DOC_WORDS = (
    "row", "the", "query", "stream", "key", "agg", "scan", "slow", "table",
    "part", "a", "merge", "window", "order", "column", "join", "vector",
    "fast", "spark", "line", "small", "customer", "group", "value", "hash",
    "batch", "sort", "data", "big", "filter", "dup",
)


@dataclass(frozen=True)
class StarSize:
    customers: int = 1500
    suppliers: int = 100
    parts: int = 2000
    orders: int = 15000
    lineitems: int = 60000
    events: int = 10000
    users: int = 150
    documents: int = 500
    embeddings: int = 500
    dim: int = 64


def star_tables(seed: int, size: StarSize = StarSize()) -> dict:
    """The star schema as pyarrow tables, column names and types equal
    to the engine's fixtures (see FIXTURES.md, part B)."""
    import pyarrow as pa

    rng = np.random.default_rng(seed)

    def money(lo: float, hi: float, n: int) -> np.ndarray:
        return np.round(rng.uniform(lo, hi, n), 2)

    def days(start: str, n_days: int, n: int) -> np.ndarray:
        base = np.datetime64(start, "us")
        return base + rng.integers(0, n_days, n).astype("timedelta64[D]")

    i32, i64 = pa.int32(), pa.int64()
    t = {}
    t["region"] = pa.table({"r_regionkey": pa.array(range(5), i32), "r_name": list(REGIONS)})
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), i32),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], i32),
    })
    nc = size.customers
    t["customer"] = pa.table({
        "c_custkey": pa.array(np.arange(nc), i64),
        "c_name": [f"Customer#{i:09d}" for i in range(nc)],
        "c_nationkey": pa.array(rng.integers(0, 25, nc), i32),
        "c_acctbal": money(-999.99, 9999.99, nc),
        "c_mktsegment": rng.choice(SEGMENTS, nc),
    })
    ns = size.suppliers
    t["supplier"] = pa.table({
        "s_suppkey": pa.array(np.arange(ns), i64),
        "s_name": [f"Supplier#{i:09d}" for i in range(ns)],
        "s_nationkey": pa.array(rng.integers(0, 25, ns), i32),
        "s_acctbal": money(-999.99, 9999.99, ns),
    })
    npart = size.parts
    t["part"] = pa.table({
        "p_partkey": pa.array(np.arange(npart), i64),
        "p_name": [f"{a} {b}" for a, b in zip(rng.choice(PART_ADJ, npart), rng.choice(PART_NOUN, npart))],
        "p_brand": [f"Brand#{i}" for i in rng.integers(1, 26, npart)],
        "p_type": rng.choice(PART_TYPES, npart),
        "p_size": pa.array(rng.integers(1, 51, npart), i32),
        "p_retailprice": np.round(900.0 + (np.arange(npart) % 1000) * 0.1, 2),
    })
    no = size.orders
    t["orders"] = pa.table({
        "o_orderkey": pa.array(np.arange(no), i64),
        "o_custkey": pa.array(rng.integers(0, nc, no), i64),
        "o_orderstatus": rng.choice(ORDER_STATUS, no),
        "o_totalprice": money(1000.0, 500000.0, no),
        "o_orderdate": pa.array(days("1995-01-01", 2400, no), pa.timestamp("us")),
        "o_orderpriority": rng.choice(ORDER_PRIORITY, no),
    })
    nl = size.lineitems
    qty = rng.integers(1, 51, nl).astype(float)
    t["lineitem"] = pa.table({
        "l_orderkey": pa.array(rng.integers(0, no, nl), i64),
        "l_partkey": pa.array(rng.integers(0, npart, nl), i64),
        "l_suppkey": pa.array(rng.integers(0, ns, nl), i64),
        "l_linenumber": pa.array(rng.integers(1, 8, nl), i32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, nl), 2),
        "l_discount": np.round(rng.integers(0, 11, nl) / 100.0, 2),
        "l_tax": np.round(rng.integers(0, 9, nl) / 100.0, 2),
        "l_returnflag": rng.choice(("A", "N", "R"), nl),
        "l_linestatus": rng.choice(("F", "O"), nl),
        "l_shipdate": pa.array(days("1995-01-02", 2500, nl), pa.timestamp("us")),
    })
    ne = size.events
    span_us = 30 * 86400 * 1_000_000
    ts = np.sort(rng.integers(0, span_us, ne)) + np.datetime64("2024-01-01", "us").astype(np.int64)
    t["events"] = pa.table({
        "event_id": pa.array(np.arange(ne), i64),
        "ts": pa.array(ts.astype("datetime64[us]"), pa.timestamp("us")),
        "user_id": pa.array(rng.integers(0, size.users, ne), i64),
        "event_type": rng.choice(EVENT_TYPES, ne),
        "value": np.round(rng.exponential(50.0, ne) + 0.01, 2),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, ne)],
    })
    nd = size.documents
    texts = [" ".join(rng.choice(DOC_WORDS, int(n))) for n in rng.integers(8, 100, nd)]
    # a few near-duplicates so the dedup and similarity families find pairs
    for i in range(0, nd - 1, 25):
        texts[i + 1] = texts[i] + " dup"
    t["documents"] = pa.table({
        "doc_id": pa.array(np.arange(nd), i64),
        "text": texts,
        "lang": rng.choice(LANGS, nd),
        "source": [f"src{i}" for i in rng.integers(0, 20, nd)],
        "n_chars": pa.array([len(x) for x in texts], i64),
    })
    nv = size.embeddings
    vecs = rng.normal(0.0, 0.12, (nv, size.dim)).astype(np.float32)
    t["embeddings"] = pa.table({
        "vec_id": pa.array(np.arange(nv), i64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, nv), i32),
    })
    return t


def write_star_schema(out_dir: Path, seed: int, size: StarSize = StarSize()) -> dict[str, int]:
    """Write ``<name>.parquet`` per table under ``out_dir``; returns
    the row count of each table."""
    import pyarrow.parquet as pq

    out_dir.mkdir(parents=True, exist_ok=True)
    counts = {}
    for name, table in star_tables(seed, size).items():
        pq.write_table(table, out_dir / f"{name}.parquet")
        counts[name] = table.num_rows
    return counts
