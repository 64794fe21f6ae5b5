"""Deterministic, seeded input generator for the benchmark.

Table *contents* come from a fixed content seed, so every run converts
and queries the same multiset of rows and the correctness references
never move. The workload ``--seed`` only permutes row order (and, in
``run.py``, the query order within a pass), which changes the bytes the
program reads without changing what it must compute.

Schemas follow the repository's TPC-H-ish fixture tables (region,
nation, customer, supplier, part, orders, lineitem, events, documents,
embeddings), so the registered headline queries and their DuckDB
oracles run unchanged over the generated parquet.

Every file written is recorded with its byte size and SHA-256, so two
runs can show they measured the same bytes.
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq

CONTENT_SEED = 42

_EPOCH_DAY = np.datetime64("1970-01-01", "D")
_DAY_US = 86_400_000_000
_WORDS = (
    "join hash row batch scan column customer filter small slow merge order "
    "vector line table data agg value key stream window a spark part group "
    "big sort query fast the"
).split()
_COMMENT_WORDS = _WORDS + [
    "it's", '"quoted"', "a,b", "(paren)", "semi;colon", "back\\slash", "o'clock",
]


def _days(start: str, n_days: int, rng, n: int) -> np.ndarray:
    base = (np.datetime64(start, "D") - _EPOCH_DAY).astype(np.int64)
    return (base + rng.integers(0, n_days, n)) * _DAY_US


def _ts(us: np.ndarray) -> pa.Array:
    return pa.array(us, pa.timestamp("us"))


def _money(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _choice(rng, values: list[str], n: int) -> pa.Array:
    return pa.array(np.array(values, dtype=object)[rng.integers(0, len(values), n)])


def _text(rng, n: int, lo: int, hi: int, words: list[str]) -> list[str]:
    vocab = np.array(words, dtype=object)
    lens = rng.integers(lo, hi + 1, n)
    flat = vocab[rng.integers(0, len(vocab), int(lens.sum()))]
    out, pos = [], 0
    for k in lens:
        out.append(" ".join(flat[pos : pos + k]))
        pos += k
    return out


def make_tables(lineitem_rows: int) -> dict[str, pa.Table]:
    """The fixture star schema at ``lineitem_rows`` fact rows (the
    repository's sf0.1 has 600k), in canonical row order."""
    rng = np.random.default_rng(CONTENT_SEED)
    n_li = lineitem_rows
    n_orders = max(n_li // 4, 1)
    n_cust = max(n_li // 40, 25)
    n_supp = max(n_li // 600, 10)
    n_part = max(n_li // 30, 20)
    n_events = max(n_li // 6, 100)
    n_docs = max(n_li // 120, 50)
    n_vecs = max(n_li // 300, 50)
    t: dict[str, pa.Table] = {}
    t["region"] = pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()),
        "r_name": ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"],
    })
    t["nation"] = pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
    })
    t["customer"] = pa.table({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _money(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": _choice(
            rng, ["HOUSEHOLD", "MACHINERY", "FURNITURE", "BUILDING", "AUTOMOBILE"], n_cust
        ),
    })
    t["supplier"] = pa.table({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _money(rng, -999.99, 9999.99, n_supp),
    })
    t["part"] = pa.table({
        "p_partkey": np.arange(n_part, dtype=np.int64),
        "p_name": _text(rng, n_part, 2, 2, ["small", "red", "blue", "big", "ring", "widget", "bolt", "gear"]),
        "p_brand": _choice(rng, [f"Brand#{i}" for i in range(1, 26)], n_part),
        "p_type": _choice(rng, ["ECONOMY", "SMALL", "MEDIUM", "PROMO", "STANDARD", "LARGE"], n_part),
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": np.round(900 + (np.arange(n_part) % 1000) * 0.1, 2),
    })
    t["orders"] = pa.table({
        "o_orderkey": np.arange(n_orders, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_orders),
        "o_orderstatus": _choice(rng, ["P", "F", "O"], n_orders),
        "o_totalprice": _money(rng, 1000, 500000, n_orders),
        "o_orderdate": _ts(_days("1995-01-01", 2404, rng, n_orders)),
        "o_orderpriority": _choice(
            rng, ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_orders
        ),
    })
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    t["lineitem"] = pa.table({
        "l_orderkey": rng.integers(0, n_orders, n_li),
        "l_partkey": rng.integers(0, n_part, n_li),
        "l_suppkey": rng.integers(0, n_supp, n_li),
        "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900, 2100, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": _choice(rng, ["A", "N", "R"], n_li),
        "l_linestatus": _choice(rng, ["F", "O"], n_li),
        "l_shipdate": _ts(_days("1995-01-02", 2499, rng, n_li)),
    })
    ev_start = (np.datetime64("2024-01-01", "D") - _EPOCH_DAY).astype(np.int64) * _DAY_US
    t["events"] = pa.table({
        "event_id": np.arange(n_events, dtype=np.int64),
        "ts": _ts(np.sort(ev_start + rng.integers(0, 30 * _DAY_US, n_events))),
        "user_id": rng.integers(0, max(n_events // 60, 10), n_events),
        "event_type": _choice(rng, ["view", "click", "purchase", "signup", "error"], n_events),
        "value": _money(rng, 0.01, 490.0, n_events),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_events)],
    })
    texts = _text(rng, n_docs, 10, 99, _WORDS)
    for i in range(1, n_docs, 20):  # near-duplicates for the MinHash query
        texts[i] = texts[i - 1] + " dup"
    t["documents"] = pa.table({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": _choice(rng, ["en", "zh", "es", "de", "fr"], n_docs),
        "source": _choice(rng, [f"src{i}" for i in range(20)], n_docs),
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
    })
    labels = rng.integers(0, 10, n_vecs)
    centers = rng.normal(0, 1, (10, 64))
    vecs = (centers[labels] + rng.normal(0, 0.5, (n_vecs, 64))).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    t["embeddings"] = pa.table({
        "vec_id": np.arange(n_vecs, dtype=np.int64),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(labels, pa.int32()),
    })
    return t


def orders_for_dump(orders: pa.Table) -> pa.Table:
    """``orders`` plus a free-text ``o_comment`` whose literals carry
    quotes, commas, parentheses, semicolons and backslashes, so the dump
    exercises the tokenizer's escape handling."""
    rng = np.random.default_rng(CONTENT_SEED + 1)
    return orders.append_column(
        "o_comment", pa.array(_text(rng, orders.num_rows, 2, 8, _COMMENT_WORDS))
    )


def permute(table: pa.Table, seed: int) -> pa.Table:
    return table.take(np.random.default_rng(seed).permutation(table.num_rows))


# ---------------------------------------------------------------------------
# Renderings
# ---------------------------------------------------------------------------


def write_csv(table: pa.Table, path: str) -> None:
    """One headered CSV; timestamps as ``YYYY-MM-DD HH:MM:SS``."""
    import pyarrow.compute as pc

    cols = [
        pc.strftime(c, "%Y-%m-%d %H:%M:%S") if pa.types.is_timestamp(c.type) else c
        for c in table.columns
    ]
    pacsv.write_csv(pa.table(cols, names=table.column_names), path)


_MYSQL_TYPES = {
    pa.int32(): "int",
    pa.int64(): "bigint",
    pa.float64(): "double",
    pa.string(): "varchar(120)",
    pa.timestamp("us"): "datetime",
}


def _sql_literal(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, str):
        return "'" + v.replace("\\", "\\\\").replace("'", "\\'") + "'"
    if isinstance(v, float):
        return repr(v)
    if hasattr(v, "strftime"):
        return "'" + v.strftime("%Y-%m-%d %H:%M:%S") + "'"
    return str(v)


def write_sql_dump(table: pa.Table, name: str, path: str, rows_per_insert: int = 1000) -> None:
    """A mysqldump-style file: typed ``CREATE TABLE`` and extended
    INSERTs of ``rows_per_insert`` rows each."""
    cols = ",\n".join(
        f"  `{f.name}` {_MYSQL_TYPES[f.type]} DEFAULT NULL" for f in table.schema
    )
    first = table.schema[0].name
    rows = list(zip(*(c.to_pylist() for c in table.columns)))
    with open(path, "w", encoding="utf-8") as f:
        f.write(
            "-- MySQL dump 10.13  Distrib 8.0.36, for Linux (x86_64)\n"
            "/*!40101 SET NAMES utf8mb4 */;\n"
            f"DROP TABLE IF EXISTS `{name}`;\n"
            f"CREATE TABLE `{name}` (\n{cols},\n  PRIMARY KEY (`{first}`)\n"
            ") ENGINE=InnoDB DEFAULT CHARSET=utf8mb4;\n"
            f"LOCK TABLES `{name}` WRITE;\n"
        )
        for i in range(0, len(rows), rows_per_insert):
            tuples = ",".join(
                "(" + ",".join(_sql_literal(v) for v in r) + ")"
                for r in rows[i : i + rows_per_insert]
            )
            f.write(f"INSERT INTO `{name}` VALUES {tuples};\n")
        f.write("UNLOCK TABLES;\n")


@dataclass
class Manifest:
    """What was generated: path → (bytes, sha256)."""

    files: dict[str, tuple[int, str]] = field(default_factory=dict)

    def record(self, path: str) -> str:
        h = hashlib.sha256()
        with open(path, "rb") as f:
            for block in iter(lambda: f.read(1 << 20), b""):
                h.update(block)
        self.files[os.path.basename(path)] = (os.path.getsize(path), h.hexdigest())
        return path

    def record_parquet(self, table: pa.Table, path: str) -> str:
        pq.write_table(table, path)
        return self.record(path)

    def bytes(self, name: str) -> int:
        return self.files[name][0]

    def digest(self) -> str:
        """One hash over every file's hash, in name order."""
        return hashlib.sha256(
            "".join(f"{k}:{v[1]}" for k, v in sorted(self.files.items())).encode()
        ).hexdigest()[:16]
