"""A fixed list of registered queries over seeded tables (llm/, operators/,
streaming/ — the layers no other workload reaches).

The tables have the schemas and shapes of the repository's test data
(random unit embeddings, small-vocabulary documents, a customer/supplier
trade graph, an event stream) and are generated from the seed.  Each query's rows are
compared with its registered DuckDB oracle over the same files.
"""

from __future__ import annotations

import hashlib
import math
import os
from datetime import date, datetime
from decimal import Decimal

import duckdb
import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import __spark_entry__ as entry

from ..layers import OPERATOR_QUERIES
from . import Workload

WORDS = (
    "agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window a"
).split()
LANGS = ["en", "en", "zh", "es", "de", "fr"]
EVENT_TYPES = ["signup", "error", "click", "view", "purchase"]


def _ts(base: str, seconds: np.ndarray) -> pa.Array:
    micros = np.datetime64(base, "us") + (seconds * 1e6).astype("timedelta64[us]")
    return pa.array(micros, type=pa.timestamp("us"))


def write_tables(d: str, seed: int, scale: float) -> None:
    """The query inputs as parquet files under ``d`` (one per table)."""
    rng = np.random.default_rng(seed)
    n_emb = max(100, int(500 * scale))
    e = rng.standard_normal((n_emb, 64)).astype(np.float32)
    e /= np.linalg.norm(e, axis=1, keepdims=True)
    tables = {
        "embeddings": pa.table(
            {
                "vec_id": pa.array(np.arange(n_emb), pa.int64()),
                "embedding": pa.array(list(e), pa.list_(pa.float32())),
                "label": pa.array(rng.integers(0, 10, n_emb), pa.int32()),
            }
        )
    }
    n_doc = max(100, int(500 * scale))
    texts = [
        " ".join(rng.choice(WORDS, rng.integers(20, 80)))
        for _ in range(n_doc)
    ]
    tables["documents"] = pa.table(
        {
            "doc_id": pa.array(np.arange(n_doc), pa.int64()),
            "text": texts,
            "lang": list(rng.choice(LANGS, n_doc)),
            "source": [f"src{i}" for i in rng.integers(0, 20, n_doc)],
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )
    n_cust, n_supp = max(50, int(1500 * scale)), max(10, int(100 * scale))
    n_ord = max(500, int(15_000 * scale))
    n_li = 4 * n_ord
    tables["orders"] = pa.table(
        {
            "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
            "o_orderstatus": list(rng.choice(["F", "O", "P"], n_ord)),
            "o_totalprice": np.round(rng.uniform(900, 500_000, n_ord), 2),
            "o_orderdate": _ts("1995-01-01", rng.integers(0, 6 * 365, n_ord) * 86400.0),
            "o_orderpriority": list(
                rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord)
            ),
        }
    )
    tables["lineitem"] = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, 2000, n_li), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li), pa.int32()),
            "l_quantity": rng.integers(1, 51, n_li).astype(float),
            "l_extendedprice": np.round(rng.uniform(900, 105_000, n_li), 2),
            "l_discount": np.round(rng.integers(0, 11, n_li) / 100, 2),
            "l_tax": np.round(rng.integers(0, 9, n_li) / 100, 2),
            "l_returnflag": list(rng.choice(["A", "N", "R"], n_li)),
            "l_linestatus": list(rng.choice(["F", "O"], n_li)),
            "l_shipdate": _ts("1995-01-01", rng.integers(0, 7 * 365, n_li) * 86400.0),
        }
    )
    n_ev = max(1000, int(10_000 * scale))
    tables["events"] = pa.table(
        {
            "event_id": pa.array(np.arange(n_ev), pa.int64()),
            "ts": _ts("2024-01-01", np.sort(rng.uniform(0, 30 * 86400, n_ev))),
            "user_id": pa.array(rng.integers(0, 150, n_ev), pa.int64()),
            "event_type": list(rng.choice(EVENT_TYPES, n_ev)),
            "value": np.round(rng.exponential(50, n_ev), 2),
            "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
        }
    )
    for name, t in tables.items():
        pq.write_table(t, os.path.join(d, f"{name}.parquet"))


def _norm(v):
    if isinstance(v, Decimal):
        v = float(v)
    if isinstance(v, bool):
        return int(v)
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else float(f"{v:.9g}")
    if isinstance(v, datetime):
        return v.replace(tzinfo=None).isoformat(sep=" ")
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(_norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, _norm(x)) for k, x in v.items()))
    return v


def rows_digest(cols: list[str], rows) -> tuple[int, str]:
    """(row count, order-insensitive digest) over name-sorted columns."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    canon = sorted(repr(tuple(_norm(r[i]) for i in order)) for r in rows)
    h = hashlib.sha256(repr(sorted(cols)).encode())
    for line in canon:
        h.update(line.encode())
    return len(canon), h.hexdigest()[:16]


class OperatorMix(Workload):
    name = "operator_mix"
    item = "registered queries run"

    def prepare(self) -> None:
        self.sf_dir = self.fresh_dir("input")
        write_tables(self.sf_dir, self.seed, 0.02 if self.tiny else 0.2)

    def setup(self, index) -> None:
        registry = entry.queries()
        self.queries = {q: registry[q] for q in OPERATOR_QUERIES}
        self.passes: list[dict] = []

    def run_pass(self, tr) -> int:
        out = {}
        for q, query in self.queries.items():
            with tr.span(f"plans.{q}"):
                df = query(self.spark, self.sf_dir)
                out[q] = rows_digest(df.columns, df.collect())
        self.passes.append(out)
        return len(out)

    def verify(self):
        oracles = entry.oracle_sql()
        con = duckdb.connect()
        try:
            for f in sorted(os.listdir(self.sf_dir)):
                if f.endswith(".parquet"):
                    path = os.path.join(self.sf_dir, f)
                    con.execute(
                        f"CREATE VIEW {f[:-8]} AS SELECT * FROM read_parquet('{path}')"
                    )
            want = {}
            for q in OPERATOR_QUERIES:
                rel = con.execute(oracles[q])
                want[q] = rows_digest([d[0] for d in rel.description], rel.fetchall())
        finally:
            con.close()
        msgs = [
            f"pass {i} {q}: rows/digest {got[q]}, oracle {want[q]}"
            for i, got in enumerate(self.passes)
            for q in OPERATOR_QUERIES
            if got[q] != want[q]
        ]
        return len(self.passes) * len(OPERATOR_QUERIES), len(msgs), msgs

    def layers(self, tr) -> dict:
        out = {}
        for q in OPERATOR_QUERIES:
            out[f"plans.{q}.s"] = tr.duration(f"plans.{q}")
            out[f"plans.{q}.jobs"] = tr.jobs_in(f"plans.{q}")["jobs"]
        return out
