"""Versioned-table writes beside reads (the ``io`` layer only).

A seeded table (16 partitions x 2000 rows) takes a fixed sequence of commits per pass:
``merge_into_versioned``, ``update_versioned`` and ``delete_from_versioned``
in copy-on-write and merge-on-read modes, ``compact_versioned``, and one
``MultiTableTransaction`` over the table and a rollup table.  A
``read_snapshot`` with a zone-map predicate follows each commit.

Verification replays the same operations on pandas frames and compares
every read's count and sum and the final snapshots' digests.
"""

from __future__ import annotations

import hashlib
import os
import statistics

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from datalake2anomali_spark.io.catalog import (
    MultiTableTransaction,
    catalog_read,
    catalog_register,
    create_catalog,
)
from datalake2anomali_spark.io.publish import (
    compact_versioned,
    delete_from_versioned,
    init_table,
    merge_into_versioned,
    read_manifest,
    read_snapshot,
    update_versioned,
)

from ..harness import quantile
from . import Workload

PART = "part"
N_GROUPS = 16


def _du(path: str) -> int:
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(d, f))
            except OSError:
                pass
    return total


def _digest(df: pd.DataFrame, cols: list[str]) -> str:
    df = df[cols].sort_values(cols[0]).reset_index(drop=True)
    if "val" in df:
        df["val"] = df["val"].round(6)
    return hashlib.sha256(df.to_csv(index=False).encode()).hexdigest()[:16]


class TableDml(Workload):
    name = "table_dml"
    item = "table operations (commits and snapshot reads)"

    def prepare(self) -> None:
        self.n_parts = 8 if self.tiny else 16
        per_part = 40 if self.tiny else 2000
        n = self.n_parts * per_part
        self.rng = np.random.default_rng(self.seed)
        ids = np.arange(n, dtype=np.int64)
        base = pd.DataFrame(
            {
                "id": ids,
                PART: (ids % self.n_parts).astype(np.int32),
                "grp": [f"g{i}" for i in self.rng.integers(0, N_GROUPS, n)],
                "val": self.rng.integers(0, 100_000, n) / 100.0,
                "ts": self.rng.integers(0, 1_000_000, n),
            }
        )
        rollup = pd.DataFrame(
            {"grp": [f"g{i}" for i in range(N_GROUPS)], "total": np.zeros(N_GROUPS)}
        )
        self.base, self.base_rollup = base, rollup
        self.next_id = n

    def setup(self, index) -> None:
        d = self.fresh_dir(f"tables{index}")
        self.root = os.path.join(d, "main")
        self.rollup_root = os.path.join(d, "rollup")
        self.croot = os.path.join(d, "catalog")
        s = self.spark
        init_table(s, s.createDataFrame(self.base), self.root, PART, stats_cols=["ts"])
        init_table(s, s.createDataFrame(self.base_rollup), self.rollup_root, "grp")
        create_catalog(self.croot)
        catalog_register(self.croot, "main", self.root)
        catalog_register(self.croot, "rollup", self.rollup_root)
        # (op, args, read bounds, read result) per commit, in order
        self.log: list[tuple] = []
        self.passes: list[dict] = []

    # --- the operations, each also logged for the pandas replay ----------
    def _parts(self, k: int) -> list[int]:
        return sorted(self.rng.choice(self.n_parts, k, replace=False).tolist())

    def _cond(self, parts, mod, r):
        return F.col(PART).isin(parts) & (F.col("id") % mod == r)

    def _ops(self):
        """(name, args) of one pass's commits, drawn from the seeded stream."""
        parts = self._parts(max(2, self.n_parts // 8))
        # existing keys (some already deleted: those re-insert) + new keys
        upd_ids = self.rng.choice(self.next_id, 50 * len(parts), replace=False)
        upd_ids = upd_ids[np.isin(upd_ids % self.n_parts, parts)]
        new_ids = np.arange(self.next_id, self.next_id + self.n_parts * 8, dtype=np.int64)
        new_ids = new_ids[np.isin(new_ids % self.n_parts, parts)]
        self.next_id += self.n_parts * 8
        src_ids = np.concatenate([upd_ids, new_ids])
        source = pd.DataFrame(
            {
                "id": src_ids,
                PART: (src_ids % self.n_parts).astype(np.int32),
                "grp": [f"g{i}" for i in self.rng.integers(0, N_GROUPS, len(src_ids))],
                "val": self.rng.integers(0, 100_000, len(src_ids)) / 100.0,
                "ts": self.rng.integers(0, 1_000_000, len(src_ids)),
            }
        )
        r = int(self.rng.integers(0, 1000))
        return [
            ("merge", {"source": source}),
            ("update_cow", {"parts": self._parts(4), "mod": 5, "r": r % 5}),
            ("update_mor", {"parts": self._parts(4), "mod": 7, "r": r % 7}),
            ("delete_cow", {"parts": self._parts(4), "mod": 11, "r": r % 11}),
            ("delete_mor", {"parts": self._parts(4), "mod": 13, "r": r % 13}),
            ("compact", {}),
            (
                "mtxn",
                {
                    "parts": self._parts(2), "mod": 17, "r": r % 17,
                    "rollup": pd.DataFrame(
                        {
                            "grp": [f"g{i}" for i in range(N_GROUPS)],
                            "total": self.rng.integers(0, 10_000, N_GROUPS) / 10.0,
                        }
                    ),
                },
            ),
        ]

    def _commit(self, op: str, a: dict) -> None:
        s, root = self.spark, self.root
        if op == "merge":
            merge_into_versioned(s, root, s.createDataFrame(a["source"]), ["id"], PART)
        elif op.startswith("update"):
            mode = "copy_on_write" if op == "update_cow" else "merge_on_read"
            update_versioned(
                s, root, PART, self._cond(a["parts"], a["mod"], a["r"]),
                {"val": F.col("val") * 1.5 + 1}, mode=mode, key_cols=["id"],
            )
        elif op.startswith("delete"):
            mode = "copy_on_write" if op == "delete_cow" else "merge_on_read"
            delete_from_versioned(
                s, root, PART, self._cond(a["parts"], a["mod"], a["r"]),
                mode=mode, key_cols=["id"],
            )
        elif op == "compact":
            compact_versioned(s, root, PART, order_col="id")
        elif op == "mtxn":
            # the table's own commits moved its head: re-pin, then batch
            catalog_register(self.croot, "main", root)
            mtxn = MultiTableTransaction(s, self.croot, {"main": PART, "rollup": "grp"})
            mtxn.table("main").delete(self._cond(a["parts"], a["mod"], a["r"]))
            mtxn.table("rollup").merge(s.createDataFrame(a["rollup"]), ["grp"])
            mtxn.commit()

    def _read(self) -> tuple:
        lo = int(self.rng.integers(0, 800_000))
        hi = lo + 200_000
        row = (
            read_snapshot(self.spark, self.root, PART, predicate=("ts", lo, hi))
            .agg(F.count(F.lit(1)), F.sum("val"))
            .collect()[0]
        )
        return (lo, hi), (int(row[0]), float(row[1] or 0.0))

    def run_pass(self, tr) -> int:
        rec = {"commit_ms": {}, "read_ms": [], "bytes": {}, "jobs": {}, "read_jobs": 0}
        ops = self._ops()
        for op, a in ops:
            if op == "compact" and tr.enabled:
                rec["live_versions"] = len(set(read_manifest(self.root)["partitions"].values()))
            before = _du(os.path.dirname(self.root)) if tr.enabled else 0
            with tr.span(f"io.{op}") as sp:
                self._commit(op, a)
            if tr.enabled:
                rec["commit_ms"][op] = 1000 * (sp["end"] - sp["start"])
                rec["jobs"][op] = sp["job_end"] - sp["job_first"]
                rec["bytes"][op] = _du(os.path.dirname(self.root)) - before
            with tr.span("io.read") as sp:
                bounds, result = self._read()
            if tr.enabled:
                rec["read_ms"].append(1000 * (sp["end"] - sp["start"]))
                rec["read_jobs"] += sp["job_end"] - sp["job_first"]
            self.log.append((op, a, bounds, result))
        if tr.enabled:
            rec["disk_bytes"] = _du(self.root)
        self.passes.append(rec)
        return 2 * len(ops)

    # --- verification ----------------------------------------------------
    def replay(self) -> list[tuple]:
        """Apply the logged operations to pandas frames: per commit
        (op, rows changed, rows after, expected read result, read result),
        and the final (main, rollup) frames in ``self.final``."""
        out = []
        t, rollup = self.base.copy(), self.base_rollup.copy()
        for op, a, (lo, hi), got in self.log:
            changed = 0
            if op == "merge":
                src = a["source"]
                changed = len(src)
                t = pd.concat([t[~t["id"].isin(src["id"])], src], ignore_index=True)
            elif op.startswith(("update", "delete", "mtxn")):
                m = t[PART].isin(a["parts"]) & (t["id"] % a["mod"] == a["r"])
                changed = int(m.sum())
                if op.startswith("update"):
                    t.loc[m, "val"] = t.loc[m, "val"] * 1.5 + 1
                else:
                    t = t[~m]
                if op == "mtxn":
                    rollup = a["rollup"].copy()
                    changed += len(rollup)
            hit = t[(t["ts"] >= lo) & (t["ts"] <= hi)]
            out.append((op, changed, len(t), (len(hit), float(hit["val"].sum())), got))
        self.final = (t, rollup)
        return out

    def _snapshots(self) -> tuple[pd.DataFrame, pd.DataFrame]:
        main = catalog_read(self.spark, self.croot, "main", PART).toPandas()
        rollup = catalog_read(self.spark, self.croot, "rollup", "grp").toPandas()
        return main, rollup

    def verify(self):
        msgs, attempted = [], 0
        for i, (op, _n, _rows, want, got) in enumerate(self.replay()):
            attempted += 1
            if want[0] != got[0] or abs(want[1] - got[1]) > 1e-6 * max(1.0, abs(want[1])):
                msgs.append(f"read after commit {i} ({op}): got {got}, expected {want}")
        main, rollup = self._snapshots()
        want_main, want_rollup = self.final
        cols = ["id", PART, "grp", "val", "ts"]
        for name, got, want, c in (
            ("main", main, want_main, cols),
            ("rollup", rollup, want_rollup, ["grp", "total"]),
        ):
            attempted += 1
            got[c[1]] = got[c[1]].astype(want[c[1]].dtype)
            if _digest(got, c) != _digest(want, c):
                msgs.append(f"final {name} snapshot digest differs from the pandas replay")
        return attempted, len(msgs), msgs

    def layers(self, tr) -> dict:
        rec = self.passes[-1]
        last = {op: (n, rows) for op, n, rows, _w, _g in self.replay()[-len(rec["commit_ms"]):]}
        n_live = len(self.final[0])
        # bytes per stored row: compaction writes the whole live table once
        row_bytes = rec["bytes"]["compact"] / max(1, last["compact"][1])
        user_bytes = row_bytes * sum(n for op, (n, _r) in last.items() if op != "compact")
        commits = list(rec["commit_ms"].values())
        out = {
            "io.commit_ms.p50": statistics.median(commits),
            "io.commit_ms.p90": quantile(commits, 0.9),
            "io.read_ms.p50": statistics.median(rec["read_ms"]),
            "io.read_ms.p90": quantile(rec["read_ms"], 0.9),
            "io.read_jobs": rec["read_jobs"],
            "io.live_versions": rec["live_versions"],
            "io.write_amp": sum(rec["bytes"].values()) / max(1.0, user_bytes),
            "io.space_amp": rec["disk_bytes"] / max(1.0, row_bytes * n_live),
        }
        for op, ms in rec["commit_ms"].items():
            out[f"io.commit_ms.{op}"] = ms
            out[f"io.jobs.{op}"] = rec["jobs"][op]
            out[f"io.bytes_written.{op}"] = rec["bytes"][op]
        return out
