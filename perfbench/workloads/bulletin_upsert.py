"""EP-B at scale: incremental cursor -> probe/route -> one request per advisory.

Generated advisories run through ``incremental_advisories`` ->
``route_upserts`` -> ``enrich_html`` -> ``write_tipreport_upserts`` into the
Anomali stand-in.  Part of them already exist in the sink state (some
under two tipreports), and part are not newer than the sink's
high-watermark.  The same sink layer as ``ioc_feed``, used per row instead
of batched, behind a shuffle join.

Verification compares the insert and update counts and the digest of
every request body with the generator's ground truth.
"""

from __future__ import annotations

import functools
import os
from datetime import datetime, timedelta, timezone

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from datalake2anomali_spark.ioc.upsert import incremental_advisories, route_upserts
from datalake2anomali_spark.sinks.anomali import write_tipreport_upserts
from datalake2anomali_spark.sources.datalake import enrich_html

from .. import standin
from . import Workload

_EPOCH = datetime(2025, 1, 1, tzinfo=timezone.utc)


def _ts(minutes) -> list[str]:
    return [
        (_EPOCH + timedelta(minutes=int(m))).strftime("%Y-%m-%dT%H:%M:%SZ")
        for m in minutes
    ]


class BulletinUpsert(Workload):
    name = "bulletin_upsert"
    item = "advisories routed and written"

    def prepare(self) -> None:
        d = self.fresh_dir("input")
        rng = np.random.default_rng(self.seed)
        n = 200 if self.tiny else 3_000
        ids = np.arange(n, dtype=np.int64)
        updated = rng.integers(0, 90 * 24 * 60, n)
        words = np.array(["ransomware", "phishing", "botnet", "exploit", "leak", "apt"])
        adv = {
            "id": ids,
            "title": [f"WorldWatch advisory {i}: {w}" for i, w in zip(ids, rng.choice(words, n))],
            "timestamp_created": _ts(updated - rng.integers(0, 72 * 60, n)),
            "timestamp_updated": _ts(updated),
            "tags": [[f"sector{a}", f"region{b}"] for a, b in rng.integers(0, 7, (n, 2))],
        }
        # sink state: 40% of advisories already have a tipreport, 5% of
        # those a second, older one; the newest state row sets the cursor
        watermark = int(np.quantile(updated, 0.25))
        known = rng.choice(ids, int(0.4 * n), replace=False)
        mod = rng.integers(0, watermark, len(known))
        mod[0] = watermark
        dup = known[: len(known) // 20]
        state_ids = np.concatenate([known, dup])
        # strictly older than its sibling: a tie would make newest-wins ambiguous
        state_mod = np.concatenate([mod, mod[: len(dup)] - 1 - rng.integers(0, 600, len(dup))])
        state = {
            "id": np.arange(len(state_ids), dtype=np.int64) + 1_000_000,
            "modified_ts": _ts(state_mod),
            "tags": [[f"world_watch_{i}", "cti"] for i in state_ids],
        }
        self.adv_path = os.path.join(d, "advisories.parquet")
        self.state_path = os.path.join(d, "state.parquet")
        pq.write_table(pa.table(adv), self.adv_path)
        pq.write_table(pa.table(state), self.state_path)
        self.adv = adv
        self.state = (state_ids, state_mod, state["id"])
        self.watermark = _ts([watermark])[0]

    def setup(self, index) -> None:
        # the run's source relations: the advisory feed and the sink state
        self.adv_df = self.spark.read.parquet(self.adv_path)
        self.state_df = self.spark.read.parquet(self.state_path)
        self.passes: list[dict] = []

    def _routed(self):
        return route_upserts(incremental_advisories(self.adv_df, self.state_df), self.state_df)

    def _enriched(self, routed):
        body = F.struct(
            F.col("title").alias("name"),
            F.col("html").alias("body"),
            F.concat(F.array("key"), F.col("tags")).alias("tags"),
            F.col("timestamp_updated").alias("published"),
        )
        return enrich_html(routed, fetch=standin.advisory_html).withColumn(
            "payload_json", F.to_json(body)
        )

    def run_pass(self, tr) -> int:
        counters = standin.Counters(self.sc)
        api = functools.partial(standin.StandInApi, counters, self.drop_one)
        with tr.span("sinks.write_tipreport_upserts"):
            write_tipreport_upserts(self._enriched(self._routed()), api)
        snap = counters.snapshot()
        self.passes.append(snap)
        return snap["inserts"] + snap["updates"]

    def expected(self) -> tuple[int, int, int]:
        state_ids, state_mod, tip_ids = self.state
        newest: dict[int, tuple[int, int]] = {}
        for aid, m, tid in zip(state_ids.tolist(), state_mod.tolist(), tip_ids.tolist()):
            if aid not in newest or m > newest[aid][0]:
                newest[aid] = (m, tid)
        inserts = updates = digest = 0
        a = self.adv
        for aid, title, upd, tags in zip(
            a["id"].tolist(), a["title"], a["timestamp_updated"], a["tags"]
        ):
            if not upd > self.watermark:
                continue
            body = {
                "name": title,
                "body": standin.advisory_html(aid),
                "tags": [f"world_watch_{aid}", *tags],
                "published": upd,
            }
            if aid in newest:
                updates += 1
                digest += standin.upsert_hash("update", newest[aid][1], body)
            else:
                inserts += 1
                digest += standin.upsert_hash("insert", None, body)
        return inserts, updates, digest & standin.MASK

    def verify(self):
        want = self.expected()
        msgs = [
            f"pass {i}: inserts/updates/digest {got}, expected {want}"
            for i, p in enumerate(self.passes)
            if (got := (p["inserts"], p["updates"], p["digest"])) != want
        ]
        return len(self.passes), len(msgs), msgs

    def layers(self, tr) -> dict:
        noop = lambda df: df.write.format("noop").mode("overwrite").save()  # noqa: E731
        with tr.span("ioc.route"):
            noop(self._routed())
        with tr.span("ioc.route_enrich"):
            noop(self._enriched(self._routed()))
        with tr.span("ioc.route_counts"):
            counts = dict(
                self._routed().groupBy("action").count().select("action", F.col("count")).collect()
            )
        sink = self.passes[-1]
        route_s = tr.duration("ioc.route")
        prefix_s = tr.duration("ioc.route_enrich")
        n_new = counts.get("insert", 0) + counts.get("update", 0)
        return {
            "ioc.route_s": route_s,
            "ioc.n_insert": counts.get("insert", 0),
            "ioc.n_update": counts.get("update", 0),
            "ioc.n_stale": len(self.adv["id"]) - n_new,
            "sources.enrich_s": prefix_s - route_s,
            "sinks.tipreport.write_s": tr.duration("sinks.write_tipreport_upserts") - prefix_s,
            **standin.sink_metrics("tipreport", sink, sink["inserts"] + sink["updates"]),
        }
