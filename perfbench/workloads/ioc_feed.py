"""EP-A end to end: saved bulk searches -> indicators -> bisecting PATCH.

Seed-named saved queries go through the ``datalake_bulksearch`` DataSource,
then ``generate_indicators`` -> ``prepare_objects``/``objects_json`` ->
``write_intelligence`` into the Anomali stand-in (one request per saved
query under its payload cap, see ``perfbench/standin.py``).  Stresses source
partitions and sink requests; bypasses ``io`` and ``ioc.upsert``.

Verification regenerates the backend's rows independently from their
sha256-seeded definition (the method of the ``ioc_rest_source_pipeline``
DuckDB oracle) and compares the accepted objects' count and digest.
"""

from __future__ import annotations

import functools
import hashlib
import json
import random

from datalake2anomali_spark.ioc.metrics import instrumented_indicators
from datalake2anomali_spark.ioc.payload import objects_json, prepare_objects
from datalake2anomali_spark.ioc.specs import QuerySpec, specs_df
from datalake2anomali_spark.ioc.transforms import generate_indicators
from datalake2anomali_spark.sinks.anomali import write_intelligence
from datalake2anomali_spark.sources import register_sources

from .. import standin
from ..harness import call_with_timeout
from . import Workload

# The backend's wire definition, restated independently of the program.
ATOM_TYPES = ["fqdn", "domain", "ip", "url", "email", "file", "cve", "paste"]
TO_ANOMALI = {
    "fqdn": "domain", "domain": "domain", "ip": "srcip",
    "url": "url", "email": "email", "file": "md5",
}
DEFAULT_ITYPE = {
    "domain": "suspicious_domain", "srcip": "actor_ip", "url": "suspicious_url",
    "email": "suspicious_email", "md5": "mal_md5",
}
FIELDS = ["atom_type", "atom_value", ".hashes.md5", "threat_scores", "tags"]
SEVERITIES = ["low", "medium", "high", "very-high"]
META = {
    "allow_update": True,
    "enrich": True,
    "classification": "private",
    "expiration_ts": "2026-01-01T01:00:00",
}
TARGET_OBJECTS_PER_REQUEST = 1000


def _seed(key: str) -> int:
    return int.from_bytes(hashlib.sha256(key.encode()).digest()[:8], "big")


def result_count(query_hash: str) -> int:
    return 50 + _seed(f"{query_hash}/n") % 150


def saved_queries(seed: int, n: int, rows: int) -> list[str]:
    """``n`` seed-named saved queries returning ``rows`` rows in total.

    Per-query sizes keep the backend's 50..199 spread; fixing the total
    keeps the work per pass the same across seeds.
    """
    names = (f"s{seed}q{i:04d}" for i in range(1_000_000))
    picked, total = [], 0
    for h in names:
        c = result_count(h)
        if len(picked) < n - 1:
            picked.append(h)
            total += c
        elif c == rows - total:
            return picked + [h]
        if len(picked) == n - 1 and not 50 <= rows - total < 200:
            total -= result_count(picked.pop(0))
    raise ValueError(f"no {n} queries with {rows} rows for seed {seed}")


def backend_rows(query_hash: str):
    """(atom_type, atom_value, md5, threat_scores, tags) per result row."""
    for i in range(result_count(query_hash)):
        s = _seed(f"{query_hash}/{i}")
        atom_type = ATOM_TYPES[s % len(ATOM_TYPES)]
        md5 = (
            hashlib.md5(f"{query_hash}/{i}".encode()).hexdigest()
            if atom_type == "file" and s % 5 != 0
            else None
        )
        yield (
            atom_type,
            f"{atom_type}-{s % 100000}.example",
            md5,
            [(s >> k) % 100 for k in (8, 16, 24)],
            [f"tag{s % 7}", f"campaign{s % 3}"],
        )


def expected_objects(specs):
    """The Anomali objects EP-A must deliver for ``specs``."""
    for spec in specs:
        for atom_type, value, md5, scores, tags in backend_rows(spec.query_hash):
            atype = TO_ANOMALI.get(atom_type)
            if atype is None or (atype == "md5" and md5 is None):
                continue
            itype = (spec.anomali_itype or {}).get(atype) or DEFAULT_ITYPE[atype]
            yield {
                atype: md5 if atype == "md5" else value,
                "confidence": max(scores),
                "itype": itype,
                "severity": spec.anomali_severity,
                "tags": [{"name": spec.dataset_name, "tlp": "white"}]
                + [{"name": t, "tlp": "white"} for t in tags],
            }


class IocFeed(Workload):
    name = "ioc_feed"
    item = "indicator objects accepted by the sink"

    def prepare(self) -> None:
        rng = random.Random(self.seed)
        n = 2 if self.tiny else 8
        self.specs = []
        for h in saved_queries(self.seed, n, 125 * n):
            override = None
            if rng.random() < 0.4:
                atype = rng.choice(sorted(DEFAULT_ITYPE))
                override = {atype: f"custom_{atype}_{rng.randrange(100)}"}
            self.specs.append(
                QuerySpec(
                    query_hash=h,
                    dataset_name=f"dataset_{rng.randrange(10_000)}",
                    anomali_severity=rng.choice(SEVERITIES),
                    anomali_itype=override,
                )
            )

    def setup(self, index) -> None:
        register_sources(self.spark)
        self.bulk = (
            self.spark.read.format("datalake_bulksearch")
            .option("query_hashes", json.dumps([s.query_hash for s in self.specs]))
            .option("query_fields", json.dumps(FIELDS))
            .load()
        )
        self.specs_df = specs_df(self.spark, self.specs)
        self.passes: list[dict] = []

    def _objects(self, bulk, specs):
        return objects_json(prepare_objects(generate_indicators(bulk, specs)))

    def _write(self, objects) -> dict:
        counters = standin.Counters(self.sc)
        api = functools.partial(standin.StandInApi, counters, self.drop_one)
        write_intelligence(
            objects, api, META, target_objects_per_request=TARGET_OBJECTS_PER_REQUEST
        )
        return counters.snapshot()

    def run_pass(self, tr) -> int:
        with tr.span("sinks.write_intelligence"):
            snap = self._write(self._objects(self.bulk, self.specs_df))
        self.passes.append(snap)
        return snap["accepted"]

    def verify(self):
        want_n, want_digest = 0, 0
        for obj in expected_objects(self.specs):
            want_n += 1
            want_digest += standin.canonical_hash(obj)
        want_digest &= standin.MASK
        msgs = [
            f"pass {i}: accepted {p['accepted']} objects digest {p['digest']:x}, "
            f"expected {want_n} digest {want_digest:x}"
            for i, p in enumerate(self.passes)
            if (p["accepted"], p["digest"]) != (want_n, want_digest)
        ]
        return len(self.passes), len(msgs), msgs

    def layers(self, tr) -> dict:
        noop = lambda df: df.write.format("noop").mode("overwrite").save()  # noqa: E731
        with tr.span("sources.scan"):
            noop(self.bulk)
        with tr.span("ioc.scan_transform"):
            noop(self._objects(self.bulk, self.specs_df))
        # the observed counters are read after a DataFrame action only:
        # under write_intelligence (foreachPartition) the Observation
        # never completes, so every read is bounded
        with tr.span("ioc.observe"):
            ind, obs = instrumented_indicators(self.bulk, self.specs_df)
            noop(ind)
            counts = call_with_timeout(lambda: dict(obs.get), 60)
        sink = self.passes[-1]
        scan_s = tr.duration("sources.scan")
        transform_s = tr.duration("ioc.scan_transform") - scan_s
        write_s = tr.duration("sinks.write_intelligence") - tr.duration("ioc.scan_transform")
        return {
            "sources.scan_s": scan_s,
            "sources.partitions": tr.jobs_in("sources.scan")["tasks"],
            "ioc.transform_s": transform_s,
            "ioc.n_parsed": counts["n_parsed"],
            "ioc.n_unsupported_type": counts["n_unsupported_type"],
            "ioc.n_missing_md5": counts["n_missing_md5"],
            "ioc.n_indicators": counts["n_indicators"],
            "sinks.intelligence.write_s": write_s,
            **standin.sink_metrics("intelligence", sink, sink["accepted"]),
        }

