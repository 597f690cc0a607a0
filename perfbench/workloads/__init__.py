"""The benchmark's workloads.

Each workload generates its inputs from the seed (``prepare``, untimed),
runs the program's set-up over them (``setup``, timed as ``setup_s``), runs
one pass of the program (``run_pass``, the timed unit), checks every pass's
output against an independent expectation (``verify``) and, in the traced
run, decomposes a pass into per-layer metrics (``layers``).
"""

from __future__ import annotations

import os
import shutil


class Workload:
    name = ""
    #: what ``items_per_s`` counts for this workload
    item = ""
    #: self-test: make the stand-in lose one object per pass
    drop_one = False
    #: untimed passes before timing (JIT, Python workers, codegen caches);
    #: their outputs are verified like every other pass
    warm_passes = 1
    #: timed passes: at least this many, and at least ``--seconds`` of them.
    #: A fixed count keeps the median at the same point of the warm-up
    #: curve whatever the host's speed.
    timed_passes = 3

    def __init__(self, spark, scratch: str, seed: int, tiny: bool = False):
        self.spark = spark
        self.sc = spark.sparkContext
        self.scratch = scratch
        self.seed = seed
        self.tiny = tiny

    def fresh_dir(self, name: str) -> str:
        d = os.path.join(self.scratch, self.name, name)
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
        return d

    @property
    def components(self) -> tuple[str, ...]:
        """Names of the component workloads a pass runs (``layers.LAYERS``)."""
        return (self.name,)

    def prepare(self) -> None:
        """Generate the seeded inputs (files, frames); untimed, once."""
        raise NotImplementedError

    def setup(self, index) -> None:
        """The program's set-up over the prepared inputs; timed, called
        several times, the last wins."""
        raise NotImplementedError

    def run_pass(self, tr) -> int:
        """One pass of the program; returns the number of items done."""
        raise NotImplementedError

    def verify(self) -> tuple[int, int, list[str]]:
        """(checks attempted, checks failed, messages) over every pass."""
        raise NotImplementedError

    def layers(self, tr) -> dict:
        """Per-layer metrics from a traced decomposition of one pass."""
        raise NotImplementedError


class Composite(Workload):
    """Several workloads run back to back as one pass, in one session."""

    parts: tuple[str, ...] = ()

    def __init__(self, spark, scratch: str, seed: int, tiny: bool = False):
        super().__init__(spark, scratch, seed, tiny)
        self.members = [load(p)(spark, scratch, seed, tiny) for p in self.parts]

    @property
    def components(self) -> tuple[str, ...]:
        return tuple(m.name for m in self.members)

    @property
    def drop_one(self):
        return self.members[0].drop_one

    @drop_one.setter
    def drop_one(self, value):
        for m in self.members:
            m.drop_one = value

    def prepare(self) -> None:
        for m in self.members:
            m.prepare()

    def setup(self, index) -> None:
        for m in self.members:
            m.setup(index)

    def run_pass(self, tr) -> int:
        items = 0
        for m in self.members:
            with tr.span(m.name):
                items += m.run_pass(tr)
        return items

    def verify(self):
        attempted, failed, msgs = 0, 0, []
        for m in self.members:
            a, f, ms = m.verify()
            attempted, failed = attempted + a, failed + f
            msgs += [f"{m.name}: {x}" for x in ms]
        return attempted, failed, msgs

    def layers(self, tr) -> dict:
        out = {}
        for m in self.members:
            out.update(m.layers(tr))
        return out


class Connector(Composite):
    """One scheduled connector run: EP-A then EP-B."""

    name = "connector"
    item = "indicator objects and advisories delivered to the sink"
    parts = ("ioc_feed", "bulletin_upsert")
    #: pass times keep falling for about eight passes (JIT tiers): skip the
    #: steepest part of the curve, then take the median of five
    warm_passes = 3
    timed_passes = 5


class Engine(Composite):
    """The engine beside the pipelines: table DML, then operator queries."""

    name = "engine"
    item = "table operations and registered queries"
    parts = ("table_dml", "operator_mix")
    #: One cold pass, as a fresh scheduled run sees it.  A pass costs 20 s
    #: cold and 10-15 s warm, about twice that when the shared host is
    #: slow; a warm-up and a timed warm pass took 85-95 s per run there,
    #: which brings a full check of the benchmark to its run budget.
    warm_passes = 0
    timed_passes = 1


#: workload name -> (module, class)
WORKLOADS = {
    "ioc_feed": ("ioc_feed", "IocFeed"),
    "bulletin_upsert": ("bulletin_upsert", "BulletinUpsert"),
    "table_dml": ("table_dml", "TableDml"),
    "operator_mix": ("operator_mix", "OperatorMix"),
    "connector": (None, "Connector"),
    "engine": (None, "Engine"),
}


def load(name: str) -> type[Workload]:
    import importlib

    module, cls = WORKLOADS[name]
    if module is None:
        return globals()[cls]
    return getattr(importlib.import_module(f"{__name__}.{module}"), cls)
