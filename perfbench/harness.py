"""Process confinement, the Spark session, counters and tracing.

Everything here is benchmark-side instrumentation: it times and counts
calls into the program's public functions from outside and changes no
program code.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import statistics
import tempfile
import threading
import time
import uuid

#: Directory under the checkout that holds everything a run writes.
RUN_DIRNAME = ".perfbench"


def confine(checkout: str) -> str:
    """Wipe and return the run's scratch root, and point every temp path
    the process and its children use inside it.

    Some program paths prefer ``/dev/shm`` when it is writable (streaming
    checkpoints, sliced replays).  The benchmark reads and writes only
    inside its checkout, so ``os.access`` reports ``/dev/shm`` as not
    writable in this process and those paths fall back to ``TMPDIR``.
    """
    scratch = os.path.join(checkout, RUN_DIRNAME, "scratch")
    shutil.rmtree(scratch, ignore_errors=True)
    tmp = os.path.join(scratch, "tmp")
    local = os.path.join(scratch, "spark-local")
    for d in (tmp, local):
        os.makedirs(d)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (checkout, os.environ.get("PYTHONPATH")) if p
    )
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options '-Djava.io.tmpdir={tmp} -XX:-UsePerfData' "
        "--conf spark.ui.showConsoleProgress=false "
        f"--conf spark.sql.warehouse.dir={os.path.join(scratch, 'warehouse')} "
        "--conf spark.ui.retainedJobs=100000 --conf spark.ui.retainedStages=100000 "
        "pyspark-shell"
    )
    real_access = os.access

    def access(path, mode, *args, **kwargs):
        if str(path).rstrip("/") == "/dev/shm" and mode & os.W_OK:
            return False
        return real_access(path, mode, *args, **kwargs)

    os.access = access
    return scratch


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def start_spark():
    from datalake2anomali_spark.session import get_spark

    spark = get_spark("perfbench", cpus=cpus())
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def _descendants(pid: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    out, stack = [], [pid]
    while stack:
        for k in kids.get(stack.pop(), []):
            out.append(k)
            stack.append(k)
    return out


def _vm_hwm_kb(pid: int | str) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


def _cpu_ticks(pid: int | str) -> int:
    """utime + stime of ``pid`` plus those of its reaped children."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return 0
    return sum(int(x) for x in fields[11:15])


def cpu_seconds(spark) -> float:
    """CPU time used so far by this process, the JVM and its workers."""
    jvm = jvm_proc(spark).pid
    ticks = _cpu_ticks("self") + sum(_cpu_ticks(p) for p in [jvm, *_descendants(jvm)])
    return ticks / os.sysconf("SC_CLK_TCK")


def gc_seconds(spark) -> float:
    """Total time the JVM has spent in garbage collection so far."""
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans()) / 1000.0


def jvm_proc(spark):
    return spark.sparkContext._gateway.proc


def peak_rss_mb(spark) -> dict:
    """Peak resident sizes in MiB: this process, the JVM, and the JVM's
    Python workers (summed over the workers alive now, whose number
    depends on scheduling)."""
    jvm = jvm_proc(spark).pid
    return {
        "driver": _vm_hwm_kb("self") / 1024.0,
        "jvm": _vm_hwm_kb(jvm) / 1024.0,
        "workers": sum(_vm_hwm_kb(p) for p in _descendants(jvm)) / 1024.0,
    }


def stop_spark(spark, timeout: float = 60.0) -> None:
    """Stop the session, then wait for the JVM and its Python workers."""
    from pyspark import SparkContext

    proc = jvm_proc(spark)
    workers = _descendants(proc.pid)
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
    if proc.stdin is not None:
        proc.stdin.close()
    try:
        proc.wait(timeout=timeout)
    except Exception:  # noqa: BLE001 - any failure to end means kill
        proc.kill()
        proc.wait(timeout=10)
    deadline = time.monotonic() + 10
    while workers and time.monotonic() < deadline:
        workers = [p for p in workers if os.path.exists(f"/proc/{p}")]
        time.sleep(0.05)


class JobCounter:
    """Spark jobs, stages and tasks by job-id range.

    Job ids are allocated from one counter per SparkContext, so the range
    ``[first, next)`` covers every job started in a window, whichever
    thread or job group submitted it (pool threads included).
    """

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._dag = self._sc._jsc.sc().dagScheduler()

    def next_id(self) -> int:
        return int(self._dag.nextJobId())

    def summarize(self, first: int, end: int) -> dict:
        tracker = self._sc.statusTracker()
        stages: set[int] = set()
        for jid in range(first, end):
            info = tracker.getJobInfo(jid)
            if info is not None:
                stages.update(info.stageIds)
        tasks = 0
        ran = 0
        for sid in stages:
            st = tracker.getStageInfo(sid)
            if st is not None and st.numCompletedTasks > 0:
                ran += 1
                tasks += st.numCompletedTasks
        return {"jobs": end - first, "stages": ran, "tasks": tasks}


class IdlePoller:
    """Samples the active-job list every ``period`` seconds; the idle
    fraction is the share of samples with no job running, i.e. time the
    driver spent between Spark jobs."""

    def __init__(self, spark, period: float = 0.010):
        self._tracker = spark.sparkContext.statusTracker()
        self._period = period
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self.samples = 0
        self.idle = 0
        self.cost_s = 0.0  # CPU time spent sampling

    def _run(self) -> None:
        while not self._stop.wait(self._period):
            t0 = time.thread_time()
            active = self._tracker.getActiveJobsIds()
            self.cost_s += time.thread_time() - t0
            self.samples += 1
            if not active:
                self.idle += 1

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)

    @property
    def idle_frac(self) -> float:
        return self.idle / self.samples if self.samples else 0.0


class Tracer:
    """In-memory spans around the benchmark's calls into each layer.

    A span records name, start, end, parent and run id, plus the Spark
    job-id range it covered.  With ``enabled=False`` every span is a no-op
    so the untraced run pays nothing.  ``cost_s`` is the time spent in the
    tracer's own bookkeeping.
    """

    def __init__(self, spark, enabled: bool):
        self.enabled = enabled
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self.cost_s = 0.0
        self._stack: list[int] = []
        self.jobs = JobCounter(spark) if enabled else None

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        t0 = time.perf_counter()
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run": self.run_id,
            "job_first": self.jobs.next_id(),
            **attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec["id"])
        rec["start"] = time.perf_counter()
        self.cost_s += rec["start"] - t0
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            rec["job_end"] = self.jobs.next_id()
            self.cost_s += time.perf_counter() - rec["end"]

    def find(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def duration(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.find(name))

    def self_time(self, span: dict) -> float:
        """Span duration minus the part its direct children cover."""
        kids = sorted(
            (s["start"], s["end"]) for s in self.spans if s["parent"] == span["id"]
        )
        covered, cur_end = 0.0, span["start"]
        for a, b in kids:
            a = max(a, cur_end)
            if b > a:
                covered += b - a
                cur_end = b
        return (span["end"] - span["start"]) - covered

    def jobs_in(self, name: str) -> dict:
        tot = {"jobs": 0, "stages": 0, "tasks": 0}
        for s in self.find(name):
            for k, v in self.jobs.summarize(s["job_first"], s["job_end"]).items():
                tot[k] += v
        return tot

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({**s, "self_s": self.self_time(s)}) + "\n")


def timed(fn, *args, **kwargs) -> tuple[float, object]:
    t0 = time.perf_counter()
    out = fn(*args, **kwargs)
    return time.perf_counter() - t0, out


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile ``q`` in [0, 1] of ``values``."""
    if len(values) == 1:
        return float(values[0])
    return statistics.quantiles(values, n=100, method="inclusive")[round(q * 100) - 1]


def call_with_timeout(fn, timeout: float):
    """Run ``fn`` on a daemon thread; return its result, or raise
    ``TimeoutError`` if it has not returned within ``timeout`` seconds."""
    box: dict = {}

    def target():
        try:
            box["value"] = fn()
        except BaseException as e:  # noqa: BLE001 - re-raised on the caller
            box["error"] = e

    t = threading.Thread(target=target, daemon=True)
    t.start()
    t.join(timeout)
    if t.is_alive():
        raise TimeoutError(f"no result within {timeout:.0f} s")
    if "error" in box:
        raise box["error"]
    return box["value"]
