"""Self-tests of the benchmark itself (not of the program).

    python3 perfbench/selftest.py [workload ...]

Run from the repository root.  For each workload (default: those in
``BENCHMARK.json``) it runs a tiny-size smoke, untraced and traced, and
checks the result line: its keys, every metric name and unit against
``BENCHMARK.json``, and that the outputs verified.  It then checks that a
stand-in which drops one object fails verification with a non-zero exit,
and that a directory holding only ``BENCHMARK.json`` and the benchmark's
files exits non-zero without printing a result.  Exits 0 if all pass.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

CHECKOUT = os.getcwd()
RUN = ["python3", "perfbench/run.py"]


def _run(args: list[str], cwd: str = CHECKOUT) -> tuple[int, str]:
    p = subprocess.run(
        RUN + args, cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
        text=True, timeout=600,
    )
    return p.returncode, p.stdout


def _result(stdout: str) -> dict | None:
    lines = stdout.strip().splitlines()
    try:
        return json.loads(lines[-1]) if lines else None
    except json.JSONDecodeError:
        return None


def check_result(res: dict | None, specs: list[dict]) -> list[str]:
    if res is None:
        return ["no JSON result line"]
    errs = []
    if set(res) != {"correct", "attempted", "failed", "metrics"}:
        errs.append(f"result keys {sorted(res)}")
    if res.get("correct") is not True or res.get("failed") != 0:
        errs.append(f"outputs did not verify: {res.get('failed')} failed")
    if not isinstance(res.get("attempted"), int) or res["attempted"] < 1:
        errs.append(f"attempted {res.get('attempted')!r}")
    metrics = res.get("metrics", {})
    want = {m["name"]: m["unit"] for m in specs}
    if set(metrics) != set(want):
        errs.append(f"metric names differ: {sorted(set(metrics) ^ set(want))}")
    for name, m in metrics.items():
        if name in want and m.get("unit") != want[name]:
            errs.append(f"{name}: unit {m.get('unit')!r}, expected {want[name]!r}")
        if not isinstance(m.get("value"), (int, float)):
            errs.append(f"{name}: value {m.get('value')!r}")
    return errs


def main(argv: list[str]) -> int:
    with open(os.path.join(CHECKOUT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    names = argv or [w["name"] for w in bench["workloads"]]
    failures = []

    def report(what: str, errs: list[str]) -> None:
        print(f"{'ok  ' if not errs else 'FAIL'} {what}" + "".join(f"\n     {e}" for e in errs))
        failures.extend(errs)

    common = ["--seed", "7", "--seconds", "1", "--tiny"]
    for name in names:
        for trace, specs in (("0", bench["end_to_end"]), ("1", bench["per_layer"])):
            code, out = _run(["--workload", name, "--trace", trace, *common])
            errs = check_result(_result(out), specs)
            if code != 0:
                errs.append(f"exit code {code}")
            report(f"{name} --trace {trace}", errs)

    code, out = _run(["--workload", "ioc_feed", "--trace", "0", "--drop-one", *common])
    res = _result(out)
    errs = []
    if code == 0:
        errs.append("exit code 0")
    if res is None or res.get("correct") is not False or not res.get("failed"):
        errs.append(f"verification did not fail: {res}")
    report("a stand-in that drops one object fails verification", errs)

    bare = os.path.join(CHECKOUT, ".perfbench", "bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(CHECKOUT, "BENCHMARK.json"), bare)
    for p in bench["paths"]:
        shutil.copytree(
            os.path.join(CHECKOUT, p), os.path.join(bare, p),
            ignore=shutil.ignore_patterns("__pycache__"),
        )
    code, out = _run(["--workload", names[0], "--trace", "0", *common], cwd=bare)
    shutil.rmtree(bare, ignore_errors=True)
    report(
        "without the program: non-zero exit, no result",
        ([] if code != 0 else ["exit code 0"]) + ([] if _result(out) is None else ["printed a result"]),
    )
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
