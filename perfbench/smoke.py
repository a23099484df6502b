"""Smoke test of the benchmark itself.

    python3 perfbench/smoke.py

Runs every workload in BENCHMARK.json at its smallest size (sf0.001 and
one second of measurement), untraced and traced, and checks each result
record: exactly the four keys, every end-to-end (untraced) or per-layer
(traced) metric present with its unit, end-to-end values above zero,
all correctness checks passed and no failed op. It also checks that
every per-layer metric has a predicted target in targets.json, and that
the benchmark exits non-zero without a result in a directory holding
only BENCHMARK.json and the benchmark's files. Exits 1 on any failure.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
REPO = os.path.dirname(HERE)


def run(cwd: str, workload: str, trace: int) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
         "--seconds", "1", "--trace", str(trace), "--sf", "0.001"],
        cwd=cwd, capture_output=True, text=True, timeout=600)


def check_result(p: subprocess.CompletedProcess, expected: list[dict], positive: bool) -> list[str]:
    if p.returncode != 0:
        return [f"exit code {p.returncode}: {p.stderr[-1500:]}"]
    lines = p.stdout.strip().splitlines()
    res = json.loads(lines[-1])
    errs = []
    if set(res) != {"correct", "attempted", "failed", "metrics"}:
        errs.append(f"result keys {sorted(res)}")
    if res.get("correct") is not True or res.get("failed") != 0 or res.get("attempted", 0) < 1:
        errs.append(f"correct={res.get('correct')} attempted={res.get('attempted')} "
                    f"failed={res.get('failed')}; detail: {lines[-2][:1500]}")
    got = res.get("metrics", {})
    want = {m["name"]: m["unit"] for m in expected}
    if set(got) != set(want):
        errs.append(f"metrics missing {sorted(set(want) - set(got))}, "
                    f"unexpected {sorted(set(got) - set(want))}")
    for name, m in got.items():
        if name in want and m.get("unit") != want[name]:
            errs.append(f"{name}: unit {m.get('unit')!r}, BENCHMARK.json says {want[name]!r}")
        if not isinstance(m.get("value"), (int, float)) or (positive and m["value"] <= 0):
            errs.append(f"{name}: value {m.get('value')!r}")
    return errs


def main() -> int:
    with open(os.path.join(REPO, "BENCHMARK.json")) as f:
        bench = json.load(f)
    with open(os.path.join(HERE, "targets.json")) as f:
        targets = json.load(f)
    failures = []
    layer_names = {m["name"] for m in bench["per_layer"]}
    if set(targets) != layer_names:
        failures.append(f"targets.json vs per_layer: missing {sorted(layer_names - set(targets))},"
                        f" extra {sorted(set(targets) - layer_names)}")
    for w in bench["workloads"]:
        for trace, expected in ((0, bench["end_to_end"]), (1, bench["per_layer"])):
            errs = check_result(run(REPO, w["name"], trace), expected, positive=not trace)
            print(f"{'FAIL' if errs else 'ok  '} {w['name']} trace={trace}", flush=True)
            failures += [f"{w['name']} trace={trace}: {e}" for e in errs]

    bare = os.path.join(REPO, ".perfbench-work", "smoke-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    try:
        shutil.copy(os.path.join(REPO, "BENCHMARK.json"), bare)
        for path in bench["paths"]:
            shutil.copytree(os.path.join(REPO, path), os.path.join(bare, path),
                            ignore=shutil.ignore_patterns("__pycache__"))
        p = run(bare, bench["workloads"][0]["name"], 0)
        printed_result = p.stdout.strip().startswith("{") and '"metrics"' in p.stdout
        ok = p.returncode != 0 and not printed_result
        print(f"{'ok  ' if ok else 'FAIL'} bare directory exits {p.returncode} without a result")
        if not ok:
            failures.append(f"bare directory: exit {p.returncode}, stdout {p.stdout[-300:]!r}")
    finally:
        shutil.rmtree(bare, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(bare))
        except OSError:
            pass  # a benchmark run still uses it

    for f in failures:
        print(f, file=sys.stderr)
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
