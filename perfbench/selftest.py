"""Self-test of the benchmark at tiny sizes (a few minutes).

    python3 perfbench/selftest.py

Checks that staging is deterministic per seed, then runs every workload
once untraced and once traced and checks that the last line has the
contract's keys, that every check passed, and that every metric named in
BENCHMARK.json is emitted with its unit. Traced runs must also parse every
layer (no ``layer_error`` in the report) and give every per-layer metric
that applies to the workload a nonzero value.
"""

from __future__ import annotations

import hashlib
import json
import shutil
import subprocess
import sys
from pathlib import Path

import inputs
from run import MAY_BE_ZERO, ROOT, WORK, WORKLOADS, applicable

TINY = {"extract": 400, "corpus": 200}


def staged_digest(root: Path, workload: str, seed: int) -> str:
    shutil.rmtree(root, ignore_errors=True)
    paths = inputs.stage(str(root), workload, seed, 300)
    h = hashlib.sha256()
    for p in sorted(Path(paths["input"]).parent.rglob("*.parquet")):
        h.update(p.relative_to(root).as_posix().split("/", 1)[1].encode())
        h.update(p.read_bytes())
    shutil.rmtree(root)
    return h.hexdigest()


def check_layers(report_line: str, result_line: str, workload: str) -> list[str]:
    report = json.loads(report_line)
    metrics = json.loads(result_line)["metrics"]
    errors = []
    if "layer_error" in report:
        errors.append(f"layer_error: {report['layer_error']}")
    zero = sorted(n for n in applicable(workload) - MAY_BE_ZERO
                  if not metrics.get(n, {}).get("value"))
    if zero:
        errors.append(f"applicable metrics read 0: {zero}")
    return errors


def check_result(line: str, expected: list[dict]) -> list[str]:
    res = json.loads(line)
    errors = []
    if set(res) != {"correct", "attempted", "failed", "metrics"}:
        errors.append(f"keys {sorted(res)}")
    if res.get("correct") is not True or res.get("failed") != 0:
        errors.append(f"correct={res.get('correct')} failed={res.get('failed')}")
    if not isinstance(res.get("attempted"), int) or res["attempted"] < 1:
        errors.append(f"attempted={res.get('attempted')}")
    metrics = res.get("metrics", {})
    want = {m["name"]: m["unit"] for m in expected}
    if set(metrics) != set(want):
        errors.append(f"metric names differ: {sorted(set(metrics) ^ set(want))}")
    for name, unit in want.items():
        m = metrics.get(name, {})
        if m.get("unit") != unit or not isinstance(m.get("value"), (int, float)):
            errors.append(f"{name}: {m}")
    return errors


def main() -> int:
    sys.path.insert(0, str(ROOT))
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    failures = []
    root = WORK / "selftest-staging"
    for w in WORKLOADS:
        a, b = staged_digest(root, w, 1), staged_digest(root, w, 1)
        c = staged_digest(root, w, 2)
        if a != b:
            failures.append(f"{w}: same seed staged different bytes")
        if a == c:
            failures.append(f"{w}: different seeds staged the same bytes")
    for w, wl in WORKLOADS.items():
        size = TINY[wl["job"]]
        for trace, expected in ((0, spec["end_to_end"]), (1, spec["per_layer"])):
            cmd = [sys.executable, str(ROOT / "perfbench" / "run.py"),
                   "--workload", w, "--seed", "1", "--seconds", "1",
                   "--trace", str(trace), "--size", str(size)]
            proc = subprocess.run(cmd, cwd=ROOT, capture_output=True,
                                  text=True, timeout=600)
            lines = proc.stdout.strip().splitlines()
            if proc.returncode != 0 or len(lines) < 2:
                failures.append(f"{w} trace={trace}: exit {proc.returncode}\n"
                                f"{proc.stderr[-2000:]}")
                continue
            failures += [f"{w} trace={trace}: {e}"
                         for e in check_result(lines[-1], expected)]
            if trace:
                failures += [f"{w} trace=1: {e}"
                             for e in check_layers(lines[-2], lines[-1], w)]
            print(f"{w} trace={trace}: ok", flush=True)
    for f in failures:
        print("FAIL", f)
    print("selftest:", "FAILED" if failures else "passed")
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
