"""Smoke test of the benchmark itself, on tiny inputs (a few minutes).

    python3 perfbench/smoke.py

It runs ``run.py`` at ``--scale smoke`` (the sf0.001 fixture and 300
CIFAR images) and checks that

* every end-to-end metric of ``BENCHMARK.json`` is printed, with its
  unit, for every workload, and every per-layer metric by a traced run;
* every operation passes its check: this includes the CIFAR scoring,
  whose ``mapInPandas`` tasks fail on the Python workers unless the
  benchmark has put the engine on their ``PYTHONPATH``;
* a wrong expected result, for a query and for the CIFAR pipeline,
  makes the run report both operations failed (``failed`` 2,
  ``correct`` false, ``fail_frac`` > 0).

Exits non-zero on the first check that fails.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run(*args: str) -> tuple[dict, str]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--seconds", "1", "--scale", "smoke",
           *args]
    proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if proc.returncode != 0:
        raise SystemExit(f"{' '.join(args)}: exit {proc.returncode}\n{proc.stderr[-3000:]}")
    lines = proc.stdout.strip().splitlines()
    return json.loads(lines[-1]), proc.stdout


def expect(cond: bool, what: str) -> None:
    print(("ok    " if cond else "FAIL  ") + what)
    if not cond:
        raise SystemExit(1)


def same_metrics(result: dict, declared: list[dict]) -> bool:
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    return got == {m["name"]: m["unit"] for m in declared}


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    for w in spec["workloads"]:
        result, _ = run("--workload", w["name"], "--seed", "1", "--trace", "0")
        expect(same_metrics(result, spec["end_to_end"]), f"{w['name']}: end-to-end metrics")
        expect(result["correct"] and result["failed"] == 0, f"{w['name']}: outputs correct")
    first = spec["workloads"][0]["name"]
    result, _ = run("--workload", first, "--seed", "2", "--trace", "1")
    expect(same_metrics(result, spec["per_layer"]), "traced run: per-layer metrics")
    expect(result["correct"], "traced run: outputs correct")
    result, text = run("--workload", "relational", "--seed", "3", "--trace", "0",
                       "--corrupt-expected", "pricing_summary",
                       "--corrupt-expected", "cifar_scoring")
    fail_frac = next(float(ln.split()[1]) for ln in text.splitlines()
                     if ln.strip().startswith("fail_frac"))
    expect(result["failed"] == 2 and not result["correct"] and fail_frac > 0,
           f"wrong expected results are caught: failed={result['failed']} fail_frac={fail_frac}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
