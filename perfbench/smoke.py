"""The benchmark's own smoke test, at tiny input sizes.

    python3 perfbench/smoke.py

* every workload runs once, traced (which includes its untraced phase), and
  is correct;
* every end-to-end metric (plus ``peak_rss_mb`` and ``failed_frac``
  everywhere, and ``arrival_s`` / ``ckpt_bytes_per_input_byte`` on
  ``resume_waves``) is in the report line with its unit, and every
  ``per_layer`` metric of BENCHMARK.json is in the traced result line with
  its unit (the corpus queries on ``pixel_suite`` too, from its probe);
* an untraced run's result line carries exactly BENCHMARK.json's
  ``end_to_end`` metrics;
* the correctness gate trips on a deliberately wrong golden count: exit 1,
  ``correct`` false, the op counted as failed.

Exits 1 on the first failed check.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
TINY_ROWS = {
    "suite_oneshot": 3000,
    "pixel_suite": 1000,
    "resume_waves": 3000,
    "corpus_queries": 2000,
}


def _run(workload: str, trace: int, *extra: str) -> tuple[int, dict, dict]:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--rows", str(TINY_ROWS[workload]), "--seed", "1", "--seconds", "1",
           "--trace", str(trace), *extra]
    proc = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                          stderr=subprocess.DEVNULL, timeout=600)
    lines = proc.stdout.decode().strip().splitlines()
    return proc.returncode, json.loads(lines[-2]), json.loads(lines[-1])


def _check(ok: bool, what: str) -> None:
    print(("ok   " if ok else "FAIL ") + what, flush=True)
    if not ok:
        sys.exit(1)


def _units(metrics: dict) -> dict:
    return {k: m["unit"] for k, m in metrics.items()}


def main() -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    end_to_end = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    per_layer = {m["name"]: m["unit"] for m in bench["per_layer"]}

    for workload in TINY_ROWS:
        rc, report, result = _run(workload, 1)
        _check(rc == 0 and result["correct"] and result["failed"] == 0,
               f"{workload}: traced run is correct (exit {rc}, {report['errors']})")
        want = dict(end_to_end, failed_frac="ratio", peak_rss_mb="MiB")
        if workload == "resume_waves":
            want.update(arrival_s="s", ckpt_bytes_per_input_byte="ratio")
        have = _units(report["metrics"])
        _check(all(have.get(k) == u for k, u in want.items()),
               f"{workload}: end-to-end metrics with units {sorted(want)}")
        _check(report["metrics"]["run_s"].get("samples", 0) >= 1,
               f"{workload}: run_s sample count recorded")
        _check(_units(result["metrics"]) == per_layer,
               f"{workload}: every per_layer metric with its unit")
        if workload in ("pixel_suite", "corpus_queries"):
            queries = [k for k in per_layer if k.startswith("query.")]
            _check(all(result["metrics"][k]["value"] > 0 for k in queries),
                   f"{workload}: every corpus query timed")

    rc, report, result = _run("suite_oneshot", 0, "--golden-skew", "1")
    _check(set(_units(result["metrics"])) == set(end_to_end),
           "untraced result line carries exactly the end_to_end metrics")
    _check(rc == 1 and not result["correct"] and result["failed"] >= 1,
           f"wrong golden count trips the gate (exit {rc}, {report['errors']})")
    print("smoke: all checks passed")


if __name__ == "__main__":
    main()
