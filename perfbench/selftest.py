"""Smoke test of the benchmark: every workload at sf0.001 (FA: 2000
properties), untraced and traced.

    python3 perfbench/selftest.py

Checks that each run succeeds with ``correct: true``; that it prints
exactly the metrics ``BENCHMARK.json`` names for its mode, each with its
unit and a finite value; and that the layer numbers add up. The checks
compare what Spark clocked (job and Catalyst phase times) with the
benchmark's own marks around each call, two independent clocks:
- the construct-time jobs fit in the construct span;
- the forced frame's Catalyst phases plus its jobs fit in the execute
  span, and the constructed frame's phases in the construct span;
- ``executor.run_s`` <= ``wall_s`` * cores;
- ``driver.gap_s`` lies within [0, wall];
- ``stage.calls`` is 0 on ``sql_mix``;
- Python worker time shows up only on ``llm_corpus``.
Exits 1 on the first failed check.
"""

from __future__ import annotations

import json
import math
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("fa_etl", "sql_mix", "llm_corpus")


def _run(workload: str, trace: int) -> tuple[dict, dict]:
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", "7", "--seconds", "1", "--trace", str(trace), "--smoke"],
        cwd=ROOT, capture_output=True, text=True, timeout=300,
    )
    if out.returncode != 0:
        raise AssertionError(f"{workload} trace={trace} exited {out.returncode}:\n{out.stderr[-2000:]}")
    lines = out.stdout.strip().splitlines()
    record = next(ln.split(" ", 2)[2] for ln in lines if ln.startswith("# record "))
    with open(os.path.join(ROOT, record)) as fh:
        return json.loads(lines[-1]), json.load(fh)


def _check_metrics(result: dict, wanted: list[dict], label: str) -> None:
    assert set(result) == {"correct", "attempted", "failed", "metrics"}, label
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1, label
    got = result["metrics"]
    assert set(got) == {m["name"] for m in wanted}, f"{label}: {sorted(got)}"
    for m in wanted:
        v = got[m["name"]]
        assert v["unit"] == m["unit"], f"{label}: {m['name']} unit {v['unit']}"
        assert isinstance(v["value"], (int, float)) and math.isfinite(v["value"]), f"{label}: {m['name']}"


def _check_layers(workload: str, rec: dict) -> None:
    pl, nproc = rec["per_layer"], rec["nproc"]
    wall = rec["walls"]["wall_s"]
    assert pl["executor.run_s"] <= wall * nproc * 1.05, (workload, pl["executor.run_s"], wall)
    assert 0 <= pl["driver.gap_s"] <= wall * 1.01, (workload, pl["driver.gap_s"], wall)
    for s in rec["samples"]:
        span = {sp["name"]: sp["end"] - sp["start"] for sp in s["spans"] if "parent" not in sp}
        phases = {"construct": 0.0, "execute": 0.0}
        for sp in s["spans"]:
            if "parent" in sp:
                phases[sp["parent"]] += sp["end"] - sp["start"]
        # Spark clocks in whole milliseconds
        slack = 0.01 + 0.02 * s["wall"]
        construct = span.get("construct", 0.0)
        assert s["construct_jobs_s"] <= construct + slack, (workload, s["op"], s["construct_jobs_s"], construct)
        assert phases["construct"] <= construct + slack, (workload, s["op"], phases, construct)
        inner = phases["execute"] + s["execute_jobs_s"]
        assert inner <= span["execute"] + slack, (workload, s["op"], inner, span["execute"])
    if workload == "sql_mix":
        assert pl["stage.calls"] == 0 and pl["plans.construct_jobs"] > 0, pl
    python_s = pl["python.total_s"] + pl["python.init_s"]
    assert (python_s > 0) == (workload == "llm_corpus"), (workload, python_s)


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    for workload in WORKLOADS:
        for trace, wanted in ((0, spec["end_to_end"]), (1, spec["per_layer"])):
            label = f"{workload} trace={trace}"
            try:
                result, rec = _run(workload, trace)
                _check_metrics(result, wanted, label)
                if trace:
                    _check_layers(workload, rec)
            except AssertionError as exc:
                print(f"FAIL {label}: {exc}")
                return 1
            print(f"ok   {label}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
