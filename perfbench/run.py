"""Benchmark entry point.

    python3 perfbench/run.py --workload {fa_etl,sql_mix,llm_corpus} \\
        --seed N --seconds S --trace {0,1}

Run from the root of a checkout. Each run gets a fresh worker process
(``worker.py``) with its own ``TMPDIR`` and ``SPARK_LOCAL_DIRS`` under
``.perfbench/`` in the checkout; both are removed when the run ends,
and the worker's whole process group (its JVM and Python workers) is
stopped. The run record (metrics, samples, spans, host load and a
host-speed canary) is kept in ``.perfbench/results/``. The last line
of standard output is the result object; a run that cannot produce
one exits non-zero without printing it.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("fa_etl", "sql_mix", "llm_corpus")
TIMEOUT_S = 150


def calibrate_s(n_mb: int = 256) -> float:
    """Single-threaded md5 over 256 MiB: a host-speed canary, the same
    loop as ``bench.py``'s ``_calibrate_host``."""
    buf = b"\x5a" * (1 << 20)
    h = hashlib.md5()
    t0 = time.perf_counter()
    for _ in range(n_mb):
        h.update(buf)
    h.digest()
    return time.perf_counter() - t0


def _missing_sources() -> list[str]:
    need = ("firstamerican_etl_spark/session.py", "tools/fa_bench_data.py",
            "tools/driver_sim.py", "BENCHMARK.json")
    return [p for p in need if not os.path.isfile(os.path.join(ROOT, p))]


def _group_alive(pgid: int) -> bool:
    try:
        os.killpg(pgid, 0)
    except ProcessLookupError:
        return False
    return True


def _stop_group(proc: subprocess.Popen) -> None:
    """Stop whatever is left of the worker's process group (its JVM and
    the JVM's Python workers) and wait until the group is gone."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        try:
            os.killpg(proc.pid, sig)
        except ProcessLookupError:
            break
        deadline = time.time() + 10
        while time.time() < deadline:
            proc.poll()  # reap the worker itself
            if not _group_alive(proc.pid):
                break
            time.sleep(0.1)
    proc.wait()


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    # the timed section is one pass of fixed size; the run length is
    # set by the workload, so --seconds is accepted and not used
    ap.add_argument("--seconds", type=float, default=15)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true", help="tiny inputs, for selftest.py")
    args = ap.parse_args()

    missing = _missing_sources()
    if missing:
        print(f"perfbench: not a checkout of the engine, missing {missing}", file=sys.stderr)
        return 2

    nproc = os.cpu_count() or 1
    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, f"run-{os.getpid()}-{args.workload}-{args.seed}")
    results = os.path.join(base, "results")
    for d in ("tmp", "local"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.makedirs(results, exist_ok=True)
    record = os.path.join(work, "record.json")
    env = dict(
        os.environ,
        TMPDIR=os.path.join(work, "tmp"),
        SPARK_LOCAL_DIRS=os.path.join(work, "local"),
        SPARK_GRAFT_CPUS=str(nproc),
        SPARK_GRAFT_DRIVER_MEM="3g",
        PYSPARK_PYTHON=sys.executable,
        # the launcher JVM of spark-submit would write /tmp/hsperfdata_*
        SPARK_LAUNCHER_OPTS="-XX:-UsePerfData",
    )
    env.pop("SPARK_GRAFT_MASTER", None)
    host = {"nproc": nproc, "load_before": os.getloadavg(), "canary_s": calibrate_s()}

    t_spawn = time.time()
    proc = subprocess.Popen(
        [sys.executable, os.path.join(HERE, "worker.py"),
         "--workload", args.workload, "--seed", str(args.seed),
         "--trace", str(args.trace),
         "--work", work, "--t-spawn", repr(t_spawn), "--record", record]
        + (["--smoke"] if args.smoke else []),
        cwd=work, env=env, stdout=subprocess.PIPE, text=True, start_new_session=True,
    )
    try:
        out, _ = proc.communicate(timeout=TIMEOUT_S)
    except subprocess.TimeoutExpired:
        print(f"perfbench: run exceeded {TIMEOUT_S} s", file=sys.stderr)
        out = None
    finally:
        _stop_group(proc)
    host["load_after"] = os.getloadavg()

    try:
        lines = (out or "").strip().splitlines()
        result = json.loads(lines[-1]) if proc.returncode == 0 and lines else None
        with open(record) as fh:
            rec = json.load(fh)
    except (OSError, ValueError):
        result = None
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if result is None:
        print(f"perfbench: worker exited {proc.returncode} without a result", file=sys.stderr)
        return 1

    rec["host"] = host
    name = f"{args.workload}-seed{args.seed}-trace{args.trace}-{int(t_spawn)}.json"
    with open(os.path.join(results, name), "w") as fh:
        json.dump(rec, fh, indent=1)
    print("\n".join(lines[:-1]))
    print(f"# host nproc={nproc} load_before={host['load_before'][0]:.2f} "
          f"load_after={host['load_after'][0]:.2f} canary_s={host['canary_s']:.4f}")
    print(f"# record .perfbench/results/{name}")
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
