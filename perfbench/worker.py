"""One benchmark run, in the fresh process ``run.py`` starts for it.

Set-up (inputs, SparkSession, registry import, warm-up), then the
timed section: one closed-loop pass over the workload's operations,
one client, each operation started when the previous one returned.
Then the correctness checks, the metrics and, with
``--trace 1``, the per-layer numbers read from Spark's status store.
Prints a readable report and, as its last line, the result object.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import random
import statistics
import sys
import time
import traceback
from collections import defaultdict
from concurrent.futures import ThreadPoolExecutor

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import layers  # noqa: E402
from workloads import WORKLOADS, Ctx  # noqa: E402

#: per-layer wall time of the pipeline calls, by operation name
_PIPELINE_OPS = {
    "run_pipeline": "pipeline.run_s",
    "corpus_build": "pipeline.corpus_build_s",
    "ann_build": "pipeline.ann_build_s",
    "ann_append": "pipeline.ann_append_s",
    "ann_query": "pipeline.ann_query_s",
}


def _metric_spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


class Runner:
    def __init__(self, ctx: Ctx, probe: layers.SparkProbe | None) -> None:
        self.ctx = ctx
        self.probe = probe
        self.samples: list[dict] = []
        self.tracer_s = 0.0

    def _marks(self) -> tuple[int, int] | None:
        if self.probe is None:
            return None
        t = time.perf_counter()
        m = self.probe.marks()
        self.tracer_s += time.perf_counter() - t
        return m

    def run_op(self, op) -> None:
        mids: list[tuple[float, object]] = []

        def mark() -> None:
            mids.append((time.time(), self._marks()))

        rec = {"op": op.name, "kind": op.kind, "ok": True}
        t0, ids0 = time.time(), self._marks()
        frames = {}
        try:
            frames, result = op.run(self.ctx, mark)
            self.ctx.results[op.name] = result
            rec["result"] = result
        except Exception:  # noqa: BLE001 - one failed op must not lose the run
            rec["ok"] = False
            rec["error"] = traceback.format_exc(limit=3)[-600:]
            print(f"# {op.name} FAILED\n{rec['error']}", file=sys.stderr, flush=True)
        t1, ids1 = time.time(), self._marks()
        mid, ids_mid = mids[0] if mids else (t0, ids0)
        start = t0 if op.kind == "query" else mid
        rec.update(start=start, mid=mid, end=t1, wall=t1 - start)
        if self.probe is not None:
            rec.update(ids0=ids0, ids_mid=ids_mid, ids1=ids1)
            t = time.perf_counter()
            rec["frame"], rec["spans"] = layers.frame_layers(frames)
            self.tracer_s += time.perf_counter() - t
        self.samples.append(rec)


def _layer_totals(runner: Runner, probe: layers.SparkProbe) -> dict[str, float]:
    """Sum the status-store and frame numbers over every sample, and
    attach each sample's spans (construct, execute, catalyst phases) and
    the seconds its construct-time and execute-time jobs ran, as Spark
    clocked them."""
    probe.flush()
    tot: dict[str, float] = defaultdict(float)
    for rec in runner.samples:
        (j0, s0), (jm, _sm), (j1, s1) = rec["ids0"], rec["ids_mid"], rec["ids1"]
        stages = probe.stage_totals(s0, s1)
        rec["jobs"] = j1 - j0
        rec["layers"] = stages
        rec["construct_jobs_s"] = layers.union_s(probe.job_intervals(j0, jm))
        rec["execute_jobs_s"] = layers.union_s(probe.job_intervals(jm, j1))
        for k, v in stages.items():
            tot[k] += v
        for k, v in rec.pop("frame", {}).items():
            tot[k] += v
        tot["spark.jobs"] += j1 - j0
        jobs = probe.job_intervals(j0, j1)
        tot["driver.gap_s"] += rec["wall"] - layers.covered_s(jobs, rec["start"], rec["end"])
        spans = rec["spans"]
        if rec["kind"] == "query":
            tot["plans.construct_s"] += rec["mid"] - rec["start"]
            tot["plans.construct_jobs"] += jm - j0
            spans.append({"name": "construct", "start": rec["start"], "end": rec["mid"]})
        spans.append({"name": "execute", "start": rec["mid"], "end": rec["end"]})
    return tot


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--work", required=True)
    ap.add_argument("--t-spawn", type=float, required=True)
    ap.add_argument("--record", required=True)
    ap.add_argument("--smoke", action="store_true")
    args = ap.parse_args()

    spec = _metric_spec()
    wl = WORKLOADS[args.workload]
    nproc = os.cpu_count() or 1
    ctx = Ctx(spark=None, registry={}, repo_root=ROOT, work=args.work,
              seed=args.seed, nproc=nproc, size="smoke" if args.smoke else "full")
    # Inputs are generated (numpy, or the FA generator's processes)
    # while the JVM starts; both are set-up.
    with ThreadPoolExecutor(max_workers=1) as pool:
        inputs = pool.submit(wl.setup, ctx)
        t = time.perf_counter()
        from firstamerican_etl_spark.session import get_spark

        spark = get_spark(app_name=f"perfbench-{wl.name}", extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.warehouse.dir": os.path.join(args.work, "warehouse"),
            # keep the JVM's files in the run's TMPDIR (hsperfdata ignores it)
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={os.environ['TMPDIR']} -XX:-UsePerfData",
        })
        session_start_s = time.perf_counter() - t
        inputs.result()
    phases = {"inputs_and_session": time.perf_counter() - t}
    t = time.perf_counter()
    from firstamerican_etl_spark.plans.registry import load_all

    ctx.spark, ctx.registry = spark, load_all()
    phases["registry"] = time.perf_counter() - t
    t = time.perf_counter()
    jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    ctx.staging = layers.StagingCounter()
    ctx.staging.install()
    ops = wl.ops(ctx)
    warm_bad = wl.warm_up(ctx, ops)
    phases["warm_up"] = time.perf_counter() - t

    probe = layers.SparkProbe(spark) if args.trace else None
    runner = Runner(ctx, probe)
    seq = list(ops)
    if wl.shuffle:
        random.Random(args.seed).shuffle(seq)
    ctx.out_dir = os.path.join(args.work, "out")
    ctx.staging.reset()  # count the timed section only
    setup_wall_s = time.time() - args.t_spawn
    cpu0, steal0 = layers.tree_cpu_s(os.getpid()), layers.host_steal_s()
    t_timed = time.perf_counter()
    for op in seq:
        runner.run_op(op)
    wall_s = time.perf_counter() - t_timed
    cpu_s = layers.tree_cpu_s(os.getpid()) - cpu0
    steal_s = layers.host_steal_s() - steal0
    peak_rss_mb = {"driver.peak_rss_mb": layers.vm_hwm_mb(os.getpid()),
                   "jvm.peak_rss_mb": layers.vm_hwm_mb(jvm_pid)}
    staging = ctx.staging
    staging.uninstall()

    try:
        bad = set(warm_bad) | set(wl.check(ctx))
    except Exception:  # noqa: BLE001 - a check that cannot run fails every op
        traceback.print_exc()
        bad = {op.name for op in ops}
    for rec in runner.samples:
        rec["ok"] = rec["ok"] and rec["op"] not in bad
    attempted = len(runner.samples)
    failed = sum(not r["ok"] for r in runner.samples)

    op_walls = sorted(r["wall"] for r in runner.samples)
    input_mb = sum(op.input_mb for op in ops)
    # CPU seconds are the bounded metrics: the host's vCPUs lose time to
    # other tenants (steal), and wall seconds moved by up to 40% between
    # sets of runs of the same code, where CPU seconds moved by under 10%.
    e2e = {"setup_s": cpu0, "cpu_s": cpu_s}
    walls = {
        "setup.wall_s": setup_wall_s,
        "wall_s": wall_s,
        "input_mb_per_s": input_mb / wall_s,
        "op_gmean_s": math.exp(statistics.fmean(math.log(w) for w in op_walls)),
    }
    per_layer: dict[str, float] = {}
    if probe is not None:
        tot = _layer_totals(runner, probe)
        tot["stage.calls"], tot["stage.hits"] = staging.calls, staging.hits
        tot["stage.write_s"] = staging.write_s
        tot["trace.overhead_s"] = runner.tracer_s
        per_layer = {m["name"]: tot.get(m["name"], 0.0) for m in spec["per_layer"]}
        per_layer["session.start_s"] = session_start_s
        per_layer["host.steal_s"] = steal_s
        per_layer.update(peak_rss_mb)
        per_layer.update(walls)
        per_layer["scheduler.slot_util"] = tot.get("executor.run_s", 0.0) / (wall_s * probe.cores)
        per_layer["write_amp"] = (ctx.sink_bytes + staging.write_bytes) / (input_mb * 1e6)
        for name, key in _PIPELINE_OPS.items():
            per_layer[key] = sum(r["wall"] for r in runner.samples if r["op"] == name)

    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    values = per_layer if args.trace else e2e
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted}

    print(f"# workload={wl.name} seed={args.seed} trace={args.trace} nproc={nproc} "
          f"samples={attempted}")
    for name, v in {**e2e, **walls}.items():
        n = f"n={len(op_walls)} ops" if name == "op_gmean_s" else "n=1 run"
        print(f"# {name} = {v:.4f} {units[name]} ({n})")
    print(f"# op_p50_s = {statistics.median(op_walls):.4f} s (n={len(op_walls)} ops)")
    p75 = statistics.quantiles(op_walls, n=4)[2] if len(op_walls) > 1 else op_walls[0]
    above = sum(w > p75 for w in op_walls)
    if above >= 10:
        print(f"# op_p75_s = {p75:.4f} s (n={len(op_walls)} ops)")
    else:
        print(f"# op_p75_s not reported: {above} of {len(op_walls)} samples above it, needs 10")
    print("# set-up wall seconds: " + ", ".join(f"{k} {v:.2f}" for k, v in phases.items()))
    print(f"# host.steal_s = {steal_s:.2f} s (vCPU time the hypervisor gave to others during the pass)")
    print(f"# fail_ratio = {failed / attempted:.4f} ({failed}/{attempted}); bad ops: {sorted(bad)}")
    for name, v in per_layer.items():
        print(f"# {name} = {v:.4f} {units[name]}")

    record = {
        "workload": wl.name, "seed": args.seed, "trace": args.trace, "nproc": nproc,
        "end_to_end": e2e, "walls": walls, "setup_phases_s": phases, "steal_s": steal_s,
        "per_layer": per_layer, "bad_ops": sorted(bad), "samples": runner.samples,
    }
    with open(args.record, "w") as fh:
        json.dump(record, fh, indent=1, default=str)
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}), flush=True)
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
