"""Benchmark of the yirgacheffe_spark engine: one workload per run.

    python3 perfbench/run.py --workload raster --seed 1 --seconds 15 --trace 0

Run it from the repository root.  It starts a ``local[cores]`` session
sized to the host, generates the workload's inputs from the seed under
``.perfbench/work-<pid>`` (deleted on exit), runs two untimed warm-up
passes, then times whole passes over the workload's steps for
``--seconds`` (at least three).  Every action's result is checked against
an oracle that does not go through Spark.  One client issues actions one
after another (closed loop).

The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``.  With ``--trace 0`` the
metrics are the end-to-end ones (``setup_s``, ``run_s``); with
``--trace 1`` they are the per-layer ones, from passes that tag every phase
of every step with a Spark job group and read Spark's status stores
afterwards.  The line before it holds the run's detail: per-step times,
per-step layer figures, host sizing and host state.  A traced run also
writes its spans to ``.perfbench/spans-<workload>-<seed>.json``.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import host  # noqa: E402

WORKLOADS = ("raster", "pages_pipeline")
# The first pass pays for worker start-up and compilation; the second is
# still measurably slower than those after it on a 4-core host.
WARMUP_PASSES = 2
# run_s is a median over at least this many timed passes, so one pass
# slowed by the host does not move it.
MIN_PASSES = 3
# Passes start only while the run is this young, so it ends well within
# three minutes even on a slow host.
MAX_RUN_S = 140.0
LAYER_UNITS = {
    "plan_s": "s", "plan_jobs": "count", "jobs": "count", "tasks": "count",
    "task_cpu_s": "s", "gc_s": "s", "shuffle_write_bytes": "B", "spill_bytes": "B",
    "python_run_s": "s", "python_bytes": "B", "kernel_ms": "ms", "open_ms": "ms",
    "trace.overhead_share": "share",
}
HARVESTED = ("jobs", "tasks", "task_cpu_s", "gc_s", "shuffle_write_bytes",
             "spill_bytes", "python_run_s", "python_bytes")


class Tally:
    """Terminal actions attempted and failed (raised, or failed their
    oracle check)."""

    def __init__(self):
        self.attempted = 0
        self.failed = 0

    def add(self, attempted: int, failed: int) -> None:
        self.attempted += attempted
        self.failed += failed


def run_step(step, tr, tally: Tally) -> float:
    t0 = time.perf_counter()
    try:
        with tr.span(step.name):
            result = step.run(tr)
    except Exception:  # noqa: BLE001 -- a failed action is counted, not fatal
        traceback.print_exc(file=sys.stderr)
        tally.add(1, 1)
        return time.perf_counter() - t0
    elapsed = time.perf_counter() - t0
    attempted, failed = step.check(result)
    if failed:
        print(f"oracle check failed: {step.name}", file=sys.stderr)
    tally.add(attempted, failed)
    return elapsed


def run_passes(wl, tr, tally: Tally, label: str, budget_s: float, min_passes: int,
               traced: bool = False) -> tuple[list[dict], list[dict]]:
    """Whole passes over the steps until ``budget_s`` has elapsed and at
    least ``min_passes`` ran; returns the step times of each untraced and
    each traced pass.  With ``traced``, untraced and traced passes
    alternate in the order U T T U (at least ``min_passes`` of each), so
    both see the same host and, on average, the same stage of warming up."""
    steps = wl.steps()
    plain, spanned = [], []
    t0 = time.perf_counter()
    while (len(plain) < min_passes or (traced and len(spanned) < min_passes)
           or time.perf_counter() - t0 < budget_s):
        if plain and time.perf_counter() - T_START > MAX_RUN_S:
            break
        tr.enabled = traced and (len(plain) + len(spanned)) % 4 in (1, 2)
        out, name = (spanned, "traced") if tr.enabled else (plain, label)
        name = f"{name}{len(out)}"
        with tr.span(name):
            out.append({s.name: run_step(s, tr, tally) for s in steps})
        wl.end_pass()
    tr.enabled = False
    return plain, spanned


def median_by_key(rows: list[dict]) -> dict:
    return {k: statistics.median(r[k] for r in rows) for k in rows[0]}


def percentile(values: list[float], q: float) -> float:
    return statistics.quantiles(values, n=100, method="inclusive")[int(q) - 1]


def traced_layers(tr, steps, n_passes: int) -> dict:
    """Per-step figures of the traced passes, median over passes: Spark's
    counters summed over every phase of the step, each phase's wall time
    (``<step>.<phase>_s``) and the jobs submitted while planning."""
    per_pass = []
    for i in range(n_passes):
        row = {}
        for step in steps:
            path = f"traced{i}/{step.name}"
            totals = dict.fromkeys(HARVESTED, 0)
            for group in tr.groups_under(path):
                for key, value in tr.harvest(group).items():
                    totals[key] += value
            row.update({f"{step.name}.{k}": v for k, v in totals.items()})
            for phase in tr.phases(path):
                row[f"{step.name}.{phase}_s"] = tr.seconds(f"{path}/{phase}")
            if "plan" in tr.phases(path):
                row[f"{step.name}.plan_jobs"] = sum(
                    tr.harvest(g)["jobs"] for g in tr.groups_under(path + "/plan"))
        per_pass.append(row)
    return median_by_key(per_pass)


def remove_stale_work(out_dir: str) -> None:
    """Delete work directories left by runs that were killed outright."""
    if not os.path.isdir(out_dir):
        return
    for name in os.listdir(out_dir):
        pid = name.removeprefix("work-")
        if pid.isdigit() and not os.path.exists(f"/proc/{pid}"):
            shutil.rmtree(os.path.join(out_dir, name), ignore_errors=True)


def main() -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n", 1)[0])
    parser.add_argument("--workload", required=True, choices=WORKLOADS)
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args()

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "yirgacheffe_spark", "__init__.py")):
        print("run from the repository root: yirgacheffe_spark/ not found", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    state0 = host.host_state()
    out_dir = os.path.join(root, ".perfbench")
    remove_stale_work(out_dir)
    work = os.path.join(out_dir, f"work-{os.getpid()}")
    os.makedirs(work)
    # A terminated run still stops Spark and deletes its work directory.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    spark = None
    try:
        spark, config = host.start_session(root, work)
        session_s = time.perf_counter() - T_START

        import tracing
        from workloads import WORKLOADS as CLASSES

        tr = tracing.Tracer(spark, f"{args.workload}-{args.seed}", enabled=False)
        wl = CLASSES[args.workload](spark, args.seed)
        tally = Tally()

        dest = os.path.join(work, "inputs")
        t0 = time.perf_counter()
        wl.generate(dest)
        generate_s = time.perf_counter() - t0
        t0 = time.perf_counter()
        wl.open(dest)
        open_s = time.perf_counter() - t0
        wl.prepare_oracle()
        warm, _ = run_passes(wl, tr, tally, "warmup", 0.0, WARMUP_PASSES)
        window_ms = getattr(wl, "window_ms", None)
        if window_ms is not None:
            window_ms.clear()
        warmup_s = [sum(p.values()) for p in warm]
        setup_s = session_s + generate_s + open_s + sum(warmup_s)

        passes, traced = run_passes(
            wl, tr, tally, "pass", args.seconds, 2 if args.trace else MIN_PASSES,
            traced=bool(args.trace))
        pass_s = [sum(p.values()) for p in passes]
        run_s = statistics.median(pass_s)
        detail = {
            "workload": args.workload, "seed": args.seed, "sizes": wl.sizes(),
            "session": config,
            "setup": {"session_s": session_s, "generate_s": generate_s,
                      "open_s": open_s, "warmup_s": warmup_s, "first_pass_s": warm[0]},
            "pass_s": pass_s,
            "traced_pass_s": [sum(p.values()) for p in traced],
            "passes": passes,
            "steps_s": median_by_key(passes),
        }
        if window_ms:
            detail["window_read_samples"] = len(window_ms)
            detail["window_read_p50_ms"] = percentile(window_ms, 50)
            detail["window_read_p90_ms"] = percentile(window_ms, 90)

        if args.trace:
            traced_run_s = statistics.median(sum(p.values()) for p in traced)
            layers = traced_layers(tr, wl.steps(), len(traced))
            tr.enabled = True
            probed, probe_failures = wl.probes(tr)
            layers.update(probed)
            tally.add(0, probe_failures)
            layers["trace.overhead_share"] = traced_run_s / run_s - 1
            detail["layers"] = layers
            metrics = {name: {"value": summarize(name, layers), "unit": unit}
                       for name, unit in LAYER_UNITS.items()}
            tr.write(os.path.join(out_dir, f"spans-{args.workload}-{args.seed}.json"))
        else:
            metrics = {"setup_s": {"value": setup_s, "unit": "s"},
                       "run_s": {"value": run_s, "unit": "s"}}
        detail["jvm_peak_rss_mb"] = host.peak_rss_mb(host.jvm_pid(spark))
    finally:
        try:
            if spark is not None:
                host.stop_session(spark)
        finally:
            shutil.rmtree(work, ignore_errors=True)

    detail["failed_op_share"] = tally.failed / max(tally.attempted, 1)
    detail["host_state"] = host.host_report(state0, host.host_state())
    print(json.dumps({"detail": detail}))
    print(json.dumps({"correct": tally.failed == 0, "attempted": tally.attempted,
                      "failed": tally.failed, "metrics": metrics}))
    return 0


def summarize(name: str, layers: dict) -> float:
    """A workload-level layer figure: the sum over its steps of the
    per-step figure, or the workload's own probe value."""
    if name in layers:
        return layers[name]
    return sum(v for k, v in layers.items() if k.endswith("." + name))


if __name__ == "__main__":
    sys.exit(main())
