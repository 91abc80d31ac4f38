"""Two-parallelism scaling measurement (the sandbox stand-in for the north
rule's N vs 4N executor criterion): run bench.py at local[8] and local[32]
on the same input, report throughput at both plus scaling efficiency, and
write BENCH/BASELINE.md.

eff = T_8 / (4 * T_32)  (equivalently throughput_32 / (4 * throughput_8));
target >= 0.8.  Each run is a fresh subprocess so the JVM/core count is
honest.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


# The scaling measurement needs compute-dominated queries: small runs are
# stage-latency-bound and show no speedup no matter the engine.  Size the
# workload up so local[8] spends minutes computing.
SCALE_ENV = {
    "YG_BENCH_PAGES": os.environ.get("YG_BENCH_PAGES", "12800000"),
    "YG_BENCH_RASTER_REPEAT": os.environ.get("YG_BENCH_RASTER_REPEAT", "1536"),
    "YG_BENCH_MINHASH_DOCS": os.environ.get("YG_BENCH_MINHASH_DOCS", "800000"),
    # One timed pass per JVM: this harness's min-over-repeats happens
    # ACROSS fresh subprocesses (run_best), so bench.py's internal
    # min-over-3 would triple a minutes-long workload for no extra signal.
    "YG_BENCH_REPEATS": os.environ.get("YG_BENCH_REPEATS", "1"),
}


def run_once(cpus: int) -> dict:
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus), SPARK_GRAFT_SF_DIR=SF_DIR, **SCALE_ENV)
    # Pin the process tree to exactly `cpus` physical cores: a Spark task is
    # a JVM thread PLUS a Python worker, so an unpinned local[8] on a 32-core
    # box silently consumes ~2x its nominal cores — inflating the small
    # "cluster" and corrupting the N-vs-4N comparison.
    cmd = [sys.executable, os.path.join(REPO, "bench.py")]
    if os.path.exists("/usr/bin/taskset"):
        cmd = ["/usr/bin/taskset", "-c", f"0-{cpus - 1}"] + cmd
    out = subprocess.run(
        cmd,
        capture_output=True, text=True, env=env, check=True, timeout=3600,
    )
    line = [l for l in out.stdout.strip().splitlines() if l.startswith("{")][-1]
    return json.loads(line)


def run_best(cpus: int, repeats: int = 3) -> dict:
    """Min wall over repeats (each a fresh JVM): sporadic multi-second host
    stalls inflate individual runs one-sidedly (identical back-to-back runs
    measured 16s/24s/45s), so the min estimates noise-free capability."""
    runs = [run_once(cpus) for _ in range(repeats)]
    best = min(runs, key=lambda r: r["value"])
    best["queries"] = {
        q: min(r["queries"][q] for r in runs) for q in best["queries"]
    }
    best["value"] = round(sum(best["queries"].values()), 3)
    return best


# Which hw_ceiling.py kernel bounds each query's 8->32 scaling on this VM.
# The match follows the per-stage instrumentation (BENCH/BASELINE.md;
# `perfbench/run.py --trace 1` reports python_run_s and kernel_ms per
# query): aoh/mosaic/unique are parquet-decode-bound (decode
# measured at 75% of aoh engine CPU); conv2d/save/text_quality are
# compute-bound (numpy stencil / zstd / JVM regex — the near-ideal kernel
# ceiling); enrich/minhash are dominated by vectorised hashing in Python
# workers; pip/knn by hash join+aggregate machinery.  None = sub-second
# stage-latency floor: no engine scales a fixed-cost job, ceiling 1.0x.
QUERY_CEILING = {
    "aoh_mask_sum": "parquet_decode",
    "mosaic_sum": "parquet_decode",
    "unique_vals": "parquet_decode",
    "conv2d_sum": "aoh_numpy",
    "save_tiles": "aoh_numpy",
    "pages_text_quality": "aoh_numpy",
    "pages_enrich": "hash_pandas",
    "minhash_lsh": "hash_pandas",
    "pages_pip_join": "hash_agg",
    "pages_knn": "hash_agg",
    "ann_topk": None,
    "pricing_summary": None,
}


def composite_ceiling(small: dict, big: dict, ceiling: dict) -> "dict | None":
    """Suite-share-weighted ceiling: the fastest 32-way suite any engine
    could post on this VM is sum(t8_q / ceiling_speedup_q) — each query's
    local[8] time divided by its MATCHED kernel's measured speedup.  The
    composite ceiling speedup is then T8 / that sum, and engine-relative
    efficiency = measured_speedup / composite_ceiling_speedup.  (Dividing
    by the single fastest kernel — r4's framing — overstates the ceiling:
    hash_agg's superlinear cache effect is not available to decode-bound
    queries that dominate the suite time.)"""
    if not ceiling:
        return None
    rows = []
    t32_ideal = 0.0
    t8_total = 0.0
    for q, t8 in small["queries"].items():
        kern = QUERY_CEILING.get(q)
        s_q = ceiling[kern]["speedup_8_to_32"] if kern and kern in ceiling else 1.0
        t32_ideal += t8 / s_q
        t8_total += t8
        t32 = big["queries"].get(q, float("nan"))
        eng = t8 / t32 if t32 else float("nan")
        rows.append({
            "query": q, "t8": t8, "kernel": kern or "stage-latency floor",
            "ceiling_speedup": round(s_q, 2), "engine_speedup": round(eng, 2),
            "share_pct": 0.0,  # filled below
        })
    for r in rows:
        r["share_pct"] = round(100.0 * r["t8"] / t8_total, 1)
    comp_speedup = t8_total / t32_ideal
    return {
        "rows": rows,
        "composite_ceiling_speedup": round(comp_speedup, 2),
        "t32_ideal_sec": round(t32_ideal, 2),
    }


def main() -> int:
    ceiling = None
    try:
        out = subprocess.run(
            [sys.executable, os.path.join(REPO, "scripts", "hw_ceiling.py")],
            capture_output=True, text=True, check=True, timeout=1200,
        )
        ceiling = json.loads(out.stdout.strip().splitlines()[-1])
    except Exception:  # noqa: BLE001 — ceiling is contextual, not required
        pass
    small = run_best(8)
    big = run_best(32)
    t8, t32 = small["value"], big["value"]
    eff = t8 / (4 * t32)
    comp = composite_ceiling(small, big, ceiling)
    report = {
        "sf": small["sf"],
        "t_local8_sec": t8,
        "t_local32_sec": t32,
        "speedup_8_to_32": round(t8 / t32, 3),
        "scaling_efficiency": round(eff, 3),
        "queries_local8": small["queries"],
        "queries_local32": big["queries"],
    }
    if ceiling:
        report["hw_ceiling"] = ceiling
    if comp:
        report["composite_ceiling_speedup"] = comp["composite_ceiling_speedup"]
        report["engine_relative_efficiency"] = round(
            (t8 / t32) / comp["composite_ceiling_speedup"], 3
        )
    os.makedirs(os.path.join(REPO, "BENCH"), exist_ok=True)
    generated = (
            "# Scaling measurement (local[8] vs local[32], same input)\n\n"
            "Sandbox evidence for the north rule's two-cluster-size criterion\n"
            "(N and 4N executors): the same bench suite on the same sf dir at\n"
            "two parallelism levels.\n\n"
            "Method: each level runs in a fresh JVM pinned with `taskset` to\n"
            "exactly that many physical cores (a Spark task is a JVM thread\n"
            "PLUS a Python worker, so an unpinned local[8] on a 32-core box\n"
            "silently consumes ~2x its nominal cores); fixtures/shuffle/output\n"
            "live on tmpfs because the sandbox's single ~130 MB/s disk and its\n"
            "aggressive page-cache reclaim (DAMON pageout) are properties of\n"
            "this VM, not of a cluster whose storage bandwidth scales with\n"
            "nodes; min over 3 runs per level (one untimed warmup pass inside\n"
            "each run absorbs JVM/codegen warmup a long-lived cluster\n"
            "amortises).  `scripts/hw_ceiling.py` bounds what this VM can\n"
            "show at all: pure numpy/pandas kernels in N worker processes\n"
            "with no engine in the loop.  Efficiency is reported both raw\n"
            "(vs the ideal 4x) and relative to that measured hardware\n"
            "ceiling — the engine-attributable number, since no engine can\n"
            "scale past the box's memory system.\n\n"
            f"- input: `{SF_DIR}`\n"
            f"- wall local[8]:  **{t8:.2f} s**  (throughput {small['throughput_rows_per_s']:.0f} rows/s)\n"
            f"- wall local[32]: **{t32:.2f} s**  (throughput {big['throughput_rows_per_s']:.0f} rows/s)\n"
            f"- speedup 8→32 cores: **{t8 / t32:.2f}x** (ideal 4x)\n"
            f"- raw scaling efficiency: **{eff:.3f}** (target ≥ 0.8 vs ideal 4x)\n"
            + (
                "- composite hardware-ceiling speedup on this VM: "
                "**{c:.2f}x** (suite-share-weighted per-query kernel "
                "ceilings; ideal 32-way suite = {t:.1f} s) → "
                "**engine-relative efficiency {e:.2f}**\n\n".format(
                    c=comp["composite_ceiling_speedup"],
                    t=comp["t32_ideal_sec"],
                    e=(t8 / t32) / comp["composite_ceiling_speedup"],
                )
                if comp else "\n"
            )
            + (
                "Ceiling composition (each query bounded by the measured "
                "no-Spark kernel that dominates its per-stage profile; the "
                "composite is sum(t8_q/ceiling_q) — a suite cannot scale "
                "past the kernels its time actually sits in):\n\n"
                "| query | t8 share | matched kernel | kernel ceiling | engine speedup | verdict |\n"
                "|---|---|---|---|---|---|\n"
                + "\n".join(
                    "| {query} | {share_pct}% | {kernel} | {ceiling_speedup}x"
                    " | {engine_speedup}x | {v} |".format(
                        v=("at/above ceiling"
                           if r["engine_speedup"] >= 0.9 * r["ceiling_speedup"]
                           else "ENGINE DEFICIT"),
                        **r,
                    )
                    for r in comp["rows"]
                )
                + "\n\n"
                if comp else ""
            )
            + "Per-query seconds:\n\n"
            "| query | local[8] | local[32] | speedup |\n|---|---|---|---|\n"
            + "\n".join(
                f"| {q} | {small['queries'][q]:.2f} | {big['queries'][q]:.2f} | "
                f"{small['queries'][q] / max(big['queries'][q], 1e-9):.2f}x |"
                for q in small["queries"]
            )
            + (
                "\n\nHardware ceiling (no Spark, pure numpy/pandas worker "
                "processes, same total work at 8 vs 32 workers):\n\n"
                + "\n".join(
                    f"- {k}: {v['wall_8w']}s → {v['wall_32w']}s "
                    f"(speedup {v['speedup_8_to_32']}x, ceiling efficiency "
                    f"{v['ceiling_efficiency']})"
                    for k, v in ceiling.items()
                )
                if ceiling else ""
            )
            + "\n\n```json\n" + json.dumps(report, indent=1) + "\n```\n"
    )
    # The full run report always lands in its own file; BASELINE.md only
    # has its DELIMITED generated block replaced.  (The round-5 end-of-round
    # regeneration opened BASELINE.md with mode "w" and destroyed the
    # hand-written calm-host/10x/headline evidence sections — generated
    # output must never share a blast radius with curated prose.)
    with open(os.path.join(REPO, "BENCH", "scaling_run.md"), "w",
              encoding="utf-8") as fp:
        fp.write(generated)
    begin = "<!-- scaling_bench generated: begin (do not edit inside) -->\n"
    end = "<!-- scaling_bench generated: end -->\n"
    baseline_path = os.path.join(REPO, "BENCH", "BASELINE.md")
    block = begin + generated + end
    if os.path.exists(baseline_path):
        with open(baseline_path, "r", encoding="utf-8") as fp:
            cur = fp.read()
        if begin in cur and end in cur:
            new = cur.split(begin)[0] + block + cur.split(end, 1)[1]
        else:
            # No markers yet: append the block, keep every existing line.
            new = cur.rstrip("\n") + "\n\n" + block
    else:
        new = block
    with open(baseline_path, "w", encoding="utf-8") as fp:
        fp.write(new)
    print(json.dumps(report))
    return 0


if __name__ == "__main__":
    sys.exit(main())
