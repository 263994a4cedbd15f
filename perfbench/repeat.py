"""Repeat runner: runs one workload several times, one run after the
other, and prints each metric's median, quartiles and spread.

    python3 perfbench/repeat.py --workload scan_mix --runs 10
    python3 perfbench/repeat.py --workload cdc_ingest --runs 10 --trace both

The spread of a metric is (Q3 - Q1) / median over the runs, with the
quartiles of ``statistics.quantiles(values, n=4)``. It is compared with
the metric's regression bound in BENCHMARK.json: a steady benchmark
keeps every end-to-end spread but ``setup_s``'s below a third of its
bound. ``--trace both`` alternates an untraced and a traced run of each
seed, so host drift reaches both modes alike, and reports the tracing
overhead as traced ``op_ms_p50`` over untraced ``op_ms_p50``.
Run i uses seed ``--seed-base + i``. Raw results are written to
``.perfbench_out/repeat-<workload>-trace<mode>.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run_once(workload: str, seed: int, seconds: float, trace: int) -> tuple[dict, float]:
    cmd = [
        sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace),
    ]
    t0 = time.perf_counter()
    out = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, timeout=600)
    wall = time.perf_counter() - t0
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or not lines:
        raise RuntimeError(f"{' '.join(cmd)} exited {out.returncode}")
    result = json.loads(lines[-1])
    result["report"] = json.loads(lines[-2])["report"] if len(lines) > 1 else {}
    return result, wall


def spread(values: list[float]) -> tuple[float, float, float, float]:
    """(median, Q1, Q3, (Q3 - Q1) / median)."""
    med = statistics.median(values)
    if len(values) < 2:
        return med, med, med, 0.0
    q1, _, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med if med else 0.0


#: wall-clock figures of the report line, summarized next to the metrics
REPORTED = ("ops_per_s", "op_ms_p50")


def summarize(results: list[dict], bounds: dict[str, float]) -> dict:
    rows = {name: [r["metrics"][name]["value"] for r in results] for name in results[0]["metrics"]}
    for name in REPORTED:
        if name in results[0]["report"]:
            rows[f"report.{name}"] = [r["report"][name]["value"] for r in results]
    table = {}
    print(f"{'metric':44} {'median':>14} {'q1':>14} {'q3':>14} {'spread':>8} {'bound':>6}")
    for name, vals in rows.items():
        med, q1, q3, sp = spread(vals)
        bound = bounds.get(name)
        flag = ""
        if bound is not None and name != "setup_s":
            flag = "steady" if sp < bound / 3 else ("within" if sp <= bound else "WIDE")
        print(f"{name:44} {med:14.4f} {q1:14.4f} {q3:14.4f} {sp:8.4f} {bound if bound is not None else '':>6} {flag}")
        table[name] = {"median": med, "q1": q1, "q3": q3, "spread": sp, "bound": bound, "values": vals}
    return table


def main(argv: list[str] | None = None) -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=[w["name"] for w in bench["workloads"]])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seed-base", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=bench["run_seconds"])
    ap.add_argument("--trace", choices=("0", "1", "both"), default="0")
    args = ap.parse_args(argv)

    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    modes = [0, 1] if args.trace == "both" else [int(args.trace)]
    results = {mode: [] for mode in modes}
    walls = {mode: [] for mode in modes}
    for i in range(args.runs):
        for mode in modes:
            res, wall = run_once(args.workload, args.seed_base + i, args.seconds, mode)
            results[mode].append(res)
            walls[mode].append(wall)
            steal = res["report"].get("host_steal_pct", {})
            print(f"run {i + 1}/{args.runs} seed={args.seed_base + i} trace={mode} "
                  f"wall={wall:.1f}s correct={res['correct']} failed={res['failed']}/{res['attempted']} "
                  f"steal%={steal.get('setup', 0):.1f}/{steal.get('loop', 0):.1f}",
                  flush=True)
    summaries = {}
    os.makedirs(os.path.join(ROOT, ".perfbench_out"), exist_ok=True)
    for mode in modes:
        print(f"\n{args.workload}, trace={mode}, {args.runs} runs, wall median {statistics.median(walls[mode]):.1f}s")
        summaries[mode] = summarize(results[mode], bounds if mode == 0 else {})
        path = os.path.join(ROOT, ".perfbench_out", f"repeat-{args.workload}-trace{mode}.json")
        with open(path, "w") as f:
            json.dump({"results": results[mode], "walls": walls[mode], "summary": summaries[mode]}, f, indent=1)
    if len(modes) == 2:
        untraced = summaries[0]["report.op_ms_p50"]["median"]
        traced = summaries[1]["trace.op_ms_p50"]["median"]
        print(f"\ntracing overhead: traced op_ms_p50 {traced:.1f} ms / untraced {untraced:.1f} ms "
              f"= {traced / untraced:.3f}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
