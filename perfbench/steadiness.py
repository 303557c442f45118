#!/usr/bin/env python3
"""Runs the benchmark the way BENCHMARK.json describes it and writes the
steadiness record, perfbench/STEADINESS.md.

Usage (from the root of a checkout): python3 perfbench/steadiness.py [runs] [first_seed]

For every workload: `runs` untraced runs, each with another seed, giving
per-metric medians, quartiles and the quartile spread as a share of the
median; then one traced run, whose job median against the untraced one is
the tracing overhead.
"""
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

NOTES = """## Notes

- `first_job_s` (the cold-JVM iteration) and `job_tail_s` (with a few timed
  iterations per run, the slowest of them) are in the per-layer set as
  `bench.first_job_s` and `bench.job_tail_s`. The table "Figures kept per
  layer" above gives their spread over the same runs, read from each run's
  standard error; a figure whose spread is above 0.10 does not repeat within
  a tenth. The lake tails (`bench.write_tail_s`, `bench.read_tail_s`) are per
  layer for the same reason.
- `run_seconds` is set by the time budget: the benchmark is run
  4 + 22 x (number of workloads) times, and all runs with two builds must end
  within 3,420 s. "Projected" above scales this record's mean run wall time
  to that count.
- The host is a 4-vCPU VM shared with other machines' work. Wall times moved
  by up to 1.6x between calm and busy minutes while the benchmark was tuned,
  and the same seed run a few minutes apart differed by up to 30 %, so every
  wall-time bound is the largest allowed, 0.25. The README's "Run length and
  noise" section lists the spreads of the earlier ten-run sets.
- The traced run is a single run, so its tracing overhead is within that
  drift; it is not a measured cost of tracing.
"""


def run(spec, workload, seed, trace):
    cmd = spec["command"] + ["--workload", workload, "--seed", str(seed),
                             "--seconds", str(spec["run_seconds"]), "--trace", str(trace)]
    t0 = time.time()
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
    wall = time.time() - t0
    if p.returncode != 0:
        sys.exit(f"{' '.join(cmd)} failed:\n{p.stderr[-3000:]}")
    lines = p.stderr.splitlines()
    diag = [line for line in lines if "harness" in line]
    # per-iteration seconds: the cold iteration first, then warm-ups; timed loop
    iters = {ph: [float(x) for x in line.split(f"{ph} iterations")[1].split()]
             for ph in ("warm", "timed") for line in lines if f"{ph} iterations" in line}
    return json.loads(p.stdout.strip().splitlines()[-1]), wall, (diag[-1] if diag else ""), iters


def spread_row(name, v, bound="-"):
    q1, _, q3 = statistics.quantiles(v, n=4)
    med = statistics.median(v)
    spread = (q3 - q1) / med
    ratio = f"{spread / bound:.2f}" if bound != "-" else "-"
    return f"| {name} | {med:.4g} | {q1:.4g} | {q3:.4g} | {spread:.3f} | {bound} | {ratio} |"


def main():
    runs = int(sys.argv[1]) if len(sys.argv) > 1 else 10
    first_seed = int(sys.argv[2]) if len(sys.argv) > 2 else 1000
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    workloads = [x["name"] for x in spec["workloads"]]
    out = ["# perfbench steadiness record", "",
           f"`{' '.join(spec['command'])}`, run_seconds {spec['run_seconds']}, "
           f"{runs} untraced runs per workload with seeds {first_seed}..{first_seed + runs - 1}, "
           f"then one traced run. Spread = (Q3 - Q1) / median, quartiles as "
           f"`statistics.quantiles(values, n=4)` gives them.", ""]
    total = 0.0
    for w in workloads:
        results = []
        for i in range(runs):
            r, wall, diag, iters = run(spec, w, first_seed + i, 0)
            total += wall
            results.append((first_seed + i, r, wall, diag, iters))
            print(f"{w} seed {first_seed + i}: {wall:.0f}s {diag}", file=sys.stderr)
        traced, twall, _, _ = run(spec, w, first_seed + runs, 1)
        total += twall
        out += [f"## {w}", "", "| seed | correct | attempted | failed | "
                + " | ".join(bounds) + " | iterations s (cold, warm-up / timed) | run wall s | diagnostics |",
                "|" + "---|" * (len(bounds) + 7)]
        for seed, r, wall, diag, iters in results:
            its = " ".join(f"{x:.2f}" for x in iters["warm"]) + " / " + " ".join(
                f"{x:.2f}" for x in iters["timed"])
            out.append(f"| {seed} | {r['correct']} | {r['attempted']} | {r['failed']} | "
                       + " | ".join(f"{r['metrics'][m]['value']:.4g}" for m in bounds)
                       + f" | {its} | {wall:.0f} | {diag.replace('perfbench: ', '')} |")
        out += ["", "| metric | median | Q1 | Q3 | spread | bound | spread / bound |",
                "|---|---|---|---|---|---|---|"]
        for m, bound in bounds.items():
            out.append(spread_row(m, [r["metrics"][m]["value"] for _, r, _, _, _ in results], bound))
        out += ["", "Figures kept per layer, over the same runs:", "",
                "| metric | median | Q1 | Q3 | spread | bound | spread / bound |",
                "|---|---|---|---|---|---|---|",
                spread_row("bench.first_job_s", [it["warm"][0] for *_, it in results]),
                spread_row("bench.job_tail_s", [max(it["timed"]) for *_, it in results])]
        untraced = statistics.median([r["metrics"]["job_p50_s"]["value"] for _, r, _, _, _ in results])
        tm = traced["metrics"]
        out += ["", f"Traced run (seed {first_seed + runs}, {twall:.0f} s, correct {traced['correct']}): "
                f"job median {tm['bench.traced_job_p50_s']['value']:.4g} s against the untraced "
                f"{untraced:.4g} s, tracing overhead "
                f"{tm['bench.traced_job_p50_s']['value'] / untraced - 1:+.1%}; "
                f"self-time gap {tm['bench.self_time_gap_s']['value']:.3g} s; "
                f"jobs attributed by time window {tm['bench.unattributed_jobs']['value']:.3g} per iteration. "
                f"Its non-zero per-layer metrics:", "",
                "| metric | value | unit |", "|---|---|---|"]
        out += [f"| {k} | {v['value']:.4g} | {v['unit']} |" for k, v in tm.items() if v["value"]]
        out.append("")
    n_runs = runs + 1
    mean_wall = total / (n_runs * len(workloads))
    planned = 4 + 22 * len(workloads)
    out += [f"Total wall time of these runs: {total:.0f} s, {mean_wall:.0f} s per run. "
            f"Projected for the {planned} runs of one benchmark pass: {mean_wall * planned:.0f} s "
            f"plus two builds.", "", NOTES]
    with open(os.path.join(HERE, "STEADINESS.md"), "w") as f:
        f.write("\n".join(out))


if __name__ == "__main__":
    main()
