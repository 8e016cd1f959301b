#!/usr/bin/env python3
"""Measures the benchmark's baseline and writes it to perfbench/BASELINE.md
and perfbench/baseline.json.

    python3 perfbench/baseline.py --seeds 1-10 --traced 1-2

For every workload in BENCHMARK.json: one untraced run per seed (their
end-to-end medians and quartiles, and each metric's spread, (q3 - q1) /
median, next to its bound), then traced runs whose per-layer metrics and
self-time tables are reported as medians, with each traced run's tracing
overhead. Runs go one at a time, workloads alternating, so drifts of the
machine hit every workload alike.
"""
import argparse
import json
import os
import platform
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def record(workload, seed, trace):
    with open(os.path.join(ROOT, ".bench_build", "results",
                           f"{workload}-seed{seed}-trace{trace}.json")) as f:
        return json.load(f)


def run(workload, seed, seconds, trace):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.time()
    p = subprocess.run(cmd, cwd=ROOT, stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL,
                       timeout=900)
    if p.returncode != 0:
        raise SystemExit(f"{workload} seed {seed} trace {trace}: exit {p.returncode}")
    print(f"{workload} seed {seed} trace {trace}: {time.time() - t0:.0f}s "
          f"failures={len(record(workload, seed, trace)['failures'])}",
          file=sys.stderr, flush=True)


def summary(values):
    med = statistics.median(values)
    q1, _, q3 = statistics.quantiles(values, n=4) if len(values) > 1 else (med, med, med)
    return {"median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else 0.0, "values": values}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--traced", default="1-3")
    ap.add_argument("--no-run", action="store_true",
                    help="summarize the records an earlier run left in .bench_build/results")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = [w["name"] for w in spec["workloads"]]
    secs = spec["run_seconds"]

    if not a.no_run:
        for trace, spec_seeds in ((0, a.seeds), (1, a.traced)):
            for s in seeds(spec_seeds):
                for w in names:
                    run(w, s, secs, trace)
    plain = {w: [record(w, s, 0) for s in seeds(a.seeds)] for w in names}
    traced = {w: [record(w, s, 1) for s in seeds(a.traced)] for w in names}

    out = {"machine": f"{platform.machine()}, {os.cpu_count()} CPUs, "
                      f"{platform.system()} {platform.release()}",
           "run_seconds": secs, "workloads": {}}
    for w in names:
        e2e = {k: summary([rec["end_to_end"][k] for rec in plain[w]])
               for k in plain[w][0]["end_to_end"]}
        layers = {m["name"]: statistics.median(rec["per_layer"][m["name"]] for rec in traced[w])
                  for m in spec["per_layer"]}
        overhead = [rec["tracing_overhead_s"] for rec in traced[w]]
        out["workloads"][w] = {
            "seeds": seeds(a.seeds), "traced_seeds": seeds(a.traced),
            "all_correct": not any(rec["failures"] for rec in plain[w] + traced[w]),
            "digests": {str(rec["seed"]): rec["digest"] for rec in plain[w]},
            "end_to_end": e2e, "per_layer": layers,
            # tracing cannot make a pass faster: a run that reads zero or
            # less shows that pass order or noise outweighs the overhead
            "tracing_overhead_s": {"runs": overhead, "resolved": min(overhead) > 0}}
    with open(os.path.join(HERE, "baseline.json"), "w") as f:
        json.dump(out, f, indent=1)

    bounds = {m["name"]: m.get("bound") for m in spec["end_to_end"]}
    lines = ["# perfbench baseline", "",
             f"Measured on {out['machine']}; `run_seconds` {secs}. "
             f"Regenerate with `python3 perfbench/baseline.py --seeds {a.seeds} "
             f"--traced {a.traced}`. Per-run values are in `baseline.json`.", ""]
    for w, d in out["workloads"].items():
        lines += [f"## {w}", "",
                  f"Untraced runs on seeds {a.seeds} (all outputs correct: {d['all_correct']}).",
                  "", "| metric | median | q1 | q3 | spread | bound |", "|---|---|---|---|---|---|"]
        for k, v in d["end_to_end"].items():
            b = bounds.get(k)
            lines.append(f"| `{k}` | {v['median']:.4g} | {v['q1']:.4g} | {v['q3']:.4g} | "
                         f"{v['spread']:.3f} | {'—' if b is None else b} |")
        lines += ["", f"Per-layer metrics, median of the traced runs on seeds {a.traced}:", "",
                  "| metric | value |", "|---|---|"]
        lines += [f"| `{k}` | {v:.4g} |" for k, v in d["per_layer"].items()]
        o = d["tracing_overhead_s"]
        lines += ["", "Tracing overhead per traced run (traced − untraced pass wall, passes "
                  "in the order untraced, traced, traced, untraced): "
                  + ", ".join(f"{x:+.3f} s" for x in o["runs"])
                  + ("." if o["resolved"] else
                     "; unresolved: not every run reads above zero, so the pass order "
                     "(the JIT still compiling) or the machine's noise outweighs the "
                     "cost of tracing."), ""]
    with open(os.path.join(HERE, "BASELINE.md"), "w") as f:
        f.write("\n".join(lines))


if __name__ == "__main__":
    main()
