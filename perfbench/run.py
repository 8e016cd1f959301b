#!/usr/bin/env python3
"""The repository's benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload etl_prep --seed 1 --seconds 17 --trace 0

Steps, all inside the checkout:
1. build the program and the runner from source (`perfbench/build.sbt`,
   once per source digest, into `target/`);
2. generate the seeded inputs (`gen.py`, cached per seed);
3. start one JVM (`perfbench.Runner`): set up a `local[4]` session, run an
   untimed correctness pass that writes every task's output, then timed
   passes of the workload's DAG tasks in a closed loop with one client;
4. compare each task's output with its registered DuckDB oracle query;
5. print the metrics: with `--trace 0` the end-to-end ones, with `--trace 1`
   the per-layer ones, read from the traced passes and their spans. The
   last line of standard output is the JSON result; the full record (input
   digest, every metric, the self-time table, the trace file's path) goes to
   `.bench_build/results/`.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
CORES = 4
HEAP = "3g"
MB = 1e6
JVM_TIMEOUT_S = 170
# Spark on JDK 17 outside spark-submit needs these (as in the program's build)
OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
         "java.net", "java.nio", "java.util", "java.util.concurrent",
         "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
         "sun.security.action", "sun.util.calendar"]
MODULES = ["ingest", "core", "ops", "ops.Graph", "dedup", "sim", "text", "streaming"]

sys.dont_write_bytecode = True  # no __pycache__ in the checkout
sys.path.insert(0, HERE)
import gen  # noqa: E402


class BenchError(Exception):
    pass


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------- build

def source_digest():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in sorted(os.walk(r)):
            files += [os.path.join(d, f) for f in sorted(fs)]
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles program and runner once per source digest; returns the
    runtime classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        raise BenchError("no program sources next to perfbench/: nothing to build")
    digest = source_digest()
    stamp = os.path.join(BUILD, "build.json")
    if os.path.exists(stamp):
        with open(stamp) as f:
            s = json.load(f)
        if s.get("digest") == digest:
            return s["classpath"]
    log("building program and runner (sbt)")
    env = dict(os.environ, COURSIER_MODE="offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.server.autostart=false", "-Dsbt.log.noformat=true",
         "export perfbench/Runtime/fullClasspathAsJars"],
        cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=600)
    lines = [ln for ln in p.stdout.splitlines() if ".jar" in ln and not ln.startswith("[")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:])
        raise BenchError("build failed")
    classpath = lines[-1]
    os.makedirs(BUILD, exist_ok=True)
    with open(stamp, "w") as f:
        json.dump({"digest": digest, "classpath": classpath}, f)
    return classpath


# ---------------------------------------------------------------- run

def run_jvm(classpath, data, tasks, passes, work):
    for d in ("tmp", "warehouse", "local", "check"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    out = os.path.join(work, "result.json")
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    # no hsperfdata file outside the checkout
    cmd = [java, "-XX:-UsePerfData", f"-Xms{HEAP}", f"-Xmx{HEAP}"]
    for p in OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += [f"-Djava.io.tmpdir={work}/tmp", "-cp", classpath, "perfbench.Runner",
            f"data={data}", "tasks=" + ",".join(f"{n}:{m}" for n, m in tasks),
            f"passes={passes}", f"check={work}/check", f"out={out}",
            f"warehouse={work}/warehouse", f"local={work}/local"]
    with open(os.path.join(work, "jvm.log"), "w") as logf:
        proc = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT, cwd=work)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            raise BenchError(f"runner exceeded {JVM_TIMEOUT_S}s")
        finally:
            # never leave the JVM behind: on a timeout, an error or a signal
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if rc != 0 or not os.path.exists(out):
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        raise BenchError(f"runner exited with {rc}")
    with open(out) as f:
        return json.load(f)


# ---------------------------------------------------------------- check

def _isint(t):
    return t.startswith("int") or t.startswith("uint")


def compare(con, name, sql, outdir):
    """The repository's oracle comparison (tools/check.py): column names,
    types (a decimal against an integer is a failure), row count, values,
    and every cell's string form. Returns None or the mismatch."""
    got = con.execute(
        f"SELECT * FROM read_parquet('{outdir}/{name}/*.parquet')").fetch_arrow_table()
    exp = con.execute(sql).fetch_arrow_table()
    gcols, ecols = sorted(got.column_names), sorted(exp.column_names)
    if gcols != ecols:
        return f"columns {gcols} vs {ecols}"
    gt = {c: str(got.schema.field(c).type) for c in gcols}
    et = {c: str(exp.schema.field(c).type) for c in ecols}
    hazard = [c for c in gcols if ("decimal" in gt[c]) != ("decimal" in et[c])
              and (_isint(gt[c]) or _isint(et[c]))]
    if hazard:
        return f"decimal-vs-int on {hazard}"
    if got.num_rows != exp.num_rows:
        return f"rows {got.num_rows} vs {exp.num_rows}"
    g = [tuple(r[c] for c in gcols) for r in got.to_pylist()]
    e = [tuple(r[c] for c in ecols) for r in exp.to_pylist()]
    for i, (a, b) in enumerate(zip(g, e)):
        if a != b:
            return f"row {i}: got {a} expected {b}"[:300]
        if tuple(map(str, a)) != tuple(map(str, b)):
            return f"row {i} as strings: got {a} expected {b}"[:300]
    return None


def check(record, tasks, data, outdir):
    import duckdb
    con = duckdb.connect()
    con.execute(f"SET threads TO {CORES}")
    con.execute(f"SET temp_directory = '{outdir}.duckdb'")
    for t in gen.TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data}/{t}.parquet')")
    failures = dict(record["check_errors"])
    for name, _ in tasks:
        if name in failures:
            continue
        sql = record["oracle"].get(name)
        if sql is None:
            failures[name] = "no oracle query registered"
            continue
        try:
            bad = compare(con, name, sql, outdir)
        except Exception as ex:  # a query that cannot run counts as a mismatch
            bad = f"compare error: {ex}"[:300]
        if bad:
            failures[name] = bad
    con.close()
    return failures


# ---------------------------------------------------------------- metrics

def wall(p):
    return (p["end_ms"] - p["start_ms"]) / 1e3


def task_wall(t):
    return (t["exec"][1] - t["call"][0]) / 1e3


def union(intervals, lo, hi):
    """Length of the union of intervals clipped to [lo, hi]."""
    iv = sorted((max(a, lo), min(b, hi)) for a, b in intervals)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in iv:
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def spans_of(p):
    """The pass as a span tree: run -> task -> call/plan/exec -> job -> stage.
    Times in epoch ms; every span of a task carries the task's id."""
    spans = [{"id": f"p{p['pass']}", "parent": None, "kind": "run", "task": None,
              "name": f"pass {p['pass']}", "start_ms": p["start_ms"], "end_ms": p["end_ms"]}]
    phase_of = {}
    for t in p["tasks"]:
        g = t["group"]
        spans.append({"id": g, "parent": spans[0]["id"], "kind": "task", "task": g,
                      "name": t["name"], "start_ms": t["call"][0], "end_ms": t["exec"][1]})
        for ph in ("call", "plan", "exec"):
            spans.append({"id": f"{g}.{ph}", "parent": g, "kind": ph, "task": g,
                          "name": f"{t['name']} {ph}", "start_ms": t[ph][0], "end_ms": t[ph][1]})
        phase_of[g] = t
    for j in p["jobs"]:
        g = j["group"]
        parent = g if g in phase_of else spans[0]["id"]
        if g in phase_of:
            t = phase_of[g]
            for ph in ("call", "plan", "exec"):
                if t[ph][0] <= j["start_ms"] <= t[ph][1] + 1:
                    parent = f"{g}.{ph}"
                    break
        spans.append({"id": f"job{j['job']}", "parent": parent, "kind": "job",
                      "task": g if g in phase_of else None, "name": f"job {j['job']}",
                      "start_ms": j["start_ms"], "end_ms": j["end_ms"]})
    jobs = {f"job{j['job']}" for j in p["jobs"]}
    for s in p["stages"]:
        parent = f"job{s['job']}" if f"job{s['job']}" in jobs else spans[0]["id"]
        g = s["group"]
        spans.append({"id": f"stage{s['stage']}.{s['attempt']}", "parent": parent,
                      "kind": "stage", "task": g if g in phase_of else None,
                      "name": f"stage {s['stage']}", "start_ms": s["start_ms"],
                      "end_ms": s["end_ms"]})
    return spans


KINDS = ["run", "task", "call", "plan", "exec", "job", "stage"]


def self_times(spans):
    """Self time per span kind, in seconds: a span's duration minus the part
    of it its children cover."""
    children = {}
    for s in spans:
        children.setdefault(s["parent"], []).append(s)
    out = {k: 0.0 for k in KINDS}
    for s in spans:
        kids = [(c["start_ms"], c["end_ms"]) for c in children.get(s["id"], [])]
        dur = max(0.0, s["end_ms"] - s["start_ms"])
        out[s["kind"]] += (dur - union(kids, s["start_ms"], s["end_ms"])) / 1e3
    return out


def layer_metrics(p):
    """Per-layer metrics of one traced pass, summed over its tasks."""
    tasks, groups = p["tasks"], p["groups"]
    zero = {k: 0 for k in ("jobs_started", "stages", "tasks", "failed_tasks",
                           "cpu_ns", "run_ms", "gc_ms", "wait_ms", "shuffle_write",
                           "shuffle_read", "spill", "input_bytes", "input_rows",
                           "output_bytes", "files_written")}
    c = {t["group"]: groups.get(t["group"], zero) for t in tasks}

    def tot(key, ts=tasks):
        return sum(c[t["group"]][key] for t in ts)

    jobs_by_group = {}
    for j in p["jobs"]:
        jobs_by_group.setdefault(j["group"], []).append((j["start_ms"], j["end_ms"]))
    task_s = sum(task_wall(t) for t in tasks)
    gap = sum(task_wall(t) - union(jobs_by_group.get(t["group"], []),
                                   t["call"][0], t["exec"][1]) / 1e3 for t in tasks)
    m = {
        "queries.call_s": sum((t["call"][1] - t["call"][0]) / 1e3 for t in tasks),
        "catalyst.plan_s": sum((t["plan"][1] - t["plan"][0]) / 1e3 for t in tasks),
        "exec.run_s": sum((t["exec"][1] - t["exec"][0]) / 1e3 for t in tasks),
        "driver.gap_s": gap,
        "scheduler.jobs": tot("jobs_started"),
        "scheduler.stages": tot("stages"),
        "scheduler.tasks": tot("tasks"),
        "scheduler.task_wait_s": tot("wait_ms") / 1e3,
        "scheduler.failed_tasks": tot("failed_tasks"),
        "executor.cpu_s": tot("cpu_ns") / 1e9,
        "executor.run_s": tot("run_ms") / 1e3,
        "executor.gc_s": tot("gc_ms") / 1e3,
        "executor.cpu_util": tot("cpu_ns") / 1e9 / (task_s * CORES) if task_s else 0.0,
        "shuffle.write_mb": tot("shuffle_write") / MB,
        "shuffle.read_mb": tot("shuffle_read") / MB,
        "shuffle.spill_mb": tot("spill") / MB,
        "io.read_mb": tot("input_bytes") / MB,
        "io.read_rows": tot("input_rows"),
        "io.files_written": tot("files_written"),
        "io.written_mb": tot("output_bytes") / MB,
        "storage.peak_mb": p["storage_peak_bytes"] / MB,
        "storage.leaked_blocks": p["leaked_blocks"],
        "storage.leaked_mb": p["leaked_bytes"] / MB,
        "jvm.heap_after_gc_mb_max": p["heap_after_gc_max_bytes"] / MB,
    }
    for mod in MODULES:
        ts = [t for t in tasks if t["module"] == mod]
        m[f"{mod}.wall_s"] = sum(task_wall(t) for t in ts)
        m[f"{mod}.jobs"] = tot("jobs_started", ts)
        m[f"{mod}.cpu_s"] = tot("cpu_ns", ts) / 1e9
    return m


def median(xs):
    return statistics.median(xs) if xs else 0.0


def end_to_end(record, rows, failed, attempted):
    plain = [p for p in record["passes"] if not p["traced"]]
    walls = [wall(p) for p in plain]
    lat = [task_wall(t) for p in plain for t in p["tasks"]]
    w = median(walls)
    return {
        "wall_s": (w, "s"),
        "rows_per_s": (rows / w if w else 0.0, "rows/s"),
        "task_p50_s": (median(lat), "s"),
        "setup_s": (record["setup_s"], "s"),
        "ok_frac": (1.0 - failed / attempted, "ratio"),
        # the three below are reported, not bounded: they are zero on some
        # workloads, and a bounded metric must never read zero
        "failed_frac": (failed / attempted, "ratio"),
        "leaked_mb": (median([p["leaked_bytes"] / MB for p in plain]), "MB"),
        "written_mb": (median([sum(g["output_bytes"] for g in p["groups"].values()) / MB
                               for p in plain]), "MB"),
    }


def main():
    ap = argparse.ArgumentParser(description="perfbench: one workload, one seed")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    with open(os.path.join(HERE, "workloads.json")) as f:
        workloads = json.load(f)
    if a.workload not in workloads:
        raise BenchError(f"unknown workload {a.workload}; have {sorted(workloads)}")
    wl = workloads[a.workload]
    tasks = [tuple(t) for t in wl["tasks"]]
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    classpath = build()
    manifest = gen.write(a.seed, os.path.join(BUILD, "data", f"seed-{a.seed}"))
    data = manifest["dir"]
    rows = sum(manifest["rows"][t] for t in wl["tables"])

    work = os.path.join(BUILD, "run", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        t0 = time.time()
        # A fixed pass count per window keeps every run's work the same.
        # The correctness pass is the cold pass; the run budget leaves no
        # room for a warm-up pass, so the first timed pass still runs while
        # the JIT compiles. A traced run times untraced, traced, traced,
        # untraced passes, so a linear drift over the run (the JIT, the
        # machine's speed) adds nothing to traced minus untraced wall time.
        n = max(2, round(a.seconds / wl["pass_s"]))
        passes = "uttu" if a.trace else "u" * n
        record = run_jvm(classpath, data, tasks, passes, work)
        t1 = time.time()
        failures = check(record, tasks, data, os.path.join(work, "check"))
        log(f"jvm {t1 - t0:.1f}s (setup {record['setup_s']:.1f}s, check pass "
            f"{record['check_s']:.1f}s), oracle compare {time.time() - t1:.1f}s")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    for p in record["passes"]:
        for t in p["tasks"]:
            if t["error"]:
                failures.setdefault(t["name"], t["error"])
        for g, c in p["groups"].items():
            if c["jobs_started"] != c["jobs_ended"]:
                raise BenchError(f"group {g}: {c['jobs_started']} job starts, "
                                 f"{c['jobs_ended']} job ends")
    attempted = len(tasks)
    failed = len(failures)
    e2e = end_to_end(record, rows, failed, attempted)

    result = {"workload": a.workload, "seed": a.seed, "digest": manifest["digest"],
              "input_rows": rows, "check_pass_s": record["check_s"],
              "pass_s": [wall(p) for p in record["passes"]],
              "failures": failures,
              "task_s": {n: median([task_wall(t) for p in record["passes"] if not p["traced"]
                                    for t in p["tasks"] if t["name"] == n]) for n, _ in tasks},
              "end_to_end": {k: v for k, (v, _) in e2e.items()}}
    if a.trace:
        traced = [p for p in record["passes"] if p["traced"]]
        per_pass = [layer_metrics(p) for p in traced]
        spans = [s for p in traced for s in spans_of(p)]
        selfs = [self_times(spans_of(p)) for p in traced]
        layers = {k: median([m[k] for m in per_pass]) for k in per_pass[0]}
        self_s = {k: median([s[k] for s in selfs]) for k in KINDS}
        traced_wall = median([wall(p) for p in traced])
        overhead = traced_wall - e2e["wall_s"][0]
        phases = layers["queries.call_s"] + layers["catalyst.plan_s"] + layers["exec.run_s"]
        layers.update({f"self.{k}_s": v for k, v in self_s.items()})
        # the part of the traced makespan no call/plan/exec span covers
        layers["trace.unattributed_s"] = traced_wall - phases
        layers["trace.overhead_s"] = overhead
        trace_dir = os.path.join(BUILD, "traces")
        os.makedirs(trace_dir, exist_ok=True)
        trace_path = os.path.join(trace_dir, f"{a.workload}-seed{a.seed}.json")
        with open(trace_path, "w") as f:
            json.dump({"workload": a.workload, "seed": a.seed, "digest": manifest["digest"],
                       "spans": spans, "self_time_s": self_s}, f)
        result.update({"per_layer": layers, "self_time_s": self_s,
                       "trace_file": os.path.relpath(trace_path, ROOT),
                       "tracing_overhead_s": overhead,
                       "traced_wall_s": traced_wall,
                       "unattributed_s": traced_wall - phases})
        metrics = {m["name"]: {"value": layers[m["name"]], "unit": m["unit"]}
                   for m in spec["per_layer"]}
        log("self time (s): " + "  ".join(f"{k}={v:.3f}" for k, v in self_s.items()))
        log(f"traced wall {traced_wall:.3f}s = call+plan+exec {phases:.3f}s "
            f"+ unattributed {traced_wall - phases:.3f}s; tracing overhead "
            f"{overhead:+.3f}s (untraced wall {e2e['wall_s'][0]:.3f}s)")
        log(f"trace written to {result['trace_file']}")
    else:
        metrics = {m["name"]: {"value": e2e[m["name"]][0], "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    res_dir = os.path.join(BUILD, "results")
    os.makedirs(res_dir, exist_ok=True)
    with open(os.path.join(res_dir, f"{a.workload}-seed{a.seed}-trace{a.trace}.json"), "w") as f:
        json.dump(result, f, indent=1)

    print(f"workload {a.workload} seed {a.seed} input digest {manifest['digest'][:16]} "
          f"rows {rows} tasks {attempted} passes {len(record['passes'])}")
    print("  ".join(f"{k}={v:.4g} {u}" for k, (v, u) in e2e.items()))
    for name, why in failures.items():
        print(f"FAILED {name}: {why}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


def _terminate(signum, _frame):
    raise BenchError(f"stopped by signal {signum}")


if __name__ == "__main__":
    signal.signal(signal.SIGTERM, _terminate)
    signal.signal(signal.SIGINT, _terminate)
    try:
        main()
    except (BenchError, subprocess.TimeoutExpired, OSError) as ex:
        log(f"error: {ex}")
        sys.exit(2)
