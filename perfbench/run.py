#!/usr/bin/env python3
"""Benchmark runner for the graft engine.

Run from the root of a checkout:

    python3 perfbench/run.py --workload bi_dashboard --seed 1 --seconds 20 --trace 0

(`--workload all` runs every workload in turn, each with its report and
result line.)
Builds the engine and the harness from source with sbt when the sources
changed since the last build (build output goes under `.bench_build/`
and the sbt `target/` directories), starts one JVM running
`perfbench.Harness` at local[4], and turns the samples it writes into
metrics. The last line of standard output is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With `--trace 0` the metrics are the end-to-end metrics of
`BENCHMARK.json`; with `--trace 1` they are its per-layer metrics, taken
from the traced rounds, and the span file is left in the work directory.
Exits non-zero without a result line when the program's sources are
missing or the harness does not finish.
"""
import argparse
import hashlib
import json
import math
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
WORKLOADS = ("bi_dashboard", "etl_load")
NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
# whole-run budget: the harness is killed after this many seconds
RUN_LIMIT_S = 170.0
HEAP = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
# per-layer metrics the harness measures per operation; the rest are
# derived here (see per_layer())
HARNESS_LAYERS = (
    "plan.analysis_ms", "plan.optimization_ms", "plan.planning_ms",
    "sched.jobs_per_op", "sched.stages_per_op", "sched.tasks_per_op",
    "sched.driver_gap_ms", "exec.task_run_s", "exec.core_util", "exec.gc_s",
    "exec.single_task_stage_s", "shuffle.write_mb", "shuffle.read_mb",
    "shuffle.spill_mb", "shuffle.fetch_wait_ms", "ckpt.block_mb",
    "janitor_ms", "etl.stage_write_s", "etl.warehouse_write_s",
    "etl.date_upsert_s", "etl.validate_s",
    "etl.bytes_written_per_input_byte", "etl.files_written",
)


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ---------------------------------------------------------------- metrics

def tail_percentile(n):
    """Highest percentile of n samples with at least ten samples beyond
    it, from the usual ladder; None when even the median has fewer."""
    best = None
    for p in (50, 75, 90, 95, 99, 99.9):
        if n * (100 - p) / 100 >= 10:
            best = p
    return best


def percentile(values, p):
    """Nearest-rank percentile."""
    s = sorted(values)
    return s[max(0, math.ceil(p / 100 * len(s)) - 1)]


def outcome(ops):
    """attempted, failed and the failures (name, error) of a run."""
    failed = [(r["name"], r["error"]) for r in ops if r["error"]]
    return len(ops), len(failed), failed


def by_name(ops):
    groups = {}
    for r in ops:
        groups.setdefault(r["name"], []).append(r)
    return groups


def per_layer(run, units):
    """Layer figures of the traced warm operations, averaged per
    operation name and then across names, so every query weighs alike.
    Adds the tracing overhead (per name, mean traced minus mean untraced
    warm time, averaged across names), the JVM's peak resident set and
    the time of the cold round."""
    warm = [r for r in run["ops"] if not r["cold"] and not r["error"]]
    traced = by_name(r for r in warm if r["traced"])
    plain = by_name(r for r in warm if not r["traced"])
    out = {}
    for name in HARNESS_LAYERS:
        per_op = [statistics.fmean(r["layers"].get(name, 0.0) for r in rs)
                  for rs in traced.values()]
        out[name] = (statistics.fmean(per_op) if per_op else 0.0, units[name])
    both = [n for n in traced if n in plain]
    overhead = [statistics.fmean(r["ms"] for r in traced[n])
                - statistics.fmean(r["ms"] for r in plain[n]) for n in both]
    out["trace.overhead_ms"] = (statistics.fmean(overhead) if overhead else 0.0,
                                units["trace.overhead_ms"])
    out["peak_rss_mb"] = (run["peak_rss_mb"], units["peak_rss_mb"])
    out["cold_pass_s"] = (sum(r["ms"] for r in run["ops"] if r["cold"]) / 1e3,
                          units["cold_pass_s"])
    return out


def end_to_end(run):
    """The end-to-end metrics of one untraced run. Failed operations
    count in the error rate and are left out of every latency sample.

    Latency is gated as the geometric mean over operations of each
    operation's mean warm time. The queries of bi_dashboard differ in
    cost in steps, so a median of their times jumps between neighbouring
    queries from run to run (9% quartile spread over five seeds, against
    1.7% for the geometric mean), and the geometric mean weighs every
    query alike. Means, not best-of, because the noise of a shared host
    comes in bursts that can cover a whole round. `ops_per_s` divides
    the completed warm operations by their time plus the janitor's."""
    warm = [r for r in run["ops"] if not r["cold"]]
    ok = by_name(r for r in warm if not r["error"])
    wall_ms = sum(r["ms"] + r["janitor_ms"] for r in warm)
    completed = sum(len(rs) for rs in ok.values())
    return {
        "setup_s": (statistics.median(run["setup_s"]), "s"),
        "op_geomean_ms": (statistics.geometric_mean(
            statistics.fmean(r["ms"] for r in rs) for rs in ok.values())
            if ok else math.nan, "ms"),
        "ops_per_s": (completed / (wall_ms / 1e3) if completed else math.nan,
                      "1/s"),
    }


def report(run, args, workload, metrics, layer_metrics):
    """Human-readable lines before the result line."""
    ops = run["ops"]
    attempted, failed, failures = outcome(ops)
    ok_ms = [r["ms"] for r in ops if not r["cold"] and not r["error"]]
    host = run["host"]
    print(f"workload {workload}  seed {args.seed}  seconds {args.seconds}"
          f"  trace {args.trace}")
    print("host " + "  ".join(f"{k} {v}" for k, v in sorted(host.items())))
    print(f"operations attempted {attempted}  failed {failed}"
          f"  error_rate {failed / attempted:.4f}")
    for name, err in failures:
        print(f"FAILED {name}: {err}")
    if ok_ms:
        line = (f"op latency over n={len(ok_ms)} warm samples:"
                f" p50 {statistics.median(ok_ms):.1f} ms")
        p = tail_percentile(len(ok_ms))
        if p is not None and p > 50:
            line += f", p{p:g} {percentile(ok_ms, p):.1f} ms"
        print(line + " (highest percentile with >=10 samples beyond: "
              + (f"p{p:g})" if p is not None else "none)"))
    if workload == "etl_load" and ok_ms:
        rows = run["source_rows"]
        print(f"rows_per_s {rows / (statistics.median(ok_ms) / 1e3):.1f} rows/s"
              f" ({rows} source rows per load)")
    for name, (value, unit) in sorted((metrics or layer_metrics).items()):
        print(f"{name} {value:.6g} {unit}")
    if layer_metrics:
        traced = [r["ms"] for r in ops if r["traced"] and not r["error"]]
        plain = [r["ms"] for r in ops
                 if not r["traced"] and not r["cold"] and not r["error"]]
        if traced and plain:
            print(f"tracing overhead {layer_metrics['trace.overhead_ms'][0]:.1f}"
                  f" ms/op; warm means: traced {statistics.fmean(traced):.1f}"
                  f" ms/op over {len(traced)}, untraced"
                  f" {statistics.fmean(plain):.1f} ms/op over {len(plain)}")


# ------------------------------------------------------------------ build

def source_files(root):
    """Files whose content decides the build."""
    tops = [os.path.join(root, "build.sbt"), os.path.join(root, "project"),
            os.path.join(root, "src", "main"),
            os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project"),
            os.path.join(BENCH, "src", "main")]
    files = []
    for top in tops:
        if os.path.isfile(top):
            files.append(top)
            continue
        for d, dirs, names in os.walk(top):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, n) for n in names
                      if n.endswith((".scala", ".java", ".sbt", ".properties"))]
    return sorted(files)


def fingerprint(root):
    h = hashlib.sha256()
    for f in source_files(root):
        h.update(os.path.relpath(f, root).encode() + b"\0")
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(root, build_dir):
    """Compile with sbt when the sources changed; return the classpath."""
    stamp = os.path.join(build_dir, "build.stamp")
    cp_file = os.path.join(build_dir, "classpath.txt")
    fp = fingerprint(root)
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as fh:
            if fh.read().strip() == fp:
                with open(cp_file) as fh:
                    return fh.read().strip()
    sbt = shutil.which("sbt")
    if sbt is None:
        raise SystemExit("perfbench: sbt not found on PATH")
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g", "-XX:-UsePerfData"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    log("building engine and harness with sbt")
    t0 = time.time()
    proc = subprocess.run(
        [sbt, "--batch", "-Dsbt.log.noformat=true",
         "export perfbench/Runtime/fullClasspath"],
        cwd=BENCH, env=env, stdin=subprocess.DEVNULL, capture_output=True,
        text=True, timeout=840)
    lines = [l for l in proc.stdout.splitlines()
             if l and not l.startswith("[") and os.pathsep in l]
    if proc.returncode != 0 or not lines:
        sys.stderr.write(proc.stdout[-4000:] + proc.stderr[-4000:])
        raise SystemExit("perfbench: sbt build failed")
    os.makedirs(build_dir, exist_ok=True)
    with open(cp_file, "w") as fh:
        fh.write(lines[-1])
    with open(stamp, "w") as fh:
        fh.write(fp)
    log(f"built in {time.time() - t0:.0f} s")
    return lines[-1]


# -------------------------------------------------------------------- run

def run_harness(classpath, args, workload, work):
    out = os.path.join(work, "samples.json")
    java = shutil.which("java")
    if os.environ.get("JAVA_HOME"):
        java = os.path.join(os.environ["JAVA_HOME"], "bin", "java")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = [java]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += [f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            "-Dlog4j2.configurationFile=" + os.path.join(BENCH, "log4j2.properties"),
            "-cp", classpath, "perfbench.Harness", workload,
            str(args.seed), str(args.seconds), str(args.trace),
            os.path.join(BENCH, "data"), work, out,
            os.path.join(BENCH, "digests.json")]
    with open(os.path.join(work, "harness.log"), "w") as logf:
        proc = subprocess.Popen(cmd, cwd=work, stdout=logf, stderr=logf,
                                stdin=subprocess.DEVNULL,
                                start_new_session=True)
        try:
            code = proc.wait(timeout=RUN_LIMIT_S)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise SystemExit(f"perfbench: harness exceeded {RUN_LIMIT_S:.0f} s")
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    if code != 0 or not os.path.exists(out):
        with open(os.path.join(work, "harness.log")) as fh:
            sys.stderr.write(fh.read()[-4000:])
        raise SystemExit(f"perfbench: harness exited with {code}")
    with open(out) as fh:
        return json.load(fh)


def load_spec():
    with open(os.path.join(BENCH, "..", "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


def measure(root, classpath, args, workload):
    """Runs one workload and prints its report and result line."""
    e2e_units, layer_units = load_spec()
    work = os.path.join(root, ".bench_build", "perfbench", "work-" + workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    run = run_harness(classpath, args, workload, work)

    metrics = layer_metrics = None
    if args.trace:
        layer_metrics = per_layer(run, layer_units)
        chosen, units = layer_metrics, layer_units
    else:
        metrics = end_to_end(run)
        chosen, units = metrics, e2e_units
    if set(chosen) != set(units) or not all(NAME_RE.match(n) for n in chosen):
        raise SystemExit("perfbench: metric names disagree with BENCHMARK.json")
    report(run, args, workload, metrics, layer_metrics)
    attempted, failed, _ = outcome(run["ops"])
    # a metric with no sample (every operation failed) reads 0 and the
    # run is marked incorrect
    if any(not math.isfinite(v) for v, _ in chosen.values()):
        failed = max(failed, 1)
    values = {n: {"value": v if math.isfinite(v) else 0.0, "unit": u}
              for n, (v, u) in chosen.items()}
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": values}), flush=True)


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ("all",),
                    help="one workload, or all of them in turn")
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "build.sbt"))
            and os.path.isdir(os.path.join(root, "src", "main", "scala"))):
        raise SystemExit("perfbench: run from the root of a graft checkout"
                         " (build.sbt and src/main/scala not found)")
    classpath = build(root, os.path.join(root, ".bench_build", "perfbench"))
    for workload in WORKLOADS if args.workload == "all" else (args.workload,):
        measure(root, classpath, args, workload)


if __name__ == "__main__":
    main()
