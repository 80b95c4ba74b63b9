#!/usr/bin/env python3
"""The engine's benchmark: one workload of registry entries, end to end
and layer by layer.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> \
        --trace <0|1>

Run from the root of a source checkout. The first run builds the engine
and this harness with sbt and generates the fixture tables; both are
kept under perfbench/.work and rebuilt only when their sources change.

Each run starts one JVM (`perfbench.Harness`) on one `local[nproc]`
session. It sets up several times and keeps the last session, runs one
check pass whose outputs are compared with the DuckDB oracles, then
times whole passes over the workload's entries in an order drawn from
the seed. The number of passes is --seconds divided by the workload's
nominal pass length, so a run does the same work however fast it goes.
With --trace 0 the last stdout line reports the end-to-end metrics;
with --trace 1 it reports the per-layer metrics of a traced run.
Workloads, their entries and the excluded families are defined in
perfbench/workloads.json.
"""
import argparse
import fcntl
import glob
import hashlib
import importlib.util
import json
import math
import os
import shutil
import statistics
import subprocess
import sys

sys.dont_write_bytecode = True

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, ".work")
HEAP = "3g"
SETUPS = 3
RUN_TIMEOUT_S = 170
FIXTURE_SEED = 42
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def load_module(name, path):
    spec = importlib.util.spec_from_file_location(name, path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


# ---- build ------------------------------------------------------------

def source_stamp():
    """Hash of everything the build reads, so edits trigger a rebuild."""
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names]
    h = hashlib.sha256()
    for f in sorted(files):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def ensure_build(stamp):
    target = os.path.join(BENCH, "target")
    cp_file = os.path.join(target, "classpath.txt")
    stamp_file = os.path.join(WORK, "build.stamp")
    if os.path.exists(cp_file) and read(stamp_file) == stamp:
        return
    log("building the engine and the harness with sbt")
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts += ["-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}"]
    env["SBT_OPTS"] = " ".join(opts)
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
        cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=subprocess.STDOUT,
        text=True, timeout=800)
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-4000:])
        raise SystemExit("perfbench: the sbt build failed")
    with open(stamp_file, "w") as fh:
        fh.write(stamp)


def java_command(main_class, args, tmpdir):
    target = os.path.join(BENCH, "target")
    cp = ":".join(read(os.path.join(target, "classpath.txt")).split())
    # The engine build's JVM options (module opens, code cache, UTC),
    # with this benchmark's heap size in place of the build's.
    opts = [o for o in read(os.path.join(target, "java-options.txt")).split()
            if not o.startswith("-Xmx")]
    return (["java"] + opts +
            [f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmpdir}",
             f"-Dspark.hadoop.hadoop.tmp.dir={tmpdir}",
             "-cp", cp, main_class] + [str(a) for a in args])


# ---- fixtures ---------------------------------------------------------

def ensure_fixture(scale, scale_up):
    """The generated base fixture, optionally scaled up k-fold by the
    engine's own `graft.tools.ScaleUp`; both are made once per checkout.
    """
    base = os.path.join(WORK, "fixture", f"base-{scale}-{FIXTURE_SEED}")
    if not os.path.exists(os.path.join(base, "_DONE")):
        log(f"generating the fixture at scale {scale}")
        shutil.rmtree(base, ignore_errors=True)
        gen = load_module("gen_fixture", os.path.join(BENCH, "gen_fixture.py"))
        gen.generate(base, scale, FIXTURE_SEED)
        touch(os.path.join(base, "_DONE"))
    if scale_up == 1:
        return base
    scaled = f"{base}-x{scale_up}"
    if not os.path.exists(os.path.join(scaled, "_DONE")):
        log(f"scaling the fixture up {scale_up}x")
        shutil.rmtree(scaled, ignore_errors=True)
        tmp = os.path.join(WORK, "tmp-scaleup")
        os.makedirs(tmp, exist_ok=True)
        env = dict(os.environ, SPARK_GRAFT_CPUS=str(cores()))
        subprocess.run(
            java_command("graft.tools.ScaleUp", [base, scaled, scale_up], tmp),
            env=env, check=True, stdout=subprocess.DEVNULL,
            stderr=subprocess.DEVNULL, timeout=600)
        shutil.rmtree(tmp, ignore_errors=True)
        touch(os.path.join(scaled, "_DONE"))
    return scaled


# ---- output check -----------------------------------------------------

def check_outputs(fixture, result, run_dir):
    """Compares every entry's check-pass output with its DuckDB oracle,
    the same two comparisons as tools/oracle_check.py. Returns
    ({entry: problem}, [entries without an oracle])."""
    import duckdb
    import pandas as pd
    oc = load_module("oracle_check", os.path.join(ROOT, "tools", "oracle_check.py"))
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        path = os.path.join(fixture, f"{t}.parquet")
        src = os.path.join(path, "*.parquet") if os.path.isdir(path) else path
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{src}')")
    problems = dict(result["check_errors"])
    oracles = result["oracle_sql"]
    unchecked = [n for n in result["entries"] if n not in oracles]
    for name, sql in sorted(oracles.items()):
        if name in problems:
            continue
        files = sorted(glob.glob(os.path.join(run_dir, "check", name, "*.parquet")))
        if not files:
            problems[name] = "no output"
            continue
        got = con.execute(f"SELECT * FROM read_parquet({files!r})").fetchall()
        gcols = [d[0] for d in con.description]
        try:
            want = con.execute(sql).fetchall()
            wcols = [d[0] for d in con.description]
        except Exception as e:  # an oracle that cannot run is a failure
            problems[name] = f"oracle sql error: {e}"
            continue
        gc, gr = oc.canon(got, gcols)
        wc, wr = oc.canon(want, wcols)
        if gc != wc:
            problems[name] = f"columns {gc} != {wc}"
            continue
        if len(gr) != len(wr):
            problems[name] = f"rows {len(gr)} != {len(wr)}"
            continue
        cells = [oc.cmp_cell(a, b) for rg, rw in zip(gr, wr)
                 for a, b in zip(rg, rw)]
        if any(c != "eq" for c in cells):
            problems[name] = (f"{cells.count('diff')} diff / "
                              f"{cells.count('near')} near cells")
            continue
        got_df = pd.concat([pd.read_parquet(f) for f in files])
        strict = oc.frame_compare(name, got_df, con.execute(sql).fetchdf())
        if strict:
            problems[name] = "; ".join(strict)
    con.close()
    return problems, unchecked


# ---- metrics ----------------------------------------------------------

def percentile(values, p):
    """Linear-interpolated percentile, p in [0, 100]."""
    xs = sorted(values)
    k = (len(xs) - 1) * p / 100.0
    lo, hi = math.floor(k), math.ceil(k)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def end_to_end(result, problems):
    """The end-to-end metrics. Rates are medians over the timed passes and
    the median latency is over each entry's median, so one pass that a
    GC, the warming JIT or a neighbour slowed does not move them."""
    timings = result["timings"]
    bad = set(problems)
    failed = sum(1 for t in timings if t["error"] or t["name"] in bad)
    attempted = len(timings)
    walls = [t["wall_s"] for t in timings]
    by_entry = {}
    for t in timings:
        by_entry.setdefault(t["name"], []).append(t["wall_s"])
    per_pass = len(result["entries"])
    good = [sum(1 for t in timings if t["pass"] == p + 1 and not t["error"]
                and t["name"] not in bad) for p in range(len(result["pass_s"]))]
    # A run holds 8-15 entry executions, too few for any percentile above
    # the median to have ten samples beyond it; the tail is p90, printed
    # with its sample count.
    tail_p = 90.0
    metrics = {
        "throughput_qps": (statistics.median(
            n / s for n, s in zip(good, result["pass_s"])), "1/s"),
        "latency_p50_s": (statistics.median(
            statistics.median(v) for v in by_entry.values()), "s"),
        "latency_tail_s": (percentile(walls, tail_p), "s"),
        "cpu_s_per_query": (statistics.median(result["pass_cpu_s"]) / per_pass,
                            "s"),
        "setup_s": (statistics.median(result["setup_s"]) +
                    result["check_pass_s"], "s"),
        "heap_retained_mb": (result["heap_retained_mb"], "MB"),
    }
    extra = {"failed_frac": failed / attempted, "tail_percentile": tail_p,
             "entry_median_s": {k: statistics.median(v) for k, v in by_entry.items()},
             "tail_samples": attempted}
    return attempted, failed, metrics, extra


def per_layer(result):
    """Per-layer metrics of a traced run, per timed pass."""
    passes = int(result["passes"])
    timings = result["timings"]
    tr = result["trace"]
    build = sum(t["build_s"] for t in timings)
    plan = sum(t["plan_s"] for t in timings)
    action = sum(t["wall_s"] for t in timings) - build - plan
    timed = sum(result["pass_s"])
    m = {
        "run.pass_s": (timed / passes, "s"),
        "build.s": (build / passes, "s"),
        "build.share": (build / timed, "frac"),
        "plan.s": (plan / passes, "s"),
        "exec.s": (action / passes, "s"),
        "exec.core_util": (tr["exec.task_run_s"] /
                           (action * int(result["cores"])), "frac"),
        "exec.useful_task_frac": (tr["exec.useful_tasks"] /
                                  max(1, tr["exec.tasks"]), "frac"),
        "jvm.gc_s": (result["gc_s"] / passes, "s"),
        "jvm.heap_peak_mb": (result["heap_peak_mb"], "MB"),
    }
    for k, v in list(tr.items()) + list(result["snap"].items()):
        if k in ("exec.useful_tasks", "snap.live_mb", "snap.files_written_min_pass"):
            continue
        unit = "s" if k.endswith("_s") else "MB" if "_mb" in k else "count"
        m[k] = (v / passes, unit)
    # The action's query wraps an analyzed frame; the frame's own
    # analysis ran inside build and is read from its tracker.
    m["plan.analysis_s"] = ((tr["plan.analysis_s"] +
                             sum(t["analysis_s"] for t in timings)) / passes, "s")
    m["snap.live_mb"] = (result["snap"]["snap.live_mb"], "MB")
    m["snap.files_written_min_pass"] = (
        result["snap"]["snap.files_written_min_pass"], "count")
    for k, v in result["fn"].items():
        m[k] = (v, "ns")
    return m


# ---- run context ------------------------------------------------------

def cores():
    return len(os.sched_getaffinity(0))


def cpu_ticks():
    with open("/proc/stat") as fh:
        vals = [int(x) for x in fh.readline().split()[1:]]
    return sum(vals[:8]), vals[7]  # total, steal


def git_commit():
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                             capture_output=True, text=True, timeout=10)
        return out.stdout.strip() if out.returncode == 0 else "none"
    except (OSError, subprocess.SubprocessError):
        return "none"


# ---- main -------------------------------------------------------------

def read(path):
    try:
        with open(path) as fh:
            return fh.read()
    except OSError:
        return ""


def touch(path):
    with open(path, "w"):
        pass


def run_harness(spec, fixture, workload, seed, passes, trace, run_dir):
    os.makedirs(os.path.join(run_dir, "tmp"), exist_ok=True)
    cmd = java_command("perfbench.Harness", [
        run_dir, fixture, workload, seed, passes, SETUPS, trace, cores(),
        ",".join(spec["entries"])], os.path.join(run_dir, "tmp"))
    with open(os.path.join(run_dir, "jvm.log"), "w") as logf:
        proc = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise SystemExit(f"perfbench: the harness ran over {RUN_TIMEOUT_S} s")
    if code != 0 or not os.path.exists(os.path.join(run_dir, "result.json")):
        sys.stderr.write(read(os.path.join(run_dir, "jvm.log"))[-4000:])
        raise SystemExit(f"perfbench: the harness exited with code {code}")
    with open(os.path.join(run_dir, "result.json")) as fh:
        return json.load(fh)


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        raise SystemExit("perfbench: no engine sources next to perfbench/ "
                         "(run from the root of a source checkout)")
    with open(os.path.join(BENCH, "workloads.json")) as fh:
        spec = json.load(fh)["workloads"].get(a.workload)
    if spec is None:
        raise SystemExit(f"perfbench: unknown workload {a.workload}")

    os.makedirs(WORK, exist_ok=True)
    stamp = source_stamp()
    with open(os.path.join(WORK, "lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        ensure_build(stamp)
        fixture = ensure_fixture(spec["scale"], spec["scale_up"])

    passes = max(1, round(a.seconds / spec["nominal_pass_s"]))
    run_dir = os.path.join(WORK, "runs", f"{a.workload}-{a.seed}-{a.trace}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    load0 = os.getloadavg()[0]
    total0, steal0 = cpu_ticks()
    try:
        result = run_harness(spec, fixture, a.workload, a.seed, passes,
                             a.trace, run_dir)
        total1, steal1 = cpu_ticks()
        problems, unchecked = check_outputs(fixture, result, run_dir)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    context = {
        "nproc": cores(), "loadavg_start": load0,
        "loadavg_end": os.getloadavg()[0],
        "steal_pct": 100.0 * (steal1 - steal0) / max(1, total1 - total0),
        "heap": HEAP, "git_commit": git_commit(), "source_stamp": stamp,
        "seed": a.seed, "passes": passes, "setups": SETUPS,
        "fixture": os.path.relpath(fixture, ROOT),
    }
    attempted, failed, e2e, extra = end_to_end(result, problems)
    print("context " + json.dumps(context, sort_keys=True))
    for name, problem in sorted(problems.items()):
        print(f"FAILED {name}: {problem}")
    for name in unchecked:
        print(f"UNCHECKED {name}: no oracle")
    print(f"failed_frac = {extra['failed_frac']:.4f} ({failed} of {attempted})")
    n = extra["tail_samples"]
    print(f"latency_tail_s is p{extra['tail_percentile']:.0f} of {n} samples "
          f"({n * (100 - extra['tail_percentile']) / 100:.1f} beyond it)")
    for name, (value, unit) in e2e.items():
        print(f"{name} = {value:.6g} {unit}")

    results_dir = os.path.join(WORK, "results")
    os.makedirs(results_dir, exist_ok=True)
    record = {"context": context, "metrics": {k: v for k, (v, _) in e2e.items()},
              "problems": problems, "setup_s": result["setup_s"],
              "check_pass_s": result["check_pass_s"], "pass_s": result["pass_s"],
              "entry_median_s": extra["entry_median_s"]}
    if a.trace:
        layer = per_layer(result)
        for name, (value, unit) in layer.items():
            print(f"{name} = {value:.6g} {unit}")
        # Tracing overhead: this traced run's end-to-end figures against
        # the median of the untraced runs of the workload in this checkout.
        base = []
        for f in glob.glob(os.path.join(results_dir, f"{a.workload}-trace0-*.json")):
            with open(f) as fh:
                r = json.load(fh)
            if (r["context"]["source_stamp"], r["context"]["passes"]) == (stamp, passes):
                base.append(r["metrics"])
        for name, (value, unit) in e2e.items():
            if base:
                ref = statistics.median(b[name] for b in base)
                print(f"trace overhead {name} = {value - ref:+.6g} {unit} "
                      f"({len(base)} untraced runs)")
            else:
                print(f"trace overhead {name}: no untraced run in this checkout")
        out_metrics = layer
    else:
        out_metrics = e2e
    with open(os.path.join(results_dir, f"{a.workload}-trace{a.trace}-{a.seed}.json"),
              "w") as fh:
        json.dump(record, fh)
    print(json.dumps({
        "correct": not problems and failed == 0,
        "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in out_metrics.items()},
    }))


if __name__ == "__main__":
    main()
