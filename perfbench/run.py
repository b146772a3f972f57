#!/usr/bin/env python3
"""graft benchmark: three closed-loop workloads over the sf0.1 testdata.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the root of a checkout. The first run builds graft and the
benchmark's JVM harness (``perfbench/scala``) with sbt; later runs reuse the
build while the sources are unchanged. The last line of standard output is
one JSON object: ``correct``, ``attempted``, ``failed`` and ``metrics`` (the
end-to-end metrics, or with ``--trace 1`` the per-layer ones). A fuller
record of the run, stamped with cores, heap and machine load, goes to
``.bench_build/artifacts/``; ``perfbench/compare.py`` compares two of them.

The seed only permutes the order of the units within each pass; the
inputs are the read-only testdata (``$GRAFT_TESTDATA``, default
``~/testdata``, laid out as in TESTDATA.md). See perfbench/README.md.
"""
import argparse
import fcntl
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, BENCH)
import outcheck  # noqa: E402

# Each unit is a solo query (by its number) or a SparkEntry.sharedPairs group.
# BENCHMARK.json lists etl_load and curation_loops; text_vector_kernels runs
# by hand (see README.md for why).
WORKLOADS = {
    # the reference chain's stages (clean, transform, union, star, load),
    # every output written as parquet and checked by the DuckDB oracle
    "etl_load": {"units": ["q05", "q08", "q14", "q15", "q46"],
                 "sink": "parquet", "pass_s": 2.4},
    # an iterative curation operator that runs its loop, probes and
    # checkpoints while the DataFrame is being built
    "curation_loops": {"units": ["q62"], "sink": "noop", "pass_s": 1.7},
    # per-row codegen kernels (graft.plans, functions.TextFns/Vectors)
    "text_vector_kernels": {"units": ["q26", "q27", "q28", "q31", "q32", "q123"],
                            "sink": "noop", "pass_s": 3.0},
}
SETUPS = 3
DEADLINE_S = 170.0

END_TO_END = [("wall_s", "s"), ("query_p50_s", "s"), ("query_tail_s", "s"),
              ("setup_s", "s"), ("peak_heap_mb", "MB")]
PER_LAYER = [
    ("sessions.start_s", "s"), ("sessions.cold_start_s", "s"), ("sessions.warm_s", "s"),
    ("sources.jobs", "count"), ("sources.job_s", "s"),
    ("operators.construct_s", "s"), ("operators.construct_jobs", "count"),
    ("operators.probe_jobs", "count"),
    ("caches.checkpoint_jobs", "count"), ("caches.block_mb", "MB"), ("caches.release_s", "s"),
    ("spark.plan_s", "s"), ("spark.exec_s", "s"), ("spark.exec_jobs", "count"),
    ("spark.stages", "count"), ("spark.stages_skipped_frac", "frac"),
    ("spark.tasks", "count"), ("spark.tasks_failed", "count"),
    ("spark.task_run_s", "s"), ("spark.task_cpu_s", "s"), ("spark.gc_s", "s"),
    ("spark.core_busy_frac", "frac"), ("spark.shuffle_read_mb", "MB"),
    ("spark.shuffle_write_mb", "MB"), ("spark.spill_mb", "MB"), ("spark.output_mb", "MB"),
    ("driver.gap_s", "s"),
    ("trace.traced_wall_s", "s"), ("trace.untraced_wall_s", "s"),
    ("trace.overhead_frac", "frac"), ("layers.within_5pct_frac", "frac"),
]


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


# ---------------------------------------------------------------- machine

def load_avg():
    try:
        return float(open("/proc/loadavg").read().split()[0])
    except OSError:
        return -1.0


def cpu_times():
    """(busy, stolen) CPU seconds of the whole machine since boot, all
    cores. Stolen time is time the hypervisor gave to other guests."""
    try:
        f = [int(x) for x in open("/proc/stat").readline().split()[1:9]]
    except OSError:
        return 0.0, 0.0
    tick = os.sysconf("SC_CLK_TCK")
    user, nice, system, _idle, _iowait, irq, softirq, steal = f + [0] * (8 - len(f))
    return (user + nice + system + irq + softirq) / tick, steal / tick


def heap_arg():
    """The tier-1 test heap: half the machine's memory, clamped to 2-8 GB."""
    try:
        kb = next(int(l.split()[1]) for l in open("/proc/meminfo") if l.startswith("MemTotal:"))
        return f"-Xmx{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration):
        return "-Xmx2g"


# ------------------------------------------------------------------ build

def source_hash(root):
    h = hashlib.sha256()
    tops = ["build.sbt", "project/build.properties", "src/main", "perfbench/scala"]
    for top in tops:
        p = os.path.join(root, top)
        files = [p] if os.path.isfile(p) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(p) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, root).encode())
            h.update(open(f, "rb").read())
    return h.hexdigest()


def build(root, out):
    """Compiles graft plus the harness with sbt (offline) unless the stamp
    says the sources are unchanged; returns (classpath, java options)."""
    stamp = os.path.join(out, "build.json")
    key = source_hash(root)
    if os.path.exists(stamp):
        s = json.load(open(stamp))
        if s["key"] == key and os.path.isdir(s["classpath"].split(os.pathsep)[0]):
            return s["classpath"], s["java_opts"]
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SBT_OPTS" not in env:
        repos = os.path.expanduser("~/.sbt/repositories")
        env["SBT_OPTS"] = "-Dsbt.offline=true -Xmx2g" + (
            f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
            if os.path.exists(repos) else "")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true",
           'set Compile / unmanagedSourceDirectories += baseDirectory.value / "perfbench" / "scala"',
           "compile", "export Runtime/fullClasspath", "print run/javaOptions"]
    t0 = time.time()
    p = subprocess.run(cmd, cwd=root, env=env, capture_output=True, text=True,
                       stdin=subprocess.DEVNULL, timeout=800)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        fail("build failed")
    lines = p.stdout.splitlines()
    classes = os.path.join("target", "scala-2.13", "classes")
    cp = [l for l in lines if not l.startswith("[") and classes in l]
    opts = [l[2:].strip() for l in lines if l.startswith("* ")]
    opts = [o for o in opts if not o.startswith("-Xmx")]
    if not cp:
        fail("build printed no classpath")
    json.dump({"key": key, "classpath": cp[-1].strip(), "java_opts": opts,
               "build_s": time.time() - t0}, open(stamp, "w"))
    return cp[-1].strip(), opts


# -------------------------------------------------------------------- run

def run_jvm(classpath, opts, kv, workdir, timeout):
    """Runs the harness; returns its record and the CPU seconds it used."""
    tmp = os.path.join(workdir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java"] + opts + [heap_arg(), f"-Djava.io.tmpdir={tmp}",
           f"-Dspark.local.dir={tmp}", "-cp", classpath, "perfbench.PerfBench"]
           + [f"{k}={v}" for k, v in kv.items()])
    log = os.path.join(workdir, "jvm.log")
    with open(log, "w") as lf:
        proc = subprocess.Popen(cmd, cwd=workdir, stdout=lf, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        timer = threading.Timer(timeout, proc.kill)
        timer.start()

        def stop(signum, _frame):  # never leave the JVM behind
            proc.kill()
            os.waitpid(proc.pid, 0)
            sys.exit(128 + signum)
        handlers = {s: signal.signal(s, stop) for s in (signal.SIGTERM, signal.SIGINT)}
        try:
            _, status, ru = os.wait4(proc.pid, 0)
        finally:
            timer.cancel()
            for s, h in handlers.items():
                signal.signal(s, h)
        proc.returncode = os.waitstatus_to_exitcode(status)
    if proc.returncode != 0 or not os.path.exists(kv["result"]):
        sys.stderr.write("".join(open(log).readlines()[-40:]))
        fail(f"harness exited with {proc.returncode}")
    return json.load(open(kv["result"])), ru.ru_utime + ru.ru_stime


def median(xs):
    return statistics.median(xs) if xs else float("nan")


def slowest_unit(runs):
    """The tail latency: the median latency of the slowest unit. A run has
    3-15 latency samples, too few for a percentile with ten samples
    beyond it to sit above the median."""
    by_unit = {}
    for u in runs:
        by_unit.setdefault(u["unit"], []).append(u["wall_s"])
    return max((median(v) for v in by_unit.values()), default=float("nan"))


def summarise(rec, bad_outputs):
    """Turns the harness record into metrics, failure counts and the
    per-unit layer-sum check. A unit fails if it raised or if one of its
    outputs failed the output check."""
    bad_units = {u for u, outs in rec["outputs"].items() if set(outs) & bad_outputs}
    passes = rec["passes"]
    runs = [u for p in passes for u in p["units"]]
    failed = sum(1 for u in runs if not u["ok"] or u["unit"] in bad_units)
    good = [u for u in runs if u["ok"] and u["unit"] not in bad_units]
    lat = [u["wall_s"] for u in good]
    setups = rec["setups"]
    setup = [s["start_s"] + s["warm_s"] for s in setups]
    setup[0] += rec["jvm_boot_s"]
    e2e = {
        "wall_s": median([p["wall_s"] for p in passes]),
        "query_p50_s": median(lat),
        "query_tail_s": slowest_unit(good),
        "setup_s": median(setup),
        "peak_heap_mb": rec["peak_heap_mb"],
    }
    gaps = []
    for u in runs:
        parts = u["construct_s"] + u["plan_s"] + u["exec_s"] + u["release_s"]
        gap = abs(u["wall_s"] - parts) / u["wall_s"] if u["wall_s"] > 0 else 0.0
        if gap > 0.05:
            gaps.append({"unit": u["unit"], "wall_s": u["wall_s"], "layers_s": parts})
    traced = [p for p in passes if p["traced"]]
    untraced = [p for p in passes if not p["traced"]]
    layer = {}
    if traced:
        def per_pass(f):
            return median([f(p) for p in traced])
        for k in traced[0]["layers"]:
            layer[k] = per_pass(lambda p: p["layers"][k])
        for name, key in [("operators.construct_s", "construct_s"), ("spark.plan_s", "plan_s"),
                          ("spark.exec_s", "exec_s"), ("caches.release_s", "release_s")]:
            layer[name] = per_pass(lambda p: sum(u[key] for u in p["units"]))
        tw = median([p["wall_s"] for p in traced])
        uw = median([p["wall_s"] for p in untraced]) if untraced else float("nan")
        layer.update({"trace.traced_wall_s": tw, "trace.untraced_wall_s": uw,
                      "trace.overhead_frac": tw / uw - 1 if untraced else float("nan")})
    layer.update({
        "sessions.start_s": median([s["start_s"] for s in setups]),
        "sessions.cold_start_s": rec["jvm_boot_s"] + setups[0]["start_s"],
        "sessions.warm_s": median([s["warm_s"] for s in setups]),
        "layers.within_5pct_frac": 1 - len(gaps) / len(runs) if runs else float("nan"),
    })
    return e2e, layer, len(runs), failed, len(lat), gaps


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--extra-unit", action="append", default=[],
                    help="add a unit to the workload (self-test: fail.<name> always raises)")
    ap.add_argument("--refresh-digests", action="store_true",
                    help="run every output through the DuckDB oracle and, if all pass, "
                         "store their digests as the reference")
    args = ap.parse_args()
    t_start = time.time()

    root = os.getcwd()
    for need in ["build.sbt", "src/main/scala/graft/SparkEntry.scala", "tools/check_oracle.py"]:
        if not os.path.exists(os.path.join(root, need)):
            fail(f"run from the root of a graft checkout ({need} is missing)")
    data = os.environ.get("GRAFT_TESTDATA", os.path.expanduser("~/testdata"))
    sf = os.path.join(data, "sf0.1")
    if not os.path.isdir(sf):
        fail(f"testdata directory {sf} is missing (set GRAFT_TESTDATA)")
    out = os.path.abspath(".bench_build")
    os.makedirs(out, exist_ok=True)

    # one benchmark at a time per checkout: two runs would time each other
    lock = open(os.path.join(out, "perfbench.lock"), "w")
    t_lock = time.time()
    fcntl.flock(lock, fcntl.LOCK_EX)
    lock_wait = time.time() - t_lock

    classpath, opts = build(root, out)
    t_built = time.time()

    wl = WORKLOADS[args.workload]
    units = wl["units"] + args.extra_unit
    workdir = os.path.join(out, "run", args.workload)
    shutil.rmtree(workdir, ignore_errors=True)
    os.makedirs(workdir)
    cores = len(os.sched_getaffinity(0))
    passes = max(2, int(args.seconds // wl["pass_s"]))

    # preflight: what the machine is doing before the JVM starts
    load_before = load_avg()
    b0, w0 = cpu_times()[0], time.time()
    time.sleep(0.25)
    preflight_busy = (cpu_times()[0] - b0) / (time.time() - w0)

    kv = {"sf": sf, "units": ",".join(units), "sink": wl["sink"],
          "out": os.path.join(workdir, "out"), "seed": args.seed, "passes": passes,
          "setups": SETUPS, "trace": args.trace, "cpus": cores,
          "result": os.path.join(workdir, "record.json")}
    (busy0, steal0), wall0 = cpu_times(), time.time()
    budget = DEADLINE_S - (time.time() - t_built) - 20
    rec, jvm_cpu = run_jvm(classpath, opts, kv, workdir, budget)
    run_wall = time.time() - wall0  # the harness JVM, start to exit
    busy1, steal1 = cpu_times()
    foreign_cpu = max(0.0, busy1 - busy0 - jvm_cpu)
    stolen = steal1 - steal0
    load_after = load_avg()

    # output check, on the untimed check pass at the measured scale: the
    # parquet-sink workload goes to the DuckDB oracle; the others are
    # checked by digest, with the oracle as the fallback
    outputs = [o for outs in rec["outputs"].values() for o in outs]
    check_dir = rec["check_dir"]
    checker = os.path.join(root, "tools", "check_oracle.py")
    digests_path = os.path.join(BENCH, "digests.json")
    reference = json.load(open(digests_path)) if os.path.exists(digests_path) else {}
    remaining = max(5.0, DEADLINE_S - (time.time() - t_built))
    t_check = time.time()
    if wl["sink"] == "parquet" or args.refresh_digests:
        passed, _ = outcheck.oracle(sf, check_dir, outputs, checker,
                                    3600 if args.refresh_digests else remaining)
        verdict = {o: "oracle" if o in passed else "failed" for o in outputs}
    else:
        verdict = outcheck.check(check_dir, outputs, reference.get(args.workload, {}),
                                 sf, checker, remaining)
    check_s = time.time() - t_check
    bad = {o for o, v in verdict.items() if v == "failed"}
    if args.refresh_digests:
        if bad:
            fail(f"not refreshing digests: oracle failed on {sorted(bad)}")
        reference[args.workload] = {o: outcheck.digest(os.path.join(check_dir, o))
                                    for o in outputs}
        with open(digests_path, "w") as f:
            json.dump(reference, f, indent=1, sort_keys=True)
            f.write("\n")

    e2e, layer, attempted, failed, samples, gaps = summarise(rec, bad)
    # contaminated: other processes, or other guests of the host, took
    # more than half a core on average
    contaminated = preflight_busy > 0.5 or (foreign_cpu + stolen) / run_wall > 0.5
    artifact = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "units": units, "passes": passes, "setups": SETUPS,
        "cores": cores, "heap": heap_arg()[4:], "heap_max_mb": rec["heap_max_mb"],
        "load_before": load_before, "load_after": load_after,
        "preflight_busy_cores": round(preflight_busy, 3),
        "foreign_cpu_s": round(foreign_cpu, 3), "stolen_cpu_s": round(stolen, 3),
        "lock_wait_s": round(lock_wait, 3),
        "contaminated": contaminated,
        "build_s": t_built - t_start - lock_wait, "jvm_s": run_wall, "check_s": check_s,
        "end_to_end": e2e, "per_layer": layer,
        "latency_samples": samples, "attempted": attempted, "failed": failed,
        "failed_frac": failed / attempted if attempted else 1.0,
        "outputs": verdict, "layer_gaps_over_5pct": gaps,
        "passes_detail": rec["passes"], "setups_detail": rec["setups"],
        "check_units": rec["check_units"],
    }
    adir = os.path.join(out, "artifacts")
    os.makedirs(adir, exist_ok=True)
    apath = os.path.join(adir, f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    with open(apath, "w") as f:
        json.dump(artifact, f, indent=1)
    print(f"[perfbench] {args.workload}: {passes} passes x {len(units)} units, "
          f"{samples} latency samples, failed_frac {artifact['failed_frac']:.3f}, "
          f"contaminated={contaminated}; artifact {os.path.relpath(apath, root)}",
          file=sys.stderr)

    names = END_TO_END if args.trace == 0 else PER_LAYER
    values = e2e if args.trace == 0 else layer
    def number(v):  # JSON has no NaN; a metric that could not be measured is null
        return None if v is None or v != v else v
    metrics = {n: {"value": number(values.get(n)), "unit": u} for n, u in names}
    print(json.dumps({"correct": not bad and failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
