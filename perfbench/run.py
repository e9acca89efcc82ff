#!/usr/bin/env python3
"""Benchmark of the graft library: one run of one workload.

Run from the root of the repository:

    python3 perfbench/run.py --workload study_chain --seed 1 --seconds 10 --trace 0

The first run in a checkout compiles the library sources together with
the harness in perfbench/ (sbt, offline); later runs reuse the build
while the sources are unchanged. A run starts one JVM
(perfbench.Harness) that builds a local[nproc] Spark session, sets the
workload up, measures whole units of it for at least --seconds, checks
the outputs and writes a raw record. This script turns the record into
metrics, compares the outputs with the recorded goldens, keeps the run's
artifacts under perfbench/out/ and prints the metrics. Its last stdout
line is one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones of BENCHMARK.json,
with --trace 1 the per-layer ones. Exit codes: 0 run done (the result
may still say correct=false), 2 sources or toolchain missing, 3 another
benchmark JVM is running, 4 build failed, 5 the run failed or timed out.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

import stats

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
LIB_SRC = os.path.join(ROOT, "src", "main", "scala", "graft")
FIXTURE = os.path.join(BENCH, "fixtures", "sf0.001")
OUT = os.path.join(BENCH, "out")
CLASSES = os.path.join(BENCH, "target", "scala-2.13", "classes")
STAMP = os.path.join(BENCH, "target", "perfbench.fingerprint")
GOLDENS = os.path.join(BENCH, "goldens.json")
WORKLOADS = ("study_chain", "llm_curate")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
HEAP = "3g"

# Spark on JDK 17 outside spark-submit needs these opens (the list
# org.apache.spark.launcher.JavaModuleOptions carries).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

# Declared end-to-end metrics, in process CPU seconds corrected for the
# share of CPU time the hypervisor stole (see net_cpu). On a shared VM the
# wall-time ones (throughput, query_p50_s) spread 0.2-0.5 between identical
# runs as the host steals up to a third of the CPU time, too wide to bound a
# regression by; they are printed and kept with every run, and reported per
# layer by traced runs.
END_TO_END = {"setup_s": "s", "cpu_s": "s"}
WALL = {"throughput": "1/s", "query_p50_s": "s"}

PER_LAYER = {
    "sources.register_s": "s", "sources.zipf_gen_s": "s",
    "sources.synth_gen_s": "s", "sources.runner.planning_s": "s",
    "sources.runner.execution_s": "s", "sources.runner.overhead_s": "s",
    "sources.runner.jobs": "count", "sources.runner.stages": "count",
    "sources.runner.tasks": "count", "sources.runner.shuffle_bytes": "bytes",
    "sources.runner.spill_bytes": "bytes", "sources.runner.task_skew": "ratio",
    "sources.runner.executor_cpu_s": "s", "sources.runner.gc_s": "s",
    "sources.runner.bhj_joins": "count", "sources.runner.smj_joins": "count",
    "analytics.variance_s": "s", "analytics.featurize_s": "s",
    "analytics.query_cv_pct": "%",
    "ml.embed_s": "s", "ml.rf_fit_s": "s", "ml.score_s": "s",
    "ml.qerror_p50": "ratio",
    "scheduling.fifo_s": "s", "scheduling.greedy_s": "s",
    "scheduling.carbon_saving_pct": "%",
    "llm.curate_s": "s", "llm.dedup_s": "s", "llm.index_build_s": "s",
    "llm.index_probe_s": "s", "llm.shuffle_bytes": "bytes",
    "llm.tasks": "count", "llm.gc_s": "s", "llm.certified_frac": "ratio",
    "llm.index_bytes_ratio": "ratio",
    "jvm.peak_rss_mb": "MB", "wall.query_p50_s": "s",
    "trace.throughput": "1/s", "trace.cpu_s": "s", "trace.overhead_pct": "%",
}

# A run's host was contended when the calibration probe reads more than
# PROBE_BAND slower after the timed units than before them, or when the
# hypervisor took more than STEAL_BAND of the CPUs' time during the units.
# Only a slower second reading counts: the first is taken in a JVM that
# has run less, and after study_chain's light set-up it reads ~1.6x the
# second on a quiet host.
PROBE_BAND = 0.25
STEAL_BAND = 0.05

# Process CPU time grows with the share of the machine's CPU time the
# hypervisor steals: stolen time partly charged to the process, and slower
# shared cores. Fitted on 41 runs of both workloads on a 4-vCPU VM (steal
# 0-25%; llm_curate at 1,000 documents), a unit's CPU time grew by 0.90
# (study_chain) and 0.78 (llm_curate) of its quiet value per unit of steal
# share. Dividing by 1 + 0.9 * steal leaves a residual slope of
# +0.07 +- 0.12 and -0.05 +- 0.15 of the median; perfbench/spread.py prints
# it for the runs so far. Host load that shows no stolen time is not
# corrected for (perfbench/README.md, "Baseline").
STEAL_CPU_FACTOR = 0.9


def net_cpu(cpu_s, steal):
    """Process CPU seconds corrected for the stolen share `steal`."""
    return cpu_s / (1.0 + STEAL_CPU_FACTOR * steal)


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(code, msg):
    log(msg)
    sys.exit(code)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home or "", "jars")
    if not home or not os.path.isdir(jars):
        fail(2, "no Spark installation: set SPARK_HOME")
    return jars


def fingerprint():
    """Hash of every source the build compiles."""
    h = hashlib.sha256()
    files = []
    for top in (LIB_SRC, os.path.join(BENCH, "src")):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names]
    files += [os.path.join(BENCH, "build.sbt"),
              os.path.join(BENCH, "project", "build.properties")]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build(fp):
    if os.path.isdir(CLASSES) and os.path.exists(STAMP):
        with open(STAMP) as fh:
            if fh.read().strip() == fp:
                return
    if not shutil.which("sbt"):
        fail(2, "sbt not found on PATH")
    log("building the library and the harness (sbt compile)")
    t = time.time()
    code = run_group(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile"],
                     BENCH, sys.stderr, BUILD_TIMEOUT_S)
    if code != 0:
        fail(4, "build timed out" if code is None else f"build failed (sbt exit {code})")
    with open(STAMP, "w") as fh:
        fh.write(fp + "\n")
    log(f"built in {time.time() - t:.1f} s")


def run_group(cmd, cwd, out, timeout):
    """Run `cmd` in its own process group and wait for it. The group is
    killed, and waited for, when the timeout passes or this script is
    interrupted or terminated. Returns the exit code, or None on timeout."""
    proc = subprocess.Popen(cmd, cwd=cwd, stdout=out, stderr=out,
                            start_new_session=True)
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        return None
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()


def other_benchmark_jvms():
    """Command lines of running JVMs of this benchmark or of graft.Bench."""
    found = []
    for pid in os.listdir("/proc"):
        if not pid.isdigit() or int(pid) == os.getpid():
            continue
        try:
            with open(f"/proc/{pid}/cmdline", "rb") as fh:
                args = fh.read().split(b"\0")
        except OSError:
            continue
        if any(a in (b"perfbench.Harness", b"graft.Bench") for a in args):
            found.append(pid)
    return found


def git_commit():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                           capture_output=True, text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except (OSError, subprocess.TimeoutExpired):
        return None


def run_harness(args, run_dir, jars):
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", os.pathsep.join([CLASSES, os.path.join(jars, "*")]),
            "perfbench.Harness",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--out", run_dir, "--fixture", FIXTURE,
            "--run-id", os.path.basename(run_dir)]
    with open(os.path.join(run_dir, "harness.log"), "w") as logf:
        return run_group(cmd, run_dir, logf, RUN_TIMEOUT_S)


def end_to_end(rec):
    units = rec["units"]
    lat = rec["latencies_s"]
    s = rec["setup"]
    # JVM start to a ready session, the median set-up round, and deriving
    # the inputs of the units
    rounds = [net_cpu(c, st) for c, st in zip(s["rounds_cpu_s"], s["rounds_steal_share"])]
    return {
        "setup_s": net_cpu(s["session_cpu_s"], s["session_steal_share"])
        + stats.median(rounds) + net_cpu(s["prepare_cpu_s"], s["prepare_steal_share"]),
        "throughput": sum(u["work"] for u in units) / sum(u["wall_s"] for u in units),
        "query_p50_s": stats.percentile(lat, 50),
        "cpu_s": stats.median([net_cpu(u["cpu_s"], u["steal_share"]) for u in units]),
    }


def write_workload_log(rec, run_dir):
    """Probe latencies in the paper's NDJSON workload-log shape (the
    runner already writes one per pass for the SQL workload)."""
    if rec["workload"] != "llm_curate":
        return
    with open(os.path.join(run_dir, "Workload_log_run_1.ndjson"), "w") as fh:
        for i, t in enumerate(rec["latencies_s"]):
            fh.write(json.dumps({"query_id": f"p{i}", "Runtime (s)": t,
                                 "elapsed_s": t, "planning_s": -1.0,
                                 "execution_s": -1.0}) + "\n")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args()
    # a terminated run still stops (and waits for) the processes it started
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    if not os.path.isdir(LIB_SRC):
        fail(2, f"library sources not found under {os.path.relpath(LIB_SRC, os.getcwd())}")
    jars = spark_jars()
    others = other_benchmark_jvms()
    if others:
        fail(3, f"another benchmark JVM is running (pid {', '.join(others)}); runs must not overlap")
    fp = fingerprint()
    build(fp)

    run_id = f"{args.workload}-s{args.seed}-t{args.trace}-{time.strftime('%Y%m%dT%H%M%S')}-{os.getpid()}"
    run_dir = os.path.join(OUT, run_id)
    os.makedirs(run_dir)
    code = run_harness(args, run_dir, jars)
    record_path = os.path.join(run_dir, "record.json")
    if code != 0 or not os.path.exists(record_path):
        fail(5, f"harness {'timed out' if code is None else f'exit {code}'}; see {run_dir}/harness.log")
    with open(record_path) as fh:
        rec = json.load(fh)

    # bulky intermediates go; the record, logs and NDJSON stay
    for d in ("spark-local", "warehouse", "corpus", "tmp"):
        shutil.rmtree(os.path.join(run_dir, d), ignore_errors=True)
    write_workload_log(rec, run_dir)

    failures = list(rec["failures"])
    attempted = rec["attempted"]
    golden = "none"
    if rec["outputs"]:
        goldens = {}
        if os.path.exists(GOLDENS):
            with open(GOLDENS) as fh:
                goldens = json.load(fh)
        mine = goldens.get(args.workload, {})
        key = str(args.seed)
        if key in mine:
            attempted += 1
            bad = stats.golden_mismatches(rec["outputs"], mine[key])
            failures += [f"golden mismatch: {n}" for n in bad]
            golden = "mismatch" if bad else "match"
        else:
            golden = "absent"
            log(f"no goldens recorded for seed {args.seed}; only the in-run checks apply")

    lat_n = len(rec["latencies_s"])
    tail = stats.tail_percentile(lat_n)
    if args.workload == "study_chain" and tail is None:
        failures.append(f"{lat_n} query latencies are too few for a median")
    e2e = end_to_end(rec) if lat_n and rec["units"] else {}
    probe = rec["probe_s"]
    steal = max(u["steal_share"] for u in rec["units"])
    out_of_band = probe[1] > (1 + PROBE_BAND) * probe[0] or steal > STEAL_BAND
    if out_of_band:
        log(f"host contended: probe {probe[0]:.3f}s before, {probe[1]:.3f}s after; "
            f"{100 * steal:.1f}% of CPU time stolen")

    layers = dict(rec["layers"], **{"jvm.peak_rss_mb": rec["peak_rss_mb"],
                                    "wall.query_p50_s": e2e.get("query_p50_s")})
    if args.trace:
        # the traced unit's cpu_s; against the untraced runs' cpu_s it
        # gives what tracing cost
        layers["trace.cpu_s"] = e2e.get("cpu_s")
        # every per-layer metric is reported; one of a layer the workload
        # does not run, or whose call failed, reads 0
        metrics = {n: {"value": float(layers.get(n) or 0.0), "unit": u}
                   for n, u in PER_LAYER.items()}
    else:
        metrics = {n: {"value": e2e[n], "unit": u} for n, u in END_TO_END.items() if n in e2e}

    summary = {
        "run_id": run_id, "workload": args.workload, "seed": args.seed,
        "trace": args.trace, "seconds": args.seconds,
        "git_commit": git_commit(), "source_sha256": fp,
        "fixture": os.path.relpath(FIXTURE, ROOT), "cpus": rec["cpus"],
        "spark_version": rec["spark_version"], "conf": rec["conf"],
        "probe_s": probe, "steal_share": steal, "probe_out_of_band": out_of_band,
        "units": len(rec["units"]), "latency_samples": lat_n,
        "tail_percentile": tail, "golden": golden,
        "attempted": attempted, "failed": len(failures), "failures": failures,
        "failed_frac": len(failures) / attempted,
        "end_to_end": e2e, "per_layer": layers,
    }
    with open(os.path.join(run_dir, "summary.json"), "w") as fh:
        json.dump(summary, fh, indent=1)
    with open(os.path.join(OUT, "runs.ndjson"), "a") as fh:
        fh.write(json.dumps(summary) + "\n")

    for n, m in metrics.items():
        print(f"{args.workload} {n} = {m['value']:.6g} {m['unit']}")
    if not args.trace:
        for n, u in WALL.items():
            if n in e2e:
                print(f"{args.workload} {n} = {e2e[n]:.6g} {u} (wall time; not declared)")
    print(f"{args.workload} failed_frac = {summary['failed_frac']:.6g} "
          f"({len(failures)}/{attempted}); probe {probe[0]:.3f}s/{probe[1]:.3f}s, "
          f"steal {100 * steal:.1f}%{' OUT OF BAND' if out_of_band else ''}; goldens {golden}; artifacts {os.path.relpath(run_dir, os.getcwd())}")
    for f in failures:
        print(f"{args.workload} FAILED {f}")
    # compact, so the line survives a truncated log tail
    print(json.dumps({"correct": not failures and len(metrics) > 0,
                      "attempted": attempted, "failed": len(failures),
                      "metrics": metrics}, separators=(",", ":")))


if __name__ == "__main__":
    main()
