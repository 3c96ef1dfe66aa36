#!/usr/bin/env python3
"""Benchmark runner: builds the engine with the harness, generates the
workload's inputs from the seed, times the workload's registry jobs in one
Spark driver JVM on local[nproc] (a closed loop: each job is submitted after
the previous one finishes), checks every job's output and prints the metrics.

    python3 perfbench/run.py --workload curate_long --seed 1 --seconds 10 --trace 0

The last stdout line is one JSON object: `correct`, `attempted`, `failed`
and `metrics` (the end-to-end metrics with --trace 0, the per-layer metrics
with --trace 1). Everything it writes goes under `.perfbench/` in the
checkout. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import check  # noqa: E402
import gen  # noqa: E402
from workloads import WORKLOADS, all_job_names, job_name  # noqa: E402

ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
HARNESS = os.path.join(HERE, "harness")
CLASSES = os.path.join(HARNESS, "target", "scala-2.13", "classes")
ORACLE_SQL = os.path.join(WORK, "oracle_sql.json")

# Extra JVMs that only set up a session; with the main JVM's own set-up
# they give the samples whose median is setup_s. Each costs 7-9 s on a
# 4-core box; one keeps a run near 50 s.
EXTRA_SETUPS = 1
JVM_TIMEOUT_S = 150
# wall_s and cold_wall_s when no pass ran clean: a failed job never
# contributes a time, and a run with failures must never read as fast.
NO_CLEAN_PASS_S = 1e9
# A fixed heap and the parallel collector: with G1 and a growable heap,
# peak RSS swung by a quarter and warm-pass times by a tenth between runs.
JVM_HEAP = ["-Xms2g", "-Xmx2g", "-XX:+UseParallelGC"]
# Spark on JDK 17 needs these outside spark-submit (as build.sbt sets them).
ADD_OPENS = [arg for p in (
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar") for arg in ("--add-opens", f"{p}=ALL-UNNAMED")]

END_TO_END = [("wall_s", "s"), ("throughput_mb_s", "MB/s"), ("cold_wall_s", "s"),
              ("setup_s", "s"), ("peak_rss_mb", "MB"), ("ok_frac", "ratio")]


class BenchError(Exception):
    pass


def digest(paths):
    h = hashlib.sha256()
    for base in paths:
        files = [base] if os.path.isfile(base) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(base) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode() + b"\0")
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build(log):
    """Compiles the engine's sources with the harness (sbt, offline) unless
    the classes on disk were built from the same sources."""
    src = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(src):
        raise BenchError(f"engine sources not found: {src}")
    if not os.path.isdir(spark_jars()):
        raise BenchError("no Spark distribution: set SPARK_HOME or put spark-submit on PATH")
    inputs = [os.path.join(ROOT, "src", "main"), os.path.join(HARNESS, "src"),
              os.path.join(HARNESS, "build.sbt"),
              os.path.join(HARNESS, "project", "build.properties")]
    want = digest(inputs)
    stamp = os.path.join(WORK, "build.stamp")
    if (os.path.isdir(CLASSES) and os.path.exists(ORACLE_SQL) and os.path.exists(stamp)
            and open(stamp).read() == want):
        return
    env = dict(os.environ, COURSIER_MODE="offline", SPARK_HOME=spark_home())
    opts = ["-Dsbt.offline=true", "-Xmx3g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts = ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"] + opts
    env["SBT_OPTS"] = " ".join(opts)
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                       cwd=HARNESS, env=env, stdout=log, stderr=subprocess.STDOUT,
                       stdin=subprocess.DEVNULL, timeout=800)
    if r.returncode != 0:
        raise BenchError("build failed; see .perfbench/build.log")
    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    harness({"mode": "oracles", "result": ORACLE_SQL}, os.path.join(WORK, "tmp"), log)
    with open(stamp, "w") as f:
        f.write(want)


def spark_home():
    """SPARK_HOME, else the first Spark distribution on PATH."""
    if os.environ.get("SPARK_HOME"):
        return os.environ["SPARK_HOME"]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        home = os.path.dirname(os.path.abspath(d))
        if (os.path.exists(os.path.join(d, "spark-submit"))
                and os.path.isdir(os.path.join(home, "jars"))):
            return home
    return ""


def spark_jars():
    return os.path.join(spark_home(), "jars")


def harness(args, out_dir, log):
    """Runs the harness JVM to completion and returns its result JSON."""
    os.makedirs(os.path.join(out_dir, "tmp"), exist_ok=True)
    cmd = (["java", *ADD_OPENS, *JVM_HEAP, "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={out_dir}/tmp", "-cp", f"{CLASSES}:{spark_jars()}/*",
            "graft.perfbench.Harness"]
           + [f"{k}={v}" for k, v in args.items()])
    proc = subprocess.Popen(cmd, cwd=out_dir, stdout=log, stderr=subprocess.STDOUT,
                            stdin=subprocess.DEVNULL)
    try:
        code = proc.wait(timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        raise BenchError(f"harness {args['mode']} timed out after {JVM_TIMEOUT_S} s")
    if code != 0 or not os.path.exists(args["result"]):
        raise BenchError(f"harness {args['mode']} exited with {code}; see the run log")
    with open(args["result"]) as f:
        return json.load(f)


def timed_harness(args, out_dir, log):
    """As `harness`, stamping the spawn time from which setup_s is counted."""
    args = dict(args, spawn=repr(time.time()))
    return harness(args, out_dir, log)


def cpu_times():
    """The machine-wide CPU counters of /proc/stat (None where it is absent)."""
    try:
        with open("/proc/stat") as f:
            return [int(x) for x in f.readline().split()[1:]]
    except OSError:
        return None


def steal_share(t0, t1):
    """Share of CPU time a hypervisor took from this machine between two
    `cpu_times` readings: runs that see it are slowed by other guests."""
    if not t0 or not t1 or len(t0) < 8:
        return None
    d = [b - a for a, b in zip(t0, t1)]
    return d[7] / max(sum(d), 1)


def score(rec, outputs, setup_samples, input_bytes):
    """Folds the JVM's record and the output checks into the end-to-end
    metrics. `outputs` maps each job to None (output correct) or a reason.
    Every job execution and traced probe counts as attempted; an execution
    failed if it threw or if its job's output check failed.
    Returns (metrics, attempted, failed)."""
    bad = {n for n, reason in outputs.items() if reason is not None}
    passes = [rec["cold"]] + rec["warm"] + [rec[k] for k in ("traced", "after_traced") if k in rec]
    attempted = failed = 0
    for p in passes:
        for n, r in p["jobs"].items():
            attempted += 1
            failed += int("error" in r or n in bad)
    attempted += rec.get("probe_attempted", 0)
    failed += len(rec.get("probe_errors", {}))

    def clean(p):
        return all("error" not in r and n not in bad for n, r in p["jobs"].items())

    warm = [p["seconds"] for p in rec["warm"] if clean(p)]
    wall = statistics.median(warm) if warm else NO_CLEAN_PASS_S
    metrics = {
        "wall_s": wall,
        "throughput_mb_s": input_bytes / 1e6 / wall,
        "cold_wall_s": rec["cold"]["seconds"] if clean(rec["cold"]) else NO_CLEAN_PASS_S,
        "setup_s": statistics.median(setup_samples),
        "peak_rss_mb": rec["peak_rss_mb"],
        "ok_frac": (attempted - failed) / attempted,
    }
    return metrics, attempted, failed


def per_layer_names():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return [(m["name"], m["unit"]) for m in json.load(f)["per_layer"]]


def prepare_inputs(workload, seed, jobs):
    data_root = os.path.join(WORK, "data")
    os.makedirs(data_root, exist_ok=True)
    for d in os.listdir(data_root):  # keep one seed per workload on disk
        if d.startswith(workload + "-") and d != f"{workload}-{seed}":
            shutil.rmtree(os.path.join(data_root, d))
    data_dir = os.path.join(data_root, f"{workload}-{seed}")
    manifest = gen.generate(workload, seed, data_dir)
    exp_path = os.path.join(data_dir, "expected.json")
    if os.path.exists(exp_path):
        with open(exp_path) as f:
            expected = json.load(f)
    else:
        with open(ORACLE_SQL) as f:
            oracle_sql = json.load(f)
        expected = check.expected(data_dir, oracle_sql, jobs)
        with open(exp_path, "w") as f:
            json.dump(expected, f)
    return data_dir, manifest, expected


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    phases = {"start": time.time()}
    wl = WORKLOADS[a.workload]
    jobs = [job_name(s) for s in wl["jobs"]]
    os.makedirs(WORK, exist_ok=True)
    with open(os.path.join(WORK, "build.log"), "a") as log:
        build(log)
    phases["build"] = time.time()
    out_dir = os.path.join(WORK, "out", a.workload)
    shutil.rmtree(out_dir, ignore_errors=True)
    os.makedirs(out_dir)
    cores = len(os.sched_getaffinity(0))
    with open(os.path.join(out_dir, "jvm.log"), "w") as log:
        data_dir, manifest, expected = prepare_inputs(a.workload, a.seed, jobs)
        phases["inputs"] = time.time()
        cpu0 = cpu_times()
        setups = [timed_harness({"mode": "setup", "cores": cores, "out": out_dir,
                                 "result": os.path.join(out_dir, f"setup{i}.json")},
                                out_dir, log)["setup_s"] for i in range(EXTRA_SETUPS)]
        phases["setup_jvms"] = time.time()
        rec = timed_harness({
            "mode": "run", "workload": a.workload, "data": data_dir, "out": out_dir,
            "cores": cores, "seconds": a.seconds, "trace": a.trace,
            "jobs": ",".join(wl["jobs"]), "scan": ",".join(wl["primary"]),
            "alljobs": ",".join(all_job_names()),
            "result": os.path.join(out_dir, "result.json")}, out_dir, log)
        phases["main_jvm"] = time.time()
    steal = steal_share(cpu0, cpu_times())
    setups.append(rec["setup_s"])
    outputs = {n: rec["cold"]["jobs"][n].get("error") for n in jobs}
    checked = check.check_outputs(data_dir, out_dir, [n for n in jobs if outputs[n] is None],
                                  expected, manifest["planted_pairs"])
    outputs.update(checked)
    phases["check"] = time.time()
    marks = list(phases.items())
    phase_s = {k: t - marks[i][1] for i, (k, t) in enumerate(marks[1:])}
    e2e, attempted, failed = score(rec, outputs, setups, manifest["input_bytes"])

    print(f"perfbench {a.workload} seed={a.seed} seconds={a.seconds:g} trace={a.trace} "
          f"cores={cores} passes: 1 cold, {len(rec['warm'])} warm")
    for t, s in manifest["tables"].items():
        mark = "*" if t in wl["primary"] else " "
        print(f"  input{mark} {t:<11} files={s['files']:<2} rows={s['rows']:<8} "
              f"bytes={s['bytes']}")
    for n in jobs:
        warm_t = [p["jobs"][n]["s"] for p in rec["warm"] if "s" in p["jobs"][n]]
        t = f"{statistics.median(warm_t):.3f} s" if warm_t else "-"
        print(f"  job {n:<24} {t:>10}  {outputs[n] or 'output ok'}")
    for name, unit in END_TO_END:
        print(f"  {name:<16} {e2e[name]:.4f} {unit}")
    print(f"  failed_frac      {failed / attempted:.4f} ratio ({failed} of {attempted})")
    if steal is not None:
        print(f"  cpu steal        {steal:.4f} ratio (while the JVMs ran)")

    if a.trace:
        layer = rec["layer_metrics"]
        # a probe that failed (already counted in `failed`) reads as 0
        metrics = {n: {"value": float(layer.get(n) or 0.0), "unit": u}
                   for n, u in per_layer_names()}
        for n, m in metrics.items():
            print(f"  {n:<32} {m['value']:.4f} {m['unit']}")
        for n, err in rec["probe_errors"].items():
            print(f"  probe {n} failed: {err}")
        print(f"  tracing overhead {layer['trace.overhead_s']:.4f} s (traced pass minus "
              f"the mean of the untraced passes before and after it)")
    else:
        metrics = {n: {"value": e2e[n], "unit": u} for n, u in END_TO_END}
    correct = failed == 0
    record = {"workload": a.workload, "seed": a.seed, "trace": a.trace, "cores": cores,
              "tables": manifest["tables"], "input_bytes": manifest["input_bytes"],
              "expected": expected, "outputs": outputs, "setup_samples": setups,
              "phase_s": phase_s, "cpu_steal": steal,
              "end_to_end": e2e, "metrics": metrics, "jvm": rec}
    os.makedirs(os.path.join(WORK, "runs"), exist_ok=True)
    with open(os.path.join(WORK, "runs", f"{a.workload}-seed{a.seed}-trace{a.trace}.json"),
              "w") as f:
        json.dump(record, f, indent=1)
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    try:
        main()
    except BenchError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        sys.exit(2)
