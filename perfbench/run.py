#!/usr/bin/env python3
"""Benchmark of the graft engine: two seeded workloads on local[<cpus>].

Run from the root of a checkout:

    python3 perfbench/run.py --workload catalog --seed 1 --trace 0
    python3 perfbench/run.py --workload etl_daily --seed 1 --trace 1
    python3 perfbench/run.py --selftest                        # benchmark self-tests

The first run builds the engine and the benchmark from source with sbt
(perfbench/build.sbt) and rebuilds whenever a source file changes. Each run
launches one JVM, writes a full result record under
perfbench/results/c<cpus>/<workload>/, and prints one JSON object as the
last line of stdout: the end-to-end metrics with --trace 0, the per-layer
metrics with --trace 1. A run does a fixed amount of work; --seconds is
recorded and only warned about when the timed window exceeds it. The exit
code is non-zero when any output check fails. See perfbench/README.md for
the workloads and metrics.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
WORKLOADS = ["catalog", "etl_daily"]
HEAP = "4g"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def say(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources_hash():
    """Hash of every input of the build: engine and benchmark sources."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src"),
             os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        files = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile with sbt unless the classpath matches the current sources."""
    target = os.path.join(BENCH, "target")
    stamp, cp_file = os.path.join(target, "build.stamp"), os.path.join(target, "classpath.txt")
    want = sources_hash()
    if os.path.exists(stamp) and os.path.exists(cp_file) and open(stamp).read() == want:
        return open(cp_file).read().strip()
    say("building engine and benchmark with sbt ...")
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
    env.setdefault("SBT_OPTS", f"-Dsbt.override.build.repos=true -Dsbt.repository.config={repos} "
                               "-Dsbt.offline=true -Xmx3g")
    os.makedirs(target, exist_ok=True)
    log = os.path.join(target, "build.log")
    t0 = time.time()
    with open(log, "w") as out:
        p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
                            "compile", "writeClasspath"], cwd=BENCH, env=env, stdout=out,
                           stderr=subprocess.STDOUT, timeout=BUILD_TIMEOUT_S)
    if p.returncode != 0 or not os.path.exists(cp_file):
        say(f"build failed (exit {p.returncode}); tail of {log}:")
        sys.stderr.write("".join(open(log).readlines()[-30:]))
        sys.exit(3)
    with open(stamp, "w") as fh:
        fh.write(want)
    say(f"built in {time.time() - t0:.0f} s")
    return open(cp_file).read().strip()


def data_dirs():
    sf = os.environ.get("SPARK_GRAFT_SF_DIR") or os.path.expanduser(os.path.join("~", "testdata", "sf0.1"))
    small = os.path.join(os.path.dirname(sf), "sf0.001")
    for d in (sf, small):
        if not os.path.exists(os.path.join(d, "part.parquet")):
            say(f"testdata not found at {d} (set SPARK_GRAFT_SF_DIR to the sf0.1 directory)")
            sys.exit(2)
    return sf, small


def cpus():
    return len(os.sched_getaffinity(0))


def jvm(classpath, mode, args, timeout):
    """Run perfbench.Main in its own JVM; every file it writes stays under WORK."""
    work = os.path.join(WORK, mode)
    shutil.rmtree(work, ignore_errors=True)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    env = dict(os.environ, SPARK_GRAFT_LOCAL_DIR=os.path.join(work, "spark-local"))
    cmd = (["java", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false"]
           + [a for p in JDK_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "perfbench.Main", "--mode", mode, "--work-dir", work,
              "--cpus", str(cpus()), "--expected", os.path.join(BENCH, "expected.tsv")] + args)
    proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                            text=True)
    try:
        out, err = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        proc.kill()
        out, err = proc.communicate()
        say(f"{mode} timed out after {timeout} s")
        sys.stderr.write(err[-4000:])
        sys.exit(4)
    return proc.returncode, out, err, work


def git_commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def metric_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return spec["end_to_end"], spec["per_layer"]


def results_dir(workload):
    d = os.path.join(BENCH, "results", f"c{cpus()}", workload)
    os.makedirs(d, exist_ok=True)
    return d


def run_once(classpath, workload, seed, seconds, trace, deadline):
    sf, small = data_dirs()
    code, out, err, work = jvm(classpath, "run", [
        "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
        "--trace", "1" if trace else "0", "--sf-dir", sf, "--small-dir", small,
        "--out", os.path.join(WORK, "result.json")], max(10, deadline - time.time()))
    result_path = os.path.join(WORK, "result.json")
    if code != 0 or not os.path.exists(result_path):
        say(f"{workload}: JVM exited {code}")
        sys.stderr.write(err[-4000:])
        sys.exit(5)
    with open(result_path) as fh:
        rec = json.load(fh)
    os.remove(result_path)
    shutil.rmtree(work, ignore_errors=True)
    rec.update(git_commit=git_commit(), source_sha256=sources_hash(), heap=HEAP)
    name = f"seed{seed}-trace{1 if trace else 0}.json"
    with open(os.path.join(results_dir(workload), name), "w") as fh:
        json.dump(rec, fh, indent=1)
    return rec


def contract_line(rec, trace):
    e2e, layers = metric_spec()
    src = rec["per_layer"] if trace else rec["end_to_end"]
    metrics = {m["name"]: {"value": src.get(m["name"], 0.0), "unit": m["unit"]}
               for m in (layers if trace else e2e)}
    missing = [n for n, v in metrics.items() if v["value"] is None]
    if missing:
        say(f"no value for {missing}")
    return {"correct": bool(rec["correct"]) and not missing, "attempted": rec["attempted"],
            "failed": rec["failed"], "metrics": metrics}


def table(workload, rec, trace):
    e2e, layers = metric_spec()
    src = rec["per_layer"] if trace else rec["end_to_end"]
    say(f"{workload} ({'per-layer' if trace else 'end-to-end'}, seed {rec['seed']}, "
        f"cpus {rec['cpus']}, {rec['attempted']} ops, {rec['failed']} failed)")
    for m in (layers if trace else e2e):
        v = src.get(m["name"])
        say(f"  {m['name']:<28} {v if v is None else f'{v:.6g}':>14} {m['unit']}")


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=None)
    ap.add_argument("--trace", type=int, default=0, choices=[0, 1])
    ap.add_argument("--selftest", action="store_true", help="run the benchmark's self-tests")
    ap.add_argument("--record", action="store_true",
                    help="print row counts and digests of every catalog query (for expected.tsv)")
    ap.add_argument("--dumpcheck", metavar="DIR",
                    help="compare graft.Verify parquet dumps in DIR with expected.tsv")
    a = ap.parse_args()
    if a.workload is None and not (a.selftest or a.record or a.dumpcheck):
        ap.error("--workload is required")
    start = time.time()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        say(f"engine sources not found under {ROOT}/src/main/scala: run from a full checkout")
        sys.exit(2)
    seconds = a.seconds or json.load(open(os.path.join(ROOT, "BENCHMARK.json")))["run_seconds"]
    classpath = build()
    deadline = time.time() + RUN_TIMEOUT_S
    sf, small = data_dirs()
    if a.selftest or a.record or a.dumpcheck:
        mode = "selftest" if a.selftest else "record" if a.record else "dumpcheck"
        extra = ["--sf-dir", sf] + (["--dump", os.path.abspath(a.dumpcheck)] if a.dumpcheck else [])
        code, out, err, work = jvm(classpath, mode, extra, 1800)
        shutil.rmtree(work, ignore_errors=True)
        sys.stdout.write(out)
        if code != 0:
            sys.stderr.write(err[-4000:])
        sys.exit(code)
    rec = run_once(classpath, a.workload, a.seed, seconds, bool(a.trace), deadline)
    table(a.workload, rec, bool(a.trace))
    line = contract_line(rec, bool(a.trace))
    say(f"done in {time.time() - start:.1f} s")
    print(json.dumps(line), flush=True)
    sys.exit(0 if line["correct"] else 1)


if __name__ == "__main__":
    main()
