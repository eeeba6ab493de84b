#!/usr/bin/env python3
"""Registry benchmark for the graft engine.

Run from the root of a source checkout:

    python3 perfbench/run.py --workload neuro_sf0.1 --seed 1 --seconds 4 --trace 0

The first run compiles the engine and the harness (perfbench/src) with the
Scala compiler shipped in the Spark jars, into .bench_build/, and writes
the input tables there with perfbench/gen_data.py. Every run then starts
a fresh JVM in a private directory under .bench_build/runs/ (its own
java.io.tmpdir, Spark local dir, warehouse and stream checkpoints, so the
engine's skip-if-exists stores start empty), and removes it at exit.
The JVM reports `setup_s`, its spawn-to-ready-session time, then runs one
cold pass over the workload's queries in the order the seed sets, two
settling passes, then warm passes for --seconds (at least four). Every query
is forced by one action that computes every output column and returns a
digest, checked against perfbench/expected.json.

The last line of stdout is one JSON object: `correct`, `attempted`,
`failed` and `metrics` (the end-to-end metrics of BENCHMARK.json, or with
--trace 1 its per-layer metrics). The full record of the run, with
provenance, per-query times, digests and errors, is written to
.bench_build/records/.

    python3 perfbench/run.py --profile neuro

runs every query of a family (neuro, curation or ingest) traced, with the
same passes, into .bench_build/records/profile-<family>.json: the profile
perfbench/select_sample.py matches each workload's sample against.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
DATA_SF = 0.1
DATA_SEED = 42
RUN_TIMEOUT_S = 170
PROFILE_TIMEOUT_S = 1200
HEAP = "4g"
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]

CHILD = None


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    """$SPARK_HOME/jars, else the jar directory the engine's build.sbt
    compiles against (its `unmanagedBase`)."""
    if "SPARK_HOME" in os.environ:
        jars = os.path.join(os.environ["SPARK_HOME"], "jars")
    else:
        build_sbt = os.path.join(ROOT, "build.sbt")
        if not os.path.isfile(build_sbt):
            fail(f"no engine build under {ROOT}; run from the root of a checkout")
        with open(build_sbt) as fh:
            m = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read())
        jars = m.group(1) if m else ""
    if not glob.glob(os.path.join(jars, "scala-compiler-*.jar")):
        fail(f"no Spark/Scala jars under '{jars}' (set SPARK_HOME)")
    return jars


def sources():
    engine = os.path.join(ROOT, "src", "main", "scala")
    if not os.path.isdir(os.path.join(engine, "graft")) or \
            not os.path.isfile(os.path.join(ROOT, "build.sbt")):
        fail(f"no engine sources under {ROOT}; run from the root of a checkout")
    files = sorted(glob.glob(os.path.join(engine, "**", "*.scala"), recursive=True) +
                   glob.glob(os.path.join(BENCH, "src", "main", "scala", "**", "*.scala"),
                             recursive=True))
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return files, h.hexdigest()


def child_env():
    env = {k: v for k, v in os.environ.items()
           if not k.startswith(("SPARK_GRAFT_", "GRAFT_")) and k != "SPARK_LOCAL_DIRS"}
    env.pop("JAVA_TOOL_OPTIONS", None)
    return env


def call(cmd, timeout, **kw):
    """Run a child process to completion; kill it on timeout or signal."""
    global CHILD
    CHILD = subprocess.Popen(cmd, env=child_env(), **kw)
    try:
        return CHILD.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        CHILD.kill()
        CHILD.wait()
        fail(f"timed out after {timeout:.0f} s: {' '.join(cmd[:3])} ...")
    finally:
        CHILD = None


def build(jars):
    files, src_hash = sources()
    out = os.path.join(BUILD, "classes")
    stamp = os.path.join(out, "SOURCES.sha256")
    if os.path.isfile(stamp) and open(stamp).read().strip() == src_hash:
        return out, src_hash
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = os.path.join(jars, "*")
    rc = call(["java", "-XX:-UsePerfData", "-Xss16m", "-Xmx2g", "-cp", cp,
               "scala.tools.nsc.Main", "-nowarn", "-d", tmp, "-classpath", cp] + files,
              timeout=850, stdout=sys.stderr)
    if rc != 0:
        fail("compilation failed")
    with open(os.path.join(tmp, "SOURCES.sha256"), "w") as fh:
        fh.write(src_hash + "\n")
    shutil.rmtree(out, ignore_errors=True)
    os.rename(tmp, out)
    return out, src_hash


def data():
    gen = os.path.join(BENCH, "gen_data.py")
    with open(gen, "rb") as fh:
        key = hashlib.sha256(fh.read() + f"{DATA_SF}/{DATA_SEED}".encode()).hexdigest()
    out = os.path.join(BUILD, "data", f"sf{DATA_SF}")
    stamp = os.path.join(out, "GENERATOR.sha256")
    if os.path.isfile(stamp) and open(stamp).read().strip() == key:
        return out
    shutil.rmtree(out, ignore_errors=True)
    rc = call([sys.executable, gen, out, "--sf", str(DATA_SF), "--seed", str(DATA_SEED)],
              timeout=300, stdout=sys.stderr)
    if rc != 0:
        fail("input generation failed")
    with open(stamp, "w") as fh:
        fh.write(key + "\n")
    return out


def jvm(classes, jars, run_dir, args, timeout):
    for d in ("tmp", "local"):
        os.makedirs(os.path.join(run_dir, d), exist_ok=True)
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    out = os.path.join(run_dir, "record.json")
    cmd = (["java", "-XX:-UsePerfData", f"-Xmx{HEAP}"] + opens +
           ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Dlog4j.configurationFile={os.path.join(BENCH, 'log4j2.properties')}",
            f"-Djava.io.tmpdir={run_dir}/tmp", f"-Dspark.local.dir={run_dir}/local",
            "-cp", f"{classes}{os.pathsep}{os.path.join(jars, '*')}", "perfbench.Main",
            "--run-dir", run_dir, "--out", out,
            "--spawn-ns", str(time.monotonic_ns())] + args)
    rc = call(cmd, timeout=timeout, stdout=sys.stderr)
    if rc != 0 or not os.path.isfile(out):
        fail(f"benchmark JVM failed (exit {rc})")
    with open(out) as fh:
        return json.load(fh)


def calibrate(classes, jars, data_dir):
    """Digests of every registry query whose cold and warm results agree.
    Run only on a commit whose outputs pass tools/check_oracle.py and
    tools/check_kernels.py on the generated tables."""
    run_root = os.path.join(BUILD, "runs", f"calibrate-{os.getpid()}")
    try:
        rec = jvm(classes, jars, run_root, ["--mode", "calibrate", "--data", data_dir],
                  timeout=3600)
    finally:
        shutil.rmtree(run_root, ignore_errors=True)
    for name, q in rec["queries"].items():
        if q["error"] or not q["stable"]:
            print(f"perfbench: {name}: no digest ({q['error'] or 'cold and warm differ'})",
                  file=sys.stderr)
    with open(os.path.join(BENCH, "expected.json"), "w") as fh:
        json.dump({"data": {"generator": "perfbench/gen_data.py", "sf": DATA_SF,
                            "seed": DATA_SEED}, "digests": rec["digests"]},
                  fh, indent=1, sort_keys=True)
        fh.write("\n")


def cpu_ticks():
    """The host's aggregate CPU tick counters (user nice system idle
    iowait irq softirq steal ...), or None where /proc/stat is absent."""
    try:
        with open("/proc/stat") as fh:
            return [int(x) for x in fh.readline().split()[1:]]
    except (OSError, ValueError):
        return None


def git_commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--calibrate", action="store_true",
                    help="rewrite perfbench/expected.json from a cold and a warm "
                         "execution of every registry query")
    ap.add_argument("--profile", choices=("neuro", "curation", "ingest"),
                    help="trace every query of one family")
    a = ap.parse_args()
    if a.profile:
        a.workload, a.seed, a.seconds, a.trace = f"family:{a.profile}", 1, 0, 1
    if not a.calibrate and None in (a.workload, a.seed, a.seconds):
        ap.error("--workload, --seed and --seconds are required")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    if not (a.calibrate or a.profile) and \
            a.workload not in {w["name"] for w in spec["workloads"]}:
        fail(f"unknown workload {a.workload}")

    jars = spark_jars()
    classes, src_hash = build(jars)
    data_dir = data()
    t_measure = time.time()
    if a.calibrate:
        calibrate(classes, jars, data_dir)
        return

    run_root = os.path.join(BUILD, "runs", f"{a.seed}-{os.getpid()}")
    records = os.path.join(BUILD, "records")
    os.makedirs(records, exist_ok=True)
    name = f"profile-{a.profile}" if a.profile else f"{a.workload}-seed{a.seed}-trace{a.trace}"
    args = ["--mode", "run", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace), "--data", data_dir,
            "--expected", os.path.join(BENCH, "expected.json")]
    if a.trace:
        args += ["--trace-out", os.path.join(records, name + ".spans.json")]
    timeout = PROFILE_TIMEOUT_S if a.profile else RUN_TIMEOUT_S - (time.time() - t_measure)
    ticks0 = cpu_ticks()
    try:
        rec = jvm(classes, jars, run_root, args, timeout=timeout)
    finally:
        shutil.rmtree(run_root, ignore_errors=True)
    ticks1 = cpu_ticks()

    # share of this machine's CPU time a hypervisor took from it during
    # the run: timings rise with it, so it is kept to explain outliers
    steal = None
    if ticks0 and ticks1 and len(ticks0) > 7:
        d = [b - a for a, b in zip(ticks0, ticks1)]
        steal = d[7] / sum(d) if sum(d) else None
    rec["provenance"].update(git_commit=git_commit(), source_sha256=src_hash,
                             heap=HEAP, data={"sf": DATA_SF, "seed": DATA_SEED},
                             cpu_steal_ratio=steal)
    with open(os.path.join(records, name + ".json"), "w") as fh:
        json.dump(rec, fh, indent=1)
    if a.profile:
        return

    if a.trace:
        metrics = {m["name"]: {"value": rec["per_layer"][m["name"]], "unit": m["unit"]}
                   for m in spec["per_layer"]}
    else:
        e2e = dict(rec["end_to_end"], setup_s=rec["setup_s"])
        metrics = {m["name"]: {"value": e2e[m["name"]], "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    correct = rec["failed"] == 0 and all(
        q["digest"] is not None for q in rec["queries"].values())
    print(json.dumps({"correct": correct, "attempted": rec["attempted"],
                      "failed": rec["failed"], "metrics": metrics}))


def on_signal(signum, _frame):
    if CHILD is not None:
        CHILD.kill()
        CHILD.wait()
    sys.exit(128 + signum)


if __name__ == "__main__":
    signal.signal(signal.SIGTERM, on_signal)
    signal.signal(signal.SIGINT, on_signal)
    main()
