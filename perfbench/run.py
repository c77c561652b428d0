#!/usr/bin/env python3
"""graft benchmark: one run of one workload.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the repository root. The first run in a checkout compiles graft
and the runner with sbt (perfbench/build.sbt) and caches the classpath in
.bench_build/; every run then starts one JVM directly. The JVM sets up,
writes every workload query's output at the gate scale (sf0.01), runs a
warm-up pass and then timed passes for S seconds at the workload's scale.
Afterwards the gate outputs are compared against DuckDB with
scripts/check_oracle.py.

The last line of stdout is one JSON object: correct, attempted, failed and
metrics (the end-to-end metrics with --trace 0, the per-layer metrics with
--trace 1). The exit code is non-zero if a query threw or an output check
failed. Workloads, metrics and the layer map are in perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("polysemy", "curation", "analytics")
JVM_TIMEOUT_S = 170

# java.base packages Spark reaches into on JDK 17 (as build.sbt's javaOptions)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def log(*parts):
    print(*parts, file=sys.stderr, flush=True)


def die(msg):
    log(f"perfbench: {msg}")
    sys.exit(2)


def source_stamp():
    """Hash of every file the build reads, so a changed tree rebuilds."""
    h = hashlib.sha256()
    for top in ("build.sbt", "project/build.properties", "src/main",
                "perfbench/build.sbt", "perfbench/project/build.properties",
                "perfbench/src"):
        path = os.path.join(ROOT, top)
        files = [path] if os.path.isfile(path) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def classpath():
    """Compile once per source tree; return the runtime classpath."""
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "classpath.stamp")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    env = dict(os.environ)
    env.setdefault("SBT_OPTS", " ".join([
        "-Dsbt.override.build.repos=true",
        "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories"),
        "-Dsbt.offline=true", "-Xmx4g"]))
    env.setdefault("COURSIER_MODE", "offline")
    t0 = time.time()
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.forcestart=false",
         "export bench/Runtime/fullClasspath"],
        cwd=HERE, env=env, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
        stderr=subprocess.STDOUT, text=True)
    lines = proc.stdout.strip().splitlines()
    if proc.returncode != 0 or not lines or ":" not in lines[-1]:
        log(proc.stdout[-4000:])
        die("build failed")
    log(f"perfbench: built in {time.time() - t0:.1f} s")
    with open(cp_file, "w") as f:
        f.write(lines[-1])
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return lines[-1]


def data_dirs():
    """The table directories TESTDATA.md lists, by scale factor."""
    path = os.path.join(ROOT, "TESTDATA.md")
    if not os.path.exists(path):
        die("TESTDATA.md not found")
    with open(path) as f:
        dirs = dict(re.findall(r"^\|\s*([0-9.]+)\s*\|\s*`([^`]+)`", f.read(), re.M))
    for sf in ("0.1", "0.01"):
        if sf not in dirs or not os.path.isdir(dirs[sf]):
            die(f"data dir for sf{sf} not found")
    return dirs["0.1"].rstrip("/"), dirs["0.01"].rstrip("/")


def jvm_command(cp, main_args):
    with open("/proc/meminfo") as f:
        kb = int(re.search(r"MemTotal:\s+(\d+)", f.read()).group(1))
    heap = min(8, max(2, kb // 2097152))
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # A fixed heap and young generation keep G1 from resizing on pause
    # times, so the peak RSS repeats from run to run.
    return ["java", f"-Xms{heap}g", f"-Xmx{heap}g", "-Xmn1g", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            *opens, "-cp", cp, "perfbench.Main", *main_args]


def jvm_env():
    env = dict(os.environ)
    env["SPARK_GRAFT_CPUS"] = str(os.cpu_count() or 4)
    env["SPARK_LOCAL_DIRS"] = os.path.join(BUILD, "tmp", "spark-local")
    return env


def run_jvm(cmd, timeout):
    """Run the JVM in its own process group, output to stderr; kill the
    whole group on timeout and wait for it."""
    proc = subprocess.Popen(cmd, env=jvm_env(), stdin=subprocess.DEVNULL,
                            stdout=sys.stderr, stderr=sys.stderr,
                            cwd=ROOT, start_new_session=True)
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        die(f"JVM exceeded {timeout} s")


def check_outputs(gate, check_dir):
    """scripts/check_oracle.py over the gate-scale outputs; FAIL lines."""
    if not os.path.exists(os.path.join(check_dir, "oracle_sql.json")):
        return ["no gate outputs"]
    proc = subprocess.run(
        [sys.executable, os.path.join(ROOT, "scripts", "check_oracle.py"), gate, check_dir],
        stdin=subprocess.DEVNULL, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True)
    log(proc.stdout.rstrip())
    fails = [ln for ln in proc.stdout.splitlines() if ln.startswith("FAIL")]
    if proc.returncode != 0 and not fails:
        fails = [f"check_oracle exited {proc.returncode}"]
    return fails


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala")):
        die("graft sources not found next to perfbench/")
    sf01, sf001 = data_dirs()
    os.makedirs(BUILD, exist_ok=True)
    cp = classpath()
    main_args = ["--workload", args.workload, "--seed", str(args.seed),
                 "--seconds", str(args.seconds), "--trace", str(args.trace),
                 "--data", sf01, "--gate", sf001]
    out = os.path.join(BUILD, "runs", f"{args.workload}-{args.seed}-{args.trace}")
    shutil.rmtree(out, ignore_errors=True)
    main_args += ["--out", out]

    code = run_jvm(jvm_command(cp, main_args), JVM_TIMEOUT_S)
    result_file = os.path.join(out, "result.json")
    if code != 0 or not os.path.exists(result_file):
        die(f"JVM exited {code} without a result")
    with open(result_file) as f:
        res = json.load(f)
    fails = res["failures"] + check_outputs(sf001, os.path.join(out, "check"))
    for line in fails:
        log(f"perfbench: FAILED {line}")

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    source = res["layers"] if args.trace else res["metrics"]
    metrics = {}
    for m in wanted:
        value = source.get(m["name"])
        if value is None:
            die(f"metric {m['name']} missing")
        metrics[m["name"]] = {"value": value, "unit": m["unit"]}
        print(f"{m['name']:32s} {value:16.6f} {m['unit']}")
    for k, v in sorted(res["info"].items()):
        print(f"{'info.' + k:32s} {v:16.6f}")
    attempted = max(1, int(res["attempted"]))
    print(f"{'fail_frac':32s} {len(fails) / attempted:16.6f} ratio")
    if args.trace:
        print(f"trace: {os.path.relpath(os.path.join(out, 'trace.json'), ROOT)}")
    print(json.dumps({"correct": not fails, "attempted": attempted,
                      "failed": len(fails), "metrics": metrics}))
    sys.exit(1 if fails else 0)


if __name__ == "__main__":
    main()
