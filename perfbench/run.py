#!/usr/bin/env python3
"""graft's benchmark: one workload, one seed, one JSON line of metrics.

    python3 perfbench/run.py --workload map2db --seed 1 --seconds 5 --trace 0

Run from the root of a graft checkout. The first run builds the
benchmark (graft's sources plus perfbench/src) with sbt into
perfbench/target and generates the query input tables into
.bench_build/; later runs reuse both. Each run then starts one JVM
(perfbench.Main) that sets up a local Spark session on every core and
runs the workload as a single closed-loop client. corpus_prep's
outputs are compared here, bit for bit, with their DuckDB oracles;
map2db's outputs are checked in the JVM against the map generator's
expectations. The last line of stdout is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics of BENCHMARK.json, --trace 1
its per-layer metrics (and writes the run's spans under
.bench_build/trace/).
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
CLASSPATH = os.path.join(BUILD, "classpath.txt")
# hash of the sources the recorded classpath was compiled from
SOURCES_HASH = os.path.join(BUILD, "sources.sha256")
# query input: the generated tables' scale factor and generator seed
DATA_SF = 0.03
DATA_SEED = 42
DATA = os.path.join(BUILD, f"data_sf{DATA_SF}_seed{DATA_SEED}")
DEADLINE_S = 170
BUILD_TIMEOUT_S = 800
JVM_HEAP = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]
WORKLOADS = ("map2db", "corpus_prep")

sys.path.insert(0, HERE)


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def run_bounded(cmd, cwd, env, timeout, logfile):
    """Runs cmd in its own process group, killing the group on timeout."""
    with open(logfile, "wb") as out:
        p = subprocess.Popen(cmd, cwd=cwd, env=env, stdout=out,
                             stderr=subprocess.STDOUT, start_new_session=True)
        try:
            return p.wait(timeout=max(1, timeout))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            return None
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()


def tail(path, n=40):
    with open(path, errors="replace") as f:
        return "".join(f.readlines()[-n:])


def sources_digest(root=ROOT):
    """Hash of every file the benchmark's build compiles or reads."""
    here = os.path.join(root, "perfbench")
    files = [os.path.join(here, "build.sbt"),
             os.path.join(here, "project", "build.properties")]
    for top in (os.path.join(root, "src", "main"), os.path.join(here, "src")):
        for d, dirs, names in os.walk(top):
            dirs.sort()
            files += [os.path.join(d, n) for n in sorted(names)]
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, root).encode() + b"\0")
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def built():
    """Whether the recorded build is of the current sources and its
    classes still exist."""
    if not (os.path.isfile(CLASSPATH) and os.path.isfile(SOURCES_HASH)):
        return False
    with open(SOURCES_HASH) as f:
        if f.read().strip() != sources_digest():
            return False
    ours = [p for p in open(CLASSPATH).read().strip().split(os.pathsep)
            if p.startswith(HERE)]
    return bool(ours) and all(os.path.exists(p) for p in ours)


def ensure_build():
    if built():
        return
    digest = sources_digest()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx2g")
    logfile = os.path.join(BUILD, "build.log")
    log("building the benchmark with sbt")
    rc = run_bounded(
        ["sbt", "--batch", "-Dsbt.log.noformat=true",
         "-Dsbt.server.autostart=false", "compile",
         "export Runtime/fullClasspath"],
        HERE, env, BUILD_TIMEOUT_S, logfile)
    if rc != 0:
        fail(f"build failed (rc={rc}):\n{tail(logfile)}")
    classes = os.path.join(HERE, "target")
    lines = [ln.strip() for ln in open(logfile, errors="replace")
             if ln.startswith(classes)]
    if not lines:
        fail(f"no classpath in the build output:\n{tail(logfile)}")
    with open(CLASSPATH + ".tmp", "w") as f:
        f.write(lines[-1])
    os.replace(CLASSPATH + ".tmp", CLASSPATH)
    with open(SOURCES_HASH, "w") as f:
        f.write(digest)


def ensure_data():
    marker = os.path.join(DATA, "_OK")
    if os.path.isfile(marker):
        return
    import gen_data
    shutil.rmtree(DATA, ignore_errors=True)
    log(f"generating query tables at sf{DATA_SF}")
    gen_data.generate(DATA, DATA_SF, DATA_SEED)
    open(marker, "w").close()


def java():
    home = os.environ.get("JAVA_HOME")
    exe = os.path.join(home, "bin", "java") if home else "java"
    return exe if not home or os.path.isfile(exe) else "java"


def run_jvm(args, work, deadline):
    cp = open(CLASSPATH).read().strip()
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = [java(), f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", *opens,
           f"-Djava.io.tmpdir={tmp}",
           f"-Dspark.local.dir={os.path.join(work, 'spark-local')}",
           f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
           f"-Dderby.system.home={work}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           "-cp", cp, "perfbench.Main",
           "--workload", args.workload, "--seed", str(args.seed),
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--work", work, "--data", DATA, "--cores", str(cores())]
    logfile = os.path.join(work, "jvm.log")
    rc = run_bounded(cmd, work, dict(os.environ),
                     deadline - time.monotonic(), logfile)
    result = os.path.join(work, "result.json")
    if rc != 0 or not os.path.isfile(result):
        fail(f"benchmark JVM failed (rc={rc}):\n{tail(logfile)}")
    return load_json(result)


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def check_queries(report, work):
    """Fills each query op's `check` from the DuckDB oracle."""
    import check
    sql = load_json(os.path.join(work, "oracle_sql.json"))
    oracle = check.Oracle(DATA, sql, os.path.join(DATA, "oracle"))
    for p in report["passes"]:
        for op in p["ops"]:
            if op["error"] is None:
                op["check"] = oracle.check(op["key"], op["out"])


def load_json(path):
    with open(path) as f:
        return json.load(f)


def known_failures():
    return load_json(os.path.join(HERE, "known_failures.json"))


def summarize(report, spec, traced):
    ops = [op for p in report["passes"] for op in p["ops"]]
    bad = [op for op in ops if op["error"] or op["check"]]
    known = known_failures()
    unexpected = []
    for op in bad:
        cause = op["error"] or op["check"]
        # a listed key may only mismatch its oracle, and only as recorded
        listed = (not op["error"] and op["key"] in known
                  and op["check"] == known[op["key"]]["mismatch"])
        log(f"{'known ' if listed else ''}failure {op['key']}#{op['call']}: "
            f"{cause}")
        if not listed:
            unexpected.append(op)
    if traced:
        layer = report["per_layer"]
        values = {m["name"]: layer.get(m["name"], 0.0)
                  for m in spec["per_layer"]}
        units = {m["name"]: m["unit"] for m in spec["per_layer"]}
    else:
        latencies = [op["latency_s"] for op in ops]
        values = {
            "setup_s": statistics.median(report["setup_cpu_s"]),
            "cpu_s": statistics.median(p["cpu_s"] for p in report["passes"]),
            "path_cpu_s": statistics.median(
                p["path_cpu_s"] for p in report["passes"]),
            "ok_frac": (len(ops) - len(bad)) / len(ops),
            "out_bytes_per_in_byte": report["out_per_in"],
        }
        units = {m["name"]: m["unit"] for m in spec["end_to_end"]}
        by_op = {}
        for op in ops:
            by_op.setdefault(f"{op['key']}#{op['call']}", []).append(
                op["latency_s"])
        log("median op latency: " + ", ".join(
            f"{k} {statistics.median(v):.2f}s" for k, v in by_op.items()))
        log("pass wall (cpu, path cpu): " + ", ".join(
            f"{p['wall_s']:.2f}s ({p['cpu_s']:.2f}s, {p['path_cpu_s']:.2f}s)"
            for p in report["passes"]))
        log("set-up wall (cpu): " + ", ".join(
            f"{w:.2f}s ({c:.2f}s)"
            for w, c in zip(report["setup_s"], report["setup_cpu_s"])))
        log(f"output check: {report['check_s']:.2f}s")
        log(f"{len(report['passes'])} passes, {len(ops)} ops, "
            f"{len(report['setup_s'])} set-ups; op latency over "
            f"{len(latencies)} samples: median "
            f"{statistics.median(latencies):.3f} s, geometric mean "
            f"{statistics.geometric_mean(latencies):.3f} s")
    return {
        "correct": not unexpected,
        "attempted": len(ops),
        "failed": len(bad),
        "metrics": {k: {"value": v, "unit": units[k]}
                    for k, v in values.items()},
    }


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    deadline = time.monotonic() + DEADLINE_S
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail(f"no graft sources under {ROOT}; run from a graft checkout")
    spec = load_json(os.path.join(ROOT, "BENCHMARK.json"))
    ensure_build()
    if args.workload != "map2db":
        ensure_data()
    # time spent building and generating is not the run's to measure
    deadline = max(deadline, time.monotonic() + 120)
    work = os.path.join(BUILD, "runs", f"{args.workload}-t{args.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    report = run_jvm(args, work, deadline)
    if args.workload != "map2db":
        check_queries(report, work)
    result = summarize(report, spec, args.trace == 1)
    if args.trace == 1:
        traces = os.path.join(BUILD, "trace")
        os.makedirs(traces, exist_ok=True)
        shutil.copy(os.path.join(work, "spans.json"), os.path.join(
            traces, f"{args.workload}-seed{args.seed}.spans.json"))
    shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
