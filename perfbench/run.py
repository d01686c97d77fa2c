#!/usr/bin/env python3
"""graft benchmark runner.

    python3 perfbench/run.py --workload <query_mix|stream_replay>
        --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds graft from source
together with the harness (``perfbench/build.sbt``); later runs reuse the
build while the sources are unchanged. Each run generates its inputs
from the seed, starts one benchmark JVM, checks every output, and prints
one JSON object as its last line: end-to-end metrics with ``--trace 0``,
per-layer metrics with ``--trace 1``. See ``perfbench/README.md``.
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
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402

CPUS = 4
HEAP = "8g"
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 600

# inputs per workload; see README.md for why these sizes
SIZES = {
    "query_mix": {"sf": 0.002},
    "stream_replay": {"sequences": 10, "mean_rows": 150, "bad_share": 0.01,
                      "changesets": 400},
}

# metric names and units come from BENCHMARK.json, the one list of them
with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    _SPEC = json.load(_fh)
END_TO_END = {m["name"]: m["unit"] for m in _SPEC["end_to_end"]}
PER_LAYER = {m["name"]: m["unit"] for m in _SPEC["per_layer"]}

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Hash of everything the build reads, so a changed tree rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")]
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile graft and the harness; returns the runtime classpath."""
    cp_file = os.path.join(HERE, "target", "classpath.txt")
    stamp_file = os.path.join(HERE, "target", "source.stamp")
    stamp = source_stamp()
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                with open(cp_file) as cf:
                    return cf.read().strip()
    env = dict(os.environ, COURSIER_MODE="offline")
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Xmx3g")
    os.makedirs(os.path.join(HERE, "target"), exist_ok=True)
    log("building graft and the harness (first run in this tree)")
    with open(os.path.join(HERE, "target", "build.log"), "w") as out:
        proc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "writeClasspath"], cwd=HERE, env=env, stdout=out,
            stderr=subprocess.STDOUT, timeout=BUILD_TIMEOUT_S,
            stdin=subprocess.DEVNULL)
    if proc.returncode != 0 or not os.path.exists(cp_file):
        raise RuntimeError("build failed, see perfbench/target/build.log")
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    with open(cp_file) as cf:
        return cf.read().strip()


def make_inputs(workload, seed, data):
    size = SIZES[workload]
    if workload == "query_mix":
        gen.write_tables(data, seed, size["sf"])
        return None
    return gen.write_backlog(data, seed, size["sequences"], size["mean_rows"],
                             size["bad_share"], size["changesets"])


def run_jvm(cp, workload, seed, seconds, trace, run_dir):
    work = os.path.join(run_dir, "work")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(work, exist_ok=True)
    os.makedirs(tmp, exist_ok=True)
    report = os.path.join(run_dir, "report.json")
    cmd = ["java", f"-Xmx{HEAP}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={tmp}", f"-Dderby.system.home={work}",
            f"-Dderby.stream.error.file={work}/derby.log",
            "-cp", cp, "graftbench.Main",
            "--workload", workload, "--data", os.path.join(run_dir, "data"),
            "--work", work, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", str(trace), "--report", report]
    size = SIZES[workload]
    if workload == "stream_replay":
        cmd += ["--sequences", str(size["sequences"]),
                "--changesets", str(size["changesets"])]
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(CPUS),
               SPARK_LOCAL_DIRS=os.path.join(tmp, "spark"))
    with open(os.path.join(run_dir, "jvm.log"), "w") as out:
        proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=out,
                                stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            raise RuntimeError(f"benchmark JVM timed out after {JVM_TIMEOUT_S}s")
        finally:
            if proc.poll() is None:  # timeout or a signal: stop the JVM
                proc.kill()
                proc.wait()
    if code != 0 or not os.path.exists(report):
        raise RuntimeError(f"benchmark JVM exited {code}, see {out.name}")
    with open(report) as fh:
        return json.load(fh)


def fastest(passes, part=None):
    """Sum over the ops (of one part, if given) of each op's fastest time
    in the run's timed passes: later passes are warmer, and an op that
    another tenant on the machine slowed in one pass drops out."""
    best = {}
    for p in passes:
        for o in p["ops"]:
            if part is None or o["part"] == part:
                best[o["name"]] = min(o["s"], best.get(o["name"], o["s"]))
    return sum(best.values())


def end_to_end(rep, start, gen_s):
    """``start``: this script's wall clock once the build is done."""
    setup = rep["setup"]
    passes = rep["passes"]
    # each op's (or micro-batch's) fastest latency over the passes, as in
    # pass_s, then their geometric mean: every op weighs the same, so the
    # slowest ops do not dominate it as they dominate pass_s
    groups = {}
    for p in passes:
        for g, ops in p["samples_ms"].items():
            best = groups.setdefault(g, {})
            for k, ms in ops.items():
                best[k] = min(ms, best.get(k, ms))
    fastest_ms = [ms for b in groups.values() for ms in b.values()]
    m = {
        "setup_s": setup["first_op_epoch_s"] - start,
        "pass_s": fastest(passes),
        "op_geomean_ms": statistics.geometric_mean(fastest_ms),
        "retained_heap_mb": rep["retained_heap_mb"],
    }
    detail = {"passes": [round(p["wall_s"], 3) for p in passes],
              "steal_jiffies": [p["steal_jiffies"] for p in passes],
              "op_fastest_ms": groups,
              "op_max_ms": max(max(ops.values()) for p in passes
                               for ops in p["samples_ms"].values()),
              "gen_s": gen_s, "session_s": setup["session_s"],
              "warmup_s": setup["warmup_s"],
              "retained_s": rep["retained_s"], "gate_s": rep["gate_s"]}
    return m, detail


def main():
    # a SIGTERM unwinds like Ctrl-C, so the JVM is stopped and waited for
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt")) and
            os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        log("graft sources not found next to perfbench/; run from a full checkout")
        return 2

    try:
        cp = build()
    except Exception as e:  # noqa: BLE001
        log(str(e))
        return 3

    run_dir = os.path.join(HERE, "out", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    data = os.path.join(run_dir, "data")
    try:
        start = time.time()
        truth = make_inputs(args.workload, args.seed, data)
        gen_s = time.time() - start

        rep = run_jvm(cp, args.workload, args.seed, args.seconds, args.trace,
                      run_dir)
        jvm_end = time.time()
        gate = rep["gate"]
        if args.workload == "query_mix":
            gate_fails = checks.gate_query_mix(ROOT, data, gate)
        else:
            gate_fails = checks.gate_stream_replay(gate, truth)
        failures = rep["failures"] + gate_fails
        check_s = time.time() - jvm_end

        if args.trace:
            got = rep["layers"]["metrics"]
            got["workload.speedup_4v1"] = (rep["layers"]["one_core_pass_s"]
                                           / rep["layers"]["untraced_pass_s"])
            for part in "abc":
                got[f"workload.part_{part}_s"] = fastest(rep["passes"], part)
            # a layer the workload never calls reads 0 (see README.md)
            metrics = {k: {"value": float(got.get(k, 0.0)), "unit": u}
                       for k, u in PER_LAYER.items()}
            detail = {"ops": rep["layers"]["ops"]}
        else:
            vals, detail = end_to_end(rep, start, gen_s)
            metrics = {k: {"value": float(vals[k]), "unit": u}
                       for k, u in END_TO_END.items()}
        attempted = int(rep["attempted"])
        detail["jvm_exit_s"] = jvm_end - rep["end_epoch_s"]
        detail["check_s"] = check_s
        detail["failed"] = failures
        detail["failed_frac"] = len(failures) / max(attempted, 1)
        out_dir = os.path.join(HERE, "out", f"last-{args.workload}")
        shutil.rmtree(out_dir, ignore_errors=True)
        os.makedirs(out_dir)
        for f in ("report.json", "jvm.log", "work/spans.json"):
            if os.path.exists(os.path.join(run_dir, f)):
                shutil.copy(os.path.join(run_dir, f), out_dir)
    except Exception as e:  # noqa: BLE001
        log(f"run failed: {e}")
        return 4
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    print(json.dumps({"detail": detail}, default=str))
    print(json.dumps({"correct": not failures, "attempted": attempted,
                      "failed": len(failures), "metrics": metrics}))
    return 0 if not failures else 1


if __name__ == "__main__":
    sys.exit(main())
