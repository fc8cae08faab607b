#!/usr/bin/env python3
"""graft benchmark: one run of one workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. The run builds the program and the harness
from source when they are not built yet (offline sbt, before any JVM is
measured), generates the seeded inputs once per seed, starts one JVM that
warms up and then times whole rounds of the workload's operations (as many
as fit --seconds at the nominal round length), checks every operation's
output against a computation made apart from the program, and prints one
JSON object as the last line.

With --trace 0 the metrics are the end-to-end ones; with --trace 1 a
listener-traced run reports the per-layer metrics and also writes them to
perfbench/trace/<workload>.json.
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
from collections import defaultdict

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402

BUILD = os.path.join(ROOT, ".bench_build")
HARNESS = os.path.join(HERE, "harness")
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
CPUS = len(os.sched_getaffinity(0))  # nproc
HEAP = "2g"
# Timed rounds per second of --seconds, per workload. After one untimed
# warm-up round (which also writes the outputs the checks read, and
# JIT-compiles and code-generates every operation), a run times
# max(1, round(seconds * rate)) whole rounds: a count fixed by --seconds, so
# every run of a workload does the same work whatever the host's speed. One
# warm round takes about 8.5 s on series_fleet and 11.5 s on query_floor on
# a 4-vCPU host; query_floor times two, because with one its items_per_s
# spread over ten runs was 0.20.
ROUNDS_PER_S = {"series_fleet": 0.1, "query_floor": 0.2}
JVM_TIMEOUT_S = 160
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if home and os.path.isdir(os.path.join(home, "jars")):
        return home
    submit = shutil.which("spark-submit")
    if submit:
        home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
        if os.path.isdir(os.path.join(home, "jars")):
            return home
    raise SystemExit("[perfbench] no Spark runtime: set SPARK_HOME")


def source_stamp():
    h = hashlib.sha256()
    for base in (PROGRAM_SRC, HARNESS):
        for d, dirs, files in os.walk(base):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project") or d != HARNESS)
            for f in sorted(files):
                if f.endswith((".scala", ".sbt", ".properties")):
                    p = os.path.join(d, f)
                    h.update(os.path.relpath(p, ROOT).encode())
                    with open(p, "rb") as fh:
                        h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile program + harness with offline sbt; returns the runtime classpath."""
    stamp_file = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath")
    stamp = source_stamp()
    if os.path.exists(stamp_file) and os.path.exists(cp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ, SPARK_HOME=spark_home())
    repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
    opts = env.get("SBT_OPTS", "")
    for flag in ("-Dsbt.offline=true", "-Dsbt.override.build.repos=true",
                 f"-Dsbt.repository.config={repos}", "-Dsbt.server.autostart=false"):
        if flag.split("=")[0] not in opts:
            opts += " " + flag
    env["SBT_OPTS"] = opts.strip()
    env.setdefault("COURSIER_MODE", "offline")
    log("building program + harness (sbt, offline)")
    t0 = time.time()
    p = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"],
                       cwd=HARNESS, env=env, capture_output=True, text=True, timeout=840)
    if p.returncode != 0:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        raise SystemExit(f"[perfbench] build failed (sbt exit {p.returncode})")
    cp = [ln for ln in p.stdout.splitlines() if ln.strip() and not ln.startswith("[")][-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    log(f"built in {time.time() - t0:.1f}s")
    return cp


def inputs(workload, seed):
    with open(os.path.join(HERE, "gen.py"), "rb") as f:
        version = hashlib.sha256(f.read()).hexdigest()[:12]
    d = os.path.join(BUILD, "inputs", f"{workload}-{seed}-{version}")
    if not os.path.isdir(d):
        t0 = time.time()
        gen.generate(workload, seed, d)
        log(f"generated inputs for {workload} seed {seed} in {time.time() - t0:.1f}s")
    with open(os.path.join(d, "truth.json")) as f:
        return d, json.load(f)


def rounds(workload, seconds):
    return max(1, round(seconds * ROUNDS_PER_S[workload]))


def run_jvm(cp, workload, in_dir, truth, work, seconds, trace):
    for sub in ("local", "tmp", "checkpoint", "warehouse", "out"):
        os.makedirs(os.path.join(work, sub))
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "local"))
    env.pop("SPARK_GRAFT_CPUS", None)
    out = os.path.join(work, "out")
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"] + ADD_OPENS +
           ["-cp", cp, "perfbench.Harness", "--workload", workload, "--inputs", in_dir,
            "--out", out, "--work", work, "--rounds", str(rounds(workload, seconds)),
            "--trace", str(trace), "--cpus", str(CPUS),
            "--series", str(truth["series_count"])])
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as lf:
        launched = time.time()
        proc = subprocess.Popen(cmd + ["--launched", repr(launched)], stdout=lf, stderr=lf, env=env)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = "timeout"
    with open(log_path, errors="replace") as f:
        lines = f.read().splitlines()
    for ln in lines:
        if ln.startswith("[perfbench]"):
            print(ln, file=sys.stderr)
    if rc != 0:
        sys.stderr.write("\n".join(lines[-40:]) + "\n")
        raise SystemExit(f"[perfbench] JVM ended with {rc}")
    with open(os.path.join(out, "result.json")) as f:
        return json.load(f), out


def end_to_end(res, failed_ops):
    """Over the timed executions that did not fail: items per second of
    operation wall time, the median operation, process CPU per item, and the
    peak heap left after a collection."""
    ok = [e for e in res["executions"] if e["err"] is None and e["op"] not in failed_ops]
    items = sum(e["items"] for e in ok)
    wall_s = sum(e["wall_ms"] for e in ok) / 1e3
    return {
        "setup_s": (res["setup_s"], "s"),
        "items_per_s": (items / wall_s if wall_s else 0.0, "items/s"),
        "op_p50_ms": (statistics.median(e["wall_ms"] for e in ok) if ok else 0.0, "ms"),
        "cpu_ms_per_item": (sum(e["cpu_ms"] for e in ok) / items if items else 0.0, "ms/item"),
        "peak_heap_mb": (res["peak_heap_mb"], "MB"),
    }


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(ROUNDS_PER_S))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    if not os.path.isfile(os.path.join(PROGRAM_SRC, "graft", "SparkEntry.scala")):
        raise SystemExit("[perfbench] program sources not found: run from the root of a graft checkout")
    import checks  # it loads the compare of the checkout's tools/check.py
    cp = build()
    in_dir, truth = inputs(a.workload, a.seed)
    work = os.path.join(BUILD, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    try:
        t0 = time.time()
        res, out = run_jvm(cp, a.workload, in_dir, truth, work, a.seconds, a.trace)
        t1 = time.time()
        try:
            verdicts = checks.check(a.workload, in_dir, truth, out, a.seed, full_oracles=bool(a.trace))
        except Exception as e:  # noqa: BLE001 - a check that cannot run fails every operation
            verdicts = {x["op"]: (False, f"check could not run: {e!r}") for x in res["executions"]}
        log(f"JVM {t1 - t0:.1f}s, checks {time.time() - t1:.1f}s")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    per_op = defaultdict(list)
    for e in res["executions"]:
        per_op[e["op"]].append(e["wall_ms"])
    log(f"setup {res['setup_s']:.2f}s, {res['rounds']} rounds in {res['timed_s']:.2f}s; op median ms: "
        + ", ".join(f"{k} {statistics.median(v):.0f}" for k, v in per_op.items()))
    for op in per_op:
        verdicts.setdefault(op, (False, "no check covers this operation"))
    bad = {op: msg for op, (good, msg) in verdicts.items() if not good}
    for op, (good, msg) in sorted(verdicts.items()):
        log(f"check {op}: {'ok' if good else 'FAIL'} {msg}")
    execs = res["executions"]
    failed = sum(1 for e in execs if e["err"] is not None or e["op"] in bad)
    if a.trace:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            units = {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}
        metrics = {k: {"value": v, "unit": units[k]} for k, v in res["layers"].items()}
        os.makedirs(os.path.join(HERE, "trace"), exist_ok=True)
        e2e = end_to_end(res, bad)
        with open(os.path.join(HERE, "trace", f"{a.workload}.json"), "w") as f:
            json.dump({"workload": a.workload, "seed": a.seed, "seconds": a.seconds,
                       "traced_items_per_s": e2e["items_per_s"][0], "metrics": metrics}, f, indent=1)
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in end_to_end(res, bad).items()}
    print(json.dumps({"correct": not bad, "attempted": len(execs), "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
