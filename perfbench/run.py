#!/usr/bin/env python3
"""The benchmark's one command.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a checkout. It builds the engine together with the
harness (perfbench/build.sbt) on first use, generates the workload's
inputs from the seed, runs the workload closed-loop with one client on
local[nproc] in a fresh JVM, checks every op's result against DuckDB,
and prints one JSON line last: the end-to-end metrics with --trace 0,
the per-layer metrics of a traced run with --trace 1.

Workloads: gesture_session, pipeline_tail (see perfbench/METRICS.md).
The build stays in .bench_build/sbt; a run's own files go to
.bench_build/runs/ and are removed when it ends.
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

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen      # noqa: E402
import metrics  # noqa: E402
import oracle   # noqa: E402

WORKLOADS = ("gesture_session", "pipeline_tail")
JVM_TIMEOUT_S = 165
HEAP = "3g"
# Spark on JDK 17 outside spark-submit (the engine's build.sbt uses the same list)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar"]


def log(*a):
    print(*a, file=sys.stderr, flush=True)


def sources(root):
    files = [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for d in (os.path.join(root, "src", "main"), os.path.join(HERE, "src")):
        files += sorted(glob.glob(os.path.join(d, "**", "*.*"), recursive=True))
    return files


def build(root, build_dir):
    """Compile engine + harness once per source state; returns the classpath."""
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        raise SystemExit("perfbench: the engine sources (src/main/scala/graft) are missing; "
                         "run from the root of a graft checkout")
    h = hashlib.sha1()
    for f in sources(root):
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = os.path.join(build_dir, "sbt", "sources.sha1")
    cp_file = os.path.join(build_dir, "sbt", "classpath.txt")
    if os.path.exists(stamp) and os.path.exists(cp_file) \
            and open(stamp).read() == h.hexdigest():
        return open(cp_file).read().strip()
    log("perfbench: building engine + harness (sbt)")
    with open(os.path.join(root, "build.sbt")) as fh:
        jars = re.search(r'unmanagedBase\s*:=\s*file\("([^"]+)"\)', fh.read()).group(1)
    env = dict(os.environ, COURSIER_MODE="offline", GRAFTBENCH_SPARK_JARS=jars,
               SBT_OPTS="-Dsbt.override.build.repos=true -Dsbt.offline=true "
                        "-Dsbt.server.autostart=false -Xmx2g "
                        + ("-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories")
                           if os.path.exists(os.path.expanduser("~/.sbt/repositories")) else ""))
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "exportCp"],
                       cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr)
    if r.returncode != 0:
        raise SystemExit(f"perfbench: build failed ({r.returncode})")
    with open(stamp, "w") as fh:
        fh.write(h.hexdigest())
    return open(cp_file).read().strip()


def run_jvm(cp, run_dir, args):
    """One JVM per run; its own artifact root, Spark local dirs and tmp."""
    dirs = {k: os.path.join(run_dir, k) for k in ("rt", "local", "tmp", "out")}
    for d in dirs.values():
        os.makedirs(d, exist_ok=True)
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={dirs['tmp']}",
           f"-Dspark.local.dir={dirs['local']}", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "graftbench.Main", *args, "--out", dirs["out"]]
    env = dict(os.environ, SPARK_GRAFT_RT_DIR=dirs["rt"], SPARK_LOCAL_DIRS=dirs["local"])
    with open(os.path.join(run_dir, "jvm.log"), "w") as out:
        proc = subprocess.Popen(cmd, env=env, stdout=out, stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            code = "timeout"
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if code != 0:
        with open(os.path.join(run_dir, "jvm.log")) as fh:
            log(fh.read()[-4000:])
        raise SystemExit(f"perfbench: JVM failed ({code})")
    return dirs["out"]


def read_jsonl(path):
    with open(path) as fh:
        return [json.loads(line) for line in fh if line.strip()]


def check_results(ops, orc):
    """verdicts[op id] (True/False/None) plus cross-iteration identity:
    every op with the same key must return the same rows."""
    verdicts, first = {}, {}
    for o in ops:
        if not o["ok"]:
            continue
        try:
            v = orc.check(o)
        except Exception as e:  # a broken check counts against the op
            log(f"perfbench: check of {o['kind']} failed: {e}")
            v = False
        rows = json.dumps(o["rows"], sort_keys=True)
        if v is not None and first.setdefault(o["key"], rows) != rows:
            log(f"perfbench: {o['kind']} {o['key']} differs between iterations")
            v = False
        verdicts[o["id"]] = v
        if v is False:
            log(f"perfbench: wrong result: {o['kind']} {o['key']}: {str(o['rows'])[:300]}")
    return verdicts


def main(argv):
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    # a terminated run still stops its JVM and removes its files
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    root = os.getcwd()
    build_dir = os.path.join(root, ".bench_build")  # build.sbt writes to ../.bench_build/sbt
    cp = build(root, build_dir)

    run_dir = os.path.join(build_dir, "runs", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        t0 = time.time()
        data = os.path.join(run_dir, "data")
        gen.generate(data, a.seed)
        out = run_jvm(cp, run_dir, ["--workload", a.workload, "--seed", str(a.seed),
                                    "--seconds", str(a.seconds), "--trace", str(a.trace),
                                    "--data", data])
        meta = json.load(open(os.path.join(out, "meta.json")))
        ops = read_jsonl(os.path.join(out, "ops.jsonl"))
        verdicts = check_results(ops, oracle.Oracle(data, meta))
        result = summarize(a, meta, ops, verdicts, out, setup_s=meta["setup_end_ms"] / 1000 - t0)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result))


def summarize(a, meta, ops, verdicts, out, setup_s):
    timed_phases = ("timed", "traced") if a.trace else ("timed",)
    timed = [o for o in ops if o["phase"] in timed_phases]
    warm = [o for o in ops if o["phase"] == "warmup"]
    attempted, failed = metrics.count_failures(timed, verdicts)
    warm_failed = metrics.count_failures(warm, verdicts)[1]
    builds = meta["artifact_builds_in_timed_run"]
    good = [o for o in timed if o["ok"] and verdicts.get(o["id"]) is not False]
    correct = failed == 0 and warm_failed == 0 and builds == 0 and bool(good)
    for o in timed + warm:
        if not o["ok"]:
            log(f"perfbench: {o['phase']} op {o['kind']} threw: {o['error']}")
    if builds:
        log(f"perfbench: {builds} artifact build(s) inside the timed run")

    untraced = [o for o in good if o["phase"] == "timed"]
    e2e, p = metrics.end_to_end(untraced or good, meta["input_rows"], setup_s,
                                meta["peak_heap_mb"])
    log(f"perfbench: {a.workload} seed={a.seed} n={len(untraced)} tail=p{p} "
        f"failed_ratio={failed / max(attempted, 1):.4f} ({failed}/{attempted}) "
        + " ".join(f"{k}={v:.4g}" for k, (v, _) in e2e.items()))
    if a.trace:
        traced = [o for o in good if o["phase"] == "traced"]
        layer = metrics.per_layer(a.workload, traced, read_jsonl(os.path.join(out, "spans.jsonl")),
                                  read_jsonl(os.path.join(out, "events.jsonl")), meta,
                                  meta["cores"], untraced)
        ms = {k: {"value": v, "unit": metrics.unit_of(k)} for k, v in layer.items()}
    else:
        ms = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    return {"correct": correct, "attempted": attempted, "failed": failed, "metrics": ms}


if __name__ == "__main__":
    main(sys.argv[1:])
