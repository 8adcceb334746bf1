#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a checkout. Builds the program and the harness from
source (perfbench/build.sbt, skipped while the sources are unchanged),
starts a fresh JVM with its own java.io.tmpdir and SPARK_LOCAL_DIRS under
perfbench/.runs/, and prints as its last stdout line one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are the end_to_end metrics of BENCHMARK.json, with --trace 1 the
per_layer ones. Exits non-zero if any result is wrong or the run fails.

--record DIR (gates_batch) also writes every query result
and its oracle SQL under DIR; see perfbench/validate.py.
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

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
RUNS = os.path.join(BENCH, ".runs")
BUILD = os.path.join(BENCH, ".build")
CLASSES = os.path.join(BENCH, "target", "scala-2.13", "classes")
WORKLOADS = ("rainstorm_hyfs", "gates_batch")
DEADLINE_S = 170  # the whole command, build excluded

ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def declared():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return spec["end_to_end"], spec["per_layer"]


def sources_stamp():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src"),
             os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        paths = [r] if os.path.isfile(r) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(r) for f in fs)
        for p in paths:
            h.update(p[len(ROOT):].encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build(spark_home):
    """Compile program + harness with sbt unless the sources are unchanged."""
    stamp = sources_stamp()
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.isdir(CLASSES) and os.path.exists(stamp_file) \
            and open(stamp_file).read() == stamp:
        return
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env["SPARK_HOME"] = spark_home
    # keep sbt's own temp files and JVM perf data inside the checkout
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env["TMPDIR"] = tmp
    env["SBT_OPTS"] = f"{env.get('SBT_OPTS', '')} -XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    log = os.path.join(BUILD, "sbt.log")
    with open(log, "w") as out:
        p = subprocess.Popen(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile"],
                             cwd=BENCH, env=env, stdout=out, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            rc = p.wait(timeout=850)
        except subprocess.TimeoutExpired:
            stop(p)
            fail("build timed out", 3)
    if rc != 0:
        sys.stderr.write(open(log).read()[-4000:])
        fail("build failed", 3)
    with open(stamp_file, "w") as f:
        f.write(stamp)


def spark_home():
    home = os.environ.get("SPARK_HOME")
    if not home:
        sub = shutil.which("spark-submit")
        if not sub:
            fail("SPARK_HOME is not set and spark-submit is not on PATH")
        home = os.path.dirname(os.path.dirname(os.path.realpath(sub)))
    return home


def stop(p):
    """Kill a child's whole process group and wait for it."""
    try:
        os.killpg(p.pid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    p.wait()


def run_jvm(workload, seed, seconds, trace, deadline, cpus=None, record=None):
    """One isolated JVM run; returns the harness's JSON plus leaked tmp entries."""
    name = f"{workload}-s{seed}-t{trace}-{os.getpid()}-{int(time.time() * 1000)}"
    run_dir = os.path.join(RUNS, name)
    tmp, local, work = (os.path.join(run_dir, d) for d in ("tmp", "local", "work"))
    for d in (tmp, local, work):
        os.makedirs(d)
    out_json = os.path.join(run_dir, "result.json")
    env = dict(os.environ)
    env["SPARK_LOCAL_DIRS"] = local
    env["SPARK_GRAFT_CPUS"] = str(cpus or os.environ.get("SPARK_GRAFT_CPUS") or os.cpu_count())
    cmd = ["java", "-XX:-UsePerfData", f"-Xmx{os.environ.get('SPARK_DRIVER_MEM', '4g')}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={tmp}",
            f"-Dperfbench.expected={os.path.join(BENCH, 'expected.json')}",
            "-cp", CLASSES + os.pathsep + os.path.join(spark_home(), "jars", "*"),
            "perfbench.Main", "--workload", workload, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", str(trace),
            "--data", os.path.join(BENCH, "data"), "--work", work, "--out", out_json]
    if record:
        cmd += ["--record", record]
    log = os.path.join(run_dir, "jvm.log")
    with open(log, "w") as lf:
        p = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=lf, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            rc = p.wait(timeout=max(1.0, deadline - time.time()))
        except subprocess.TimeoutExpired:
            stop(p)
            rc = None
    if rc != 0 or not os.path.exists(out_json):
        sys.stderr.write(open(log).read()[-6000:])
        shutil.rmtree(run_dir, ignore_errors=True)
        fail(f"{workload} run {'timed out' if rc is None else f'exited with {rc}'}", 1)
    with open(out_json) as f:
        res = json.load(f)
    res["leaked_tmp_entries"] = len(os.listdir(tmp))
    spans = os.path.join(work, "spans.jsonl")
    if os.path.exists(spans):
        shutil.copy(spans, os.path.join(RUNS, f"{workload}.spans.jsonl"))
    shutil.rmtree(run_dir, ignore_errors=True)
    return res


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record")
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("program sources (src/main/scala/graft) not found next to perfbench/")
    e2e, per_layer = declared()
    build(spark_home())
    deadline = time.time() + DEADLINE_S
    os.makedirs(RUNS, exist_ok=True)

    started = time.time()
    res = run_jvm(a.workload, a.seed, a.seconds, a.trace, deadline, record=a.record)
    run_s = time.time() - started

    skipped = []

    def extra_run(what, **kw):
        """One more untraced run for the traced report, if it fits the deadline."""
        if time.time() + 1.5 * run_s > deadline:
            print(f"perfbench: {what} skipped: not enough time left; its metrics "
                  "read 0 and trace.skipped_runs counts it", file=sys.stderr)
            skipped.append(what)
            return None
        return run_jvm(a.workload, a.seed, a.seconds, 0, deadline, **kw)

    attempted, failed = res["attempted"], res["failed"]
    for p in res["problems"]:
        print(f"perfbench: MISMATCH {p}", file=sys.stderr)
    e2e_values = res["metrics"]

    if a.trace == 0:
        values = {m["name"]: e2e_values[m["name"]] for m in e2e}
        units = {m["name"]: m["unit"] for m in e2e}
    else:
        layer = dict(res["layer"])
        layer["leaked_tmp_entries"] = res["leaked_tmp_entries"]
        # tracing overhead: traced minus one untraced run of the same seed
        untraced = extra_run("untraced")
        for m in e2e:
            n = m["name"]
            layer[f"trace.overhead.{n}"] = \
                e2e_values[n] - untraced["metrics"][n] if untraced else 0.0
        if untraced:
            attempted += untraced["attempted"]
            failed += untraced["failed"]
        # single-thread scaling baseline of the paper's job
        for n in ("op_ms", "records_per_s", "pass_s"):
            layer[f"scaling.{n}_1cpu"] = 0.0
        layer["scaling.records_per_s_speedup"] = 0.0
        one = extra_run("1cpu", cpus=1) if a.workload == "rainstorm_hyfs" else None
        if one:
            for n in ("op_ms", "records_per_s", "pass_s"):
                layer[f"scaling.{n}_1cpu"] = one["metrics"][n]
            layer["scaling.records_per_s_speedup"] = \
                e2e_values["records_per_s"] / one["metrics"]["records_per_s"]
            attempted += one["attempted"]
            failed += one["failed"]
        layer["trace.skipped_runs"] = len(skipped)
        missing = [m["name"] for m in per_layer if m["name"] not in layer]
        if missing:
            fail(f"per-layer metrics not produced: {missing}", 1)
        values = {m["name"]: layer[m["name"]] for m in per_layer}
        units = {m["name"]: m["unit"] for m in per_layer}

    summary = dict(e2e_values)
    summary["failed_ratio"] = failed / max(attempted, 1)
    summary["leaked_tmp_entries"] = res["leaked_tmp_entries"]
    print(f"perfbench {a.workload} seed={a.seed} trace={a.trace}: " +
          " ".join(f"{k}={v:.6g}" for k, v in summary.items()) +
          (f" skipped={','.join(skipped)}" if skipped else ""))
    correct = failed == 0
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed,
                      "metrics": {n: {"value": v, "unit": units[n]}
                                  for n, v in values.items()}}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
