#!/usr/bin/env python3
"""The repo benchmark: the events-verification job, its streaming twin and
the curation tier, run end to end in a fresh JVM on ``local[1]``.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Run from the root of a checkout. The first run builds the program from the
checkout's sources (``perfbench/build.sbt`` depends on the root build) and
caches the classpath; each run then generates its seeded inputs (cached per
workload and seed), runs one workload as a single closed-loop client in a
JVM, checks every checked output, prints every metric by name and unit, and
prints one JSON object as its last line. ``--trace 1`` gives the per-layer
metrics and leaves the spans in ``perfbench/.work/run/spans.json``.

Everything it writes stays under ``perfbench/.work``.
"""
import argparse
import fcntl
import glob
import hashlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
sys.path.insert(0, HERE)

JVM_TIMEOUT_S = 160
HEAP = "2g"
# One core for Spark, two JIT compiler threads and a single-threaded GC: on a
# few vCPUs shared with other tenants, wall times of one busy thread repeat
# far better than those of as many threads as there are vCPUs.
CORES = 1
JVM_FLAGS = ["-XX:CICompilerCount=2", "-XX:+UseSerialGC"]
ADD_OPENS = [f"java.base/{p}" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def load_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def newest_source_mtime():
    newest = 0.0
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
                 os.path.join(ROOT, "project")):
        for d, _, files in os.walk(base):
            if os.sep + "target" in d:
                continue
            for f in files:
                newest = max(newest, os.path.getmtime(os.path.join(d, f)))
    for f in (os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")):
        newest = max(newest, os.path.getmtime(f))
    return newest


def build():
    """Compile the program and the harness; return the runtime classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail("no program sources next to the benchmark (build.sbt, src/main/scala)")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java are needed to build and run the program")
    os.makedirs(WORK, exist_ok=True)
    cp_file = os.path.join(WORK, "classpath.txt")
    with open(os.path.join(WORK, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.isfile(cp_file) and os.path.getmtime(cp_file) > newest_source_mtime():
            with open(cp_file) as f:
                return f.read().strip()
        env = dict(os.environ)
        env.setdefault("COURSIER_MODE", "offline")
        proc = subprocess.run(
            ["sbt", "-batch", "-Dsbt.log.noformat=true", "export perfbench/Runtime/fullClasspath"],
            cwd=HERE, env=env, stdin=subprocess.DEVNULL, stdout=subprocess.PIPE,
            stderr=subprocess.STDOUT, text=True, timeout=840)
        lines = [ln for ln in proc.stdout.splitlines() if ln.strip()]
        if proc.returncode != 0 or not lines or "[error]" in lines[-1]:
            sys.stderr.write(proc.stdout[-4000:])
            fail("build failed")
        cp = lines[-1].strip()
        with open(cp_file, "w") as f:
            f.write(cp + "\n")
        return cp


def inputs(workload, seed):
    """Generated inputs for (workload, seed); one cached set per workload."""
    import gen
    with open(gen.__file__, "rb") as f:
        version = hashlib.sha1(f.read()).hexdigest()[:10]
    data_root = os.path.join(WORK, "data")
    out = os.path.join(data_root, f"{workload}-{seed}-{version}")
    if os.path.isfile(os.path.join(out, "meta.json")):
        return out
    for old in glob.glob(os.path.join(data_root, f"{workload}-*")):
        shutil.rmtree(old, ignore_errors=True)
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    gen.generate(workload, seed, tmp)
    os.rename(tmp, out)
    return out


def run_jvm(cp, workload, seconds, trace, data, work):
    out = os.path.join(work, "result.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java", f"-Xmx{HEAP}"] + JVM_FLAGS
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
              f"-Dspark.local.dir={tmp}", f"-Djava.io.tmpdir={tmp}",
              "-cp", cp, "graft.perfbench.Main",
              "--workload", workload, "--data", data, "--work", work,
              "--seconds", str(seconds), "--trace", str(trace),
              "--cores", str(CORES), "--out", out])
    with open(os.path.join(work, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, stdin=subprocess.DEVNULL, stdout=log,
                                stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"the run did not finish within {JVM_TIMEOUT_S} s")
    if rc != 0 or not os.path.isfile(out):
        with open(os.path.join(work, "jvm.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        fail(f"the JVM exited with {rc}")
    with open(out) as f:
        return json.load(f)


def check_curation(work, data):
    """Each curation output a traced run wrote, against the registry's
    DuckDB oracle; one line per wrong output."""
    import oracle
    out = os.path.join(work, "curation_out")
    if not os.path.isdir(out):
        return []
    res = oracle.compare_curation(out, data)
    # a query whose output is missing already failed inside the JVM
    return [f"{q}: {why}" for q, why in res.items()
            if why and os.path.isdir(os.path.join(out, q))]


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    spec = load_spec()
    if a.workload not in [w["name"] for w in spec["workloads"]]:
        fail(f"unknown workload {a.workload}")
    cp = build()
    data = inputs(a.workload, a.seed)
    work = os.path.join(WORK, "run")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    res = run_jvm(cp, a.workload, a.seconds, a.trace, data, work)
    notes = list(res["notes"])
    failed = res["failed"]
    attempted = res["attempted"]
    bad = check_curation(work, data)
    notes += bad
    failed += len(bad)

    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    metrics = {}
    for m in wanted:
        v = res["metrics"].get(m["name"])
        if v is None:
            sys.stderr.write("\n".join(notes) + "\n")
            fail(f"metric {m['name']} was not measured")
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    for n in notes:
        print(f"note: {n}")
    print(f"workload {a.workload} seed {a.seed} trace {a.trace}: "
          f"{attempted} operations, {failed} failed, "
          f"error_rate {failed / max(1, attempted):.6f}")
    for name, m in metrics.items():
        print(f"{name}: {m['value']:.6g} {m['unit']}")
    print(json.dumps({"correct": failed == 0 and attempted >= 1,
                      "attempted": max(1, attempted), "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
