#!/usr/bin/env python3
"""graft benchmark runner: builds the engine plus the harness from source,
generates seeded inputs, runs one workload in a fresh JVM, and prints the
result as the last line of standard output.

    python3 perfbench/run.py --workload serve_write --seed 1 --seconds 10 --trace 0

Run it from the root of a checkout. Everything it writes stays under
perfbench/.work (and the sbt build outputs in the checkout's target/
directories). See perfbench/BENCHMARK.md for the workloads and metrics.
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
WORK = os.path.join(BENCH, ".work")
BUILD = os.path.join(WORK, "build")
DEADLINE_S = 175

# Frozen dataset sizes per workload (gen.py arguments) and the committed
# digests that go with them.
DATASETS = {
    "serve_write": (["--sf", "0.01"], "serve_sf0.01.json"),
    "corpus_batch": (["--sf", "0.01"], "corpus_sf0.01.json"),
}

JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/jdk.internal.ref", "java.base/sun.nio.ch",
    "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources_fingerprint():
    """Hash of every input of the build, so a changed tree rebuilds."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")]
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(BENCH, "build.sbt"),
             os.path.join(BENCH, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.isfile(repos):
            opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    return env


def build(timeout):
    """Compile engine + harness with sbt once per source state; return the
    runtime classpath."""
    fp = sources_fingerprint()
    stamp = os.path.join(BUILD, "fingerprint")
    cp_file = os.path.join(BUILD, "classpath")
    if os.path.isfile(stamp) and os.path.isfile(cp_file):
        with open(stamp) as f, open(cp_file) as g:
            cp = g.read().strip()
            if f.read().strip() == fp and all(
                    os.path.exists(p) for p in cp.split(os.pathsep)):
                return cp
    os.makedirs(BUILD, exist_ok=True)
    log = os.path.join(BUILD, "sbt.log")
    with open(log, "w") as out:
        r = subprocess.run(
            ["sbt", "-batch", "-Dsbt.server.autostart=false", "compile",
             "export Runtime/fullClasspath"],
            cwd=BENCH, env=sbt_env(), stdout=out, stderr=subprocess.STDOUT,
            timeout=timeout)
    lines = open(log).read().strip().splitlines()
    if r.returncode != 0 or not lines:
        fail(f"build failed (see {log})", 1)
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp + "\n")
    with open(stamp, "w") as f:
        f.write(fp + "\n")
    return cp


def gen(out, workload, seed, sf):
    args, _ = DATASETS[workload]
    if sf:
        args = ["--sf", sf]
    subprocess.run([sys.executable, os.path.join(BENCH, "gen.py"), out,
                    "--seed", str(seed), *args], check=True)


def commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                              capture_output=True, text=True,
                              timeout=10).stdout.strip() or "unknown"
    except Exception:
        return "unknown"


def run_jvm(cp, workload, seed, seconds, trace, run_dir, timeout,
            mode="run", out=None, expected=None, inject=False):
    data = os.path.join(run_dir, "data")
    out = out or os.path.join(run_dir, "result.json")
    for d in ("tmp", "local", "work"):
        os.makedirs(os.path.join(run_dir, d), exist_ok=True)
    if expected is None:
        expected = os.path.join(BENCH, "expected", DATASETS[workload][1])
    env = dict(os.environ)
    env.setdefault("SPARK_GRAFT_CPUS", "4")
    cmd = ["java", "-Xms3g", "-Xmx3g", "-Xss16m",
           *[f"--add-opens={p}=ALL-UNNAMED" for p in JAVA_OPENS],
           f"-Djava.io.tmpdir={run_dir}/tmp",
           f"-Dspark.local.dir={run_dir}/local",
           f"-Dspark.sql.warehouse.dir={run_dir}/warehouse",
           f"-Dderby.system.home={run_dir}/derby",
           "-Dspark.ui.enabled=false",
           "-cp", cp, "perfbench.Main",
           "--workload", workload, "--seed", str(seed),
           "--seconds", str(seconds), "--trace", "1" if trace else "0",
           "--data", data, "--work", os.path.join(run_dir, "work"),
           "--out", out, "--mode", mode, "--expected", expected,
           "--inject-failure", "1" if inject else "0"]
    log = os.path.join(run_dir, "jvm.log")
    with open(log, "w") as fh:
        p = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=fh,
                             stderr=subprocess.STDOUT)
        try:
            rc = p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            rc = -9
    return rc, out, log


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(DATASETS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # development options (not used by the benchmark contract)
    ap.add_argument("--mode", default="run", choices=("run", "expect", "dump"))
    ap.add_argument("--out", default=None)
    ap.add_argument("--sf", default=None)
    ap.add_argument("--data", default=None, help="use this generated data set")
    ap.add_argument("--expected", default=None,
                    help="digest file to check against; a missing path checks "
                         "only that repeats of one call agree")
    ap.add_argument("--inject-failure", action="store_true")
    a = ap.parse_args()

    if not (os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))
            and os.path.isfile(os.path.join(ROOT, "build.sbt"))):
        fail("no graft source tree next to the benchmark; run from a checkout")
    cp = build(timeout=850)
    t_start = time.monotonic()   # the run's own deadline starts after the build
    run_dir = os.path.join(WORK, f"run-{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        if a.data:
            os.symlink(os.path.abspath(a.data), os.path.join(run_dir, "data"))
        else:
            gen(os.path.join(run_dir, "data"), a.workload, a.seed, a.sf)
        budget = DEADLINE_S - (time.monotonic() - t_start)
        if a.mode != "run":
            budget = 3600
        out = os.path.abspath(a.out) if a.out else None
        if out and a.mode == "dump":
            os.makedirs(out, exist_ok=True)
        rc, res_path, log = run_jvm(cp, a.workload, a.seed, a.seconds,
                                    a.trace == 1, run_dir, budget, a.mode,
                                    out, a.expected, a.inject_failure)
        os.makedirs(WORK, exist_ok=True)
        shutil.copy(log, os.path.join(WORK, f"last-{a.workload}.log"))
        if rc != 0:
            fail(f"harness exited {rc} (see {WORK}/last-{a.workload}.log)", 1)
        if a.mode != "run":
            return
        with open(res_path) as f:
            res = json.load(f)
        record = res.pop("record")
        record["commit"] = commit()
        with open(os.path.join(run_dir, "data", "layout.json")) as f:
            record["layout"] = json.load(f)
        record["elapsed_s"] = time.monotonic() - t_start
        print(json.dumps({"record": record}))
        print(json.dumps({k: res[k] for k in
                          ("correct", "attempted", "failed", "metrics")}))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
