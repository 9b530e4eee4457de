#!/usr/bin/env python3
"""Self-test of the benchmark itself (not of the engine).

    python3 perfbench/selftest.py          # exit 0 = all checks pass

Run from the root of a checkout. It asserts that

  1. every metric BENCHMARK.json names is emitted with its unit, on every
     workload, untraced (end_to_end) and traced (per_layer) - at sf0.001;
  2. a deliberately failing operation is counted in `failed` /
     `failed_frac` and the run still completes - at sf0.001;
  3. one seed reproduces the same request sequence and result digests,
     and two seeds give different sequences (serve_write) or different
     data layouts with equal digests (corpus_batch) - at sf0.01.

A full pass takes about ten benchmark runs.
"""
import json
import os
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
SPEC = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
FAILS = []


def run(workload, seed, trace=0, sf=None, inject=False):
    cmd = [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", "1", "--trace", str(trace)]
    if sf:
        cmd += ["--sf", sf, "--expected", "none"]
    if inject:
        cmd += ["--inject-failure"]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or len(lines) < 2:
        raise RuntimeError(f"{cmd} exited {p.returncode}: {p.stderr[-2000:]}")
    return json.loads(lines[-2])["record"], json.loads(lines[-1])


def check(ok, what):
    print(f"{'PASS' if ok else 'FAIL'} {what}")
    if not ok:
        FAILS.append(what)


def main():
    names = [w["name"] for w in SPEC["workloads"]]
    for w in names:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            _, res = run(w, 1, trace=trace, sf="0.001")
            for m in SPEC[key]:
                got = res["metrics"].get(m["name"])
                check(got is not None and got["unit"] == m["unit"]
                      and isinstance(got["value"], (int, float)),
                      f"{w} trace={trace} emits {m['name']} [{m['unit']}]")
            check(set(res) == {"correct", "attempted", "failed", "metrics"},
                  f"{w} trace={trace} result has exactly the contract keys")
            check(res["correct"] and res["failed"] == 0,
                  f"{w} trace={trace} no failed operation")

    for w in names:
        rec, res = run(w, 1, sf="0.001", inject=True)
        check(res["failed"] >= 1 and res["attempted"] > res["failed"]
              and not res["correct"] and rec["failed_frac"] > 0,
              f"{w} counts an injected failure in failed_frac "
              f"({res['failed']}/{res['attempted']}) and completes")

    a, _ = run("serve_write", 11)
    b, _ = run("serve_write", 11)
    c, _ = run("serve_write", 12)
    check(a["plan"] == b["plan"], "serve_write: one seed, one request sequence")
    check(a["plan"] != c["plan"], "serve_write: two seeds, two sequences")
    common = [k for k in a["digests"] if k in b["digests"]
              and not k.startswith("RetrievalOps.")]
    check(common and all(a["digests"][k] == b["digests"][k] for k in common),
          f"serve_write: one seed, same digests ({len(common)} shared keys)")
    x, _ = run("corpus_batch", 11)
    y, _ = run("corpus_batch", 12)
    check(x["digests"] == y["digests"] and x["layout"] != y["layout"],
          "corpus_batch: two seeds, two data layouts, same digests")

    print(f"{len(FAILS)} failure(s)")
    sys.exit(1 if FAILS else 0)


if __name__ == "__main__":
    main()
