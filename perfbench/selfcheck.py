#!/usr/bin/env python3
"""The benchmark's own checks, run from the repository root:

    python3 perfbench/selfcheck.py

1. A planted wrong expected digest must be counted: the run reports
   ``failed`` > 0, ``correct`` false and ``ok_ratio`` below 1.
2. In a directory holding only BENCHMARK.json and perfbench/ (no program
   to build) the benchmark must exit non-zero without printing a result.
"""
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()


def run(cwd, *extra):
    cmd = [sys.executable, os.path.join(cwd, "perfbench", "run.py"), "--workload", "geo_olap",
           "--seed", "1", "--seconds", "1", "--trace", "0", *extra]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=900)


def main():
    ok = True
    p = run(ROOT, "--plant-wrong-digest")
    last = p.stdout.strip().splitlines()[-1] if p.stdout.strip() else "{}"
    res = json.loads(last) if last.startswith("{") else {}
    planted = (p.returncode == 0 and res.get("failed", 0) > 0 and res.get("correct") is False
               and res["metrics"]["ok_ratio"]["value"] < 1)
    print(f"planted wrong digest: attempted={res.get('attempted')} failed={res.get('failed')} "
          f"correct={res.get('correct')} -> {'ok' if planted else 'NOT DETECTED'}")
    ok &= planted

    bare = os.path.join(os.environ.get("CARGO_TARGET_DIR") or ".bench_build", "selfcheck-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = run(bare)
    refused = p.returncode != 0 and not p.stdout.strip()
    print(f"bare directory: exit {p.returncode}, stdout {len(p.stdout)} bytes -> "
          f"{'ok' if refused else 'NOT REFUSED'}")
    shutil.rmtree(bare, ignore_errors=True)
    ok &= refused
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
