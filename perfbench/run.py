#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload geo_olap --seed 1 --seconds 12 --trace 0

Run from the repository root. It compiles the program (src/main/scala)
and the benchmark's JVM runner with the Scala compiler shipped in Spark's
jars, generates the seeded inputs, runs the runner, checks every output,
and prints one JSON object as the last line of standard output: the
end-to-end metrics with ``--trace 0``, the per-layer metrics with
``--trace 1``. ``--plant-wrong-digest`` corrupts one expected digest, to
show that a wrong output is counted as a failure.

Everything it writes goes under ``.bench_build/`` (or
``$CARGO_TARGET_DIR``) in the current directory; a run's working
directory is removed when the run ends.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

WORKLOADS = ("aw3d30_etl", "geo_olap")
JAVA_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]
HEAP = "3g"
DEADLINE_S = 165


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def nproc():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def spark_jars():
    """Spark's jar directory: $SPARK_HOME/jars, else next to the
    spark-submit on the PATH."""
    home = os.environ.get("SPARK_HOME")
    if not home and shutil.which("spark-submit"):
        home = os.path.dirname(os.path.dirname(os.path.realpath(shutil.which("spark-submit"))))
    jars = os.path.join(home or "", "jars")
    if not home or not os.path.isdir(jars):
        fail("Spark not found: set SPARK_HOME")
    return jars


def sources(base):
    out = []
    for d, _, files in os.walk(base):
        out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def scalac(jars, classpath, dest, files, log):
    os.makedirs(dest, exist_ok=True)
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", f"{jars}/*", "scala.tools.nsc.Main",
           "-nowarn", "-d", dest, "-cp", classpath] + files
    with open(log, "ab") as f:
        if subprocess.run(cmd, stdout=f, stderr=subprocess.STDOUT).returncode != 0:
            fail(f"compilation failed, see {log}")


def compiled(build_dir, kind, src, classpath, jars, salt=""):
    """Classes of the Scala sources under ``src``, compiled once per
    source hash into ``<build_dir>/classes/<kind>-<hash>``."""
    files = sources(src)
    h = hashlib.sha256(salt.encode())
    for f in files:
        h.update(os.path.relpath(f, src).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    key = h.hexdigest()[:16]
    classes = os.path.join(build_dir, "classes")
    done = os.path.join(classes, f"{kind}-{key}")
    if not os.path.isfile(os.path.join(done, "OK")):
        os.makedirs(classes, exist_ok=True)
        for old in os.listdir(classes):
            if old.startswith(kind + "-"):
                shutil.rmtree(os.path.join(classes, old))
        tmp = done + ".tmp"
        scalac(jars, classpath, tmp, files, os.path.join(build_dir, "build.log"))
        open(os.path.join(tmp, "OK"), "w").close()
        os.rename(tmp, done)
    return done, key


def build(root, build_dir, jars):
    """Compile the program, then the runner against it; return the
    runner's classpath."""
    main_src = os.path.join(root, "src", "main", "scala")
    if not os.path.isdir(main_src):
        fail("no src/main/scala here: run from the root of a graft checkout")
    main, key = compiled(build_dir, "main", main_src, f"{jars}/*", jars)
    bench, _ = compiled(build_dir, "bench", os.path.join(HERE, "src"),
                        f"{main}:{jars}/*", jars, salt=key)
    resources = os.path.join(root, "src", "main", "resources")
    return f"{bench}:{main}:{resources}:{jars}/*"


def medium(path):
    """File system type holding ``path`` (tmpfs, ext4, overlay, ...)."""
    path = os.path.realpath(path)
    best, kind = "", "unknown"
    with open("/proc/mounts") as f:
        for line in f:
            parts = line.split()
            mnt, fs = parts[1], parts[2]
            if (path == mnt or path.startswith(mnt.rstrip("/") + "/")) and len(mnt) >= len(best):
                best, kind = mnt, fs
    return kind


def loadavg():
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def cpu_ticks():
    """(steal, total) jiffies of all CPUs, from /proc/stat."""
    with open("/proc/stat") as f:
        t = [int(x) for x in f.readline().split()[1:]]
    return t[7], sum(t)


def quantile(xs, q):
    s = sorted(xs)
    if not s:
        return 0.0
    i = q * (len(s) - 1)
    lo = int(i)
    hi = min(lo + 1, len(s) - 1)
    return s[lo] + (s[hi] - s[lo]) * (i - lo)


def end_to_end(res):
    """Rates are medians over the window's passes (each pass runs every
    operation once), so one pass hit by outside load moves them little."""
    samples, passes = res["samples"], res["passes"]
    lat = [s["s"] for s in samples]
    return {
        "setup_s": res["setup_s"],
        "throughput_ops_s": statistics.median(p["ops"] / p["wall_s"] for p in passes),
        "latency_p50_s": statistics.median(lat),
        "latency_p90_s": quantile(lat, 0.9),
        "rows_per_s": statistics.median(p["rows"] / p["wall_s"] for p in passes),
        "cpu_s_per_op": statistics.median(p["cpu_s"] / p["ops"] for p in passes),
        "heap_live_mb": res["heap_live_mb"],
        "ok_ratio": sum(1 for s in samples if s["ok"]) / len(samples),
    }


def per_layer(res):
    lay = dict(res["layers"])
    for op in res["all_ops"]:  # operations of the other workloads
        lay.setdefault(f"op.{op}.p50_s", 0.0)
    written = [s for s in res["samples"] if s["files"]]
    rows = sum(s["rows"] for s in written)
    lay["sources.bytes_per_row"] = sum(s["bytes"] for s in written) / rows if rows else 0.0
    return lay


def report(values, spec):
    """The metrics BENCHMARK.json lists, in its order and units."""
    missing = [m["name"] for m in spec if m["name"] not in values]
    if missing:
        fail(f"metrics not measured: {missing}")
    return {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in spec}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--plant-wrong-digest", action="store_true")
    a = ap.parse_args()

    root = os.getcwd()
    try:
        with open(os.path.join(root, "BENCHMARK.json")) as f:
            spec = json.load(f)
    except OSError:
        fail("no BENCHMARK.json here: run from the repository root")
    jars = spark_jars()
    build_dir = os.path.abspath(os.environ.get("CARGO_TARGET_DIR") or ".bench_build")
    cp = build(root, build_dir, jars)
    started = time.time()

    import gen
    import oracle

    # one working directory per run, removed at the end; leftovers of an
    # interrupted run are removed first so nothing accumulates
    work_root = os.path.join(build_dir, "work")
    shutil.rmtree(work_root, ignore_errors=True)
    work = os.path.join(work_root, f"{a.workload}-{a.seed}")
    os.makedirs(work)
    proc = None
    try:
        setup_t0 = time.time()
        data, tiles = os.path.join(work, "data"), os.path.join(work, "tiles")
        gen.write_tables(data, a.seed)
        tile_stats, tile_bytes = gen.write_tiles(tiles, a.seed)
        gen_s = time.time() - setup_t0

        cores = nproc()
        env = {
            "nproc": cores, "xmx": HEAP, "work_dir": work, "work_medium": medium(work),
            "spark_local_dir": os.path.join(work, "spark-local"),
            "etl_output_dir": os.path.join(work, "etl"), "load_start": loadavg(),
            "tiles": gen.TILE_COUNT, "tile_edge": gen.TILE_EDGE, "tile_bytes": tile_bytes,
            "input_bytes": sum(os.path.getsize(os.path.join(data, f)) for f in os.listdir(data)),
        }
        tmp = os.path.join(work, "tmp")
        os.makedirs(tmp)
        # a fixed set of JIT compiler threads, so that the runner can tell
        # their CPU time from the workload's (Runner.jitNanos)
        cmd = (["java", f"-Xmx{HEAP}", "-XX:ReservedCodeCacheSize=512m", "-XX:-UsePerfData",
                "-XX:-UseDynamicNumberOfCompilerThreads",
                f"-Djava.io.tmpdir={tmp}"]
               + [x for p in JAVA_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
               + ["-cp", cp, "org.apache.spark.perfbench.Runner",
                  "--workload", a.workload, "--data", data, "--tiles", tiles, "--work", work,
                  "--seconds", str(a.seconds), "--seed", str(a.seed), "--trace", str(a.trace),
                  "--plant", "1" if a.plant_wrong_digest else "0", "--cores", str(cores)])
        log_path = os.path.join(build_dir, f"{a.workload}.log")
        log = open(log_path, "w")
        steal0 = cpu_ticks()
        proc = subprocess.Popen(cmd, cwd=work, stdin=subprocess.PIPE, stdout=subprocess.PIPE,
                                stderr=log, text=True, bufsize=1)
        watchdog = threading.Timer(max(1.0, DEADLINE_S - (time.time() - started)), proc.kill)
        watchdog.start()
        result, failed_checks = None, {}
        for line in proc.stdout:
            if line.startswith("@@VERIFY "):
                failed_checks = oracle.check(json.loads(line[9:]), data, tile_stats, tmp)
                for op, why in failed_checks.items():
                    print(f"check failed: {op}: {why}", file=sys.stderr)
                proc.stdin.write("@@VERDICT " + ",".join(failed_checks) + "\n")
                proc.stdin.flush()
            elif line.startswith("@@RESULT "):
                result = json.loads(line[9:])
        proc.wait()
        watchdog.cancel()
        log.close()
        if proc.returncode != 0 or result is None:
            fail(f"runner exited with {proc.returncode}; see {log_path}")
        steal1 = cpu_ticks()
        env.update(steal_share=(steal1[0] - steal0[0]) / max(1, steal1[1] - steal0[1]),
                   load_end=loadavg(), spark=result["spark"], java=result["java"],
                   max_heap_mb=result["max_heap_mb"], storage_memory_mb=result["storage_mb"])
        # set-up: generation plus JVM start to the first timed operation,
        # without the time spent checking outputs
        result["setup_s"] += gen_s
        with open(os.path.join(build_dir, f"{a.workload}.result.json"), "w") as f:
            json.dump(result, f)
        if a.trace:
            spans = os.path.join(build_dir, f"{a.workload}.spans.json")
            shutil.copyfile(os.path.join(work, "spans.json"), spans)
            env["spans"] = spans
        print("env " + json.dumps(env))
    finally:
        if proc is not None and proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(work_root, ignore_errors=True)

    samples = result["samples"]
    bad = sum(1 for s in samples if not s["ok"])
    metrics = (report(per_layer(result), spec["per_layer"]) if a.trace
               else report(end_to_end(result), spec["end_to_end"]))
    print(json.dumps({"correct": bad == 0 and not failed_checks, "attempted": len(samples),
                      "failed": bad, "metrics": metrics}))


if __name__ == "__main__":
    main()
