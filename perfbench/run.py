#!/usr/bin/env python3
"""Benchmark of the Spark Fellegi–Sunter linkage engine and its dedup layer.

    python3 perfbench/run.py --workload linkage|dedup --seed N --seconds S --trace 0|1

Builds the program and the harness from source (sbt, offline) on first
use, runs the workload in one JVM on local[nproc], checks every output
against results computed apart from the program, and prints one JSON
line: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones; with --trace 1 the run is traced and
the metrics are the per-layer ones of every workload (each workload in
its own JVM, the named one first). Exits non-zero if a check fails or
the program cannot be built. See perfbench/README.md.
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
DATA = os.path.join(HERE, "data")
WORKLOADS = ("linkage", "dedup")
JVM_TIMEOUT_S = 150  # plus --seconds of warm repetitions
BUILD_TIMEOUT_S = 840

sys.dont_write_bytecode = True  # leave no __pycache__ in the checkout
sys.path.insert(0, HERE)
import checks  # noqa: E402

# Per-layer spans of each workload; `pair` spans carry the pair-scale counters.
SPANS = {
    "linkage": {"blocking": "pair", "patterns": "pair", "uprobs": "", "em": "wall",
                "score": "pair", "evaluate": "", "calibrate": ""},
    "dedup": {"exact": "", "prefix": "pair", "lsh": "pair", "clusters": "", "export": "",
              "pagerank": "", "triangles": ""},
}
OUTCOMES = {"linkage": ["blocking.pairs"], "dedup": ["lsh.pairs"]}
COUNTERS = {"wall_s": "s", "jobs": "count", "tasks": "count", "executor_run_s": "s",
            "shuffle_write_mb": "MB", "planning_s": "s"}
PAIR_COUNTERS = {"max_task_s": "s", "spill_mb": "MB", "smj": "count"}
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def per_layer_units():
    """Every per-layer metric name with its unit, in a fixed order."""
    units = {}
    for w, spans in SPANS.items():
        for span, kind in spans.items():
            counters = {"wall_s": "s"} if kind == "wall" else dict(COUNTERS)
            if kind == "pair":
                counters.update(PAIR_COUNTERS)
            for counter, unit in counters.items():
                units[f"{w}.{span}.{counter}"] = unit
        for outcome in OUTCOMES[w]:
            units[f"{w}.{outcome}"] = "count"
        units[f"{w}.all.wall_s"] = "s"
    return units


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


# ------------------------------------------------------------------ build

def _tree_files(top):
    for dirpath, dirs, files in os.walk(top):
        dirs[:] = sorted(d for d in dirs if d != "target")
        for f in sorted(files):
            yield os.path.join(dirpath, f)


def sources_digest():
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
            os.path.join(ROOT, "src", "main"), os.path.join(HERE, "build.sbt"),
            os.path.join(HERE, "project", "build.properties"), os.path.join(HERE, "src")]
    for top in tops:
        for path in ([top] if os.path.isfile(top) else _tree_files(top)):
            h.update(os.path.relpath(path, ROOT).encode())
            with open(path, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compiles the program and the harness; returns the runtime classpath."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        fail(f"no program sources at {ROOT} (build.sbt, src/main/scala)")
    if shutil.which("sbt") is None or shutil.which("java") is None:
        fail("sbt and java are required")
    os.makedirs(BUILD, exist_ok=True)
    stamp = os.path.join(BUILD, "build.json")
    digest = sources_digest()
    if os.path.exists(stamp):
        with open(stamp) as fh:
            old = json.load(fh)
        if old.get("digest") == digest:
            return old["classpath"]
    env = dict(os.environ, COURSIER_MODE="offline",
               PERFBENCH_TARGET=os.path.join(BUILD, "perfbench-target"))
    if "SBT_OPTS" not in env:
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    # sbt leaves its server-socket directory under java.io.tmpdir; keep it in the build dir.
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env["SBT_OPTS"] += f" -Djava.io.tmpdir={tmp}"
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as fh:
        proc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
             "export perfbench/Runtime/fullClasspath"],
            cwd=HERE, env=env, stdout=subprocess.PIPE, stderr=fh, text=True,
            timeout=BUILD_TIMEOUT_S, stdin=subprocess.DEVNULL)
        fh.write(proc.stdout)
    lines = [ln for ln in proc.stdout.splitlines() if "scala-2.13" in ln and not ln.startswith("[")]
    if proc.returncode != 0 or not lines:
        with open(log) as fh:
            sys.stderr.write(fh.read()[-4000:])
        fail("build failed", 1)
    classpath = lines[-1].strip()
    with open(stamp, "w") as fh:
        json.dump({"digest": digest, "classpath": classpath}, fh)
    return classpath


# -------------------------------------------------------------------- run

def cpus():
    return len(os.sched_getaffinity(0))


def heap_mb():
    """An eighth of physical memory, between 1.5 and 4 GiB."""
    with open("/proc/meminfo") as fh:
        kb = next(int(ln.split()[1]) for ln in fh if ln.startswith("MemTotal:"))
    return max(1536, min(4096, kb // 8192))


def run_jvm(classpath, workload, seed, seconds, trace, work):
    out = os.path.join(work, f"{workload}.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += [f"-Xms{heap_mb()}m", f"-Xmx{heap_mb()}m", "-XX:ReservedCodeCacheSize=512m",
            f"-Djava.io.tmpdir={tmp}", "-cp", classpath, "perfbench.Main",
            workload, str(seed), str(seconds), str(trace), DATA, work, str(cpus()), out]
    log = os.path.join(work, f"{workload}.log")
    with open(log, "w") as fh:
        launched = time.time()
        proc = subprocess.Popen(cmd, cwd=work, stdout=fh, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S + seconds)
        except subprocess.TimeoutExpired:
            code = "timeout"
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    if code != 0 or not os.path.exists(out):
        with open(log) as fh:
            sys.stderr.write(fh.read()[-4000:])
        fail(f"{workload} JVM exited with {code}", 1)
    with open(out) as fh:
        r = json.load(fh)
    r["setup_s"] = r["setup_end_ms"] / 1e3 - launched
    return r


def end_to_end(r):
    wall = statistics.median(r["warm_s"])
    return {
        "setup_s": (r["setup_s"], "s"),
        "cold_s": (r["cold_s"], "s"),
        "wall_s": (wall, "s"),
        "items_per_s": (r["items"] / wall, "1/s"),
        "shuffle_write_mb": (r["shuffle_write_mb"], "MB"),
        "peak_heap_mb": (r["peak_heap_mb"], "MB"),
    }


def per_layer(workload, r):
    """Medians over the warm repetitions of each span's counters."""
    units = per_layer_units()
    warm = [s for s in r["spans"] if s["parent"] == "warm"]
    out = {}
    for name, unit in units.items():
        if not name.startswith(workload + "."):
            continue
        span, counter = name[len(workload) + 1:].rsplit(".", 1)
        if f"{span}.{counter}" in r["outcomes"]:
            out[name] = (r["outcomes"][f"{span}.{counter}"], unit)
            continue
        rows = [s for s in warm if s["name"] == span] if span != "all" else \
            [s for s in r["spans"] if s["name"] == "warm"]
        vals = [(s["end_ns"] - s["start_ns"]) / 1e9 if counter == "wall_s" else s[counter]
                for s in rows]
        out[name] = (statistics.median(vals), unit)
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[1])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    # On SIGTERM, unwind through the finally blocks: they stop the JVM and
    # remove the work dir.
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    classpath = build()
    work = os.path.join(BUILD, f"work-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        order = [args.workload]
        if args.trace:
            order += [w for w in WORKLOADS if w != args.workload]
        runs = {}
        for w in order:
            t0 = time.monotonic()
            runs[w] = run_jvm(classpath, w, args.seed, args.seconds, args.trace, work)
            print(f"perfbench: {w} JVM {time.monotonic() - t0:.1f} s", file=sys.stderr)
        t0 = time.monotonic()
        con = checks.connect(work, cpus())
        cache = os.path.join(BUILD, "refs")
        os.makedirs(cache, exist_ok=True)
        results = [c for w in order for c in checks.CHECKS[w](con, runs[w], cache)]
        con.close()
        print(f"perfbench: checks {time.monotonic() - t0:.1f} s", file=sys.stderr)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    for w in order:
        for e in runs[w]["errors"]:
            print(f"perfbench: {w}: {e}", file=sys.stderr)
    for c in results:
        print(f"perfbench: check {c!r}", file=sys.stderr)
    correct = all(c.passed() for c in results)
    metrics = {}
    for w in order:
        metrics.update(per_layer(w, runs[w]) if args.trace else end_to_end(runs[w]))
    print(json.dumps({
        "correct": correct,
        "attempted": int(sum(runs[w]["attempted"] for w in order)),
        "failed": int(sum(runs[w]["failed"] for w in order)),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in sorted(metrics.items())},
    }))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
