#!/usr/bin/env python3
"""Extraction benchmark of the graft engine.

    python3 perfbench/run.py --workload contract_mix --seed 7 --seconds 12 --trace 0

Run from the root of a checkout. The first run builds the engine and this
package from source with sbt (offline) into .bench_build/. Each run then
starts one leg JVM (perfbench.Leg), pinned with taskset to all nproc cores,
which

  1. generates the workload's input from the seed with graft.corpus.CorpusGen;
  2. warms up at local[nproc/2]; for traced contract_mix it then measures
     the N-core leg, N = max(1, nproc/4), on N/nproc of the input, for
     scaling_eff;
  3. times the workload's passes at local[nproc] and checks its output
     against the generator's expectations;

and prints a summary line and, last, one JSON object with the metrics that
BENCHMARK.json names: end-to-end ones untraced (--trace 0), per-layer ones
traced (--trace 1).

Workloads, metrics and the layer each per-layer metric belongs to are
described in perfbench/DESIGN.md.
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

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH = os.path.join(ROOT, "perfbench")
BUILD = os.path.join(ROOT, ".bench_build", "perfbench")

WORKLOADS = ("contract_mix", "resume_enhanced")
# Input files per measured core; a file holds 200 rows (two 100-row blocks
# of the CorpusGen mix) and is one Spark task.
FILES_PER_CORE = 5
# Traced contract_mix: share of --seconds the N-core leg measures.
SMALL_LEG_SHARE = 0.25
# Untimed passes before the timed ones, at local[nproc/2] so the JIT, which
# compiles the engine for the first 30-40 s of passes, has cores to itself.
# Passes still speed up by a quarter to a half across a 20 s window after a
# 10 s warm-up, and the later passes vary less from run to run.
WARM_SECONDS = 18
# Layer groups each workload exercises; a traced run reports 0 for the
# per-layer metrics of every other group (that layer does no work there).
LAYER_GROUPS = {
    "contract_mix": {"extract", "html", "pdf", "tables", "analyzers", "encode",
                     "spark", "trace", "class", "scaling_eff"},
    "resume_enhanced": {"extract", "html", "pdf", "tables", "analyzers", "encode",
                        "spark", "trace", "class", "checkpoint"},
}
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def cpus():
    return sorted(os.sched_getaffinity(0))


def heap_mb():
    """Leg heap: an eighth of MemTotal, between 1 and 4 GB."""
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return max(1024, min(4096, int(line.split()[1]) // 1024 // 8))
    raise RuntimeError("no MemTotal in /proc/meminfo")


# ---------------------------------------------------------------- build

def source_files():
    paths = [os.path.join(ROOT, "build.sbt"), os.path.join(BENCH, "build.sbt")]
    for top in (os.path.join(ROOT, "project"), os.path.join(BENCH, "project")):
        if os.path.isdir(top):
            paths += [os.path.join(top, f) for f in os.listdir(top)
                      if f.endswith((".sbt", ".properties", ".scala"))]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")):
        for d, _, files in os.walk(top):
            paths += [os.path.join(d, f) for f in files]
    return sorted(p for p in paths if os.path.isfile(p))


def stamp():
    h = hashlib.sha256()
    for p in source_files():
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def build():
    """Compiles with sbt when the sources changed; returns the classpath."""
    digest = stamp()
    stamp_file = os.path.join(BUILD, "stamp")
    cp_file = os.path.join(BUILD, "classpath.txt")
    if os.path.exists(stamp_file) and open(stamp_file).read() == digest:
        cp = open(cp_file).read()
        # sbt's class directories live outside .bench_build/
        if all(os.path.exists(e) for e in cp.split(os.pathsep)):
            return cp
    if not os.path.exists(os.path.join(ROOT, "build.sbt")):
        raise RuntimeError("no build.sbt at the checkout root: the engine's sources are missing")
    shutil.rmtree(BUILD, ignore_errors=True)
    os.makedirs(BUILD)
    env = dict(os.environ, COURSIER_MODE="offline")
    if "SBT_OPTS" not in env:
        repos = os.path.expanduser("~/.sbt/repositories")
        env["SBT_OPTS"] = "-Dsbt.offline=true -Xmx2g" + (
            f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
            if os.path.exists(repos) else "")
    log("building with sbt")
    r = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"],
                       cwd=BENCH, env=env, capture_output=True, text=True, timeout=780)
    lines = [l for l in r.stdout.splitlines() if l and not l.startswith("[") and ".jar" in l]
    if r.returncode != 0 or not lines:
        sys.stderr.write(r.stdout[-4000:] + r.stderr[-4000:])
        raise RuntimeError("sbt build failed")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(digest)
    return cp


# ---------------------------------------------------------------- legs

def java(cores, main, args, cp, work, timeout):
    """Runs `main` pinned to `cores`; returns (stdout lines, seconds)."""
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    opts = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS]
    opts += [f"-Xmx{heap_mb()}m", "-XX:+UseParallelGC", "-XX:NewRatio=1",
             f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"]
    cmd = ["taskset", "-c", ",".join(map(str, cores)), "java", *opts,
           "-cp", cp, main, *args, "--t0-ns", str(time.time_ns())]
    t = time.monotonic()
    log_path = os.path.join(work, f"{main}.log")
    with open(log_path, "w") as err:
        r = subprocess.run(cmd, stdout=subprocess.PIPE, stderr=err, text=True,
                           timeout=timeout)
    with open(log_path, errors="replace") as f:
        lines = f.readlines()
    sys.stderr.writelines(l for l in lines if l.startswith("perfbench"))
    if r.returncode != 0:
        sys.stderr.writelines(lines[-40:])
        raise RuntimeError(f"{main} exited with {r.returncode}")
    return r.stdout.splitlines(), time.monotonic() - t


def tagged(lines, tag):
    found = [json.loads(l[len(tag) + 1:]) for l in lines if l.startswith(tag + " ")]
    if len(found) != 1:
        raise RuntimeError(f"expected one {tag} line, got {len(found)}")
    return found[0]


def rate(docs, pass_s):
    return docs / statistics.median(pass_s)


def run(workload, seed, seconds, trace):
    cp = build()
    work = os.path.join(ROOT, ".bench_build", "runs", workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    cores = cpus()
    # the N-core leg takes the last N cores: the first usually serves the
    # host's interrupts
    small = cores[-max(1, len(cores) // 4):]
    files = FILES_PER_CORE * len(cores)
    inputs = os.path.join(work, "input")
    scaled = workload == "contract_mix" and trace
    leg_lines, leg_s = java(cores, "perfbench.Leg", [
        "--workload", workload, "--seed", str(seed), "--cores", str(len(cores)),
        "--cpus", ",".join(map(str, cores)),
        "--input", inputs, "--files", str(files), "--work", os.path.join(work, "leg"),
        "--seconds", str(seconds), "--warm-cores", str(max(1, len(cores) // 2)),
        "--warm-seconds", str(WARM_SECONDS), "--trace", str(trace),
        "--small-cores", str(len(small) if scaled else 0), "--small-cpus", ",".join(map(str, small)),
        "--small-files", str(FILES_PER_CORE * len(small)), "--small-seconds", str(seconds * SMALL_LEG_SHARE)],
        cp, work, 170)
    leg = tagged(leg_lines, "LEG")
    log(f"{workload}: leg JVM {leg_s:.1f} s; passes at {len(cores)} cores "
        f"{['%.3f' % t for t in leg['pass_s']]}"
        + (f", at {len(small)} {['%.3f' % t for t in leg['small_pass_s']]}" if scaled else ""))

    figures = {k: v for k, v in leg.items() if isinstance(v, (int, float))}
    figures["failed_share"] = leg["check_failed"] / leg["check_attempted"]
    docs_per_s = rate(leg["docs"], leg["pass_s"])
    if not trace:
        figures.update({
            "docs_per_s": docs_per_s,
            "payload_mb_per_s": leg["payload_bytes"] / 1e6 / statistics.median(leg["pass_s"]),
        })
    if scaled:
        figures["scaling_eff"] = docs_per_s / (
            len(cores) / len(small) * rate(leg["small_docs"], leg["small_pass_s"]))
    return figures, leg["check_attempted"], leg["check_failed"]


def declared(trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return spec["per_layer" if trace else "end_to_end"]


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    try:
        figures, attempted, failed = run(a.workload, a.seed, a.seconds, a.trace)
        metrics = {}
        for m in declared(a.trace):
            name = m["name"]
            if name in figures:
                value = figures[name]
            elif name.split(".")[0] not in LAYER_GROUPS[a.workload] and a.trace:
                value = 0.0
            else:
                raise RuntimeError(f"{a.workload} measured no {name}")
            metrics[name] = {"value": value, "unit": m["unit"]}
    except Exception as e:  # noqa: BLE001 - any failure means no result
        log(f"failed: {e}")
        sys.exit(1)
    summary = ", ".join(f"{k}={v['value']:.6g} {v['unit']}" for k, v in metrics.items())
    # figures measured on one workload only, which BENCHMARK.json cannot
    # list (every run reports every listed metric): printed here by name
    extra = ""
    if not a.trace:
        extra = f", failed_share={figures['failed_share']:.6g} ratio"
        if "resume_s" in figures:
            extra += f", resume_s={figures['resume_s']:.6g} s"
    print(f"perfbench {a.workload} seed={a.seed}: {summary}{extra}")
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
