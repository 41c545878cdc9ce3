#!/usr/bin/env python3
"""Seeded end-to-end benchmark of the vectoriospark pipelines.

Usage (from the repository root):

    python3 perfbench/run.py --workload migrate|curate \
        --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --smoke

One run builds the program and the harness from source when needed
(sbt, output under .bench_build/), starts one JVM on local[nproc] that
generates the workload's inputs from the seed, times the calls into
the program for S seconds in a closed loop, checks the outputs, and
prints one JSON object as the last stdout line. --trace 0 reports the
end-to-end metrics of BENCHMARK.json; --trace 1 reports its per-layer
metrics and writes the run's spans to .bench_build/spans/. --smoke
runs every workload at a tiny scale, traced and untraced, and fails if
a check fails or a named metric is missing. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
PROGRAM_SRC = os.path.join(ROOT, "src", "main", "scala")
CLASSES = os.path.join(BUILD, "sbt", "scala-2.13", "classes")
STAMP = os.path.join(BUILD, "sources.sha256")
WORKLOADS = ("migrate", "curate")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 600
HEAP = "3g"
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home:
        submit = shutil.which("spark-submit")
        if submit:
            home = os.path.dirname(os.path.dirname(os.path.realpath(submit)))
    jars = os.path.join(home, "jars") if home else None
    if not jars or not os.path.isdir(jars):
        fail("cannot find the Spark jars (set SPARK_HOME)")
    return jars


def source_digest():
    """Hash of every input of the build, so an edit forces a rebuild."""
    h = hashlib.sha256()
    roots = [PROGRAM_SRC, os.path.join(HERE, "src"),
             os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for root in roots:
        files = [root] if os.path.isfile(root) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(root) for f in fs)
        for path in files:
            h.update(os.path.relpath(path, ROOT).encode())
            with open(path, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(jars):
    digest = source_digest()
    if os.path.isdir(CLASSES) and os.path.exists(STAMP):
        with open(STAMP) as fh:
            if fh.read().strip() == digest:
                return
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    cmd = ["sbt", "-batch", "-Dsbt.log.noformat=true",
           "-Dsbt.server.autostart=false", f"-Dperfbench.sparkJars={jars}",
           "compile"]
    print("perfbench: building (sbt compile)", file=sys.stderr)
    try:
        rc = subprocess.run(cmd, cwd=HERE, env=env, stdout=sys.stderr,
                            stderr=sys.stderr, timeout=BUILD_TIMEOUT_S).returncode
    except (OSError, subprocess.TimeoutExpired) as e:
        fail(f"build failed: {e}")
    if rc != 0:
        fail(f"build failed (sbt exit {rc})")
    with open(STAMP, "w") as fh:
        fh.write(digest + "\n")


def run_jvm(jars, args, scale, work, spans):
    cmd = (["java", "-XX:-UsePerfData", f"-Xmx{HEAP}",
            f"-Djava.io.tmpdir={work}", "-Dstdout.encoding=UTF-8",
            f"-Dlog4j.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + ["-cp", f"{CLASSES}{os.pathsep}{os.path.join(jars, '*')}",
              "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--work", work, "--spans", spans, "--scale", str(scale),
              "--cores", str(len(os.sched_getaffinity(0)))])
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE,
                            stderr=sys.stderr, text=True)
    try:
        out, _ = proc.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        fail(f"run exceeded {RUN_TIMEOUT_S} s", 3)
    return proc.returncode, out


def declared_metrics(trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def one_run(jars, args, scale=1.0):
    tag = f"{args.workload}-s{args.seed}-t{args.trace}"
    work = os.path.join(BUILD, "runs", f"{tag}-{os.getpid()}")
    spans = os.path.join(BUILD, "spans", f"{tag}.jsonl")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        rc, out = run_jvm(jars, args, scale, work, spans)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = out.rstrip("\n").split("\n")
    try:
        result = json.loads(lines[-1])
    except (ValueError, IndexError):
        sys.stdout.write(out)
        fail(f"{tag}: no result line (JVM exit {rc})", rc or 4)
    want = declared_metrics(args.trace)
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    if got != want:
        sys.stdout.write(out)
        fail(f"{tag}: metrics differ from BENCHMARK.json: "
             f"missing {sorted(set(want) - set(got))}, "
             f"extra {sorted(set(got) - set(want))}, "
             f"unit mismatches {sorted(k for k in want if k in got and got[k] != want[k])}", 5)
    sys.stdout.write(out)
    sys.stdout.flush()
    return rc


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true",
                    help="every workload at scale 0.05, traced and untraced")
    args = ap.parse_args()
    if not os.path.isdir(PROGRAM_SRC):
        fail(f"the program's sources ({os.path.relpath(PROGRAM_SRC, ROOT)}) "
             "are not in this checkout")
    if not args.smoke and not args.workload:
        fail("--workload is required")
    jars = spark_jars()
    build(jars)
    if not args.smoke:
        sys.exit(one_run(jars, args))
    bad = []
    for wl in WORKLOADS:
        for trace in (0, 1):
            a = argparse.Namespace(workload=wl, seed=args.seed, seconds=1,
                                   trace=trace)
            try:
                rc = one_run(jars, a, scale=0.05)
            except SystemExit as e:
                rc = e.code
            if rc != 0:
                bad.append(f"{wl}/trace={trace}")
    if bad:
        fail(f"smoke failed: {', '.join(bad)}", 1)
    print("perfbench: smoke passed", file=sys.stderr)


if __name__ == "__main__":
    main()
