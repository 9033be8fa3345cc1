#!/usr/bin/env python3
"""Run one benchmark workload against the engine built from this checkout.

    python3 perfbench/run.py --workload serve|rag_batch|curate \
        --seed N --seconds S --trace 0|1

Run it from the repository root. The first run compiles the engine and
the benchmark with sbt (offline); later runs reuse the build while no
source file changed. Everything the run writes goes under
.bench_build/perfbench/: the classpath cache, the generated inputs
(deleted at the end of the run), each result as JSON and, for a traced
run, its spans.

The last stdout line is the result:
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
with the end-to-end metrics for --trace 0 and the per-layer metrics for
--trace 1. The exit code is 0 only when every operation and output check
passed and the metrics are exactly those BENCHMARK.json names.
"""
import argparse
import hashlib
import json
import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
HEAP = "3g"

# The module opens spark-submit passes to a JDK 17 JVM.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def source_files():
    """Every file whose change requires a rebuild."""
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names]
    return sorted(files)


def fingerprint(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_bounded(cmd, timeout, **kw):
    """Runs `cmd` in its own process group; kills the group on timeout."""
    proc = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = proc.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, 9)
        proc.communicate()
        raise
    return proc.returncode, out


def build(fp):
    """Compiles with sbt unless the cached classpath matches `fp`; returns the classpath."""
    cache = os.path.join(OUT, "classpath.json")
    if os.path.exists(cache):
        with open(cache) as fh:
            c = json.load(fh)
        if c.get("fingerprint") == fp:
            return c["classpath"]
    env = dict(os.environ, COURSIER_MODE="offline")
    print("[perfbench] building engine and benchmark with sbt", file=sys.stderr)
    rc, out = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true",
                           "export perfbench/Runtime/fullClasspath"],
                          BUILD_TIMEOUT_S, cwd=HERE, env=env, stdout=subprocess.PIPE,
                          stdin=subprocess.DEVNULL, text=True)
    if rc != 0:
        sys.stderr.write(out)
        raise SystemExit(f"[perfbench] sbt build failed (exit {rc})")
    classpath = out.strip().splitlines()[-1]
    os.makedirs(OUT, exist_ok=True)
    with open(cache, "w") as fh:
        json.dump({"fingerprint": fp, "classpath": classpath}, fh)
    return classpath


def git_sha():
    try:
        return subprocess.run(["git", "-C", ROOT, "rev-parse", "HEAD"], capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def validate(line, trace):
    """Problems with the result line against BENCHMARK.json, if that file is present."""
    try:
        result = json.loads(line)
    except ValueError:
        return [f"last line is not JSON: {line[:200]}"]
    problems = []
    if sorted(result) != ["attempted", "correct", "failed", "metrics"]:
        problems.append(f"result keys {sorted(result)}")
    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if os.path.exists(spec_path):
        with open(spec_path) as fh:
            spec = json.load(fh)
        want = {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}
        got = {k: v["unit"] for k, v in result["metrics"].items()}
        if want != got:
            problems.append(f"metrics differ from BENCHMARK.json: missing "
                            f"{sorted(set(want) - set(got))}, extra {sorted(set(got) - set(want))}, "
                            f"units {[k for k in want if k in got and want[k] != got[k]]}")
    return problems


def main():
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=["serve", "rag_batch", "curate"])
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=[0, 1])
    args = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        print("[perfbench] engine sources not found: run from a checkout of the repository",
              file=sys.stderr)
        return 2

    files = source_files()
    fp = fingerprint(files)
    classpath = build(fp)

    os.makedirs(os.path.join(OUT, "tmp"), exist_ok=True)
    cmd = (["java", f"-Xmx{HEAP}",
            f"-Djava.io.tmpdir={os.path.join(OUT, 'tmp')}",
            f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
            "-Dspark.ui.enabled=false"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", classpath, "graft.perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace), "--out", OUT])
    env = dict(os.environ, PERFBENCH_SOURCE_SHA256=fp)
    sha = git_sha()
    if sha:
        env["PERFBENCH_GIT_SHA"] = sha
    t0 = time.time()
    try:
        rc, out = run_bounded(cmd, RUN_TIMEOUT_S, cwd=ROOT, env=env, stdout=subprocess.PIPE,
                              stdin=subprocess.DEVNULL, text=True)
    except subprocess.TimeoutExpired:
        print(f"[perfbench] run exceeded {RUN_TIMEOUT_S} s and was stopped", file=sys.stderr)
        return 1
    lines = out.strip().splitlines()
    if not lines:
        print(f"[perfbench] no result (exit {rc})", file=sys.stderr)
        return rc or 1
    print("\n".join(lines[:-1]))
    problems = validate(lines[-1], args.trace == 1)
    for p in problems:
        print(f"[perfbench] {p}", file=sys.stderr)
    print(lines[-1])
    print(f"[perfbench] run took {time.time() - t0:.1f} s", file=sys.stderr)
    return 1 if problems else rc


if __name__ == "__main__":
    sys.exit(main())
