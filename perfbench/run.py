#!/usr/bin/env python3
"""Run one graft benchmark workload and print its result as the last line.

Usage (from the repository root):

    python3 perfbench/run.py --workload batch_boilerplate --seed 1 --seconds 10 --trace 0

The first run in a checkout builds the library and the harness with sbt
(perfbench/build.sbt); later runs reuse the classes until a source file
changes. Everything the run writes stays under perfbench/.work.
"""
import argparse
import json
import os
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
STAMP = os.path.join(WORK, "build.json")
WORKLOADS = ("batch_boilerplate", "incremental_fold")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 175
HEAP = "3g"
# what a JVM that creates a SparkSession outside spark-submit needs on JDK 17
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def log(msg):
    print(f"[run.py] {msg}", file=sys.stderr, flush=True)


def sources():
    """(path, size, mtime) of every file the build reads."""
    out = []
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, files in os.walk(top):
            out += [os.path.join(d, f) for f in files]
    out += [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
            os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    return sorted((p, os.path.getsize(p), int(os.path.getmtime(p))) for p in out)


def run_group(cmd, timeout, **kw):
    """Run `cmd` in its own process group; kill the whole group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise
    finally:
        if p.poll() is None:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
    return p.returncode, out


def classpath():
    """Builds when a source changed since the last build; returns the classpath."""
    fp = [list(s) for s in sources()]
    if os.path.exists(STAMP):
        with open(STAMP) as f:
            stamp = json.load(f)
        if stamp["sources"] == fp:
            return stamp["classpath"]
    log("building with sbt (first run in this checkout, or sources changed)")
    # resolve only from the local caches, as the repository's own test
    # command does; the build has no dependency outside them
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = env.get("SBT_OPTS", "")
    if "sbt.offline" not in opts:
        opts += " -Dsbt.offline=true"
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
    if "-Xmx" not in opts:
        opts += " -Xmx2g"
    env["SBT_OPTS"] = opts.strip()
    t0 = time.time()
    rc, out = run_group(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
        BUILD_TIMEOUT_S, cwd=HERE, env=env, stdout=subprocess.PIPE, stdin=subprocess.DEVNULL,
        text=True)
    lines = [l for l in out.splitlines() if l.strip()]
    if rc != 0 or not lines or lines[-1].startswith("["):
        sys.stderr.write(out[-4000:])
        raise SystemExit(f"build failed (exit {rc})")
    log(f"built in {time.time() - t0:.0f} s")
    with open(STAMP, "w") as f:
        json.dump({"sources": fp, "classpath": lines[-1]}, f)
    return lines[-1]


def expected_metrics(trace):
    """Metric names and units BENCHMARK.json promises for this mode."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--master", default="local[4]")
    ap.add_argument("--shuffle-partitions", type=int, default=4)
    a = ap.parse_args()

    if not (os.path.exists(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main"))):
        raise SystemExit("the graft sources (build.sbt, src/main) are not next to perfbench/")
    expected = expected_metrics(a.trace == 1)
    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    cp = classpath()

    env = dict(os.environ)
    # Spark prefers SPARK_LOCAL_DIRS over spark.local.dir; keep shuffle files
    # inside the checkout
    env["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:+AlwaysPreTouch", "-XX:-UsePerfData",
            f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}", "-Dspark.ui.enabled=false"]
           + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS]
           + ["-cp", cp, "perfbench.Main",
              "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", str(a.trace), "--work", WORK, "--master", a.master,
              "--shuffle-partitions", str(a.shuffle_partitions)])
    try:
        rc, out = run_group(cmd, RUN_TIMEOUT_S, cwd=WORK, env=env,
                            stdout=subprocess.PIPE, stdin=subprocess.DEVNULL, text=True)
    except subprocess.TimeoutExpired:
        raise SystemExit(f"the benchmark JVM ran past {RUN_TIMEOUT_S} s and was killed")
    lines = [l for l in out.splitlines() if l.strip()]
    for l in lines[:-1]:
        print(l)
    if rc != 0 or not lines:
        raise SystemExit(f"the benchmark JVM exited with {rc}")
    result = json.loads(lines[-1])
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    if got != expected:
        raise SystemExit(f"metrics differ from BENCHMARK.json: got {sorted(got)}")
    print(json.dumps(result))


if __name__ == "__main__":
    main()
