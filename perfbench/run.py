#!/usr/bin/env python3
"""Build graft's benchmark from this checkout and run one workload.

    python3 perfbench/run.py --workload ingest|lookup|registry --seed N \
        --seconds S --trace 0|1
    python3 perfbench/run.py --selftest
    python3 perfbench/run.py --freeze-registry

The first call in a checkout compiles graft and the benchmark with sbt
(offline); later calls reuse the build while the sources are unchanged.
Everything the benchmark writes goes under `.bench_build/` in the checkout.
The last line of stdout is the result JSON; Spark logs go to stderr.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(ROOT, ".bench_build")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840

# Spark 4 on JDK 17 outside spark-submit needs these (as in graft's build.sbt).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def sources():
    """Files whose content decides the build: graft's and the benchmark's."""
    picked = []
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")):
        for d, _, files in os.walk(base):
            picked += [os.path.join(d, f) for f in files]
    picked += [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
               os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties")]
    return sorted(picked)


def require_checkout():
    missing = [p for p in ("build.sbt", "src/main/scala/graft", "perfbench/build.sbt",
                           "perfbench/src/main/scala/perfbench", "perfbench/registry_frozen.tsv")
               if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        fail("not a graft checkout (missing %s); nothing to build" % ", ".join(missing))
    if not shutil.which("sbt") or not shutil.which("java"):
        fail("sbt and java must be on PATH")


def build():
    """Compile once per source state; return the runtime classpath."""
    h = hashlib.sha256()
    for p in sources():
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    stamp = os.path.join(WORK, "build", h.hexdigest()[:16] + ".classpath")
    if not os.path.exists(stamp):
        env = dict(os.environ, COURSIER_MODE="offline")
        opts = ["-Dsbt.offline=true", "-Xmx2g"]
        repos = os.path.expanduser("~/.sbt/repositories")
        if os.path.exists(repos):
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
        t0 = time.time()
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "writeClasspath"],
                           cwd=BENCH, env=env, stdout=sys.stderr, stderr=sys.stderr,
                           timeout=BUILD_TIMEOUT_S)
        if r.returncode != 0:
            fail(f"build failed (sbt exit {r.returncode})")
        os.makedirs(os.path.dirname(stamp), exist_ok=True)
        shutil.copy(os.path.join(BENCH, "target", "classpath.txt"), stamp + ".tmp")
        os.replace(stamp + ".tmp", stamp)
        print(f"[perfbench] built in {time.time() - t0:.0f} s", file=sys.stderr)
    with open(stamp) as f:
        return f.read().strip()


def java_cmd(classpath, args):
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return (["java", "-Xmx3g", "-Duser.timezone=UTC",
             f"-Djava.io.tmpdir={tmp}",
             f"-Dlog4j2.configurationFile={os.path.join(BENCH, 'log4j2.properties')}"]
            + opens + ["-cp", classpath, "perfbench.Main"] + args
            + ["--work", WORK, "--bench", BENCH])


def run_java(cmd):
    """Run the benchmark JVM to completion (or kill it at the timeout);
    return its exit code and stdout lines."""
    p = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=sys.stderr, text=True,
                         start_new_session=True)
    try:
        out, _ = p.communicate(timeout=RUN_TIMEOUT_S)
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail("benchmark JVM timed out or was interrupted; no result", 3)
    return p.returncode, out.splitlines()


def expected_metrics(trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=["ingest", "lookup", "registry"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--selftest", action="store_true")
    ap.add_argument("--freeze-registry", action="store_true")
    a = ap.parse_args()
    require_checkout()
    os.makedirs(WORK, exist_ok=True)
    classpath = build()

    if a.selftest or a.freeze_registry:
        code, lines = run_java(java_cmd(classpath, ["selftest" if a.selftest else "freeze-registry"]))
        print("\n".join(lines))
        sys.exit(code)
    if not a.workload:
        fail("--workload is required")

    code, lines = run_java(java_cmd(classpath, [
        "run", "--workload", a.workload, "--seed", str(a.seed),
        "--seconds", str(a.seconds), "--trace", str(a.trace)]))
    for line in lines[:-1]:
        print(line, file=sys.stderr)
    try:
        result = json.loads(lines[-1])
    except (IndexError, ValueError):
        fail(f"benchmark JVM exited {code} without a result", code or 1)
    want = expected_metrics(a.trace == 1)
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    if result["correct"] and got != want:
        fail(f"metrics {sorted(got.items())} differ from BENCHMARK.json {sorted(want.items())}", 4)
    print(json.dumps(result))
    sys.exit(0 if result["correct"] and code == 0 else 1)


if __name__ == "__main__":
    main()
