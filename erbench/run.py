#!/usr/bin/env python3
"""Entity-resolution engine benchmark: one command for every workload.

Run from the repository root:

    python3 erbench/run.py --workload er_batch --seed 1 --seconds 10 --trace 0

Builds the engine and the benchmark from source with sbt on first use (or
when a source file changed), then runs one workload in a single JVM at
local[nproc]. Prints one `name value unit` line per metric and, as the last
line of stdout, one JSON object: end-to-end metrics with --trace 0,
per-layer metrics with --trace 1 (see BENCHMARK.json for both lists).
Exits non-zero when an output check fails or the build is impossible.
"""
import argparse
import hashlib
import json
import os
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
OUT = os.path.join(ROOT, ".bench_build", "erbench")
CLASSPATH = os.path.join(HERE, "target", "erbench-classpath.txt")
# JVM class-data archive of the benchmark's classpath: the first run in a
# checkout writes it at exit, later runs map it and start Spark faster.
CDS_ARCHIVE = os.path.join(OUT, "classes.jsa")
BUILD_TIMEOUT_S = 840
RUN_TIMEOUT_S = 170
HEAP = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"erbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Digest of every file the build reads, so an edit triggers a rebuild."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, names in os.walk(r):
            files += [os.path.join(d, n) for n in names]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def run_bounded(cmd, timeout, **kw):
    """Runs `cmd` in its own process group and kills the group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail(f"{cmd[0]} timed out after {timeout}s", 1)
    return p.returncode, out


def classpath():
    stamp = source_stamp()
    if os.path.exists(CLASSPATH):
        with open(CLASSPATH) as f:
            saved, cp = f.read().split("\n", 1)
        if saved == stamp:
            return cp.strip()
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")  # resolve from the local cache only
    env.setdefault("SBT_OPTS", "-Dsbt.offline=true -Dsbt.override.build.repos=true")
    t0 = time.time()
    code, out = run_bounded(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
         "export Runtime/fullClasspathAsJars"],
        BUILD_TIMEOUT_S, cwd=HERE, env=env, stdin=subprocess.DEVNULL,
        stdout=subprocess.PIPE, text=True)
    lines = out.strip().splitlines()
    if code != 0 or not lines or "erbench" not in lines[-1]:
        sys.stderr.write(out[-4000:])
        fail("build failed", 1)
    cp = lines[-1].strip()
    if os.path.exists(CDS_ARCHIVE):
        os.remove(CDS_ARCHIVE)  # built for the previous classpath
    os.makedirs(os.path.dirname(CLASSPATH), exist_ok=True)
    with open(CLASSPATH, "w") as f:
        f.write(stamp + "\n" + cp + "\n")
    print(f"erbench: built in {time.time() - t0:.1f}s", file=sys.stderr)
    return cp


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.isfile(spec_path):
        fail("run from the repository root (BENCHMARK.json not found)")
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail("engine sources (build.sbt, src/main/scala/graft) are missing")
    with open(spec_path) as f:
        spec = json.load(f)
    if a.workload not in [w["name"] for w in spec["workloads"]]:
        fail(f"unknown workload {a.workload}")

    cp = classpath()
    os.makedirs(os.path.join(OUT, "tmp"), exist_ok=True)
    cds = (f"-XX:SharedArchiveFile={CDS_ARCHIVE}" if os.path.exists(CDS_ARCHIVE)
           else f"-XX:ArchiveClassesAtExit={CDS_ARCHIVE}")
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", cds, f"-Djava.io.tmpdir={os.path.join(OUT, 'tmp')}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "erbench.Main", "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace), "--out", OUT])
    code, out = run_bounded(cmd, RUN_TIMEOUT_S, cwd=ROOT, stdin=subprocess.DEVNULL,
                            stdout=subprocess.PIPE, text=True)
    res = [l for l in out.splitlines() if l.startswith("ERBENCH ")]
    if not res:
        sys.stderr.write(out[-4000:])
        fail(f"workload {a.workload} produced no result (exit {code})", 1)
    r = json.loads(res[-1][len("ERBENCH "):])

    metrics = {}
    for m in spec["per_layer" if a.trace else "end_to_end"]:
        v = r["values"].get(m["name"])
        if v is None:
            if not a.trace:
                fail(f"end-to-end metric {m['name']} was not measured", 1)
            v = 0.0  # a layer this workload does not call
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    for name, m in metrics.items():
        print(f"{name} {m['value']} {m['unit']}")
    print(f"op_fail_ratio {r['failed'] / max(1, r['attempted'])} ratio")
    ok = bool(r["correct"]) and r["failed"] == 0 and code == 0
    print(json.dumps({"correct": ok, "attempted": r["attempted"], "failed": r["failed"],
                      "metrics": metrics}))
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
