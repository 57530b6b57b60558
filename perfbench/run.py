#!/usr/bin/env python3
"""Run one benchmark workload from the root of a source checkout.

    python3 perfbench/run.py --workload <ycsb-a|ycsb-t|gateway|analytics>
                             --seed <n> --seconds <s> --trace <0|1>

The first run in a checkout builds the engine and the benchmark from
source with sbt (the benchmark's own build in perfbench/ pulls in the
root project); later runs reuse the build while the sources are
unchanged. The run itself is one JVM (perfbench.Main) whose last stdout
line is the result JSON. Scratch files live under .bench_tmp/ and are
removed afterwards; results and span files are kept under .bench_out/.
"""
import argparse
import hashlib
import os
import shutil
import signal
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
LAUNCHER = os.path.join(HERE, "target", "launcher.txt")
STAMP = os.path.join(HERE, "target", "launcher.stamp")
RUN_LIMIT_S = 170
HEAP = "2g"


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_hash():
    """Digest of every file the build reads from the checkout."""
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


def build():
    digest = source_hash()
    if os.path.exists(LAUNCHER) and os.path.exists(STAMP):
        with open(STAMP) as fh:
            if fh.read().strip() == digest:
                return
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true -Dsbt.offline=true -Xmx2g")
    print("perfbench: building engine and benchmark with sbt", file=sys.stderr)
    t0 = time.time()
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "launcher"],
                       cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
                       stdin=subprocess.DEVNULL)
    if r.returncode != 0 or not os.path.exists(LAUNCHER):
        fail(f"build failed (sbt exit {r.returncode})")
    with open(STAMP, "w") as fh:
        fh.write(digest + "\n")
    print(f"perfbench: build took {time.time() - t0:.1f} s", file=sys.stderr)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["ycsb-a", "ycsb-t", "gateway", "analytics"])
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=["0", "1"])
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
        fail("no engine sources under src/main/scala/graft; run from a full checkout")
    build()
    with open(LAUNCHER) as fh:
        launch = [l for l in fh.read().splitlines() if l]
    os.makedirs(os.path.join(ROOT, ".bench_tmp"), exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="run-", dir=os.path.join(ROOT, ".bench_tmp"))
    out = os.path.join(ROOT, ".bench_out")
    cmd = (["java", f"-Xmx{HEAP}", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}"] + launch +
           ["perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace, "--tmp", tmp, "--out", out,
            "--data", os.path.join(HERE, "data", "sf0.01")])
    # a SIGTERM to this script also stops the JVM (through the finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    code = None
    proc = subprocess.Popen(cmd, cwd=ROOT, stdin=subprocess.DEVNULL)
    try:
        code = proc.wait(timeout=RUN_LIMIT_S)
    except subprocess.TimeoutExpired:
        pass
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(tmp, ignore_errors=True)
    if code is None:
        fail(f"run exceeded {RUN_LIMIT_S} s and was stopped")
    sys.exit(code)


if __name__ == "__main__":
    main()
