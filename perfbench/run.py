#!/usr/bin/env python3
"""graft's benchmark: one seeded workload, one run, one JSON result line.

    python3 perfbench/run.py --workload ingest|mutate --seed N \
        --seconds S --trace 0|1

Run from the repository root. The first run in a checkout builds graft and
the benchmark from source with sbt (perfbench/build.sbt); later runs reuse
the build while no source file changed. Each run starts one JVM with a
local[nproc/2] Spark session, sets the workload up, runs the closed loop for
--seconds and checks every answer. All files it makes stay
under perfbench/.work and the target/ directories of the two builds.

The last line of standard output is
  {"correct": .., "attempted": .., "failed": .., "metrics": {..}}
with the end-to-end metrics when --trace 0 and the per-layer metrics of the
traced run when --trace 1. Lines before it start with "info".
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
REPO = os.path.dirname(HERE)
WORK = os.path.join(HERE, ".work")
LAUNCH = os.path.join(HERE, "target", "launch.txt")
STAMP = os.path.join(HERE, "target", "launch.stamp")
WORKLOADS = ("ingest", "mutate")
# a run must end within 180 s after the build
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 840
HEAP = "3g"


def fail(msg):
    print("perfbench: " + msg, file=sys.stderr)
    sys.exit(1)


def sources_digest():
    """Digest of every file the build reads: graft's sources and build
    definition, and the benchmark's own."""
    h = hashlib.sha256()
    roots = [os.path.join(REPO, "src", "main"), os.path.join(REPO, "project"),
             os.path.join(HERE, "src"), os.path.join(HERE, "project")]
    files = [os.path.join(REPO, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, n) for n in sorted(names)]
    for f in files:
        h.update(os.path.relpath(f, REPO).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def run_bounded(cmd, limit_s, **kw):
    """Run cmd in its own process group; kill the group when it overruns or
    when this script is told to stop. Returns (returncode, stdout) and
    always waits for the process."""
    p = subprocess.Popen(cmd, stdout=subprocess.PIPE, start_new_session=True,
                         text=True, **kw)

    def stop(signum, _frame):
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        sys.exit(128 + signum)

    old = {s: signal.signal(s, stop) for s in (signal.SIGTERM, signal.SIGINT)}
    try:
        out, _ = p.communicate(timeout=limit_s)
        return p.returncode, out
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.communicate()
        return None, ""
    finally:
        for s, h in old.items():
            signal.signal(s, h)


def build():
    """Build with sbt unless the last build used the same sources."""
    if not (os.path.isfile(os.path.join(REPO, "build.sbt"))
            and os.path.isdir(os.path.join(REPO, "src", "main", "scala", "graft"))):
        fail("graft's sources are not next to perfbench/ (run from a checkout)")
    digest = sources_digest()
    if os.path.isfile(LAUNCH) and os.path.isfile(STAMP):
        with open(STAMP) as fh:
            if fh.read().strip() == digest:
                return
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    tmp = os.path.join(HERE, "target", "tmp")
    os.makedirs(tmp, exist_ok=True)
    # sbt's own state and temp files stay in the checkout too
    opts = ["-Dsbt.offline=true", "-Dsbt.server.autostart=false",
            "-Dsbt.global.base=" + os.path.join(HERE, "target", "sbt-global"),
            "-Djava.io.tmpdir=" + tmp, "-XX:-UsePerfData"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        opts += ["-Dsbt.override.build.repos=true", "-Dsbt.repository.config=" + repos]
    env["SBT_OPTS"] = " ".join([env.get("SBT_OPTS", ""), "-Xmx2g"] + opts).strip()
    t0 = time.time()
    rc, out = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeLaunch"],
                          BUILD_LIMIT_S, cwd=HERE, env=env, stderr=subprocess.STDOUT)
    if rc != 0 or not os.path.isfile(LAUNCH):
        sys.stderr.write(out[-4000:])
        fail("build failed" if rc is not None else "build timed out")
    with open(STAMP, "w") as fh:
        fh.write(digest + "\n")
    print("info build_s %.1f" % (time.time() - t0), file=sys.stderr)


def task_slots():
    """Spark's task threads: half the CPUs, so that the driver, the JIT and
    the collector run beside the tasks instead of queueing behind them."""
    try:
        n = len(os.sched_getaffinity(0))
    except AttributeError:
        n = os.cpu_count() or 1
    return max(1, n // 2)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()

    build()
    started = time.time()
    with open(LAUNCH) as fh:
        jvm = [l for l in fh.read().split("\n") if l]
    os.makedirs(WORK, exist_ok=True)
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java"] + jvm + ["-Xmx" + HEAP, "-Djava.io.tmpdir=" + tmp, "-XX:-UsePerfData",
                             "perfbench.Main", "--workload", a.workload,
                             "--seed", str(a.seed), "--seconds", str(a.seconds),
                             "--trace", a.trace, "--work", WORK,
                             "--cpus", str(task_slots())])
    left = RUN_LIMIT_S - (time.time() - started)
    rc, out = run_bounded(cmd, max(left, 10), cwd=REPO)
    result = None
    for line in out.splitlines():
        if line.startswith("PERFBENCH_RESULT "):
            result = json.loads(line[len("PERFBENCH_RESULT "):])
        elif line.startswith("info "):
            print(line)
    if rc != 0 or result is None:
        fail("benchmark JVM %s" % ("timed out" if rc is None else "exited with %s" % rc))

    # tracing overhead: the traced run's end-to-end figures against the
    # latest untraced run of the same workload and seed in this checkout
    last = os.path.join(WORK, "untraced-%s-%d.json" % (a.workload, a.seed))
    if a.trace == "0":
        with open(last, "w") as fh:
            json.dump(result["e2e"], fh)
    elif os.path.isfile(last):
        with open(last) as fh:
            base = json.load(fh)
        for k in ("request_p50_ms",):
            b, t = base[k]["value"], result["e2e"][k]["value"]
            if b:
                print("info trace.overhead.%s %+.1f%% (untraced %.4g, traced %.4g)"
                      % (k, 100.0 * (t - b) / b, b, t))
    else:
        print("info trace.overhead unknown: no untraced run of this workload and seed here")

    print(json.dumps({k: result[k] for k in ("correct", "attempted", "failed", "metrics")}))


if __name__ == "__main__":
    main()
