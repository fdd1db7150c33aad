#!/usr/bin/env python3
"""graft's benchmark: one run of one workload.

    python3 graftbench/run.py --workload scan_mix --seed 1 --seconds 10 --trace 0

Run from the repository root. The first run builds graft and the
benchmark with sbt (graftbench/build.sbt) and keeps the classpath in
.graftbench/; later runs start the JVM directly, so no sbt output is
ever parsed for results. Each run works in its own directory under
.graftbench/ and removes it at the end.

The last line of standard output is one JSON object with the keys
correct, attempted, failed and metrics. --trace 0 gives the end-to-end
metrics; --trace 1 gives the per-layer metrics of BENCHMARK.json.
The full record of the run (per-kind latencies, error rate, every
metric) goes to .graftbench/result-<workload>-<seed>-<trace>.json.
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

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import stats  # noqa: E402

STATE = os.path.join(ROOT, ".graftbench")
WORKLOADS = ("scan_mix", "commit_stream", "row_dml")
RUN_TIMEOUT_S = 165
BUILD_TIMEOUT_S = 700

# what Spark needs on JDK 17 when started outside spark-submit; the same
# list as graft's own build.sbt
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"graftbench: {msg}", file=sys.stderr, flush=True)


def sources_stamp():
    """A digest of every file the build reads, to know when to rebuild."""
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project"),
            os.path.join(ROOT, "src", "main"), os.path.join(HERE, "build.sbt"),
            os.path.join(HERE, "project"), os.path.join(HERE, "src", "main")]
    for top in tops:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            if "target" not in p.split(os.sep):
                st = os.stat(p)
                h.update(f"{p}\0{st.st_size}\0{st.st_mtime_ns}\n".encode())
    return h.hexdigest()


def run_bounded(cmd, cwd, timeout, logfile):
    """Runs cmd in its own process group; kills the whole group on timeout."""
    with open(logfile, "w") as lf:
        p = subprocess.Popen(cmd, cwd=cwd, stdout=subprocess.PIPE, stderr=lf,
                             start_new_session=True, text=True)
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
    """The benchmark's runtime classpath, building first when sources changed."""
    stamp = sources_stamp()
    cp_file = os.path.join(STATE, "classpath.json")
    if os.path.exists(cp_file):
        with open(cp_file) as f:
            saved = json.load(f)
        if saved["stamp"] == stamp and all(os.path.exists(p) for p in saved["cp"]):
            return saved["cp"]
    log("building graft and the benchmark with sbt")
    t0 = time.time()
    code, out = run_bounded(
        ["sbt", "--batch", "-Dsbt.log.noformat=true",
         "--error", "export Runtime/fullClasspath"],
        HERE, BUILD_TIMEOUT_S, os.path.join(STATE, "build.log"))
    lines = [ln.strip() for ln in out.splitlines() if ln.strip()]
    if code != 0 or not lines:
        raise RuntimeError(f"sbt build failed (exit {code}); see .graftbench/build.log")
    cp = lines[-1].split(os.pathsep)
    with open(cp_file, "w") as f:
        json.dump({"stamp": stamp, "cp": cp}, f)
    log(f"built in {time.time() - t0:.0f} s")
    return cp


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        log(f"graft's sources are not in {ROOT}; run from a checkout of the repository")
        return 2
    os.makedirs(STATE, exist_ok=True)
    cp = classpath()

    tag = f"{args.workload}-{args.seed}-{args.trace}"
    work = os.path.join(STATE, f"work-{tag}-{os.getpid()}")
    raw_file = os.path.join(work, "raw.json")
    os.makedirs(os.path.join(work, "tmp"))
    cmd = (["java", "-Xmx3g", f"-Djava.io.tmpdir={work}/tmp",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [a for p in ADD_OPENS for a in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", os.pathsep.join(cp), "graftbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--work", work, "--out", raw_file])
    try:
        code, _ = run_bounded(cmd, ROOT, RUN_TIMEOUT_S,
                              os.path.join(STATE, f"run-{tag}.log"))
        if code != 0 or not os.path.exists(raw_file):
            log(f"the run failed (exit {code}); see .graftbench/run-{tag}.log")
            return 1
        with open(raw_file) as f:
            raw = json.load(f)
    finally:
        shutil.rmtree(work, ignore_errors=True)

    result, record = stats.summarize(raw, args.trace)
    for o in record["failures"]:
        log(f"failed op {o['id']} {o['kind']}: error={o['error']} "
            f"expected={o['expected'][:200]!r} actual={o['actual'][:200]!r}")
    with open(os.path.join(STATE, f"result-{tag}.json"), "w") as f:
        json.dump(record, f, indent=1, sort_keys=True)
    for kind, d in sorted(record["details"]["kinds"].items()):
        log(f"{kind:>8}: p50 {d['p50_ms']:.1f} ms, p{d['tail_pct']:.0f} "
            f"{d['tail_ms']:.1f} ms, n={d['n']}")
    log("phases: " + ", ".join(f"{k} {v:.1f} s" for k, v in raw["phases_s"].items())
        + f", loop {raw['loop_s']:.1f} s over {raw['rounds']} rounds")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
