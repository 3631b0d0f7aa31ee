#!/usr/bin/env python3
"""Build and run the CDC benchmark.

    python3 cdcbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 cdcbench/run.py --workload all [--seed <n>] [--seconds <s>]

Run from the root of a checkout. The first run compiles the benchmark
together with the checkout's own sources (../src/main) with sbt; later runs
reuse that build until a source or build file changes. Build output, data and
traces go to .bench_build/ in the checkout.

One workload: the benchmark's output passes through; its last line is the
result JSON. `--workload all` runs every workload untraced and prints a
table of every end-to-end metric under the names the design uses.
"""
import argparse
import hashlib
import json
import os
import signal
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
CHECKOUT = os.path.dirname(HERE)
BUILD = os.path.join(CHECKOUT, ".bench_build")
CLASSPATH = os.path.join(BUILD, "classpath.txt")
STAMP = os.path.join(BUILD, "classpath.stamp")

# the workloads BENCHMARK.json declares, then those run by hand only
WORKLOADS = ["snapshot_load", "agg_catchup"]
EXTRA = ["replica_tail"]
RESULT_KEYS = {"correct", "attempted", "failed", "metrics"}

# The design's names for the end-to-end metrics of each workload.
DESIGN_NAMES = {
    "snapshot_load": {"items_per_s": "snapshot_rows_per_s",
                      "op_ms_p50": "snapshot_read_ms_p50"},
    "agg_catchup": {"items_per_s": "catchup_events_per_s",
                    "op_ms_p50": "catchup_trigger_ms_p50"},
    "replica_tail": {"items_per_s": "tail_committed_events_per_s",
                     "op_ms_p50": "tail_freshness_ms_p50"},
}

# Spark 4 on JDK 17 outside spark-submit needs these module openings.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]
HEAP = "2g"
RUN_TIMEOUT_S = 175


def fail(msg):
    print(f"cdcbench: {msg}", file=sys.stderr)
    sys.exit(2)


def source_fingerprint():
    """Hash of every file the build reads."""
    h = hashlib.sha256()
    roots = [os.path.join(CHECKOUT, "src", "main"), os.path.join(HERE, "src", "main")]
    files = [os.path.join(CHECKOUT, "build.sbt"), os.path.join(HERE, "build.sbt"),
             os.path.join(HERE, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        if os.path.isfile(f):
            h.update(os.path.relpath(f, CHECKOUT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile with sbt (once per source state) and return the classpath."""
    if not os.path.isdir(os.path.join(CHECKOUT, "src", "main", "scala")):
        fail(f"no program sources under {os.path.join(CHECKOUT, 'src', 'main', 'scala')}")
    stamp = source_fingerprint()
    if os.path.isfile(STAMP) and os.path.isfile(CLASSPATH):
        with open(STAMP) as f:
            if f.read() == stamp:
                with open(CLASSPATH) as c:
                    return c.read()
    os.makedirs(BUILD, exist_ok=True)
    # the build resolves only from local caches: no network
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    opts = env.get("SBT_OPTS", "")
    if "sbt.offline" not in opts:
        opts += " -Dsbt.offline=true"
        repos = os.path.expanduser(os.path.join("~", ".sbt", "repositories"))
        if os.path.isfile(repos):
            opts += f" -Dsbt.override.build.repos=true -Dsbt.repository.config={repos}"
    env["SBT_OPTS"] = opts.strip()
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true",
           "-Dsbt.io.implicit.relative.glob.conversion=allow",
           "compile", "export Runtime/fullClasspath"]
    p = subprocess.run(cmd, cwd=HERE, env=env, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True, timeout=850,
                       start_new_session=True)
    lines = [l for l in p.stdout.splitlines() if ".jar" in l and os.pathsep in l]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:])
        fail(f"build failed (sbt exit {p.returncode})")
    cp = lines[-1].strip()
    with open(CLASSPATH, "w") as f:
        f.write(cp)
    with open(STAMP, "w") as f:
        f.write(stamp)
    return cp


def run_one(cp, workload, seed, seconds, trace):
    """Run one workload in a fresh JVM; return (exit code, stdout lines)."""
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # -XX:-UsePerfData: no hsperfdata file outside the checkout
    cmd = ["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-XX:-UsePerfData",
           f"-Djava.io.tmpdir={tmp}",
           f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
           "-Dspark.ui.enabled=false"]
    for o in ADD_OPENS:
        cmd += ["--add-opens", f"{o}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "cdcbench.Main", "--workload", workload, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", str(trace),
            "--root", os.path.join(BUILD, "data")]
    p = subprocess.Popen(cmd, cwd=CHECKOUT, stdout=subprocess.PIPE, text=True,
                         start_new_session=True)
    try:
        out, _ = p.communicate(timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail(f"{workload} did not finish within {RUN_TIMEOUT_S} s")
    return p.returncode, out.splitlines()


def parse_result(lines):
    if not lines:
        return None
    try:
        r = json.loads(lines[-1])
    except ValueError:
        return None
    return r if isinstance(r, dict) and set(r) == RESULT_KEYS else None


def run_all(cp, seed, seconds):
    print(f"{'workload':<15} {'metric':<26} {'value':>14} unit")
    for w in WORKLOADS + EXTRA:
        code, lines = run_one(cp, w, seed, seconds, 0)
        r = parse_result(lines)
        if code != 0 or r is None:
            print(f"{w:<15} FAILED (exit {code})")
            continue
        for name, m in sorted(r["metrics"].items()):
            design = DESIGN_NAMES[w].get(name, name)
            print(f"{w:<15} {design:<26} {m['value']:>14.4f} {m['unit']}")
        print(f"{w:<15} {'attempted / failed':<26} {r['attempted']:>8} / {r['failed']:<4}"
              f" correct={r['correct']}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + EXTRA + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    if a.seconds < 1:
        fail("--seconds must be at least 1")
    cp = build()
    if a.workload == "all":
        run_all(cp, a.seed, a.seconds)
        return
    code, lines = run_one(cp, a.workload, a.seed, a.seconds, a.trace)
    for line in lines:
        print(line)
    if code != 0:
        sys.exit(code)
    if parse_result(lines) is None:
        fail("the run printed no result line")


if __name__ == "__main__":
    main()
