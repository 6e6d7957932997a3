#!/usr/bin/env python3
"""Link-graph benchmark runner.

Run from the repository root:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --selftest

Workloads: web-pagerank and web-communities (see BENCHMARK.json). The first call builds the engine and the benchmark from
source with sbt (perfbench/build.sbt, which compiles the repository's own
build one directory up) and caches the classpath under perfbench/target;
later calls rebuild only when a source file is newer than that cache.
Each run is one JVM (perfbench.Main) whose scratch data lives under
perfbench/work. The last line of standard output is the result object.

--selftest proves the harness: the listener attributes a known job, the
gate rejects perturbed outputs, and every workload at a tiny size prints
exactly the metrics BENCHMARK.json declares, with their units.
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
WORK = os.path.join(HERE, "work")
CLASSPATH = os.path.join(HERE, "target", "bench.classpath")
RUN_TIMEOUT_S = 175
BUILD_TIMEOUT_S = 880
HEAP = "1g"

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def newest_source_mtime():
    newest = 0.0
    for top in (os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        for d, _, files in os.walk(top):
            for f in files:
                newest = max(newest, os.path.getmtime(os.path.join(d, f)))
    for f in (os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")):
        newest = max(newest, os.path.getmtime(f))
    return newest


def run_bounded(cmd, timeout, **kw):
    """Run cmd in its own process group; kill the group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail(f"{cmd[0]} did not finish within {timeout} s", 3)
    return p.returncode, out


def build():
    """Compile engine + benchmark; cache the runtime classpath."""
    if os.path.exists(CLASSPATH) and os.path.getmtime(CLASSPATH) >= newest_source_mtime():
        return
    t0 = time.time()
    opts = os.environ.get("SBT_OPTS", "") + " -Dsbt.server.autostart=false"
    code, out = run_bounded(
        ["sbt", "-batch", "-Dsbt.log.noformat=true", "export Runtime/fullClasspath"],
        BUILD_TIMEOUT_S, cwd=HERE, stdout=subprocess.PIPE, text=True,
        env=dict(os.environ, SBT_OPTS=opts.strip()))
    lines = [l for l in out.splitlines() if l.strip()]
    sys.stderr.write("\n".join(lines[:-1]) + "\n")
    if code != 0 or not lines or os.pathsep not in lines[-1]:
        fail(f"sbt build failed (exit {code})", 3)
    os.makedirs(os.path.dirname(CLASSPATH), exist_ok=True)
    with open(CLASSPATH, "w") as f:
        f.write(lines[-1].strip())
    print(f"perfbench: built in {time.time() - t0:.1f} s", file=sys.stderr)


def java(args, timeout=RUN_TIMEOUT_S):
    """Run perfbench.Main; return (exit code, stdout lines)."""
    with open(CLASSPATH) as f:
        cp = f.read().strip()
    for d in ("spark-local", "tmp", "warehouse"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    # A run keeps to few threads so that it does not queue behind itself
    # on a small shared host: two GC threads, like the session's two local
    # cores. The heap is touched at start, not during timed runs. C1 only,
    # compiling early: C2 keeps recompiling for many runs, so timings
    # drift and differ from JVM to JVM, while C1 settles within the one
    # warm-up run. Every run makes Spark generate ~100 new classes; in
    # C1's default 48 MB code cache the sweeper then takes a third of the
    # CPU time, and a larger cache avoids that.
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}", "-Xss64m",
            "-XX:+UseParallelGC", "-XX:ParallelGCThreads=2", "-XX:+AlwaysPreTouch",
            "-XX:TieredStopAtLevel=1", "-XX:CompileThresholdScaling=0.1",
            "-XX:ReservedCodeCacheSize=256m"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-Dspark.ui.enabled=false",
              "-Dspark.sql.session.timeZone=UTC",
              f"-Dspark.local.dir={os.path.join(WORK, 'spark-local')}",
              f"-Dspark.sql.warehouse.dir={os.path.join(WORK, 'warehouse')}",
              f"-Djava.io.tmpdir={os.path.join(WORK, 'tmp')}",
              f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
              "-cp", cp, "perfbench.Main"]
           + args + ["--work", WORK])
    code, out = run_bounded(cmd, timeout, cwd=ROOT, stdout=subprocess.PIPE, text=True)
    return code, out.splitlines()


def selftest():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    bad = []

    code, lines = java(["--selftest"], timeout=600)
    print("\n".join(lines))
    if code != 0:
        bad.append("harness self-test")

    # Metrics each workload's report line must name (the per-algorithm view).
    named = {
        "web-pagerank": ["setup_s", "run_s", "pagerank_s", "pagerank_gteps"],
        "web-communities": ["setup_s", "run_s", "wcc_s", "recovered_wcc_s", "lpa_s", "triangles_s"],
    }
    for w in spec["workloads"]:
        for trace, declared in (("0", spec["end_to_end"]), ("1", spec["per_layer"])):
            code, lines = java(["--workload", w["name"], "--seed", "7", "--seconds", "1",
                                "--trace", trace, "--size", "tiny"])
            what = f"{w['name']} --trace {trace}"
            try:
                res = json.loads(lines[-1])
                report = json.loads(next(l for l in lines if l.startswith("perfbench report "))
                                    .split(" ", 2)[2])
            except (IndexError, StopIteration, ValueError):
                bad.append(f"{what}: no result (exit {code})")
                continue
            want = {m["name"]: m["unit"] for m in declared}
            got = {k: v["unit"] for k, v in res["metrics"].items()}
            extra = named[w["name"]] + ["peak_storage_mb", "ops_failed_frac"]
            checks = [
                (code == 0, "exit code 0"),
                (set(res) == {"correct", "attempted", "failed", "metrics"}, "result keys"),
                (res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 1,
                 f"correct, {res['attempted']} ops, {res['failed']} failed"),
                (got == want, f"{len(got)} metrics with the declared units"),
                (all(isinstance(v["value"], (int, float)) for v in res["metrics"].values()),
                 "numeric values"),
                (all(k in report and report[k]["unit"] for k in extra),
                 "report names " + ", ".join(extra)),
            ]
            for ok, msg in checks:
                print(f"perfbench selftest {'ok  ' if ok else 'FAIL'} {what}: {msg}")
                if not ok:
                    bad.append(f"{what}: {msg}")
            if got != want:
                print(f"  missing {sorted(set(want) - set(got))}, undeclared {sorted(set(got) - set(want))}, "
                      f"unit mismatch {sorted(k for k in got if k in want and got[k] != want[k])}")
    print("perfbench selftest " + ("passed" if not bad else f"FAILED: {bad}"))
    return 0 if not bad else 1


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", choices=["0", "1"], default="0")
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft"))):
        fail(f"no engine sources next to {HERE}: run from a full checkout of the repository")
    if not a.selftest and not a.workload:
        fail("--workload is required")
    build()
    if a.selftest:
        sys.exit(selftest())
    code, lines = java(["--workload", a.workload, "--seed", str(a.seed),
                        "--seconds", str(a.seconds), "--trace", a.trace])
    for l in lines:
        print(l)
    if code != 0:
        fail(f"benchmark exited with {code}", code)
    try:
        json.loads(lines[-1])
    except (IndexError, ValueError):
        fail("benchmark printed no result", 4)


if __name__ == "__main__":
    main()
