#!/usr/bin/env python3
"""Run one benchmark workload against the engine built from this checkout.

    python3 perfbench/run.py --workload <suite|endpoint_read|endpoint_mixed> \
        --seed <n> --seconds <s> --trace <0|1>

Run it from the root of a checkout. The first run builds the engine and the
benchmark program with sbt (offline); later runs reuse the build until a
source file changes. Each run starts a fresh JVM pinned to local[nproc] with
a heap sized from MemTotal, keeps every file it writes under
`.bench_build/perfbench/`, and removes its scratch directory on exit.

The last line of standard output is one JSON object:
    {"correct": .., "attempted": .., "failed": .., "metrics": {..}}
With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json,
with --trace 1 its per-layer metrics. The lines before it print the
workload's own figures (query_total_s, read_p50_ms, write_p90_ms, ...)
by name and unit.

--record-expected writes the suite's observed fingerprints to
perfbench/expected/suite.tsv instead of checking them.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
OUT = os.path.join(ROOT, ".bench_build", "perfbench")
CLASSPATH = os.path.join(OUT, "classpath.txt")
RUN_LIMIT_S = 170

# JDK 17 needs these when a SparkSession is created outside spark-submit
# (the same list as the engine's own build).
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
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sources():
    """Every file whose change calls for a rebuild."""
    for base in (os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src")):
        for d, _, fs in os.walk(base):
            for f in fs:
                yield os.path.join(d, f)
    for f in ("build.sbt", os.path.join("project", "build.properties")):
        yield os.path.join(ROOT, f)
        yield os.path.join(BENCH, f)


def build():
    """Compile engine + benchmark program with sbt unless the last build is current."""
    if os.path.exists(CLASSPATH):
        stamp = os.path.getmtime(CLASSPATH)
        if all(not os.path.exists(f) or os.path.getmtime(f) <= stamp for f in sources()):
            return open(CLASSPATH).read().strip()
    os.makedirs(OUT, exist_ok=True)
    env = dict(os.environ, COURSIER_MODE="offline")
    log("building engine and benchmark program with sbt")
    t0 = time.time()
    p = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
         "export Runtime/fullClasspath"],
        cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=sys.stderr,
        stdin=subprocess.DEVNULL, text=True)
    lines = [l for l in p.stdout.splitlines() if l and not l.startswith("[")]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:])
        raise SystemExit(f"build failed (sbt exit {p.returncode})")
    cp = lines[-1].strip()
    with open(CLASSPATH, "w") as f:
        f.write(cp + "\n")
    log(f"built in {time.time() - t0:.1f}s")
    return cp


def heap():
    """Half of MemTotal in GiB, clamped to [2, 8]: the engine's test heap."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        g = kb // 2097152
    except (OSError, StopIteration, ValueError):
        g = 2
    return f"{min(8, max(2, g))}g"


def run_jvm(cp, args, work, out):
    """One fresh JVM for the workload; returns its peak RSS in MB."""
    java = os.path.join(os.environ["JAVA_HOME"], "bin", "java") \
        if os.environ.get("JAVA_HOME") else "java"
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    cmd = [java, f"-Xmx{heap()}", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--data", os.path.join(BENCH, "data", "sf0.01"),
            "--expected", os.path.join(BENCH, "expected", "suite.tsv"),
            "--work", work, "--out", out, "--t0-ms", str(int(time.time() * 1000))]
    if args.record_expected:
        cmd += ["--record", os.path.join(BENCH, "expected", "suite.tsv")]
    env = {k: v for k, v in os.environ.items() if not k.startswith("SPARK_")}
    p = subprocess.Popen(cmd, cwd=work, env=env, stdout=sys.stderr, stderr=sys.stderr,
                         stdin=subprocess.DEVNULL, start_new_session=True)
    deadline = time.time() + RUN_LIMIT_S
    while True:
        pid, status, ru = os.wait4(p.pid, os.WNOHANG)
        if pid:
            break
        if time.time() > deadline:
            os.killpg(p.pid, signal.SIGKILL)
            os.wait4(p.pid, 0)
            raise SystemExit(f"workload run exceeded {RUN_LIMIT_S}s; killed")
        time.sleep(0.05)
    code = os.waitstatus_to_exitcode(status)
    if code != 0:
        raise SystemExit(f"benchmark JVM exited with {code}")
    return ru.ru_maxrss / 1024.0


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True,
                    choices=["suite", "endpoint_read", "endpoint_mixed"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--record-expected", action="store_true")
    args = ap.parse_args()

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    if not (os.path.exists(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))
            and os.path.exists(spec_path)):
        raise SystemExit("no engine sources next to the benchmark: run from a full checkout")
    spec = json.load(open(spec_path))

    cp = build()
    work = os.path.join(OUT, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    out = os.path.join(work, "record.json")
    try:
        rss_mb = run_jvm(cp, args, work, out)
        with open(out) as f:
            rec = json.load(f)
        if args.trace:
            keep = os.path.join(OUT, "traces", f"{args.workload}-{args.seed}.jsonl")
            os.makedirs(os.path.dirname(keep), exist_ok=True)
            if os.path.exists(os.path.join(work, "trace.jsonl")):
                shutil.copyfile(os.path.join(work, "trace.jsonl"), keep)
    finally:
        # the run's catalog artifacts and Spark scratch live under `work`
        shutil.rmtree(work, ignore_errors=True)

    rec["report"]["peak_rss_mb"] = {"value": rss_mb, "unit": "MB"}
    attempted, failed = int(rec["attempted"]), int(rec["failed"])
    rec["report"]["failed_share"] = {
        "value": failed / attempted if attempted else 1.0, "unit": "ratio"}
    for n in rec.get("notes", []):
        log(n)
    for k, m in {**rec["e2e"], **rec["report"]}.items():
        print(f"# {args.workload} {k} {m['value']} {m['unit']}")

    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    source = rec["layers"] if args.trace else rec["e2e"]
    if args.trace:
        # the traced run's own end-to-end values, for the tracing overhead
        source = dict(source, **{f"traced.{k}": v for k, v in rec["e2e"].items()})
    metrics = {}
    for m in wanted:
        if m["name"] not in source:
            raise SystemExit(f"run did not measure {m['name']}")
        metrics[m["name"]] = {"value": source[m["name"]]["value"], "unit": m["unit"]}

    hist = os.path.join(OUT, "results")
    os.makedirs(hist, exist_ok=True)
    kind = "trace" if args.trace else "plain"
    with open(os.path.join(hist, f"{args.workload}-{kind}-{args.seed}.json"), "w") as f:
        json.dump(rec, f)
    if args.trace:
        report_overhead(args.workload, rec, hist)

    print(json.dumps({"correct": bool(rec["correct"]) and failed == 0,
                      "attempted": max(attempted, 1), "failed": failed,
                      "metrics": metrics}))


def report_overhead(workload, traced, hist):
    """Tracing overhead: traced minus the median of this checkout's untraced runs."""
    plain = []
    for f in sorted(os.listdir(hist)):
        if f.startswith(f"{workload}-plain-"):
            with open(os.path.join(hist, f)) as fh:
                plain.append(json.load(fh)["e2e"])
    if not plain:
        log("no untraced run of this workload yet: tracing overhead not computed")
        return
    for k, m in traced["e2e"].items():
        vals = sorted(p[k]["value"] for p in plain if k in p)
        if vals:
            med = vals[len(vals) // 2]
            print(f"# {workload} trace_overhead.{k} {m['value'] - med} {m['unit']}")


if __name__ == "__main__":
    main()
