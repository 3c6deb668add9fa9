#!/usr/bin/env python3
"""graft benchmark runner.

Run from the root of a checkout:

  python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>
      One run of one workload. The last line of standard output is the
      result object. --trace 0 reports the end-to-end metrics, --trace 1
      the per-layer metrics.

  python3 perfbench/run.py --all --seed <n> [--seconds <s>]
      Every workload, untraced then traced: prints each workload's named
      end-to-end figures and per-layer figures with units, the tracing
      overhead and the CPU calibration probes. Exits non-zero on any wrong
      output.

  python3 perfbench/run.py --repeat-check [--runs <n>] [--seconds <s>]
      Two sets of <n> untraced runs per workload (different seeds) on the
      same code; prints, per (metric, workload), each set's median and
      quartiles, the spread (IQR / median) and the relative difference of
      the medians, against the bounds in BENCHMARK.json.

The first run in a checkout builds graft and the benchmark from source with
sbt and generates the operator tables; build outputs go to .bench_build/.
"""
import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
BUILD = ROOT / ".bench_build"
# "http" runs the http_ingest, http_query and http_paged workloads as
# sections of one run.
WORKLOADS = ["http", "pipeline_ops"]
RUN_LIMIT_S = 170  # one JVM run must end well inside the 180 s budget
HEAP = "4g"

OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


CHILD = None  # the running JVM, stopped with this script


def stop_child(signum, frame):
    if CHILD is not None and CHILD.poll() is None:
        os.killpg(CHILD.pid, signal.SIGKILL)
        CHILD.wait()
    sys.exit(128 + signum)


def log(msg):
    print(f"[run.py] {msg}", file=sys.stderr, flush=True)


def source_stamp():
    """Hash of every input of the build: graft's and the benchmark's sources and build files."""
    h = hashlib.sha256()
    files = [ROOT / "build.sbt", HERE / "build.sbt", HERE / "project" / "build.properties"]
    for base in (ROOT / "src" / "main", ROOT / "project", HERE / "src"):
        if base.is_dir():
            files += [p for p in base.rglob("*") if p.is_file() and "target" not in p.parts]
    for p in sorted(set(files)):
        if p.is_file():
            h.update(str(p.relative_to(ROOT)).encode())
            h.update(p.read_bytes())
    return h.hexdigest()


def sbt_env():
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    if "SBT_OPTS" not in env:
        opts = ["-Xmx2g", "-Dsbt.offline=true", "-Dsbt.server.autostart=false"]
        repos = Path.home() / ".sbt" / "repositories"
        if repos.is_file():
            opts += ["-Dsbt.override.build.repos=true", f"-Dsbt.repository.config={repos}"]
        env["SBT_OPTS"] = " ".join(opts)
    return env


def build():
    """Compile graft and the benchmark if their sources changed; returns the classpath."""
    if not (ROOT / "build.sbt").is_file() or not (ROOT / "src" / "main" / "scala" / "graft").is_dir():
        sys.exit("[run.py] graft's sources are missing: run from the root of a graft checkout")
    stamp_file = BUILD / "build.stamp"
    cp_file = BUILD / "classpath.txt"
    stamp = source_stamp()
    if stamp_file.is_file() and cp_file.is_file() and stamp_file.read_text() == stamp:
        return cp_file.read_text().strip()
    if shutil.which("sbt") is None:
        sys.exit("[run.py] sbt not found")
    BUILD.mkdir(parents=True, exist_ok=True)
    log("building graft and the benchmark with sbt")
    proc = subprocess.run(
        ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export perfbench/Runtime/fullClasspath"],
        cwd=HERE, env=sbt_env(), stdin=subprocess.DEVNULL, capture_output=True, text=True)
    lines = [l for l in proc.stdout.splitlines() if l.strip()]
    if proc.returncode != 0 or not lines or ".jar" not in lines[-1]:
        sys.stderr.write(proc.stdout[-4000:] + proc.stderr[-4000:])
        sys.exit("[run.py] build failed")
    classpath = lines[-1].strip()
    data = BUILD / "ops-data"
    shutil.rmtree(data, ignore_errors=True)
    data.mkdir(parents=True)
    log("generating the operator tables")
    code, _ = jvm(classpath, ["--gen-data", str(data)], limit=600)
    if code != 0:
        sys.exit("[run.py] table generation failed")
    cp_file.write_text(classpath + "\n")
    stamp_file.write_text(stamp)
    return classpath


def jvm(classpath, args, limit):
    """Runs perfbench.Main in a scratch directory of its own (its working
    directory, temp dir and Spark local dir); returns (exit code, stdout
    lines). Kills it after `limit` seconds."""
    work = BUILD / f"run-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    # a fixed-size heap: no heap resizing to vary from run to run
    cmd = ["java", *OPENS, f"-Xms{HEAP}", f"-Xmx{HEAP}", f"-Djava.io.tmpdir={work / 'tmp'}",
           f"-Dlog4j2.configurationFile={HERE / 'log4j2.properties'}",
           "-cp", classpath, "perfbench.Main", *args, "--work", str(work)]
    global CHILD
    proc = CHILD = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, stdin=subprocess.DEVNULL,
                                    text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=limit)
    except subprocess.TimeoutExpired:
        log(f"run exceeded {limit} s and was stopped")
        return 124, []
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    return proc.returncode, out.splitlines()


def run_once(classpath, workload, seed, seconds, trace):
    """One benchmark run; returns (exit code, result object or None, report dict or None)."""
    out = BUILD / "out"
    out.mkdir(parents=True, exist_ok=True)
    code, lines = jvm(classpath, [
        "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
        "--trace", str(trace), "--data", str(BUILD / "ops-data"),
        "--out", str(out)], RUN_LIMIT_S)
    result = None
    if lines:
        try:
            result = json.loads(lines[-1])
        except ValueError:
            result = None
    report_file = out / f"{workload}-seed{seed}-trace{trace}.json"
    report = json.loads(report_file.read_text()) if report_file.is_file() and result else None
    return code, lines, result, report


def single(args):
    classpath = build()
    code, lines, result, _ = run_once(classpath, args.workload, args.seed, args.seconds, args.trace)
    for line in lines:
        print(line)
    if result is None:
        sys.exit(code or 1)
    sys.exit(0 if code == 0 and result.get("correct") else 1)


def all_workloads(args):
    classpath = build()
    bad = False
    rows = []
    for w in WORKLOADS:
        reports = {}
        for trace in (0, 1):
            code, _, result, report = run_once(classpath, w, args.seed, args.seconds, trace)
            if result is None or not result.get("correct") or code != 0:
                bad = True
                log(f"{w} trace={trace}: wrong output or failed run (exit {code})")
            reports[trace] = report
        rows.append((w, reports))
    for w, reports in rows:
        base, traced = reports.get(0), reports.get(1)
        print(f"== {w}")
        if base:
            for section in ("end_to_end", "named", "diagnostics"):
                for name, m in base[section].items():
                    print(f"  {name:34s} {m['value']:14.4f} {m['unit']}")
        if traced:
            for name, m in traced["layers"].items():
                print(f"  {name:34s} {m['value']:14.4f} {m['unit']}")
        if base and traced:
            a = base["end_to_end"]["pass_s"]["value"]
            b = traced["end_to_end"]["pass_s"]["value"]
            print(f"  {'trace_overhead_pct':34s} {100 * (b - a) / a:14.4f} %")
    sys.exit(1 if bad else 0)


def quartiles(xs):
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4)
    return q1, statistics.median(xs), q3


def repeat_check(args):
    classpath = build()
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    workloads = [w["name"] for w in spec["workloads"]]
    n = args.runs
    seconds = args.seconds or spec["run_seconds"]
    ok = True
    raw = {}
    print(f"{'workload':13s} {'metric':18s} {'set':4s} {'q1':>11s} {'median':>11s} {'q3':>11s} "
          f"{'spread':>7s} {'bound':>6s} {'diff':>7s}")
    for w in workloads:
        sets = []
        for s in range(2):
            values = {}
            for i in range(n):
                seed = 1000 * (s + 1) + i
                code, _, result, _ = run_once(classpath, w, seed, seconds, 0)
                if result is None or code != 0 or not result.get("correct"):
                    ok = False
                    log(f"{w} seed {seed}: wrong output or failed run (exit {code})")
                    continue
                for name, m in result["metrics"].items():
                    values.setdefault(name, []).append(m["value"])
            sets.append(values)
        raw[w] = sets
        for name, bound in bounds.items():
            medians = []
            # each set alone, then both sets pooled
            for label, xs in (("A", sets[0].get(name, [])), ("B", sets[1].get(name, [])),
                              ("A+B", sets[0].get(name, []) + sets[1].get(name, []))):
                if not xs:
                    continue
                q1, med, q3 = quartiles(xs)
                spread = (q3 - q1) / med if med else float("inf")
                flag = "" if spread <= bound else "  SPREAD>BOUND"
                diff = ""
                if label != "A+B":
                    medians.append(med)
                if label == "B" and len(medians) == 2:
                    rel = (medians[1] - medians[0]) / medians[0]
                    diff = f"{rel:+7.3f}"
                    if abs(rel) > bound:
                        flag += "  DIFF>BOUND"
                if flag:
                    ok = False
                print(f"{w:13s} {name:18s} {label:4s} {q1:11.4f} {med:11.4f} {q3:11.4f} "
                      f"{spread:7.3f} {bound:6.2f} {diff:>7s}{flag}")
    (BUILD / "out").mkdir(parents=True, exist_ok=True)
    (BUILD / "out" / "repeat-check.json").write_text(json.dumps(raw, indent=1) + "\n")
    sys.exit(0 if ok else 1)


def main():
    signal.signal(signal.SIGTERM, stop_child)
    signal.signal(signal.SIGINT, stop_child)
    p = argparse.ArgumentParser(description="graft benchmark")
    p.add_argument("--workload", choices=WORKLOADS)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=None)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--all", action="store_true")
    p.add_argument("--repeat-check", action="store_true")
    p.add_argument("--runs", type=int, default=5)
    args = p.parse_args()
    if args.repeat_check:
        repeat_check(args)
    elif args.all:
        args.seconds = args.seconds or 5
        all_workloads(args)
    elif args.workload:
        args.seconds = args.seconds or 5
        single(args)
    else:
        p.error("give --workload, --all or --repeat-check")


if __name__ == "__main__":
    main()
