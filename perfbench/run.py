#!/usr/bin/env python3
"""The benchmark's command. Builds the program and the harness from source
(build.py), then runs one workload in a fresh JVM and relays its result.

One run (the last stdout line is the result; the line before it is the run
stamp):

    python3 perfbench/run.py --workload relational_mix --seed 1 --seconds 15 --trace 0

Steadiness (runs one workload k times with seeds seed..seed+k-1 and prints
the median, quartiles, IQR/median and (max-min)/median of every metric):

    python3 perfbench/run.py --workload dedup_graph --seed 1 --seconds 15 --steady 5

Unit test of the job classifier:

    python3 perfbench/run.py --selftest

Regenerate perfbench/expected/queries.tsv (dumps the queries with
graft.Verify, checks the dump against DuckDB with tools/check.py, then
fingerprints it):

    python3 perfbench/run.py --make-expected

Every file a run writes stays under the build output directory
(.bench_build, or the directory CARGO_TARGET_DIR names): classes, the JVM's
temp and Spark's local directories, and results/<workload>-seed<n>-trace<t>.json
with the per-op records (and, traced, trace-<workload>-seed<n>.json).
"""
import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402

HERE = build.HERE
ROOT = build.ROOT
DATA = HERE / "data"
EXPECTED = HERE / "expected" / "queries.tsv"
WORKLOADS = ["relational_mix", "dedup_graph", "ingest_upsert"]
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def heap():
    """A quarter of physical memory, between 2 and 3 GB."""
    try:
        kb = int(next(l for l in open("/proc/meminfo") if l.startswith("MemTotal:")).split()[1])
        gb = max(2, min(3, kb // (4 * 1024 * 1024)))
    except (OSError, StopIteration, ValueError):
        gb = 2
    return f"{gb}g"


def commit():
    """The git commit of the checkout, when it is a git repository."""
    if not (ROOT / ".git").exists():
        return "unknown"
    try:
        r = subprocess.run(["git", "-C", str(ROOT), "rev-parse", "HEAD"],
                           capture_output=True, text=True, timeout=10)
        return r.stdout.strip() or "unknown"
    except (OSError, subprocess.SubprocessError):
        return "unknown"


def java_cmd(classes, main, args, work, digest, h=None):
    jars = build.spark_jars()
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    h = h or heap()
    # a fixed, pre-touched heap: no page faults or heap resizing inside ops
    return (["java", f"-Xms{h}", f"-Xmx{h}", "-XX:+AlwaysPreTouch", *opens,
             "-Dspark.ui.enabled=false",
             "-Dspark.sql.session.timeZone=UTC",
             f"-Djava.io.tmpdir={work / 'tmp'}",
             f"-Dspark.local.dir={work / 'local'}",
             f"-Dspark.sql.warehouse.dir={work / 'warehouse'}",
             f"-Dperfbench.commit={commit()}",
             f"-Dperfbench.source={digest}",
             "-cp", build.classpath(classes, jars), main, *args])


def run_jvm(cmd, work, timeout, stderr_path):
    """Runs the JVM and waits for it; kills it on timeout, and when this
    process is asked to stop, so that no JVM outlives the run."""
    with open(stderr_path, "w") as err:
        p = subprocess.Popen(cmd, cwd=work, stdout=subprocess.PIPE, stderr=err, text=True)

        def stop(signum, _frame):
            p.kill()
            p.wait()
            sys.exit(128 + signum)
        old = {s: signal.signal(s, stop) for s in (signal.SIGTERM, signal.SIGINT)}
        try:
            out, _ = p.communicate(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.communicate()
            raise
        finally:
            for s, h in old.items():
                signal.signal(s, h)
    return p.returncode, out


def run_once(classes, digest, workload, seed, seconds, trace, timeout):
    """One benchmark run; returns (stamp, result) or raises RuntimeError."""
    out = build.out_dir()
    work = out / f"run-{workload}-{seed}-{os.getpid()}"
    shutil.rmtree(work, ignore_errors=True)
    for d in ("tmp", "local", "warehouse", "ingest"):
        (work / d).mkdir(parents=True)
    results = out / "results"
    results.mkdir(parents=True, exist_ok=True)
    args = ["--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", str(trace), "--data", str(DATA), "--expected", str(EXPECTED),
            "--work", str(work / "ingest"), "--out", str(results)]
    errlog = results / f"{workload}-seed{seed}-trace{trace}.stderr.log"
    try:
        code, stdout = run_jvm(java_cmd(classes, "perfbench.Main", args, work, digest),
                               work, timeout, errlog)
    except subprocess.TimeoutExpired:
        raise RuntimeError(f"run exceeded {timeout:.0f} s (log: {errlog})")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = [l for l in stdout.splitlines() if l.startswith("{")]
    if code != 0 or len(lines) < 2:
        tail = errlog.read_text(errors="replace").splitlines()[-20:]
        raise RuntimeError(f"JVM exited {code}:\n" + "\n".join(tail))
    return json.loads(lines[-2])["stamp"], json.loads(lines[-1])


def quartiles(vals):
    if len(vals) < 2:
        return vals[0], vals[0], vals[0]
    q1, q2, q3 = statistics.quantiles(vals, n=4)
    return q1, statistics.median(vals), q3


def steady(classes, digest, a):
    """Runs the workload k times and prints the spread of every metric."""
    runs = []
    for i in range(a.steady):
        seed = a.seed + i
        stamp, res = run_once(classes, digest, a.workload, seed, a.seconds, a.trace, 180)
        flag = " LOADED" if stamp.get("loaded") else ""
        log(f"seed {seed}: correct={res['correct']} attempted={res['attempted']} "
            f"failed={res['failed']} load={stamp['loadavg_start']}->{stamp['loadavg_end']}{flag}")
        runs.append((stamp, res))
    names = list(runs[0][1]["metrics"])
    table = {}
    print(f"{'metric':28s} {'median':>12s} {'q1':>12s} {'q3':>12s} {'iqr/med':>8s} {'range/med':>9s}")
    for n in names:
        vals = [r["metrics"][n]["value"] for _, r in runs]
        q1, med, q3 = quartiles(vals)
        iqr = (q3 - q1) / med if med else float("nan")
        rng = (max(vals) - min(vals)) / med if med else float("nan")
        table[n] = {"median": med, "q1": q1, "q3": q3, "iqr_over_median": iqr,
                    "range_over_median": rng, "values": vals}
        print(f"{n:28s} {med:12.4f} {q1:12.4f} {q3:12.4f} {iqr:8.4f} {rng:9.4f}")
    summary = {"workload": a.workload, "seeds": [a.seed + i for i in range(a.steady)],
               "trace": a.trace, "all_correct": all(r["correct"] for _, r in runs),
               "loaded_runs": sum(1 for s, _ in runs if s.get("loaded")),
               "metrics": table}
    path = build.out_dir() / "results" / f"steady-{a.workload}-trace{a.trace}.json"
    path.write_text(json.dumps(summary, indent=1) + "\n")
    print(json.dumps({k: summary[k] for k in ("workload", "all_correct", "loaded_runs")}))
    return 0 if summary["all_correct"] else 1


def selftest():
    classes, digest, _ = build.build(tests=True)
    work = build.out_dir() / f"selftest-{os.getpid()}"
    for d in ("tmp", "local", "warehouse"):
        (work / d).mkdir(parents=True, exist_ok=True)
    try:
        r = subprocess.run(java_cmd(classes, "perfbench.ClassifyTest", [], work, digest, "1g"),
                           cwd=work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return r.returncode


def make_expected():
    classes, digest, _ = build.build()
    out = build.out_dir()
    dump = out / "verify"
    work = out / f"expected-{os.getpid()}"
    shutil.rmtree(dump, ignore_errors=True)
    for d in ("tmp", "local", "warehouse"):
        (work / d).mkdir(parents=True, exist_ok=True)
    r = subprocess.run(java_cmd(classes, "perfbench.Expected", ["--list"], work, digest),
                       cwd=work, capture_output=True, text=True)
    names = r.stdout.split()
    try:
        log(f"dumping {len(names)} queries with graft.Verify")
        subprocess.run(java_cmd(classes, "graft.Verify", [str(DATA), str(dump), *names],
                                work, digest), cwd=work, check=True)
        log("checking the dump against DuckDB (tools/check.py)")
        chk = subprocess.run([sys.executable, str(ROOT / "tools" / "check.py"), str(DATA), str(dump)],
                             capture_output=True, text=True)
        print(chk.stdout[-3000:])
        passed = {l.split("]")[1].split(":")[0].strip() for l in chk.stdout.splitlines()
                  if l.strip().startswith("[PASS")}
        missing = sorted(set(names) - passed)
        if chk.returncode != 0 or missing:
            log(f"DuckDB check failed; not passing: {missing}")
            return 1
        EXPECTED.parent.mkdir(parents=True, exist_ok=True)
        subprocess.run(java_cmd(classes, "perfbench.Expected",
                                [str(DATA), str(dump), str(EXPECTED), *names], work, digest),
                       cwd=work, check=True)
        log(f"wrote {EXPECTED.relative_to(ROOT)}")
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


def main():
    ap = argparse.ArgumentParser(description="SmartPipeline-on-Spark benchmark")
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=15)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--steady", type=int, metavar="K", help="run K seeds, print the spread")
    ap.add_argument("--selftest", action="store_true", help="run the classifier unit test")
    ap.add_argument("--make-expected", action="store_true",
                    help="regenerate expected/queries.tsv from a DuckDB-checked dump")
    a = ap.parse_args()
    started = time.monotonic()
    try:
        if a.selftest:
            return selftest()
        if a.make_expected:
            return make_expected()
        if not a.workload:
            ap.error("--workload is required")
        classes, digest, built = build.build()
        if a.steady:
            return steady(classes, digest, a)
        # a run that had to build may take 900 s in all, any other 180 s
        timeout = (890 if built else 175) - (time.monotonic() - started)
        stamp, result = run_once(classes, digest, a.workload, a.seed, a.seconds, a.trace, timeout)
    except (build.BuildError, RuntimeError, subprocess.CalledProcessError) as e:
        log(str(e))
        return 1
    if stamp.get("loaded"):
        log(f"other processes used {stamp['other_cores']:.2f} cores during the run "
            f"(more than 0.5; load average {stamp['loadavg_start']}->{stamp['loadavg_end']}, "
            f"nproc={stamp['nproc']}): this run is flagged, do not compare it")
    print(json.dumps({"stamp": stamp}))
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
