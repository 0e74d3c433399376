#!/usr/bin/env python3
"""Benchmark entry point for the graft validation engine.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. Builds the engine and the benchmark's Scala runner
from source (once per source state, into .bench_build/), makes the inputs
from the seed, runs one workload in one JVM at local[min(4, nproc)], checks
the outputs against answers computed outside the engine, and prints one
JSON line: {"correct", "attempted", "failed", "metrics"}. Exits 1 when an
output is wrong, 2 on bad arguments or missing sources, 3 when the build or
the JVM fails.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

BUILD = ".bench_build"
CLASSES = os.path.join(BUILD, "target", "scala-2.13", "classes")
CLASSPATH = os.path.join(BUILD, "classpath")
WORKLOADS = ("verdict-clean", "evidence-resume", "operator-catalog")
# clips per partition (16 partitions): verdict-clean is sized so the decode
# and join work outweighs the fixed per-job cost; evidence-resume's round is
# dominated by its many small jobs and checkpoint rewrites, so more rows
# would only lengthen generation
ROWS_PER_PART = {"verdict-clean": 1000, "evidence-resume": 300}
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
             "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]


def log(msg):
    print("[perfbench] " + msg, file=sys.stderr, flush=True)


def die(code, msg):
    log(msg)
    sys.exit(code)


def source_stamp():
    h = hashlib.sha256()
    files = sorted(glob.glob("src/main/scala/**/*.scala", recursive=True) +
                   glob.glob("perfbench/src/**/*.scala", recursive=True) +
                   ["perfbench/build.sbt", "perfbench/project/build.properties"])
    for f in files:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    stamp_file = os.path.join(BUILD, "stamp")
    stamp = source_stamp()
    if (os.path.isdir(CLASSES) and os.path.exists(CLASSPATH) and os.path.exists(stamp_file)
            and open(stamp_file).read() == stamp):
        return
    os.makedirs(BUILD, exist_ok=True)
    log("building engine + benchmark with sbt (first run in this checkout)")
    env = dict(os.environ, COURSIER_MODE="offline")
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true",
           "-Dsbt.global.base=" + os.path.abspath(os.path.join(BUILD, "sbt-global")),
           "-Dsbt.server.autostart=false", "-Dsbt.override.build.repos=true",
           "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories"),
           "-Dsbt.offline=true", "compile", "export Runtime/fullClasspath"]
    build_log = os.path.join(BUILD, "build.log")
    with open(build_log, "w") as out:
        rc = run_child(cmd, out, 840, cwd="perfbench", env=env)
    with open(build_log) as fh:
        lines = fh.read().splitlines()
    # `export` prints the runtime classpath as one unprefixed line
    cp = [l for l in lines if not l.startswith("[") and os.pathsep in l and "classes" in l]
    if rc != 0 or not os.path.isdir(CLASSES) or not cp:
        sys.stderr.write("\n".join(lines)[-3000:])
        die(3, "build failed")
    with open(CLASSPATH, "w") as fh:
        fh.write(cp[-1].strip())
    with open(stamp_file, "w") as fh:
        fh.write(stamp)


def run_child(cmd, out, timeout, **kw):
    """Runs cmd in its own process group; on timeout kills the whole group
    (the sbt launcher forks a JVM) and waits for it."""
    proc = subprocess.Popen(cmd, stdout=out, stderr=subprocess.STDOUT,
                            start_new_session=True, **kw)
    try:
        return proc.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
        return -9


def heap():
    """JVM heap sized from MemTotal like the tier-1 test command: half
    of memory, clamped to 2..8 GiB."""
    try:
        with open("/proc/meminfo") as fh:
            kb = next(int(l.split()[1]) for l in fh if l.startswith("MemTotal:"))
        return "%dg" % min(8, max(2, kb // 2097152))
    except (OSError, StopIteration):
        return "2g"


def jiffies():
    """(busy, total) host jiffies from /proc/stat; read only."""
    with open("/proc/stat") as fh:
        f = [int(x) for x in fh.readline().split()[1:]]
    idle = f[3] + (f[4] if len(f) > 4 else 0)
    return sum(f) - idle, sum(f)


def parquet_rows(path):
    import pyarrow.parquet as pq
    return sum(pq.ParquetFile(f).metadata.num_rows
               for f in glob.glob(os.path.join(path, "*.parquet")))


def verify_verdict(res, errs):
    import faults
    n = faults.PARTS * ROWS_PER_PART["verdict-clean"]
    for name, path in res["observations"]["tables"].items():
        rows = parquet_rows(path)
        if rows != n:
            errs.append("%s has %d rows in its parquet footers, generator made %d" % (name, rows, n))
    report = res["observations"].get("report")
    if report is None:
        return
    for o in report:
        if o["rows_failed"] != 0 or o["status"] != "PASS":
            errs.append("verdict-clean: %s %s rowsFailed=%d" % (o["check"], o["status"], o["rows_failed"]))
        if o["check"].endswith("_drift") and float(o["observed"]) != 0.0:
            errs.append("verdict-clean: %s observed %s, expected exactly 0" % (o["check"], o["observed"]))


def verify_evidence(res, seed, errs):
    import pyarrow.parquet as pq
    import faults
    rows_per_part = ROWS_PER_PART["evidence-resume"]
    n = faults.PARTS * rows_per_part
    for name, path in res["observations"]["tables"].items():
        rows = parquet_rows(path)
        if rows != n:
            errs.append("%s has %d rows in its parquet footers, expected %d" % (name, rows, n))
    exp = faults.expected_partitions(seed, rows_per_part, with_faults=True)
    exp_ev = faults.expected_evidence(seed, rows_per_part)
    failing = sorted(p for p, e in exp.items() if e["status"] == "FAILED")
    for k, rnd in enumerate(res["observations"]["rounds"]):
        where = "round %d" % k
        first = rnd["first_pass"]
        if first is not None:
            if sorted(first) != sorted(exp):
                errs.append("%s: first pass validated %s" % (where, sorted(first)))
            for p, obs in sorted(first.items()):
                e = exp.get(p)
                if e is None:
                    continue
                if obs["status"] != e["status"]:
                    errs.append("%s %s: status %s, expected %s" % (where, p, obs["status"], e["status"]))
                errs.extend(faults.check_outcomes(obs["outcomes"], e, "%s %s" % (where, p)))
        if rnd["evidence"] is not None:
            t = pq.read_table(rnd["evidence"]).to_pylist()
            got = {(r["part_id"], r["clip_id"], r["check_name"]) for r in t}
            if len(t) != len(got) or got != exp_ev:
                errs.append("%s: evidence rows differ: missing %s, unexpected %s" % (
                    where, sorted(exp_ev - got)[:5], sorted(got - exp_ev)[:5]))
        resume = rnd["resume"]
        if resume is not None:
            if sorted(resume) != failing:
                errs.append("%s: resume validated %s, expected %s" % (where, sorted(resume), failing))
            if any(s != "SUCCESS" for s in resume.values()):
                errs.append("%s: resume left %s" % (where, resume))
        if first is not None and resume is not None:
            ck = {r["part_id"]: r for r in pq.read_table(rnd["checkpoint"]).to_pylist()}
            for p in exp:
                r = ck.get(p)
                want = 2 if p in failing else 1
                if r is None or r["status"] != "SUCCESS" or r["attempts"] != want:
                    errs.append("%s: checkpoint %s = %s, expected SUCCESS attempts=%d" % (
                        where, p, None if r is None else (r["status"], r["attempts"]), want))


def verify_catalog(res, tables_dir, names, errs):
    import oracle
    obs = res["observations"]
    bad, pairs = oracle.check(obs["outputs"], tables_dir, names, obs["oracle_sql"])
    for q, reason in sorted(bad.items()):
        errs.append("%s disagrees with its DuckDB twin: %s" % (q, reason))
    reason = oracle.self_test({q: p for q, p in pairs.items() if q not in bad})
    if reason:
        errs.append("oracle self-test: " + reason)
    return sorted(bad)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    a = ap.parse_args()

    if not (os.path.isdir("src/main/scala/graft") and os.path.isfile("perfbench/build.sbt")
            and os.path.isfile("BENCHMARK.json")):
        die(2, "run from the root of a full checkout: engine sources not found")
    with open("BENCHMARK.json") as fh:
        spec = json.load(fh)
    build()
    t_start = time.time()  # the 180 s per-run limit excludes the first run's build

    cores = min(4, len(os.sched_getaffinity(0)))
    run_dir = os.path.abspath(os.path.join(BUILD, "runs", "%s-s%d-%d" % (a.workload, a.seed, os.getpid())))
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(os.path.join(run_dir, "tmp"))
    try:
        tables_dir = os.path.join(run_dir, "tables")
        if a.workload == "operator-catalog":
            import catalog_data
            sizes = catalog_data.generate(a.seed, tables_dir)
            log("catalog tables: %s" % sizes)

        cmd = ["java", "-Xmx" + heap(), "-XX:+UseG1GC",
               "-Duser.timezone=UTC", "-Dspark.sql.session.timeZone=UTC", "-Dspark.ui.enabled=false",
               "-Djava.io.tmpdir=" + os.path.join(run_dir, "tmp")]
        for p in ADD_OPENS:
            cmd += ["--add-opens", p + "=ALL-UNNAMED"]
        with open(CLASSPATH) as fh:
            classpath = fh.read()
        cmd += ["-cp", classpath,
                "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
                "--seconds", str(a.seconds), "--trace", str(a.trace), "--dir", run_dir,
                "--cores", str(cores)]
        if a.workload in ROWS_PER_PART:
            cmd += ["--rows-per-part", str(ROWS_PER_PART[a.workload])]
        b0, tot0 = jiffies()
        c0 = os.times()
        w0 = time.time()
        jvm_log = os.path.join(run_dir, "jvm.log")
        with open(jvm_log, "w") as out:
            rc = run_child(cmd, out, max(30, 170 - (time.time() - t_start)))
        wall = time.time() - w0
        b1, tot1 = jiffies()
        c1 = os.times()
        own = (c1.children_user + c1.children_system + c1.user + c1.system
               - c0.children_user - c0.children_system - c0.user - c0.system)
        ncpu = os.cpu_count() or 1
        host_busy = (b1 - b0) / max(1, tot1 - tot0) * ncpu
        external = max(0.0, host_busy - own / max(wall, 1e-9))
        log("host load: %.2f external busy cores (of %d) during the %.1f s JVM run; "
            "this run used %.2f cores" % (external, ncpu, wall, own / max(wall, 1e-9)))
        res_file = os.path.join(run_dir, "result.json")
        if rc != 0 or not os.path.exists(res_file):
            with open(jvm_log) as fh:
                sys.stderr.write(fh.read()[-4000:])
            die(3, "JVM exited with %d" % rc)
        with open(res_file) as fh:
            res = json.load(fh)

        errs = list(res["mismatches"])
        failed = res["failed"]
        for f in res["failures"]:
            log("failed operation: " + f)
        if a.workload == "verdict-clean":
            verify_verdict(res, errs)
        elif a.workload == "evidence-resume":
            verify_evidence(res, a.seed, errs)
        else:
            import catalog_data
            bad = verify_catalog(res, tables_dir, catalog_data.TABLES, errs)
            # a disagreeing query failed in every round it ran
            failed += len(bad) * res["rounds_run"]
        for e in errs[:20]:
            log("WRONG: " + e)

        if a.trace:
            log("spans and counters: " + str(res["trace_file"]))
            vals = {m["name"]: res["layers"].get(m["name"], 0.0) for m in spec["per_layer"]}
            metrics = {m["name"]: {"value": vals[m["name"]], "unit": m["unit"]} for m in spec["per_layer"]}
        else:
            e2e = res["end_to_end"]
            metrics = {m["name"]: {"value": e2e[m["name"]], "unit": m["unit"]} for m in spec["end_to_end"]}
        log("rounds %d, sampled %s s; set-ups %s s; first round %.3f s" % (
            res["rounds_run"], ["%.3f" % x for x in res["round_samples_s"]],
            ["%.3f" % x for x in res["setup_samples_s"]], res["end_to_end"]["first_round_s"] or 0))
        log("steps (sum over sampled rounds): " + ", ".join(
            "%s %.3f" % kv for kv in sorted(res["warm_steps_s"].items())))
        out = {"correct": not errs, "attempted": res["attempted"], "failed": failed,
               "metrics": metrics}
        print(json.dumps(out))
        sys.exit(0 if not errs else 1)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


if __name__ == "__main__":
    main()
