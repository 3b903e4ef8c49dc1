#!/usr/bin/env python3
"""graft's benchmark.

    python3 perfbench/run.py --workload <table_ops|index_maintain>
        --seed <n> --seconds <s> --trace <0|1>

Run from the root of a graft checkout. The first run builds graft and the
harness from source with sbt (offline); later runs reuse the build while
the sources are unchanged. Each run makes its inputs from the seed, starts
one JVM running `local[<cpus>]`, sets the workload up, drives it as a
closed loop for the given seconds, checks every output, and prints as its
last stdout line one JSON object with `correct`, `attempted`, `failed` and
`metrics`: the end-to-end metrics with `--trace 0`, the per-layer metrics
with `--trace 1`. Everything a run writes lives in one temporary directory
under `perfbench/.work`, deleted on exit.
"""
import argparse
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402
import metrics  # noqa: E402

WORKLOADS = ("table_ops", "index_maintain")
BUILD_DIR = os.path.join(HERE, ".build")
WORK_DIR = os.path.join(HERE, ".work")
MIN_FREE_BYTES = 2 * 2 ** 30
JVM_HEAP = "-Xmx3g"
BUILD_TIMEOUT_S = 800
# the JVM's share of the 180 s a run may take
RUN_TIMEOUT_S = 165
SOURCES = ["build.sbt", "project/build.properties", "src/main",
           "perfbench/build.sbt", "perfbench/project/build.properties",
           "perfbench/src/main"]


class Failure(Exception):
    pass


def log(msg):
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def source_digest():
    """Digest of every file the build reads, so a changed source rebuilds."""
    h = hashlib.sha256()
    for rel in SOURCES:
        path = os.path.join(ROOT, rel)
        if not os.path.exists(path):
            raise Failure(f"graft source {rel} not found under {ROOT}")
        files = [path] if os.path.isfile(path) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(path) for f in fs)
        for f in files:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def build(key):
    """The harness classpath and graft's JVM options, building if needed.

    One build is kept, in `.build/current`, with the digest of the sources
    it was built from. sbt compiles into `target/` directories that other
    builds of the same work tree also write, so the class directories are
    copied into the kept build: what a run executes always matches the
    recorded digest, and a digest that differs from it builds again."""
    current = os.path.join(BUILD_DIR, "current")
    stamp = os.path.join(current, "digest")
    launch = os.path.join(current, "launch.txt")
    built = None
    if os.path.exists(stamp):
        with open(stamp) as f:
            built = f.read().strip()
    if built != key:
        os.makedirs(BUILD_DIR, exist_ok=True)
        log("building graft and the harness with sbt")
        with open(os.path.join(BUILD_DIR, "build.log"), "w") as out:
            rc = subprocess.run(
                ["sbt", "-batch", "-Dsbt.server.autostart=false",
                 "-Dsbt.log.noformat=true", "launchFile"],
                cwd=HERE, stdout=out, stderr=subprocess.STDOUT,
                stdin=subprocess.DEVNULL, timeout=BUILD_TIMEOUT_S).returncode
        if rc != 0:
            raise Failure(f"build failed, see {BUILD_DIR}/build.log")
        if source_digest() != key:
            raise Failure("the sources changed while they were being built")
        with open(os.path.join(HERE, "target", "launch.txt")) as f:
            lines = [l for l in f.read().splitlines() if l]
        shutil.rmtree(current, ignore_errors=True)
        os.makedirs(current)
        classpath = []
        for i, entry in enumerate(lines[0].split(os.pathsep)):
            if os.path.isdir(entry):
                copy = os.path.join(current, f"classes-{i}")
                shutil.copytree(entry, copy)
                entry = copy
            classpath.append(entry)
        with open(launch, "w") as f:
            f.write("\n".join([os.pathsep.join(classpath)] + lines[1:]) + "\n")
        # written last: a build cut short leaves no digest and builds again
        with open(stamp, "w") as f:
            f.write(key + "\n")
    with open(launch) as f:
        lines = [l for l in f.read().splitlines() if l]
    return lines[0], [o for o in lines[1:] if not o.startswith("-Xmx")] + [JVM_HEAP]


def run_jvm(classpath, jvm_opts, args, work):
    out = os.path.join(work, "result.json")
    cmd = ["java", *jvm_opts, f"-Djava.io.tmpdir={work}/tmp", "-cp", classpath,
           "graft.perfbench.Main", "--workload", args.workload,
           "--inputs", os.path.join(work, "inputs"), "--work", work,
           "--seconds", str(args.seconds), "--trace", str(args.trace),
           "--out", out]
    os.makedirs(os.path.join(work, "tmp"))
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "local"))
    log_path = os.path.join(work, "jvm.log")
    with open(log_path, "w") as lf:
        proc = subprocess.Popen(cmd, stdout=lf, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, env=env,
                                start_new_session=True)
        try:
            rc = proc.wait(timeout=RUN_TIMEOUT_S)
        except BaseException:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise
    if rc != 0 or not os.path.exists(out):
        with open(log_path, errors="replace") as lf:
            sys.stderr.write("".join(lf.readlines()[-40:]))
        raise Failure(f"the JVM exited with {rc}")
    with open(out) as f:
        return json.load(f)


# ------------------------------------------------------------ DuckDB oracle
# Same normalisation as scripts/selfcheck.py: columns by name, floats
# rounded to 9 places, rows compared as a multiset.

def _norm(v):
    if v is None:
        return "<null>"
    if isinstance(v, float):
        return "<nan>" if math.isnan(v) else repr(round(v, 9))
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def _signature(cur):
    cols = [d[0] for d in cur.description]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(cols), sorted(tuple(_norm(r[i]) for i in order) for r in cur.fetchall())


def oracle_check(data_dir, verify_dir):
    """Each query row's result against its oracle SQL run by DuckDB on the
    same parquet tables. Returns failure messages."""
    import duckdb
    con = duckdb.connect()
    for name in os.listdir(data_dir):
        if name.endswith(".parquet"):
            con.execute(f"CREATE VIEW {name[:-8]} AS SELECT * FROM "
                        f"read_parquet('{os.path.join(data_dir, name)}')")
    with open(os.path.join(verify_dir, "oracle_sql.json")) as f:
        oracle = json.load(f)
    fails = []
    for row, sql in sorted(oracle.items()):
        try:
            want = _signature(con.execute(sql))
            got = _signature(con.execute(
                f"SELECT * FROM read_parquet('{verify_dir}/{row}/*.parquet')"))
        except Exception as e:  # a broken row is a failed check
            fails.append(f"{row}: {e}")
            continue
        if want != got:
            fails.append(f"{row}: result differs from its DuckDB oracle")
    return fails


# ------------------------------------------------------------ main

def git_commit():
    """The checkout's commit, when it is a git work tree of its own."""
    if not os.path.isdir(os.path.join(ROOT, ".git")):
        return None
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT,
                              capture_output=True, text=True, timeout=10
                              ).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def run(args):
    if shutil.disk_usage(HERE).free < MIN_FREE_BYTES:
        raise Failure("less than 2 GiB of free disk; not starting")
    key = source_digest()
    classpath, jvm_opts = build(key)
    os.makedirs(WORK_DIR, exist_ok=True)
    work = tempfile.mkdtemp(prefix=f"{args.workload}-", dir=WORK_DIR)
    try:
        gen.write_inputs(args.seed, args.workload, os.path.join(work, "inputs"))
        rec = run_jvm(classpath, jvm_opts, args, work)
        failures = list(rec["failures"])
        if os.path.isdir(os.path.join(work, "verify")):
            failures += oracle_check(os.path.join(work, "inputs", "data"),
                                     os.path.join(work, "verify"))
    finally:
        shutil.rmtree(work, ignore_errors=True)

    samples = rec["samples"]
    if not samples:
        raise Failure("no call completed: " + "; ".join(failures[:3]))
    for s in samples:
        s["seconds"] = (s["end"] - s["start"]) / 1e9
    untraced = [s for s in samples if s["span"] == 0]
    traced = [s for s in samples if s["span"] != 0]
    context = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "cpus": rec["cpus"], "calib_sec": rec["calib_sec"],
        "jvm": rec["jvm"], "spark": rec["spark"], "git_commit": git_commit(),
        "source_digest": key, "checked": rec["checked"],
    }
    for f in failures:
        log(f"check failed: {f}")
    attempted = max(rec["attempted"], 1)
    failed = min(len(failures), attempted)
    if args.trace:
        values = metrics.per_layer(args.workload, rec, untraced, traced)
        out = {k: {"value": values[k], "unit": u} for k, u in metrics.PER_LAYER}
    else:
        e2e, tail = metrics.end_to_end(rec, untraced)
        context.update(tail)
        out = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
        print(json.dumps({"report": metrics.workload_report(
            args.workload, rec, untraced)}))
    print(json.dumps({"context": context}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": out}))
    return 0 if failed == 0 else 1


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()
    # a terminated run still stops its JVM and deletes its work directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    try:
        sys.exit(run(args))
    except Failure as e:
        log(str(e))
        sys.exit(2)


if __name__ == "__main__":
    main()
