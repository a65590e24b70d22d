#!/usr/bin/env python3
"""graft's closed-loop benchmark.

Usage, from the root of a graft checkout:

    python3 loadbench/run.py --workload <store_serve|store_ingest|train_prep> \
        --seed <n> --seconds <s> --trace <0|1>

Builds graft and the benchmark from the checkout's sources (once per
source state, into $CARGO_TARGET_DIR/loadbench, default
.bench_build/loadbench), runs one workload in a fresh JVM and prints, as
its last stdout line, one JSON object with `correct`, `attempted`,
`failed` and `metrics`: the end-to-end metrics with --trace 0, the
per-layer metrics with --trace 1. For train_prep the verified results
are checked here against graft's DuckDB oracle SQL. See README.md.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import signal
import subprocess
import sys

WORKLOADS = ("store_serve", "store_ingest", "train_prep")
JVM_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 840
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg, code=1):
    print(f"loadbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp(root):
    """Hash of every input of the build: graft's and the benchmark's sources."""
    files = []
    for base in ("src/main/scala", "loadbench/src/main"):
        for dirpath, _, names in os.walk(os.path.join(root, base)):
            files += [os.path.join(dirpath, n) for n in names]
    files += [os.path.join(root, "loadbench", p) for p in ("build.sbt", "project/build.properties")]
    h = hashlib.sha256()
    for f in sorted(files):
        h.update(os.path.relpath(f, root).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build(root, out):
    """Compiles with sbt (offline) and returns the runtime classpath."""
    stamp_file = os.path.join(out, "stamp")
    cp_file = os.path.join(out, "target", "classpath.txt")
    stamp = source_stamp(root)
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as fh:
            if fh.read() == stamp:
                with open(cp_file) as cp:
                    return cp.read()
    os.makedirs(out, exist_ok=True)
    opts = os.environ.get("SBT_OPTS") or " ".join([
        "-Dsbt.override.build.repos=true",
        "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories"),
        "-Dsbt.offline=true", "-Xmx2g"])
    env = dict(os.environ, COURSIER_MODE="offline",
               SBT_OPTS=f"{opts} -Dsbt.server.autostart=false "
                        f"-Dloadbench.target={os.path.join(out, 'target')}")
    log = os.path.join(out, "build.log")
    with open(log, "w") as fh:
        rc = run_bounded(["sbt", "--batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                         cwd=os.path.join(root, "loadbench"), env=env, stdout=fh,
                         timeout=BUILD_TIMEOUT_S)
    if rc != 0 or not os.path.exists(cp_file):
        with open(log) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        fail(f"build failed (exit {rc}); log in {log}")
    with open(stamp_file, "w") as fh:
        fh.write(stamp)
    with open(cp_file) as cp:
        return cp.read()


def run_bounded(cmd, timeout, **kw):
    """Runs `cmd` in its own process group; kills the group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, stderr=subprocess.STDOUT
                         if kw.get("stdout") else None, **kw)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        return -9


# ---- DuckDB oracle check for train_prep ------------------------------

def norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return 0.0 if v == 0.0 else v
    if isinstance(v, (list, tuple)):
        return tuple(norm(x) for x in v)
    return v


def canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted((tuple(norm(r[i]) for i in order) for r in rows), key=repr)


def oracle_check(corpus, verified, work):
    """{query: None | mismatch message} for every verified result."""
    import duckdb
    con = duckdb.connect()
    con.sql("SET memory_limit='2GB'")
    con.sql("SET threads=2")
    con.sql(f"SET temp_directory='{work}/duckdb_tmp'")
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events", "documents", "embeddings"):
        con.sql(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{corpus}/{t}.parquet/*.parquet')")
    with open(os.path.join(verified, "oracle.json")) as fh:
        oracle = json.load(fh)
    out = {}
    for name, sql in sorted(oracle.items()):
        try:
            o = con.sql(sql)
            ocols, orows = [c.lower() for c in o.columns], o.fetchall()
            files = glob.glob(os.path.join(verified, name, "*.parquet"))
            s = con.sql(f"SELECT * FROM read_parquet({files!r})")
            scols, srows = [c.lower() for c in s.columns], s.fetchall()
        except Exception as e:  # noqa: BLE001 - any oracle error is a failed check
            out[name] = f"oracle error: {e}"
            continue
        if sorted(ocols) != sorted(scols):
            out[name] = f"columns differ: oracle {sorted(ocols)} graft {sorted(scols)}"
        elif canon(orows, ocols) != canon(srows, scols):
            out[name] = f"rows differ: oracle {len(orows)} rows, graft {len(srows)}"
        else:
            out[name] = None
    con.close()
    return out


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()

    root = os.getcwd()
    if not os.path.isdir(os.path.join(root, "src", "main", "scala", "graft")):
        fail("no graft sources under src/main/scala/graft: run from the root of a graft checkout", 2)
    if not os.path.isfile(os.path.join(root, "loadbench", "build.sbt")):
        fail("loadbench/build.sbt missing: run from the root of a graft checkout", 2)

    out = os.path.join(root, os.environ.get("CARGO_TARGET_DIR", ".bench_build"), "loadbench")
    classpath = build(root, out)

    work = os.path.join(out, "work", a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    cmd = ["java"] + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        "-Xmx3g", "-XX:-UseDynamicNumberOfCompilerThreads", "-Dspark.ui.enabled=false", f"-Djava.io.tmpdir={work}/tmp",
        "-cp", classpath, "loadbench.Main",
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", a.trace, "--work", work, "--corpus", os.path.join(out, "corpus", "sf0.01")]
    stdout_path = os.path.join(work, "stdout.log")
    stderr_path = os.path.join(work, "stderr.log")
    with open(stdout_path, "w") as so, open(stderr_path, "w") as se:
        p = subprocess.Popen(cmd, stdout=so, stderr=se, start_new_session=True)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            rc = -9
    with open(stdout_path) as fh:
        lines = [line.rstrip("\n") for line in fh if line.strip()]
    if rc != 0 or not lines or not lines[-1].startswith("{\"correct\""):
        with open(stderr_path) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
        fail(f"benchmark JVM exited with {rc} and no result; logs in {work}")
    for line in lines[:-1]:
        print(line)
    result = json.loads(lines[-1])

    if a.workload == "train_prep":
        calls = next(json.loads(x)["by_class"] for x in lines
                     if x.startswith("{\"detail\":\"calls\""))
        for name, msg in oracle_check(os.path.join(out, "corpus", "sf0.01"),
                                      os.path.join(work, "verified"), work).items():
            if msg is not None:
                print(f"loadbench: {name} does not match the DuckDB oracle: {msg}",
                      file=sys.stderr)
                result["failed"] += calls.get(name, 1)
                result["correct"] = False
    print(json.dumps(result, separators=(",", ":")))


if __name__ == "__main__":
    main()
