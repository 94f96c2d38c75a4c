#!/usr/bin/env python3
"""Benchmark entry point. Run from the repository root:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the benchmark from source with sbt (once per source
state), runs one workload in a fresh JVM at local[nproc], checks a traced
run's operator outputs against their DuckDB twins, and prints one JSON object
as the last line of stdout: {"correct", "attempted", "failed", "metrics"}.
Everything it writes goes under .bench_build/perfbench in the working
directory. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import struct
import subprocess
import sys

ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
JVM_TIMEOUT_S = 170

OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
         "java.net", "java.nio", "java.util", "java.util.concurrent",
         "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
         "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_hash():
    """Hash of every input of the build: engine sources, benchmark sources
    and build files."""
    h = hashlib.sha256()
    roots = [ENGINE_SRC, os.path.join(HERE, "src", "main"), os.path.join(HERE, "project")]
    files = [os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        if "/target/" in f:
            continue
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile with sbt when the sources changed; return the classpath."""
    stamp = os.path.join(WORK, "build.stamp")
    cp_file = os.path.join(WORK, "classpath.txt")
    digest = source_hash()
    if os.path.exists(stamp) and os.path.exists(cp_file):
        with open(stamp) as f:
            if f.read() == digest:
                with open(cp_file) as g:
                    return g.read().strip()
    log("building (sbt compile)")
    env = dict(os.environ, COURSIER_MODE="offline")
    env["SBT_OPTS"] = env.get("SBT_OPTS") or (
        "-Dsbt.override.build.repos=true -Dsbt.repository.config="
        + os.path.expanduser("~/.sbt/repositories") + " -Dsbt.offline=true -Xmx2g")
    p = subprocess.run(["sbt", "-J-XX:-UsePerfData", "--batch", "-Dsbt.log.noformat=true", "compile",
                        "export Runtime/fullClasspath"],
                       cwd=HERE, env=env, stdout=subprocess.PIPE, text=True,
                       stdin=subprocess.DEVNULL)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    sys.stderr.write(p.stdout if p.returncode else p.stdout[-2000:])
    if p.returncode != 0 or not lines or "scala-2.13/classes" not in lines[-1]:
        log(f"build failed (sbt exit {p.returncode})")
        sys.exit(3)
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp, "w") as f:
        f.write(digest)
    return cp


def heap():
    """SPARK_DRIVER_MEM if set, else half the host memory in GiB, clamped
    to 2..8 (the tier-1 test rule)."""
    if os.environ.get("SPARK_DRIVER_MEM"):
        return os.environ["SPARK_DRIVER_MEM"]
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration):
        return "2g"


def fmt(v):
    if v is None:
        return "null"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, float):
        return struct.pack(">d", v + 0.0).hex()
    return str(v)


def digest(cols, rows):
    """Same rule as Operators.digest on the Scala side."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted("|".join(fmt(r[i]) for i in order) for r in rows)
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()


def twin_digests(tw):
    """DuckDB twins of the operator calls, cached per input tables."""
    key = hashlib.sha256((tw["documents"] + tw["embeddings"]).encode()).hexdigest()[:16]
    cache = os.path.join(WORK, "twins", f"{key}.json")
    if os.path.exists(cache):
        with open(cache) as f:
            return json.load(f)
    import duckdb
    con = duckdb.connect()
    con.execute(f"SET threads = {len(os.sched_getaffinity(0))}")
    con.execute(f"SET temp_directory = '{os.path.join(WORK, 'tmp', 'duckdb')}'")
    con.execute(f"CREATE VIEW documents AS SELECT * FROM '{tw['documents']}/*.parquet'")
    con.execute(f"CREATE VIEW embeddings AS SELECT * FROM '{tw['embeddings']}/*.parquet'")
    out = {}
    for call in tw["calls"]:
        cur = con.execute(call["sql"])
        cols = [d[0] for d in cur.description]
        rows = cur.fetchall()
        out[call["name"]] = {"rows": len(rows), "digest": digest(cols, rows)}
    os.makedirs(os.path.dirname(cache), exist_ok=True)
    with open(cache + ".tmp", "w") as f:
        json.dump(out, f)
    os.replace(cache + ".tmp", cache)
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], required=True)
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ENGINE_SRC, "graft")):
        log(f"no engine sources under {ENGINE_SRC}: run from the repository root")
        sys.exit(2)
    # scratch of earlier runs (a killed JVM leaves its Spark directories)
    for d in ("tmp", "spark-local", "scratch"):
        shutil.rmtree(os.path.join(WORK, d), ignore_errors=True)
    os.makedirs(os.path.join(WORK, "tmp"), exist_ok=True)
    cp = build()
    mem = heap()
    out = os.path.join(WORK, f"result-{os.getpid()}.json")
    cmd = (["java"] + [x for p in OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
           + [f"-Xms{mem}", f"-Xmx{mem}", "-XX:+UseTransparentHugePages", "-XX:+AlwaysPreTouch",
              "-XX:-UsePerfData",
              "-Djava.io.tmpdir=" + os.path.join(WORK, "tmp"),
              "-Dspark.sql.codegen.cache.maxEntries=5000",
              "-Dspark.sql.codegen.useIdInClassName=false",
              "-cp", cp, "perfbench.Bench",
              "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
              "--trace", str(a.trace), "--out", out])
    try:
        p = subprocess.run(cmd, cwd=ROOT, stdin=subprocess.DEVNULL,
                           stdout=sys.stderr, timeout=JVM_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        log(f"run exceeded {JVM_TIMEOUT_S} s")
        sys.exit(4)
    if p.returncode != 0 or not os.path.exists(out):
        log(f"benchmark JVM failed (exit {p.returncode})")
        sys.exit(p.returncode or 5)
    with open(out) as f:
        res = json.load(f)
    os.remove(out)
    tw = res.pop("twins")
    if tw:
        twins = twin_digests(tw)
        for call in tw["calls"]:
            res["attempted"] += 1
            t = twins.get(call["name"], {})
            ok = t.get("digest") == call["digest"]
            log(f"twin {call['name']}: spark {call['rows']} rows, duckdb {t.get('rows')} rows, "
                + ("equal" if ok else "DIFFERENT"))
            if not ok:
                res["failed"] += 1
        res["correct"] = res["correct"] and res["failed"] == 0
    print(json.dumps(res))


if __name__ == "__main__":
    main()
