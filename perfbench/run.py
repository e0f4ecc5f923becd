#!/usr/bin/env python3
"""graft's benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run in a checkout builds the
library and the benchmark with sbt (perfbench/build.sbt) and caches the
classpath under perfbench/.build; later runs start the JVM directly.
Human-readable `metric`/`layer` lines go to stdout, Spark's log to
stderr, and the last stdout line is the run's JSON result. For
query_mix this script also compares every query's result with DuckDB
running the program's oracle SQL over the same generated tables.
See perfbench/README.md for the workloads and metrics.
"""
import argparse
import datetime
import decimal
import glob
import hashlib
import json
import math
import os
import shutil
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
BUILD = os.path.join(BENCH, ".build")
WORK = os.path.join(BENCH, ".work")
WORKLOADS = ["sync_trickle", "query_mix"]
RUN_TIMEOUT_S = 170

# Spark 4 on JDK 17 needs these when the session is created outside
# spark-submit; the library's own build passes the same list.
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[run.py] {msg}", file=sys.stderr, flush=True)


def sources():
    """Every file the build reads, for the build fingerprint."""
    pats = ["build.sbt", "project/*.properties", "project/*.sbt", "src/main/**/*",
            "perfbench/build.sbt", "perfbench/project/*.properties", "perfbench/src/**/*"]
    out = []
    for p in pats:
        out += [f for f in glob.glob(os.path.join(ROOT, p), recursive=True) if os.path.isfile(f)]
    return sorted(set(out))


def fingerprint(files):
    h = hashlib.sha256()
    for f in files:
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def classpath():
    """Build if the sources changed since the cached build; return the classpath."""
    files = sources()
    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or not any("/src/main/" in f for f in files):
        sys.exit("run.py: the library sources (build.sbt, src/main) are not here; "
                 "run from the root of a full checkout")
    fp = fingerprint(files)
    fp_file, cp_file = os.path.join(BUILD, "fingerprint"), os.path.join(BUILD, "classpath")
    if os.path.isfile(fp_file) and os.path.isfile(cp_file) and open(fp_file).read() == fp:
        return open(cp_file).read().strip()
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    log("building the library and the benchmark with sbt ...")
    r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.offline=true",
                        "compile", "export perfbench/Runtime/fullClasspath"],
                       cwd=BENCH, env=env, stdout=subprocess.PIPE, stderr=sys.stderr,
                       text=True, timeout=850)
    lines = [l for l in r.stdout.splitlines() if l.strip()]
    if r.returncode != 0 or not lines:
        sys.stderr.write(r.stdout)
        sys.exit(f"run.py: sbt build failed (exit {r.returncode})")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(fp_file, "w") as f:
        f.write(fp)
    return cp


# ---- query_mix oracle check -------------------------------------------------

def canon(v):
    """A value in a form both engines agree on; floats stay floats."""
    if v is None:
        return None
    if isinstance(v, bool):
        return v
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, float):
        return v
    if isinstance(v, int):
        return v
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return v.isoformat()
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return [canon(x) for x in v]
    if isinstance(v, dict):
        return {k: canon(x) for k, x in sorted(v.items())}
    return str(v)


def sort_key(row):
    def k(v):
        if isinstance(v, float):
            return "nan" if math.isnan(v) else f"{v:.6g}"
        if isinstance(v, list):
            return "[" + ",".join(k(x) for x in v) + "]"
        return repr(v)
    return tuple(k(v) for v in row)


def close(a, b):
    if isinstance(a, float) or isinstance(b, float):
        if a is None or b is None:
            return a is b
        a, b = float(a), float(b)
        if math.isnan(a) or math.isnan(b):
            return math.isnan(a) and math.isnan(b)
        return math.isclose(a, b, rel_tol=1e-9, abs_tol=1e-9)
    if isinstance(a, list) and isinstance(b, list):
        return len(a) == len(b) and all(close(x, y) for x, y in zip(a, b))
    return a == b


def frame(con, sql):
    cur = con.execute(sql)
    cols = [d[0].lower() for d in cur.description]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = [tuple(canon(r[i]) for i in order) for r in cur.fetchall()]
    return [cols[i] for i in order], sorted(rows, key=sort_key)


def oracle_check(work):
    """Compare each query's Spark result with DuckDB's; return the failures."""
    import duckdb
    with open(os.path.join(work, "oracle_check.json")) as f:
        spec = json.load(f)
    con = duckdb.connect()
    for p in sorted(glob.glob(os.path.join(spec["data_dir"], "*.parquet"))):
        t = os.path.basename(p)[: -len(".parquet")]
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}/*.parquet')")
    bad = []
    for name, sql in sorted(spec["oracle"].items()):
        try:
            want = frame(con, sql)
            got = frame(con, f"SELECT * FROM read_parquet('{spec['out_dir']}/{name}/*.parquet')")
        except Exception as e:  # a query the oracle cannot run is a failed check
            bad.append(f"{name}: {e}")
            continue
        if got[0] != want[0]:
            bad.append(f"{name}: columns {got[0]} != oracle {want[0]}")
        elif len(got[1]) != len(want[1]):
            bad.append(f"{name}: {len(got[1])} rows != oracle {len(want[1])}")
        elif not all(close(a, b) for ra, rb in zip(got[1], want[1]) for a, b in zip(ra, rb)):
            bad.append(f"{name}: values differ from the oracle")
    con.close()
    return bad, len(spec["oracle"])


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    cp = classpath()
    work = os.path.join(WORK, a.workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    cmd = (["java", "-Xmx3g", "-XX:+UseParallelGC", f"-Djava.io.tmpdir={work}"]
           + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
              "--seconds", str(a.seconds), "--trace", str(a.trace), "--work", work])
    try:
        r = subprocess.run(cmd, cwd=ROOT, stdout=sys.stdout, stderr=sys.stderr, timeout=RUN_TIMEOUT_S)
    except subprocess.TimeoutExpired:
        sys.exit(f"run.py: the run did not finish in {RUN_TIMEOUT_S} s")
    sys.stdout.flush()
    result_file = os.path.join(work, "result.json")
    if r.returncode != 0 or not os.path.isfile(result_file):
        sys.exit(f"run.py: the benchmark JVM failed (exit {r.returncode})")
    with open(result_file) as f:
        result = json.load(f)

    if a.workload == "query_mix":
        bad, n = oracle_check(work)
        for b in bad:
            log(f"oracle check failed: {b}")
        print(f"metric oracle_checks {n - len(bad)} of {n} queries match DuckDB")
        result["attempted"] += n
        result["failed"] += len(bad)
        result["correct"] = result["correct"] and not bad

    print(f"metric error_rate {result['failed'] / result['attempted']:.4f} ratio "
          f"({result['failed']} of {result['attempted']})")

    # keep the result and the spans; drop the generated data
    for entry in os.listdir(work):
        if entry not in ("result.json", "spans.jsonl"):
            p = os.path.join(work, entry)
            shutil.rmtree(p, ignore_errors=True) if os.path.isdir(p) else os.remove(p)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
