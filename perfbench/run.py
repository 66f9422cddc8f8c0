#!/usr/bin/env python3
"""The repository's benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload <produce|produce-wal|consume|inventory>
                             --seed <n> --seconds <s> --trace <0|1>
    python3 perfbench/run.py --self-test

Run it from the repository root. The first run builds the program and the
benchmark from source (sbt, in perfbench/); later runs reuse the build while
the sources are unchanged. Everything a run writes goes under .perfbench/.

Earlier lines of standard output carry the run in each workload's own terms,
the host calibration and the generator's figures; the last line is one JSON
object: {"correct", "attempted", "failed", "metrics"}. With --trace 0 the
metrics are the end-to-end ones, with --trace 1 the per-layer ones (and the
traced run writes spans.jsonl, self_time.json and queries.json into its
work directory). A failed check prints correct=false and exits 1.
"""
import argparse
import glob
import hashlib
import json
import math
import os
import shutil
import subprocess
import sys

sys.dont_write_bytecode = True  # leave nothing behind in perfbench/
ROOT = os.getcwd()
HERE = os.path.dirname(os.path.abspath(__file__))
WORK = os.path.join(ROOT, ".perfbench")
BUILD_DIR = os.path.join(HERE, "target")
CLASSPATH_FILE = os.path.join(BUILD_DIR, "perfbench-classpath.txt")
STAMP_FILE = os.path.join(BUILD_DIR, "perfbench-stamp.txt")
WORKLOADS = ("produce", "produce-wal", "consume", "inventory")

# The inventory list: three of the twelve p* queries (the paper's operators
# in batch form), d101_prefix_filter (open on the roadmap; the workload a
# partitioned prefix-filter redesign would move) and the first two of four
# queries drawn once with random.Random(20261018).sample(..., 4) from the 84
# non-p* queries under 0.5 s cold in BENCHLOCAL_r22.json. README.md says what
# was left out and why.
INVENTORY = [
    "p01_flatten", "p07_series_key", "p11_batches",
    "d101_prefix_filter",
    "d179_phrase_merge", "d109_zipf_slope",
]
# queries the traced bridge runs time split into build, plan and execution
TRACE_QUERIES = ["p01_flatten", "p07_series_key"]

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(*a):
    print(*a, file=sys.stderr, flush=True)


def sources_stamp():
    h = hashlib.sha256()
    files = sorted(glob.glob(os.path.join(ROOT, "src", "main", "**", "*"), recursive=True)
                   + glob.glob(os.path.join(HERE, "src", "**", "*"), recursive=True)
                   + [os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")])
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles the program and the benchmark unless the build is current."""
    if not os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft", "App.scala")):
        log("perfbench: run from the repository root; the program's sources are missing here")
        sys.exit(2)
    stamp = sources_stamp()
    if os.path.isfile(STAMP_FILE) and os.path.isfile(CLASSPATH_FILE):
        with open(STAMP_FILE) as f:
            if f.read() == stamp:
                with open(CLASSPATH_FILE) as c:
                    return c.read().strip()
    log("perfbench: building (sbt compile) ...")
    r = subprocess.run(["sbt", "-batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"],
                       cwd=HERE, stdout=subprocess.PIPE, stderr=subprocess.STDOUT, text=True, timeout=840)
    lines = r.stdout.strip().splitlines()
    if r.returncode != 0 or not lines:
        log(r.stdout[-4000:])
        log("perfbench: build failed")
        sys.exit(2)
    cp = lines[-1].strip()
    os.makedirs(BUILD_DIR, exist_ok=True)
    with open(CLASSPATH_FILE, "w") as f:
        f.write(cp)
    with open(STAMP_FILE, "w") as f:
        f.write(stamp)
    return cp


def ensure_data(seed):
    d = os.path.join(WORK, "data", f"seed-{seed}")
    if not os.path.isfile(os.path.join(d, "DONE")):
        shutil.rmtree(d, ignore_errors=True)
        sys.path.insert(0, HERE)
        import datagen
        datagen.generate(d, seed)
        open(os.path.join(d, "DONE"), "w").close()
    return d


def jvm(cp, args, work, timeout):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ)
    # App's own defaults (local[4], 4 shuffle partitions) apply, not a host override
    env.pop("SPARK_MASTER", None)
    env.pop("SPARK_GRAFT_CPUS", None)
    env["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    # 1g is spark-submit's default driver memory, which `App` runs under
    cmd = ["java", "-Xmx1g", f"-Xlog:gc,safepoint:file={os.path.join(work, 'gc.log')}", f"-Djava.io.tmpdir={tmp}",
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", cp, "perfbench.Main"] + args
    logfile = os.path.join(work, "jvm.log")
    with open(logfile, "w") as lf:
        p = subprocess.Popen(cmd, cwd=work, env=env, stdout=lf, stderr=subprocess.STDOUT)
        try:
            p.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            log(f"perfbench: the run did not end within {timeout} s; see {logfile}")
            sys.exit(3)
    with open(logfile, errors="replace") as lf:
        return p.returncode, lf.read()


# --- inventory oracle: value-exact against each query's DuckDB SQL ---------

def canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(norm(r[i]) for i in order) for r in rows]
    out.sort(key=lambda t: tuple((v is None, str(v)) for v in t))
    return [cols[i] for i in order], out


def norm(v):
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, list):
        return tuple(norm(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((k, norm(x)) for k, x in v.items()))
    return v


def compare(con, name, sql, result_sql):
    """Returns None when the program's rows equal the oracle's, else why not."""
    try:
        o = con.execute(sql)
        oc, orows = canon(o.fetchall(), [d[0] for d in o.description])
    except Exception as e:  # the oracle itself failing is a failed check
        return f"{name}: oracle error: {e}"
    try:
        m = con.execute(result_sql)
        mc, mrows = canon(m.fetchall(), [d[0] for d in m.description])
    except Exception as e:
        return f"{name}: result unreadable: {e}"
    if oc != mc:
        return f"{name}: columns {mc} != oracle {oc}"
    if len(orows) != len(mrows):
        return f"{name}: {len(mrows)} rows != oracle {len(orows)}"
    for i, (a, b) in enumerate(zip(mrows, orows)):
        if a != b:
            return f"{name}: sorted row {i} differs: {a} != oracle {b}"
    return None


def oracle_check(data, outdir, oracle):
    import duckdb
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for t in ("region nation customer supplier part orders lineitem events documents embeddings").split():
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data}/{t}.parquet'")
    errors = []
    for name, sql in oracle.items():
        e = compare(con, name, sql, f"SELECT * FROM '{outdir}/{name}/*.parquet'")
        if e:
            errors.append(e)
    return errors


def oracle_self_test():
    import duckdb
    con = duckdb.connect()
    con.execute("CREATE TABLE t AS SELECT i AS a, i * 0.5 AS b, 'x' || i AS c FROM range(5) r(i)")
    con.execute("CREATE TABLE t_same AS SELECT c, b, a FROM t ORDER BY a DESC")
    con.execute("CREATE TABLE t_row AS SELECT a, CASE WHEN a = 3 THEN 9.5 ELSE b END AS b, c FROM t")
    con.execute("CREATE TABLE t_drop AS SELECT * FROM t WHERE a <> 2")
    con.execute("CREATE TABLE t_nan AS SELECT a, CAST('NaN' AS DOUBLE) AS b FROM range(2) r(a)")
    sql = "SELECT * FROM t"
    checks = [
        ("same rows in another order and column order pass", compare(con, "q", sql, "SELECT * FROM t_same") is None),
        ("an altered oracle row is caught", compare(con, "q", sql, "SELECT * FROM t_row") is not None),
        ("a dropped row is caught", compare(con, "q", sql, "SELECT * FROM t_drop") is not None),
        ("NaN equals NaN", compare(con, "q", "SELECT * FROM t_nan", "SELECT * FROM t_nan") is None),
    ]
    for what, ok in checks:
        if not ok:
            log(f"self-test FAILED: oracle compare: {what}")
            sys.exit(1)
    print(f"perfbench oracle self-test: {len(checks)} cases passed")


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-test", action="store_true")
    a = ap.parse_args()
    cp = build()
    if a.self_test:
        os.makedirs(WORK, exist_ok=True)
        code, out = jvm(cp, ["--self-test"], WORK, 170)
        print(out.strip().splitlines()[-1] if out.strip() else "")
        if code != 0:
            log(out[-3000:])
            sys.exit(1)
        oracle_self_test()
        return
    if not a.workload or a.seconds is None:
        ap.error("--workload and --seconds are required")

    work = os.path.join(WORK, f"{a.workload}-seed{a.seed}-trace{a.trace}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    inventory = a.workload == "inventory"
    queries = INVENTORY if inventory else (TRACE_QUERIES if a.trace else [])
    data = ensure_data(a.seed) if queries else ""
    result = os.path.join(work, "result.json")
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--work", work, "--data", data,
            "--queries", ",".join(queries), "--result", result]
    code, err = jvm(cp, args, work, 170)
    res = json.load(open(result)) if os.path.isfile(result) else {}
    if code != 0 or "fatal" in res or not res:
        log(err[-6000:])
        log(f"perfbench: the run failed: {res.get('fatal', f'exit code {code}')}")
        sys.exit(1)
    errors = list(res["errors"])
    if queries:
        oracle = json.load(open(os.path.join(work, "oracle.json")))
        errors += oracle_check(data, os.path.join(work, "out"), oracle)
    for e in errors:
        log("CHECK FAILED:", e)
    print(json.dumps({"workload": a.workload, "seed": a.seed, "trace": a.trace, "named": res["named"]}))
    print(json.dumps({"host": res["host"], "generator": res["generator"],
                      "gen.late_ms_p99": res["per_layer"].get("gen.late_ms_p99")}))
    if a.trace:
        print(json.dumps({"trace_files": [os.path.relpath(os.path.join(work, f), ROOT)
                                          for f in ("spans.jsonl", "self_time.json", "queries.json")],
                          "e2e_traced": res["e2e"]}))
    correct = res["correct"] and not errors
    metrics = res["per_layer"] if a.trace else res["e2e"]
    print(json.dumps({"correct": correct, "attempted": res["attempted"], "failed": res["failed"],
                      "metrics": metrics}))
    sys.exit(0 if correct else 1)


if __name__ == "__main__":
    main()
