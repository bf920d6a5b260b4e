#!/usr/bin/env python3
"""The repository benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload etl_catchup|query_mix \\
        --seed N --seconds S --trace 0|1

Run from the repository root. The first run builds the program with the
repository's build.sbt and then this harness (perfbench/build.sbt); later
runs reuse the build until a source file changes. Everything the run
writes stays under .bench_build/ in the checkout.

The last line of stdout is one JSON object: correct, attempted, failed
and metrics (the end-to-end metrics untraced, the per-layer metrics
traced; see BENCHMARK.json).
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("etl_catchup", "query_mix")
# JVM options of the program's own run configuration (build.sbt javaOptions),
# with the heap at 7 GB, which leaves Spark a 4 GB storage pool
ADD_OPENS = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io",
             "java.base/java.net", "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent",
             "java.base/java.util.concurrent.atomic", "java.base/sun.nio.ch",
             "java.base/sun.nio.cs", "java.base/sun.security.action",
             "java.base/sun.util.calendar"]
# The JVM's time limit is this allowance for set-up plus twice --seconds.
# Set-up took up to about 70 s in the baseline runs, and the timed phase
# overruns --seconds by at most one query round or maintenance period.
JVM_SETUP_LIMIT_S = 120
JVM_OPTS = ["-Xmx7g", "-XX:ReservedCodeCacheSize=768m", "-XX:+UseCodeCacheFlushing",
            "-Dspark.sql.codegen.cache.maxEntries=5000",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def sources_digest():
    h = hashlib.sha256()
    for top in ("build.sbt", "project/build.properties", "src/main",
                "perfbench/build.sbt", "perfbench/src"):
        p = os.path.join(ROOT, top)
        paths = [p] if os.path.isfile(p) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(p) for f in fs)
        for f in paths:
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def sbt(cwd, *tasks, log):
    env = dict(os.environ, COURSIER_MODE="offline")
    opts = ["-Dsbt.offline=true", "-Xmx2g"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.exists(repos):
        opts = ["-Dsbt.override.build.repos=true",
                f"-Dsbt.repository.config={repos}"] + opts
    env["SBT_OPTS"] = " ".join(opts)
    with open(log, "a") as out:
        r = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", *tasks],
                           cwd=cwd, env=env, stdout=out, stderr=subprocess.STDOUT)
    if r.returncode != 0:
        fail(f"build failed in {cwd}; see {log}")


def build():
    """Builds the program and the harness once per source state and
    returns the harness's runtime classpath."""
    for need in ("build.sbt", "src/main/scala/graft", "perfbench/build.sbt"):
        if not os.path.exists(os.path.join(ROOT, need)):
            fail(f"{need} not found: run from the repository root")
    os.makedirs(BUILD, exist_ok=True)
    stamp = os.path.join(BUILD, "classpath.txt")
    digest = sources_digest()
    if os.path.exists(stamp):
        with open(stamp) as f:
            saved = json.load(f)
        if saved.get("digest") == digest:
            return saved["classpath"]
    log = os.path.join(BUILD, "build.log")
    if os.path.exists(log):
        os.remove(log)
    sbt(ROOT, "compile", "export Runtime/fullClasspath", log=log)
    with open(log) as f:
        program_cp = [l.strip() for l in f if os.pathsep in l
                      and not l.startswith("[")][-1]
    sbt(HERE, f"-Dperfbench.programClasspath={program_cp}", "compile", log=log)
    cp = os.pathsep.join([os.path.join(HERE, "target", "scala-2.13", "classes"),
                          program_cp])
    with open(stamp, "w") as f:
        json.dump({"digest": digest, "classpath": cp}, f)
    return cp


def percentile_stats(values):
    """Median, and the highest percentile that still has at least ten
    samples above it (the maximum when there are fewer than 11), with the
    percentile it is."""
    s = sorted(values)
    if len(s) < 11:
        return statistics.median(s), s[-1], 100.0
    return statistics.median(s), s[-11], 100.0 * (len(s) - 10) / len(s)


# Output canonicalization of tools/check.py (the repository's local mimic
# of the DuckDB hash compare): columns sorted by name, values rendered as
# that compare renders them after a pandas fetch.
def canon_cell(v):
    import math
    import pandas as pd
    if type(v).__module__ == "numpy" and hasattr(v, "item"):
        v = v.item()
    if v is None or v is pd.NaT:
        return "\\N"
    if isinstance(v, float):
        return "nan" if math.isnan(v) else repr(v)
    if isinstance(v, bool):
        return "true" if v else "false"
    return str(v)


def canon_digest(con, sql):
    df = con.execute(sql).df()
    cols = list(df.columns)
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    h = hashlib.sha256()
    h.update(json.dumps([cols[i] for i in order]).encode())
    n = 0
    for r in df.itertuples(index=False, name=None):
        h.update(("\x1f".join(canon_cell(r[i]) for i in order) + "\n").encode())
        n += 1
    return h.hexdigest(), n


PROBE_K = 10

# Structural checks of the operator probes (no oracle exists for them):
# per probe batch, (queries answered, fewest hits, most hits, violations)
# must be (batch size, >= lo, <= hi, 0).
PROBE_SQL = {
    # every query gets exactly K distinct neighbors with a cosine score,
    # itself among them (its own cell is always probed)
    "ann_probe": ("SELECT count(*), min(n), max(n), sum(bad) FROM (SELECT query_id, "
                  "count(*) n, CASE WHEN count(DISTINCT neighbor_id) = count(*) AND "
                  "max(abs(score)) <= 1 AND max(CASE WHEN neighbor_id = query_id "
                  "THEN 1 ELSE 0 END) = 1 THEN 0 ELSE 1 END bad "
                  "FROM t GROUP BY query_id)", PROBE_K, PROBE_K),
    # every query gets 1..K documents ranked 1..n by falling score
    "bm25_probe": ("SELECT count(*), min(n), max(n), sum(bad) FROM (SELECT query_id, "
                   "count(*) n, CASE WHEN min(rank) = 1 AND max(rank) = count(*) AND "
                   "count(DISTINCT rank) = count(*) AND sum(up) = 0 THEN 0 ELSE 1 END bad "
                   "FROM (SELECT *, CASE WHEN score_micro > lag(score_micro) OVER "
                   "(PARTITION BY query_id ORDER BY rank) THEN 1 ELSE 0 END up FROM t) "
                   "GROUP BY query_id)", 1, PROBE_K),
}


def check_outputs(checks):
    """Checks each operation's output: a query's against its stored
    oracle answer (rows only when it has none), a probe's structure.
    Returns the names that failed, with a reason each."""
    with open(os.path.join(HERE, "oracle.json")) as f:
        oracle = json.load(f)
    import duckdb
    con = duckdb.connect()
    bad = {}
    for c in checks:
        name, kind = c["name"], c["kind"]
        if c["error"]:
            bad[name] = c["error"]
        elif kind == "query":
            if not c["path"]:
                bad[name] = "wrote no output"
                continue
            digest, rows = canon_digest(
                con, f"SELECT * FROM read_parquet('{c['path']}/*.parquet')")
            want = oracle.get(name, {})
            if want.get("sha256") is None:
                if rows == 0:
                    bad[name] = "no oracle, and no rows"
            elif (digest, rows) != (want["sha256"], want["rows"]):
                bad[name] = f"differs from its oracle answer ({rows} rows, want {want['rows']})"
        elif kind in PROBE_SQL:
            sql, lo, hi = PROBE_SQL[kind]
            con.execute(f"CREATE OR REPLACE VIEW t AS SELECT * FROM "
                        f"read_parquet('{c['path']}/*.parquet')")
            n, fewest, most, violations = con.execute(sql).fetchone()
            if not (n == c["expect"] and fewest >= lo and most <= hi and violations == 0):
                bad[name] = (f"probe answered {n} of {c['expect']} queries with "
                             f"{fewest}..{most} hits (want {lo}..{hi}), {violations} malformed")
    return bad


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    cp = build()
    t0 = time.time()  # set-up is timed from here: the build is not set-up
    work = os.path.join(BUILD, "run")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    if a.workload != "etl_catchup":
        sys.path.insert(0, HERE)
        import fixture
        fixture.generate(os.path.join(work, "data"))
    cmd = (["java", f"-Djava.io.tmpdir={work}/tmp"] + JVM_OPTS +
           [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] +
           ["-cp", cp, "perfbench.Main", a.workload, str(a.seed), str(a.seconds),
            str(a.trace), work, str(int(t0 * 1000))])
    os.makedirs(os.path.join(work, "tmp"))
    limit = JVM_SETUP_LIMIT_S + 2 * a.seconds
    with open(os.path.join(work, "jvm.log"), "w") as log:
        try:
            r = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT, timeout=limit)
        except subprocess.TimeoutExpired:
            fail(f"harness stopped after {limit:.0f} s; see {work}/jvm.log")
    if r.returncode != 0:
        fail(f"harness exited {r.returncode}; see {work}/jvm.log")
    with open(os.path.join(work, "result.json")) as f:
        res = json.load(f)

    bad = check_outputs(res["checks"])
    for name, why in sorted(bad.items()):
        print(f"[perfbench] check failed: {name}: {why}", file=sys.stderr)
    primary = [o for o in res["ops"] if o["primary"]]
    attempted = len(primary) + len(res["checks"])
    failed = sum(1 for o in primary if not o["ok"] or o["label"] in bad) + len(bad)
    if not primary:
        fail("no timed operation completed")
    times = [o["s"] for o in primary]
    p50, tail, tail_pct = percentile_stats(times)
    e2e = {
        "setup_s": (res["setup_s"], "s"),
        "op_p50_s": (p50, "s"),
        "op_tail_s": (tail, "s"),
        "ops_per_s": (len(primary) / res["loop_s"], "1/s"),
    }
    peak_mb = max(o["storage_mb"] for o in primary)
    print(f"[perfbench] {a.workload} seed={a.seed}: {len(primary)} ops, "
          f"tail = p{tail_pct:.0f} of {len(primary)} samples; "
          + ", ".join(f"{k}={v:.4g}" for k, (v, _) in e2e.items())
          + f", peak_storage_mb={peak_mb:.4g}"
          + "; " + ", ".join(f"{k}={v}" for k, v in res.items()
                             if k not in ("ops", "checks", "layers", "setup_s", "loop_s")))
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        declared = json.load(f)["per_layer" if a.trace else "end_to_end"]
    values = dict(res["layers"], **{"storage.peak_mb": peak_mb}) if a.trace else {}
    for k, (v, _) in e2e.items():
        values[f"traced.{k}" if a.trace else k] = v
    missing = [m["name"] for m in declared if values.get(m["name"]) is None]
    if missing:
        fail(f"harness did not measure {missing}")
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
               for m in declared}
    print(json.dumps({"correct": not bad and failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
