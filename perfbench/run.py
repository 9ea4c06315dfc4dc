#!/usr/bin/env python3
"""Offline benchmark of the graft Spark engine: one workload, one seed.

    python3 perfbench/run.py --workload <jobs_dag|corpus_pipeline>
        --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. The first run builds the engine and the
harness from source with sbt (offline); later runs reuse the build until a
source file changes. The inputs are rendered from the seed; the harness
JVM runs the workload's closed loop over a fixed unit of work (see
README.md) and checks outputs outside the clock; this script adds the
DuckDB oracle check of jobs_dag's catalog reads and prints the metrics.
`--seconds` is recorded, not used to cut the loop. The last line of stdout
is one JSON object: {"correct", "attempted", "failed", "metrics"} with the
end-to-end metrics (--trace 0) or the per-layer metrics (--trace 1).

Every raw sample, check and host fact of the run is kept in
perfbench/out/<workload>-seed<n>-trace<t>.json; a traced run also writes its
spans to perfbench/out/trace-<workload>-seed<n>.json.
"""
import argparse
import glob
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

import datagen

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "out")
TARGET = os.path.join(HERE, "target")
WORKLOADS = ("jobs_dag", "corpus_pipeline")
# a run must end within 180 s (plus the build on a checkout's first run);
# the JVM gets this much, the oracle check and summary the rest
JVM_LIMIT_S = 160
# fixed heap and young generation: the young generation is fully touched
# after its first collection, so the peak RSS varies with live data only
HEAP = "3g"
YOUNG = "1g"
# Spark 4 on JDK 17 outside spark-submit needs these module openings
# (org.apache.spark.launcher.JavaModuleOptions)
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def source_digest():
    """Hash of every file the build reads, to know when to rebuild."""
    h = hashlib.sha256()
    files = sorted(glob.glob(os.path.join(ROOT, "src/main/**/*"), recursive=True)
                   + glob.glob(os.path.join(HERE, "src/**/*"), recursive=True)
                   + [os.path.join(HERE, "build.sbt"),
                      os.path.join(HERE, "project/build.properties")])
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compiles engine + harness once per source state; returns the classpath."""
    stamp = os.path.join(TARGET, "perfbench-build.json")
    digest = source_digest()
    if os.path.exists(stamp):
        with open(stamp) as f:
            built = json.load(f)
        if built.get("digest") == digest:
            return built["classpath"]
    log("building engine and harness with sbt (offline)")
    env = dict(os.environ, COURSIER_MODE="offline")
    cmd = ["sbt", "--batch", "-Dsbt.override.build.repos=true",
           "-Dsbt.offline=true", "-Dsbt.log.noformat=true",
           "compile", "export Runtime/fullClasspath"]
    p = subprocess.run(cmd, cwd=HERE, env=env, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True, timeout=850)
    sys.stderr.write(p.stdout[-4000:])
    cp = [l for l in p.stdout.splitlines()
          if "scala-library" in l and not l.startswith("[")]
    if p.returncode != 0 or not cp:
        raise SystemExit("perfbench: build failed")
    classpath = cp[-1].strip()
    with open(stamp, "w") as f:
        json.dump({"digest": digest, "classpath": classpath}, f)
    return classpath


def java(classpath, work):
    """The harness JVM command line, up to the main class."""
    return (["java", "-XX:+UseParallelGC", f"-Xms{HEAP}", f"-Xmx{HEAP}",
             f"-Xmn{YOUNG}", f"-Djava.io.tmpdir={work}/tmp",
             "-Dspark.ui.enabled=false"]
            + [x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
            + ["-cp", classpath])


def run_jvm(cmd, work, deadline):
    os.makedirs(f"{work}/tmp", exist_ok=True)
    proc = subprocess.Popen(cmd, cwd=ROOT, stdout=sys.stderr, stderr=sys.stderr)
    try:
        code = proc.wait(timeout=max(1.0, deadline - time.time()))
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
        raise SystemExit("perfbench: harness JVM ran out of time")
    if code != 0:
        raise SystemExit(f"perfbench: harness JVM exited with {code}")


def canonical_rows(con, relation):
    """Column names (sorted) and every row of a relation, columns in that
    order, rows sorted by the non-floating columns first, so that two
    results with the same rows line up whatever order they came in."""
    rel = con.sql(f"SELECT * FROM ({relation})")
    floating = {c for c, t in zip(rel.columns, rel.types)
                if str(t) in ("DOUBLE", "FLOAT")}
    cols = sorted(rel.columns)
    order = sorted(cols, key=lambda c: (c in floating, c))
    quoted = lambda cs: ", ".join(f'"{c}"' for c in cs)
    rows = con.sql(f"SELECT {quoted(cols)} FROM ({relation}) "
                   f"ORDER BY {quoted(order)} NULLS FIRST").fetchall()
    return cols, rows


def same_value(x, y):
    """Exact, except for floating values: equal to 1e-9 relative, or two
    cent-rounded values one cent apart. `round(sum(double), 2)` of an
    exact half-cent (e.g. 610521.955) lands on either cent depending on
    the order the sum was taken in, which differs between engines."""
    if x == y or x is None or y is None or not isinstance(x, float):
        return x == y
    if x != x and y != y:
        return True
    y = float(y)
    return (abs(x - y) <= 1e-9 * max(abs(x), abs(y))
            or (abs(x - y) <= 0.01 + 1e-9
                and round(x, 2) == x and round(y, 2) == y))


def compare(con, spark, oracle):
    """(ok, detail): the two relations hold the same rows, in any order."""
    s_cols, s_rows = canonical_rows(con, spark)
    o_cols, o_rows = canonical_rows(con, oracle)
    if s_cols != o_cols:
        return False, f"columns spark {s_cols} oracle {o_cols}"
    if len(s_rows) != len(o_rows):
        return False, f"rows spark {len(s_rows)} oracle {len(o_rows)}"
    inexact = 0
    for i, (a, b) in enumerate(zip(s_rows, o_rows)):
        for j, (x, y) in enumerate(zip(a, b)):
            if not same_value(x, y):
                return False, f"row {i} {s_cols[j]}: spark {x!r} oracle {y!r}"
            inexact += x != y
    return True, (f"{len(s_rows)} rows equal; {inexact} floating values "
                  "within tolerance, not bit-equal")


def oracle_checks(res, fixtures):
    """jobs_dag's catalog reads: each query's Spark result must hold the
    same rows as its DuckDB twin (`SparkEntry.oracleSql`) over the same
    parquet."""
    import duckdb
    check = res["facts"]["check_dir"]
    con = duckdb.connect()
    for t in ("region", "nation", "customer", "supplier", "part", "orders",
              "lineitem", "events"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{fixtures}/catalog/{t}.parquet/*.parquet')")
    ops = {}
    for s in res["samples"]:
        ops[s["name"]] = ops.get(s["name"], 0) + 1
    checks = []
    for q, sql in sorted(res["facts"]["oracle_sql"].items()):
        try:
            ok, detail = compare(
                con, f"SELECT * FROM read_parquet('{check}/{q}/*.parquet')", sql)
        except Exception as e:  # a failed check, counted below
            ok, detail = False, repr(e)
        checks.append({"name": f"oracle:{q}", "ok": ok, "detail": detail,
                       "ops": ops.get(q, 0)})
    return checks


def summarize(res, extra_checks):
    samples = res["samples"]
    checks = res["checks"] + extra_checks
    attempted = len(samples)
    errors = sum(1 for s in samples if not s["ok"])
    wrong = sum(c["ops"] for c in checks if not c["ok"])
    failed = min(attempted, errors + wrong)
    ok = [s for s in samples if s["ok"]]
    writes = [s["s"] for s in ok if s["kind"] == "write"]
    reads = [s["s"] for s in ok if s["kind"] == "read"]
    busy = sum(s["s"] for s in samples)
    e2e = {
        "setup_s": (res["setup"]["setup_s"], "s"),
        "rss_peak_mb": (res["rss_peak_mb"], "MB"),
        "fail_ratio": (failed / max(attempted, 1), "ratio"),
    }
    facts = {"samples_write": len(writes), "samples_read": len(reads)}
    if reads:
        e2e["query_p50_s"] = (statistics.median(reads), "s")
        e2e["queries_per_s"] = (len(reads) / busy, "1/s")
    if writes:
        e2e["batch_p50_s"] = (statistics.median(writes), "s")
    if res["landed_rows"]:
        e2e["ingest_rows_per_s"] = (res["landed_rows"] / sum(writes), "rows/s")
    if res["store_bytes_per_row"]:
        e2e["store_bytes_per_row"] = (
            statistics.median(res["store_bytes_per_row"]), "B/row")
    correct = failed == 0 and all(c["ok"] for c in checks)
    return e2e, facts, checks, correct, attempted, failed


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=int)
    ap.add_argument("--trace", required=True, choices=("0", "1"))
    a = ap.parse_args()
    if not os.path.isdir(os.path.join(ROOT, "src/main/scala/graft")):
        raise SystemExit("perfbench: engine sources (src/main/scala/graft) "
                         "not found; run from a full checkout")
    classpath = build()
    os.makedirs(OUT, exist_ok=True)
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    work = os.path.join(HERE, ".work", f"{tag}-{os.getpid()}")
    trace_out = os.path.join(OUT, f"trace-{a.workload}-seed{a.seed}.json")
    try:
        t0 = time.time()
        fixtures = os.path.join(work, "fixtures")
        datagen.render(a.workload, fixtures, a.seed)
        render_s = time.time() - t0
        cmd = java(classpath, work) + [
            "perfbench.Main", "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", a.trace,
            "--fixtures", fixtures, "--work", work,
            "--out", f"{work}/result.json", "--trace-out", trace_out]
        run_jvm(cmd, work, time.time() + JVM_LIMIT_S)
        with open(f"{work}/result.json") as f:
            res = json.load(f)
        setup = res["setup"]
        setup["render_s"] = render_s
        # from before rendering to the end of the workload's set-up: JVM
        # start and class loading included
        setup["setup_s"] = setup.pop("end_epoch_s") - t0
        extra = (oracle_checks(res, fixtures)
                 if "oracle_sql" in res["facts"] else [])
    finally:
        shutil.rmtree(work, ignore_errors=True)
    e2e, facts, checks, correct, attempted, failed = summarize(res, extra)
    res["checks"] = checks
    res["summary"] = {"end_to_end": e2e, **facts, "correct": correct,
                      "attempted": attempted, "failed": failed}
    with open(os.path.join(OUT, f"{tag}.json"), "w") as f:
        json.dump(res, f)

    for c in checks:
        if not c["ok"]:
            log(f"check {c['name']} FAILED: {c['detail']}")
    print(json.dumps({"workload": a.workload, "seed": a.seed,
                      "host": res["host"], "setup": res["setup"], **facts,
                      "end_to_end": {k: {"value": v, "unit": u}
                                     for k, (v, u) in e2e.items()}}))
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        gated = json.load(f)
    if a.trace == "1":
        metrics = {m["name"]: res["per_layer"][m["name"]]
                   for m in gated["per_layer"]}
        overhead = tracing_overhead(a.workload, e2e)
        print(json.dumps({"reconciliation": res["reconciliation"],
                          "tracing_overhead": overhead}))
        with open(trace_out) as f:
            sidecar = json.load(f)
        sidecar["tracing_overhead"] = overhead
        with open(trace_out, "w") as f:
            json.dump(sidecar, f)
    else:
        metrics = {m["name"]: {"value": e2e[m["name"]][0], "unit": m["unit"]}
                   for m in gated["end_to_end"]}
        with open(os.path.join(OUT, f"untraced-{a.workload}.json"), "w") as f:
            json.dump({k: v for k, (v, _) in e2e.items()}, f)
    print(json.dumps({"correct": correct, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


def tracing_overhead(workload, traced):
    """Traced / untraced − 1 per end-to-end metric, against the latest
    untraced run of the same workload in this checkout (None if there is
    none yet)."""
    path = os.path.join(OUT, f"untraced-{workload}.json")
    if not os.path.exists(path):
        return None
    with open(path) as f:
        base = json.load(f)
    return {k: (v / base[k] - 1) if base.get(k) else None
            for k, (v, _) in traced.items() if k in base}


if __name__ == "__main__":
    main()
