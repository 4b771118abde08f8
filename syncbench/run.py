#!/usr/bin/env python3
"""The repository benchmark: one run of one workload.

    python3 syncbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run it from the root of a checkout. The first run builds the program
from source with sbt (the benchmark is its own sbt project, see
build.sbt) and prepares query_mix's inputs; later runs reuse
both while the sources are unchanged.

Workloads (BENCHMARK.json says why each was chosen):
  sync_churn  a full vendor-inventory sync, then streamed sync rounds and
              reads against the parquet sink
  query_mix   relational and event queries next to text, dedup,
              retrieval, vector, index and graph queries

Each run drives the workload from one JVM with a single closed-loop
client, checks every output, prints a human-readable report and, as its
last line, one JSON object with `correct`, `attempted`, `failed` and
`metrics`: the end-to-end metrics with `--trace 0`, the per-layer
metrics with `--trace 1`. A harness error prints a one-line reason and
exits non-zero.
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

sys.dont_write_bytecode = True

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
WORK = os.path.join(BENCH, "work")
DATA = os.path.join(WORK, "data")
CLASSPATH = os.path.join(BENCH, "target", "classpath.txt")
STAMP = os.path.join(WORK, "build.stamp")
WORKLOADS = ("sync_churn", "query_mix")
JVM_TIMEOUT_S = 170
TABLES = ("region", "nation", "customer", "supplier", "part", "orders", "lineitem", "events",
          "documents", "embeddings")

SBT_ENV = {
    "COURSIER_MODE": "offline",
    "SBT_OPTS": "-Dsbt.override.build.repos=true -Dsbt.repository.config="
                + os.path.expanduser("~/.sbt/repositories") + " -Dsbt.offline=true -Xmx2g",
}
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]

# which end-to-end metric, on which workload, each layer should move
MOVES = {
    "sources.": "items_per_s, latency_tail_s, cold_s on sync_churn",
    "ops.": "items_per_s, latency_tail_s, cold_s on sync_churn",
    "sink.read_s": "read_p50_s, latency_p50_s on sync_churn",
    "sink.": "latency_tail_s, read_p50_s on sync_churn",
    "pipeline.": "cold_s, latency_tail_s on sync_churn",
    "streaming.": "latency_tail_s, throughput_ops_s on sync_churn",
    "plans.": "latency_p50_s, cold_s on query_mix (relational half)",
    "spark.jobs": "latency_p50_s on query_mix",
    "spark.stages": "latency_p50_s on query_mix",
    "spark.result_bytes": "peak_rss_mb on query_mix",
    "spark.": "throughput_ops_s, latency_tail_s on query_mix",
    "queries.driver_only_s": "latency_tail_s on query_mix",
    "queries.": "latency_p50_s on query_mix, nothing on sync_churn",
    "functions.": "throughput_ops_s on query_mix, nothing on sync_churn",
    "trace.": "none: the cost of tracing itself",
}


class HarnessError(Exception):
    pass


def fail(reason):
    print(f"syncbench: harness error: {reason}")
    sys.exit(2)


def sources_digest():
    """Digest of every source the build and the prepared inputs depend on."""
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(BENCH, "src", "main")]
    files = [os.path.join(BENCH, "build.sbt"), os.path.join(BENCH, "project", "build.properties"),
             os.path.join(BENCH, "gen_tables.py")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def java_cmd(*args):
    with open(CLASSPATH) as fh:
        cp = fh.read().strip()
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    return (["java", "-Xms3g", "-Xmx3g", f"-Djava.io.tmpdir={tmp}",
             f"-Dderby.stream.error.file={os.path.join(WORK, 'derby.log')}"]
            + ADD_OPENS + ["-cp", cp, "syncbench.Main"] + list(args))


def run_jvm(args, timeout):
    """Run the JVM side; its stderr goes to a log file in the work dir."""
    log = os.path.join(WORK, "jvm.log")
    with open(log, "w") as err:
        proc = subprocess.Popen(java_cmd(*args), cwd=WORK, stdout=err, stderr=err)
        try:
            code = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise HarnessError(f"JVM did not finish within {timeout} s (log: {log})")
    if code != 0:
        with open(log) as fh:
            tail = [l.strip() for l in fh if "Exception" in l or "Error" in l][:1]
        raise HarnessError(f"JVM exited with {code}: {tail[0] if tail else 'see ' + log}")


def build():
    """Compile the program and the benchmark, then prepare query_mix's
    inputs, unless both are current for these sources."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isfile(os.path.join(ROOT, "src", "main", "scala", "graft", "SparkEntry.scala"))):
        raise HarnessError(f"no program sources under {ROOT} (expected build.sbt and src/main/scala/graft)")
    digest = sources_digest()
    if os.path.isfile(STAMP) and os.path.isfile(CLASSPATH) and open(STAMP).read() == digest:
        return
    shutil.rmtree(WORK, ignore_errors=True)
    os.makedirs(WORK)
    env = dict(os.environ, **SBT_ENV)
    out = subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile",
                          "export Runtime/fullClasspath"],
                         cwd=BENCH, env=env, capture_output=True, text=True, timeout=800)
    lines = out.stdout.strip().splitlines()
    if out.returncode != 0 or not lines:
        errs = [l for l in lines if l.startswith("[error]")][:1]
        raise HarnessError(f"sbt build failed: {errs[0] if errs else out.returncode}")
    os.makedirs(os.path.dirname(CLASSPATH), exist_ok=True)
    with open(CLASSPATH, "w") as fh:
        fh.write(lines[-1])
    sys.path.insert(0, BENCH)
    import gen_tables
    gen_tables.write(DATA)
    run_jvm(["--workload", "prepare", "--seed", "0", "--seconds", "0", "--trace", "0",
             "--work", WORK, "--data", DATA, "--record", os.path.join(WORK, "prepare.json"),
             "--t0", str(int(time.time() * 1000))], timeout=600)
    with open(STAMP, "w") as fh:
        fh.write(digest)


def oracle_result(con, sql):
    """DuckDB's result for `sql`, cached by SQL text: the tables are fixed
    for a build, and some oracle queries take seconds."""
    import pickle
    path = os.path.join(WORK, "oracle", hashlib.sha256(sql.encode()).hexdigest() + ".pkl")
    if os.path.exists(path):
        with open(path, "rb") as fh:
            return pickle.load(fh)
    df = con.execute(sql).fetchdf()
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "wb") as fh:
        pickle.dump(df, fh)
    return df


def check_queries(rec):
    """Oracle check of every cold-pass result, outside the timed window:
    DuckDB over the same tables, with tools/check_correctness.py's
    canonical form and tolerances; a query without oracle SQL must
    return rows. Returns ({query: failure}, {query: rows})."""
    sys.path.insert(0, os.path.join(ROOT, "tools"))
    import check_correctness as cc
    import duckdb
    import numpy as np

    out = os.path.join(WORK, "out")
    with open(os.path.join(out, "oracle_sql.json")) as fh:
        oracle = json.load(fh)
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{DATA}/{t}.parquet'")
    bad, rows = {}, {}
    for op in rec["cold"]:
        name = op["name"]
        if op["error"]:
            continue
        got = cc.load_result(os.path.join(out, name))
        if got is None:
            bad[name] = "no output written"
            continue
        rows[name] = len(got)
        if name not in oracle:
            if not rows[name]:
                bad[name] = "no rows (query has no oracle)"
            continue
        try:
            exp = oracle_result(con, oracle[name])
        except Exception as e:  # noqa: BLE001 - an oracle error fails the query
            bad[name] = f"oracle error {e}"
            continue
        g, e = cc.canon(got), cc.canon(exp)
        if list(g.columns) != list(e.columns):
            bad[name] = f"columns {list(g.columns)} vs {list(e.columns)}"
        elif len(g) != len(e):
            bad[name] = f"rows {len(g)} vs {len(e)}"
        else:
            for c in g.columns:
                gv, ev = g[c], e[c]
                if np.issubdtype(gv.dtype, np.floating) or np.issubdtype(ev.dtype, np.floating):
                    a, b = gv.astype(float).to_numpy(), ev.astype(float).to_numpy()
                    ok = (np.isclose(a, b, rtol=1e-9, atol=1e-12) | (np.isnan(a) & np.isnan(b))).all()
                else:
                    ok = (gv.astype(str).to_numpy() == ev.astype(str).to_numpy()).all()
                if not ok:
                    bad[name] = f"column {c} differs from the oracle"
                    break
    return bad, rows


def tail(latencies):
    """The highest percentile with at least 10 samples beyond it:
    (value, percentile, samples beyond). Under 11 samples, the maximum."""
    s = sorted(latencies)
    n = len(s)
    if n == 0:
        return 0.0, 100.0, 0
    if n < 11:
        return s[-1], 100.0, 0
    return s[n - 11], 100.0 * (n - 10) / n, 10


def end_to_end(rec, rows):
    ops, cold = rec["ops"], rec["cold"]
    lat = [o["s"] for o in ops]
    ok = [o for o in ops if not o["error"]]
    t, pct, beyond = tail(lat)
    if rec["workload"] == "sync_churn":
        syncs = [o for o in ok if o["kind"].startswith("sync")]
        items = sum(o["items"] for o in syncs) / max(1e-9, sum(o["s"] for o in syncs))
        reads = [o["s"] for o in ops if o["kind"] == "read"]
    else:
        items = sum(rows.get(o["name"], 0) for o in ok) / rec["window_s"]
        reads = lat
    m = {
        "setup_s": rec["setup_s"],
        "throughput_ops_s": len(ok) / rec["window_s"],
        "latency_p50_s": statistics.median(lat) if lat else 0.0,
        "latency_tail_s": t,
        "cold_s": sum(o["s"] for o in cold),
        "items_per_s": items,
        "read_p50_s": statistics.median(reads) if reads else 0.0,
        "peak_rss_mb": rec["peak_rss_mb"],
    }
    notes = {
        "setup_s": rec["setup_note"],
        "throughput_ops_s": f"{len(ok)} ops in a {rec['window_s']:.2f} s warm window",
        "latency_p50_s": f"n={len(lat)}",
        "latency_tail_s": f"p{pct:.1f}, {beyond} samples beyond, n={len(lat)}",
        "cold_s": f"{len(cold)} first executions",
        "items_per_s": "vendor items synced per second of sync time" if rec["workload"] == "sync_churn"
        else "result rows per second of the window",
        "read_p50_s": f"n={len(reads)}" + ("" if rec["workload"] == "sync_churn"
                                            else " (every op reads the input tables)"),
        "peak_rss_mb": "VmHWM of the JVM",
    }
    return m, notes


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    a = ap.parse_args()
    try:
        if a.workload not in WORKLOADS:
            raise HarnessError(f"unknown workload {a.workload!r} (one of {', '.join(WORKLOADS)})")
        try:
            with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
                spec = json.load(fh)
        except (OSError, ValueError) as e:
            raise HarnessError(f"cannot read BENCHMARK.json: {e}")
        build()
        t0 = time.time()
        record = os.path.join(WORK, f"record-{a.workload}-{a.seed}-{a.trace}.json")
        if os.path.exists(record):
            os.remove(record)
        run_jvm(["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                 "--trace", str(a.trace), "--work", WORK, "--data", DATA, "--record", record,
                 "--t0", str(int(t0 * 1000))], timeout=JVM_TIMEOUT_S)
        with open(record) as fh:
            rec = json.load(fh)
        if a.workload == "query_mix":
            import pyarrow.parquet as pq
            rec["inputs"].update({t: pq.ParquetFile(os.path.join(DATA, f"{t}.parquet")).metadata.num_rows
                                  for t in TABLES})
        bad, rows = check_queries(rec) if a.workload != "sync_churn" else ({}, {})
    except HarnessError as e:
        fail(str(e))
    report(a, spec, rec, bad, rows)


def report(a, spec, rec, bad, rows):
    all_ops = rec["cold"] + rec.get("warmup_ops", []) + rec["ops"] + rec.get("traced_ops", [])
    failures = [(o["name"], o["error"]) for o in all_ops if o["error"]]
    failed_names = {n for n, _ in failures}
    failures += [(n, f"wrong result: {why}") for n, why in sorted(bad.items()) if n not in failed_names]
    attempted, failed = len(all_ops), len(failures)
    m, notes = end_to_end(rec, rows)
    print(f"syncbench {a.workload} seed={a.seed} trace={a.trace} nproc={rec['nproc']} "
          f"jvm={rec['jvm']} spark={rec['spark']} load={rec['load_start']}->{rec['load_end']}")
    print(f"inputs: {json.dumps(rec['inputs'], sort_keys=True)}")
    e2e = {x["name"]: x["unit"] for x in spec["end_to_end"]}
    for name, unit in e2e.items():
        print(f"  {name:<18} {m[name]:>14.6f} {unit:<6} {notes[name]}")
    print(f"  {'fail_ratio':<18} {failed / attempted:>14.6f} ratio  {failed} of {attempted} ops failed")
    for name, why in failures:
        print(f"  FAILED {name}: {why}")
    if a.trace:
        layers = dict(rec["layers"])
        traced = [o for o in rec["traced_ops"] if not o["error"]]
        base = m["throughput_ops_s"]
        layers["trace.overhead_ratio"] = (len(traced) / rec["traced_window_s"]) / base if base else 0.0
        print(f"per-layer (traced window of {len(rec['traced_ops'])} ops; "
              f"trace.overhead_ratio = traced throughput / untraced throughput_ops_s "
              f"{base:.4f} ops/s measured earlier in this run)")
        for x in spec["per_layer"]:
            moves = next(v for k, v in MOVES.items() if x["name"].startswith(k))
            print(f"  {x['name']:<36} {layers.get(x['name'], 0.0):>16.6f} {x['unit']:<8} -> {moves}")
        spans = os.path.join(WORK, f"spans-{a.workload}-{a.seed}.jsonl")
        with open(spans, "w") as fh:
            for s in rec["spans"]:
                fh.write(json.dumps(s) + "\n")
        print(f"spans: {len(rec['spans'])} written to {os.path.relpath(spans, ROOT)}")
        metrics = {x["name"]: {"value": layers.get(x["name"], 0.0), "unit": x["unit"]}
                   for x in spec["per_layer"]}
    else:
        metrics = {name: {"value": m[name], "unit": unit} for name, unit in e2e.items()}
    print(json.dumps({"correct": not bad and failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
