#!/usr/bin/env python3
"""The repository benchmark: one command, three seeded workloads.

    python3 perfbench/run.py --workload refinery|query_mix|ingest \
        --seed N --seconds S --trace 0|1

Run from the repository root. It builds the program and the harness from
source (perfbench/build.py) into .bench_build/, runs the workload in one
JVM on local[4] (graftbench.Main), checks the outputs, prints a report
(every metric by name, with unit and sample count, plus inputs and run
posture), and prints as its last line one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

--trace 0 reports the end-to-end metrics (spans and Spark counters off);
--trace 1 reports the per-layer metrics of a traced run. Correctness is
checked outside the timed window: refinery sinks and the last result of
every query_mix query against the program's DuckDB oracle SQL
(graft.SparkEntry.oracleSql) over the generated inputs, the ingest
outcomes against the compact-every-batch reference path (inside the JVM).
A mismatch counts every execution of that operator as failed.
"""
import argparse
import json
import math
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.join(os.path.dirname(HERE), "tools")]
import build  # noqa: E402
import gen  # noqa: E402
from check_oracle import canon  # noqa: E402

WORKLOADS = ("refinery", "query_mix", "ingest")
TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")
JVM_TIMEOUT_S = 150        # leaves time for the checks within 180 s
SETUPS = 3                 # set-up copies per run; setup_s is their median
REFINERY_DOCS = 1000       # refinery corpus size
# Ingest arrivals per second. Measured on 4 cores (see the README): a
# micro-batch through both loops takes ~4.8 s fixed (about 65 jobs) plus
# ~5 ms per document, so at 20 docs/s the per-document work is a tenth
# of the loop's time: the loop keeps up and latency shows batch cost, not
# a growing backlog. The rate is a light-load choice, not a measured
# production rate; --rate overrides it to measure the loop.
INGEST_RATE = 20.0
# Arrival kinds in the shares of the catalog's gate fixture
# (graft.operators.OrpQueries.gateFixture, the incoming batch of
# dg_dedup_gate and dg_stream_loop): of the incoming documents, those
# with doc_id % 10 == 0 carry new content (1/2), those with doc_id % 15
# == 0 and not % 10 an exact text under a changed meta key (1/6), the
# rest an exact copy (1/3).
INGEST_MIX = (("new", 1 / 2), ("duplicate", 1 / 3), ("version", 1 / 6))
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]


def java(root, classes, tmpdir, main, args):
    """Command line of one harness JVM."""
    # ParallelGC on a fixed heap (young generation 1 GB, no adaptive
    # resizing) and a metaspace that codegen does not outgrow: young
    # pauses of ~20-50 ms every few seconds and no full collection in the
    # window. With the default growing heap the query cycle kept speeding
    # up for several cycles as the young generation grew, and that drift
    # was most of query_mix's run-to-run spread.
    cmd = ["java", "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC",
           "-XX:-UseAdaptiveSizePolicy", "-XX:MetaspaceSize=256m",
           f"-Djava.io.tmpdir={tmpdir}", "-Dspark.ui.enabled=false"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    jars = os.path.join(build.spark_jars(root), "*")
    return cmd + ["-cp", f"{classes}{os.pathsep}{jars}", main] + args


def bench_spec(root):
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        return json.load(f)


def same(spark_df, duck_df):
    """Why the two results differ, or None: tools/check_oracle.py's
    comparison (canonical order, floats within 1e-6)."""
    import pandas as pd
    a, b = canon(spark_df), canon(duck_df)
    if len(a) != len(b):
        return f"rows {len(a)} vs {len(b)}"
    if list(a.columns) != list(b.columns):
        return f"columns {list(a.columns)} vs {list(b.columns)}"
    for c in a.columns:
        x, y = a[c], b[c]
        if x.dtype == "float64" or y.dtype == "float64":
            xx, yy = pd.to_numeric(x, errors="coerce"), pd.to_numeric(y, errors="coerce")
            ok = ((xx - yy).abs() < 1e-6) | (xx.isna() & yy.isna())
        else:
            ok = (x == y) | (x.isna() & y.isna())
        if not ok.all():
            return f"column {c} differs"
    return None


def oracle_check(checks, inputs):
    """Names of the checks whose Spark result differs from DuckDB's."""
    import duckdb
    import pandas as pd
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    for t in TABLES:
        p = os.path.join(inputs, f"{t}.parquet")
        if os.path.exists(p):  # a file, or a directory Spark wrote
            src = os.path.join(p, "*.parquet") if os.path.isdir(p) else p
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{src}'")
    bad = {}
    for c in checks:
        try:
            why = same(pd.read_parquet(c["dir"]), con.execute(c["sql"]).df())
        except Exception as e:  # a failed check is a failed operation
            why = f"error {e}"[:300]
        if why:
            bad[c["name"]] = why
    return bad


def fmt(v):
    return "null" if v is None or (isinstance(v, float) and math.isnan(v)) else f"{v:.6g}"


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--rate", type=float, default=INGEST_RATE,
                    help="ingest arrivals per second (to measure the loop)")
    a = ap.parse_args()
    root = os.getcwd()
    spec = bench_spec(root)
    out = os.path.join(root, ".bench_build")
    classes, digest = build.build(root, out)

    tag = f"{a.workload}-s{a.seed}-t{a.trace}"
    work = os.path.join(out, "work", tag)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    copies, gen_s = [], []
    for i in range(SETUPS):
        d = os.path.join(work, f"setup{i}", "in")
        t0 = time.time()
        if a.workload == "refinery":
            props = gen.refinery(d, REFINERY_DOCS)
        elif a.workload == "query_mix":
            gen.relational(d)
            props = {"docs": gen.SF01["documents"],
                     "lineitem_rows": gen.SF01["lineitem"]}
        else:
            props = gen.ingest(d, a.seed, round(a.rate * a.seconds),
                               INGEST_MIX)
        gen_s.append(time.time() - t0)
        copies.append(d)
    props["input_mb"] = round(sum(os.path.getsize(os.path.join(d, f))
                                  for f in os.listdir(d)) / 1e6, 3)
    docs = props.get("docs", props.get("base_docs", 0))
    cmd = java(root, classes, os.path.join(work, "tmp"), "graftbench.Main", [
            "--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--work", work, "--launch-ms", str(int(time.time() * 1000)),
            "--code-rev", digest[:12], "--inputs", ",".join(copies),
            "--gen-s", ",".join(f"{g:.6f}" for g in gen_s),
            "--docs", str(docs), "--rate", str(a.rate)])
    log_path = os.path.join(work, "jvm.log")
    t_jvm = time.time()
    with open(log_path, "w") as log:
        # few malloc arenas: native memory, and so peak RSS, then varies
        # less with how the JVM's threads happened to spread over arenas
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT,
                                env=dict(os.environ, MALLOC_ARENA_MAX="2"))
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            rc = "timeout"
    res_path = os.path.join(work, "result.json")
    shutil.copy(log_path, os.path.join(out, f"jvm-{tag}.log"))
    if rc != 0 or not os.path.exists(res_path):
        sys.stderr.write(open(log_path).read()[-6000:])
        raise SystemExit(f"perfbench: {a.workload} JVM ended with {rc}")
    res = json.load(open(res_path))
    t_check = time.time()

    attempted, failed = res["attempted"], res["failed"]
    bad = oracle_check(res["oracle"], res["inputs_dir"]) \
        if res["oracle"] else {}
    for name, why in bad.items():
        res["notes"].append(f"oracle mismatch {name}: {why}")
    if bad:
        # every execution of a mismatching operator counts as incorrect
        per_op = attempted / max(1, len(res["oracle"]))
        failed = min(attempted, failed + round(per_op * len(bad)))

    res["posture"]["jvm_s"] = f"{t_check - t_jvm:.3f}"
    res["posture"]["oracle_check_s"] = f"{time.time() - t_check:.3f}"
    # the report: every metric by name, unit and sample count
    pre = f"[perfbench] {a.workload} seed={a.seed} trace={a.trace}"
    for k, v in list(props.items()) + list(res["inputs"].items()):
        print(f"{pre} input {k}={v}")
    for k, v in res["posture"].items():
        print(f"{pre} posture {k}={v}")
    for k, m in list(res["end_to_end"].items()) + list(res["report"].items()):
        print(f"{pre} {k}={fmt(m['value'])} {m['unit']} (n={m['n']})")
    print(f"{pre} failed_frac={failed / max(1, attempted):.6g} "
          f"(failed={failed}, attempted={attempted})")
    for k, v in sorted(res["per_layer"].items()):
        print(f"{pre} layer {k}={fmt(v)}")
    for n in res["notes"]:
        print(f"{pre} note {n}")
    shutil.copy(res_path, os.path.join(out, f"result-{tag}.json"))
    spans = os.path.join(work, "spans.json")
    if a.trace:
        shutil.copy(spans, os.path.join(out, f"spans-{tag}.json"))
    shutil.rmtree(work, ignore_errors=True)

    wanted = spec["per_layer"] if a.trace else spec["end_to_end"]
    source = res["per_layer"] if a.trace else res["end_to_end"]
    metrics = {}
    for m in wanted:
        v = source.get(m["name"])
        v = v["value"] if isinstance(v, dict) else v
        metrics[m["name"]] = {"value": v, "unit": m["unit"]}
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
