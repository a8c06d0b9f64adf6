#!/usr/bin/env python3
"""Derive the query_mix list.

    python3 perfbench/select_queries.py [--from-tsv]

Run from the repository root. Generates the benchmark's sf0.1-shaped
tables, measures every candidate catalog query on local[4]
(graftbench.SelectQueries), writes the measurements to
perfbench/query_selection.tsv (--from-tsv reuses that file instead) and
prints the queries that pass the rule: no bytes written to files, no job
started while the query is built other than the parquet footer read of
each table it scans, a warm time under 2 s, and for ta_* at most one
result row per document. Of those it keeps, per family (sql_q, ix_,
orp_search, m, w, ta_), the two with the lowest warm time: the queries
in which fixed per-query cost weighs most, from every family, in a
cycle short enough to repeat within one run. The list printed last
is the one frozen in graftbench.QueryMix.Queries.
"""
import argparse
import csv
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
import build  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402

TSV = os.path.join(HERE, "query_selection.tsv")
FAMILIES = ("sql_q", "ix_", "orp_search", "m", "w", "ta_")
WARM_MS = 2000
PER_FAMILY = 2


def selected(row):
    try:
        warm, rows = float(row["warm_ms"]), int(row["rows"])
    except (TypeError, ValueError):  # an error line, or no warm runs
        return False
    return (int(row["bytes_written"]) == 0 and int(row["other_build_jobs"]) == 0
            and warm < WARM_MS and not (row["query"].startswith("ta_")
                                        and rows > gen.SF01["documents"]))


def measure(root):
    out = os.path.join(root, ".bench_build")
    classes, _ = build.build(root, out)
    work = os.path.join(out, "select")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    gen.relational(os.path.join(work, "in"))
    subprocess.run(run.java(root, classes, os.path.join(work, "tmp"),
                            "graftbench.SelectQueries",
                            [os.path.join(work, "in"), TSV, work]),
                   stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL, check=True)
    shutil.rmtree(work, ignore_errors=True)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--from-tsv", action="store_true")
    a = ap.parse_args()
    if not a.from_tsv:
        measure(os.getcwd())
    with open(TSV) as f:
        rows = [r for r in csv.DictReader(f, delimiter="\t") if selected(r)]
    print(f"pass the rule (warm < {WARM_MS} ms): {len(rows)} queries, "
          f"warm sum {sum(float(r['warm_ms']) for r in rows):.0f} ms")
    pick = []
    for fam in FAMILIES:
        mine = [r for r in rows if r["query"].startswith(fam)
                and (len(fam) > 1 or r["query"][1].isdigit())]
        pick += sorted(mine, key=lambda r: float(r["warm_ms"]))[:PER_FAMILY]
    print(f"lowest {PER_FAMILY} warm times per family: {len(pick)} queries, "
          f"warm sum {sum(float(r['warm_ms']) for r in pick):.0f} ms")
    print("  " + ", ".join(f'"{r["query"]}"' for r in pick))


if __name__ == "__main__":
    main()
