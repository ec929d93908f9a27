#!/usr/bin/env python
"""Alternating fresh-process A/B of a small full build.

    python plans/r07/small_build_ab.py A_TREE B_TREE [pairs] [builds] [corpus]

``corpus``: ``polyglot`` (``fixtures.polyglot``, 12 docs) or ``monorepo``
(``fixtures.POLYGLOT_DOCS`` plus the JS/Java/Rust/Go/Lua/C#/C++/Dart/Ruby
fixture docs of ``fixtures_lang``, 43 docs). Each leg is a fresh Python
process with ``PYTHONPATH=<tree>`` that starts a Spark session with the
program defaults (4 GB driver heap, SPARK_GRAFT_CPUS cores), runs one untimed
warm-up build, then times ``builds`` builds (build_graph + count nodes +
count edges) and counts the Spark jobs each one ran. Pairs alternate which tree goes first. Prints one
JSON line per leg, then a summary per tree (min / median build seconds and
jobs per build).
"""

from __future__ import annotations

import json
import os
import statistics
import subprocess
import sys

LEG = r"""
import json, sys, time
from code_graph_rag_spark.session import get_spark
from code_graph_rag_spark import fixtures, fixtures_lang
from code_graph_rag_spark.pipeline import build_graph

spark = get_spark(extra_conf={"spark.ui.retainedJobs": "100000"})
st = spark.sparkContext.statusTracker()
rows = list(fixtures.POLYGLOT_DOCS)
if sys.argv[2] == "monorepo":
    for n in ("JS", "JAVA", "RUST", "GO", "LUA", "CS", "CPP", "DART", "RUBY"):
        rows += getattr(fixtures_lang, n + "_DOCS")
docs = fixtures.documents_df(spark, rows).persist()
docs.count()

def one():
    j0 = len(st.getJobIdsForGroup())
    t0 = time.perf_counter()
    g = build_graph(docs)
    n, e = g.nodes.count(), g.edges.count()
    dt = time.perf_counter() - t0
    jobs = len(st.getJobIdsForGroup()) - j0
    g.unpersist()
    return dt, jobs, n, e

one()
out = [one() for _ in range(int(sys.argv[1]))]
print(json.dumps({"secs": [round(o[0], 3) for o in out],
                  "jobs": [o[1] for o in out],
                  "nodes": out[0][2], "edges": out[0][3]}))
spark.stop()
"""


def leg(tree: str, builds: int, corpus: str) -> dict:
    env = dict(os.environ, PYTHONPATH=os.path.abspath(tree))
    env.setdefault("SPARK_GRAFT_DRIVER_MEM", "4g")
    env.setdefault("SPARK_GRAFT_CPUS", "4")
    out = subprocess.run(
        [sys.executable, "-c", LEG, str(builds), corpus],
        env=env, capture_output=True, text=True, check=True,
    ).stdout
    return json.loads(out.strip().splitlines()[-1])


def main() -> None:
    a, b = sys.argv[1], sys.argv[2]
    pairs = int(sys.argv[3]) if len(sys.argv) > 3 else 5
    builds = int(sys.argv[4]) if len(sys.argv) > 4 else 3
    corpus = sys.argv[5] if len(sys.argv) > 5 else "polyglot"
    res = {"A": [], "B": []}
    for i in range(pairs):
        order = [("A", a), ("B", b)] if i % 2 == 0 else [("B", b), ("A", a)]
        for name, tree in order:
            r = leg(tree, builds, corpus)
            res[name].append(r)
            print(json.dumps({"pair": i + 1, "side": name, **r}), flush=True)
    for name, tree in (("A", a), ("B", b)):
        secs = [s for r in res[name] for s in r["secs"]]
        jobs = sorted({j for r in res[name] for j in r["jobs"]})
        print(json.dumps({
            "side": name, "corpus": corpus,
            "tree": os.path.basename(os.path.abspath(tree)),
            "builds": len(secs), "min_s": min(secs),
            "median_s": round(statistics.median(secs), 3),
            "leg_min_s": [min(r["secs"]) for r in res[name]],
            "jobs_per_build": jobs,
        }))


if __name__ == "__main__":
    main()
