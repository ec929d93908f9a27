#!/usr/bin/env python
"""Cluster entrypoint: spark-submit --py-files cgr_spark.zip jobs/build_graph_job.py

  scripts/package_pyfiles.sh   # builds dist/cgr_spark.zip from the source tree
  spark-submit \\
      --py-files dist/cgr_spark.zip \\
      jobs/build_graph_job.py \\
      --input  s3://bucket/documents/   (parquet, input_hint schema) \\
      --store  s3://bucket/kg_stages/   (stage tables + lineage) \\
      --mode   incremental|full

On a cluster the session comes from spark-submit's conf (executors, AQE,
shuffle partitions sized to ~2-3× total cores); locally it falls back to
``get_spark()``. The job is resumable: a run killed after any completed
stage restarts from the persisted stage tables (see incremental.StageStore).
"""

from __future__ import annotations

import argparse
import json
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--input", required=True)
    ap.add_argument("--store", required=True)
    ap.add_argument("--mode", default="incremental", choices=["incremental", "full"])
    args = ap.parse_args()

    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    if spark is None:
        try:
            spark = SparkSession.builder.getOrCreate()
        except Exception:
            from code_graph_rag_spark.session import get_spark

            spark = get_spark()

    from code_graph_rag_spark.incremental import (
        StageStore,
        full_build,
        incremental_build,
    )
    from code_graph_rag_spark.schema import DOCUMENTS_SCHEMA

    docs = spark.read.schema(DOCUMENTS_SCHEMA).parquet(args.input)
    store = StageStore(args.store)
    t0 = time.time()
    if args.mode == "full":
        graph = full_build(spark, docs, store)
        stats = {"mode": "full"}
    else:
        graph, stats = incremental_build(spark, docs, store)
    n_edges = graph.edges.count()
    n_nodes = graph.nodes.count()
    secs = time.time() - t0
    print(
        json.dumps(
            {
                **stats,
                "nodes": n_nodes,
                "edges": n_edges,
                "secs": round(secs, 2),
                "triples_per_sec": round(n_edges / secs, 1),
                "lineage": store.lineage(),
            }
        )
    )


if __name__ == "__main__":
    main()
