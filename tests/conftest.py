"""Shared Spark session + built fixture graphs (expensive → session scope)."""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from code_graph_rag_spark.session import get_spark  # noqa: E402


@pytest.fixture(scope="session")
def spark():
    # AQE off for tiny fixtures: per-stage re-planning dominates at this
    # scale; the bench/scale path (bench.py) runs with AQE on.
    # AQE + whole-stage codegen OFF: at fixture scale the per-stage
    # re-planning / Janino-compile fixed cost dominates actual execution
    # (bench.py runs both ON at sf0.1 — that path measures the real plans)
    # width from SPARK_GRAFT_CPUS / nproc (get_spark's default)
    s = get_spark(
        shuffle_partitions=2,
        app_name="cgr_spark_tests",
        extra_conf={
            "spark.sql.adaptive.enabled": "false",
            "spark.sql.codegen.wholeStage": "false",
            # constraint propagation is pure planning cost on these deep
            # fixture-scale join DAGs (~10% off a full io build, measured
            # 35.2→30.7 s first build / 19.9→18.0 steady-state); bench
            # keeps Spark defaults
            "spark.sql.constraintPropagation.enabled": "false",
        },
    )
    yield s


def _drain():
    import gc

    gc.collect()
    try:
        from pyspark.sql import SparkSession

        s = SparkSession.getActiveSession()
        if s is not None:
            s.sparkContext._jvm.System.gc()
    except Exception:
        pass


@pytest.fixture(autouse=True)
def _drain_jvm_state(request):
    """Per-test cleanup: drop py4j proxies (python gc) then force a JVM
    GC so the ContextCleaner reclaims dead shuffles/broadcasts/checkpoints
    immediately. Without this the shared session accumulates thousands of
    dead registrations and later tests run 3-5x slower than isolated
    (measured: the 5-build scoped-io test cost 647 s late in the suite vs
    ~160 s in a fresh session). Function-scoped on purpose — a full GC at
    8 threads is ~0.3 s, noise next to one leaked
    checkpoint generation; modules that never touch Spark skip the JVM
    call entirely (no active session → python gc only, ~ms)."""
    yield
    _drain()


@pytest.fixture(scope="session")
def slice0_graph(spark):
    from code_graph_rag_spark.fixtures import slice0
    from code_graph_rag_spark.pipeline import build_graph

    return build_graph(slice0(spark))


@pytest.fixture(scope="session")
def polyglot_graph(spark):
    from code_graph_rag_spark.fixtures import polyglot
    from code_graph_rag_spark.pipeline import build_graph

    return build_graph(polyglot(spark))


def triples(graph) -> set[tuple[str, str, str]]:
    return {(r.subj, r.pred, r.obj) for r in graph.edges.collect()}
