"""Concurrent stage submission must not change the graph.

The join phase submits independent stage frames from driver threads
(``pipeline._materialize_all``, the closure/recv_cls/media overlap and the
entities/row-count overlap). This module builds the polyglot fixture twice:
once with the real thread pools, and once with ``pipeline.ThreadPoolExecutor``
swapped for an inline executor that runs each submitted function on the
calling thread, in submission order (pool width 1). Both builds must yield
identical node and edge sets.

It guards the shared-ancestor precondition of ``_materialize_all``: a parent
shared by two batch entries that is not already checkpointed would be
computed twice by racing jobs, and ids minted twice would change the edges.
"""

from __future__ import annotations

from concurrent.futures import Future

from code_graph_rag_spark import pipeline
from code_graph_rag_spark.fixtures import polyglot


class _InlineExecutor:
    submitted = 0

    def __init__(self, max_workers=None):
        pass

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        return False

    def submit(self, fn, *args, **kwargs):
        _InlineExecutor.submitted += 1
        fut = Future()
        try:
            fut.set_result(fn(*args, **kwargs))
        except BaseException as e:  # surfaced by .result(), as a pool does
            fut.set_exception(e)
        return fut


def _graph_tuples(g):
    edges = {
        (r.subj, r.pred, r.obj)
        for r in g.edges.select("subj", "pred", "obj").collect()
    }
    nodes = {(r.label, r.id) for r in g.nodes.select("label", "id").collect()}
    return nodes, edges


def test_inline_executor_equivalence(spark, monkeypatch):
    docs = polyglot(spark)
    g_pool = pipeline.build_graph(docs)
    pooled = _graph_tuples(g_pool)
    g_pool.unpersist()

    monkeypatch.setattr(pipeline, "ThreadPoolExecutor", _InlineExecutor)
    g_inline = pipeline.build_graph(docs)
    inline = _graph_tuples(g_inline)
    g_inline.unpersist()
    assert _InlineExecutor.submitted > 0, "the build bypassed the executor"

    assert pooled[0] == inline[0], "node sets diverge between pool widths"
    assert pooled[1] == inline[1], "edge sets diverge between pool widths"
