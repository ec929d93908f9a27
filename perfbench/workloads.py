"""The two workloads. Each run sets up, does the timed operations and
checks every answer.

build_large  one full build of the synth monorepo: extract → pipeline
             (join phase) → triples (node/edge tables) → linking
             (canonicalize + rewrite), counted.
query_mix    ``--seconds`` of read-only queries from a seeded mix, one at a
             time, over a unique-name monorepo's graph read back through
             ``StageStore.read_stage``.

The gated per-operation figure is CPU time, not wall time (see
``_record_ops``).
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
import traceback
from dataclasses import dataclass, field
from pathlib import Path

from pyspark.sql import functions as F

import corpus
import oracles
from measure import (
    Span,
    Tracer,
    read_event_log,
    source_digest,
    steal_s,
    stop_spark,
    tree_usage,
    window,
)

# Corpus sizes. A build_large run takes about a minute on a 4-core host; a
# query_mix run about 35 s plus --seconds.
BUILD_MODULES = 1000
QUERY_MODULES = 1000
# seconds one round of the query mix takes on a 4-core host, after warm-up
ROUND_S = 7

ENTITY_LABELS = ("Function", "Method", "Class", "Module")
EDGE_COLS = ["subj", "pred", "obj", "subj_label", "obj_label"]

E2E_UNITS = {
    "setup_s": "s",
    "cpu_per_op_s": "s",
    "peak_rss_mb": "MiB",
}

LAYER_UNITS = {
    "session.jvm_start_s": "s",
    "session.first_job_s": "s",
    "extract.wall_s": "s",
    "extract.jobs": "count",
    "extract.task_s": "s",
    "extract.mention_rows": "count",
    "pipeline.wall_s": "s",
    "pipeline.jobs": "count",
    "pipeline.stages": "count",
    "pipeline.tasks": "count",
    "pipeline.busy_share": "ratio",
    "pipeline.shuffle_mb": "MiB",
    "pipeline.gc_s": "s",
    "pipeline.edges_prov_rows": "count",
    "pipeline.resolved_ratio": "ratio",
    "linking.wall_s": "s",
    "linking.jobs": "count",
    "linking.candidate_pairs": "count",
    "linking.merged_entities": "count",
    "triples.wall_s": "s",
    "triples.jobs": "count",
    "triples.nodes_out": "count",
    "triples.edges_out": "count",
    "incremental.store_read_s": "s",
    "query.p50_ms": "ms",
    "query.p90_ms": "ms",
    "query.per_s": "1/s",
    "cypher.compile_ms": "ms",
    "cypher.exec_ms": "ms",
    "cypher.jobs_per_query": "count",
    "cypher.rows_out": "count",
    "op.traced_s": "s",
    "op.cpu_s": "s",
    "op.jobs": "count",
    "unattributed_s": "s",
}


@dataclass
class Result:
    attempted: int = 0
    failed: int = 0
    e2e: dict = field(default_factory=dict)
    layers: dict = field(default_factory=lambda: dict.fromkeys(LAYER_UNITS, 0.0))
    detail: dict = field(default_factory=dict)
    host: dict = field(default_factory=dict)
    # wall, CPU and steal seconds of the timed operations, and their number
    op_usage: dict = field(default_factory=dict)

    def check(self, what: str, problems: list[str]) -> None:
        self.attempted += 1
        if problems:
            self.failed += 1
            self.detail.setdefault("failures", []).append(f"{what}: {problems[0]}")

    def result(self, trace: int, peak_rss: int) -> dict:
        if trace:
            metrics = {k: (v, LAYER_UNITS[k]) for k, v in self.layers.items()}
        else:
            metrics = dict(self.e2e, peak_rss_mb=peak_rss / 2**20)
            metrics = {k: (metrics[k], E2E_UNITS[k]) for k in E2E_UNITS}
        return {
            "correct": self.failed == 0,
            "attempted": max(self.attempted, 1),
            "failed": self.failed if self.attempted else 1,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }


@dataclass
class Ctx:
    args: object
    root: Path
    work: Path
    run_dir: Path
    t_start: float
    spark: object = None
    tracer: Tracer = field(default_factory=Tracer)
    res: Result = field(default_factory=Result)

    def mark(self, step: str) -> None:
        """Seconds from process start to the end of ``step``, for the detail
        line: where a run's wall time goes."""
        self.res.detail.setdefault("timeline_s", {})[step] = round(time.time() - self.t_start, 1)


def _edge_set(df, corrupt: bool) -> set:
    got = {tuple(r) for r in df.select(*EDGE_COLS).toPandas().itertuples(index=False)}
    if corrupt and got:
        got.discard(min(got))
    return got


def _node_set(df) -> set:
    return {tuple(r) for r in df.select("label", "id").toPandas().itertuples(index=False)}


def _usage(since: dict | None = None) -> dict:
    """Wall clock, CPU seconds used by this process tree (the Python driver,
    the JVM and its Python workers) and CPU seconds the hypervisor stole,
    absolute or since an earlier reading."""
    now = {"wall_s": time.time(), "cpu_s": tree_usage(os.getpid())[1], "steal_s": steal_s()}
    return now if since is None else {k: now[k] - since[k] for k in now}


def _record_ops(res: Result, usage0: dict, ops: int) -> None:
    """The end-to-end figure of the timed operations: their CPU time per
    operation. The operations keep every core busy, so on a shared host a
    neighbour's load stretches their wall time far more than their CPU time
    (on a 4-vCPU VM, a two-thread CPU hog added 57% to a sync's wall time
    and 9% to its CPU time). The wall time goes to the detail line and, in
    traced runs, to ``op.traced_s``. ``usage0`` is the reading taken when
    the operations began."""
    usage = _usage(usage0)
    res.detail["op_usage"] = {k: round(v, 2) for k, v in usage.items()}
    res.op_usage = dict(usage, ops=ops, start=usage0["wall_s"])
    res.e2e["cpu_per_op_s"] = usage["cpu_s"] / ops


def _resolved_ratio(stats) -> float:
    """Resolved ÷ ladder mentions, from ``queries.resolution_stats`` rows
    (kind, n_mentions, n_resolved, n_unresolved)."""
    return sum(r[2] for r in stats) / max(sum(r[1] for r in stats), 1)


def _entities(nodes):
    return nodes.filter(F.col("label").isin(*ENTITY_LABELS)).select(
        F.col("id").alias("qualified_name")
    )


# ---------------------------------------------------------------------------
# build_large
# ---------------------------------------------------------------------------


def build_large(c: Ctx) -> None:
    """One checked build of ``synth_corpus_distributed``, the first
    operation of its JVM. Unlike the queries, a cold build's CPU time
    repeats well (the JIT compiler finishes its work within the build);
    after a small warm-up build it varied more, since the JIT work left
    over for the timed build varied, and the warm-up did not fit the run
    budget."""
    from code_graph_rag_spark.extract.mentions import extract_mentions
    from code_graph_rag_spark.fixtures import synth_corpus_distributed
    from code_graph_rag_spark.linking import (
        canonicalize_entities,
        lsh_link_candidates,
        rewrite_edges_canonical,
    )
    from code_graph_rag_spark.pipeline import build_graph_from_mentions
    from code_graph_rag_spark.queries import resolution_stats
    from code_graph_rag_spark.schema import DEFAULT_GROUPS

    spark, t, res = c.spark, c.tracer, c.res
    funcs = 3 if c.args.smoke else 8
    n = 40 if c.args.smoke else BUILD_MODULES
    fanout = 6 if c.args.smoke else 45 + c.args.seed % 5
    res.detail["corpus"] = {"modules": n, "funcs_per_doc": funcs, "pkg_fanout": fanout}
    docs = synth_corpus_distributed(spark, n, funcs_per_doc=funcs, pkg_fanout=fanout)
    docs = docs.persist()
    docs.count()
    c.mark("inputs")
    res.e2e["setup_s"] = time.time() - c.t_start

    t.op = 0
    usage0 = _usage()
    with t.span("extract"):
        raw = extract_mentions(docs, groups=DEFAULT_GROUPS).localCheckpoint(eager=True)
    with t.span("pipeline"):
        g = build_graph_from_mentions(raw)
    with t.span("triples"):
        n_nodes = g.nodes.count()
        g.edges.count()
    with t.span("linking"):
        mapping = canonicalize_entities(
            _entities(g.nodes), min_agreement=0.95
        ).localCheckpoint(eager=True)
        n_canon_edges = rewrite_edges_canonical(g.edges, mapping).count()
    _record_ops(res, usage0, 1)
    t.op = None
    c.mark("op")

    exp = oracles.synth_expectations(c.work / "cache", n, funcs, fanout)
    canon = {tuple(r) for r in mapping.toPandas().itertuples(index=False)}
    resolution = [tuple(r) for r in resolution_stats(g.mentions, g.resolved).collect()]
    edges = _edge_set(g.edges, c.args.corrupt)
    problems = oracles.check_synth_build(exp, _node_set(g.nodes), edges, canon, resolution)
    cmap = dict(exp["canon"])
    want_canon_edges = len(
        {(cmap.get(s, s), p, cmap.get(o, o)) for s, p, o, _sl, _ol in exp["edges"]}
    )
    if n_canon_edges != want_canon_edges:
        problems.append(f"canonical edges {n_canon_edges} != {want_canon_edges}")
    res.check("build", problems)
    c.mark("op_checked")

    L = res.layers
    L["triples.nodes_out"], L["triples.edges_out"] = n_nodes, n_canon_edges
    L["linking.merged_entities"] = sum(1 for a, b in canon if a != b)
    if c.args.trace:
        L["extract.mention_rows"] = raw.count()
        L["pipeline.edges_prov_rows"] = g.edges_prov.count()
        L["pipeline.resolved_ratio"] = _resolved_ratio(resolution)
        L["linking.candidate_pairs"] = lsh_link_candidates(
            _entities(g.nodes), min_agreement=0.95
        ).count()

    g.unpersist()
    raw.unpersist()
    docs.unpersist()


# ---------------------------------------------------------------------------
# query_mix
# ---------------------------------------------------------------------------


def _query_modules(c: Ctx) -> int:
    return 24 if c.args.smoke else QUERY_MODULES


def _base_dir(c: Ctx) -> Path:
    return c.work / "cache" / f"query_store_{_query_modules(c)}_{source_digest(c.root)}"


def prepare_base(c: Ctx) -> None:
    """Full build of the unique-name corpus into a stage store. Runs in its
    own process, once per checkout and program version; every query_mix run
    then reads it."""
    from code_graph_rag_spark.fixtures import documents_df
    from code_graph_rag_spark.incremental import StageStore, full_build

    base = _base_dir(c)
    tmp = base.with_name(base.name + f".tmp{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    rows = corpus.unique_corpus_rows(_query_modules(c))
    g = full_build(c.spark, documents_df(c.spark, rows), StageStore(str(tmp / "store")))
    g.unpersist()
    (tmp / "ok").write_text("")
    shutil.rmtree(base, ignore_errors=True)
    tmp.rename(base)


def _ensure_base(c: Ctx) -> float:
    """Seconds spent building the stage store in a child process (0 when it
    is already cached)."""
    import subprocess
    import sys

    if (_base_dir(c) / "ok").exists():
        return 0.0
    t0 = time.time()
    cmd = [sys.executable, str(Path(__file__).with_name("run.py")), "--workload",
           "query_mix", "--seed", "0", "--seconds", "0", "--prepare"]
    subprocess.run(cmd + (["--smoke"] if c.args.smoke else []), check=True, timeout=600)
    return time.time() - t0


@dataclass
class Answer:
    kind: str
    params: dict
    rows: list | None = None  # None when the query raised
    error: str = ""
    secs: float = 0.0
    compile_s: float | None = None  # run_cypher queries only
    exec_s: float | None = None


def _ask(c: Ctx, kind: str, p: dict, nodes, edges, docs) -> Answer:
    """One query of the mix, timed from the call to collected rows."""
    from code_graph_rag_spark.cypher import run_cypher
    from code_graph_rag_spark.queries import code_snippets, dead_code, reachable

    a = Answer(kind, p)
    q0 = time.time()
    try:
        if kind in corpus.CYPHER_SHAPES or kind == "lookup":
            text = corpus.lookup_cypher(p["name"]) if kind == "lookup" else corpus.CYPHER_SHAPES[kind]
            df = run_cypher(nodes, edges, text)
            q1 = time.time()
            got = df.collect()
            q2 = time.time()
            c.tracer.spans.append(Span("cypher", q0, q2, c.tracer.op))
            a.compile_s, a.exec_s = q1 - q0, q2 - q1
        elif kind == "reachable":
            roots = c.spark.createDataFrame([(r,) for r in p["roots"]], "id string")
            got = reachable(edges, roots, max_iter=corpus.REACH_HOPS).collect()
        elif kind == "dead_code":
            got = dead_code(nodes, edges).select("label", "id", "name", "path").collect()
        else:
            got = (
                code_snippets(nodes, docs, p["qns"])
                .select("qualified_name", "path", "start_line", "source_code")
                .collect()
            )
    except Exception:  # a query that raises is a failed operation
        a.error = traceback.format_exc(limit=3)
        return a
    a.secs = time.time() - q0
    c.tracer.spans.append(Span("query", q0, q0 + a.secs, c.tracer.op))
    a.rows = oracles.rows_of(got)
    return a


def _check_answers(c: Ctx, oracle, answers: list[Answer]) -> None:
    for a in answers:
        if a.rows is None:
            c.res.check(a.kind, [a.error])
            continue
        got = a.rows[1:] if c.args.corrupt and a.rows else a.rows
        p = a.params
        if a.kind in corpus.CYPHER_SHAPES:
            want = oracle.cypher(a.kind)
        elif a.kind == "lookup":
            want = oracle.lookup(p["name"])
        elif a.kind == "reachable":
            want = oracle.reachable(p["roots"], corpus.REACH_HOPS)
        elif a.kind == "dead_code":
            want = oracle.dead_code()
        else:
            want = oracle.snippets(p["qns"])
        c.res.check(a.kind, [] if got == want else [f"{len(got)} rows, expected {len(want)}"])


def query_mix(c: Ctx) -> None:
    from code_graph_rag_spark.fixtures import documents_df
    from code_graph_rag_spark.incremental import StageStore

    spark, t, res = c.spark, c.tracer, c.res
    store = StageStore(str(_base_dir(c) / "store"))
    rows = corpus.unique_corpus_rows(_query_modules(c))
    docs = documents_df(spark, rows).persist()
    docs.count()
    with t.span("store_read"):
        nodes = store.read_stage(spark, "nodes").persist()
        edges = store.read_stage(spark, "edges").persist()
        n_nodes, n_edges = nodes.count(), edges.count()
    lin = store.lineage()
    oracle = oracles.QueryOracle(
        store._vpath("nodes", lin["nodes"]["version"]),
        store._vpath("edges", lin["edges"]["version"]),
        c.work / "tmp",
        rows,
    )
    names, qns = oracle.function_names()
    stream = corpus.query_stream(c.args.seed, names, qns)
    c.mark("inputs")

    # warm-up: one round of the mix, every kind once
    t.op = -1
    warm = [_ask(c, *next(stream), nodes, edges, docs) for _ in corpus.QUERY_KINDS]
    t.op = None
    _check_answers(c, oracle, warm)
    c.mark("warm_up")
    res.e2e["setup_s"] = time.time() - c.t_start

    # timed: a fixed number of whole rounds, about --seconds long. The CPU
    # time per query still falls from round to round as the JIT compiler
    # catches up, so a run that fitted one more round in the same seconds
    # would read lower. Answers are checked afterwards, outside the window.
    n = len(corpus.QUERY_KINDS) * max(1, round(c.args.seconds / ROUND_S))
    t.op = 0
    usage0 = _usage()
    answers = [_ask(c, *next(stream), nodes, edges, docs) for _ in range(n)]
    _record_ops(res, usage0, len(answers))
    t.op = None
    c.mark("op")
    _check_answers(c, oracle, answers)
    c.mark("op_checked")
    nodes.unpersist()
    edges.unpersist()
    docs.unpersist()

    ok = [a for a in answers if a.rows is not None]
    lat = sorted(a.secs for a in ok)
    cy = [a for a in ok if a.compile_s is not None]
    res.detail["queries"] = {
        "samples": len(lat),
        "beyond_p90": sum(1 for x in lat if x > _p90(lat)) if lat else 0,
        "median_ms": {
            k: round(statistics.median(a.secs for a in ok if a.kind == k) * 1e3, 1)
            for k in sorted({a.kind for a in ok})
        },
    }
    L = res.layers
    L["triples.nodes_out"], L["triples.edges_out"] = n_nodes, n_edges
    L["incremental.store_read_s"] = t.total("store_read")
    if lat:
        L["query.p50_ms"] = statistics.median(lat) * 1e3
        L["query.p90_ms"] = _p90(lat) * 1e3
    L["query.per_s"] = len(lat) / res.op_usage["wall_s"]
    if cy:
        L["cypher.compile_ms"] = statistics.median(a.compile_s for a in cy) * 1e3
        L["cypher.exec_ms"] = statistics.median(a.exec_s for a in cy) * 1e3
        L["cypher.rows_out"] = sum(len(a.rows) for a in cy) / len(cy)


def _p90(xs: list[float]) -> float:
    return statistics.quantiles(xs, n=10)[-1] if len(xs) > 1 else xs[0]


# ---------------------------------------------------------------------------
# entry
# ---------------------------------------------------------------------------


def _attribute(c: Ctx, ev_dir: Path) -> None:
    """Per-layer job, task, GC and shuffle figures from the event log."""
    jobs = read_event_log(str(ev_dir))
    t, L = c.tracer, c.res.layers
    spans = t.spans
    cores = int(os.environ["SPARK_GRAFT_CPUS"])

    def of(*names):
        return [s for s in spans if s.name in names and s.op == 0]

    ext = window(jobs, of("extract"))
    L["extract.jobs"], L["extract.task_s"] = ext.jobs, ext.task_s
    pipe = window(jobs, of("pipeline"))
    pipe_wall = sum(s.secs for s in of("pipeline"))
    L["pipeline.wall_s"] = pipe_wall
    L["pipeline.jobs"], L["pipeline.stages"], L["pipeline.tasks"] = pipe.jobs, pipe.stages, pipe.tasks
    L["pipeline.busy_share"] = pipe.task_s / (pipe_wall * cores) if pipe_wall else 0.0
    L["pipeline.shuffle_mb"], L["pipeline.gc_s"] = pipe.shuffle_mb, pipe.gc_s
    L["linking.jobs"] = window(jobs, of("linking")).jobs
    L["triples.jobs"] = window(jobs, of("triples")).jobs
    L["extract.wall_s"] = sum(s.secs for s in of("extract"))
    L["linking.wall_s"] = sum(s.secs for s in of("linking"))
    L["triples.wall_s"] = sum(s.secs for s in of("triples"))
    L["cypher.jobs_per_query"] = window(jobs, of("cypher")).jobs / max(len(of("cypher")), 1)

    # per timed operation: the build's layer spans tile it; each query is
    # one "query" span
    op_spans = of("extract", "pipeline", "triples", "linking", "query")
    u = c.res.op_usage
    ops = u["ops"]
    op_window = Span("op", u["start"], u["start"] + u["wall_s"])
    L["op.traced_s"], L["op.cpu_s"] = u["wall_s"] / ops, u["cpu_s"] / ops
    L["op.jobs"] = window(jobs, [op_window]).jobs / ops
    L["unattributed_s"] = (u["wall_s"] - sum(s.secs for s in op_spans)) / ops


def run(args, root: Path, work: Path, run_dir: Path, t_start: float) -> Result:
    from code_graph_rag_spark.session import get_spark

    c = Ctx(args, root, work, run_dir, t_start)
    if args.workload == "query_mix" and not args.prepare:
        # the one-off store build is a cache fill, not part of a run's set-up
        prep_s = _ensure_base(c)
        c.t_start += prep_s
        c.res.detail["store_build_s"] = prep_s
    cores = int(os.environ["SPARK_GRAFT_CPUS"])
    t0 = time.time()
    c.spark = get_spark(cores=cores, app_name=f"perfbench_{args.workload}")
    ev_dir = None
    try:
        t1 = time.time()
        # first job through the Arrow/Python-worker path the kernels use
        c.spark.range(0, cores, 1, cores).mapInPandas(lambda it: it, schema="id long").count()
        c.res.layers["session.jvm_start_s"] = t1 - t0
        c.res.layers["session.first_job_s"] = time.time() - t1
        c.mark("session")
        if args.prepare:
            prepare_base(c)
            return c.res
        {"build_large": build_large, "query_mix": query_mix}[args.workload](c)
        if args.trace:
            ev_dir = Path(c.spark.sparkContext.getConf().get("spark.eventLog.dir"))
    finally:
        stop_spark(c.spark)
        c.mark("stopped")
    if ev_dir is not None:
        _attribute(c, ev_dir)
        shutil.rmtree(ev_dir, ignore_errors=True)
    return c.res
