"""End-to-end KG construction: documents → nodes / edges / adjacency.

The reference's ``GraphUpdater.run`` (``codebase_rag/graph_updater.py:604-796``)
is a sequence of imperative passes over shared in-memory registries. Here the
same lifecycle is one declarative lineage:

    documents ─ repartitionByRange(doc_id) ─ mapInPandas(extract)
      → mentions (persisted: shared by every downstream branch, the analogue
        of the reference's combined-query capture cache)
      → entities (variant minting window)            [SURVEY §2.7]
      → structure pass (pure DataFrame)              [SURVEY §2.1]
      → alias frame + IMPORTS (verification joins)   [SURVEY §2.4]
      → call ladder joins → CALLS/INSTANTIATES/REFERENCES
      → INHERITS (+base_index) → OVERRIDES (nearest + MRO shadow)
      → media span attribution (tightest-containing-span range join)
      → union → capture-group filter → dedup → phantom-drop → tables

Every edge row carries ``src_doc`` — the document whose mention produced it
(for MRO shadow edges: the combining subclass's doc). The incremental path
(``incremental.py``) uses this provenance to delete+insert edges per
affected doc instead of recomputing the join phase over the full corpus
(the Spark form of the reference's inbound-edge capture/restore,
``graph_updater.py:1227-1284``): ``assemble_graph`` accepts a SCOPED
mention frame plus the kept out-of-scope provenance rows.
"""

from __future__ import annotations

import os
import time
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from code_graph_rag_spark.extract.mentions import extract_mentions
from code_graph_rag_spark.plans.inherits import (
    ancestor_closure,
    ext_nodes_from_edges,
    mro_shadow_edges,
    override_edges,
    resolve_inherits,
)
from code_graph_rag_spark.plans.resolution import (
    build_alias_frame,
    call_edges,
    resolve_calls,
    resolve_receiver_classes,
)
from code_graph_rag_spark.plans.io_flow import flow_edges, io_edges
from code_graph_rag_spark.plans.spans import tightest_containing_span
from code_graph_rag_spark.plans.structure import module_containment, structure_pass
from code_graph_rag_spark.plans.triples import (
    adjacency,
    dedup_edges,
    drop_phantoms,
    union_edges,
)
from code_graph_rag_spark.plans.variants import mint_entities
from code_graph_rag_spark.schema import DEFAULT_GROUPS, enabled_rels

_TYPE_PREDS = ("INHERITS", "IMPLEMENTS")


@dataclass
class GraphResult:
    nodes: DataFrame
    edges: DataFrame
    mentions: DataFrame
    entities: DataFrame
    # per-provenance edge rows (edge × src_doc) BEFORE the final cross-doc
    # dedup — the incremental delete+insert unit
    edges_prov: DataFrame = None
    # the winning resolution rows (mention → target) — feeds
    # queries.resolution_stats (unresolved-mention observability)
    resolved: DataFrame = None
    # every internally persisted frame — unpersisting ALL of them matters
    # for long sessions (leaked caches measured a 1.75x slowdown on the
    # second build in one session)
    persisted: list = None

    def adjacency(self, max_neighbors: int | None = None) -> DataFrame:
        return adjacency(self.edges, max_neighbors=max_neighbors)

    def unpersist(self) -> None:
        for df in (
            self.mentions,
            self.entities,
            self.nodes,
            self.edges,
            *(self.persisted or []),
        ):
            try:
                df.unpersist()
            except Exception:
                pass


def disambiguate_modules(
    mentions: DataFrame, module_mentions: DataFrame | None = None
) -> DataFrame:
    """Cross-language basename collisions: the first file (sorted doc order)
    keeps the plain module QN; later files get ``qn.<ext>`` appended, and all
    of that document's derived QNs are rewritten under the new prefix
    (reference ``definition_processor.py:260-269`` + deterministic winner =
    sorted file order, ``graph_updater.py:1614-1617``).

    ``module_mentions``: optional GLOBAL module-mention frame the collision
    window is computed over — the scoped incremental path passes the full
    corpus's module rows here so a doc inside the blast radius gets the
    SAME disambiguation winner as a full rebuild would give it."""
    mods = (
        module_mentions if module_mentions is not None else mentions
    ).filter(F.col("kind") == "module").select("doc_id", "module_qn")
    w = Window.partitionBy("module_qn").orderBy("doc_id")
    ext = F.regexp_extract(F.col("doc_id"), r"\.([A-Za-z0-9_]+)$", 1)
    mapping = (
        mods.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") > 1)
        .select(
            "doc_id",
            "module_qn",
            F.concat_ws(".", F.col("module_qn"), ext).alias("new_mqn"),
        )
    )
    m = mentions.join(F.broadcast(mapping), ["doc_id", "module_qn"], "left")

    def rewrite(c: str) -> F.Column:
        col = F.col(c)
        prefix_hit = col.isNotNull() & (
            (col == F.col("module_qn"))
            | col.startswith(F.concat(F.col("module_qn"), F.lit(".")))
        )
        rewritten = F.concat(
            F.col("new_mqn"),
            F.expr(f"substring({c}, length(module_qn) + 1)"),
        )
        return F.when(
            F.col("new_mqn").isNotNull() & prefix_hit, rewritten
        ).otherwise(col)

    for c in ("qn", "parent_qn", "enclosing_hint", "class_ctx_hint", "super_hint"):
        m = m.withColumn(c, rewrite(c))
    m = m.withColumn(
        "module_qn", F.coalesce(F.col("new_mqn"), F.col("module_qn"))
    ).drop("new_mqn")
    return m


_NODE_COLS = ["label", "id", "name", "path", "start_line", "end_line", "props"]


def _pad_nodes(df: DataFrame) -> DataFrame:
    for c, t in (
        ("name", "string"),
        ("path", "string"),
        ("start_line", "int"),
        ("end_line", "int"),
        ("props", "string"),
    ):
        if c not in df.columns:
            df = df.withColumn(c, F.lit(None).cast(t))
    return df.select(*_NODE_COLS)


def _materialize(df: DataFrame, tag: str = "") -> DataFrame:
    """Stage boundary: materialize + truncate lineage.

    Each fan-out frame (mentions, entities, alias, inherits) is consumed by
    several downstream branches; ``localCheckpoint`` (a) computes it once —
    the reference's shared capture cache, ``definition_processor.py:357-371``
    — and (b) cuts the logical plan, which keeps Catalyst optimization time
    bounded as the join DAG deepens (measured: an uncut slice-0 plan cost
    ~50 s of driver-side optimization for <1 s of execution). On a cluster
    this is the per-stage checkpoint of the north rule; swapping in a
    reliable checkpoint dir / parquet stage table is a one-liner."""
    t0 = time.time()
    out = df.localCheckpoint(eager=True)
    if os.environ.get("CGR_DEBUG_TIMING"):
        print(
            f"[cgr-timing] {tag or 'stage'}: {time.time() - t0:.1f}s"
            f" @{time.time() % 10000:.1f}",
            flush=True,
        )
    return out


def _materialize_all(named: dict[str, DataFrame]) -> dict[str, DataFrame]:
    """Materialize several INDEPENDENT stage frames concurrently.

    Each entry is ``_materialize``d on its own driver thread: while one
    stage sits in a driver-side gap (Catalyst optimization, AQE
    re-planning between shuffle stages, scheduler submit latency) the
    others' tasks keep the executor threads busy, so the per-stage fixed
    costs overlap instead of summing into the build's serial critical
    path — the rounds-4/5 strong-scaling finding was exactly that the
    ~150-job join phase is core-count-flat because those gaps chain.

    Correctness precondition: every ancestor SHARED by two entries must
    already be checkpointed/persisted (call sites only pass plans over
    the materialized mentions/entities/alias/closure frames), so
    concurrent jobs never race to compute a shared parent twice. Dict
    order = submission order; put the critical-path frame first."""
    with ThreadPoolExecutor(max_workers=len(named)) as ex:
        futs = [(k, ex.submit(_materialize, df, k)) for k, df in named.items()]
        return {k: f.result() for k, f in futs}


def _mark(tag: str) -> None:
    """Wall-clock breadcrumb (env-gated, driver-side only) to locate
    untagged time between the materialized stage boundaries."""
    if os.environ.get("CGR_DEBUG_TIMING"):
        print(f"[cgr-mark] {tag} @{time.time() % 10000:.1f}", flush=True)


# Join-phase partition sizing: partitions track DATA VOLUME, never core
# count — the rule that holds at 100 TB (thousands of partitions) AND at
# toy scale. Event-log profiling showed every join-phase stage pays a
# fixed per-task cost (~130-150 ms CPU: 4 MiB task-binary deserialization
# + codegen dispatch) that is data-independent; with partitions = cores
# the total join-phase CPU scaled WITH the core count (2,530 tasks /
# 685 s CPU / 98 s GC at local[16] vs 862 / 167 s / 8 s at local[4] for
# the SAME 20k-doc build — the r4 strong-scaling finding). The fix is
# DUAL-WIDTH, because the two consumer populations want opposite widths:
#
#   * the call-resolution ladder does real per-row work (regexp candidate
#     minting, window arbitration) — it reads the WIDE view
#     (~30k rows/partition; measured 54 s at 3 partitions vs 8 s at 9+);
#   * the ~300 light consumers (override/media/exports/io branches and
#     their broadcast-build rescans) are fixed-cost-dominated — they read
#     the NARROW view (~400k rows ≈ 128 MB/partition; the edges_prov union
#     measured 44 s over a 9-partition base vs 8 s over 3).
_WIDE_ROWS_PER_PARTITION = 30000
_JOIN_ROWS_PER_PARTITION = 400000


def _narrow(df: DataFrame, rows: int, per_part: int, tag: str) -> DataFrame:
    """Coalesce an already-checkpointed frame to ceil(rows/per_part)
    partitions and re-cut. The extra materialization reads cached blocks —
    milliseconds — and every downstream scan of the result launches
    data-proportional task counts instead of <cores>."""
    k = max(1, -(-rows // per_part))
    if k >= df.rdd.getNumPartitions():
        return df
    return _materialize(df.coalesce(k), f"{tag}_narrow{k}")


def build_graph(
    documents: DataFrame,
    groups: tuple[str, ...] = DEFAULT_GROUPS,
    partitions: int | None = None,
) -> GraphResult:
    return build_graph_from_mentions(
        extract_mentions(documents, partitions, groups=groups), groups
    )


def build_graph_from_mentions(
    raw_mentions: DataFrame,
    groups: tuple[str, ...] = DEFAULT_GROUPS,
) -> GraphResult:
    """Disambiguation + resolution + assembly over an existing (raw,
    pre-disambiguation) mentions frame.

    Split out so the incremental path (``incremental.py``) can splice
    re-extracted mentions for changed docs into the persisted mention table —
    extraction (the dominant cost at scale) is never repeated for unchanged
    documents. Disambiguation runs here because it is cross-document
    (collision window over all module QNs).
    """
    wide = _materialize(disambiguate_modules(raw_mentions), "mentions")
    from code_graph_rag_spark.plans.cpp_impl import bind_method_impls

    # one action returns (row count, any-method_impl): the dual-width
    # sizing count and the deferred-C++ probe share a scan instead of
    # chaining two. Entities mint concurrently with it — speculative:
    # mint_entities is partitioning-independent (window results keyed
    # by stable sort keys), so minting from the pre-narrow view gives
    # identical rows UNLESS a method_impl rewrite invalidates the
    # mention store (C++ corpora only), in which case entities are
    # minted again below and the speculative frame is dropped (its
    # checkpoint blocks are ContextCleaner-reclaimed).
    with ThreadPoolExecutor(max_workers=2) as ex:
        f_ent = ex.submit(_materialize, mint_entities(wide), "entities")
        stats = wide.agg(
            F.count(F.lit(1)).alias("n"),
            F.max(
                (F.col("kind") == "method_impl").cast("int")
            ).alias("has_impl"),
        ).collect()[0]
        entities = f_ent.result()
    n_rows = stats["n"]
    wide = _narrow(wide, n_rows, _WIDE_ROWS_PER_PARTITION, "mentions_wide")
    mentions = _narrow(wide, n_rows, _JOIN_ROWS_PER_PARTITION, "mentions")
    if stats["has_impl"]:
        mentions = _materialize(
            bind_method_impls(mentions), "mentions_cpp_bound"
        )
        wide = mentions
        entities = _materialize(mint_entities(mentions), "entities")
    return assemble_graph(
        mentions,
        entities,
        groups=groups,
        mentions_wide=wide,
    )


def assemble_graph(
    mentions: DataFrame,
    entities: DataFrame,
    groups: tuple[str, ...] = DEFAULT_GROUPS,
    all_docs: DataFrame | None = None,
    kept_edges_prov: DataFrame | None = None,
    scope_docs: DataFrame | None = None,
    aux_mentions: DataFrame | None = None,
    mentions_wide: DataFrame | None = None,
) -> GraphResult:
    """The join phase. Full mode: ``mentions`` covers every doc and the kept
    frames are None. Scoped (incremental) mode: ``mentions`` holds only the
    affected docs' rows, ``entities`` is the GLOBAL (incrementally updated)
    entity table, ``all_docs`` the full doc universe for the structure pass,
    ``kept_edges_prov`` the unaffected docs' provenance rows to carry over,
    and ``scope_docs`` the affected doc ids (filters entity-driven frames).
    ``aux_mentions``: extra GLOBAL resolution facts (out-of-scope ``returns``
    rows) fed ONLY to the call ladder, so typed-receiver/chained-return
    resolution inside the scope sees the whole corpus's return types —
    without them a scoped doc calling ``v = make(); v.area()`` where
    ``make`` lives in an unaffected doc would lose its CALLS edge.
    """
    registry: list = []
    documents = (
        all_docs
        if all_docs is not None
        else mentions.select("doc_id").distinct()
    )
    modules = entities.filter(F.col("label") == "Module").select(
        "qualified_name", "doc_id", "qn"
    )
    ent_scope = (
        entities
        if scope_docs is None
        else entities.join(
            scope_docs.select("doc_id").distinct(), "doc_id", "left_semi"
        )
    )

    # ---- structure layer (pure DataFrame, no UDF; global, cheap) ----
    struct_nodes, struct_edges = structure_pass(documents)
    # CONTAINS_MODULE provenance: the module's own doc
    mod_edges = module_containment(
        mentions.filter(F.col("kind") == "module").select("qn", "doc_id"),
        struct_nodes,
    )

    # ---- entity nodes + containment (DEFINES / DEFINES_METHOD) ----
    entity_nodes = entities.select(
        "label",
        F.col("qualified_name").alias("id"),
        "name",
        F.col("doc_id").alias("path"),
        "start_line",
        "end_line",
        "props",
    )
    defines = ent_scope.filter(F.col("parent_qn").isNotNull()).select(
        F.col("parent_qn").alias("subj"),
        F.when(
            (F.col("parent_kind") == "Class") & (F.col("label") == "Method"),
            F.lit("DEFINES_METHOD"),
        )
        .otherwise(F.lit("DEFINES"))
        .alias("pred"),
        F.col("qualified_name").alias("obj"),
        F.col("parent_kind").alias("subj_label"),
        F.col("label").alias("obj_label"),
        F.col("doc_id").alias("src_doc"),
    )

    # ---- imports / alias dictionary ----
    # scoped mode: aux out-of-scope import/returns rows join in so the
    # resolution rungs (import expansion of return-type exprs) see the whole
    # corpus; duplicate re-emitted IMPORTS edges collapse in the by-src dedup
    # fan-out rule: the spliced frame feeds alias + resolve_calls +
    # contract_edges; the aux side is an un-checkpointed window plan over
    # the full mention store, so cut it here
    if aux_mentions is None:
        resolve_mentions = mentions
        # full build: the ladder reads the WIDE view (real per-row work);
        # scoped/incremental builds are small and use the single view
        ladder_mentions = (
            mentions_wide if mentions_wide is not None else mentions
        )
    else:
        resolve_mentions = _materialize(
            mentions.unionByName(aux_mentions, allowMissingColumns=True),
            "resolve_mentions",
        )
        ladder_mentions = resolve_mentions
    alias, import_edges, _ = build_alias_frame(
        resolve_mentions,
        modules,
        persist_registry=registry,
        packages=struct_nodes.filter(F.col("label") == "Package").select(
            F.col("id").alias("pkg_id")
        ),
    )
    alias = _materialize(alias, "alias")  # consumed by calls + inherits branches

    # ---- media spans → HAS_MEDIA via the tightest-containing-span range
    # join (plans/spans.py — the macro/location attribution analogue of
    # graph_updater.py:499-549, fed by the interleaved input contract).
    # Plan built here (it reads only the checkpointed mentions/entities)
    # so it can materialize concurrently with the type-edge branch. ----
    media = mentions.filter(F.col("kind") == "media").select(
        "doc_id",
        F.concat_ws("#", "doc_id", "name", "start_line").alias("use_id"),
        F.col("start_line").alias("line"),
        F.col("end_line").alias("line_hi"),
        F.col("name").alias("media_ref"),
        F.col("module_qn"),
    )
    span_defs = entities.filter(
        F.col("label").isin("Function", "Method", "Class")
    ).select(
        "doc_id",
        F.col("qualified_name").alias("def_qn"),
        "start_line",
        "end_line",
        F.col("label").alias("def_label"),
    )
    contained = tightest_containing_span(
        media.select("doc_id", "use_id", "line", "line_hi"), span_defs
    ).join(
        span_defs.select("def_qn", "def_label").dropDuplicates(["def_qn"]),
        "def_qn",
    )
    media_plan = media.join(contained, "use_id", "left").select(
        # fallback: a media span between top-level definitions attaches
        # to the module itself
        F.coalesce("def_qn", "module_qn").alias("subj"),
        F.lit("HAS_MEDIA").alias("pred"),
        F.col("media_ref").alias("obj"),
        F.coalesce("def_label", F.lit("Module")).alias("subj_label"),
        F.lit("MediaAsset").alias("obj_label"),
        F.col("doc_id").alias("src_doc"),
    )

    # ---- type edges first: the ancestor closure feeds the super()/
    # inherited-self/typed-receiver rungs of call resolution. The closure
    # must see the GLOBAL hierarchy: scoped INHERITS ∪ kept type edges. ----
    def _closure_branch():
        inh = _materialize(
            resolve_inherits(
                mentions, entities, alias, persist_registry=registry
            ),
            "inherits",
        )
        if kept_edges_prov is not None:
            src = inh.select(
                "subj",
                "pred",
                "obj",
                "subj_label",
                "obj_label",
                "props",
                "src_doc",
            ).unionByName(
                kept_edges_prov.filter(F.col("pred").isin(*_TYPE_PREDS))
            )
        else:
            src = inh
        return inh, src, ancestor_closure(src)

    # three independent branches: the closure chain is a serial run of
    # sub-second actions (checkpoint + count per doubling) whose driver
    # gaps leave the executor threads idle — the receiver-class map
    # (consumed by the ladder's typed rungs right after) and the media
    # attribution fill them. All three read only checkpointed parents.
    # recv_cls MUST come from resolve_mentions — the frame the ladder
    # reads modulo partitioning: in scoped mode it carries the aux
    # out-of-scope `returns` rows the typed-receiver rungs need.
    with ThreadPoolExecutor(max_workers=3) as ex:
        f_clo = ex.submit(_closure_branch)
        f_recv = ex.submit(
            _materialize,
            resolve_receiver_classes(resolve_mentions, entities, alias),
            "recv_cls",
        )
        f_media = ex.submit(_materialize, media_plan, "media")
        inh_e, closure_src, closure = f_clo.result()
        recv_cls = f_recv.result()
        media_edges = f_media.result()

    ovr_plan = override_edges(
        entities, closure_src, closure, scope_docs=scope_docs
    ).unionByName(
        # cross-branch MRO sibling shadows (method_override.py:70-153)
        mro_shadow_edges(entities, closure_src, closure, scope_docs=scope_docs)
    )

    # ---- calls / refs ----
    resolved_plan = resolve_calls(
        ladder_mentions,
        entities,
        alias,
        closure,
        persist_registry=registry,
        recv_cls=recv_cls,
    )
    # fan-out frame: call_e, the io flow passes, and GraphResult.resolved
    # (resolution_stats) all read it — and un-cut, the ladder plan is the
    # bulk of the edges_prov union's Catalyst time (15 s default / 54 s io
    # at fixture scale). The override/MRO pass is independent of the ladder
    # (it reads entities + the checkpointed closure), so it materializes
    # concurrently — cutting it out of the edges_prov action's tree.
    _b = _materialize_all({"resolved": resolved_plan, "overrides": ovr_plan})
    resolved, ovr_e = _b["resolved"], _b["overrides"]
    call_e = call_edges(resolved, entities)

    # ---- io capture group (off in DEFAULT_GROUPS, like the reference);
    # gated here so default builds never pay the sink/flow/endpoint joins ----
    io_group = []
    if "io" in groups:
        from code_graph_rag_spark.plans.endpoints import (
            endpoint_edges,
            route_call_edges,
        )
        from code_graph_rag_spark.plans.contracts import contract_edges
        from code_graph_rag_spark.plans.flow import arg_flow_edges
        from code_graph_rag_spark.plans.rpc import rpc_edges

        endpoint_e = endpoint_edges(ent_scope, mentions)
        route_e = route_call_edges(ent_scope, mentions)
        rpc_e = rpc_edges(ent_scope, mentions)
        from code_graph_rag_spark.plans.dispatch import (
            dispatch_edges,
            dispatch_resolves,
        )
        from code_graph_rag_spark.plans.urls import resolves_to_edges

        # string-keyed dispatch registries (plans/dispatch.py; reference
        # parsers/dispatch_registry.py): registrations EXPOSE and producers
        # WRITE_TO shared resource::DISPATCH::<key> nodes
        dispatch_exp, dispatch_wr = dispatch_edges(
            resolve_mentions, entities, alias
        )

        # io_e and the endpoint union each feed two branches (the edge
        # union AND the URL→endpoint resolver) — materialize per the
        # fan-out rule; both are sink-match-sized, tiny vs the corpus,
        # and independent of each other → one concurrent batch
        _io_b = _materialize_all(
            {
                "io_edges": io_edges(mentions, alias),
                "exposes": endpoint_e.unionByName(route_e),
            },
        )
        io_e, exposes_e = _io_b["io_edges"], _io_b["exposes"]
        # Scoped mode: the URL→endpoint and contract resolvers are
        # CROSS-DOC — a scoped client URL must still match an unchanged
        # doc's route (and vice versa), and the contract ambiguity window
        # must see every operation. Both resolver inputs are bounded by
        # distinct URL literals / declared routes (corpus-independent), so
        # the exact semantics are kept by recomputing them GLOBALLY every
        # scoped run: inputs = scoped pass outputs ∪ the kept io-pred
        # provenance rows; the kept RESOLVES_TO rows are dropped at the
        # union (below) since this recompute replaces them — that is what
        # retires a stale link whose endpoint doc was deleted.
        if kept_edges_prov is not None:
            # tiny (route/url-literal-bounded) frames, each feeding the two
            # resolver plans below — checkpoint so the resolvers' big
            # regexp/window trees build over leaves, not over the kept
            # union plans (fan-out rule)
            kept_exposes = kept_edges_prov.filter(F.col("pred") == "EXPOSES")
            _all_b = _materialize_all(
                {
                    "io_all": io_e.unionByName(
                        kept_edges_prov.filter(
                            F.col("pred").isin("READS_FROM", "WRITES_TO")
                        )
                    ),
                    "exposes_all": exposes_e.unionByName(kept_exposes),
                },
            )
            io_all, exposes_all = _all_b["io_all"], _all_b["exposes_all"]
            rpc_all = rpc_e.unionByName(kept_exposes)
        else:
            io_all, exposes_all, rpc_all = io_e, exposes_e, rpc_e
        # dispatch deployment-suffix resolution is CROSS-DOC like the URL
        # resolver: produced/registered key sets = this run's rows ∪ the
        # kept rows (already inside io_all/exposes_all), recomputed
        # globally every scoped run (reference _db_registered_keys)
        # project to the (pred, obj) key columns before the union — io_all
        # carries extra provenance columns (props) the resolver never reads,
        # and the narrower frames broadcast cheaper
        dispatch_res = dispatch_resolves(
            io_all.select("pred", "obj").unionByName(
                dispatch_wr.select("pred", "obj")
            ),
            exposes_all.select("pred", "obj").unionByName(
                dispatch_exp.select("pred", "obj")
            ),
        )
        # Each io member below is sink/route-bounded (tiny) but its plan is
        # Catalyst-heavy (regexp/window resolver trees) — checkpoint them so
        # the edges_prov union optimizes over leaves (measured 54 s → 3 s
        # for that action at fixture scale; one io build 150 s → 34 s).
        # the five io passes below are mutually independent once resolved /
        # io_all / exposes_all are cut — one concurrent batch instead of
        # five serial Catalyst-heavy materializations (fan-out rule note:
        # each is sink/route-bounded (tiny) but its plan is a deep
        # regexp/window resolver tree — checkpointing keeps the edges_prov
        # union optimizing over leaves; measured 54 s → 3 s at fixture
        # scale when these were first cut in r3)
        _io_g = _materialize_all(
            {
                "flow": flow_edges(resolved),
                "arg_flow": arg_flow_edges(mentions, resolved, alias),
                # contract linking consumes the artefact frames the passes
                # above produced (reference runs contract_linking after
                # endpoints + rpc exposure for the same reason); contract_op
                # facts come from resolve_mentions so the scoped path's aux
                # rows give the ambiguity window its global view
                "contracts": contract_edges(
                    resolve_mentions, exposes_all, rpc_all
                ),
                # client URL literals → matching routes (link_endpoints,
                # parsers/endpoints.py:425-545)
                "resolves_to": resolves_to_edges(io_all, exposes_all),
                # dispatch registries: registration + producer + deployment
                # links (each bounded by registrar/keyword hits — tiny)
                "dispatch": dispatch_exp.unionByName(dispatch_wr).unionByName(
                    dispatch_res
                ),
            },
        )
        io_group = [
            io_e,
            _io_g["flow"],
            _io_g["arg_flow"],
            exposes_e,
            rpc_e,
            _io_g["contracts"],
            _io_g["resolves_to"],
            _io_g["dispatch"],
        ]

    # ---- findings capture group (off by default, like the reference's
    # opt-in FINDINGS selection — analyzers/ast_grep_analyzer.py) ----
    finding_nodes = None
    if "findings" in groups:
        from code_graph_rag_spark.plans.findings import finding_nodes_edges

        finding_nodes, finding_e = finding_nodes_edges(mentions)
        io_group = io_group + [finding_e]

    # ---- exports: __all__ symbols → Module EXPORTS Class/Function ----
    exports = (
        mentions.filter(F.col("kind") == "export")
        .select(
            F.col("module_qn").alias("subj"),
            F.concat_ws(".", "module_qn", "name").alias("target"),
            F.col("doc_id").alias("src_doc"),
        )
        .join(
            entities.filter(
                F.col("label").isin("Class", "Function", "Interface", "Enum")
            ).select(
                F.col("qn").alias("target"),
                F.col("qualified_name").alias("obj"),
                F.col("label").alias("obj_label"),
            ),
            "target",
        )
        .select(
            "subj",
            F.lit("EXPORTS").alias("pred"),
            "obj",
            F.lit("Module").alias("subj_label"),
            "obj_label",
            "src_doc",
        )
    )

    # ---- module-system labels (ref cpp_modules.py, constants/graph.py:
    # 100-101,156-157): `export module X;` → Module EXPORTS_MODULE
    # ModuleInterface(X); `module X;` → Module IMPLEMENTS_MODULE
    # ModuleImplementation(X_impl); the impl→interface IMPLEMENTS link is
    # DEFERRED (cpp_modules.py:149-153) — a left-semi join against the
    # interface set suppresses the phantom for an absent interface. All
    # three frames are bounded by module-declaration counts (one or two
    # rows per translation unit), so they ride the edge union unbroadcast.
    mod_iface_m = mentions.filter(F.col("kind") == "module_interface")
    mod_impl_m = mentions.filter(F.col("kind") == "module_impl")
    mod_iface_e = mod_iface_m.select(
        F.col("module_qn").alias("subj"),
        F.lit("EXPORTS_MODULE").alias("pred"),
        F.col("target").alias("obj"),
        F.lit("Module").alias("subj_label"),
        F.lit("ModuleInterface").alias("obj_label"),
        F.col("doc_id").alias("src_doc"),
    )
    mod_impl_e = mod_impl_m.select(
        F.col("module_qn").alias("subj"),
        F.lit("IMPLEMENTS_MODULE").alias("pred"),
        F.concat(F.col("target"), F.lit("_impl")).alias("obj"),
        F.lit("Module").alias("subj_label"),
        F.lit("ModuleImplementation").alias("obj_label"),
        F.col("doc_id").alias("src_doc"),
    )
    # the deferred gate must see the GLOBAL interface universe: in a scoped
    # incremental rebuild the unchanged interface doc's mention is absent,
    # but its kept EXPORTS_MODULE edge still names the interface
    iface_universe = mod_iface_m.select(F.col("target").alias("obj"))
    if kept_edges_prov is not None:
        iface_universe = iface_universe.unionByName(
            kept_edges_prov.filter(F.col("pred") == "EXPORTS_MODULE").select(
                "obj"
            )
        )
    impl_link_e = (
        mod_impl_m.select(
            F.concat(F.col("target"), F.lit("_impl")).alias("subj"),
            F.col("target").alias("obj"),
            F.col("doc_id").alias("src_doc"),
        )
        .join(
            iface_universe.distinct(),
            "obj",
            "leftsemi",
        )
        .select(
            "subj",
            F.lit("IMPLEMENTS").alias("pred"),
            "obj",
            F.lit("ModuleImplementation").alias("subj_label"),
            F.lit("ModuleInterface").alias("obj_label"),
            "src_doc",
        )
    )

    # ---- dependency manifests → Project DEPENDS_ON_EXTERNAL ----
    deps = mentions.filter(F.col("kind") == "dependency").select(
        F.col("parent_qn").alias("subj"),
        F.lit("DEPENDS_ON_EXTERNAL").alias("pred"),
        F.col("name").alias("obj"),
        F.lit("Project").alias("subj_label"),
        F.lit("ExternalPackage").alias("obj_label"),
        F.col("doc_id").alias("src_doc"),
    )

    # ---- assembly: provenance rows first, derived nodes FROM them (so a
    # kept IMPORTS→ExternalModule row keeps its node alive) ----
    new_prov = union_edges(
        struct_edges,  # src_doc null: the structure layer is always global
        mod_edges,
        defines,
        import_edges,
        call_e,
        inh_e,
        ovr_e,
        exports,
        mod_iface_e,
        mod_impl_e,
        impl_link_e,
        deps,
        media_edges,
        *io_group,
    )
    edges_prov = new_prov
    if kept_edges_prov is not None:
        # RESOLVES_TO is recomputed globally every scoped run (see the io
        # branch) — carrying the kept rows too would resurrect a link whose
        # endpoint doc was edited or deleted out from under the client
        edges_prov = new_prov.unionByName(
            kept_edges_prov.filter(F.col("pred") != "RESOLVES_TO")
        )
    edges_prov = edges_prov.filter(
        F.col("pred").isin(*sorted(enabled_rels(groups)))
    )
    # fan-out boundary: nodes AND edges AND the incremental store all read
    # this frame — checkpoint cuts the (very deep) union-of-joins lineage,
    # keeping Catalyst time bounded (the round-1 hard-won rule)
    edges_prov = _materialize(dedup_edges(edges_prov, by_src=True), "edges_prov")

    ext_nodes = ext_nodes_from_edges(edges_prov)
    if "stdlib" in groups:
        # opt-in stdlib annotation (plans/stdlib.py; reference
        # parsers/stdlib_extractor.py via import_processor.py:2178):
        # ExternalModule nodes gain is_stdlib/module_path props. Pure
        # expression fold + one groupBy over the distinct external-id set
        # (ecosystem-bounded — broadcast-sized at any corpus scale).
        from code_graph_rag_spark.plans.stdlib import annotate_external_nodes

        ext_nodes = annotate_external_nodes(ext_nodes, edges_prov)
    ext_pkg_nodes = (
        edges_prov.filter(F.col("obj_label") == "ExternalPackage")
        .select(
            F.lit("ExternalPackage").alias("label"),
            F.col("obj").alias("id"),
            F.col("obj").alias("name"),
            F.lit(None).cast("string").alias("path"),
        )
        .distinct()
    )
    resource_nodes = (
        edges_prov.filter(F.col("obj_label") == "Resource")
        .select(
            F.lit("Resource").alias("label"),
            F.col("obj").alias("id"),
            F.element_at(F.split("obj", "::"), -1).alias("name"),
            F.lit(None).cast("string").alias("path"),
        )
        .dropDuplicates(["id"])
    )
    # ModuleInterface/ModuleImplementation nodes are edge-derived like
    # Resource/MediaAsset: every module-system QN appears as the obj of an
    # EXPORTS_MODULE / IMPLEMENTS_MODULE / IMPLEMENTS row, so minting from
    # obj_label keeps nodes and edges gated by the same capture groups.
    # Node name = last `::` segment (C++: the declared dotted name verbatim;
    # Lua: the returned table, whose key is path-namespaced).
    modsys_nodes = (
        edges_prov.filter(
            F.col("obj_label").isin("ModuleInterface", "ModuleImplementation")
        )
        .select(
            F.col("obj_label").alias("label"),
            F.col("obj").alias("id"),
            F.element_at(F.split("obj", "::"), -1).alias("name"),
            F.col("src_doc").alias("path"),
        )
        .dropDuplicates(["label", "id"])
    )
    media_nodes = (
        edges_prov.filter(F.col("pred") == "HAS_MEDIA")
        .select(
            F.lit("MediaAsset").alias("label"),
            F.col("obj").alias("id"),
            F.element_at(F.split("obj", "/"), -1).alias("name"),
            F.col("src_doc").alias("path"),
        )
        .dropDuplicates(["id"])
    )
    nodes = (
        _pad_nodes(struct_nodes)
        .unionByName(_pad_nodes(entity_nodes))
        .unionByName(_pad_nodes(ext_nodes))
        .unionByName(_pad_nodes(ext_pkg_nodes))
        .unionByName(_pad_nodes(media_nodes))
        .unionByName(_pad_nodes(resource_nodes))
        .unionByName(_pad_nodes(modsys_nodes))
    )
    if finding_nodes is not None:
        nodes = nodes.unionByName(_pad_nodes(finding_nodes))
    nodes = nodes.dropDuplicates(["label", "id"])
    # nodes/edges trees are shallow once the fan-out frames above are
    # checkpointed → plain lazy persist (no extra materialization pass);
    # Catalyst cost stays bounded and the first caller action computes once.
    nodes = nodes.persist()
    edges = dedup_edges(edges_prov.drop("src_doc")).drop("src_doc")
    edges = drop_phantoms(edges, nodes).persist()
    return GraphResult(
        nodes=nodes,
        edges=edges,
        mentions=mentions,
        entities=entities,
        edges_prov=edges_prov,
        resolved=resolved,
        persisted=registry,
    )
