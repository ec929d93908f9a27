"""Incremental ≡ full rebuild (the reference's eval oracle,
``evals/README.md:153-217``), resume-from-stage, and canonicalization."""

from __future__ import annotations

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from code_graph_rag_spark.schema import DOCUMENTS_SCHEMA

from conftest import _drain


def _docs(spark, rows):
    return spark.createDataFrame(rows, schema=DOCUMENTS_SCHEMA)


def _doc(doc_id, text):
    return {
        "doc_id": doc_id,
        "spans": [{"kind": "code", "text": text, "media_ref": "", "offset": 0}],
    }


@pytest.fixture()
def store_dir():
    d = tempfile.mkdtemp(prefix="cgr_stages_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


V1 = [
    _doc("inc/__init__.py", ""),
    _doc("inc/a.py", "def fa():\n    pass\n"),
    _doc("inc/b.py", "from a import fa\n\ndef fb():\n    fa()\n"),
    _doc("inc/c.py", "def fc():\n    pass\n"),
]
# edit: b.py gains a call; c.py deleted; d.py added
V2 = [
    _doc("inc/__init__.py", ""),
    _doc("inc/a.py", "def fa():\n    pass\n"),
    _doc("inc/b.py", "from a import fa\n\ndef fb():\n    fa()\n    fa()\n"),
    _doc("inc/d.py", "from b import fb\n\ndef fd():\n    fb()\n"),
]


def _triples(g):
    return {(r.subj, r.pred, r.obj) for r in g.edges.collect()}


def test_incremental_lifecycle_equals_full_rebuild(spark, store_dir):
    """One store lifecycle: full build → lineage written → noop probe
    short-circuits (stage-served, no join phase) → edit/delete/add sync ≡
    clean full rebuild. (Merged from three tests — one shared build chain
    instead of three, same assertions.)"""
    from code_graph_rag_spark.incremental import StageStore, incremental_build
    from code_graph_rag_spark.pipeline import build_graph

    store = StageStore(store_dir)
    g1, stats1 = incremental_build(spark, _docs(spark, V1), store)
    assert stats1["mode"] == "full"
    base = _triples(g1)
    assert ("inc.b.fb", "CALLS", "inc.a.fa") in base

    # lineage sidecar (was test_lineage_written)
    lin = store.lineage()
    for stage in ("doc_hashes", "mentions", "nodes", "edges"):
        assert stage in lin and lin[stage]["rows"] > 0
        assert "secs" in lin[stage]

    # noop probe: identical input → served from the stored stages
    # (was test_noop_edit_shortcircuits)
    gn, stats_n = incremental_build(spark, _docs(spark, V1), store)
    assert stats_n["mode"] == "noop"
    assert ("inc.b.fb", "CALLS", "inc.a.fa") in _triples(gn)

    g2, stats2 = incremental_build(spark, _docs(spark, V2), store)
    assert stats2["mode"].startswith("incremental")
    assert stats2["changed"] == 2  # b.py edited, d.py new
    assert stats2["deleted"] == 1  # c.py gone

    clean = build_graph(_docs(spark, V2))
    assert _triples(g2) == _triples(clean)
    assert {(r.label, r.id) for r in g2.nodes.collect()} == {
        (r.label, r.id) for r in clean.nodes.collect()
    }
    # deleted file's subtree is gone
    assert not any("inc.c" in t[0] or "inc.c" in t[2] for t in _triples(g2))
    clean.unpersist()


_SERVER_V1 = (
    "@app.get('/users/{id}')\ndef get_user(id):\n    return id\n\n"
    "@app.get('/items')\ndef list_items():\n    pass\n"
)
_SERVER_V3 = _SERVER_V1 + "\n@app.get('/ping')\ndef ping():\n    pass\n"
_OPENAPI = (
    "{\n"
    '  "openapi": "3.0.0",\n'
    '  "paths": {\n'
    '    "/users/{id}": {"get": {"operationId": "getUser"}},\n'
    '    "/items": {"get": {"operationId": "listItems"}}\n'
    "  }\n"
    "}\n"
)


def _io_docs(server_src, client_url):
    # filler docs keep the blast radius under the scoped threshold
    return [
        _doc("svc/__init__.py", ""),
        _doc("svc/server.py", server_src),
        _doc("svc/client.py", f"import requests\n\ndef fetch():\n    requests.get('{client_url}')\n"),
        _doc("svc/client2.py", "import requests\n\ndef probe():\n    requests.get('/ping')\n"),
        _doc("svc/openapi.json", _OPENAPI),
        _doc("svc/x1.py", "def f1():\n    pass\n"),
        _doc("svc/x2.py", "def f2():\n    pass\n"),
        _doc("svc/x3.py", "def f3():\n    pass\n"),
    ]


def test_scoped_incremental_io_group_equals_full(spark, store_dir):
    """Incremental ≡ full for the CROSS-DOC io passes: a scoped client URL
    must re-resolve against an unchanged doc's route, an unchanged client
    URL must pick up a route added by a scoped server edit, stale
    RESOLVES_TO rows must retire, and contract links must keep their
    global ambiguity window (the resolver recompute + aux contract_op
    plumbing this test pins)."""
    from code_graph_rag_spark.incremental import StageStore, incremental_build
    from code_graph_rag_spark.pipeline import build_graph
    from code_graph_rag_spark.schema import DEFAULT_GROUPS

    groups = DEFAULT_GROUPS + ("io",)
    store = StageStore(store_dir)

    v1 = _io_docs(_SERVER_V1, "/users/7")
    g1, stats1 = incremental_build(spark, _docs(spark, v1), store, groups=groups)
    assert stats1["mode"] == "full"
    t1 = _triples(g1)
    assert (
        "resource::network::/users/7",
        "RESOLVES_TO",
        "endpoint::svc::GET /users/{id}",
    ) in t1

    g1.unpersist()
    _drain()

    # edit ONLY the client: its URL now targets the unchanged /items route
    v2 = _io_docs(_SERVER_V1, "/items")
    g2, stats2 = incremental_build(spark, _docs(spark, v2), store, groups=groups)
    assert stats2["mode"] == "incremental_scoped"
    t2 = _triples(g2)
    clean2 = build_graph(_docs(spark, v2), groups=groups)
    assert t2 == _triples(clean2)
    clean2.unpersist()
    _drain()
    assert (
        "resource::network::/items",
        "RESOLVES_TO",
        "endpoint::svc::GET /items",
    ) in t2
    assert not any(o == "endpoint::svc::GET /users/{id}" for _s, p, o in t2 if p == "RESOLVES_TO")

    g2.unpersist()

    # edit ONLY the server: the new /ping route must catch client2's
    # unchanged URL (kept net rows × scoped exposes)
    v3 = _io_docs(_SERVER_V3, "/items")
    g3, stats3 = incremental_build(spark, _docs(spark, v3), store, groups=groups)
    assert stats3["mode"] == "incremental_scoped"
    t3 = _triples(g3)
    clean3 = build_graph(_docs(spark, v3), groups=groups)
    assert t3 == _triples(clean3)
    clean3.unpersist()
    g3.unpersist()
    assert (
        "resource::network::/ping",
        "RESOLVES_TO",
        "endpoint::svc::GET /ping",
    ) in t3


def test_resume_from_mentions_stage(spark, store_dir):
    """A run killed after the mentions stage resumes without re-extracting."""
    from code_graph_rag_spark.extract.mentions import extract_mentions
    from code_graph_rag_spark.incremental import (
        StageStore,
        doc_hashes,
        incremental_build,
    )

    store = StageStore(store_dir)
    docs = _docs(spark, V1)
    store.write_stage("doc_hashes", doc_hashes(docs))
    store.write_stage("mentions", extract_mentions(docs))
    g, stats = incremental_build(spark, docs, store)
    assert stats["mode"] == "noop"  # hashes match → join phase only
    assert ("inc.b.fb", "CALLS", "inc.a.fa") in _triples(g)


def test_canonicalization_linking(spark):
    """MinHash-LSH linking + star-round CC merges near-identical QNs."""
    from code_graph_rag_spark.linking import (
        canonicalize_entities,
        connected_components,
        rewrite_edges_canonical,
    )

    ents = spark.createDataFrame(
        [
            ("pkg.module.StoreManager",),
            ("pkg.module_v2.StoreManager",),
            ("pkg.module.StoreManagers",),  # different simple name → kept
            ("zzz.unrelated.Thing",),
        ],
        "qualified_name string",
    )
    mapping = {
        r.entity_id: r.canonical_id
        for r in canonicalize_entities(ents, min_agreement=0.4).collect()
    }
    # same simple name + near-identical path → merged
    canon = {mapping["pkg.module.StoreManager"]}
    assert mapping["pkg.module_v2.StoreManager"] in canon
    # verification gate: a DIFFERENT simple name never merges, no matter how
    # close the shingles are (prevents method↔module over-merging)
    assert mapping["pkg.module.StoreManagers"] == "pkg.module.StoreManagers"
    assert mapping["zzz.unrelated.Thing"] == "zzz.unrelated.Thing"

    # CC on an explicit chain a-b, b-c, d-e
    pairs = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("d", "e")], "a string, b string"
    )
    cc = {r.entity_id: r.canonical_id for r in connected_components(pairs).collect()}
    assert cc == {"a": "a", "b": "a", "c": "a", "d": "d", "e": "d"}

    edges = spark.createDataFrame(
        [("b", "CALLS", "e", "Function", "Function")],
        "subj string, pred string, obj string, subj_label string, obj_label string",
    )
    cc_df = connected_components(pairs)
    rewritten = rewrite_edges_canonical(edges, cc_df.withColumnRenamed("canonical_id", "canonical_id")).collect()
    assert [(r.subj, r.obj) for r in rewritten] == [("a", "d")]


def _mk_scoped_corpus(n=14):
    docs = [_doc("s/__init__.py", "")]
    for i in range(n):
        docs.append(
            _doc(f"s/m{i}.py", f"def f{i}():\n    g{i}()\n\ndef g{i}():\n    pass\n")
        )
    docs.append(_doc("s/user.py", "from s.m3 import f3\n\ndef use():\n    f3()\n"))
    # cross-doc return-type chain (ADVICE r2): typed.py consumes maker.py's
    # return-type fact; editing typed.py must NOT lose the typed CALLS edge
    # even though maker.py stays outside the blast radius
    docs.append(
        _doc(
            "s/maker.py",
            "class Widget:\n    def render(self):\n        pass\n\n"
            "def make():\n    return Widget()\n",
        )
    )
    docs.append(
        _doc(
            "s/typed.py",
            "from s.maker import make\n\ndef t():\n    m = make()\n    m.render()\n",
        )
    )
    return docs


def test_scoped_incremental_small_radius(spark, store_dir):
    """Editing 1 of N independent docs reruns the join phase for O(changed)
    docs only (blast radius), and the result still equals a full rebuild —
    including cross-doc invalidation (user.py's CALLS into the edited doc)."""
    from code_graph_rag_spark.incremental import StageStore, incremental_build
    from code_graph_rag_spark.pipeline import build_graph

    store = StageStore(store_dir)
    v1 = _mk_scoped_corpus()
    g1, _ = incremental_build(spark, _docs(spark, v1), store)
    assert ("s.user.use", "CALLS", "s.m3.f3") in _triples(g1)
    assert ("s.typed.t", "CALLS", "s.maker.Widget.render") in _triples(g1)

    # edit m3: f3 removed, h3 added — user.py's edge must disappear. Also
    # edit typed.py (adds a second call) — its typed-receiver edge must
    # survive even though maker.py stays out of scope (aux returns facts).
    v2 = [d for d in v1 if d["doc_id"] not in ("s/m3.py", "s/typed.py")]
    v2.append(_doc("s/m3.py", "def g3():\n    pass\n\ndef h3():\n    g3()\n"))
    v2.append(
        _doc(
            "s/typed.py",
            "from s.maker import make\n\ndef t():\n    m = make()\n"
            "    m.render()\n    m.render()\n",
        )
    )
    g2, stats = incremental_build(spark, _docs(spark, v2), store)
    assert stats["mode"] == "incremental_scoped", stats
    # radius: m3 + typed.py + user.py (imports the removed name); everything
    # else is kept as provenance rows — O(changed), not O(corpus)
    assert stats["scoped_docs"] <= 5, stats
    assert stats["total_docs"] == len(v2)
    assert ("s.typed.t", "CALLS", "s.maker.Widget.render") in _triples(g2)

    clean = build_graph(_docs(spark, v2))
    assert _triples(g2) == _triples(clean)
    assert {(r.label, r.id) for r in g2.nodes.collect()} == {
        (r.label, r.id) for r in clean.nodes.collect()
    }
    assert ("s.user.use", "CALLS", "s.m3.f3") not in _triples(g2)
    clean.unpersist()
    g1.unpersist()
    g2.unpersist()


def test_merge_stage_upsert(spark, store_dir):
    """MERGE INTO-shaped upsert: matched keys replaced, delete keys removed,
    the rest carried over — as a new snapshot version."""
    from code_graph_rag_spark.incremental import StageStore

    store = StageStore(store_dir)
    base = spark.createDataFrame(
        [("a", 1), ("b", 2), ("c", 3)], "k string, v int"
    )
    store.merge_stage("t", base, ["k"], mode="create")
    ups = spark.createDataFrame([("b", 20), ("d", 40)], "k string, v int")
    dels = spark.createDataFrame([("c",)], "k string")
    store.merge_stage("t", ups, ["k"], delete_keys=dels)
    got = {
        (r.k, r.v) for r in store.read_stage(spark, "t").collect()
    }
    assert got == {("a", 1), ("b", 20), ("d", 40)}
    assert store.lineage()["t"]["version"] == 2


def test_connected_components_long_chain(spark):
    """Large-star/small-star CC converges on a chain in O(log²) rounds —
    the O(diameter) label-propagation failure shape (round-1 verdict)."""
    from code_graph_rag_spark.linking import connected_components

    n = 64
    pairs = spark.createDataFrame(
        [(f"n{i:03d}", f"n{i + 1:03d}") for i in range(n)],
        "a string, b string",
    )
    cc = {
        r.entity_id: r.canonical_id
        for r in connected_components(pairs, max_iter=10).collect()
    }
    assert len(cc) == n + 1
    assert set(cc.values()) == {"n000"}


def test_doc_hash_kernel_matches_expression_twin(spark):
    """The Arrow-kernel doc hash (r5: shuffle-free pandas_udf replacing the
    interpreted array-HOF fold) must be byte-identical to the original
    expression form — stored hash tables from older runs stay valid."""
    from pyspark.sql import functions as F

    from code_graph_rag_spark.incremental import doc_hashes

    docs = spark.createDataFrame(
        [
            {
                "doc_id": "h/a.py",
                "spans": [
                    {"kind": "code", "text": "x=1\n", "media_ref": "", "offset": 0},
                    {"kind": "media", "text": None, "media_ref": "img.png", "offset": 1},
                    {"kind": "code", "text": "y=2\n", "media_ref": None, "offset": 2},
                ],
            },
            # out-of-order offsets must canonicalize identically
            {
                "doc_id": "h/b.py",
                "spans": [
                    {"kind": "code", "text": "b\n", "media_ref": "", "offset": 5},
                    {"kind": "code", "text": "a\n", "media_ref": "", "offset": 1},
                ],
            },
            {"doc_id": "h/empty.py", "spans": []},
            {"doc_id": "h/uni.py", "spans": [
                {"kind": "code", "text": "é=∑\n", "media_ref": "", "offset": 0},
            ]},
        ],
        schema="doc_id string, spans array<struct<kind:string,text:string,media_ref:string,offset:int>>",
    )
    got = {r.doc_id: r.doc_hash for r in doc_hashes(docs).collect()}
    # the pre-r5 expression form, inlined as the reference twin
    by_offset = F.array_sort(
        F.col("spans"),
        lambda a, b: F.when(a["offset"] < b["offset"], -1)
        .when(a["offset"] > b["offset"], 1)
        .otherwise(0),
    )
    canon = F.array_join(
        F.transform(
            by_offset,
            lambda s: F.concat_ws(
                "\x01", s["kind"], s["text"], s["media_ref"], s["offset"]
            ),
        ),
        "\x02",
    )
    want = {
        r.doc_id: r.h
        for r in docs.select("doc_id", F.md5(canon).alias("h")).collect()
    }
    assert got == want


def test_incremental_module_system_links(spark, store_dir):
    """The deferred impl→interface IMPLEMENTS gate must see the GLOBAL
    interface universe in a scoped rebuild (scoped mentions ∪ kept
    EXPORTS_MODULE edges), and a deleted interface doc must pull its
    implementation units into the blast radius so the stale link dies."""
    from code_graph_rag_spark.incremental import StageStore, incremental_build

    iface = _doc("mproj/geo.cppm", "export module geo.core;\n")
    impl = _doc("mproj/geo_impl.cpp", "module geo.core;\nint f() {\n}\n")
    # enough unrelated filler that the blast radius stays under the scoped
    # threshold — the point is to exercise the SCOPED path's gate
    filler = [
        _doc(f"mproj/fill{i}.cpp", f"int g{i}() {{\n}}\n") for i in range(8)
    ]
    store = StageStore(store_dir)
    g1, _ = incremental_build(
        spark, _docs(spark, [iface, impl, *filler]), store
    )
    link = ("geo.core_impl", "IMPLEMENTS", "geo.core")
    assert link in _triples(g1)

    # edit ONLY the impl doc: the unchanged interface is outside the scope,
    # but the kept EXPORTS_MODULE edge must still satisfy the gate
    impl2 = _doc("mproj/geo_impl.cpp", "module geo.core;\nint f2() {\n}\n")
    g2, stats2 = incremental_build(
        spark, _docs(spark, [iface, impl2, *filler]), store
    )
    assert stats2.get("mode") == "incremental_scoped"
    assert link in _triples(g2)

    # delete the interface doc: the impl doc's IMPLEMENTS link must NOT
    # survive as a stale kept edge (the blast radius must pull the impl
    # doc in via the declared-module-name delta)
    g3, stats3 = incremental_build(spark, _docs(spark, [impl2, *filler]), store)
    assert stats3.get("mode") == "incremental_scoped"
    t3 = _triples(g3)
    assert link not in t3
    assert ("mproj.geo_impl", "IMPLEMENTS_MODULE", "geo.core_impl") in t3
