"""Seeded inputs for the benchmark: the unique-name monorepo and the query
mix over its graph.

The program under test only ever sees the rows and query strings made
here. ``random.Random(seed)`` drives every choice, so one seed always
gives the same inputs.
"""

from __future__ import annotations

import random

from code_graph_rag_spark.fixtures import _doc, code

# ---------------------------------------------------------------------------
# query_mix corpus: every function, method and class name is unique to its
# module, as in a real repository (the synth corpus defines fn_0..fn_7 in
# every module). Its graph is full-built into a stage store once per
# checkout; the query mix reads it back.
# ---------------------------------------------------------------------------

UNIQUE_PKGS = 40


def unique_mod_qn(i: int) -> str:
    return f"app.pkg{i % UNIQUE_PKGS:02d}.mod{i:04d}"


def unique_doc_id(i: int) -> str:
    return f"app/pkg{i % UNIQUE_PKGS:02d}/mod{i:04d}.py"


def _unique_module_text(i: int, n: int) -> str:
    j = (i + 1) % n
    k = (i + 7) % n
    return (
        f"from {unique_mod_qn(j)} import m{j}_f0\n"
        f"import {unique_mod_qn(k)}\n"
        "import os\n"
        "\n"
        f"class M{i}Base:\n"
        f"    def m{i}_run(self):\n"
        "        return 0\n"
        "\n"
        f"class M{i}Impl(M{i}Base):\n"
        f"    def m{i}_run(self):\n"
        f"        return self.m{i}_step()\n"
        f"    def m{i}_step(self):\n"
        "        return 1\n"
        "\n"
        f"def m{i}_f0():\n"
        f"    m{i}_f1()\n"
        f"    m{j}_f0()\n"
        f"    x = M{i}Impl()\n"
        "    return x\n"
        "\n"
        f"def m{i}_f1():\n"
        f"    m{i}_f2()\n"
        f"    {unique_mod_qn(k)}.m{k}_f2()\n"
        "    os.getcwd()\n"
        "    return 0\n"
        "\n"
        f"def m{i}_f2():\n"
        "    return 2\n"
        # half the modules run code at import time: dead_code's roots
        + (f"\nm{i}_f0()\n" if i % 2 == 0 else "")
    )


def unique_corpus_rows(n: int) -> list[dict]:
    """``n`` modules under ``app/pkgNN/``, plus the package inits."""
    assert n > 7, "the two sibling imports must be distinct modules"
    rows = [_doc("app/__init__.py", code(""))]
    for p in range(min(UNIQUE_PKGS, n)):
        rows.append(_doc(f"app/pkg{p:02d}/__init__.py", code("")))
    for i in range(n):
        rows.append(_doc(unique_doc_id(i), code(_unique_module_text(i, n))))
    return rows


# ---------------------------------------------------------------------------
# Query mix: the kg_cypher_* shapes of __spark_entry__ (their oracle_sql()
# text is the DuckDB twin), a point lookup by name, and three queries.py
# reads. Seeded: the order, the looked-up name, the reachability roots and
# the snippet names.
# ---------------------------------------------------------------------------

CYPHER_SHAPES = {
    "kg_cypher_audit": "MATCH (a)-[r]->(b) RETURN DISTINCT labels(a)[0] AS src, "
    "type(r) AS rel, labels(b)[0] AS dst ORDER BY src, rel, dst",
    "kg_cypher_defines": "MATCH (m:Module)-[:DEFINES]->(f:Function) "
    "RETURN m.qualified_name AS module, count(f) AS n_funcs "
    "ORDER BY n_funcs DESC, module",
    "kg_cypher_leaves": "MATCH (n:Function|Method) WHERE NOT (n)-[:CALLS]->() "
    "RETURN labels(n)[0] AS label, n.qualified_name AS qn ORDER BY label, qn",
    "kg_cypher_optional_imports": "MATCH (m:Module) OPTIONAL MATCH "
    "(m)-[:IMPORTS]->(t:Module) RETURN m.qualified_name AS mod, "
    "t.qualified_name AS target ORDER BY mod, target",
    "kg_cypher_parent_dist": "MATCH (parent)-[:CALLS]->(n) WITH n, "
    "count(parent) AS parents WHERE parents >= 1 RETURN parents, "
    "count(n) AS n_nodes ORDER BY parents",
    "kg_cypher_ancestors": "MATCH (c:Class)-[:INHERITS*]->(b:Class) "
    "RETURN c.qualified_name AS cls, b.qualified_name AS anc ORDER BY cls, anc",
}

# queries.reachable expands this many hops from its roots
REACH_HOPS = 3

QUERY_KINDS = tuple(CYPHER_SHAPES) + ("lookup", "reachable", "dead_code", "snippets")


def query_stream(seed: int, function_names: list[str], function_qns: list[str]):
    """Endless seeded stream of (kind, params). Every kind appears once per
    round of ``len(QUERY_KINDS)`` queries, in a seeded order."""
    rng = random.Random(f"query_mix/{seed}")
    names = sorted(function_names)
    qns = sorted(function_qns)
    while True:
        kinds = list(QUERY_KINDS)
        rng.shuffle(kinds)
        for kind in kinds:
            if kind == "lookup":
                yield kind, {"name": rng.choice(names)}
            elif kind == "reachable":
                yield kind, {"roots": tuple(rng.sample(qns, 3))}
            elif kind == "snippets":
                yield kind, {"qns": tuple(rng.sample(qns, 4))}
            else:
                yield kind, {}


def lookup_cypher(name: str) -> str:
    return (
        f"MATCH (n:Function {{name: '{name}'}}) "
        "RETURN n.qualified_name AS qn ORDER BY qn"
    )
