"""Output checks. Each returns a list of problems; an empty list is a pass.

Every expected answer comes from outside the Spark engine: the analytic
twins in ``synth_model``, DuckDB over the stored parquet snapshot, or plain
Python over the generated document text.
"""

from __future__ import annotations

import json
import re
from pathlib import Path

REACH_PREDS = ("CALLS", "REFERENCES", "INSTANTIATES", "INHERITS")


def _diff(name: str, got: set, want: set) -> list[str]:
    if got == want:
        return []
    extra, missing = sorted(got - want), sorted(want - got)
    return [
        f"{name}: {len(extra)} unexpected {extra[:3]}, "
        f"{len(missing)} missing {missing[:3]}"
    ]


# ---------------------------------------------------------------------------
# build_large: synth corpus against its analytic twin
# ---------------------------------------------------------------------------


def synth_expectations(cache_dir: Path, n: int, funcs: int, fanout: int) -> dict:
    """Expected graph, canonical map and resolution stats of
    ``synth_corpus(n, funcs, fanout)``. The canonical map costs seconds in
    pure Python, so it is cached on disk per corpus shape."""
    from code_graph_rag_spark.synth_model import (
        expected_canonicalization,
        expected_resolution_stats,
        synth_expected_graph,
    )

    nodes, edges = synth_expected_graph(n, funcs, fanout)
    path = cache_dir / f"synth_canon_{n}_{funcs}_{fanout}.json"
    if path.exists():
        canon = [tuple(r) for r in json.loads(path.read_text())]
    else:
        ents = sorted(
            nid for label, nid, _n, _p in nodes
            if label in ("Function", "Method", "Class", "Module")
        )
        canon = expected_canonicalization(ents, min_agreement=0.95)
        cache_dir.mkdir(parents=True, exist_ok=True)
        tmp = path.with_suffix(".tmp")
        tmp.write_text(json.dumps(canon))
        tmp.replace(path)
    return {
        "nodes": {(label, nid) for label, nid, _n, _p in nodes},
        "edges": set(edges),
        "canon": set(canon),
        "resolution": expected_resolution_stats(n, funcs, fanout),
    }


def check_synth_build(
    exp: dict, nodes: set, edges: set, canon: set, resolution: list
) -> list[str]:
    return (
        _diff("nodes", nodes, exp["nodes"])
        + _diff("edges", edges, exp["edges"])
        + _diff("canonical map", canon, exp["canon"])
        + _diff("resolution stats", set(resolution), set(exp["resolution"]))
    )


# ---------------------------------------------------------------------------
# query_mix: DuckDB over the parquet snapshot the queries read
# ---------------------------------------------------------------------------


def _norm(v):
    return round(v, 6) if isinstance(v, float) else v


def rows_of(records) -> list[tuple]:
    return sorted(
        (tuple(_norm(x) for x in r) for r in records),
        key=lambda t: tuple((x is None, x) for x in t),
    )


def cypher_oracle_sql(work: Path) -> dict[str, str]:
    """The repo's own ``oracle_sql()`` text for the kg_cypher_* shapes,
    retargeted from its analytic parquet to the ``nodes`` / ``edges`` views.
    Its side tables are written under ``work``, not the default temp dir."""
    import __spark_entry__ as entry

    entry._KG_ORACLE_DIR = str(work / "kg_oracle")
    sqls = entry._kg_oracles()
    d = entry._KG_ORACLE_DIR
    out = {}
    for name, sql in sqls.items():
        if name.startswith("kg_cypher_"):
            out[name] = sql.replace(
                f"read_parquet('{d}/edges.parquet')", "edges"
            ).replace(f"read_parquet('{d}/nodes.parquet')", "nodes")
            if "read_parquet" in out[name]:
                raise ValueError(f"{name}: oracle reads a table besides nodes/edges")
    return out


class QueryOracle:
    """Expected answers for the query mix over one stored graph snapshot."""

    def __init__(self, nodes_dir: str, edges_dir: str, work: Path, docs: list[dict]):
        import duckdb

        self.con = duckdb.connect()
        self.con.execute(
            f"CREATE VIEW nodes AS SELECT * FROM read_parquet('{nodes_dir}/*.parquet')"
        )
        self.con.execute(
            f"CREATE VIEW edges AS SELECT * FROM read_parquet('{edges_dir}/*.parquet')"
        )
        self.sql = cypher_oracle_sql(work)
        self._cache: dict[str, list[tuple]] = {}
        self.texts = {d["doc_id"]: "".join(s["text"] for s in d["spans"] if s["kind"] == "code") for d in docs}
        adj: dict[str, set[str]] = {}
        for s, p, o in self.con.execute("SELECT subj, pred, obj FROM edges").fetchall():
            if p in REACH_PREDS:
                adj.setdefault(s, set()).add(o)
            elif p == "OVERRIDES":
                adj.setdefault(s, set()).add(o)
                adj.setdefault(o, set()).add(s)
        self.adj = adj
        self.dead: list[tuple] | None = None

    def function_names(self) -> tuple[list[str], list[str]]:
        rows = self.con.execute(
            "SELECT name, id FROM nodes WHERE label = 'Function'"
        ).fetchall()
        return sorted({r[0] for r in rows}), sorted(r[1] for r in rows)

    def cypher(self, kind: str) -> list[tuple]:
        if kind not in self._cache:
            self._cache[kind] = rows_of(self.con.execute(self.sql[kind]).fetchall())
        return self._cache[kind]

    def lookup(self, name: str) -> list[tuple]:
        return rows_of(
            self.con.execute(
                "SELECT id AS qn FROM nodes WHERE label = 'Function' AND name = ?",
                [name],
            ).fetchall()
        )

    def _bfs(self, roots, hops: int | None = None) -> set[str]:
        seen = set(roots)
        frontier = list(seen)
        while frontier and (hops is None or hops > 0):
            nxt = []
            for u in frontier:
                for v in self.adj.get(u, ()):
                    if v not in seen:
                        seen.add(v)
                        nxt.append(v)
            frontier = nxt
            hops = None if hops is None else hops - 1
        return seen

    def reachable(self, roots, hops: int) -> list[tuple]:
        return rows_of((x,) for x in self._bfs(roots, hops))

    def dead_code(self) -> list[tuple]:
        """Unreachable Function/Method nodes, roots being Module nodes and
        dunder methods of .py files: ``queries.dead_code``'s root rules as
        they apply to corpora without decorators, exports or test paths."""
        if self.dead is None:
            nodes = self.con.execute(
                "SELECT label, id, name, path FROM nodes"
            ).fetchall()
            roots = [
                nid for label, nid, name, path in nodes
                if label == "Module"
                or (label == "Method" and name.startswith("__") and name.endswith("__")
                    and (path or "").endswith(".py"))
            ]
            alive = self._bfs(roots)
            self.dead = rows_of(
                r for r in nodes if r[0] in ("Function", "Method") and r[1] not in alive
            )
        return self.dead

    def snippet(self, qn: str) -> tuple:
        """(qualified_name, path, start_line, source) of a top-level function,
        cut from the generated document text: the ``def`` line plus every
        following blank or deeper-indented line, right-stripped."""
        mod, fn = qn.rsplit(".", 1)
        path = mod.replace(".", "/") + ".py"
        lines = self.texts[path].split("\n")
        start = next(
            i for i, ln in enumerate(lines) if re.match(rf"def {re.escape(fn)}\(", ln)
        )
        end = start + 1
        while end < len(lines) and (not lines[end].strip() or lines[end].startswith(" ")):
            end += 1
        return (qn, path, start + 1, "\n".join(lines[start:end]).rstrip())

    def snippets(self, qns) -> list[tuple]:
        return rows_of(self.snippet(q) for q in qns)
