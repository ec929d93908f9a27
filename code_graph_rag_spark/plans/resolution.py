"""Cross-file resolution: the reference's lookup ladder re-expressed as joins.

The reference resolves each import/call/base name imperatively against shared
in-memory registries (``call_resolver.py:721-974``,
``import_processor.py:861-1058``); here every rung is a join producing
candidate rows tagged with a ``priority`` column, and a rank-1 window
arbitrates — "first rung that answers wins" becomes
``row_number() over (partition by mention order by priority)``.

Scale notes: the modules/alias frames scale linearly with the corpus, so no
rung join FORCES a broadcast — a driver-built broadcast of a corpus-scaling
frame is both a serial bottleneck (measured: the broadcast collect/build
dominated the non-scaling part of the 20k-doc build) and impossible at
100 TB. AQE promotes each rung join to broadcast at runtime while the small
side is actually small; the simple-name fallback joins on the entity name
(hash-partitioned, hub-name cap + AQE skew handling).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

# ladder priorities (mirroring the reference's rung order,
# call_resolver.py:721-974)
P_ENCLOSING = 1  # nested-def enclosing scope (rung 2)
P_SUPER = 2  # super() → nearest base-class method (rung 6)
P_IMPORT = 3  # import-alias map (rung 8)
P_SAME_MODULE = 4  # same-module exact (rung 8 tail)
P_CLASS_CTX = 5  # self-sibling method (rung 10)
P_INHERITED_SELF = 6  # self.m() provided by an ancestor class
P_TYPE_LOCAL = 7  # typed receiver: v = Circle(); v.m() → Circle.m
P_TYPE_ANCESTOR = 8  # typed receiver: method provided by an ancestor class
P_SIMPLE_NAME = 9  # simple-name fallback (rung 13, trie find_ending_with)


def _with_id(df: DataFrame, kinds: tuple[str, ...]) -> DataFrame:
    return df.filter(F.col("kind").isin(*kinds)).withColumn(
        "mention_id",
        F.concat_ws(
            "#", "doc_id", "start_line", "start_col", "callee", "kind"
        ),
    )


def resolve_import_targets(refs: DataFrame, modules: DataFrame) -> DataFrame:
    """Resolve as-written module paths to known module QNs.

    ``refs``: distinct ``(project, ref)`` rows — dedup before resolving is
    the join-world analogue of the reference's memoized resolution cache
    (``call_resolver.py:795-825``). Strategies, in reference priority order
    (``import_processor.py:861-1058``): exact QN → project-prefixed QN →
    unique whole-segment suffix. Returns ``project, ref, resolved_mqn``.
    """
    # no forced broadcast: the module table grows with the corpus; AQE
    # promotes these joins to broadcast at runtime while they are small
    mods = modules.select(
        F.col("qualified_name").alias("mqn"),
        F.element_at(F.split("qualified_name", "\\."), -1).alias("m_last"),
    ).distinct()
    bmods = mods

    base = refs.select(
        "project",
        "ref",
        F.element_at(F.split("ref", "\\."), -1).alias("ref_last"),
    ).distinct()
    exact = base.join(bmods, base["ref"] == mods["mqn"]).select(
        "project", "ref", "mqn", F.lit(1).alias("prio")
    )
    prefixed = base.join(
        bmods, F.concat_ws(".", base["project"], base["ref"]) == mods["mqn"]
    ).select("project", "ref", "mqn", F.lit(2).alias("prio"))
    # whole-segment suffix: equi-join on last segment (keeps it a hash join),
    # verify the full dotted suffix, demand uniqueness
    suffix = (
        base.join(bmods, base["ref_last"] == mods["m_last"])
        .filter(
            (F.col("mqn") == F.col("ref"))
            | F.col("mqn").endswith(F.concat(F.lit("."), F.col("ref")))
        )
        .withColumn(
            "n_match", F.count("*").over(Window.partitionBy("project", "ref"))
        )
        .filter(F.col("n_match") == 1)
        .select("project", "ref", "mqn", F.lit(3).alias("prio"))
    )
    # collision-suffixed modules: basename collisions append the file
    # extension to the later module's qn (disambiguate_modules, reference
    # definition_processor.py:259-269) — `#include "a/shapes.h"` written
    # as ref `a.shapes` must still verify when the header's module became
    # `a.shapes.h`. Equi-join on the qn-minus-last-segment, gated to
    # extension-shaped remainders.
    ext_mods = mods.select(
        "mqn",
        F.expr(
            "substring(mqn, 1, length(mqn) - instr(reverse(mqn), '.'))"
        ).alias("m_parent"),
        F.col("m_last"),
    ).filter(
        F.col("m_last").isin(
            "h", "hh", "hpp", "hxx", "c", "cc", "cpp", "cxx", "py", "js",
            "ts", "jsx", "tsx", "mjs", "cjs", "rs", "go", "java", "cs",
            "lua",
        )
    )
    ext_suffixed = (
        base.join(ext_mods, base["ref"] == ext_mods["m_parent"])
        .withColumn(
            "n_match", F.count("*").over(Window.partitionBy("project", "ref"))
        )
        .filter(F.col("n_match") == 1)
        .select("project", "ref", "mqn", F.lit(4).alias("prio"))
    )
    # the reverse case: the REF carries an extension segment (C++
    # `#include "a/shapes.h"` emitted verbatim) but the module kept the
    # plain qn (no basename collision) — strip the extension-shaped last
    # segment and try exact/prefixed again
    _EXTS = (
        "h", "hh", "hpp", "hxx", "c", "cc", "cpp", "cxx", "py", "js",
        "ts", "jsx", "tsx", "mjs", "cjs", "rs", "go", "java", "cs", "lua",
    )
    stripped_refs = base.filter(F.col("ref_last").isin(*_EXTS)).select(
        "project",
        "ref",
        F.expr(
            "substring(ref, 1, length(ref) - instr(reverse(ref), '.'))"
        ).alias("ref_stem"),
    )
    ext_stripped = (
        stripped_refs.join(bmods, F.col("ref_stem") == mods["mqn"])
        .select("project", "ref", "mqn", F.lit(5).alias("prio"))
        .unionByName(
            stripped_refs.join(
                bmods,
                F.concat_ws(".", F.col("project"), F.col("ref_stem"))
                == mods["mqn"],
            ).select("project", "ref", "mqn", F.lit(6).alias("prio"))
        )
    )
    cands = (
        exact.unionByName(prefixed)
        .unionByName(suffix)
        .unionByName(ext_suffixed)
        .unionByName(ext_stripped)
    )
    w = Window.partitionBy("project", "ref").orderBy("prio", "mqn")
    return (
        cands.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("project", "ref", F.col("mqn").alias("resolved_mqn"))
    )


def build_alias_frame(
    mentions: DataFrame,
    modules: DataFrame,
    persist_registry: list | None = None,
    packages: DataFrame | None = None,
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """imports mentions → (alias frame, IMPORTS edges, ExternalModule nodes).

    alias frame: (module_qn, local_name, full_qn, is_external) — the Spark
    form of the reference's ``import_mapping[module_qn][local]``
    (``parsers/import_processor.py:501``).
    """
    imp = mentions.filter(F.col("kind") == "import").withColumn(
        "project", F.split(F.col("module_qn"), "\\.").getItem(0)
    )
    # resolve the *binding* target (what the local name points to) and the
    # *edge* target (the full imported module path) with ONE pass over the
    # distinct ref set — dedup-then-join replaces the reference's memo cache
    refs = imp.select("project", F.col("callee").alias("ref")).unionByName(
        imp.select("project", F.col("target").alias("ref"))
    )
    # no forced broadcast: import-target resolution scales with the
    # corpus (driver-side broadcast build was a measured serial cost);
    # AQE promotes to broadcast at runtime while small
    resolved = resolve_import_targets(refs, modules)
    bind = resolved.select(
        "project", F.col("ref").alias("callee"), "resolved_mqn"
    )
    edge = resolved.select(
        "project",
        F.col("ref").alias("target"),
        F.col("resolved_mqn").alias("edge_mqn"),
    )
    # persisted: imp2 fans out into the alias frame, internal edges,
    # external edges, and ExternalModule nodes
    imp2 = imp.join(bind, ["project", "callee"], "left").join(
        edge, ["project", "target"], "left"
    ).persist()
    if persist_registry is not None:
        persist_registry.append(imp2)

    alias = imp2.select(
        "module_qn",
        "local_name",
        F.when(
            F.col("resolved_mqn").isNotNull() & F.col("name").isNotNull(),
            F.concat_ws(".", "resolved_mqn", "name"),
        )
        .when(F.col("resolved_mqn").isNotNull(), F.col("resolved_mqn"))
        .when(
            F.col("name").isNotNull(), F.concat_ws(".", "callee", "name")
        )
        .otherwise(F.col("callee"))
        .alias("full_qn"),
        F.col("resolved_mqn").isNull().alias("is_external"),
    ).dropDuplicates(["module_qn", "local_name", "full_qn"])

    # IMPORTS edges: verified targets → Module, else ExternalModule
    # (semi-join emission, import_processor.py:861-982; unresolved targets
    # become ExternalModule nodes per graph-schema)
    internal = (
        imp2.filter(F.col("edge_mqn").isNotNull())
        .select(
            F.col("module_qn").alias("subj"),
            F.lit("IMPORTS").alias("pred"),
            F.col("edge_mqn").alias("obj"),
            F.lit("Module").alias("subj_label"),
            F.lit("Module").alias("obj_label"),
            F.col("doc_id").alias("src_doc"),
        )
        .filter(F.col("subj") != F.col("obj"))
    )
    unresolved = imp2.filter(F.col("edge_mqn").isNull())
    if packages is not None:
        # container verification: an import target that is not a known
        # module but IS a known internal Package (Java class-imports name
        # `pkg.Class`; the edge target is the containing package) verifies
        # to the Package node instead of minting an ExternalModule
        # (reference container-alias rung, import_processor.py:861-1058)
        unresolved = unresolved.join(
            packages.select(F.col("pkg_id")).distinct(),
            unresolved["target"] == F.col("pkg_id"),
            "left",
        )
        internal_pkg = unresolved.filter(F.col("pkg_id").isNotNull()).select(
            F.col("module_qn").alias("subj"),
            F.lit("IMPORTS").alias("pred"),
            F.col("target").alias("obj"),
            F.lit("Module").alias("subj_label"),
            F.lit("Package").alias("obj_label"),
            F.col("doc_id").alias("src_doc"),
        )
        internal = internal.unionByName(internal_pkg)
        unresolved = unresolved.filter(F.col("pkg_id").isNull())
    external = unresolved.select(
        F.col("module_qn").alias("subj"),
        F.lit("IMPORTS").alias("pred"),
        F.col("target").alias("obj"),
        F.lit("Module").alias("subj_label"),
        F.lit("ExternalModule").alias("obj_label"),
        F.col("doc_id").alias("src_doc"),
    )
    imports_edges = internal.unionByName(external).dropDuplicates(
        ["subj", "pred", "obj", "src_doc"]
    )
    ext_nodes = external.select(
        F.lit("ExternalModule").alias("label"),
        F.col("obj").alias("id"),
        F.element_at(F.split("obj", "\\."), -1).alias("name"),
        F.lit(None).cast("string").alias("path"),
    ).distinct()
    return alias, imports_edges, ext_nodes


def _expr_candidates(exprs: DataFrame, alias: DataFrame) -> DataFrame:
    """(module_qn, expr) → candidate QNs via the import-alias and same-module
    rungs (the two rungs a bare type expression can resolve through).

    Returns (module_qn, expr, cand_qn, rung) with rung 1=alias, 2=same-module.
    """
    e = exprs.select(
        "module_qn",
        "expr",
        F.split(F.col("expr"), "\\.").getItem(0).alias("first_seg"),
        F.when(
            F.instr(F.col("expr"), ".") > 0,
            F.expr("substring(expr, instr(expr, '.') + 1)"),
        ).alias("rest"),
    )
    # no forced broadcast: the alias frame grows linearly with the corpus
    # (per-module import rows) — at 100 TB it cannot be a driver-built
    # broadcast; the join key (module_qn) co-partitions with the mention
    # frame and AQE broadcasts at runtime while small
    balias = alias.select(
        F.col("module_qn").alias("a_mqn"),
        F.col("local_name").alias("a_local"),
        "full_qn",
        "is_external",
    )
    via_alias = (
        e.join(
            balias,
            (e["module_qn"] == F.col("a_mqn"))
            & (e["first_seg"] == F.col("a_local")),
        )
        .filter(~F.col("is_external"))
        .select(
            "module_qn",
            "expr",
            F.when(
                F.col("rest").isNotNull(), F.concat_ws(".", "full_qn", "rest")
            )
            .otherwise(F.col("full_qn"))
            .alias("cand_qn"),
            F.lit(1).alias("rung"),
        )
    )
    same_mod = e.select(
        "module_qn",
        "expr",
        F.concat_ws(".", "module_qn", "expr").alias("cand_qn"),
        F.lit(2).alias("rung"),
    )
    return via_alias.unionByName(same_mod)


def resolve_receiver_classes(
    mentions: DataFrame, entities: DataFrame, alias: DataFrame
) -> DataFrame:
    """Receiver-type expressions → the class they denote.

    The Spark form of the reference's type-inference maps
    (``parsers/type_inference.py`` local_var_types +
    ``call_resolver.py:833-850`` return-type chaining): an as-written
    expression (``Circle``, ``mod.Circle``, ``make_circle``) resolves to a
    class either directly (it names a Class/Interface/Enum) or through one
    function hop (it names a Function whose ``returns`` facts name a class).

    Returns (module_qn, expr, recv_cls) — rank-1 deterministic per expr.
    """
    classes = entities.filter(
        F.col("label").isin("Class", "Interface", "Enum")
    ).select(F.col("qn").alias("cls_qn")).distinct()
    funcs = entities.filter(
        F.col("label").isin("Function", "Method")
    ).select(F.col("qn").alias("f_qn")).distinct()

    # unique-simple-name class index (the reference's registry simple-name
    # lookup with unique-match gate, function_registry.py
    # _simple_name_lookup): what makes C# `using Namespace;` + bare type
    # names resolve cross-file. Uniqueness keeps hub names out.
    uniq_classes = (
        entities.filter(F.col("label").isin("Class", "Interface", "Enum"))
        .groupBy(F.col("name").alias("u_expr"))
        .agg(
            F.countDistinct("qn").alias("n_cls"),
            F.min("qn").alias("u_cls"),
        )
        .filter(F.col("n_cls") == 1)
        .select("u_expr", "u_cls")
    )

    # function → returned-class facts (from `return Ctor()` and `-> Ann`)
    rets = mentions.filter(F.col("kind") == "returns").select(
        "module_qn",
        F.col("parent_qn").alias("f_qn"),
        F.col("callee").alias("expr"),
    )
    ret_exprs = rets.select("module_qn", "expr").distinct()
    ret_res = (
        _expr_candidates(ret_exprs, alias)
        .join(classes, F.col("cand_qn") == classes["cls_qn"])
        .select("module_qn", "expr", "cls_qn", "rung")
        .unionByName(
            ret_exprs.filter(~F.col("expr").contains("."))
            .join(uniq_classes, F.col("expr") == F.col("u_expr"))
            .select(
                "module_qn",
                "expr",
                F.col("u_cls").alias("cls_qn"),
                F.lit(3).alias("rung"),
            )
        )
    )
    fn_returns = (
        rets.join(ret_res, ["module_qn", "expr"])
        .withColumn(
            "rk",
            F.row_number().over(
                Window.partitionBy("f_qn").orderBy("rung", "cls_qn")
            ),
        )
        .filter(F.col("rk") == 1)
        .select("f_qn", F.col("cls_qn").alias("ret_cls"))
    )

    recv = (
        mentions.filter(
            (F.col("kind") == "call") & F.col("recv_expr").isNotNull()
        )
        .select("module_qn", F.col("recv_expr").alias("expr"))
        .distinct()
    )
    rc = _expr_candidates(recv, alias)
    direct = rc.join(classes, F.col("cand_qn") == classes["cls_qn"]).select(
        "module_qn", "expr", "cls_qn", "rung", F.lit(1).alias("path")
    )
    via_fn = (
        rc.join(funcs, F.col("cand_qn") == funcs["f_qn"])
        .join(fn_returns, "f_qn")
        .select(
            "module_qn",
            "expr",
            F.col("ret_cls").alias("cls_qn"),
            "rung",
            F.lit(2).alias("path"),
        )
    )
    # unique-simple-name rung for receivers (same gate as above)
    via_unique = (
        recv.filter(~F.col("expr").contains("."))
        .join(uniq_classes, F.col("expr") == F.col("u_expr"))
        .select(
            "module_qn",
            "expr",
            F.col("u_cls").alias("cls_qn"),
            F.lit(3).alias("rung"),
            F.lit(3).alias("path"),
        )
    )
    w = Window.partitionBy("module_qn", "expr").orderBy(
        "path", "rung", "cls_qn"
    )
    return (
        direct.unionByName(via_fn)
        .unionByName(via_unique)
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") == 1)
        .select("module_qn", "expr", F.col("cls_qn").alias("recv_cls"))
    )


def resolve_calls(
    mentions: DataFrame,
    entities: DataFrame,
    alias: DataFrame,
    closure: DataFrame | None = None,
    persist_registry: list | None = None,
    *,
    recv_cls: DataFrame,
) -> DataFrame:
    """call/ref mentions → resolved target rows (one per variant of the
    winning natural QN).

    ``closure``: optional ancestor closure (cls, anc, depth, ord) enabling
    the super() rung and inherited self-method resolution.

    ``recv_cls``: the materialized receiver-class map
    (``resolve_receiver_classes`` over the same resolution mentions; the
    pipeline overlaps it with the inherits/closure branch).

    Output: mention_id, kind, doc_id, caller_qn, caller_label, priority,
    target_qn (natural), target_variant (qualified_name), target_label.
    """
    calls = _with_id(mentions, ("call", "ref")).select(
        "mention_id",
        "kind",
        "doc_id",
        "module_qn",
        F.col("parent_qn").alias("caller_qn"),
        F.col("parent_kind").alias("caller_label"),
        "callee",
        "enclosing_hint",
        "class_ctx_hint",
        "super_hint",
        "recv_expr",
        F.coalesce(F.col("is_ret"), F.lit(False)).alias("is_ret"),
        F.split(F.col("callee"), "\\.").getItem(0).alias("first_seg"),
        F.when(
            F.instr(F.col("callee"), ".") > 0,
            F.expr("substring(callee, instr(callee, '.') + 1)"),
        ).alias("rest"),
    )

    # no forced broadcast: the alias frame grows linearly with the corpus
    # (per-module import rows) — at 100 TB it cannot be a driver-built
    # broadcast; the join key (module_qn) co-partitions with the mention
    # frame and AQE broadcasts at runtime while small
    balias = alias.select(
        F.col("module_qn").alias("a_mqn"),
        F.col("local_name").alias("a_local"),
        "full_qn",
        "is_external",
    )

    key_cols = [
        "mention_id",
        "kind",
        "doc_id",
        "caller_qn",
        "caller_label",
        "callee",
        "is_ret",
    ]

    c1 = calls.filter(F.col("enclosing_hint").isNotNull()).select(
        *key_cols,
        F.col("enclosing_hint").alias("cand_qn"),
        F.lit(P_ENCLOSING).alias("priority"),
    )
    internal_alias_hits = calls.join(
        balias,
        (calls["module_qn"] == F.col("a_mqn"))
        & (calls["first_seg"] == F.col("a_local")),
    )
    c2 = internal_alias_hits.filter(~F.col("is_external")).select(
        *key_cols,
        F.when(
            F.col("rest").isNotNull(),
            F.concat_ws(".", "full_qn", "rest"),
        )
        .otherwise(F.col("full_qn"))
        .alias("cand_qn"),
        F.lit(P_IMPORT).alias("priority"),
    )
    c3 = calls.select(
        *key_cols,
        F.concat_ws(".", "module_qn", "callee").alias("cand_qn"),
        F.lit(P_SAME_MODULE).alias("priority"),
    ).filter(~F.col("callee").startswith("self."))
    c4 = calls.filter(F.col("class_ctx_hint").isNotNull()).select(
        *key_cols,
        F.col("class_ctx_hint").alias("cand_qn"),
        F.lit(P_CLASS_CTX).alias("priority"),
    )

    # typed-receiver rungs (reference type_inference.py via
    # call_processor.py:2815-2822): v = Circle(); v.m() → Circle.m.
    # The receiver-class map is small (distinct (module, expr) pairs);
    # AQE broadcasts the join at runtime.
    typed = calls.filter(F.col("recv_expr").isNotNull()).withColumn(
        "method", F.element_at(F.split("callee", "\\."), -1)
    )
    typed_hits = typed.join(
        recv_cls.select(
            "module_qn", F.col("expr").alias("recv_expr"), "recv_cls"
        ),
        ["module_qn", "recv_expr"],
    )
    c5 = typed_hits.select(
        *key_cols,
        F.concat_ws(".", "recv_cls", "method").alias("cand_qn"),
        F.lit(P_TYPE_LOCAL).alias("priority"),
    )

    # closure rungs: super() dispatch + self.m() provided by an ancestor.
    # depth orders nearest-ancestor-first within the rung.
    closure_cands = []
    if closure is not None:
        clo = closure.select(
            F.col("cls"), F.col("anc"), F.col("depth"), F.col("ord")
        )
        supers = calls.filter(F.col("super_hint").isNotNull()).withColumn(
            "method", F.element_at(F.split("callee", "\\."), -1)
        )
        c_super = supers.join(clo, supers["super_hint"] == clo["cls"]).select(
            *key_cols,
            F.concat_ws(".", "anc", "method").alias("cand_qn"),
            F.lit(P_SUPER).alias("priority"),
            "depth",
            "ord",
        )
        self_calls = calls.filter(F.col("class_ctx_hint").isNotNull()).select(
            *key_cols,
            F.element_at(F.split("class_ctx_hint", "\\."), -1).alias("method"),
            F.expr(
                "substring(class_ctx_hint, 1, length(class_ctx_hint)"
                " - instr(reverse(class_ctx_hint), '.'))"
            ).alias("own_class"),
        )
        c_inh_self = self_calls.join(
            clo, self_calls["own_class"] == clo["cls"]
        ).select(
            *key_cols,
            F.concat_ws(".", "anc", "method").alias("cand_qn"),
            F.lit(P_INHERITED_SELF).alias("priority"),
            "depth",
            "ord",
        )
        # typed receiver method provided by an ancestor class:
        # c = Circle(); c.ident() where ident lives on Shape
        c_type_anc = typed_hits.join(
            clo, typed_hits["recv_cls"] == clo["cls"]
        ).select(
            *key_cols,
            F.concat_ws(".", "anc", "method").alias("cand_qn"),
            F.lit(P_TYPE_ANCESTOR).alias("priority"),
            "depth",
            "ord",
        )
        closure_cands = [c_super, c_inh_self, c_type_anc]

    ent = entities.select(
        F.col("qn").alias("e_qn"),
        F.col("qualified_name").alias("target_variant"),
        F.col("label").alias("target_label"),
        F.col("name").alias("e_name"),
    )

    exact_cands = (
        c1.unionByName(c2)
        .unionByName(c3)
        .unionByName(c4)
        .unionByName(c5)
        .withColumn("depth", F.lit(0))
        .withColumn("ord", F.lit(0))
    )
    for cc in closure_cands:
        exact_cands = exact_cands.unionByName(cc)
    exact_hits = exact_cands.join(
        ent, exact_cands["cand_qn"] == ent["e_qn"]
    ).select(
        *key_cols,
        "priority",
        "depth",
        "ord",
        F.col("e_qn").alias("target_qn"),
        "target_variant",
        "target_label",
    ).persist()  # reused: union into hits + gates the fallback rung
    if persist_registry is not None:
        persist_registry.append(exact_hits)

    # simple-name fallback (rung 13) — bare names only, NEVER for a name
    # bound to an external import in the same module (rung 11 suppression,
    # call_resolver.py:914-947), and ONLY for mentions no earlier rung
    # answered. The reference runs the trie fallback as control-flow
    # last-resort; computing it eagerly for every call turns hub simple
    # names (a `run`/`main` defined in every module) into an
    # |calls_with_name| × |defs_with_name| blow-up — measured as a
    # billions-of-rows join on the 20k-doc bench corpus. The anti-join gate
    # is the semantic equivalent and keeps the join bounded by the
    # unresolved remainder.
    ext_bound = (
        alias.filter(F.col("is_external"))
        .select(
            F.col("module_qn").alias("module_qn"),
            F.col("local_name").alias("callee"),
        )
        .distinct()
    )
    answered = exact_hits.select("mention_id").distinct()
    bare = (
        calls.filter(F.col("rest").isNull())
        .join(answered, "mention_id", "left_anti")
        .join(ext_bound, ["module_qn", "callee"], "left_anti")
    )
    # hub-name cap: a simple name defined in hundreds of places (log, main,
    # run in every module of a real corpus) cannot be disambiguated by a
    # last-resort name match anyway — and joining it multiplies
    # |calls_with_name| × |defs_with_name| before the rank can prune. Drop
    # such names from the fallback entirely (the reference's trie returns
    # them but resolution confidence is equally nil).
    fallback_ent = ent.filter(
        F.col("target_label").isin("Function", "Method", "Class")
    ).join(
        ent.groupBy("e_name")
        .agg(F.countDistinct("e_qn").alias("n_defs"))
        .filter(F.col("n_defs") <= 64)
        .select("e_name"),
        "e_name",
        "left_semi",
    )
    fallback_hits = bare.join(
        fallback_ent, bare["callee"] == fallback_ent["e_name"]
    ).select(
        *key_cols,
        F.lit(P_SIMPLE_NAME).alias("priority"),
        F.lit(0).alias("depth"),
        F.lit(0).alias("ord"),
        F.col("e_qn").alias("target_qn"),
        "target_variant",
        "target_label",
    )

    hits = exact_hits.unionByName(fallback_hits).filter(
        # self-loop suppression is scoped to the closure rungs only: super()
        # must skip the own class and inherited-self must land on an ancestor
        # (POLYGLOT_FORBIDDEN), but direct recursion IS a real edge — the
        # reference asserts self-recursive CALLS exist
        # (tests/test_nested_local_function_calls.py:50-60)
        (F.col("target_qn") != F.col("caller_qn"))
        | ~F.col("priority").isin(P_SUPER, P_INHERITED_SELF)
    )

    # arbitration: lowest rung wins; within closure rungs the nearest
    # ancestor (depth, then declared base order) wins; all variants of the
    # winning natural QN survive (a call to a duplicated name links to every
    # variant, graph-schema "Qualified Name Uniqueness")
    w = Window.partitionBy("mention_id").orderBy(
        "priority", "depth", "ord", "target_qn"
    )
    out = (
        hits.withColumn("rk", F.rank().over(w))
        .filter(F.col("rk") == 1)
        .drop("rk")
        .dropDuplicates(["mention_id", "target_variant"])
        .persist()  # fans out into CALLS/INSTANTIATES/ctor/REFERENCES
    )
    if persist_registry is not None:
        persist_registry.append(out)
    return out


def call_edges(resolved: DataFrame, entities: DataFrame) -> DataFrame:
    """Resolved call/ref rows → CALLS / INSTANTIATES / REFERENCES edges.

    A call hitting a Class becomes INSTANTIATES plus a ctor-redirect CALLS to
    ``Class.__init__`` when one exists (call_processor.py:3636-3696).
    """
    base_cols = [
        F.col("caller_qn").alias("subj"),
        F.col("target_variant").alias("obj"),
        F.col("caller_label").alias("subj_label"),
        F.col("target_label").alias("obj_label"),
        F.col("doc_id").alias("src_doc"),
    ]
    calls = resolved.filter(F.col("kind") == "call")
    refs = resolved.filter(F.col("kind") == "ref")

    plain = calls.filter(
        F.col("target_label").isin("Function", "Method")
    ).select(F.lit("CALLS").alias("pred"), *base_cols)
    inst = calls.filter(F.col("target_label") == "Class").select(
        F.lit("INSTANTIATES").alias("pred"), *base_cols
    )
    # ctor redirect
    ctors = entities.filter(
        (F.col("label") == "Method") & (F.col("name") == "__init__")
    ).select(
        F.col("parent_qn").alias("ctor_class"),
        F.col("qualified_name").alias("ctor_qn"),
    )
    # no broadcast hint: the ctor table scales with class count; AQE
    # broadcasts it at runtime when small
    ctor_calls = (
        calls.filter(F.col("target_label") == "Class")
        .join(
            ctors,
            F.col("target_qn") == F.col("ctor_class"),
        )
        .select(
            F.lit("CALLS").alias("pred"),
            F.col("caller_qn").alias("subj"),
            F.col("ctor_qn").alias("obj"),
            F.col("caller_label").alias("subj_label"),
            F.lit("Method").alias("obj_label"),
            F.col("doc_id").alias("src_doc"),
        )
    )
    ref_edges = refs.filter(
        F.col("target_label").isin("Function", "Method", "Class")
    ).select(F.lit("REFERENCES").alias("pred"), *base_cols)

    out = plain.unionByName(inst).unionByName(ctor_calls).unionByName(ref_edges)
    # src_doc provenance: the doc whose mention produced the edge — the
    # incremental path keeps/replaces edges per source doc (delete+insert by
    # doc partition, graph_updater.py:1227-1284 analogue)
    return out.select(
        "subj", "pred", "obj", "subj_label", "obj_label", "src_doc"
    ).dropDuplicates(["subj", "pred", "obj", "src_doc"])
