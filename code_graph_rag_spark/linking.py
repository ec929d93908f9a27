"""Entity linking + canonicalization at scale (north-rule components).

Two stages, both pure DataFrame:

1. **Candidate generation** — fuzzy entity-linking candidates between
   qualified names:
   * broadcast **alias dictionary** hits (exact known aliases — the Spark
     form of the reference's trie exact lookups);
   * **MinHash-LSH banding over qualified-name shingles**: character
     n-grams of the dotted QN → K portable min-hashes → banded bucket join.
     Two QNs sharing a band bucket are candidate co-references (e.g.
     ``pkg.mod.Store`` / ``pkg.mod_v2.Store`` style near-duplicates).

2. **Canonicalization** — connected components over the candidate-pair
   frame via alternating **large-star/small-star** rounds (Kiveris et al.,
   "Connected Components in MapReduce and Beyond"): O(log² n) rounds
   independent of component diameter; the component minimum becomes the
   canonical id. Hub-skew needs no salting here — every per-node minimum
   is a plain min-aggregate with map-side partial combining, so a hub key
   contributes one partial row per map task, never a single hot reducer.

The reference's in-memory duplicate canonicalization is
``function_registry.py:69-90`` (variant minting, which we keep exactly —
``plans/variants.py``); this module adds the *cross-name* linking the north
star specifies for 10^12-doc scale, where near-identical qualified names
from independent shards must merge.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from code_graph_rag_spark.operators.text import hash60

MOD = 1_000_000_007
_PERMS = [
    (2000007, 7),
    (3999933, 912878),
    (606667, 1825749),
    (6222137, 2738620),
    (4866143, 3651491),
    (1213333, 4564362),
    (9333141, 5477233),
    (3111037, 6390104),
]


def minhash_qn_signatures(entities: DataFrame, k: int = 8, n: int = 3) -> DataFrame:
    """(entity_id, sig array<long>[k]) over character n-gram shingles of the
    qualified name (dots kept — they carry structure).

    Codegen-only shingling: explode an index sequence, then a top-level
    ``substring`` — no interpreted array HOFs in the per-entity path (the
    round-1 hot-path rule). Duplicate shingles are harmless: the min
    aggregate over a multiset equals the min over its distinct set, so no
    dedup shuffle is needed.
    """
    sh = (
        entities.select(
            F.col("qualified_name").alias("entity_id"),
            F.concat(F.lit("^"), F.col("qualified_name"), F.lit("$")).alias("p"),
        )
        .select(
            "entity_id",
            "p",
            F.explode(
                F.sequence(F.lit(1), F.greatest(F.length("p") - (n - 1), F.lit(1)))
            ).alias("i"),
        )
        .select(
            "entity_id",
            F.substring(F.col("p"), F.col("i"), F.lit(n)).alias("shingle"),
        )
        .withColumn("h", hash60(F.col("shingle")) % MOD)
    )
    aggs = [
        F.min((F.col("h") * a + b) % MOD).alias(f"m{i}")
        for i, (a, b) in enumerate(_PERMS[:k])
    ]
    return (
        sh.groupBy("entity_id")
        .agg(*aggs)
        .select("entity_id", F.array(*[f"m{i}" for i in range(k)]).alias("sig"))
    )


def lsh_link_candidates(
    entities: DataFrame,
    alias_pairs: DataFrame | None = None,
    k: int = 8,
    bands: int = 4,
    min_agreement: float = 0.5,
    max_bucket: int | None = 256,
) -> DataFrame:
    """Candidate co-reference pairs (a, b) with a < b.

    ``alias_pairs`` (optional): known-alias frame (a, b) — broadcast and
    unioned in at full confidence (the broadcast alias dictionary rung).

    ``max_bucket`` (default ON): drop band buckets shared by more than this
    many entities before the self-join — one hub bucket of B members is
    B²/2 join rows, the classic uncapped-LSH scale killer. Members of a
    dropped bucket can still pair through their other bands.
    """
    r = k // bands
    sigs = minhash_qn_signatures(entities, k)
    # band hash via hash60 (md5-derived): portable, so the pure-Python twin
    # (synth_model.expected_canonicalization — the kg_canonicalize driver
    # oracle) replays the exact same buckets
    banded = sigs.select(
        "entity_id",
        "sig",
        F.posexplode(
            F.array(
                *[
                    hash60(
                        F.concat_ws(
                            ",", *[F.col("sig")[i] for i in range(b * r, (b + 1) * r)]
                        )
                    )
                    for b in range(bands)
                ]
            )
        ).alias("band", "band_hash"),
    )
    if max_bucket is not None:
        # skew-safe cap (groupBy + left-semi, the dedup.py pattern): the
        # count aggregates with map-side partial combine, so a mega-bucket
        # never serializes through one window task before being dropped
        small = (
            banded.groupBy("band", "band_hash")
            .agg(F.count("*").alias("bsz"))
            .filter(F.col("bsz") <= max_bucket)
            .select("band", "band_hash")
        )
        banded = banded.join(small, ["band", "band_hash"], "left_semi")
    left = banded.select(
        F.col("entity_id").alias("a"), F.col("sig").alias("sig_a"), "band", "band_hash"
    )
    right = banded.select(
        F.col("entity_id").alias("b"), F.col("sig").alias("sig_b"), "band", "band_hash"
    )
    pairs = (
        left.join(right, ["band", "band_hash"])
        .filter(F.col("a") < F.col("b"))
        .dropDuplicates(["a", "b"])
    )
    # codegen agreement: k is a Python constant, so unroll the comparison
    # instead of interpreted zip_with/filter HOFs
    matches = sum(
        (F.col("sig_a")[i] == F.col("sig_b")[i]).cast("int") for i in range(k)
    )
    agree = matches.cast("double") / F.lit(float(k))
    # verification gate: near-duplicate ENTITIES share their simple name
    # (last QN segment); without it, a child QN and its parent scope — whose
    # shingle set is nearly a subset — sneak past the MinHash agreement
    # (observed: method ↔ its module merging at agreement ≥0.95)
    last = lambda c: F.element_at(F.split(c, "\\."), -1)  # noqa: E731
    out = (
        pairs.filter(agree >= min_agreement)
        .filter(last(F.col("a")) == last(F.col("b")))
        .select("a", "b")
    )
    if alias_pairs is not None:
        out = out.unionByName(
            F.broadcast(alias_pairs.select("a", "b")).filter(F.col("a") < F.col("b"))
        ).dropDuplicates(["a", "b"])
    return out


def _star_round(edges: DataFrame, large: bool, dedup: bool = True) -> DataFrame:
    """One large-star / small-star step (Kiveris et al., "Connected
    Components in MapReduce and Beyond"). Edges are symmetrized, each node
    computes m = min(N(u) ∪ {u}) — a plain min-aggregate, so hub nodes get
    map-side partial combining for free (no salting needed) — and rewires
    the > u (large) or ≤ u (small) neighbors to m.

    ``dedup=False`` skips the trailing ``distinct()`` (one shuffle):
    duplicate edges never change any min-aggregate, so the INTERMEDIATE
    large-star output feeding the small star in the same round can stay a
    multiset — only the round's final output needs deduplication (the
    convergence signature and the next round's size depend on it)."""
    sym = edges.unionByName(
        edges.select(F.col("y").alias("x"), F.col("x").alias("y"))
    )
    mins = (
        sym.groupBy("x")
        .agg(F.min("y").alias("mn"))
        .select("x", F.least("mn", F.col("x")).alias("mn"))
    )
    j = sym.join(mins, "x")
    if large:
        out = j.filter(F.col("y") > F.col("x")).select(
            F.col("y").alias("x"), F.col("mn").alias("y")
        )
    else:
        out = j.filter(F.col("y") <= F.col("x")).select(
            F.col("y").alias("x"), F.col("mn").alias("y")
        ).unionByName(mins.select("x", F.col("mn").alias("y")))
    out = out.filter(F.col("x") != F.col("y"))
    return out.distinct() if dedup else out


def connected_components(
    pairs: DataFrame,
    max_iter: int = 20,
) -> DataFrame:
    """Connected components over an edge frame: (entity_id, canonical_id).

    Alternating large-star/small-star rounds converge in O(log² n) rounds
    INDEPENDENT of component diameter (the round-1 min-label propagation
    was O(diameter) — fine for shallow QN clusters, pathological for
    chains). At the fixpoint the edge set is a star per component centered
    on its minimum id. Every round cuts lineage (localCheckpoint);
    convergence is detected by a (count, xxhash-sum) edge-set signature —
    two cheap aggregates, no exceptAll.
    """
    # The incoming pairs plan (typically an LSH band join) is referenced
    # three times below — once by the edge frame and twice by the node
    # union. Checkpoint it ONCE so the upstream plan executes once and
    # both derivations read cached blocks (pre-r6 the band join re-ran
    # per referencing action).
    pairs = pairs.select("a", "b").localCheckpoint(eager=True)
    edges = (
        pairs.select(F.col("a").alias("x"), F.col("b").alias("y"))
        .filter(F.col("x") != F.col("y"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    # read only by the final mapping join — lazy checkpoint: whichever
    # caller action first runs that join materializes it (no job of its
    # own); it reads the cached pairs blocks
    all_nodes = (
        pairs.select(F.col("a").alias("entity_id"))
        .unionByName(pairs.select(F.col("b").alias("entity_id")))
        .distinct()
        .localCheckpoint(eager=False)
    )
    prev_sig = None
    for _round in range(max_iter):
        edges = _star_round(
            _star_round(edges, large=True, dedup=False), large=False
        )
        # eager=False: the signature aggregate below is the round's
        # materializing action, so checkpoint + convergence signature are
        # ONE job instead of two; blocks exist before the next round (or
        # the final mapping) re-reads the frame.
        edges = edges.localCheckpoint(eager=False)
        # Order-independent, overflow-free edge-set signature: count plus a
        # bit_xor of per-edge hashes. A SUM of uniformly random 64-bit
        # xxhash64 values overflows a long (fatal under ANSI mode — seen in
        # round 2); XOR is closed over int64.
        sig_row = edges.agg(
            F.count("*").alias("n"),
            F.expr("bit_xor(xxhash64(x, y))").alias("h"),
        ).first()
        sig = (sig_row["n"], sig_row["h"])
        if sig == prev_sig:
            break
        prev_sig = sig

    mapping = edges.groupBy("x").agg(F.min("y").alias("canonical_id")).select(
        F.col("x").alias("entity_id"), "canonical_id"
    )
    return all_nodes.join(mapping, "entity_id", "left").select(
        "entity_id",
        F.coalesce("canonical_id", F.col("entity_id")).alias("canonical_id"),
    )


def canonicalize_entities(
    entities: DataFrame,
    alias_pairs: DataFrame | None = None,
    k: int = 8,
    bands: int = 4,
    min_agreement: float = 0.75,
) -> DataFrame:
    """entities(qualified_name, ...) → (entity_id, canonical_id) mapping.

    Entities with no candidate edge map to themselves.
    """
    cands = lsh_link_candidates(
        entities, alias_pairs, k=k, bands=bands, min_agreement=min_agreement
    )
    cc = connected_components(cands)
    all_ids = entities.select(
        F.col("qualified_name").alias("entity_id")
    ).distinct()
    return (
        all_ids.join(cc, "entity_id", "left")
        .select(
            "entity_id",
            F.coalesce(F.col("canonical_id"), F.col("entity_id")).alias(
                "canonical_id"
            ),
        )
    )


def rewrite_edges_canonical(edges: DataFrame, mapping: DataFrame) -> DataFrame:
    """Rewrite a triple frame's endpoints through the canonical mapping and
    re-dedup — the final merge step of canonicalization."""
    msub = mapping.select(
        F.col("entity_id").alias("subj"), F.col("canonical_id").alias("csubj")
    )
    mobj = mapping.select(
        F.col("entity_id").alias("obj"), F.col("canonical_id").alias("cobj")
    )
    return (
        edges.join(msub, "subj", "left")
        .join(mobj, "obj", "left")
        .select(
            F.coalesce("csubj", "subj").alias("subj"),
            "pred",
            F.coalesce("cobj", "obj").alias("obj"),
            "subj_label",
            "obj_label",
            *(["props"] if "props" in edges.columns else []),
        )
        .dropDuplicates(["subj", "pred", "obj"])
    )
