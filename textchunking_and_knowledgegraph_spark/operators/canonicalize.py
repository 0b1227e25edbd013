"""Canonicalization: normalization-key alias groups, and connected components
via iterative min-label propagation.

The scale-out of the reference's single-node dedup-and-vote
(`EntityLinking/Entity_Linking.py:43-72` ordered dedup;
`StoreToNeo4j/Neo4j_functions.py:156-166` label-propagation vote): alias
edges define an undirected graph; each component collapses to one
representative (its lexicographically smallest member -- deterministic).
``canonicalize_triples`` needs no iteration (its alias groups are stars);
``connected_components`` serves the general alias graphs of the
near-duplicate operators (``operators/dedup.py``,
``plans/incremental_dedup.py``).

Physical plan per CC iteration: two hash joins (labels -> neighbor minimum),
``localCheckpoint()`` to truncate lineage (SURVEY.md 4.2). Min-label is
monotonically decreasing -> guaranteed termination; realistic alias-graph
diameter keeps iterations <= ~15.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 25,
) -> DataFrame:
    """edges[src, dst] (string ids) -> [id, component] where component is the
    min id in the connected component. Isolated vertices of the edge set are
    included (every endpoint appears)."""
    # persist the symmetrized edge set: every iteration joins it twice, and
    # without the barrier the union+distinct re-executes per round
    sym = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .unionByName(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .filter(F.col("a") != F.col("b"))
        .distinct()
        .persist()
    )
    try:
        return _cc_loop(sym, max_iter)
    finally:
        # always release -- a leaked persisted edge set accumulates across
        # repeated canonicalize calls (streaming foreachBatch, retries)
        sym.unpersist()


def _cc_loop(sym: DataFrame, max_iter: int) -> DataFrame:
    labels = (
        sym.select(F.col("a").alias("id"))
        .distinct()
        .withColumn("component", F.col("id"))
        .localCheckpoint()
    )
    for _ in range(max_iter):
        # 1-hop min propagation over the edge set
        nbr_min = (
            sym.join(labels, sym.b == labels.id)
            .groupBy(F.col("a").alias("id"))
            .agg(F.min("component").alias("nbr_component"))
        )
        hop = labels.join(nbr_min, "id", "left").select(
            "id",
            F.least(
                F.col("component"), F.coalesce("nbr_component", F.col("component"))
            ).alias("component"),
        )
        # pointer jumping (path halving): component <- component's component.
        # Turns O(diameter) rounds into O(log diameter) -- a 10^6-long alias
        # chain converges in ~20 rounds instead of 10^6.
        ptr = hop.select(F.col("id").alias("cid"), F.col("component").alias("ccomp"))
        new_labels = (
            hop.join(ptr, hop.component == ptr.cid, "left")
            .select(
                "id",
                F.least(
                    F.col("component"), F.coalesce("ccomp", F.col("component"))
                ).alias("component"),
            )
        )
        # checkpoint FIRST (materializes the round once), then run the
        # convergence probe against the cached result -- probing before the
        # checkpoint recomputed every round's joins twice
        new_labels = new_labels.localCheckpoint()
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "id")
            .filter(F.col("n.component") != F.col("o.component"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            break
    # labels are checkpointed (no lineage into sym) -- caller releases sym
    return labels


def alias_components(
    aliases: DataFrame,
    alias_col: str = "alias",
    canonical_col: str = "entity",
) -> DataFrame:
    """alias pairs -> [name, canonical] mapping (canonical = component min)."""
    cc = connected_components(aliases, src=alias_col, dst=canonical_col)
    return cc.select(F.col("id").alias("name"), F.col("component").alias("canonical"))


def _norm_name(col):
    """Exact-normalization key: lower, strip whitespace/punctuation and the
    CJK possessive 的 -- the deterministic 'same entity' heuristic that seeds
    alias edges (mirrors the near-dup families in the reference vocabularies,
    e.g. 函数的概念 == 函数概念)."""
    c = F.lower(F.trim(col))
    c = F.regexp_replace(c, r"[\s\.,;:()（）、，。·_\-]+", "")
    c = F.regexp_replace(c, "的", "")
    return c


def normalization_alias_edges(names: DataFrame, name_col: str = "name") -> DataFrame:
    """Self-alias edges from exact normalized-name collisions: every name in
    a collision group is aliased to the group's min name. groupBy+min is one
    map-side-combinable aggregation -- no pairwise explosion."""
    n = names.select(F.col(name_col).alias("name")).distinct()
    keyed = n.withColumn("k", _norm_name(F.col("name")))
    rep = keyed.groupBy("k").agg(F.min("name").alias("rep"))
    return (
        keyed.join(rep, "k")
        .filter(F.col("name") != F.col("rep"))
        .select(F.col("name").alias("src"), F.col("rep").alias("dst"))
    )


def canonicalize_triples(triples: DataFrame) -> DataFrame:
    """Map triple subj/obj to canonical representatives (two hash joins
    against the normalization alias mapping). Chunk-id objects are never
    canonicalized (they are content addresses, not names).

    ``normalization_alias_edges`` points every member of a collision group
    at the group's min name, so each group is a star and already its own
    connected component: the alias edges ARE the name -> component-min
    mapping, and no label-propagation loop is needed.

    The input is checkpointed first: this operator consumes ``triples``
    three times (name collection + two endpoint joins) and would otherwise
    re-execute the whole extraction subtree per consumer. Eager: lazy
    localCheckpoints truncate lineage mid-job and straggler completions then
    hit unregistered accumulators (DAGScheduler error noise)."""
    triples = triples.localCheckpoint(eager=True)
    names = (
        triples.select(
            F.explode(
                F.array(
                    F.struct(F.col("subj").alias("name"), F.col("subj_type").alias("t")),
                    F.struct(F.col("obj").alias("name"), F.col("obj_type").alias("t")),
                )
            ).alias("v")
        )
        .filter(F.col("v.t") != "chunk")
        .select(F.col("v.name").alias("name"))
    )
    mapping = normalization_alias_edges(names)
    t = (
        triples.join(
            mapping.select(F.col("src").alias("subj"), F.col("dst").alias("canonical")),
            "subj",
            "left",
        )
        .withColumn("subj", F.coalesce("canonical", "subj"))
        .drop("canonical")
    )
    t = (
        t.join(
            mapping.select(F.col("src").alias("obj"), F.col("dst").alias("ocanon")),
            "obj",
            "left",
        )
        .withColumn(
            "obj",
            F.when(F.col("obj_type") == "chunk", F.col("obj")).otherwise(
                F.coalesce("ocanon", "obj")
            ),
        )
        .drop("ocanon")
    )
    return merge_dedup(t.select(triples.columns), triples.columns)


def merge_dedup(t: DataFrame, columns: list[str]) -> DataFrame:
    """Deterministic MERGE dedup on (subj, pred, obj, sha): when
    canonicalization collapses two rows onto the same key, keep the
    lexicographically-smallest attribute tuple (struct-min, nulls first) --
    not ``dropDuplicates``'s arbitrary first-seen row, which varies with
    partitioning and task order. Still one shuffle with map-side partial
    aggregation (min is combinable), same cost as dropDuplicates."""
    keys = ["subj", "pred", "obj", "sha"]
    others = [c for c in columns if c not in keys]
    merged = t.groupBy(*keys).agg(F.min(F.struct(*others)).alias("_rest"))
    return merged.select(
        *keys, *[F.col(f"_rest.{c}").alias(c) for c in others]
    ).select(columns)
