"""Connected-components tests: chains, cliques, singletons, determinism
(SURVEY.md 5.3)."""

from pyspark.sql import functions as F

from textchunking_and_knowledgegraph_spark.operators.canonicalize import (
    canonicalize_triples,
    connected_components,
    normalization_alias_edges,
)


def _cc(spark, pairs):
    edges = spark.createDataFrame([{"src": a, "dst": b} for a, b in pairs])
    return {r.id: r.component for r in connected_components(edges).collect()}


def test_cc_chain(spark):
    comp = _cc(spark, [("b", "c"), ("c", "d"), ("d", "e"), ("a", "b")])
    assert set(comp.values()) == {"a"}


def test_cc_two_components(spark):
    comp = _cc(spark, [("a", "b"), ("x", "y"), ("y", "z")])
    assert comp["a"] == comp["b"] == "a"
    assert comp["x"] == comp["y"] == comp["z"] == "x"


def test_cc_clique_and_selfloop(spark):
    comp = _cc(spark, [("p", "q"), ("q", "r"), ("p", "r"), ("s", "s")])
    assert comp["p"] == comp["q"] == comp["r"] == "p"
    # pure self-loop vertices are filtered (a != b); 's' absent
    assert "s" not in comp


def test_cc_long_chain_converges(spark):
    # chain of 30 -> needs several min-propagation rounds
    pairs = [(f"n{i:02d}", f"n{i + 1:02d}") for i in range(30)]
    comp = _cc(spark, pairs)
    assert set(comp.values()) == {"n00"}
    assert len(comp) == 31


def test_normalization_alias_edges(spark):
    names = spark.createDataFrame(
        [{"name": n} for n in ["函数的概念", "函数概念", "函数 概念", "集合"]]
    )
    edges = {(r.src, r.dst) for r in normalization_alias_edges(names).collect()}
    # all three 函数概念 variants collapse to the min name; 集合 untouched
    assert edges == {("函数概念", "函数 概念"), ("函数的概念", "函数 概念")}


def test_canonicalize_triples_maps_endpoints(spark):
    triples = spark.createDataFrame(
        [
            {"subj": "函数的概念", "pred": "上位", "obj": "幂函数", "subj_type": "section",
             "obj_type": "section", "repo": "r", "path": "p", "commit": "c", "sha": "s",
             "chunk_id": None},
            {"subj": "函数概念", "pred": "文本块", "obj": "d:0", "subj_type": "section",
             "obj_type": "chunk", "repo": "r", "path": "p", "commit": "c", "sha": "s",
             "chunk_id": "d:0"},
        ]
    )
    out = canonicalize_triples(triples).collect()
    subs = {r.subj for r in out}
    assert len(subs) == 1  # both surface forms map to one representative
    # chunk object untouched
    tb = [r for r in out if r.pred == "文本块"][0]
    assert tb.obj == "d:0"


def test_merge_dedup_deterministic_and_partitioning_invariant(spark):
    """merge_dedup must pick the SAME surviving row (struct-min over the
    non-key columns, nulls first) under any partitioning -- the property
    dropDuplicates lacked, and the one the split-lineage hash oracles
    depend on."""
    from textchunking_and_knowledgegraph_spark.operators.canonicalize import (
        merge_dedup,
    )

    cols = ["subj", "pred", "obj", "subj_type", "obj_type",
            "repo", "path", "commit", "sha", "chunk_id"]
    rows = [
        # same (subj,pred,obj,sha) key, three attribute variants incl. a
        # NULL that must win (nulls first) and a tie-break on chunk_id
        ("a", "p", "b", None, "t2", "r", "x", "c1", "s1", "k9"),
        ("a", "p", "b", "t1", "t2", "r", "x", "c1", "s1", "k1"),
        ("a", "p", "b", None, "t2", "r", "x", "c1", "s1", "k2"),
        ("z", "p", "b", "t", "t", "r", "y", "c1", "s2", None),
    ]
    schema = ", ".join(f"{c} string" for c in cols)

    def run(n_parts):
        df = spark.createDataFrame(rows, schema).repartition(n_parts)
        return sorted(tuple(r) for r in merge_dedup(df, cols).collect())

    first = run(1)
    assert run(7) == first and run(32) == first
    keyed = {r[0]: r for r in first}
    # nulls-first struct-min: the NULL subj_type variant wins, and among
    # the two NULL rows the smaller chunk_id breaks the tie
    assert keyed["a"][3] is None and keyed["a"][9] == "k2"
    assert len(first) == 2


_TRIPLE_COLS = ["subj", "pred", "obj", "subj_type", "obj_type",
                "repo", "path", "commit", "sha", "chunk_id"]


def _triple(subj, pred, obj, obj_type="section", chunk_id=None, sha="s"):
    return (subj, pred, obj, "section", obj_type, "r", "p", "c", sha, chunk_id)


def _canonicalize_via_cc(spark, triples):
    """Reference canonicalization: the mapping is the connected components
    of the normalization alias edges (component = min name), applied with
    the chunk-object guard, then the same MERGE dedup."""
    from textchunking_and_knowledgegraph_spark.operators.canonicalize import merge_dedup

    rows = triples.collect()
    names = sorted(
        {r.subj for r in rows if r.subj_type != "chunk"}
        | {r.obj for r in rows if r.obj_type != "chunk"}
    )
    edges = normalization_alias_edges(
        spark.createDataFrame([(n,) for n in names], "name string")
    )
    comp = {r.id: r.component for r in connected_components(edges).collect()}
    mapped = [
        (comp.get(r.subj, r.subj), r.pred,
         r.obj if r.obj_type == "chunk" else comp.get(r.obj, r.obj), *r[3:])
        for r in rows
    ]
    return merge_dedup(spark.createDataFrame(mapped, triples.schema), _TRIPLE_COLS)


def _sorted_rows(df):
    return sorted(tuple(r) for r in df.select(_TRIPLE_COLS).collect())


def test_canonicalize_equals_connected_components(spark):
    """The star mapping (each name -> its collision group's min name) must
    equal full connected components over the same alias edges: on CJK
    spelling variants, on singletons mixed in, and with no collision at
    all. Chunk objects keep their id even when it collides with a name."""
    schema = ", ".join(f"{c} string" for c in _TRIPLE_COLS)
    cases = {
        "cjk_variants": [
            _triple("函数的概念", "上位", "幂函数"),
            _triple("函数概念", "同位", "函数 的概念"),
            _triple("函数 的概念", "上位", "指数函数", sha="t"),
            _triple("幂函数", "同位", "集合"),  # singletons
            _triple("函数概念", "上位", "幂函数", chunk_id="k1"),  # collapses
            _triple("函数概念", "文本块", "函数的概念", obj_type="chunk",
                    chunk_id="函数的概念"),
            _triple("Set Theory", "上位", "set theory"),
            _triple("set-theory", "同位", "集合"),
        ],
        "singletons_only": [
            _triple("集合", "上位", "子集"),
            _triple("子集", "同位", "空集"),
            _triple("空集", "文本块", "d:0", obj_type="chunk", chunk_id="d:0"),
        ],
        "no_collisions": [
            _triple("数列", "上位", "等差数列"),
        ],
    }
    for name, rows in cases.items():
        triples = spark.createDataFrame(rows, schema)
        got = _sorted_rows(canonicalize_triples(triples))
        assert got == _sorted_rows(_canonicalize_via_cc(spark, triples)), name
        chunk_objs = {r[2] for r in rows if r[4] == "chunk"}
        assert chunk_objs == {r[2] for r in got if r[4] == "chunk"}, name
