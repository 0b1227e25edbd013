"""The fused single-pass extractor must be plan-for-plan equivalent to the
unfused two-branch pipeline: identical triple sets (all columns), identical
chunk-id referential integrity. The fused path is the engine's only
extraction path (one Arrow crossing per doc); the unfused path below is the
readable spec, kept here as its differential comparator."""

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from textchunking_and_knowledgegraph_spark.operators.canonicalize import merge_dedup
from textchunking_and_knowledgegraph_spark.operators.chunker import chunk_documents
from textchunking_and_knowledgegraph_spark.operators.extract import (
    _CODE_EXTRACTORS,
    PRED_CONTAINS,
    PRED_HYPERNYM,
    PRED_PEER,
    PRED_TEXTBLOCK,
    _extract_svo,
    doc_facts,
    triples_from_facts,
)
from textchunking_and_knowledgegraph_spark.plans.pipeline import prepared_source
from textchunking_and_knowledgegraph_spark.sources.io import TRIPLE_SCHEMA
from textchunking_and_knowledgegraph_spark.sources.synthetic import corpus_df


def structural_triples(chunks: DataFrame) -> DataFrame:
    """Chunk table -> hierarchy + text-block triples, as pure column ops:
    two selects unioned; hierarchy edges deduped per document."""
    md = chunks.filter(F.col("level") > 0)
    flat = chunks.filter(F.col("level") == 0)  # code/text: synthetic root

    prov = [F.col("repo"), F.col("path"), F.col("commit"), F.col("sha")]

    # (chapter 同位 chapter) for root sections / (parent 上位 section) nested
    hier = (
        md.select(
            F.when(F.col("is_root"), F.col("section_title"))
            .otherwise(F.col("parent_title"))
            .alias("subj"),
            F.when(F.col("is_root"), F.lit(PRED_PEER))
            .otherwise(F.lit(PRED_HYPERNYM))
            .alias("pred"),
            F.col("section_title").alias("obj"),
            F.lit("section").alias("subj_type"),
            F.lit("section").alias("obj_type"),
            *prov,
            F.lit(None).cast("string").alias("chunk_id"),
        )
        .dropDuplicates(["subj", "pred", "obj", "sha"])
    )

    textblock = md.select(
        F.col("section_title").alias("subj"),
        F.lit(PRED_TEXTBLOCK).alias("pred"),
        F.col("chunk_id").alias("obj"),
        F.lit("section").alias("subj_type"),
        F.lit("chunk").alias("obj_type"),
        *prov,
        F.col("chunk_id"),
    )

    contains = flat.select(
        F.col("path").alias("subj"),
        F.lit(PRED_CONTAINS).alias("pred"),
        F.col("chunk_id").alias("obj"),
        F.lit("file").alias("subj_type"),
        F.lit("chunk").alias("obj_type"),
        *prov,
        F.col("chunk_id"),
    )

    return hier.unionByName(textblock).unionByName(contains)


def content_triples(source: DataFrame) -> DataFrame:
    """Whole-file extraction pass, separate from the chunker: code triples
    for code langs, SVO for prose langs."""
    cols = ["repo", "path", "commit", "lang", "sha", "content"]
    field_names = [f.name for f in TRIPLE_SCHEMA.fields]

    def _map_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out: list[dict] = []
            for row in pdf[cols].to_dict("records"):
                lang = (row["lang"] or "").lower()
                content = row["content"] or ""
                extractor = _CODE_EXTRACTORS.get(lang)
                trips = (
                    extractor(row["path"], content)
                    if extractor
                    else _extract_svo(row["path"], content)
                )
                for subj, pred, obj, st, ot in trips:
                    out.append(
                        {
                            "subj": subj, "pred": pred, "obj": obj,
                            "subj_type": st, "obj_type": ot,
                            "repo": row["repo"], "path": row["path"],
                            "commit": row["commit"], "sha": row["sha"],
                            "chunk_id": None,
                        }
                    )
            yield pd.DataFrame(out, columns=field_names)

    return source.select(*cols).mapInPandas(_map_batches, schema=TRIPLE_SCHEMA)


def extract_all_triples(source: DataFrame, chunks: DataFrame) -> DataFrame:
    """Union of structural and content triples, deduplicated on the
    canonical key."""
    out = structural_triples(chunks).unionByName(content_triples(source))
    return merge_dedup(out, out.columns)


def _rows(df):
    cols = ["subj", "pred", "obj", "subj_type", "obj_type", "repo", "path",
            "commit", "sha", "chunk_id"]
    return {tuple(r) for r in df.select(*cols).collect()}


def test_fused_equals_unfused(spark):
    raw, _ = corpus_df(spark)
    src = prepared_source(spark, raw)
    unfused = extract_all_triples(src, chunk_documents(src))
    fused = triples_from_facts(doc_facts(src))
    assert _rows(fused) == _rows(unfused)


def test_fused_span_counts_match_chunk_table(spark):
    raw, _ = corpus_df(spark)
    src = prepared_source(spark, raw)
    n_chunks = chunk_documents(src).count()
    n_spans = doc_facts(src).select(F.explode("spans")).count()
    assert n_spans == n_chunks


def test_rust_and_c_extractors_edge_cases():
    """Pure-Python extractor checks beyond the fixture shapes: generic impl
    blocks, visibility-scoped items, include variants, and the C function
    heuristic's keyword gate (control-flow headers must not become defines)."""
    from textchunking_and_knowledgegraph_spark.operators.extract import (
        _extract_c,
        _extract_rust,
    )

    rs = "\n".join(
        [
            "use std::collections::HashMap;",
            "pub(crate) struct Store<T> {}",
            "impl<T> Iterator for Store<T> {",
            "    fn next(&mut self) -> Option<T> { None }",
            "}",
            "pub async fn fetch(url: &str) {}",
        ]
    )
    got = {(s, p, o) for s, p, o, _, _ in _extract_rust("a.rs", rs)}
    assert ("a.rs", "imports", "std::collections::HashMap") in got
    assert ("a.rs", "defines", "Store") in got
    assert ("Store", "implements", "Iterator") in got
    assert ("a.rs", "defines", "fetch") in got
    assert ("a.rs", "defines", "next") in got  # method fns are still defines

    c = "\n".join(
        [
            "#include <stdio.h>",
            '# include "lib/util.h"',
            "struct pair { int a; int b; };",
            "class Codec : public BaseNode {",
            "};",
            "static int add_two(int x) {",
            "    if (x > 0) {",
            "        while (x--) {}",
            "    }",
            "    return x + 2;",
            "}",
        ]
    )
    got = {(s, p, o) for s, p, o, _, _ in _extract_c("b.cc", c)}
    assert ("b.cc", "imports", "stdio.h") in got
    assert ("b.cc", "imports", "lib/util.h") in got
    assert ("b.cc", "defines", "pair") in got
    assert ("b.cc", "defines", "Codec") in got
    assert ("Codec", "inherits", "BaseNode") in got
    assert ("b.cc", "defines", "add_two") in got
    defines = {o for s, p, o in got if p == "defines"}
    assert "if" not in defines and "while" not in defines


def test_cpp_rust_extractor_common_shapes():
    """Shapes the first-cut regexes silently dropped: C++ multiple
    inheritance / `final` / templated bases, and Rust `const fn` — each must
    still emit its defines (and first-base inherits) triple."""
    from textchunking_and_knowledgegraph_spark.operators.extract import (
        _extract_c,
        _extract_rust,
    )

    c = "\n".join(
        [
            "class Multi : public B, public C {",
            "};",
            "struct Fin final : E {",
            "};",
            "class Tmpl : public Base<int, char>, private Mix {",
            "};",
            "class Fwd;",  # forward declaration: no body, no defines triple
            "class V : virtual public VB {",
            "};",
        ]
    )
    got = {(s, p, o) for s, p, o, _, _ in _extract_c("m.cc", c)}
    assert ("m.cc", "defines", "Multi") in got
    assert ("Multi", "inherits", "B") in got
    assert ("Fin", "inherits", "E") in got
    assert ("Tmpl", "inherits", "Base") in got
    assert ("V", "inherits", "VB") in got
    assert ("m.cc", "defines", "Fwd") not in got

    rs = "pub const fn f(x: u32) -> u32 { x }\nconst fn g() -> i32 { 0 }"
    got_rs = {(s, p, o) for s, p, o, _, _ in _extract_rust("c.rs", rs)}
    assert ("c.rs", "defines", "f") in got_rs
    assert ("c.rs", "defines", "g") in got_rs
