"""End-to-end golden triple test: P/R >= 0.95 against constructively-known
goldens on the synthetic corpus (BASELINE.json metric), plus the sha256
per-row invariant and referential-integrity checks (SURVEY.md 5.3)."""

from pyspark.sql import functions as F

from textchunking_and_knowledgegraph_spark.plans.pipeline import (
    build_chunks,
    build_triples,
    build_vertices,
)
from textchunking_and_knowledgegraph_spark.sources.synthetic import corpus_df

_HIER_CODE_SVO_PREDS = [
    "同位", "上位", "imports", "defines", "calls", "inherits",
    "is_a", "has", "uses", "contains", "manages", "includes", "extends", "requires",
]


def _pr(got: set, want: set) -> tuple[float, float]:
    if not got or not want:
        return 0.0, 0.0
    tp = len(got & want)
    return tp / len(got), tp / len(want)


def test_golden_triples_pr(spark):
    src, goldens = corpus_df(spark)
    triples = build_triples(spark, src).cache()
    got = {
        (r.subj, r.pred, r.obj)
        for r in triples.filter(F.col("pred").isin(_HIER_CODE_SVO_PREDS)).collect()
    }
    want = set(goldens)
    precision, recall = _pr(got, want)
    missing = list(want - got)[:10]
    extra = list(got - want)[:10]
    assert precision >= 0.95, f"precision={precision:.3f} extra={extra}"
    assert recall >= 0.95, f"recall={recall:.3f} missing={missing}"


def test_sha_invariant_end_to_end(spark):
    """Per-row content sha256 equality source -> chunks -> triples
    (BASELINE.json:15)."""
    src, _ = corpus_df(spark)
    expected = {
        r.path: r.sha
        for r in src.select("path", F.sha2(F.coalesce("content", F.lit("")), 256).alias("sha")).collect()
    }
    triples = build_triples(spark, src)
    for r in triples.select("path", "sha").distinct().collect():
        assert expected[r.path] == r.sha, f"sha drift for {r.path}"


def test_textblock_objects_resolve_to_chunks(spark):
    """Referential integrity: every 文本块/contains_chunk object is a chunk_id
    present in the chunk table."""
    src, _ = corpus_df(spark)
    chunks = build_chunks(spark, src)
    triples = build_triples(spark, src)
    tb = triples.filter(F.col("pred").isin("文本块", "contains_chunk"))
    dangling = tb.join(chunks, tb.obj == chunks.chunk_id, "left_anti")
    assert dangling.count() == 0


def test_vertices_cover_edges(spark):
    src, _ = corpus_df(spark)
    triples = build_triples(spark, src).cache()
    vertices = build_vertices(triples)
    names = {r.name for r in vertices.collect()}
    for r in triples.select("subj", "obj").collect():
        assert r.subj in names and r.obj in names


def test_deterministic_rerun(spark):
    """Idempotence: two runs over the same input produce identical triple
    sets (canonicalization + chunking are deterministic)."""
    src, _ = corpus_df(spark)
    a = {tuple(r) for r in build_triples(spark, src).select("subj", "pred", "obj", "sha").collect()}
    b = {tuple(r) for r in build_triples(spark, src).select("subj", "pred", "obj", "sha").collect()}
    assert a == b


def test_full_kg_with_linking_and_canonicalization(spark):
    """Flagship integrated path: triples + dictionary linking (J1/J2) +
    connected-components canonicalization in one plan."""
    from textchunking_and_knowledgegraph_spark.plans.pipeline import PipelineConfig

    src, _ = corpus_df(spark)
    # dictionary = a sample of the corpus's own section titles (guaranteed
    # linkable) -- mirrors the reference where the vocabulary and the books
    # share surface forms
    titles = [
        r.section_title
        for r in build_chunks(spark, src)
        .filter(F.col("level") > 0)
        .select("section_title")
        .distinct()
        .limit(12)
        .collect()
    ]
    dictionary = spark.createDataFrame([(t,) for t in titles], "entity string")
    cfg = PipelineConfig(link_entities=True, canonicalize=True, dictionary=dictionary)
    triples = build_triples(spark, src, cfg).cache()
    linked = triples.filter(F.col("pred") == "linked_to")
    assert linked.count() > 0
    ents = set(titles)
    for r in linked.select("obj").distinct().collect():
        assert r.obj in ents
    # canonicalization keeps the edge-key dedup invariant
    n = triples.count()
    assert triples.dropDuplicates(["subj", "pred", "obj", "sha"]).count() == n


def test_linked_build_reads_each_document_once(spark, monkeypatch):
    """One Arrow crossing per document under linking + canonicalization:
    an identity mapInPandas placed directly upstream of ``doc_facts``
    counts every row it passes, and a full build plus materialization must
    pass each source document exactly once (the linker's fork must not
    re-run extraction)."""
    import shutil
    import tempfile

    from textchunking_and_knowledgegraph_spark.plans import pipeline
    from textchunking_and_knowledgegraph_spark.plans.materialize import materialize_graph

    src, _ = corpus_df(spark)
    titles = [
        r.section_title
        for r in build_chunks(spark, src).filter(F.col("level") > 0)
        .select("section_title").distinct().limit(12).collect()
    ]
    dictionary = spark.createDataFrame([(t,) for t in titles], "entity string")
    reads = spark.sparkContext.accumulator(0)

    def count_rows(batches):
        for b in batches:
            reads.add(len(b))
            yield b

    doc_facts = pipeline.doc_facts
    monkeypatch.setattr(
        pipeline, "doc_facts",
        lambda df, **kw: doc_facts(df.mapInPandas(count_rows, df.schema), **kw),
    )
    cfg = pipeline.PipelineConfig(
        link_entities=True, canonicalize=True, dictionary=dictionary
    )
    out = tempfile.mkdtemp(prefix="tckg_once_")
    try:
        stats = materialize_graph(build_triples(spark, src, cfg), out, spark=spark)
        assert stats["edges"] > 0
    finally:
        shutil.rmtree(out, ignore_errors=True)
    assert reads.value == src.count()
