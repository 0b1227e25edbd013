"""Incremental add-content (`AddContent/Update_Content.py:24-59` analog):
appending a second batch to a persisted graph yields exactly the same edge
and vertex sets as building everything in one shot, and touches only the
buckets the new batch hashes into."""

import json
import os
import shutil
import tempfile

from pyspark.sql import functions as F

from textchunking_and_knowledgegraph_spark.plans.add_content import add_content
from textchunking_and_knowledgegraph_spark.plans.materialize import materialize_graph
from textchunking_and_knowledgegraph_spark.plans.pipeline import build_triples
from textchunking_and_knowledgegraph_spark.sources.synthetic import corpus_df


def _edge_set(spark, out_dir):
    df = spark.read.parquet(os.path.join(out_dir, "edges"))
    return {tuple(r) for r in df.select("subj", "pred", "obj", "sha").collect()}


def _vertex_set(spark, out_dir):
    df = spark.read.parquet(os.path.join(out_dir, "vertices"))
    return {tuple(r) for r in df.select("name", "type").collect()}


def test_add_content_equals_one_shot(spark):
    src, _ = corpus_df(spark)
    half = F.pmod(F.xxhash64("path"), F.lit(2))
    first, second = src.filter(half == 0), src.filter(half == 1)
    assert first.count() > 0 and second.count() > 0

    base = tempfile.mkdtemp(prefix="tckg_addc_")
    full_out = os.path.join(base, "full")
    inc_out = os.path.join(base, "inc")
    try:
        materialize_graph(build_triples(spark, src), full_out, spark=spark)
        materialize_graph(build_triples(spark, first), inc_out, spark=spark)
        stats = add_content(spark, inc_out, second)

        assert stats["new_edges"] > 0
        assert _edge_set(spark, inc_out) == _edge_set(spark, full_out)
        assert _vertex_set(spark, inc_out) == _vertex_set(spark, full_out)
        # incremental run must not touch buckets the new batch doesn't hash to
        n_buckets_touched = len(stats["affected_buckets"])
        assert 0 < n_buckets_touched <= 16
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_add_content_idempotent(spark):
    """Re-adding already-present content inserts nothing (MERGE semantics)."""
    src, _ = corpus_df(spark)
    base = tempfile.mkdtemp(prefix="tckg_addc_idem_")
    out = os.path.join(base, "g")
    try:
        materialize_graph(build_triples(spark, src), out, spark=spark)
        before = _edge_set(spark, out)
        stats = add_content(spark, out, src)
        assert stats["new_edges"] == 0
        assert _edge_set(spark, out) == before
    finally:
        shutil.rmtree(base, ignore_errors=True)


def _vertex_bucket_files(out_dir):
    """{v_bucket dir -> sorted part-file names + sizes} snapshot."""
    vdir = os.path.join(out_dir, "vertices")
    snap = {}
    for d in os.listdir(vdir):
        if d.startswith("v_bucket="):
            p = os.path.join(vdir, d)
            snap[d] = sorted(
                (f, os.path.getsize(os.path.join(p, f)))
                for f in os.listdir(p) if f.endswith(".parquet")
            )
    return snap


def test_add_content_rewrites_only_affected_vertex_buckets(spark):
    """The vertex merge must be bucket-incremental like the edge side:
    buckets the new batch's vertex names don't hash into are not
    rewritten (round-2 perf-weak: the whole vertex table was rewritten
    per increment)."""
    src, _ = corpus_df(spark)
    # a ONE-document increment: its handful of vertex names hash into a
    # strict subset of the 16 buckets (a half-corpus batch touches all 16)
    one = "svc/main_3.go"
    first, second = src.filter(F.col("path") != one), src.filter(F.col("path") == one)
    assert second.count() == 1
    base = tempfile.mkdtemp(prefix="tckg_addc_vb_")
    out = os.path.join(base, "g")
    try:
        materialize_graph(build_triples(spark, first), out, spark=spark)
        before = _vertex_bucket_files(out)
        assert len(before) > 1  # bucketed layout on disk
        add_content(spark, out, second)
        after = _vertex_bucket_files(out)

        # affected = buckets of the increment's vertex names
        t2 = build_triples(spark, second)
        second_v = t2.select(F.col("subj").alias("name")).union(
            t2.select(F.col("obj").alias("name"))).distinct()
        affected = {
            f"v_bucket={r.b}" for r in second_v.select(
                F.pmod(F.xxhash64("name"), F.lit(16)).cast("int").alias("b")
            ).distinct().collect()
        }
        untouched = set(before) - affected
        assert untouched, "fixture degenerate: every bucket affected"
        for d in untouched:
            assert after[d] == before[d], f"unaffected {d} was rewritten"
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_crash_window_vertex_recovery(spark):
    """ADVICE r2 (medium): a crash mid-vertex-write used to let the
    streaming fallback rebuild vertices/ from ONLY the replayed batch,
    silently dropping earlier batches' vertices. materialize now derives
    vertices from the persisted edge table, so replaying one batch with
    the manifest checkpoint restores the complete vertex set."""
    src, _ = corpus_df(spark)
    half = F.pmod(F.xxhash64("path"), F.lit(2))
    first, second = src.filter(half == 0), src.filter(half == 1)
    base = tempfile.mkdtemp(prefix="tckg_addc_crash_")
    out = os.path.join(base, "g")
    ck = os.path.join(base, "manifest")
    try:
        materialize_graph(build_triples(spark, first), out,
                          checkpoint_dir=ck, spark=spark)
        add_content(spark, out, second, checkpoint_dir=ck)
        expected_v = _vertex_set(spark, out)
        expected_e = _edge_set(spark, out)

        # crash window: vertex table gone/partial, _SUCCESS missing ->
        # the ingest fallback re-runs materialize with ONLY the replayed
        # batch against the same manifest checkpoint
        shutil.rmtree(os.path.join(out, "vertices"))
        materialize_graph(build_triples(spark, second), out,
                          checkpoint_dir=ck, spark=spark)

        assert _vertex_set(spark, out) == expected_v
        assert _edge_set(spark, out) == expected_e
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_add_content_migrates_legacy_vertex_layout(spark):
    """A graph whose vertices/ predates the bucketed layout (flat parquet,
    no v_bucket column) must still take increments: the first add_content
    performs a one-time full migration to the bucketed layout instead of
    crashing on the missing column, and the merged result equals one-shot.
    Runs under a session-level partitionOverwriteMode=dynamic default — the
    configuration under which an implicit (mode-inheriting) migration write
    would leave the legacy flat files in place next to the new v_bucket=*
    dirs; the migration must force static mode explicitly."""
    prev_mode = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    src, _ = corpus_df(spark)
    half = F.pmod(F.xxhash64("path"), F.lit(2))
    first, second = src.filter(half == 0), src.filter(half == 1)
    base = tempfile.mkdtemp(prefix="tckg_addc_legacy_")
    out = os.path.join(base, "g")
    full_out = os.path.join(base, "full")
    vdir = os.path.join(out, "vertices")
    try:
        materialize_graph(build_triples(spark, first), out, spark=spark)
        # rewrite vertices/ the way the pre-bucketed version did: flat, no
        # v_bucket partition column
        legacy = spark.read.parquet(vdir).drop("v_bucket").localCheckpoint(True)
        shutil.rmtree(vdir)
        legacy.write.parquet(vdir)
        assert "v_bucket" not in spark.read.parquet(vdir).columns

        add_content(spark, out, second)
        materialize_graph(build_triples(spark, src), full_out, spark=spark)
        assert _vertex_set(spark, out) == _vertex_set(spark, full_out)
        # migrated on the way through: bucketed layout from now on, and the
        # legacy flat root-level part files are GONE (a dynamic-mode
        # migration write would have left them -> mixed-layout reads)
        assert "v_bucket" in spark.read.parquet(vdir).columns
        assert any(d.startswith("v_bucket=") for d in os.listdir(vdir))
        assert not any(
            d.startswith("part-") and d.endswith(".parquet")
            for d in os.listdir(vdir)
        )
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", prev_mode)
        shutil.rmtree(base, ignore_errors=True)


def test_add_content_adopts_persisted_bucketing(spark):
    """A graph written with n_buckets=8 updated by an add_content called
    with a mismatched default must still MERGE correctly (bucketing is
    read from the graph's metadata, not trusted from the caller)."""
    src, _ = corpus_df(spark)
    half = F.pmod(F.xxhash64("path"), F.lit(2))
    base = tempfile.mkdtemp(prefix="tckg_addc_meta_")
    out = os.path.join(base, "g")
    full_out = os.path.join(base, "full")
    try:
        materialize_graph(build_triples(spark, src.filter(half == 0)), out,
                          spark=spark, n_buckets=8)
        stats = add_content(spark, out, src.filter(half == 1), n_buckets=16)
        assert stats["new_edges"] > 0
        assert max(stats["affected_buckets"]) < 8  # adopted the stored 8
        materialize_graph(build_triples(spark, src), full_out, spark=spark,
                          n_buckets=8)
        assert _edge_set(spark, out) == _edge_set(spark, full_out)
    finally:
        shutil.rmtree(base, ignore_errors=True)


def _bucket_dir_files(out_dir):
    """{'edges/repo_bucket=b' | 'vertices/v_bucket=b' -> sorted part-file
    names + sizes} for every bucket directory of the graph."""
    snap = {}
    for table in ("edges", "vertices"):
        root = os.path.join(out_dir, table)
        for d in os.listdir(root):
            p = os.path.join(root, d)
            if os.path.isdir(p) and "_bucket=" in d:
                snap[f"{table}/{d}"] = sorted(
                    (f, os.path.getsize(os.path.join(p, f)))
                    for f in os.listdir(p) if f.endswith(".parquet")
                )
    return snap


def test_write_layout_one_file_per_bucket(spark):
    """Writes are sized to the data: on a small graph every bucket
    directory of both tables holds exactly one parquet file, after the
    full build and after an increment, and the increment leaves every
    bucket directory it does not hash into untouched."""
    src, _ = corpus_df(spark)
    one = "svc/main_3.go"
    first, second = src.filter(F.col("path") != one), src.filter(F.col("path") == one)
    base = tempfile.mkdtemp(prefix="tckg_layout_")
    out = os.path.join(base, "g")
    try:
        materialize_graph(build_triples(spark, first), out, spark=spark)
        before = _bucket_dir_files(out)
        assert any(d.startswith("edges/") for d in before)
        assert any(d.startswith("vertices/") for d in before)
        assert all(len(files) == 1 for files in before.values()), before

        meta = os.path.join(out, "_graph_meta.json")
        with open(meta) as f:
            assert json.load(f) == {"n_buckets": 16}
        # graphs written before the rebalanced layout also carry a
        # write-fanout key; add_content must accept and ignore it
        with open(meta, "w") as f:
            json.dump({"n_buckets": 16, "files_per_bucket": 4}, f)
        stats = add_content(spark, out, second)
        after = _bucket_dir_files(out)
        assert all(len(files) == 1 for files in after.values()), after

        t2 = build_triples(spark, second)
        names = t2.select(F.col("subj").alias("name")).union(
            t2.select(F.col("obj").alias("name"))).distinct()
        affected = {f"edges/repo_bucket={b}" for b in stats["affected_buckets"]} | {
            f"vertices/v_bucket={r.b}" for r in names.select(
                F.pmod(F.xxhash64("name"), F.lit(16)).cast("int").alias("b")
            ).distinct().collect()
        }
        untouched = set(before) - affected
        assert untouched, "fixture degenerate: every bucket affected"
        changed = {d for d in set(before) | set(after) if before.get(d) != after.get(d)}
        assert changed <= affected, changed - affected
    finally:
        shutil.rmtree(base, ignore_errors=True)
