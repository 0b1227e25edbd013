"""Incremental add-content: merge a new batch of documents into a persisted
graph -- the distributed form of `AddContent/Update_Content.py:24-59` (the
reference re-runs its chunk/extract/link loop on one new book and MERGEs the
results into the live Neo4j graph).

Scale shape: the new batch's triples touch only a few repo buckets; instead
of rewriting the whole edge table, the plan

  1. builds triples for the new source (same fused pipeline as a full run),
  2. anti-joins them against ONLY the affected buckets of the persisted
     table (MERGE semantics, J10 -- `StoreToNeo4j/Neo4j_functions.py:14-31`),
  3. rewrites those buckets with dynamic partition overwrite (Iceberg:
     ``overwritePartitions`` on ``bucket(repo)``; parquet emulation here),
  4. merges the vertex table via the same anti-join primitive.

Unaffected buckets are never read or written -- an append of one repo to a
10^12-file table costs O(new data + affected buckets), not O(table).
"""

from __future__ import annotations

import os
import time

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.graph import merge_vertices
from .materialize import EDGE_KEY, _commit
from .pipeline import build_triples, build_vertices


def add_content(
    spark: SparkSession,
    output_dir: str,
    new_source: DataFrame,
    checkpoint_dir: str | None = None,
    n_buckets: int = 16,
    cfg=None,
) -> dict:
    """Merge ``new_source`` documents into the graph persisted at
    ``output_dir``. ``cfg`` is the same PipelineConfig the full build used
    (linking/canonicalization parity). Returns
    {'new_edges': int, 'affected_buckets': [...]}.
    """
    edge_dir = os.path.join(output_dir, "edges")
    vdir = os.path.join(output_dir, "vertices")
    t0 = time.time()

    # adopt the bucketing the graph was WRITTEN with: a mismatched
    # n_buckets would hash repos into different partitions than their
    # existing rows, break the anti-join, and write duplicates.
    # Other keys (older graphs also carry a write-fanout knob) are ignored.
    meta_path = os.path.join(output_dir, "_graph_meta.json")
    if os.path.exists(meta_path):
        import json

        with open(meta_path) as f:
            n_buckets = int(json.load(f)["n_buckets"])

    new_edges = (
        build_triples(spark, new_source, cfg)
        .dropDuplicates(EDGE_KEY)
        .withColumn(
            "repo_bucket", F.pmod(F.xxhash64("repo"), F.lit(n_buckets)).cast("int")
        )
        .persist()
    )
    try:
        affected = sorted(
            r["repo_bucket"]
            for r in new_edges.select("repo_bucket").distinct().collect()
        )
        if not affected:
            return {"new_edges": 0, "affected_buckets": []}

        # read ONLY affected buckets; localCheckpoint materializes them so
        # the dynamic-overwrite write below doesn't read the files it is
        # replacing (Iceberg snapshots make this copy unnecessary on a
        # cluster -- MERGE INTO commits a new snapshot).
        existing = (
            spark.read.parquet(edge_dir)
            .filter(F.col("repo_bucket").isin(affected))
            .localCheckpoint(eager=True)
        )
        incoming = new_edges.join(existing, EDGE_KEY, "left_anti")
        merged = existing.unionByName(incoming.select(*existing.columns))
        # rebalance, as in materialize_graph: AQE sizes the write tasks to
        # the affected buckets' data (one file per small bucket, a large
        # bucket split at the advisory size)
        (
            merged.hint("rebalance", "repo_bucket")
            .sortWithinPartitions("repo_bucket", "subj")
            .write.mode("overwrite")
            .option("partitionOverwriteMode", "dynamic")
            .partitionBy("repo_bucket")
            .parquet(edge_dir)
        )

        # vertex MERGE (anti-join insert, existing vertices win) --
        # bucket-incremental, the same pattern as the edge side. The
        # round-2 implementation rewrote the ENTIRE vertex table per batch
        # (O(all vertices) per micro-batch: billions of rows re-written per
        # increment at the target scale); the table is now partitioned by
        # pmod(xxhash64(name), n_buckets) (written that way by
        # materialize_graph), so only the buckets the new batch's vertex
        # names hash into are read, merged, and dynamic-partition-
        # overwritten. Same-name rows always share a bucket, so the
        # anti-join inside merge_vertices sees every possible match.
        new_v = (
            build_vertices(new_edges.drop("repo_bucket"))
            .withColumn(
                "v_bucket", F.pmod(F.xxhash64("name"), F.lit(n_buckets)).cast("int")
            )
            .localCheckpoint(eager=True)
        )
        affected_v = sorted(
            r["v_bucket"] for r in new_v.select("v_bucket").distinct().collect()
        )
        vertices_raw = spark.read.parquet(vdir)
        legacy_vertices = "v_bucket" not in vertices_raw.columns
        if legacy_vertices:
            # graph materialized before the bucketed vertex layout existed:
            # one-time full migration -- merge over the WHOLE legacy table
            # and rewrite it bucketed (plain overwrite clears the old
            # root-level files a dynamic overwrite would leave behind);
            # every subsequent increment is bucket-incremental.
            existing_v = vertices_raw.localCheckpoint(eager=True)
        else:
            existing_v = (
                vertices_raw.filter(F.col("v_bucket").isin(affected_v))
                .drop("v_bucket")
                .localCheckpoint(eager=True)
            )
        merged_v = merge_vertices(
            existing_v, new_v.drop("v_bucket")
        ).withColumn(
            "v_bucket", F.pmod(F.xxhash64("name"), F.lit(n_buckets)).cast("int")
        )
        vwriter = (
            merged_v.hint("rebalance", "v_bucket")
            .sortWithinPartitions("v_bucket", "name")
            .write.mode("overwrite")
        )
        # the mode is set EXPLICITLY on both branches: the migration relies
        # on a static overwrite clearing the legacy flat root-level files,
        # and a session-level spark.sql.sources.partitionOverwriteMode=
        # dynamic default would otherwise silently leave them in place
        # (mixed flat+partitioned layout -> conflicting-directory reads)
        vwriter = vwriter.option(
            "partitionOverwriteMode",
            "static" if legacy_vertices else "dynamic",
        )
        vwriter.partitionBy("v_bucket").parquet(vdir)

        # recommit manifests for affected buckets (lineage/metrics stay true)
        n_new = 0
        if checkpoint_dir:
            stats = {
                int(r["repo_bucket"]): r
                for r in spark.read.parquet(edge_dir)
                .filter(F.col("repo_bucket").isin(affected))
                .groupBy("repo_bucket")
                .agg(
                    F.count("*").alias("rows"),
                    F.countDistinct("sha").alias("sha_count"),
                    F.countDistinct("path").alias("docs"),
                )
                .collect()
            }
            t_ms = int((time.time() - t0) * 1000)
            for b in affected:
                r = stats.get(b)
                _commit(
                    checkpoint_dir,
                    f"bucket_{b}",
                    {
                        "bucket": b,
                        "rows": int(r["rows"]) if r else 0,
                        "sha_count": int(r["sha_count"]) if r else 0,
                        "docs": int(r["docs"]) if r else 0,
                        "t_ms": t_ms,
                    },
                )
        n_new = incoming.count()
        return {"new_edges": n_new, "affected_buckets": affected}
    finally:
        new_edges.unpersist()
