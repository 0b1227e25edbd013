"""Operator stress protocol at 1.28M docs (the x256 scaling corpus).

Reproduces the scale measurements recorded in COVERAGE.md: every major
operator family run end-to-end on the same 1.28M-doc input the scaling
protocol uses (scripts/scaling_bench.py materializes it; this script
reuses it, creating it first if absent). One JSON line per stage; exit 1
on any failure or OOM.

Usage: python scripts/stress_bench.py [--stages exact,simhash,minhash,decisions,pipeline,postings,linking]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import tempfile
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "scripts"))

from scaling_bench import INPUT, ensure_input  # noqa: E402

ALL_STAGES = ["exact", "simhash", "minhash", "decisions", "pipeline", "postings",
              "linking", "incdedup"]


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--stages", default=",".join(ALL_STAGES))
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    args = ap.parse_args()
    stages = [s.strip() for s in args.stages.split(",") if s.strip()]
    unknown = [s for s in stages if s not in ALL_STAGES]
    if unknown:
        print(f"unknown stages: {unknown} (valid: {ALL_STAGES})", file=sys.stderr)
        return 1

    ensure_input(args.sf_dir)

    from pyspark.sql import functions as F

    from textchunking_and_knowledgegraph_spark.operators.dedup import (
        dedup_decisions,
        exact_dedup,
        minhash_near_dups,
        simhash_near_dups,
    )
    from textchunking_and_knowledgegraph_spark.operators.linking import link_entities
    from textchunking_and_knowledgegraph_spark.operators.postings import build_postings
    from textchunking_and_knowledgegraph_spark.plans.materialize import materialize_graph
    from textchunking_and_knowledgegraph_spark.plans.pipeline import (
        PipelineConfig,
        build_triples,
    )
    from textchunking_and_knowledgegraph_spark.session import build_session
    from textchunking_and_knowledgegraph_spark.sources.io import SOURCE_SCHEMA
    from textchunking_and_knowledgegraph_spark.sources.synthetic import (
        synthesize_entity_dictionary,
    )

    spark = build_session(app_name="tckg-stress", master="local[32]")
    spark.sparkContext.setLogLevel("ERROR")
    src = spark.read.schema(SOURCE_SCHEMA).parquet(INPUT)
    docs = src.select(F.col("path").alias("doc_id"), F.col("content").alias("text"))
    n_docs = docs.count()

    results: dict[str, dict] = {}

    def run(name, fn):
        t0 = time.time()
        out = fn()
        results[name] = {"seconds": round(time.time() - t0, 1), **out}
        print(json.dumps({"stage": name, "docs": n_docs, **results[name]}), flush=True)

    if "exact" in stages:
        run("exact", lambda: {
            "drops": exact_dedup(docs, "doc_id", "text").filter("keep = false").count()
        })
    if "simhash" in stages:
        run("simhash", lambda: {
            "pairs": simhash_near_dups(docs, "doc_id", "text", max_hamming=3).count()
        })
    pairs_df = None
    if "minhash" in stages or "decisions" in stages:
        # pairs are a prerequisite of 'decisions'; only REPORT the minhash
        # stage when the caller asked for it
        t0 = time.time()
        pairs_df = minhash_near_dups(
            docs, "doc_id", "text", threshold=0.9
        ).localCheckpoint(eager=True)
        n_pairs = pairs_df.count()
        if "minhash" in stages:
            results["minhash"] = {
                "seconds": round(time.time() - t0, 1), "pairs": n_pairs
            }
            print(json.dumps({"stage": "minhash", "docs": n_docs,
                              **results["minhash"]}), flush=True)
    if "decisions" in stages:
        run("decisions", lambda: {
            "drops": dedup_decisions(docs, pairs_df).filter("keep = false").count()
        })
    if "pipeline" in stages:
        out_dir = tempfile.mkdtemp(prefix="tckg_stress_kg_")

        def _pipeline():
            try:
                stats = materialize_graph(
                    build_triples(spark, src, PipelineConfig(canonicalize=True)),
                    out_dir, spark=spark, n_buckets=64,
                )
                return {"edges": stats["edges"], "vertices": stats["vertices"]}
            finally:
                shutil.rmtree(out_dir, ignore_errors=True)

        run("pipeline", _pipeline)
    if "postings" in stages:
        run("postings", lambda: {"rows": build_postings(docs).count()})
    if "linking" in stages:
        ents, _ = synthesize_entity_dictionary()
        terms = [e["entity"] for e in ents if e["domain"] == "数学实体"]
        dictionary = spark.createDataFrame([(t,) for t in terms], "entity string")
        mentions = (
            src.select(F.xxhash64("path").alias("h"))
            .withColumn("term", F.element_at(
                F.array(*[F.lit(t) for t in terms]),
                (F.pmod(F.col("h"), F.lit(len(terms))) + 1).cast("int")))
            .select(F.concat_ws("", "term", F.substring(F.hex("h"), 1, 4)).alias("mention"))
        )
        run("linking", lambda: {
            "links": link_entities(mentions, dictionary, min_score=0.5).count()
        })

    if "incdedup" in stages:
        # the O(new) claim measured: build the store over ~90% of the
        # corpus once, then curate the remaining ~10% incrementally --
        # the add step should cost a small fraction of the store build
        from textchunking_and_knowledgegraph_spark.plans.incremental_dedup import (
            add_documents,
            write_dedup_store,
        )

        half = F.pmod(F.xxhash64("doc_id"), F.lit(10))
        old = docs.filter(half != 0).select(F.col("doc_id").alias("id"), "text")
        new = docs.filter(half == 0).select(F.col("doc_id").alias("id"), "text")
        store = tempfile.mkdtemp(prefix="tckg_stress_inc_")

        def _inc():
            try:
                t0 = time.time()
                # store_text=True default: the build also persists (id, text)
                # so the add below runs SELF-CONTAINED (no old_corpus) --
                # this timing therefore includes the store-side text write
                write_dedup_store(spark, old, store, "minhash", threshold=0.9)
                build_s = round(time.time() - t0, 1)
                t1 = time.time()
                stats = add_documents(spark, store, new)
                add_s = round(time.time() - t1, 1)
                return {
                    "store_build_seconds": build_s,
                    "add_seconds_self_contained": add_s,
                    "new_docs": stats["new_docs"],
                    "new_drops": stats["new_duplicates_dropped"],
                }
            finally:
                shutil.rmtree(store, ignore_errors=True)

        run("incdedup", _inc)

    print(json.dumps({"metric": "stress_1p28M", "docs": n_docs, "stages": results}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
