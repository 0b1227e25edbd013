"""The benchmark's workloads: set-up, the timed operation, the gate and the
traced layer ledger.

``textbook_link``  whole CJK textbooks and a knowledge dictionary; one op is
                   ``build_triples`` with linking and canonicalization on,
                   then ``materialize_graph`` into a fresh directory.
``incremental_add`` a repo-style graph built in set-up; one op is one small
                   ``add_content`` batch, sent only after the previous one
                   committed (closed loop, one client).

Every call into the engine goes through its public entry points.
"""

from __future__ import annotations

import glob
import inspect
import os
import pstats
import shutil
import statistics
import time
from dataclasses import dataclass, field

from pyspark.sql import Observation
from pyspark.sql import functions as F

from textchunking_and_knowledgegraph_spark.functions.normalize import normalize_markdown
from textchunking_and_knowledgegraph_spark.operators.canonicalize import (
    canonicalize_triples,
    connected_components,
    normalization_alias_edges,
)
from textchunking_and_knowledgegraph_spark.operators.extract import (
    doc_facts,
    triples_from_facts,
)
from textchunking_and_knowledgegraph_spark.operators.linking import (
    banded,
    link_entities,
    link_triples_to_dictionary,
    with_minhash,
)
from textchunking_and_knowledgegraph_spark.plans.add_content import add_content
from textchunking_and_knowledgegraph_spark.plans.materialize import materialize_graph
from textchunking_and_knowledgegraph_spark.plans.pipeline import (
    PipelineConfig,
    build_triples,
    prepared_source,
)
from textchunking_and_knowledgegraph_spark.sources.io import scan_source

from . import corpus as gen
from .gate import check_graph
from .trace import Tracer, noop, run_ladder, tree_bytes

INPUT_REPEATS = 3  # input set-up runs this often per run; setup_s takes the median


@dataclass
class Context:
    spark: object
    tracer: Tracer
    work: str
    seed: int
    seconds: float
    info: dict = field(default_factory=dict)

    def path(self, *parts: str) -> str:
        return os.path.join(self.work, *parts)


def python_workers_warmup(spark) -> None:
    """Start one Python worker per core, pandas imported, so the first
    timed op does not pay PySpark's worker start-up.  The engine's own
    first-run costs (JIT of its plans) stay in the op: a one-shot build
    job pays them on every run, and warm-up builds enough to settle them
    would not fit the run's time budget."""

    def ident(batches):
        import pandas  # noqa: F401 -- the import is the warm-up

        yield from batches

    par = spark.sparkContext.defaultParallelism
    noop(spark.range(0, par, 1, par).mapInPandas(ident, "id long"))


def _timed_inputs(make) -> tuple[object, list[float]]:
    """Run the input set-up ``INPUT_REPEATS`` times; returns the last
    result and the seconds of each repeat."""
    times, result = [], None
    for _ in range(INPUT_REPEATS):
        t0 = time.perf_counter()
        result = make()
        times.append(time.perf_counter() - t0)
    return result, times


def _build_ladder(ctx: Context, src, cfg: PipelineConfig, out_dir: str, observed: dict) -> list:
    """Cumulative prefixes of one full build, each run to a noop sink; the
    last prefix is the full build into ``out_dir``."""
    spark = ctx.spark

    def normalized():
        df = scan_source(spark, src)
        return df.withColumn("content", F.when(
            F.col("lang").isin(*cfg.normalize_langs), normalize_markdown(F.col("content"))
        ).otherwise(F.col("content")))

    def facts():
        obs = Observation("facts")
        observed["facts"] = obs
        raw = (F.size(F.filter("spans", lambda s: s["level"] > 0))
               + F.size("spans") + F.size("trips"))
        return doc_facts(prepared_source(spark, src, cfg), overlap=cfg.overlap).observe(
            obs, F.sum(F.size("spans")).alias("chunks"), F.sum(raw).alias("raw"))

    def triples():
        return triples_from_facts(doc_facts(prepared_source(spark, src, cfg), overlap=cfg.overlap))

    def assembled():
        obs = Observation("triples")
        observed["triples"] = obs
        return triples().observe(obs, F.count(F.lit(1)).alias("out"))

    def linked():
        t = triples()
        return t.unionByName(link_triples_to_dictionary(t, cfg.dictionary))

    def full():
        shutil.rmtree(out_dir, ignore_errors=True)
        materialize_graph(build_triples(spark, src, cfg), out_dir,
                          checkpoint_dir=out_dir + ".ckpt", spark=spark)

    rungs = [
        ("sources.scan", lambda: noop(scan_source(spark, src))),
        ("functions.normalize", lambda: noop(normalized())),
        ("sources.salt", lambda: noop(prepared_source(spark, src, cfg))),
        ("operators.extract.doc_facts", lambda: noop(facts())),
        ("operators.extract.assemble", lambda: noop(assembled())),
    ]
    if cfg.link_entities:
        rungs.append(("operators.linking", lambda: noop(linked())))
    if cfg.link_entities or cfg.canonicalize:
        rungs.append(("operators.canonicalize",
                      lambda: noop(canonicalize_triples(linked() if cfg.link_entities else triples()))))
    rungs.append(("plans.materialize", full))
    return rungs


def _udf_profile(ctx: Context, src, cfg: PipelineConfig) -> dict:
    """In-UDF seconds of ``doc_facts`` split into chunking and extraction,
    from Spark's perf UDF profiler (cProfile in the workers, summed over
    all tasks)."""
    spark = ctx.spark
    spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")
    try:
        noop(doc_facts(prepared_source(spark, src, cfg), overlap=cfg.overlap))
    finally:
        spark.conf.unset("spark.sql.pyspark.udf.profiler")
    dump = ctx.path("profile")
    spark.profile.dump(dump, type="perf")
    spark.profile.clear(type="perf")
    chunk = extract = total = 0.0
    for f in glob.glob(os.path.join(dump, "*.pstats")):
        for (path, _, func), (_, _, _, ct, _) in pstats.Stats(f).stats.items():
            if path.endswith("chunker.py") and func == "_chunk_row":
                chunk += ct
            elif path.endswith("extract.py") and func.startswith("_extract_"):
                extract += ct
            elif path.endswith("extract.py") and func == "_map_batches":
                total += ct
    return {"operators.chunker.udf_s": chunk, "operators.extract.udf_s": extract,
            "operators.extract.udf_pack_s": max(0.0, total - chunk - extract)}


def span_overhead_s(ctx: Context, src, pairs: int = 5) -> float:
    """Cost of one span: interleaved untraced/traced runs of the cheapest
    traced call (the scan prefix), order alternating per pair, median
    difference.  Measured warm, after the ladder, so warm-up order does
    not masquerade as overhead."""
    untraced, traced = [], []
    for k in range(pairs):
        for with_span in ((False, True) if k % 2 == 0 else (True, False)):
            start = time.perf_counter()
            if with_span:
                with ctx.tracer.span("probe:sources.scan"):
                    noop(scan_source(ctx.spark, src))
            else:
                noop(scan_source(ctx.spark, src))
            (traced if with_span else untraced).append(time.perf_counter() - start)
    return statistics.median(traced) - statistics.median(untraced)


def _ladder_metrics(ladder: dict) -> dict:
    def self_s(name):
        return ladder[name]["self_s"] if name in ladder else 0.0

    def jobs(*names):
        return sum(ladder[n]["jobs"] for n in names if n in ladder)

    last_triples = [n for n in ladder if n != "plans.materialize"][-1]
    return {
        "sources.scan_s": self_s("sources.scan"),
        "sources.salt_s": self_s("sources.salt"),
        "sources.jobs": jobs("sources.scan", "sources.salt"),
        "functions.normalize_s": self_s("functions.normalize"),
        "operators.extract.doc_facts_s": self_s("operators.extract.doc_facts"),
        "operators.extract.assemble_s": self_s("operators.extract.assemble"),
        "operators.extract.jobs": jobs("operators.extract.doc_facts", "operators.extract.assemble"),
        "operators.linking.link_s": self_s("operators.linking"),
        "operators.linking.jobs": jobs("operators.linking"),
        "operators.canonicalize.cc_s": self_s("operators.canonicalize"),
        "operators.canonicalize.jobs": jobs("operators.canonicalize"),
        "plans.pipeline.triples_s": ladder[last_triples]["prefix_s"],
        "plans.pipeline.jobs": ladder[last_triples]["prefix_jobs"],
        "plans.materialize.write_s": self_s("plans.materialize"),
        "plans.materialize.jobs": jobs("plans.materialize"),
        # the self times partition the last prefix, a traced full build
        "ledger.self_sum_s": sum(v["self_s"] for v in ladder.values()),
        "ledger.traced_op_s": ladder["plans.materialize"]["prefix_s"],
    }


def _count_metrics(observed: dict) -> dict:
    facts, trips = observed["facts"].get, observed["triples"].get
    raw, out = facts["raw"] or 0, trips["out"] or 0
    return {
        "operators.chunker.chunks": facts["chunks"] or 0,
        "operators.extract.triples_raw": raw,
        "operators.extract.triples_out": out,
        "operators.extract.dedup_keep_ratio": out / raw if raw else 0.0,
    }


def _graph_metrics(graph_dir: str, input_bytes: int) -> dict:
    files = tree_bytes(graph_dir)
    written = sum(files.values())
    return {
        "plans.materialize.bytes_written": written,
        "plans.materialize.files_written": len(files),
        "plans.materialize.bytes_per_input_byte": written / input_bytes,
    }


class TextbookLink:
    name = "textbook_link"
    op_metric = "build_s"
    N_BOOKS = 20  # >= 4 x the 5 dictionary roots, so every heading variant occurs
    CHAPTERS_PER_BOOK = 6

    def setup(self, ctx: Context) -> list[float]:
        def make():
            c = gen.textbook_corpus(ctx.seed, self.N_BOOKS, self.CHAPTERS_PER_BOOK)
            c.write(ctx.path("src", "books.parquet"))
            gen.write_dictionary(c.dictionary, ctx.path("src", "dictionary.parquet"))
            return c

        self.corpus, input_times = _timed_inputs(make)
        ctx.info.update(docs=len(self.corpus.rows), input_mb=self.corpus.content_bytes / 1e6)
        self.src = ctx.path("src", "books.parquet")
        dictionary = ctx.spark.read.parquet(ctx.path("src", "dictionary.parquet"))
        self.cfg = PipelineConfig(link_entities=True, canonicalize=True, dictionary=dictionary)
        python_workers_warmup(ctx.spark)
        return input_times

    def op(self, ctx: Context, i: int) -> None:
        out = ctx.path("graphs", f"op{i}")
        stats = materialize_graph(build_triples(ctx.spark, self.src, self.cfg), out,
                                  checkpoint_dir=out + ".ckpt", spark=ctx.spark)
        if stats["edges"] <= 0 or stats["vertices"] <= 0:
            raise RuntimeError(f"empty graph: {stats}")
        self.last = out

    def gate(self, ctx: Context) -> dict:
        return check_graph(self.last, self.corpus)

    def ledger(self, ctx: Context) -> dict:
        observed: dict = {}
        out = ctx.path("graphs", "ladder")
        ladder = run_ladder(ctx.tracer, _build_ladder(ctx, self.src, self.cfg, out, observed))
        m = {**_ladder_metrics(ladder), **_count_metrics(observed),
             **_graph_metrics(out, self.corpus.content_bytes),
             **_udf_profile(ctx, self.src, self.cfg), **self._link_counts(ctx)}
        return m

    def _link_counts(self, ctx: Context) -> dict:
        """Work counts of linking and canonicalization, rebuilt untimed from
        the engine's public helpers (candidates with ``with_minhash`` and
        ``banded`` at ``link_entities``' defaults)."""
        spark, d = ctx.spark, self.cfg.dictionary
        t = triples_from_facts(doc_facts(prepared_source(spark, self.src, self.cfg)))
        t = t.localCheckpoint(eager=True)
        mentions = (t.filter(F.col("subj_type") == "section")
                    .select(F.col("subj").alias("mention")).distinct())
        linked = link_triples_to_dictionary(t, d).localCheckpoint(eager=True)
        n_mentions, n_links = mentions.count(), linked.count()
        defaults = inspect.signature(link_entities).parameters
        n_perm, bands = defaults["n_perm"].default, defaults["bands"].default
        mb = banded(with_minhash(mentions, "mention", n_perm), bands, n_perm // bands)
        db = banded(with_minhash(d.select("entity"), "entity", n_perm), bands, n_perm // bands)
        n_cands = mb.join(db, ["band_id", "band_hash"]).select("mention", "entity").distinct().count()
        both = t.unionByName(linked)
        names = (both.select(F.col("subj").alias("name"), F.col("subj_type").alias("t"))
                 .union(both.select("obj", "obj_type"))
                 .filter(F.col("t") != "chunk").select("name").distinct())
        alias = normalization_alias_edges(names).localCheckpoint(eager=True)
        n_alias = alias.count()
        n_comp = (connected_components(alias).select("component").distinct().count()
                  if n_alias else 0)
        return {
            "operators.linking.mentions": n_mentions,
            "operators.linking.links": n_links,
            "operators.linking.link_ratio": n_links / n_mentions if n_mentions else 0.0,
            "operators.linking.candidates_per_link": n_cands / n_links if n_links else 0.0,
            "operators.canonicalize.alias_edges": n_alias,
            "operators.canonicalize.components": n_comp,
        }


class IncrementalAdd:
    name = "incremental_add"
    op_metric = "add_p50_s"
    # base graph: every archetype, six code languages, giant lines, mega-repo skew
    BASE = dict(n_markdown=150, n_code=750, n_prose=250, n_giant=8)
    BATCH = dict(n_markdown=3, n_code=9, n_prose=3, n_giant=0)  # 15 docs
    MIN_BATCH_S = 1.0  # pre-generated batches must outlast the timed loop

    def setup(self, ctx: Context) -> list[float]:
        n_batches = int(2 * ctx.seconds / self.MIN_BATCH_S) + 4

        def make():
            base = gen.repo_corpus(ctx.seed, **self.BASE)
            base.write(ctx.path("src", "base.parquet"))
            batches = []
            for k in range(n_batches):
                b = gen.repo_corpus(ctx.seed, first_index=1_000_000 + 1_000 * k, **self.BATCH)
                b.write(ctx.path("src", f"batch{k}.parquet"))
                batches.append(b)
            return base, batches

        (self.base, self.batches), input_times = _timed_inputs(make)
        self.src = ctx.path("src", "base.parquet")
        ctx.info.update(docs=len(self.base.rows), input_mb=self.base.content_bytes / 1e6,
                        batch_docs=len(self.batches[0].rows))
        self.graph = ctx.path("graphs", "live")
        self.used = 0
        spark = ctx.spark
        materialize_graph(build_triples(spark, self.src), self.graph,
                          checkpoint_dir=self.graph + ".ckpt", spark=spark)
        return input_times

    def op(self, ctx: Context, i: int) -> dict:
        if self.used >= len(self.batches):
            raise RuntimeError("ran out of pre-generated batches")
        k, self.used = self.used, self.used + 1
        batch = ctx.spark.read.parquet(ctx.path("src", f"batch{k}.parquet"))
        stats = add_content(ctx.spark, self.graph, batch, checkpoint_dir=self.graph + ".ckpt")
        if stats["new_edges"] <= 0:
            raise RuntimeError(f"batch {k} added no edges: {stats}")
        return stats

    def _added(self) -> gen.Corpus:
        c = gen.Corpus(list(self.base.rows), set(self.base.goldens))
        for b in self.batches[: self.used]:
            c.extend(b)
        return c

    def gate(self, ctx: Context) -> dict:
        spark = ctx.spark
        paths = [self.src] + [
            ctx.path("src", f"batch{k}.parquet") for k in range(self.used)]
        ref = ctx.path("graphs", "from_scratch")
        materialize_graph(build_triples(spark, spark.read.parquet(*paths)), ref, spark=spark)
        return check_graph(self.graph, self._added(), reference_dir=ref)

    def ledger(self, ctx: Context) -> dict:
        observed: dict = {}
        out = ctx.path("graphs", "ladder")
        cfg = PipelineConfig()
        ladder = run_ladder(ctx.tracer, _build_ladder(ctx, self.src, cfg, out, observed))
        m = {**_ladder_metrics(ladder), **_count_metrics(observed),
             **_graph_metrics(out, self.base.content_bytes), **_udf_profile(ctx, self.src, cfg)}
        shutil.rmtree(out, ignore_errors=True)
        m.update(self._add_split(ctx))  # the op here is an add batch, not a build
        return m

    def _add_split(self, ctx: Context) -> dict:
        """Per-batch split of ``add_content``: building the batch's triples
        (a noop prefix) against the whole call, plus its write volume."""
        spark, builds, adds, jobs, buckets = ctx.spark, [], [], [], []
        rewritten = new_edges = 0
        for _ in range(2):
            k = self.used
            batch = spark.read.parquet(ctx.path("src", f"batch{k}.parquet"))
            with ctx.tracer.span("prefix:plans.add_content.build") as rec:
                noop(build_triples(spark, batch))
            builds.append(rec["seconds"])
            before = tree_bytes(self.graph)
            with ctx.tracer.span("plans.add_content") as rec:
                stats = self.op(ctx, -1)
            after = tree_bytes(self.graph)
            adds.append(rec["seconds"])
            jobs.append(rec["jobs"])
            buckets.append(len(stats["affected_buckets"]))
            rewritten += sum(size for p, size in after.items() if p not in before)
            new_edges += stats["new_edges"]
        edge_files = len(tree_bytes(os.path.join(self.graph, "edges")))
        return {
            # the add op's own two-rung ladder: batch triples, then merge and write
            "ledger.self_sum_s": statistics.median(adds),
            "ledger.traced_op_s": statistics.median(adds),
            "plans.add_content.build_s": statistics.median(builds),
            "plans.add_content.merge_write_s": statistics.median(adds) - statistics.median(builds),
            "plans.add_content.jobs_per_batch": statistics.median(jobs),
            "plans.add_content.affected_buckets": statistics.median(buckets),
            "plans.add_content.bytes_rewritten_per_new_edge": rewritten / new_edges,
            "plans.add_content.edge_files": edge_files,
        }


WORKLOADS = {w.name: w for w in (TextbookLink, IncrementalAdd)}
