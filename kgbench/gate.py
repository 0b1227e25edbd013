"""Output-correctness gate, run untimed on a committed graph.

The graph is read back with pyarrow, independently of the engine, and
checked in Python:
  - precision and recall >= 0.95 on the hierarchy, code and SVO predicates
    against the workload's goldens;
  - every edge ``sha`` is the sha256 of some source row (only ``linked_to``
    edges, which have no source row, may carry a null sha);
  - the edge key ``(subj, pred, obj, sha)`` is unique;
  - the vertex table covers every edge endpoint;
  - every ``linked_to`` object is a dictionary entry, and a workload
    with a dictionary links at least one section;
  - optionally, the edge-key set equals a reference graph's.
"""

from __future__ import annotations

import os

import pyarrow.dataset as ds

from .corpus import GOLDEN_PREDS

MIN_PR = 0.95
_EDGE_COLS = ["subj", "pred", "obj", "subj_type", "obj_type", "sha"]


def _rows(graph_dir: str, table: str, cols: list[str]) -> list[tuple]:
    t = ds.dataset(os.path.join(graph_dir, table), format="parquet",
                   partitioning="hive").to_table(columns=cols)
    return list(zip(*(t.column(c).to_pylist() for c in cols)))


def _keys(edges: list[tuple]) -> set[tuple]:
    return {(s, p, o, sha) for s, p, o, _, _, sha in edges}


def check_graph(graph_dir: str, corpus, reference_dir: str | None = None) -> dict:
    """Run every check; returns {check_ok: bool, ..., 'precision', 'recall'}."""
    edges = _rows(graph_dir, "edges", _EDGE_COLS)
    got = {(s, p, o) for s, p, o, *_ in edges if p in GOLDEN_PREDS}
    tp = len(got & corpus.goldens)
    precision = tp / len(got) if got else 0.0
    recall = tp / len(corpus.goldens) if corpus.goldens else 0.0
    out: dict = {"precision": precision, "recall": recall,
                 "pr_ok": precision >= MIN_PR and recall >= MIN_PR}

    source_shas = corpus.shas
    out["sha_ok"] = all(
        sha in source_shas if sha is not None else p == "linked_to"
        for _, p, _, _, _, sha in edges
    )
    keys = _keys(edges)
    out["key_unique_ok"] = len(keys) == len(edges)

    vertices = set(_rows(graph_dir, "vertices", ["name", "type"]))
    endpoints = {(s, st) for s, _, _, st, _, _ in edges} | {(o, ot) for _, _, o, _, ot, _ in edges}
    out["vertices_cover_ok"] = endpoints <= vertices

    linked = {o for _, p, o, *_ in edges if p == "linked_to"}
    out["linked_objects"] = len(linked)
    out["linked_in_dictionary_ok"] = linked <= set(corpus.dictionary)
    if corpus.dictionary:
        # a linking workload that links nothing is not measuring linking
        out["links_present_ok"] = bool(linked)

    if reference_dir is not None:
        out["equals_reference_ok"] = keys == _keys(_rows(reference_dir, "edges", _EDGE_COLS))
    out["edges"] = len(edges)
    out["ok"] = all(v for k, v in out.items() if k.endswith("_ok"))
    return out
