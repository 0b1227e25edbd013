"""Seeded workload generator for the KG-pipeline benchmark.

Every document comes from an archetype in the engine's
``sources/synthetic.py`` (markdown textbook chapters, six code languages,
SVO prose), scaled up by calling the archetype with a fresh, corpus-unique
index.  The archetypes embed that index in titles, paths and symbol names,
so no two replicas share content and MERGE dedup cannot collapse them.
The goldens each archetype returns are collected as the documents are
made, so precision and recall stay checkable at benchmark size.

Nothing here imports Spark: the same seed gives the same rows, goldens and
dictionary, and the rows are written with pyarrow, so input set-up does
not depend on the engine under test.
"""

from __future__ import annotations

import functools
import hashlib
import os
import random
from dataclasses import dataclass, field

import pyarrow as pa
import pyarrow.parquet as pq

from textchunking_and_knowledgegraph_spark.sources import synthetic as syn

Triple = tuple[str, str, str]

MEGA_REPO = "org/mega-repo"
MEGA_SHARE = 0.5  # the north-rule skew: one repo holds half of all rows
GIANT_LINE = 12_000
CODE_ARCHETYPES = [
    (syn._python_doc, "python"),
    (syn._js_doc, "javascript"),
    (syn._java_doc, "java"),
    (syn._go_doc, "go"),
    (syn._rust_doc, "rust"),
    (syn._cpp_doc, "cpp"),
]
# predicates the goldens cover: section hierarchy, code facts, SVO prose
GOLDEN_PREDS = (
    "同位", "上位", "imports", "defines", "calls", "inherits", "implements",
    "manages", "uses", "contains", "includes",
)

_SCHEMA = pa.schema(
    [
        ("repo", pa.string()),
        ("path", pa.string()),
        ("commit", pa.string()),
        ("lang", pa.string()),
        ("content", pa.string()),
    ]
)


@dataclass
class Corpus:
    rows: list[dict]
    goldens: set[Triple]
    dictionary: list[str] = field(default_factory=list)

    @property
    def content_bytes(self) -> int:
        return sum(len(r["content"].encode()) for r in self.rows)

    @property
    def shas(self) -> set[str]:
        """sha256 of every row's raw content -- the lineage invariant."""
        return {hashlib.sha256(r["content"].encode()).hexdigest() for r in self.rows}

    def extend(self, other: Corpus) -> None:
        self.rows.extend(other.rows)
        self.goldens |= other.goldens

    def write(self, path: str) -> None:
        """One parquet file: a single-split source, so the engine's
        small-source salted repartition is part of every build."""
        os.makedirs(os.path.dirname(path), exist_ok=True)
        pq.write_table(pa.Table.from_pylist(self.rows, schema=_SCHEMA), path)


def write_dictionary(entries: list[str], path: str) -> None:
    """The entity dictionary as a one-column (``entity``) parquet file."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(pa.table({"entity": pa.array(entries, pa.string())}), path)


def _commit(seed: int, key: str) -> str:
    return hashlib.sha1(f"{seed}:{key}".encode()).hexdigest()


def _repo(rng: random.Random, n_repos: int) -> str:
    if rng.random() < MEGA_SHARE:
        return MEGA_REPO
    return f"org/repo{rng.randrange(n_repos)}"


def repo_corpus(
    seed: int,
    n_markdown: int,
    n_code: int,
    n_prose: int,
    n_giant: int,
    first_index: int = 0,
    n_repos: int = 24,
) -> Corpus:
    """The north-rule source table ``(repo, path, commit, lang, content)``:
    markdown chapters, many small files across all six code languages, SVO
    prose, giant single lines, a few empty/whitespace/TOC edge rows, and the
    mega-repo skew.  Indices start at ``first_index`` so that disjoint
    batches of one corpus can be generated separately."""
    rng = random.Random(seed * 1_000_003 + first_index)
    rows: list[dict] = []
    goldens: set[Triple] = set()
    i0 = first_index

    for i in range(i0, i0 + n_markdown):
        content, g = syn._markdown_doc(rng, i)
        rows.append(dict(repo=_repo(rng, n_repos), path=f"books/chapter_{i}.md",
                         commit=_commit(seed, f"md{i}"), lang="markdown", content=content))
        goldens.update(g)
    for i in range(i0, i0 + n_code):
        make, lang = CODE_ARCHETYPES[i % len(CODE_ARCHETYPES)]
        content, g, path = make(rng, i)
        rows.append(dict(repo=_repo(rng, n_repos), path=path,
                         commit=_commit(seed, f"code{i}"), lang=lang, content=content))
        goldens.update(g)
    for i in range(i0, i0 + n_prose):
        content, g = syn._prose_doc(rng, i)
        # trailing tag keeps every replica's sha distinct; it matches no
        # SVO pattern (no verb follows it)
        rows.append(dict(repo=_repo(rng, n_repos), path=f"notes/note_{i}.txt",
                         commit=_commit(seed, f"txt{i}"), lang="text",
                         content=f"{content} Ref P{i}"))
        goldens.update(g)
    for i in range(i0, i0 + n_giant):
        rows.append(dict(repo=_repo(rng, n_repos), path=f"dumps/giant_{i}.txt",
                         commit=_commit(seed, f"giant{i}"), lang="text",
                         content="噪" * GIANT_LINE + f"G{i}"))
    if n_giant:
        # edge rows that must yield nothing: empty, whitespace-only, TOC
        for kind, lang, content in [
            ("empty", "text", ""),
            ("ws", "text", "   \n\t  \n"),
            ("toc", "markdown", f"# 目录\n第一章 函数\n第二章 集合T{i0}"),
        ]:
            rows.append(dict(repo=_repo(rng, n_repos), path=f"edge/{kind}_{i0}",
                             commit=_commit(seed, f"{kind}{i0}"), lang=lang,
                             content=content))
    rng.shuffle(rows)
    return Corpus(rows, goldens)


# ---------------------------------------------------------------------------
# textbook_link: whole textbooks plus a knowledge dictionary
# ---------------------------------------------------------------------------


def _dict_terms() -> list[str]:
    """Textbook knowledge terms in tree order (roots first)."""
    entities, _ = syn.synthesize_entity_dictionary()
    return [e["entity"] for e in entities if e["domain"] != "code_symbol"]


def heading_variants(term: str) -> list[str]:
    """Cross-book spellings of one heading, as they read after the engine's
    book-path normalization: the term itself, the possessive-less form
    (函数的概念 / 函数概念), a spaced form, and a full-width-comma form
    (``，`` is normalized to ``,``).  All share one normalized name key,
    so canonicalization must merge them."""
    cut = 1 if len(term) < 3 else 2
    out = [term, term.replace("的", ""), f"{term[:cut]} {term[cut:]}",
           f"{term[:cut]},{term[cut:]}"]
    return list(dict.fromkeys(out))


def _raw_heading(variant: str) -> str:
    # what the book carries before normalization: the full-width comma
    return variant.replace(",", "，")


def _knowledge_chapter(rng: random.Random, root: str, pick: int) -> tuple[str, list[Triple]]:
    """A chapter whose headings are spelling variants of dictionary terms
    (root, children, grandchildren); ``pick`` selects the spellings, so
    books with different picks spell the same terms differently.  Goldens
    use canonical spellings."""
    tree = syn._DICT_TREE

    def variant(term: str, k: int) -> str:
        vs = heading_variants(term)
        return vs[k % len(vs)]

    lines: list[str] = []
    goldens: list[Triple] = []
    chap = variant(root, pick)
    lines += [f"# {_raw_heading(chap)}", syn._cjk_sentences(rng, 6, f"B{pick}K")]
    goldens.append((canonical(chap), "同位", canonical(chap)))
    for j, child in enumerate(tree.get(root, [])):
        sec = variant(child, pick + j)
        lines += [f"## {_raw_heading(sec)}", syn._cjk_sentences(rng, 5, f"B{pick}K{j}")]
        goldens.append((canonical(chap), "上位", canonical(sec)))
        for k, grand in enumerate(tree.get(child, [])):
            sub = variant(grand, pick + j + k)
            lines += [f"### {_raw_heading(sub)}",
                      syn._cjk_sentences(rng, 4, f"B{pick}K{j}.{k}")]
            goldens.append((canonical(sec), "上位", canonical(sub)))
    return "\n".join(lines), goldens


@functools.cache
def _canon_map() -> dict[str, str]:
    return {v: min(heading_variants(t)) for t in _dict_terms() for v in heading_variants(t)}


def canonical(name: str) -> str:
    """Canonical spelling of a heading: the smallest member of its variant
    family (connected components label each component with its minimum).
    Names outside every family are their own canonical form."""
    return _canon_map().get(name, name)


def textbook_corpus(seed: int, n_books: int, chapters_per_book: int) -> Corpus:
    """Whole CJK textbooks: each book is many archetype chapters (heading
    trees, tables, images, 练习 sections) plus knowledge chapters whose
    headings are cross-book spelling variants of the dictionary terms.
    Every variant of every term appears in some book once ``n_books``
    covers roots x variants, which ``n_books >= 4 * len(roots)`` does.

    The dictionary is derived from the corpus: every variant spelling,
    the engine's ``synthesize_entity_dictionary`` entities, and the title
    of every archetype chapter."""
    rng = random.Random(seed)
    roots = [t for t in syn._DICT_TREE if all(t not in k for k in syn._DICT_TREE.values())]
    rows: list[dict] = []
    goldens: set[Triple] = set()
    dictionary: set[str] = set()
    idx = 0
    for b in range(n_books):
        parts: list[str] = []
        for _ in range(chapters_per_book):
            content, g = syn._markdown_doc(rng, idx)
            idx += 1
            parts.append(content)
            goldens.update(g)
            dictionary.add(g[0][0])  # the chapter title
        root = roots[b % len(roots)]
        k_content, k_goldens = _knowledge_chapter(rng, root, b // len(roots))
        parts.insert(rng.randrange(len(parts) + 1), k_content)
        goldens.update(k_goldens)
        rows.append(dict(repo=f"press/book{b % 4}", path=f"textbooks/book_{b}.md",
                         commit=_commit(seed, f"book{b}"), lang="markdown",
                         content="\n".join(parts)))
    entities, _ = syn.synthesize_entity_dictionary()
    dictionary.update(e["entity"] for e in entities)
    for term in _dict_terms():
        dictionary.update(heading_variants(term))
    return Corpus(rows, goldens, sorted(dictionary))
