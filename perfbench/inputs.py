"""Seeded workload inputs. The engine only ever sees what these return.

Every generator is a pure function of its arguments, so one seed gives the
same corpus, query stream, serving batches and ingest batches in every run.
"""

from __future__ import annotations

import re

import numpy as np

from lucene_spark.corpus import _IDENT_STEMS, _KEYWORDS, make_corpus_rows, make_query_set

# corpus_df draws zipf-tail terms from zw0..zw1999 with p ~ 1/rank^1.1
ZIPF_VOCAB = 2000
HOT_TERMS = ["license", "apache", "version", "notice", "index", "writer",
             "reader", "merge", "score", "public", "return"]


def query_pool() -> list[tuple[str, int]]:
    """The 25 make_query_set() shapes, each with its own k."""
    return [(q, k) for _, q, k in make_query_set()]


def _zipf_term(rng: np.random.Generator) -> str:
    return f"zw{min(int(rng.zipf(1.1)) - 1, ZIPF_VOCAB - 1)}"


# one round of single_stream: (op, kind of query)
SINGLE_ROUND = ([("search", k) for k in ("pool",) * 4 + ("hot", "zipf", "and", "or")]
                + [("count", k) for k in ("multi", "multi", "and", "or")])


def single_stream(seed: int):
    """Endless (op, query, k) for the single-call workload, in rounds of twelve
    calls whose mix is the same in every run, in a seeded order:

    - eight search() calls: four make_query_set() shapes, one hot keyword,
      one zipf-tail term, one term AND keyword, one term OR identifier;
    - four count() calls: two make_query_set() shapes that read postings,
      one term AND keyword, one term OR identifier. A plain term's count
      is answered from the term dictionary, which would make the count
      latency bimodal.

    The make_query_set() shapes are taken in a seeded cyclic order."""
    rng = np.random.default_rng([seed, 1])
    pool = query_pool()
    multi = [(q, k) for q, k in pool if not re.fullmatch(r"[a-z0-9]+", q)]
    shapes = {"pool": _cycle(rng, pool), "multi": _cycle(rng, multi)}

    def make(kind: str) -> tuple[str, int]:
        if kind in shapes:
            return next(shapes[kind])
        if kind == "hot":
            return HOT_TERMS[int(rng.integers(len(HOT_TERMS)))], 10
        if kind == "zipf":
            return _zipf_term(rng), 10
        if kind == "and":
            return f"{_zipf_term(rng)} AND {_KEYWORDS[int(rng.integers(len(_KEYWORDS)))]}", 10
        return f"{_zipf_term(rng)} OR {_IDENT_STEMS[int(rng.integers(len(_IDENT_STEMS)))]}", 10

    while True:
        for i in rng.permutation(len(SINGLE_ROUND)):
            op, kind = SINGLE_ROUND[i]
            yield (op, *make(kind))


def _cycle(rng: np.random.Generator, items: list):
    """Endless seeded permutations of `items`."""
    while True:
        for i in rng.permutation(len(items)):
            yield items[i]


def serving_batch(seed: int, n: int) -> dict[str, str]:
    """n query instances in the shape of bench.make_serving_batch (single
    zipf term, term AND keyword, term OR term, three-term default OR), with
    seeded terms. Query strings may repeat within a batch, as in a real
    serving mix."""
    rng = np.random.default_rng([seed, 2])
    batch = {}
    for i in range(n):
        z1, z2 = _zipf_term(rng), _zipf_term(rng)
        kw = _KEYWORDS[int(rng.integers(len(_KEYWORDS)))]
        batch[f"q{i}"] = [z1, f"{z1} AND {kw}", f"{z1} OR {z2}",
                          f"{kw} {z1} {z2}"][i % 4]
    return batch


def fresh_counts(seed: int, batch: int, first_doc: int, size: int) -> list[str]:
    """Three count() queries for the snapshot after commit `batch`; each
    reads postings, and one matches a document of the new batch."""
    rng = np.random.default_rng([seed, 4, batch])
    hot = HOT_TERMS[int(rng.integers(len(HOT_TERMS)))]
    kw = _KEYWORDS[int(rng.integers(len(_KEYWORDS)))]
    stem = _IDENT_STEMS[int(rng.integers(len(_IDENT_STEMS)))]
    new = first_doc + int(rng.integers(size))
    return [f"{hot} AND {_zipf_term(rng)}", f"uid{new}sing OR {_zipf_term(rng)}", f"{stem} -{kw}"]


def ingest_rows(seed: int, base_docs: int, batch: int, size: int):
    """Source rows of ingest micro-batch `batch`: doc indices continue after
    the bulk corpus, so every ingested row is new."""
    start = base_docs + batch * size
    return make_corpus_rows(range(start, start + size), seed)
