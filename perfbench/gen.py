"""Seeded input generators. The same seed always yields the same inputs.

- pages: the pipeline's own ``sources.corpus.write_corpus`` (ingest.py)
  writes them into a directory the benchmark owns; ``read_rows`` reads
  them back with pyarrow for the pure-Python oracle.
- ``curate_documents``: a ``documents(doc_id, text)`` table with planted
  near-duplicate clusters (skewed sizes, one dense cluster) and the
  ground-truth cluster list.
- ``search_requests``: search requests whose terms are drawn by Zipf rank
  from the ingested corpus's vocabulary and whose entities come from the
  gazetteers.
"""

from __future__ import annotations

import itertools
import os
import random
from collections import Counter

import pyarrow.parquet as pq

# dedup threshold of operators.dedup.minhash_lsh_dedup (its default)
LSH_MIN_JACCARD = 0.8
SHINGLE_N = 3
TOP_TERMS = 200          # search terms are drawn from this many top terms
PER_KIND = 3             # distinct search requests of each kind


def read_rows(path: str, columns=None) -> list[dict]:
    """A parquet file or directory as a list of row dicts (no Spark)."""
    return pq.read_table(path, columns=columns).to_pylist()


def zipf_sampler(rng: random.Random, n: int, s: float = 1.1):
    """Draw ranks 0..n-1 with P(rank r) ∝ 1 / (r + 1)^s."""
    weights = [1.0 / (r + 1) ** s for r in range(n)]
    cum = list(itertools.accumulate(weights))
    return lambda: rng.choices(range(n), cum_weights=cum, k=1)[0]


# --- curate: planted near-duplicate clusters ---------------------------------

_SYLLABLES = ("ka ro mi ten sa lu vor ni pe das gri mo tal ur sen fi ba "
              "kel tri no ja wen ost ha bre lin dor mu ve zi pra qua").split()


def _vocabulary(rng: random.Random, size: int) -> list[str]:
    words: set[str] = set()
    while len(words) < size:
        words.add("".join(rng.choice(_SYLLABLES)
                          for _ in range(rng.randint(2, 4))))
    return sorted(words)


def shingle_set(text: str) -> set[str]:
    """Word SHINGLE_N-grams of whitespace-normalized lowercase text (the
    same canonical form operators.dedup.shingles uses)."""
    toks, n = text.lower().split(), SHINGLE_N
    if len(toks) < n:
        return {" ".join(toks)}
    return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}


def jaccard(a: set, b: set) -> float:
    return len(a & b) / len(a | b)


def _cluster_sizes(rng: random.Random, n_docs: int) -> list[int]:
    """Skewed cluster sizes covering ~40% of the table: one dense cluster,
    a Zipf-like tail of mid-sized ones, then many pairs."""
    budget = int(n_docs * 0.4)
    sizes = [max(20, n_docs // 40)]
    mid = [12, 9, 7, 6, 5, 5, 4, 4, 4, 3, 3, 3, 3]
    rng.shuffle(mid)
    sizes += mid
    while sum(sizes) + 2 <= budget:
        sizes.append(2 if rng.random() < 0.7 else 3)
    return sizes


def _variant(rng: random.Random, toks: list[str], vocab: list[str],
             at_end: bool) -> list[str]:
    """One-word substitution. ``at_end`` edits the last word, which changes
    a single shingle: the pair's Jaccard stays ≈0.99, so banded MinHash
    cannot miss a two-document cluster."""
    out = list(toks)
    i = len(out) - 1 if at_end else rng.randrange(len(out))
    out[i] = rng.choice(vocab)
    return out


def curate_documents(n_docs: int, seed: int):
    """Returns (rows, clusters): rows are (doc_id, text) tuples in a
    seeded order; clusters are the planted near-duplicate groups as
    sorted doc_id lists (every other doc is unique)."""
    rng = random.Random(seed)
    vocab = _vocabulary(rng, 3000)
    word = zipf_sampler(rng, len(vocab), s=1.0)
    ids = rng.sample(range(1, 2 ** 31), n_docs)

    def doc() -> list[str]:
        return [vocab[word()] for _ in range(rng.randint(200, 320))]

    texts: list[list[str]] = []
    clusters: list[list[int]] = []
    for size in _cluster_sizes(rng, n_docs):
        base = doc()
        members = [base]
        for _ in range(size - 1):
            if rng.random() < 0.05:
                members.append(list(base))               # exact re-crawl
            else:
                members.append(_variant(rng, base, vocab, at_end=size == 2))
        start = len(texts)
        texts += members
        clusters.append(list(range(start, start + size)))
    while len(texts) < n_docs:
        texts.append(doc())
    rows = [(ids[i], " ".join(t)) for i, t in enumerate(texts)]
    clusters = [sorted(ids[i] for i in c) for c in clusters]
    rng.shuffle(rows)
    return rows, clusters


def planted_pairs_above(rows, clusters, threshold: float) -> list[tuple]:
    """Ground truth: planted pairs whose true n-gram Jaccard ≥ threshold."""
    text = dict(rows)
    out = []
    for c in clusters:
        sh = {k: shingle_set(text[k]) for k in c}
        out += [(a, b) for a, b in itertools.combinations(c, 2)
                if jaccard(sh[a], sh[b]) >= threshold]
    return out


# --- search: Zipf-drawn request stream ---------------------------------------

def corpus_vocabulary(texts) -> list[str]:
    """TOP_TERMS most frequent alphabetic terms of the ingested corpus, by
    rank — tokenized like operators.search (lowercase, whitespace split)."""
    counts = Counter(t for text in texts if text
                     for t in text.lower().split() if t.isalpha())
    return [w for w, _ in counts.most_common(TOP_TERMS)]


def gazetteer_urls(corpus_dir: str) -> list[str]:
    urls = []
    for name in ("persons", "places", "orgs"):
        urls += [r["url"] for r in read_rows(
            os.path.join(corpus_dir, f"{name}.parquet"))]
    return urls


def search_requests(seed: int, vocab: list[str],
                    entity_urls: list[str]) -> list[dict]:
    """PER_KIND distinct requests of each kind: BM25 and layered
    queries of 1-3 terms drawn by Zipf rank from ``vocab``, and lookups of
    entities drawn from the gazetteers."""
    rng = random.Random(seed)
    term = zipf_sampler(rng, len(vocab))
    requests = []
    for kind in ("bm25", "layered"):
        for _ in range(PER_KIND):
            terms = sorted({vocab[term()] for _ in range(rng.randint(1, 3))})
            requests.append({"kind": kind, "terms": terms})
    for url in rng.sample(entity_urls, PER_KIND):
        requests.append({"kind": "entity", "object": url})
    return requests
