"""Seeded inputs for the benchmark workloads, and their exact answers.

Two generators, both pure numpy/pandas and a function of the seed only:

- ``gen_pages``: Common-Crawl-style pages shaped after FIXTURES.md §1
  (``url``, ``text``, ``lang``) plus the ``site`` key the sketch
  pipeline groups by and ``n_chars``. Text tokens come from a Zipf(1.2)
  vocabulary, lengths are lognormal, and ``lang`` is skewed
  60/20/10/7/3. The HTML and timestamp columns of §1 are left out:
  nothing in the workload reads them.
- ``gen_documents``: the scheme of the ``documents`` test table that
  ``tools/gen_scale_data.py`` reproduces (30-word vocabulary, 10..100
  words, 5% of documents an earlier document plus `` dup``). It is
  restated here so that the benchmark depends on no file outside its
  own directory.

The oracles (exact per-key distinct counts, exact quantile ranks, exact
token counts, exact near-duplicate pairs and components) are computed
from the same arrays, outside every timer.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

LANGS = np.array(["en", "de", "fr", "es", "zh"])
LANG_WEIGHTS = [0.6, 0.2, 0.1, 0.07, 0.03]


# ---------------------------------------------------------------- pages
def gen_pages(n: int, n_sites: int, vocab_size: int, seed: int):
    """Returns (pages DataFrame, token-id arrays) for ``n`` pages.

    The token ids (flat ``tok`` plus per-page ``lens``) let the oracles
    count exactly without re-tokenizing the text."""
    rng = np.random.default_rng(seed)
    lens = np.clip(rng.lognormal(3.2, 0.5, n), 5, 200).astype(np.int64)
    tok = (rng.zipf(1.2, int(lens.sum())) - 1) % vocab_size
    words = np.array([f"w{i}" for i in range(vocab_size)], dtype=object)
    tw = words[tok]
    bounds = np.concatenate([[0], np.cumsum(lens)])
    texts = [" ".join(tw[bounds[i] : bounds[i + 1]]) for i in range(n)]
    ids = np.arange(n, dtype=np.int64)
    site = ids % n_sites
    lang = LANGS[rng.choice(len(LANGS), size=n, p=LANG_WEIGHTS)]
    pages = pd.DataFrame(
        {
            "url": [f"https://site{s}.example/{i}" for i, s in zip(ids, site)],
            "site": [f"site{s}" for s in site],
            "lang": lang,
            "text": texts,
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )
    return pages, tok, lens


def site_distinct_counts(pages: pd.DataFrame, tok, lens, vocab_size: int) -> dict:
    """Exact number of distinct tokens per ``site``."""
    site_codes, site_names = pd.factorize(pages["site"])
    key = np.repeat(site_codes.astype(np.int64), lens) * vocab_size + tok
    uniq_sites = np.unique(key) // vocab_size
    counts = np.bincount(uniq_sites, minlength=len(site_names))
    return dict(zip(site_names, counts.astype(np.int64)))


def lang_token_counts(pages: pd.DataFrame, tok, lens, vocab_size: int) -> dict:
    """Per ``lang``: (token ids present, their exact counts, total tokens)."""
    lang_rep = np.repeat(pages["lang"].to_numpy(), lens)
    out = {}
    for lg in np.unique(pages["lang"]):
        t = tok[lang_rep == lg]
        cnt = np.bincount(t, minlength=vocab_size)
        present = np.flatnonzero(cnt)
        out[lg] = (present, cnt[present], int(len(t)))
    return out


# ------------------------------------------------------------ documents
VOCAB = [
    "spark", "window", "merge", "table", "column", "vector", "stream",
    "value", "data", "small", "big", "join", "sort", "order", "line",
    "filter", "group", "hash", "slow", "fast", "the", "row", "agg",
    "key", "query", "a", "scan", "batch", "part", "customer",
]
DOC_LANGS = ["en", "zh", "es", "fr", "de"]


def gen_documents(n: int, seed: int) -> pd.DataFrame:
    """The ``documents`` scheme: ~5% planted near-duplicates."""
    rng = np.random.default_rng(seed)
    texts: list[str] = []
    for i in range(n):
        if i > 0 and rng.random() < 0.05:
            j = int(rng.integers(0, i))
            texts.append(texts[j] + " dup")
        else:
            k = int(rng.integers(10, 101))
            texts.append(" ".join(VOCAB[w] for w in rng.integers(0, len(VOCAB), k)))
    lang = rng.choice(DOC_LANGS, size=n, p=[0.4, 0.15, 0.15, 0.15, 0.15])
    source = np.array([f"src{int(s)}" for s in rng.integers(0, 20, n)])
    return pd.DataFrame(
        {
            "doc_id": np.arange(n, dtype=np.int64),
            "text": texts,
            "lang": lang,
            "source": source,
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


_POP8 = np.array([bin(i).count("1") for i in range(256)], dtype=np.int64)


def _popcount(x: np.ndarray) -> np.ndarray:
    b = x.astype(np.uint64).view(np.uint8).reshape(len(x), 8)
    return _POP8[b].sum(axis=1)


def word_masks(texts) -> np.ndarray:
    """Each document's word set as a bit mask (the vocabulary plus
    ``dup`` is 31 words, so a set fits one uint64)."""
    bit = {w: 1 << i for i, w in enumerate(VOCAB + ["dup"])}
    out = np.empty(len(texts), dtype=np.uint64)
    for i, t in enumerate(texts):
        m = 0
        for w in set(t.split(" ")):
            m |= bit[w]
        out[i] = m
    return out


def exact_pairs(masks: np.ndarray, threshold: float):
    """All document pairs (a < b) with exact Jaccard >= threshold, as
    (sorted pair codes a * n + b, their Jaccard values)."""
    n = len(masks)
    uniq, inv = np.unique(masks, return_inverse=True)
    members = [np.flatnonzero(inv == u) for u in range(len(uniq))]
    codes, jis = [], []
    pc = _popcount(uniq)
    for u in range(len(uniq)):
        inter = _popcount(uniq[u] & uniq[u:])
        union = pc[u] + pc[u:] - inter
        ji = inter / union
        for off in np.flatnonzero(ji >= threshold):
            v = u + off
            a_ids, b_ids = members[u], members[v]
            a, b = np.meshgrid(a_ids, b_ids, indexing="ij")
            a, b = a.ravel(), b.ravel()
            keep = a < b if u == v else np.ones(len(a), dtype=bool)
            lo, hi = np.minimum(a, b)[keep], np.maximum(a, b)[keep]
            codes.append(lo * n + hi)
            jis.append(np.full(len(lo), ji[off]))
    if not codes:
        return np.empty(0, dtype=np.int64), np.empty(0)
    codes_a = np.concatenate(codes).astype(np.int64)
    order = np.argsort(codes_a)
    return codes_a[order], np.concatenate(jis)[order]


def components(pair_codes: np.ndarray, n: int):
    """Connected components of the pair graph: (node ids, min node id of
    each node's component), for every node on at least one pair."""
    a, b = pair_codes // n, pair_codes % n
    label = np.arange(n, dtype=np.int64)
    while True:
        m = np.minimum(label[a], label[b])
        new = label.copy()
        np.minimum.at(new, a, m)
        np.minimum.at(new, b, m)
        new = new[new]  # pointer jumping
        if np.array_equal(new, label):
            break
        label = new
    nodes = np.unique(np.concatenate([a, b]))
    return nodes, label[nodes]
