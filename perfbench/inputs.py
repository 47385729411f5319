"""Seeded inputs for both workloads. The engine only ever receives the
tables built here; the same seed always gives the same inputs.

Sizes are fixed here and restated in ``BENCHMARK.json``.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pdf_to_opensearch_spark import synth

# (docs, min tokens, max tokens) of the corpus each workload indexes
CORPUS = {"bulk": (1500, 200, 1200), "online": (1500, 100, 600)}
BATCH_DOCS = 100          # docs per append_batch micro-batch
N_BATCHES = 6             # micro-batches reserved (more than any run uses)
DELETE_URLS = 20          # urls per delete_from_index call
BATCH_QUERIES = 64        # above the dense-kernel gate of 16 queries
N_QUERY_ROUNDS = 64       # query rounds drawn (more than any run uses)
CHECK_SAMPLE = 16         # urls checked for byte-identical extraction
DEDUP_ORIGINALS = 400
DEDUP_EXACT_SHARE = 0.10  # planted exact copies, as a share of originals
DEDUP_NEAR_SHARE = 0.10   # planted near copies (3% of tokens replaced)
# calls of each read type per online cycle. There is no traffic log for
# this engine, so the shares follow sampling need: match and batch alone
# set call_p50_ms and items_per_s, so they get the most calls; the other
# four only enter the geometric mean, which averages their noise.
READ_MIX = {"match": 3, "batch": 2, "filtered": 1, "fuzzy": 1, "prefix": 1,
            "phrase": 1}
LANGS = ["en", "ko", "de", "es"]

_VOCAB = np.array(synth._vocab())
_ZIPF = 1.0 / np.arange(1, synth.VOCAB_SIZE + 1)
_ZIPF /= _ZIPF.sum()


def _zipf_terms(rng, n: int) -> list[str]:
    return list(_VOCAB[rng.choice(synth.VOCAB_SIZE, size=n, p=_ZIPF)])


def _query_round(rng, texts: list[str]) -> dict:
    """One round of the read mix: every call type, seeded terms."""
    def match_text():
        return " ".join(_zipf_terms(rng, int(rng.integers(1, 4))))

    word = next(t for t in _zipf_terms(rng, 50) if len(t) >= 5)
    pos = int(rng.integers(1, len(word)))
    fuzzy = word[:pos] + "x" + word[pos + 1:]
    prefix = next(t for t in _zipf_terms(rng, 50) if len(t) >= 4)[:3]
    while True:
        toks = texts[int(rng.integers(len(texts)))].split()
        if len(toks) >= 3:
            break
    j = int(rng.integers(len(toks) - 2))
    phrase = " ".join(toks[j:j + 2]).strip(".")
    return {
        "match": [match_text() for _ in range(READ_MIX["match"])],
        "batch": [[match_text() for _ in range(BATCH_QUERIES)]
                  for _ in range(READ_MIX["batch"])],
        "filtered": (match_text(), LANGS[int(rng.integers(len(LANGS)))]),
        "fuzzy": fuzzy,
        "prefix": prefix,
        "phrase": phrase,
    }


def _respell(text: str) -> str:
    """Digits → letters, so the synthetic words pass the quality gate's
    alpha-ratio threshold (the dedup corpus must reach the dup stages)."""
    return text.translate(str.maketrans("0123456789", "abcdefghij"))


def dedup_docs(seed: int) -> tuple[pd.DataFrame, list[int]]:
    """pages(url, html, lang, doc_id, text) with planted duplicates.

    Returns the frame plus the doc_ids of the planted exact copies.
    Copies get larger ids than their originals, so the pipeline's keeper
    (the minimum id) is always the original.
    """
    rng = np.random.default_rng(seed + 7)
    base = synth.make_pages_pdf(DEDUP_ORIGINALS + 7, seed=seed + 7,
                                min_len=60, max_len=300)
    texts = [_respell(t) for t in synth.expected_text(base)
             if len(t.split()) >= 60][:DEDUP_ORIGINALS]
    n = len(texts)
    n_exact = int(round(n * DEDUP_EXACT_SHARE))
    n_near = int(round(n * DEDUP_NEAR_SHARE))
    picks = rng.choice(n, size=n_exact + n_near, replace=False)
    exact_ids = []
    for k, src in enumerate(picks):
        if k < n_exact:
            texts.append(texts[src])
            exact_ids.append(len(texts) - 1)
        else:
            toks = texts[src].split()
            for i in rng.choice(len(toks), size=max(1, len(toks) // 33),
                                replace=False):
                toks[i] = _respell(_zipf_terms(rng, 1)[0])
            texts.append(" ".join(toks))
    urls = [f"https://example.org/dedup/{i:06d}" for i in range(len(texts))]
    df = pd.DataFrame({
        "url": urls,
        "html": [synth.wrap_html(t, u) for u, t in zip(urls, texts)],
        "lang": "en",
        "doc_id": np.arange(len(texts), dtype=np.int64),
        "text": texts,
    })
    return df, exact_ids


class Inputs:
    """Every table a run needs, generated once from ``seed``."""

    def __init__(self, workload: str, seed: int):
        n_docs, lo, hi = CORPUS[workload]
        rng = np.random.default_rng(seed)
        n_extra = BATCH_DOCS * N_BATCHES
        pages = synth.make_pages_pdf(n_docs + n_extra, seed=seed,
                                     min_len=lo, max_len=hi)
        # url → the extractor's byte-identical expected output
        self.expected = dict(zip(pages["url"], synth.expected_text(pages)))
        # reserve body docs (never edge rows) for the micro-batches
        body = np.flatnonzero(pages["url"].str.contains("/doc/").to_numpy())
        extra = np.sort(rng.choice(body, size=n_extra, replace=False))
        is_extra = np.zeros(len(pages), dtype=bool)
        is_extra[extra] = True
        self.pages = pages[~is_extra].reset_index(drop=True)
        rest = pages[is_extra].reset_index(drop=True)
        self.batches = [rest.iloc[i * BATCH_DOCS:(i + 1) * BATCH_DOCS]
                        .reset_index(drop=True) for i in range(N_BATCHES)]
        texts = [self.expected[u] for u in self.pages["url"]]
        self.query_rounds = [_query_round(rng, texts)
                             for _ in range(N_QUERY_ROUNDS)]
        body_urls = [u for u in self.pages["url"] if "/doc/" in u]
        doomed = rng.choice(body_urls, size=DELETE_URLS * N_BATCHES,
                            replace=False)
        self.delete_urls = [sorted(doomed[i::N_BATCHES])
                            for i in range(N_BATCHES)]
        self.check_urls = sorted(rng.choice(self.pages["url"],
                                            size=CHECK_SAMPLE, replace=False))
        # the dedup docs and planted copies (:func:`dedup_docs`)
        self.dedup_set = dedup_docs(seed)

    @staticmethod
    def text_bytes(texts) -> int:
        return int(sum(len(t.encode("utf-8")) for t in texts))
