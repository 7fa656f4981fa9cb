"""Seeded input generators and exact oracles for the benchmark.

Everything here is numpy/pyarrow on the driver and depends only on its
arguments, so the same seed gives the same inputs. The package under
test sees only the files written from these arrays.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

VOCAB_WORDS = 50_000
SPAN_WORDS = 8


def vocab() -> pa.Array:
    """``VOCAB_WORDS`` distinct whitespace-free words."""
    return pa.array([f"w{i:05d}" for i in range(VOCAB_WORDS)])


def text_corpus(seed: int, n_docs: int, doc_words: int, n_eval: int,
                eval_words: int):
    """Corpus and eval word-id matrices over a flat vocabulary.

    Exactly 1% of corpus docs get one ``SPAN_WORDS``-word span copied
    from a random eval doc. Returns ``(corpus, eval, injected)`` where
    ``injected`` is the sorted array of doc ids that carry a span."""
    rng = np.random.default_rng([seed, 0xDEC0])
    corpus = rng.integers(0, VOCAB_WORDS, (n_docs, doc_words), dtype=np.int32)
    ev = rng.integers(0, VOCAB_WORDS, (n_eval, eval_words), dtype=np.int32)
    injected = np.sort(rng.choice(n_docs, n_docs // 100, replace=False))
    src = rng.integers(0, n_eval, len(injected))
    src_at = rng.integers(0, eval_words - SPAN_WORDS + 1, len(injected))
    dst_at = rng.integers(0, doc_words - SPAN_WORDS + 1, len(injected))
    w = np.arange(SPAN_WORDS)
    corpus[injected[:, None], dst_at[:, None] + w] = ev[src[:, None],
                                                        src_at[:, None] + w]
    return corpus, ev, injected


def texts(words: np.ndarray, vocab_arr: pa.Array) -> pa.Array:
    """Word-id matrix -> one space-joined string per row."""
    n, k = words.shape
    flat = vocab_arr.take(pa.array(words.ravel()))
    offsets = pa.array(np.arange(0, n * k + 1, k, dtype=np.int32))
    return pc.binary_join(pa.ListArray.from_arrays(offsets, flat), " ")


def _trigram_codes(words: np.ndarray) -> np.ndarray:
    w = words.astype(np.int64)
    v = VOCAB_WORDS
    return (w[:, :-2] * v + w[:, 1:-1]) * v + w[:, 2:]


def contaminated_docs(corpus: np.ndarray, ev: np.ndarray, n: int = 3,
                      chunk: int = 8192) -> np.ndarray:
    """Exact oracle: sorted ids of corpus docs sharing at least one word
    trigram with any eval doc (injected spans plus natural overlaps)."""
    if n != 3:
        raise ValueError("the oracle computes word trigrams only")
    ev_codes = np.unique(_trigram_codes(ev))
    # a flag table over code mod P rules out most trigrams cheaply; the
    # few left are compared exactly against the sorted eval codes
    p = (1 << 24) - 3
    flags = np.zeros(p, dtype=bool)
    flags[ev_codes % p] = True
    hits = []
    for lo in range(0, len(corpus), chunk):
        codes = _trigram_codes(corpus[lo:lo + chunk])
        doc, col = np.nonzero(flags[codes % p])
        cand = codes[doc, col]
        pos = np.minimum(np.searchsorted(ev_codes, cand), len(ev_codes) - 1)
        hits.append(np.unique(doc[ev_codes[pos] == cand]) + lo)
    return np.concatenate(hits) if hits else np.empty(0, np.int64)


def probe_keys(seed: int, members: np.ndarray, n: int,
               member_bound: int) -> np.ndarray:
    """``n`` probe keys: even slots are members drawn from ``members``,
    odd slots are ids ``>= member_bound``, true negatives by
    construction when every member is below ``member_bound``."""
    rng = np.random.default_rng([seed, 0x9B0B])
    keys = np.empty(n, dtype=np.int64)
    keys[0::2] = rng.choice(members, (n + 1) // 2)
    keys[1::2] = rng.integers(member_bound, 2**62, n // 2, dtype=np.int64)
    return keys


def write_parquet(table: pa.Table, path: str, files: int) -> str:
    """``table`` as ``files`` similar-sized Parquet files under ``path``."""
    os.makedirs(path, exist_ok=True)
    step = -(-table.num_rows // files)
    for i in range(files):
        pq.write_table(table.slice(i * step, step),
                       os.path.join(path, f"part-{i:05d}.parquet"))
    return path
