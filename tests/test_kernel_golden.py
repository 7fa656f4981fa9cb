"""Golden vectors for the word-shingle hash kernel.

``tests/data/kernel_golden.json`` holds the outputs of
``_gram_window_seq``, ``_shingle_hashes_batch`` and
``gram_string_hashes`` as recorded from the byte-LUT numpy tokenizer
that preceded the Arrow word stage, for the edge cases below at seeds
7, 2014 and one keyed seed (>= 2**32), k = 1..5. Every recorded
contract hash, SQL-oracle comparison and decontam blob depends on
these bytes, so any tokenizer or hashing change must reproduce them.

A plain-Python reference kernel (bytes split on ASCII whitespace,
per-byte polynomial, splitmix64, blake2b above 256 bytes) is checked
against the same vectors and then against the kernel on seeded random
text.
"""

from __future__ import annotations

import hashlib
import json
import os
import re

import numpy as np
import pyarrow as pa
import pytest

from cuckoofilter_spark.operators.dedup import (
    _gram_window_seq,
    _kernel_key,
    _shingle_hashes_batch,
    gram_string_hashes,
)

GOLDEN = os.path.join(os.path.dirname(__file__), "data", "kernel_golden.json")
SEEDS = (7, 2014, (1 << 32) + 0x2545F4914F6CDD1D)
KS = (1, 2, 3, 4, 5)

DOCS = [
    None,
    "",
    "   ",
    " \t\n\x0b\x0c\r ",
    "\t\x0b\x0c\ralpha\t\x0b\x0c\rbeta gamma\r\n",
    "  lead and trail  ",
    "solo",
    "two words",
    "the quick brown fox jumps over the lazy dog the quick brown fox",
    "a\u00a0b c d\u2028e f \u0085 g h\u3000i j\u2003k",
    "na\u00efve caf\u00e9 \u65e5\u672c\u8a9e \u30c6\u30ad\u30b9\u30c8 "
    "emoji \U0001f389 ok",
    "bad \ud800 surrogate here \udfff now",
    "x" * 300 + " mid " + "\u00e9" * 200 + " tail " + "a" * 256
    + " " + "b" * 257 + " end",
    "\n\nrepeat repeat repeat repeat repeat repeat\n\n",
]

GRAMS = [
    None,
    "",
    "the quick brown",
    "quick brown fox",
    "solo",
    " padded gram ",
    "tab\tsep\x0bgram",
    "a\u00a0b c d",
    "na\u00efve caf\u00e9 \u65e5\u672c\u8a9e",
    "bad \ud800 surrogate",
    "x" * 300 + " mid " + "b" * 257,
    "one two three four five",
]


def kernel_outputs(seed: int) -> dict:
    """The three kernel entry points over ``DOCS``/``GRAMS`` at ``seed``."""
    out = {"gram_string_hashes": [int(h) for h in gram_string_hashes(GRAMS, seed)]}
    for k in KS:
        counts, lengths, grams = _gram_window_seq(DOCS, k, seed)
        out[f"window_seq_k{k}"] = {
            "counts": [int(c) for c in counts],
            "lengths": [int(c) for c in lengths],
            "grams": None if grams is None else [int(g) for g in grams],
        }
        out[f"shingles_k{k}"] = [
            [int(h) for h in hs] for hs in _shingle_hashes_batch(DOCS, k, seed)
        ]
    return out


@pytest.fixture(scope="module")
def golden():
    with open(GOLDEN) as fh:
        return json.load(fh)


@pytest.mark.parametrize("seed", SEEDS)
def test_kernel_matches_golden(golden, seed):
    assert kernel_outputs(seed) == golden[str(seed)]


@pytest.mark.parametrize("seed", SEEDS)
def test_kernel_arrow_input_matches_golden(golden, seed):
    """Arrow string input (what an Arrow UDF receives) hashes like the
    Python-object input the vectors were recorded from. Lone surrogates
    cannot be represented in an Arrow string array, so that document
    is left out."""
    keep = [i for i, d in enumerate(DOCS) if d is None or "\ud800" not in d]
    arr = pa.array([DOCS[i] for i in keep], pa.string())
    for k in KS:
        want = golden[str(seed)][f"shingles_k{k}"]
        got = _shingle_hashes_batch(arr, k, seed)
        assert [[int(h) for h in hs] for hs in got] == [want[i] for i in keep]
        big = _shingle_hashes_batch(arr.cast(pa.large_string()), k, seed)
        assert [[int(h) for h in hs] for hs in big] == [want[i] for i in keep]
    sliced = arr.slice(3, 6)
    assert [[int(h) for h in hs] for hs in
            _shingle_hashes_batch(sliced, 3, seed)] == \
        [golden[str(seed)]["shingles_k3"][i] for i in keep[3:9]]


# ---------------------------------------------------------- reference
_M64 = (1 << 64) - 1
_WS = re.compile(rb"[ \t\n\x0b\x0c\r]+")


def _mix(x: int) -> int:
    x = ((x ^ (x >> 30)) * 0xBF58476D1CE4E5B9) & _M64
    x = ((x ^ (x >> 27)) * 0x94D049BB133111EB) & _M64
    return x ^ (x >> 31)


def _ref_words(text) -> list[bytes]:
    b = (text or "").encode("utf-8", "surrogatepass")
    return [w for w in _WS.split(b) if w]


def _ref_word_hash(word: bytes, seed: int) -> int:
    init, mult, salt = _kernel_key(seed)
    if len(word) > 256:
        return int.from_bytes(
            hashlib.blake2b(word, digest_size=8, key=salt).digest(), "little"
        )
    h = int(init)
    for c in word:
        h = (h * int(mult) + c) & _M64
    return _mix(h)


def _ref_seq_hash(whs, seed: int) -> int:
    mult = int(_kernel_key(seed)[1])
    acc = 0
    for w in whs:
        acc = (acc * mult + w) & _M64
    return _mix(acc)


def _ref_windows(text, k: int, seed: int) -> list[int]:
    wh = [_ref_word_hash(w, seed) for w in _ref_words(text)]
    return [_ref_seq_hash(wh[p:p + k], seed) for p in range(len(wh) - k + 1)]


def reference_outputs(seed: int) -> dict:
    out = {"gram_string_hashes": [
        _ref_seq_hash([_ref_word_hash(w, seed) for w in _ref_words(g)], seed)
        for g in GRAMS
    ]}
    for k in KS:
        per_doc = [_ref_windows(d, k, seed) for d in DOCS]
        flat = [g for doc in per_doc for g in doc]
        out[f"window_seq_k{k}"] = {
            "counts": [len(_ref_words(d)) for d in DOCS],
            "lengths": [len(doc) for doc in per_doc],
            "grams": flat or None,
        }
        out[f"shingles_k{k}"] = [sorted(set(doc)) for doc in per_doc]
    return out


@pytest.mark.parametrize("seed", SEEDS)
def test_reference_matches_golden(golden, seed):
    assert reference_outputs(seed) == golden[str(seed)]


_ALPHABET = (
    list("abcdefghij") + [" ", " ", "  ", "\t", "\n", "\x0b", "\x0c", "\r"]
    + ["\u00a0", "\u2028", "\u3000", "\u00e9", "\u65e5", "\U0001f389",
       "\ud800"]
)


def _random_docs(rng: np.random.Generator, n: int) -> list:
    docs = []
    for _ in range(n):
        r = rng.random()
        if r < 0.03:
            docs.append(None)
            continue
        parts = rng.choice(len(_ALPHABET), size=int(rng.integers(0, 60)))
        text = "".join(_ALPHABET[i] for i in parts)
        if r > 0.9:  # a token straddling the 256-byte blake2b cut
            text += " " + "z" * int(rng.integers(250, 262)) + " tail"
        docs.append(text)
    return docs


@pytest.mark.parametrize("seed", SEEDS)
def test_kernel_matches_reference_on_random_text(seed):
    rng = np.random.default_rng(20141202 + seed % 1000)
    for _ in range(4):
        docs = _random_docs(rng, 40)
        for k in KS:
            counts, lengths, grams = _gram_window_seq(docs, k, seed)
            per_doc = [_ref_windows(d, k, seed) for d in docs]
            assert [int(c) for c in counts] == [len(_ref_words(d)) for d in docs]
            assert [int(c) for c in lengths] == [len(p) for p in per_doc]
            flat = [g for p in per_doc for g in p]
            assert (None if grams is None else [int(g) for g in grams]) == (
                flat or None)
            assert [[int(h) for h in hs] for hs in
                    _shingle_hashes_batch(docs, k, seed)] == [
                sorted(set(p)) for p in per_doc]
        grams_in = [" ".join(w.decode("utf-8", "surrogatepass")
                             for w in _ref_words(d)[:3]) for d in docs]
        assert [int(h) for h in gram_string_hashes(grams_in, seed)] == [
            _ref_seq_hash([_ref_word_hash(w, seed) for w in _ref_words(g)], seed)
            for g in grams_in]
