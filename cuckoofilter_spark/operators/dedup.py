"""Deduplication operators: exact, MinHash+LSH, SimHash, exact
n-gram-Jaccard (PPJoin prefix filtering), and cluster resolution
(connected components + keep-one).

Designed for the 100 TB shape of the problem:

- **exact**: fingerprint = md5(normalized text) (JVM-side), then a
  hash-partitioned groupBy on the fingerprint — the only shuffle moves
  16-byte digests + doc ids, never document bodies.
- **MinHash+LSH**: per-doc signatures are computed WITHOUT exploding
  shingles — one Arrow-batched pandas UDF does shingle→hash→128-perm
  row-min per document with a fully vectorized hash kernel (seeded
  64-bit polynomial over UTF-8 bytes, splitmix64-finalized; per-doc
  text work belongs in a batch UDF: Spark's nested higher-order array
  lambdas are CodegenFallback, measured ~2ms/doc interpreted). Banding
  then
  explodes only B=32 short band rows per doc; the self-join on
  (band, band_hash) is the classic LSH candidate join and the only
  O(candidates) stage. Exact-jaccard verification runs only on
  candidate pairs.
- **SimHash**: 64-bit signature per doc from shingle hashes (same
  batch-UDF path), Hamming-≤k candidate generation by pigeonhole
  banding into 4×16-bit keys, verification with JVM ``bit_count``.

MinHash perm parameters derive from a fixed seed — signatures are
reproducible across executors and runs (same principle as the
filter's explicit hash seeds, SURVEY.md §1.2).

TRUST MODEL — READ BEFORE GATING UNTRUSTED CORPORA. With the default
seeds (< 2**32) the shingle hash is a polynomial with a FIXED PUBLIC
multiplier, and exact-jaccard "verification" compares 64-bit hash
sets, not string sets. Collisions are birthday-random on natural
text, but they are adversarially CONSTRUCTIBLE: an attacker who
controls document bytes can craft distinct equal-length words that
hash alike (the seed cancels between equal-length strings), inflate
jaccard past threshold, and force a false near-dup merge of — or a
fake decontamination hit against — a targeted legitimate document.
For adversarial/web corpora, pass ``seed=random_kernel_seed()`` (any
seed >= 2**32): the kernel then derives BOTH the polynomial's initial
state and its multiplier (and the giant-span blake2b key) from the
seed via keyed blake2b, so collision-crafting requires the secret.
Every consumer that shares the kernel (minhash/simhash/PPJoin
pipelines here, build+probe sides of ``decontam``) keys itself the
same way from the same seed, so cross-stage hash agreement is
preserved; outputs remain deterministic GIVEN the seed, so keep the
seed fixed per run and store it with the run's provenance.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

from cuckoofilter_spark.operators.text import fingerprint_md5

# MinHash permutation field: the Mersenne prime 2^31-1. With a, b, h
# all < p the product a·h < 2^62 fits uint64 EXACTLY — no 128-bit
# arithmetic needed, unlike p=2^61-1 where a naive int64 multiply
# wraps mod 2^64 BEFORE the mod-p reduction and silently leaves the
# advertised universal family (a·h+b) mod p. Reducing the 64-bit
# shingle hash to 31 bits costs a ~5e-10 per-pair collision
# probability — far below the minhash estimator's own noise.
_MERSENNE = (1 << 31) - 1
_P31 = np.uint64(_MERSENNE)

# Tokenizer parity: the JVM side (``text.words_col`` → Java regex
# ``\s+``) and the DuckDB oracle (RE2 ``\s``) both split on ASCII
# whitespace ONLY — [ \t\n\x0B\f\r]. Python's ``str.split()`` also
# splits on Unicode whitespace (NBSP \xa0, \u2028, \x85, ...), so a
# document whose n-grams straddle such a character would hash
# differently here than in the filter built from JVM shingles — and a
# probe gate (decontam) could then undercount hits and silently drop a
# truly contaminated document, breaking the zero-false-negative
# contract. Every Python-side tokenization in this package goes
# through the kernel's Arrow word stage (``_word_hashes``:
# ``pc.ascii_split_whitespace``, the same six bytes) so all three
# tokenizers agree byte-for-byte.


def _fold31(x: np.ndarray) -> np.ndarray:
    """x mod (2^31-1) for any uint64 x, exact (2^31 ≡ 1 mod p, so
    summing the 31-bit limbs preserves the residue)."""
    x = (x & _P31) + ((x >> np.uint64(31)) & _P31) + (x >> np.uint64(62))
    x = (x & _P31) + (x >> np.uint64(31))
    return np.where(x >= _P31, x - _P31, x)


def exact_duplicate_groups(df: DataFrame, id_col: str, text: str) -> DataFrame:
    """(fingerprint, n_docs, keep_id) for every group of byte-identical
    normalized texts with ≥2 members; ``keep_id`` = min id survives."""
    return (
        df.select(F.col(id_col).alias("doc"), fingerprint_md5(text).alias("fp"))
        .groupBy("fp")
        .agg(F.count("*").alias("n_docs"), F.min("doc").alias("keep_id"))
        .filter(F.col("n_docs") >= 2)
    )


def dedup_exact(df: DataFrame, id_col: str, text: str) -> DataFrame:
    """Drop all but the min-id doc of each exact-duplicate group."""
    ranked = df.withColumn("__fp", fingerprint_md5(text)).withColumn(
        "__rk",
        F.row_number().over(Window.partitionBy("__fp").orderBy(F.col(id_col))),
    )
    return ranked.filter(F.col("__rk") == 1).drop("__fp", "__rk")


def _perm_params(num_hashes: int, seed: int):
    rng = np.random.Generator(np.random.PCG64(seed))
    a = rng.integers(1, _MERSENNE, size=num_hashes, dtype=np.int64)
    b = rng.integers(0, _MERSENNE, size=num_hashes, dtype=np.int64)
    return a, b


# ---------------------------------------------------------------------
# Vectorized shingle-hash kernel (round-6: replaces the per-shingle
# hashlib.blake2b Python loop, which was ~3 us/shingle and 41% of the
# whole sf10 bench). Arrow C++ tokenizes, numpy hashes; no Python
# word-string objects are ever materialized:
#
#   1. the batch is an Arrow string array (non-Arrow input is
#      utf-8-encoded with surrogatepass first, _utf8_array);
#   2. words = ``pc.ascii_split_whitespace`` (bytes 9-13 and 32, runs
#      collapsed; the empty strings it emits at leading/trailing
#      whitespace are dropped). This is exactly the Java \s+ / RE2 \s
#      word split (tokenizer parity note above): the six ASCII
#      whitespace bytes never occur inside a UTF-8 multi-byte sequence
#      (continuation bytes are >= 0x80), so byte splitting ==
#      codepoint splitting;
#   3. word hash = seeded 64-bit polynomial over the word's bytes,
#      splitmix64-finalized (_span_hashes), computed once per DISTINCT
#      word of the batch (``dictionary_encode``) and gathered back to
#      every token (_word_hashes);
#   4. shingle hash = seeded polynomial over the k word hashes of a
#      sliding window, splitmix64-finalized; windows never straddle a
#      document boundary; per-doc distinct via np.unique.
#
# Same shingle SET semantics as before (distinct word-k-grams of the
# ASCII-whitespace split); only the hash VALUES changed vs rounds 1-5
# — permitted because every consumer treats the hash as an opaque
# uniform 64-bit key: minhash/jaccard verification and the PPJoin
# oracle compare exact jaccard over the (injective-whp) hash sets,
# simhash is checked for internal consistency plus an exact
# small-corpus Hamming oracle computed from these same signatures, and
# the decontam build/probe sides share this kernel via
# ``gram_string_hashes``. Polynomial (vs cryptographic) hashing is a
# deliberate trade: collisions are birthday-random on natural text,
# and dedup/minhash tolerate ~2^-64-per-pair fingerprint noise — but
# it is NOT adversarially collision-resistant with the default
# (public, < 2**32) seeds. Seeds >= 2**32 switch every entry point to
# KEYED mode (init + multiplier + giant-span blake2b key all derived
# from the seed, ``_kernel_key``) — see the module trust-model note
# and ``random_kernel_seed``.
_POLY_C = np.uint64(0x9E3779B97F4A7C15)  # odd golden-ratio multiplier
# seeds below this use the fixed public multiplier (bit-compatible
# with rounds 1-6 and every documented default); seeds at or above it
# switch the kernel to KEYED mode — see the module trust-model note
_KEYED_MIN = 1 << 32


def random_kernel_seed() -> int:
    """Cryptographically random keyed-mode kernel seed (>= 2**32).

    Pass the result as the ``seed`` of any shingle/dedup/decontam
    entry point when the corpus is untrusted: hash collisions then
    require knowledge of the seed (see the module trust-model note).
    Generate ONCE per run and record it — all stages that must agree
    (e.g. decontam build + probe) need the same seed."""
    import secrets

    return secrets.randbits(63) | _KEYED_MIN


def _kernel_key(seed: int):
    """(init, mult, salt) for the polynomial kernel.

    Legacy mode (0 <= seed < 2**32): init = seed, mult = the public
    golden-ratio constant, salt = little-endian seed — bit-identical
    to the round-6 kernel for every documented default seed. Keyed
    mode (seed >= 2**32 or negative): all three derive from
    blake2b(seed), so both the polynomial's initial state AND its
    multiplier (forced odd) are unpredictable without the seed —
    equal-length collision crafting, which cancels ``init``, is
    defeated by the secret multiplier."""
    if 0 <= seed < _KEYED_MIN:
        return (
            np.uint64(seed),
            _POLY_C,
            seed.to_bytes(8, "little"),
        )
    import hashlib

    raw = seed.to_bytes(
        (seed.bit_length() + 8) // 8, "little", signed=True
    )
    d = hashlib.blake2b(
        raw, digest_size=24, person=b"cfspark-kernel01"
    ).digest()
    return (
        np.uint64(int.from_bytes(d[:8], "little")),
        np.uint64(int.from_bytes(d[8:16], "little") | 1),
        d[16:24],
    )
# spans longer than this fall back to one hashlib call each (a 1 MB
# unbroken token must not turn the length-bucketed loop into 10^6
# tiny gathers); both kernel entry points share the constant, so the
# same giant word hashes identically everywhere
_SPAN_CAP = 256


def _mix64(x: np.ndarray) -> np.ndarray:
    """splitmix64 finalizer, vectorized uint64 (wrapping)."""
    x = (x ^ (x >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    x = (x ^ (x >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return x ^ (x >> np.uint64(31))


def _utf8_array(texts) -> pa.Array:
    """The batch as an Arrow string array, nulls kept. Arrow input
    passes through; anything else is utf-8-encoded with
    ``surrogatepass`` (a lone surrogate hashes as its 3 encoded bytes)
    and viewed as string without validation."""
    if isinstance(texts, pa.ChunkedArray):
        texts = texts.combine_chunks()
    if isinstance(texts, pa.Array):
        return texts
    return pa.array(
        [None if t is None else t.encode("utf-8", "surrogatepass")
         for t in texts],
        pa.binary(),
    ).view(pa.string())


def _word_hashes(texts, seed: int):
    """(counts, wh): each document's ASCII-whitespace word count
    (int64[n_docs]; null and empty documents have 0) and the flat
    word-hash array, documents in order and words in text order.
    Hashes every distinct word of the batch once."""
    arr = _utf8_array(texts)
    split = pc.ascii_split_whitespace(arr)
    per_doc = pc.list_value_length(split).fill_null(0).to_numpy(
        zero_copy_only=False).astype(np.int64)
    enc = split.flatten().dictionary_encode()
    words = enc.dictionary
    off_t = np.int64 if pa.types.is_large_string(words.type) else np.int32
    offs = np.frombuffer(
        words.buffers()[1], dtype=off_t, count=len(words) + 1,
        offset=words.offset * np.dtype(off_t).itemsize,
    ).astype(np.int64)
    data = words.buffers()[2]
    u8 = (np.frombuffer(data, dtype=np.uint8) if data is not None
          else np.empty(0, dtype=np.uint8))
    lengths = np.diff(offs)
    idx = enc.indices.to_numpy()
    empty = np.flatnonzero(lengths == 0)
    if len(empty):  # leading/trailing whitespace and empty documents
        keep = idx != empty[0]
        ck = np.concatenate(([0], np.cumsum(keep)))
        ends = np.cumsum(per_doc)
        per_doc = ck[ends] - ck[ends - per_doc]
        idx = idx[keep]
    return per_doc, _span_hashes(u8, offs[:-1], lengths, seed)[idx]


def _span_hashes(u8, starts, lengths, seed: int) -> np.ndarray:
    """Seeded hash of each byte span ``u8[starts[i]:starts[i] +
    lengths[i]]``, vectorized: polynomial over the bytes + splitmix64.
    ``_word_hashes`` calls it once per batch on the distinct words of
    an Arrow dictionary (``starts``/``lengths`` from its offsets).
    Length-bucketed (descending sort) so the byte gathers do O(total
    bytes) total work with no per-span masks; spans over ``_SPAN_CAP``
    bytes hash with keyed blake2b instead. Seeds >= 2**32 switch
    init/multiplier/salt to keyed mode (``_kernel_key``)."""
    n = len(starts)
    if n == 0:
        return np.empty(0, dtype=np.uint64)
    out = np.empty(n, dtype=np.uint64)
    init, mult, salt = _kernel_key(seed)
    giant = lengths > _SPAN_CAP
    if giant.any():
        import hashlib

        mv = u8.tobytes()
        for i in np.flatnonzero(giant):
            out[i] = int.from_bytes(
                hashlib.blake2b(
                    mv[starts[i]:starts[i] + lengths[i]],
                    digest_size=8, key=salt,
                ).digest(), "little",
            )
        keep = ~giant
        starts, lengths = starts[keep], lengths[keep]
        idx_back = np.flatnonzero(keep)
    else:
        idx_back = None
    m = len(starts)
    if m:
        order = np.argsort(lengths, kind="stable")[::-1]
        st, ln_desc = starts[order], lengths[order]
        ln_asc = ln_desc[::-1]
        h = np.full(m, init)
        with np.errstate(over="ignore"):
            for j in range(int(ln_desc[0])):
                q = m - int(np.searchsorted(ln_asc, j + 1, side="left"))
                if q == 0:
                    break
                h[:q] = h[:q] * mult + u8[st[:q] + j]
            h = _mix64(h)
        vals = np.empty(m, dtype=np.uint64)
        vals[order] = h
        if idx_back is None:
            out = vals
        else:
            out[idx_back] = vals
    return out


def _window_gram_hashes(
    wh: np.ndarray, k: int, mult: np.uint64 = _POLY_C
) -> np.ndarray:
    """Hash of every length-``k`` window of the word-hash array
    (positions 0..len-k): seeded-by-caller polynomial + splitmix64.
    MUST stay formula-identical to ``_seq_hashes`` so a k-window and
    the same k-word sequence hash alike."""
    total = len(wh)
    with np.errstate(over="ignore"):
        acc = np.full(total - k + 1, np.uint64(0))
        for j in range(k):
            acc = acc * mult + wh[j:total - k + 1 + j]
        return _mix64(acc)


def _seq_hashes(wh, counts, offs, mult: np.uint64 = _POLY_C) -> np.ndarray:
    """Hash of each variable-length word-hash sequence (sequence i =
    wh[offs[i] : offs[i]+counts[i]]): same polynomial + splitmix64 as
    ``_window_gram_hashes``."""
    n = len(counts)
    if n == 0:
        return np.empty(0, dtype=np.uint64)
    order = np.argsort(counts, kind="stable")[::-1]
    c_desc, o_desc = counts[order], offs[order]
    c_asc = c_desc[::-1]
    acc = np.full(n, np.uint64(0))
    with np.errstate(over="ignore"):
        for j in range(int(c_desc[0]) if len(c_desc) else 0):
            q = n - int(np.searchsorted(c_asc, j + 1, side="left"))
            if q == 0:
                break
            acc[:q] = acc[:q] * mult + wh[o_desc[:q] + j]
        acc = _mix64(acc)
    out = np.empty(n, dtype=np.uint64)
    out[order] = acc
    return out


def _gram_window_seq(texts, k: int, seed: int):
    """Shared kernel prefix for every word-k-gram consumer: per-doc
    word ``counts``, per-doc gram counts ``lengths`` (= max(words −
    (k−1), 0)), and the FLAT positional gram-hash sequence ``grams``
    (each doc's in-order window hashes, multiplicity kept;
    ``lengths[i]`` entries for doc i) — or ``grams=None`` when no doc
    reaches k words. ``texts`` is an Arrow string array (what an Arrow
    UDF receives) or any sequence of str/None. Words and their hashes
    come from the Arrow word stage (``_word_hashes``); dedup, spans
    and both decontam sides all call this one prefix, so a gram hashes
    identically everywhere by construction. Cross-document windows are
    excluded by the per-doc ``lengths`` arithmetic (each doc's words
    are contiguous in ``wh``)."""
    counts, wh = _word_hashes(texts, seed)
    lengths = np.maximum(counts - (k - 1), 0)
    m = int(lengths.sum())
    if len(wh) < k or m == 0:
        return counts, lengths, None
    acc = _window_gram_hashes(wh, k, _kernel_key(seed)[1])
    offs = np.cumsum(counts) - counts  # doc start offsets (word index)
    starts = np.cumsum(lengths) - lengths
    idx = (
        np.arange(m, dtype=np.int64)
        - np.repeat(starts, lengths)
        + np.repeat(offs, lengths)
    )
    return counts, lengths, acc[idx]


def _shingle_hashes_batch(texts, k: int, seed: int) -> list[np.ndarray]:
    """Distinct word-k-shingle hashes for every document of an Arrow
    batch (list of uint64 arrays, sorted per doc). Shingle SET
    definition matches ``shingles_col``/the SQL oracles exactly:
    ASCII-whitespace words, k-grams, de-duplicated."""
    counts, lengths, grams = _gram_window_seq(texts, k, seed)
    if grams is None:
        return [np.empty(0, dtype=np.uint64)] * len(counts)
    out, s = [], 0
    for length in lengths.tolist():
        out.append(np.unique(grams[s:s + length]))
        s += length
    return out


def _shingle_hashes(text: str, k: int, seed: int) -> np.ndarray:
    """Distinct word-k-shingle hashes of one document (uint64;
    process-independent, unlike Python hash()). Single-doc wrapper
    over the batch kernel."""
    return _shingle_hashes_batch([text], k, seed)[0]


def gram_string_hashes(grams, seed: int) -> np.ndarray:
    """uint64 hash per already-joined n-gram STRING (words joined by
    single spaces) — bit-identical to the hash ``_shingle_hashes``
    assigns the same word sequence, for build/probe agreement when one
    side shingles JVM-side (``shingles_col`` output strings) and the
    other shingles in Python (``decontam``). Handles mixed gram
    lengths."""
    counts, wh = _word_hashes(grams, seed)
    offs = np.cumsum(counts) - counts
    return _seq_hashes(wh, counts, offs, _kernel_key(seed)[1])


def shingle_sets(
    df: DataFrame, id_col: str, text: str, *, shingle_k: int = 3,
    seed: int = 2014,
) -> DataFrame:
    """(doc, sh array<long>): each document's DISTINCT word-k-shingle
    hashes, sorted ascending as uint64 (``np.unique`` output of the
    vectorized kernel). The shared base table of the near-dup
    pipelines: MinHash signatures, exact-jaccard verification, and the
    PPJoin posting rows all derive from it, so one persisted pass of
    the shingle kernel feeds every stage instead of each stage
    re-shingling the corpus (at sf10 the kernel pass is ~1/4 of the
    whole MinHash pipeline — paying it twice was the single biggest
    remaining cost after the band-join fix)."""

    @F.pandas_udf(ArrayType(LongType()))
    def sh_udf(texts: pd.Series) -> pd.Series:
        return pd.Series([
            hs.view(np.int64)
            for hs in _shingle_hashes_batch(texts, shingle_k, seed)
        ])

    from cuckoofilter_spark.session import fan_out

    # fan_out (round 8): single-row-group side tables scan as ONE task,
    # serializing the kernel; per-doc output is partition-independent.
    # Project FIRST so the exchange hashes/ships only (id, text) and
    # the scan stays column-pruned.
    return fan_out(df.select(F.col(id_col), F.col(text))).select(
        F.col(id_col).alias("doc"), sh_udf(F.col(text)).alias("sh")
    )


def minhash_signatures_from_sets(
    sets: DataFrame, *, num_hashes: int = 128, seed: int = 2014,
) -> DataFrame:
    """(doc, sig array<long>[num_hashes]) from a ``shingle_sets``
    table — the (a·h+b) mod p row-min only, no re-shingling.
    Docs with an empty shingle set get an all-sentinel signature
    (they can only pair with other empty docs)."""
    a, b = _perm_params(num_hashes, seed)
    a_u = a.astype(np.uint64)[None, :]
    b_u = b.astype(np.uint64)[None, :]

    @F.pandas_udf(ArrayType(LongType()))
    def sig_udf(sh_arrs: pd.Series) -> pd.Series:
        out = []
        for arr in sh_arrs.values:
            hs = np.asarray(arr, dtype=np.int64).view(np.uint64)
            if len(hs) == 0:
                out.append(np.full(num_hashes, _MERSENNE, dtype=np.int64))
                continue
            h = _fold31(hs)[:, None]
            # (n_shingles, num_hashes): exact (a·h+b) mod p per cell
            # (a·h < 2^62 — no uint64 overflow), min over shingles —
            # the universal-family guarantee the LSH recall analysis
            # (1-(1-j^r)^b) assumes
            sig = _fold31(h * a_u + b_u)
            out.append(sig.min(axis=0).astype(np.int64))
        return pd.Series(out)

    return sets.select("doc", sig_udf(F.col("sh")).alias("sig"))


def minhash_signatures(
    df: DataFrame, id_col: str, text: str, *, num_hashes: int = 128,
    shingle_k: int = 3, seed: int = 2014,
) -> DataFrame:
    """(doc, sig array<long>[num_hashes]) per document.

    Shingling deliberately lives in Python: Spark's nested
    higher-order array lambdas are CodegenFallback (interpreted,
    measured ~2ms/doc); the batch kernel does the same work in
    ~20µs/doc. Standalone wrapper — pipelines that also verify should
    build ``shingle_sets`` once and use ``minhash_signatures_from_sets``
    (see ``near_dup_pairs_minhash``)."""
    return minhash_signatures_from_sets(
        shingle_sets(df, id_col, text, shingle_k=shingle_k, seed=seed),
        num_hashes=num_hashes, seed=seed,
    )


def _band_hashes(sig2d: np.ndarray, bands: int, r: int) -> np.ndarray:
    """(n_docs, bands) int32 band-bucket keys from an (n_docs,
    num_hashes) signature matrix: seeded polynomial over each band's r
    minhash values + splitmix64, truncated to 31 bits. Any hash that
    is injective on equal r-tuples gives the same LSH semantics (equal
    slices always collide; unequal slices collide w.p. ~2^-31 and are
    removed by exact verification) — this numpy kernel replaces the
    interpreted ``F.transform``/``F.hash(F.slice(...))`` banding,
    which was CodegenFallback and cost ~10 s per pass at sf10."""
    n = sig2d.shape[0]
    s = sig2d.astype(np.uint64).reshape(n, bands, r)
    with np.errstate(over="ignore"):
        acc = np.full((n, bands), np.uint64(1))
        for j in range(r):
            acc = acc * _POLY_C + s[:, :, j]
        acc = _mix64(acc)
    return (acc & np.uint64(0x7FFFFFFF)).astype(np.int32)


_MH_TABLE_TYPE = StructType([
    StructField("sh", ArrayType(LongType())),
    StructField("bhs", ArrayType(IntegerType())),
])


def minhash_table(
    df: DataFrame, id_col: str, text: str, *, num_hashes: int = 128,
    bands: int = 32, rows_per_band: int = 4, shingle_k: int = 3,
    seed: int = 2014,
) -> DataFrame:
    """(doc, sh array<long>, bhs array<int>): the fused per-document
    near-dup table — distinct sorted shingle hashes AND the LSH
    band-bucket keys — from ONE Arrow-batched kernel pass. The full
    pipeline persists this once: ``bhs`` feeds the banded candidate
    join (``posexplode``, no interpreted array lambdas), ``sh`` feeds
    exact-jaccard verification, and the cached columnar form lets each
    consumer prune the column it doesn't need. The intermediate
    128-hash signature never leaves the kernel — banding is its only
    consumer."""
    assert bands * rows_per_band == num_hashes
    a, b = _perm_params(num_hashes, seed)
    a_u = a.astype(np.uint64)[None, :]
    b_u = b.astype(np.uint64)[None, :]

    @F.pandas_udf(_MH_TABLE_TYPE)
    def tbl_udf(texts: pd.Series) -> pd.DataFrame:
        hs_per_doc = _shingle_hashes_batch(texts, shingle_k, seed)
        sigs = np.empty((len(hs_per_doc), num_hashes), dtype=np.uint64)
        for i, hs in enumerate(hs_per_doc):
            if len(hs) == 0:
                sigs[i] = _MERSENNE
                continue
            h = _fold31(hs)[:, None]
            sigs[i] = _fold31(h * a_u + b_u).min(axis=0)
        bh = _band_hashes(sigs, bands, rows_per_band)
        return pd.DataFrame({
            "sh": [hs.view(np.int64) for hs in hs_per_doc],
            "bhs": list(bh),
        })

    from cuckoofilter_spark.session import fan_out

    # fan_out (round 8): see shingle_sets — kernel output is per-row
    return fan_out(df.select(F.col(id_col), F.col(text))).select(
        F.col(id_col).alias("doc"), tbl_udf(F.col(text)).alias("t")
    ).select("doc", F.col("t.sh").alias("sh"), F.col("t.bhs").alias("bhs"))


_TILE_K = 1 << 20  # tile id encoding base (chunk ids < 2^20 always)

# verify joins flip to broadcast-hash below this per-input doc count:
# ~1M docs × ~1 KB of shingle array ≈ 1 GB relation — comfortably
# inside executor memory, and far cheaper than re-shuffling every
# candidate pair with its arrays. Above it the joins stay SMJ (the
# 100 TB shape).
_VERIFY_BROADCAST_MAX_DOCS = 1_000_000


def tiled_band_self_join(
    banded: DataFrame, doc_col: str = "doc", *,
    band_cols: tuple = ("band", "bh"), bucket_cap: int | None = 8192,
    payload_cols: tuple = (),
    filter_cols: tuple = (), pair_pre_filter=None,
) -> DataFrame:
    """Distinct (doc_a, doc_b) pairs sharing a band bucket, with the
    hot-bucket skew guard: buckets larger than ``bucket_cap`` split
    into g = ⌈m/cap⌉ deterministic chunks and replicate to the g tiles
    each chunk pair owns (the blocked-GEMM tiling), so every join task
    sees ≤ ~2·cap rows while the emitted pair set stays IDENTICAL
    (each cross-chunk pair lives in exactly one tile; intra-chunk
    duplicates collapse in the final distinct). The hot-bucket list is
    tiny (aggregated then broadcast); ``bucket_cap=None`` disables the
    guard. ``payload_cols`` ride through as ``{col}_a``/``{col}_b``
    (must be functionally dependent on ``doc_col`` so the distinct
    stays a pure pair-dedup). Shared by the MinHash and SimHash
    candidate joins.

    ``pair_pre_filter`` (round 6) is a boolean Column over the joined
    frame (sides aliased ``l``/``r``; reference e.g. ``F.col("l.bh")``)
    applied to the raw join output BEFORE the pair exchange — the
    map-side dedup hook: a pair sharing many band buckets is emitted
    once per bucket by the join, and a first-matching-band predicate
    drops the copies in the codegen'd join stage instead of shipping
    them all to the distinct (measured at sf10: 706M raw rows → 27M,
    ~98 s of exchange+dedup removed). ``filter_cols`` ride the banded
    rows (and the tiling rebuild) so the predicate can see them, but
    are dropped before the final projection+distinct. The final
    ``distinct`` stays: tiling still duplicates intra-chunk pairs of
    hot buckets, and the filter is an optimization hook, never a
    correctness requirement."""
    bc = list(band_cols)
    pc = list(payload_cols)
    fc = [c for c in filter_cols if c not in payload_cols]
    join_keys = bc
    if bucket_cap:
        hot = (
            banded.groupBy(*bc).count()
            .filter(F.col("count") > bucket_cap)
            .select(
                *bc,
                F.ceil(F.col("count") / bucket_cap).cast("int").alias("g"),
            )
        )
        # tile ids in LONG arithmetic: i * 2^20 + c overflows int32 once
        # a bucket exceeds ~16.8M rows (g > 2048) — wrapped ids stay
        # pairwise-consistent (correct pairs) but collide ACROSS chunk
        # pairs, silently re-merging the work the guard exists to split
        tile_base = F.lit(_TILE_K).cast("long")
        tiles = F.transform(
            F.sequence(F.lit(0), F.col("g") - 1),
            lambda i: F.when(
                i <= F.col("c"),
                i.cast("long") * tile_base + F.col("c"),
            ).otherwise(F.col("c").cast("long") * tile_base + i),
        )
        banded = (
            banded.join(F.broadcast(hot), bc, "left")
            .withColumn("g", F.coalesce("g", F.lit(1)))
            .withColumn("c", F.pmod(F.hash(doc_col), F.col("g")))
            .select(doc_col, *pc, *fc, *bc, F.explode(tiles).alias("tile"))
        )
        join_keys = bc + ["tile"]
    left = banded.alias("l")
    right = banded.alias("r")
    cond = F.col(f"l.{doc_col}") < F.col(f"r.{doc_col}")
    for k in join_keys:
        cond = (F.col(f"l.{k}") == F.col(f"r.{k}")) & cond
    joined = left.join(right, cond)
    if pair_pre_filter is not None:
        joined = joined.filter(pair_pre_filter)
    return (
        joined
        .select(
            F.col(f"l.{doc_col}").alias("doc_a"),
            F.col(f"r.{doc_col}").alias("doc_b"),
            *[F.col(f"l.{c}").alias(f"{c}_a") for c in pc],
            *[F.col(f"r.{c}").alias(f"{c}_b") for c in pc],
        )
        .distinct()
    )


def tiled_band_cross_join(
    left: DataFrame, right: DataFrame, doc_col: str = "doc", *,
    band_cols: tuple = ("band", "bh"), bucket_cap: int | None = 8192,
    filter_cols: tuple = (), pair_pre_filter=None,
) -> DataFrame:
    """Distinct (doc_a ∈ left, doc_b ∈ right) pairs sharing a band
    bucket — the TWO-corpus sibling of ``tiled_band_self_join`` for
    incremental ingest (new batch × existing corpus). No ``<`` doc
    ordering: the sides are distinct corpora and every cross pair is
    wanted exactly once.

    Skew guard is the blocked cross product: a bucket with m left and
    n right rows splits into g_l = ⌈m/cap⌉ × g_r = ⌈n/cap⌉ tiles; a
    left row in chunk c_l replicates to tiles (c_l, 0..g_r-1), a right
    row in chunk c_r to (0..g_l-1, c_r), so the pair (a, b) meets in
    EXACTLY one tile (c_l(a), c_r(b)) and every join task sees ≤ ~2·cap
    rows. The hot-bucket list is an inner join of the two per-side
    count aggregates (a bucket absent from either side yields no pairs)
    and stays tiny → broadcast. ``filter_cols`` / ``pair_pre_filter``
    behave as in the self-join (map-side first-matching-band dedup
    hook); the final ``distinct`` collapses multi-band duplicates the
    pre-filter didn't."""
    bc = list(band_cols)
    fc = list(filter_cols)
    join_keys = bc
    if bucket_cap:
        cnt_l = left.groupBy(*bc).count().withColumnRenamed("count", "m")
        cnt_r = right.groupBy(*bc).count().withColumnRenamed("count", "n")
        hot = (
            cnt_l.join(cnt_r, bc)
            .filter((F.col("m") > bucket_cap) | (F.col("n") > bucket_cap))
            .select(
                *bc,
                F.ceil(F.col("m") / bucket_cap).cast("int").alias("g_l"),
                F.ceil(F.col("n") / bucket_cap).cast("int").alias("g_r"),
            )
        )
        tile_base = F.lit(_TILE_K).cast("long")

        def _tiled(side: DataFrame, own_g: str, other_g: str, row_major: bool):
            tiles = F.transform(
                F.sequence(F.lit(0), F.col(other_g) - 1),
                lambda j: (
                    F.col("c").cast("long") * tile_base + j.cast("long")
                    if row_major
                    else j.cast("long") * tile_base + F.col("c").cast("long")
                ),
            )
            return (
                side.join(F.broadcast(hot), bc, "left")
                .withColumns({
                    "g_l": F.coalesce("g_l", F.lit(1)),
                    "g_r": F.coalesce("g_r", F.lit(1)),
                })
                .withColumn("c", F.pmod(F.hash(doc_col), F.col(own_g)))
                .select(
                    doc_col, *fc, *bc, F.explode(tiles).alias("tile")
                )
            )

        left = _tiled(left, "g_l", "g_r", row_major=True)
        right = _tiled(right, "g_r", "g_l", row_major=False)
        join_keys = bc + ["tile"]
    l, r = left.alias("l"), right.alias("r")
    cond = F.lit(True)
    for k in join_keys:
        cond = (F.col(f"l.{k}") == F.col(f"r.{k}")) & cond
    joined = l.join(r, cond)
    if pair_pre_filter is not None:
        joined = joined.filter(pair_pre_filter)
    return (
        joined.select(
            F.col(f"l.{doc_col}").alias("doc_a"),
            F.col(f"r.{doc_col}").alias("doc_b"),
        )
        .distinct()
    )


def lsh_candidate_pairs(
    sigs: DataFrame, *, bands: int = 32, rows_per_band: int = 4,
    bucket_cap: int | None = 8192,
) -> DataFrame:
    """Distinct (doc_a, doc_b) sharing ≥1 identical signature band.

    S-curve: pair at jaccard j collides w.p. 1-(1-j^r)^b; with b=32,
    r=4 the 50% threshold sits at (1/32)^(1/4) ≈ 0.42 and recall at
    j≥0.8 exceeds 0.99999.

    Hot-bucket skew (one boilerplate family = 30% of the corpus in a
    single (band, band_hash) bucket ⇒ one task computing m²/2 pairs
    alone) is handled by ``tiled_band_self_join``'s chunk tiling.

    ``sigs`` is persisted here: the signature pandas-UDF feeds three
    consumers (hot-bucket agg, join left, join right) and must compute
    once, not three times. Spark's ContextCleaner reclaims the cache
    when the DataFrame goes out of scope."""
    sigs = sigs.persist()
    banded = sigs.select(
        "doc",
        F.transform(
            F.sequence(F.lit(0), F.lit(bands - 1)),
            lambda i: F.hash(F.slice(
                "sig", (i * rows_per_band + 1).cast("int"), rows_per_band
            )),
        ).alias("bhs"),
    ).select(
        "doc", "bhs", F.posexplode("bhs").alias("band", "bh")
    )
    return _lsh_pairs_from_banded(banded, bands=bands, bucket_cap=bucket_cap)


def _first_band_col(bands: int):
    """First band index at which the joined l/r docs' band-hash
    arrays agree — the map-side pair-dedup predicate shared by the
    self-join (``_lsh_pairs_from_banded``) and cross-corpus
    (``crosscorpus_pairs_from_tables``) candidate joins. Flat
    GetArrayItem comparisons (not zip_with/aggregate) keep the CASE
    chain inside WholeStageCodegen."""
    fb = F.when(F.col("l.bhs")[0] == F.col("r.bhs")[0], F.lit(0))
    for j in range(1, bands):
        fb = fb.when(F.col("l.bhs")[j] == F.col("r.bhs")[j], F.lit(j))
    return fb


def _lsh_pairs_from_banded(
    banded: DataFrame, *, bands: int, bucket_cap: int | None,
) -> DataFrame:
    """Candidate pairs from a (doc, bhs, band, bh) banded table.

    First-matching-band map-side dedup (round 6): a genuine near-dup
    pair agrees in MOST of its 32 bands, so the raw band join emits
    it ~32 times (measured sf10: 706M raw rows for 27.1M distinct
    pairs) and the pair distinct's exchange dominates the whole
    pipeline (~98 s). Each banded row carries the doc's full 32-entry
    band-hash array; this codegen'd CASE chain keeps a joined row
    only in the FIRST band where the two docs agree, so duplicates
    die inside the join stage instead of crossing the shuffle. Flat
    GetArrayItem comparisons (not zip_with/aggregate) keep the
    predicate inside WholeStageCodegen."""
    return tiled_band_self_join(
        banded, "doc", band_cols=("band", "bh"), bucket_cap=bucket_cap,
        filter_cols=("bhs",),
        pair_pre_filter=F.col("l.band") == _first_band_col(bands),
    )


def verified_jaccard_pairs_from_sets(
    sets: DataFrame, pairs: DataFrame, *, threshold: float = 0.8,
    broadcast_sets: bool | tuple[bool, bool] = False,
    sets_b: DataFrame | None = None,
) -> DataFrame:
    """Exact word-shingle jaccard on candidate pairs; keep ≥ threshold.

    Round 6: each doc's DISTINCT shingle set comes from a
    ``shingle_sets`` table (sorted uint64 hash arrays from the
    vectorized kernel) joined onto the candidate pairs; the
    intersection is a JVM ``array_intersect`` — nothing re-shingles
    texts into Python string sets, and no per-pair data crosses the
    Python boundary. Set SIZES — and therefore jaccard — equal the
    string-set definition unless two distinct shingles of one doc
    collide in 64 bits (~n²/2⁶⁵ per doc, negligible); the SQL oracles
    still verify with list_distinct/list_intersect on the STRINGS and
    stay hash-green. The threshold test uses the same IEEE ops as the
    oracle (divide then compare) so boundary pairs agree bit-for-bit.
    Output jaccard is in 1e-4 integer units (j_e4), FP-noise-proof.

    SECURITY: because this compares HASH sets, verification is only
    as collision-resistant as the shingle kernel that built ``sets``.
    With default seeds the kernel's multiplier is public and
    collisions are adversarially constructible — an attacker-supplied
    document can forge jaccard >= threshold against a victim doc. Do
    NOT gate untrusted corpora on default seeds; build ``sets`` with
    ``seed=random_kernel_seed()`` (module trust-model note).

    Scale shape: the heavy exchange is the second join re-shuffling
    (pair, s_a) by doc_b — candidate-pair count × one shingle array.
    Joining arrays (not texts) keeps that exchange to fixed-width
    longs, and the candidate set is already LSH-pruned.
    ``broadcast_sets=True`` turns both joins into broadcast-hash joins
    — NO pair-side exchange or sort at all. Callers that know the
    per-shard doc count opt in (see ``near_dup_pairs_minhash``); the
    default stays shuffle-shaped because a 100 TB corpus's set table
    cannot be broadcast."""

    # The intersection is pure JVM — ``array_intersect``/``size``
    # column expressions, no Python UDF. The first cut shipped both
    # arrays of every pair to an Arrow-batched pandas UDF; at sf10
    # that moved ~27M × 2 × ~800 B ≈ 40 GB JVM→Python and the UDF,
    # not the joins, dominated the stage (and a ``.withColumn(udf)
    # .filter()`` plan plants the ArrowEvalPython TWICE — once under
    # the Filter, once under the Project). JVM set intersection does
    # the same work in-place with zero boundary crossings. Rounding is
    # ``F.round`` (HALF_UP) == DuckDB ``round`` — banker's rounding
    # here would diverge from the oracle on exact .5 ties.
    # ``sets_b`` (round 7): cross-corpus callers verify doc_a against
    # one sets table (the new batch) and doc_b against another (the
    # existing corpus); defaults keep the self-join shape. A
    # (bool, bool) ``broadcast_sets`` broadcasts each side
    # independently — the 100 TB incremental-ingest shape is a SMALL
    # new batch against a corpus that can never be broadcast.
    s_a = sets.withColumnsRenamed({"doc": "doc_a", "sh": "s_a"})
    s_b = (sets if sets_b is None else sets_b).withColumnsRenamed(
        {"doc": "doc_b", "sh": "s_b"}
    )
    bc_a, bc_b = (
        broadcast_sets if isinstance(broadcast_sets, tuple)
        else (broadcast_sets, broadcast_sets)
    )
    if bc_a:
        s_a = F.broadcast(s_a)
    if bc_b:
        s_b = F.broadcast(s_b)
    n_int = F.size(F.array_intersect("s_a", "s_b")).cast("long")
    n_union = (
        F.size("s_a").cast("long") + F.size("s_b").cast("long") - n_int
    )
    denom = F.greatest(n_union, F.lit(1))
    return (
        pairs.join(s_a, "doc_a")
        .join(s_b, "doc_b")
        .select(
            "doc_a", "doc_b",
            n_int.alias("n_int"), denom.alias("denom"),
        )
        .filter(F.col("n_int") / F.col("denom") >= threshold)
        .select(
            "doc_a", "doc_b",
            F.round(F.col("n_int") * 10000 / F.col("denom"))
            .cast("long").alias("j_e4"),
        )
    )


def verified_jaccard_pairs(
    df: DataFrame, pairs: DataFrame, id_col: str, text: str, *,
    shingle_k: int = 3, threshold: float = 0.8,
) -> DataFrame:
    """Standalone wrapper: shingle ``df`` then verify ``pairs``.
    Pipelines that already built ``shingle_sets`` should call
    ``verified_jaccard_pairs_from_sets`` directly."""
    return verified_jaccard_pairs_from_sets(
        shingle_sets(df, id_col, text, shingle_k=shingle_k, seed=2014),
        pairs, threshold=threshold,
    )


def near_dup_pairs_minhash(
    df: DataFrame, id_col: str, text: str, *, threshold: float = 0.8,
    num_hashes: int = 128, bands: int = 32, rows_per_band: int = 4,
    shingle_k: int = 3, seed: int = 2014, bucket_cap: int | None = 8192,
) -> DataFrame:
    """Full MinHash-LSH near-dup pipeline over ONE persisted fused
    table (``minhash_table``: shingle sets + band keys from a single
    kernel pass): banded LSH candidates (skew-tiled above
    ``bucket_cap``, map-side first-band dedup) → exact-jaccard
    verification over the same table's shingle arrays. The persist is
    reclaimed by Spark's ContextCleaner when the table goes out of
    scope (same lifetime discipline as the signature cache in
    ``lsh_candidate_pairs``). The verify joins flip to broadcast when
    the doc count is small enough to ship (the count also eagerly
    materializes the fused kernel exactly once)."""
    tbl = minhash_table(
        df, id_col, text, num_hashes=num_hashes, bands=bands,
        rows_per_band=rows_per_band, shingle_k=shingle_k, seed=seed,
    ).persist()
    n_docs = tbl.count()
    banded = tbl.select(
        "doc", "bhs", F.posexplode("bhs").alias("band", "bh")
    )
    cands = _lsh_pairs_from_banded(
        banded, bands=bands, bucket_cap=bucket_cap
    )
    return verified_jaccard_pairs_from_sets(
        tbl.select("doc", "sh"), cands, threshold=threshold,
        broadcast_sets=n_docs <= _VERIFY_BROADCAST_MAX_DOCS,
    )


def near_dup_pairs_crosscorpus(
    new_df: DataFrame, existing_df: DataFrame, id_col: str, text: str, *,
    threshold: float = 0.8, num_hashes: int = 128, bands: int = 32,
    rows_per_band: int = 4, shingle_k: int = 3, seed: int = 2014,
    bucket_cap: int | None = 8192,
) -> DataFrame:
    """(doc_a ∈ new, doc_b ∈ existing, j_e4): MinHash-LSH near-dup
    pairs BETWEEN two corpora — the incremental-ingest primitive: a
    monthly crawl snapshot deduped against the already-curated corpus
    without recomputing the corpus self-join. Both sides run the same
    fused ``minhash_table`` kernel (same seed ⇒ comparable band keys);
    candidates come from the two-sided skew-tiled band join with the
    map-side first-matching-band dedup; verification is the exact
    JVM-set jaccard with per-side sets tables.

    Scale shape (100 TB corpus + 1 TB batch): the existing side's
    minhash table is computed once and is bucketed-table-persistable
    by the caller; the band join shuffles band keys (16 bytes/row),
    never texts; broadcast polarity is PER SIDE — the small new batch
    broadcasts into the verify join, the existing corpus never does."""
    tbl_n = minhash_table(
        new_df, id_col, text, num_hashes=num_hashes, bands=bands,
        rows_per_band=rows_per_band, shingle_k=shingle_k, seed=seed,
    ).persist()
    tbl_e = minhash_table(
        existing_df, id_col, text, num_hashes=num_hashes, bands=bands,
        rows_per_band=rows_per_band, shingle_k=shingle_k, seed=seed,
    ).persist()
    # materialize the two sides CONCURRENTLY (guide §2.6): the counts
    # are independent jobs, so the second side's kernel tasks backfill
    # the slots the first side's tail leaves idle
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=2) as ex:
        f_n = ex.submit(tbl_n.count)
        f_e = ex.submit(tbl_e.count)
        n_new, n_old = f_n.result(), f_e.result()
    return crosscorpus_pairs_from_tables(
        tbl_n, tbl_e, bands=bands, threshold=threshold,
        bucket_cap=bucket_cap,
        broadcast_sets=(
            n_new <= _VERIFY_BROADCAST_MAX_DOCS,
            n_old <= _VERIFY_BROADCAST_MAX_DOCS,
        ),
    )


def crosscorpus_pairs_from_tables(
    tbl_n: DataFrame, tbl_e: DataFrame, *, bands: int = 32,
    threshold: float = 0.8, bucket_cap: int | None = 8192,
    broadcast_sets: bool | tuple[bool, bool] = False,
) -> DataFrame:
    """Cross-corpus pairs from two PRE-BUILT ``minhash_table`` frames
    (same seed/geometry on both sides). Split out so incremental
    pipelines — the streaming ingest job above all — can compute and
    persist the existing corpus's table ONCE (e.g. as parquet) and
    join every new batch against it without re-running the kernel
    over 100 TB per batch."""
    banded_n = tbl_n.select(
        "doc", "bhs", F.posexplode("bhs").alias("band", "bh")
    )
    banded_e = tbl_e.select(
        "doc", "bhs", F.posexplode("bhs").alias("band", "bh")
    )
    cands = tiled_band_cross_join(
        banded_n, banded_e, "doc", band_cols=("band", "bh"),
        bucket_cap=bucket_cap, filter_cols=("bhs",),
        pair_pre_filter=F.col("l.band") == _first_band_col(bands),
    )
    return verified_jaccard_pairs_from_sets(
        tbl_n.select("doc", "sh"), cands, threshold=threshold,
        sets_b=tbl_e.select("doc", "sh"), broadcast_sets=broadcast_sets,
    )


def dedup_against_corpus(
    new_df: DataFrame, existing_df: DataFrame, id_col: str, text: str, *,
    threshold: float = 0.8, shingle_k: int = 3, seed: int = 2014,
    bucket_cap: int | None = 8192,
) -> DataFrame:
    """Incremental ingest: rows of ``new_df`` that are neither EXACT
    duplicates (md5 of normalized text) nor MinHash near-duplicates
    (jaccard ≥ ``threshold``) of any ``existing_df`` document. The
    composition a 100 TB pipeline runs on every new crawl snapshot:
    both gates are anti-joins keyed on 16-byte digests / doc ids —
    no text ever crosses a shuffle."""
    from cuckoofilter_spark.operators.text import fingerprint_md5

    new_fp = new_df.withColumn("_fp", fingerprint_md5(text))
    old_fp = existing_df.select(fingerprint_md5(text).alias("_fp")).distinct()
    survivors = new_fp.join(old_fp, "_fp", "left_anti")
    near = near_dup_pairs_crosscorpus(
        survivors, existing_df, id_col, text, threshold=threshold,
        shingle_k=shingle_k, seed=seed, bucket_cap=bucket_cap,
    ).select(F.col("doc_a").alias(id_col)).distinct()
    return survivors.join(near, id_col, "left_anti").drop("_fp")


def _large_star(e: DataFrame) -> DataFrame:
    """One large-star round (Kiveris et al., "Connected Components in
    MapReduce and Beyond", SoCC'14): every node connects its LARGER
    neighbors to the minimum of its neighborhood (incl. itself)."""
    sym = e.unionByName(
        e.select(F.col("v").alias("u"), F.col("u").alias("v"))
    )
    mins = (
        sym.groupBy("u").agg(F.min("v").alias("mn"))
        .select("u", F.least("mn", F.col("u")).alias("m"))
    )
    return (
        sym.join(mins, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def _small_star(e: DataFrame) -> DataFrame:
    """One small-star round: each node connects its SMALLER (or equal)
    neighbors — and itself — to the minimum among them."""
    d = e.select(
        F.greatest("u", "v").alias("u"), F.least("u", "v").alias("v")
    ).filter(F.col("u") != F.col("v")).distinct()
    mins = d.groupBy("u").agg(F.min("v").alias("m"))
    return (
        d.join(mins, "u")
        .select(F.col("v").alias("u"), F.col("m").alias("v"))
        .unionByName(mins.select("u", F.col("m").alias("v")))
        .filter(F.col("u") != F.col("v"))
        .distinct()
    )


def star_contraction_components(
    edges: DataFrame, *, max_rounds: int = 50,
) -> DataFrame:
    """Connected components by alternating large-star/small-star
    contraction — O(log n) rounds regardless of component DIAMETER
    (min-label propagation needs O(diameter) rounds; a 10^6-doc chain
    of pairwise near-dups would need 10^6 of them).

    ``edges``: (src, dst) pairs. Returns (doc, rep) for every node in
    the edge set, rep = component minimum. Each round localCheckpoints
    to truncate lineage; convergence = edge set unchanged, checked by
    count + anti-join (cheap: the edge table shrinks toward one star
    edge per non-root node)."""
    e = (
        edges.select(F.col("src").alias("u"), F.col("dst").alias("v"))
        .filter(F.col("u") != F.col("v"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    nodes = (
        e.select(F.col("u").alias("doc"))
        .unionByName(e.select(F.col("v").alias("doc")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    for _ in range(max_rounds):
        nxt = _small_star(_large_star(e)).localCheckpoint(eager=True)
        same = (
            nxt.count() == e.count()
            and nxt.join(e, ["u", "v"], "left_anti").limit(1).count() == 0
        )
        e = nxt
        if same:
            break
    else:
        raise RuntimeError(
            f"star contraction did not converge in {max_rounds} rounds"
        )
    # converged edge set is a star forest: (node, component-min root)
    labels = e.select(F.col("u").alias("doc"), F.col("v").alias("rep"))
    roots = (
        labels.select(F.col("rep").alias("doc")).distinct()
        .withColumn("rep", F.col("doc"))
    )
    out = labels.unionByName(roots)
    # safety: exactly one label per original node — a star forest that
    # dropped or duplicated a node would silently split components
    n_nodes = nodes.count()
    if out.count() != n_nodes or out.select("doc").distinct().count() != n_nodes:
        raise RuntimeError("star contraction produced a non-star forest")
    return out


def _components_driver(spark, edges: pa.Table, id_type) -> DataFrame:
    """(doc, rep) via driver-side union-find over a SMALL collected
    edge list. Output contract identical to the distributed resolvers:
    every node of the edge set labeled with its component MINIMUM,
    both columns of the input id type."""
    import pyspark.sql.types as T

    u = edges.column("src").to_numpy().astype(np.int64, copy=False)
    v = edges.column("dst").to_numpy().astype(np.int64, copy=False)
    nodes, inv = np.unique(np.concatenate([u, v]), return_inverse=True)
    parent = np.arange(len(nodes), dtype=np.int64)

    def find(x: int) -> int:
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:
            parent[x], x = root, parent[x]
        return root

    eu, ev = inv[: len(u)], inv[len(u):]
    for a, b in zip(eu.tolist(), ev.tolist()):
        ra, rb = find(a), find(b)
        if ra != rb:
            # union by smaller node id keeps the min-label invariant
            # cheap to extract afterwards
            parent[max(ra, rb)] = min(ra, rb)
    roots = np.array([find(i) for i in range(len(nodes))], dtype=np.int64)
    # nodes[] ascending ⇒ root index is the component's min node index
    reps = nodes[roots]
    out = pd.DataFrame({"doc": nodes, "rep": reps})
    schema = T.StructType([
        T.StructField("doc", id_type),
        T.StructField("rep", id_type),
    ])
    return spark.createDataFrame(out, schema)


def duplicate_clusters(
    pairs: DataFrame, *, max_iter: int = 25,
    pair_cols: tuple = ("doc_a", "doc_b"),
) -> DataFrame:
    """Resolve near-dup PAIRS into duplicate CLUSTERS: (doc, rep)
    where ``rep`` is the minimum doc id of the connected component —
    the canonical survivor a keep-one dedup retains.

    Iterative min-label propagation: each round every node adopts the
    minimum label among itself and its neighbors; converges in
    O(diameter) rounds — near-dup components are dense clique-ish
    blobs, so diameter is tiny and this is the cheapest path. If a
    pathological long-chain component exceeds ``max_iter`` rounds, the
    resolver FALLS BACK to O(log n) large-star/small-star contraction
    (``star_contraction_components``) instead of failing. Each round
    is one shuffle join on the edge list; ``localCheckpoint`` truncates
    the growing lineage so round N's plan does not replay rounds
    1..N-1. Only docs appearing in ``pairs`` are returned (isolated
    docs are their own rep by definition)."""
    ca, cb = pair_cols
    edges = (
        pairs.select(F.col(ca).alias("src"), F.col(cb).alias("dst"))
        .union(pairs.select(F.col(cb).alias("src"), F.col(ca).alias("dst")))
        .distinct()
        .persist()
    )
    # round 8: integral-key edge sets within the driver budget (2M
    # edges) resolve driver-side (one collect + union-find) instead of
    # paying 3-4 jobs per propagation round — near-dup clusters at
    # bench scale resolve in milliseconds locally. The distributed
    # paths below are unchanged for every other case. The count also
    # materializes the persist the loop needs.
    from pyspark.sql.types import ByteType, IntegerType, LongType, ShortType

    from cuckoofilter_spark.operators.build import bounded_collect

    id_type = edges.schema["src"].dataType
    if isinstance(id_type, (ByteType, ShortType, IntegerType, LongType)):
        tbl = bounded_collect(edges, n_rows=edges.count())
        if tbl is not None:
            out = _components_driver(edges.sparkSession, tbl, id_type)
            edges.unpersist()
            return out
    labels = (
        edges.select(F.col("src").alias("doc"))
        .distinct()
        .withColumn("rep", F.col("doc"))
        .localCheckpoint(eager=True)
    )
    converged = False
    for _ in range(max_iter):
        prop = (
            edges.join(labels, edges.src == labels.doc)
            .select(F.col("dst").alias("doc"), "rep")
        )
        new_labels = (
            labels.unionByName(prop)
            .groupBy("doc")
            .agg(F.min("rep").alias("rep"))
            .localCheckpoint(eager=True)
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "doc")
            .filter(F.col("n.rep") != F.col("o.rep"))
            .limit(1)
            .count()
        )
        labels = new_labels
        if changed == 0:
            converged = True
            break
    if not converged:
        # component diameter exceeds max_iter: a silently-unconverged
        # label table would split components — switch to the
        # diameter-independent O(log n) algorithm
        out = star_contraction_components(edges)
        edges.unpersist()
        return out
    edges.unpersist()
    return labels


def dedup_near(
    df: DataFrame, pairs: DataFrame, id_col: str,
    pair_cols: tuple = ("doc_a", "doc_b"), *,
    keep: str = "min_id", quality_col: str | None = None,
) -> DataFrame:
    """Keep-one near-dup dedup; docs in no pair survive untouched.
    Works over any pair source (minhash/simhash/ngram text pairs, or
    embedding pairs via ``pair_cols=("id_a", "id_b")``).

    ``keep``:
    * ``"min_id"`` (default) — survivor is the smallest id in each
      connected component (cheap, deterministic).
    * ``"best"`` — survivor is the component member with the highest
      ``quality_col`` value (ties broken by smallest id) — the
      production policy: near-dup clusters usually mix a clean
      original with truncated/boilerplated copies, and keep-best
      retains the clean one. Cost: one extra join + window over
      CLUSTER MEMBERS ONLY (a small fraction of the corpus), never
      the full frame."""
    clusters = duplicate_clusters(pairs, pair_cols=pair_cols)
    if keep == "min_id":
        drop = (
            clusters.filter(F.col("doc") != F.col("rep"))
            .select(F.col("doc").alias(id_col))
        )
    elif keep == "best":
        if quality_col is None:
            raise ValueError("keep='best' requires quality_col")
        from pyspark.sql import Window

        members = clusters.join(
            df.select(
                F.col(id_col).alias("doc"),
                F.col(quality_col).alias("_q"),
            ),
            "doc",
        )
        w = Window.partitionBy("rep").orderBy(
            F.col("_q").desc(), F.col("doc").asc()
        )
        drop = (
            members.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") > 1)
            .select(F.col("doc").alias(id_col))
        )
    else:
        raise ValueError(f"unknown keep policy: {keep!r}")
    return df.join(drop, id_col, "left_anti")


def near_dup_pairs_ngram(
    df: DataFrame, id_col: str, text: str, *, threshold: float = 0.6,
    shingle_k: int = 3, seed: int = 2014, bucket_cap: int | None = 8192,
) -> DataFrame:
    """Exact n-gram-Jaccard near-dup pairs by PPJoin-style prefix
    filtering (Xiao et al., WWW'08; Bayardo et al., WWW'07 — published
    algorithm, no LSH approximation).

    Candidate generation with a RECALL GUARANTEE: order every doc's
    shingles by global rarity (document frequency, ties by hash); if
    J(A,B) >= t then the first ``|x| - ceil(t*|x|) + 1`` shingles of
    each side must share an element (prefix-filtering principle), so
    joining only the prefix postings finds every qualifying pair —
    unlike MinHash-LSH there is no probabilistic miss. Exact-jaccard
    verification then removes false candidates.

    Scale shape: the df aggregation and the posting self-join move
    (doc, sh) longs only — never text; prefixes shrink the postings by
    ~t; hot shingles (boilerplate) are chunk-tiled by
    ``tiled_band_self_join``; verification touches candidates only.
    One persisted ``shingle_sets`` pass feeds both the posting rows
    (exploded) and the final verification arrays."""
    sets = shingle_sets(
        df, id_col, text, shingle_k=shingle_k, seed=seed
    ).persist()
    n_docs = sets.count()
    sh = sets.select("doc", F.explode("sh").alias("sh")).persist()
    dfreq = sh.groupBy("sh").agg(F.count(F.lit(1)).alias("dfreq"))
    n_sh = sh.groupBy("doc").agg(F.count(F.lit(1)).alias("n_sh"))
    prefix_len = (
        F.col("n_sh") - F.ceil(F.lit(threshold) * F.col("n_sh")) + 1
    )
    w = Window.partitionBy("doc").orderBy("dfreq", "sh")
    prefix = (
        sh.join(dfreq, "sh")
        .withColumn("rk", F.row_number().over(w))
        .join(n_sh, "doc")
        .filter(F.col("rk") <= prefix_len)
        .select("doc", "sh")
    )
    cands = tiled_band_self_join(
        prefix, "doc", band_cols=("sh",), bucket_cap=bucket_cap
    )
    return verified_jaccard_pairs_from_sets(
        sets, cands, threshold=threshold,
        broadcast_sets=n_docs <= _VERIFY_BROADCAST_MAX_DOCS,
    )


def simhash64(
    df: DataFrame, id_col: str, text: str, seed: int = 2014,
    shingle_k: int = 3,
) -> DataFrame:
    """(doc, simhash long): sign of per-bit weighted sums of word
    k-shingle hashes. Shingles (not bare words) keep the signature
    discriminative on small-vocabulary corpora — bare-word simhash
    degenerates when all docs share one vocabulary."""

    @F.pandas_udf(LongType())
    def sim_udf(texts: pd.Series) -> pd.Series:
        out = np.zeros(len(texts), dtype=np.int64)
        for i, h in enumerate(_shingle_hashes_batch(texts, shingle_k, seed)):
            if len(h) == 0:
                continue
            bits = (
                (h[:, None] >> np.arange(64, dtype=np.uint64)) & np.uint64(1)
            ).astype(np.int64)  # signed BEFORE the vote arithmetic
            votes = bits.sum(axis=0) * 2 - len(h)  # (+1/-1 votes per bit)
            sim = np.uint64(0)
            for bit_idx in np.flatnonzero(votes > 0):
                sim |= np.uint64(1) << np.uint64(bit_idx)
            out[i] = np.int64(sim.astype(np.int64))
        return pd.Series(out)

    from cuckoofilter_spark.session import fan_out

    # fan_out (round 8): see shingle_sets — kernel output is per-row
    return fan_out(df.select(F.col(id_col), F.col(text))).select(
        F.col(id_col).alias("doc"), sim_udf(F.col(text)).alias("simhash")
    )


def near_dup_pairs_simhash(
    df: DataFrame, id_col: str, text: str, *, max_hamming: int = 3,
    seed: int = 2014, bucket_cap: int | None = 8192, rotate: int = 0,
    sims: DataFrame | None = None,
) -> DataFrame:
    """Pairs within Hamming distance ≤ max_hamming of their simhashes.

    Pigeonhole: ≤3 differing bits over 4 disjoint 16-bit bands ⇒ at
    least one band identical — band-join generates candidates (with
    the same ``tiled_band_self_join`` hot-bucket guard as MinHash:
    near-identical boilerplate shares ALL four bands, m docs ⇒ one
    m²/2 task without it), JVM ``bit_count(a XOR b)`` verifies
    exactly.

    ``rotate`` (bits) rotates every signature before banding; rotation
    is a Hamming isometry, so ANY rotation's banded+verified pair set
    equals the exact Hamming-≤k set — two different rotations give two
    INDEPENDENT band partitions whose results must agree, which is the
    scale-shaped self-check the contract query runs (no O(n²) arm).
    ``sims`` lets callers pass a precomputed (doc, simhash) table so
    the signature UDF runs once across several bandings."""
    if sims is None:
        sims = simhash64(df, id_col, text, seed=seed).persist()
    r = int(rotate) % 64
    if r:
        sig = F.shiftrightunsigned(F.col("simhash"), r).bitwiseOR(
            F.shiftleft(F.col("simhash"), 64 - r)
        )
    else:
        sig = F.col("simhash")
    banded = sims.select(
        "doc", sig.alias("rsim"),
        F.posexplode(
            F.array(*[
                F.shiftrightunsigned(sig, 16 * i)
                .bitwiseAND(F.lit(0xFFFF)) for i in range(4)
            ])
        ).alias("band", "bkey"),
    )
    # first-matching-band map-side dedup: a Hamming-<=k pair shares up
    # to all 4 bands (identical docs share exactly 4) and would cross
    # the pair exchange once per shared band; keep only the first
    # agreeing band. rsim already rides as the verify payload, so the
    # band keys are recomputable in the join filter for free.
    def _bkey(side: str, i: int):
        return F.shiftrightunsigned(F.col(f"{side}.rsim"), 16 * i).bitwiseAND(
            F.lit(0xFFFF)
        )

    first_band = F.when(_bkey("l", 0) == _bkey("r", 0), F.lit(0))
    for i in range(1, 4):
        first_band = first_band.when(_bkey("l", i) == _bkey("r", i), F.lit(i))
    pairs = tiled_band_self_join(
        banded, "doc", band_cols=("band", "bkey"), bucket_cap=bucket_cap,
        payload_cols=("rsim",),
        pair_pre_filter=F.col("l.band") == first_band,
    ).withColumn(
        # Hamming on the rotated signatures == Hamming on the originals
        "hamming",
        F.bit_count(F.col("rsim_a").bitwiseXOR(F.col("rsim_b"))),
    )
    return pairs.filter(F.col("hamming") <= max_hamming).select(
        "doc_a", "doc_b", "hamming"
    )
