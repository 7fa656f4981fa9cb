"""Vectorized hash kernels (numpy, batch-first).

Re-expresses the hash family the reference filter actually uses —
``TwoIndependentMultiplyShift`` (reference ``src/hashutil.h:49-67``):
``h(key) = (add + multiply * key) >> 64`` where ``add``/``multiply``
are 128-bit constants. The reference draws them from
``std::random_device`` (non-reproducible, ``src/hashutil.h:53-62``);
we derive them from an explicit seed so distributed builds are
deterministic and shard filters share one hash family (a precondition
for merging).

All functions are batch-vectorized over ``numpy`` ``uint64`` arrays.
128-bit arithmetic is decomposed into 32-bit limbs so that plain
wrapping ``uint64`` multiplies suffice.
"""

from __future__ import annotations

import numpy as np

_MASK32 = np.uint64(0xFFFFFFFF)
_MURMUR_C = np.uint32(0x5BD1E995)  # MurmurHash2 constant reused by AltIndex
                                   # (reference src/cuckoofilter.h:77-78)

# Older numpy raises on uint64 <op> python-int in some paths; keep u64 consts.
_U32 = np.uint64(32)


def _umulhi64(a: np.ndarray, b: np.uint64) -> np.ndarray:
    """High 64 bits of the 64x64->128 product, vectorized.

    Standard 32-bit limb decomposition; every multiply wraps mod 2^64
    which numpy uint64 arithmetic does natively.
    """
    a_lo = a & _MASK32
    a_hi = a >> _U32
    b_lo = b & _MASK32
    b_hi = b >> _U32

    ll = a_lo * b_lo
    lh = a_lo * b_hi
    hl = a_hi * b_lo
    hh = a_hi * b_hi

    # carry out of the low word
    cross = (ll >> _U32) + (lh & _MASK32) + (hl & _MASK32)
    return hh + (lh >> _U32) + (hl >> _U32) + (cross >> _U32)


class MultiplyShift:
    """Two-independent multiply-shift over 128-bit state, seeded.

    ``hash(key) = high64(add128 + mul128 * key)`` — same formula as the
    reference's default hash family; seeds are explicit for
    reproducibility across executors.
    """

    __slots__ = ("mul_lo", "mul_hi", "add_lo", "add_hi", "seed")

    def __init__(self, seed: int):
        self.seed = int(seed)
        rng = np.random.Generator(np.random.PCG64(seed))
        draws = rng.integers(0, 2**64, size=4, dtype=np.uint64)
        # force multiplier odd (standard multiply-shift hygiene)
        self.mul_lo = np.uint64(draws[0] | np.uint64(1))
        self.mul_hi = np.uint64(draws[1])
        self.add_lo = np.uint64(draws[2])
        self.add_hi = np.uint64(draws[3])

    def hash64(self, keys: np.ndarray) -> np.ndarray:
        keys = np.ascontiguousarray(keys, dtype=np.uint64)
        prod_hi = _umulhi64(keys, self.mul_lo) + keys * self.mul_hi
        prod_lo = keys * self.mul_lo
        lo = prod_lo + self.add_lo
        carry = (lo < prod_lo).astype(np.uint64)
        return prod_hi + self.add_hi + carry


def index_hash(hv: np.ndarray, num_buckets: int) -> np.ndarray:
    """Bucket index from the upper 32 hash bits (reference
    ``src/cuckoofilter.h:66-71``): power-of-two table -> AND mask."""
    return (hv >> _U32) & np.uint64(num_buckets - 1)


def tag_hash(hv: np.ndarray, bits_per_item: int) -> np.ndarray:
    """Fingerprint from the low ``f`` bits; 0 is reserved for empty so
    0 bumps to 1 (reference ``src/cuckoofilter.h:59-64``)."""
    tag = (hv & np.uint64((1 << bits_per_item) - 1)).astype(np.uint32)
    tag += (tag == 0).astype(np.uint32)
    return tag


def alt_index(index: np.ndarray, tag: np.ndarray, num_buckets: int) -> np.ndarray:
    """Partial-key alternate bucket: ``i ^ (tag * 0x5bd1e995)`` in
    wrapping uint32, masked to the table (reference
    ``src/cuckoofilter.h:73-79``). Self-inverse: alt(alt(i,t),t) == i.
    """
    ix = index.astype(np.uint32)
    t = tag.astype(np.uint32) * _MURMUR_C
    return ((ix ^ t) & np.uint32(num_buckets - 1)).astype(np.uint64)


def upperpower2(x: int) -> int:
    """Next power of two >= x (reference ``src/bitsutil.h:21-31``)."""
    if x <= 1:
        return 1
    return 1 << (int(x) - 1).bit_length()


def clz64(x: np.ndarray) -> np.ndarray:
    """Count leading zeros of uint64, vectorized and exact (binary
    search over bit spans — no float log2 rounding hazards)."""
    x = x.astype(np.uint64, copy=True)
    n = np.full(x.shape, 64, dtype=np.int64)
    shift = 32
    total = np.zeros(x.shape, dtype=np.int64)
    while shift:
        s = np.uint64(shift)
        high = x >> s
        has = high != 0
        x = np.where(has, high, x)
        total = total + np.where(has, shift, 0)
        shift >>= 1
    # total = floor(log2(x)) for x != 0 (position of highest set bit)
    return np.where(x == 0, n, 63 - total).astype(np.int64)


def mix64(keys: np.ndarray, seed: int = 0) -> np.ndarray:
    """Cheap strong 64-bit mixer (splitmix64 finalizer) — used for
    companion sketches where full 2-independence is not required."""
    z = np.ascontiguousarray(keys, dtype=np.uint64) + np.uint64(
        (0x9E3779B97F4A7C15 * (seed * 2 + 1)) & 0xFFFFFFFFFFFFFFFF
    )
    z = (z ^ (z >> np.uint64(30))) * np.uint64(0xBF58476D1CE4E5B9)
    z = (z ^ (z >> np.uint64(27))) * np.uint64(0x94D049BB133111EB)
    return z ^ (z >> np.uint64(31))


class SimpleTabulation:
    """Tabulation hashing over the 8 bytes of a uint64 key — XOR of
    eight 256-entry random tables (reference ``src/hashutil.h:70-90``).
    3-independent; vectorized as a byte-gather + XOR reduction."""

    __slots__ = ("tables", "seed")

    def __init__(self, seed: int):
        self.seed = int(seed)
        rng = np.random.Generator(np.random.PCG64(seed ^ 0x7AB7AB))
        self.tables = rng.integers(0, 2**64, size=(8, 256), dtype=np.uint64)

    def hash64(self, keys: np.ndarray) -> np.ndarray:
        keys = np.ascontiguousarray(keys, dtype=np.uint64)
        out = np.zeros(len(keys), dtype=np.uint64)
        for byte in range(8):
            idx = ((keys >> np.uint64(8 * byte)) & np.uint64(0xFF)).astype(
                np.int64
            )
            out ^= self.tables[byte][idx]
        return out


def _rotl32(x: np.ndarray, k: int) -> np.ndarray:
    return (x << np.uint32(k)) | (x >> np.uint32(32 - k))


def _bob_final(a, b, c):
    """lookup3 final() mix (reference src/hashutil.cc:16-27 — the
    published Bob Jenkins constants), uint32 wrapping, vectorized."""
    c ^= b; c -= _rotl32(b, 14)
    a ^= c; a -= _rotl32(c, 11)
    b ^= a; b -= _rotl32(a, 25)
    c ^= b; c -= _rotl32(b, 16)
    a ^= c; a -= _rotl32(c, 4)
    b ^= a; b -= _rotl32(a, 14)
    c ^= b; c -= _rotl32(b, 24)
    return a, b, c


def _key_words32(keys: np.ndarray):
    keys = np.ascontiguousarray(keys, dtype=np.uint64)
    return (keys & _MASK32).astype(np.uint32), (keys >> _U32).astype(np.uint32)


def bob_hash_u64(keys: np.ndarray, seed: int = 0) -> np.ndarray:
    """lookup3 ``hashlittle`` of the 8 little-endian key bytes
    (reference 1-index ``HashUtil::BobHash``, src/hashutil.cc:56-317).
    Parity with the compiled reference is asserted in
    tests/test_hash_parity.py."""
    k0, k1 = _key_words32(keys)
    init = np.uint32((0xDEADBEEF + 8 + int(seed)) & 0xFFFFFFFF)
    a = k0 + init
    b = k1 + init
    c = np.full(len(k0), init, dtype=np.uint32)
    _, _, c = _bob_final(a, b, c)
    return c


def bob_hash2_u64(keys: np.ndarray, seed1: int, seed2: int):
    """lookup3 ``hashlittle2`` — two hashes in one pass (reference
    2-index ``HashUtil::BobHash``, src/hashutil.cc:319-593; "use idx1
    before idx2", src/hashutil.h:23-26). Returns (c, b)."""
    k0, k1 = _key_words32(keys)
    init = np.uint32((0xDEADBEEF + 8 + int(seed1)) & 0xFFFFFFFF)
    a = k0 + init
    b = k1 + init
    c = np.full(
        len(k0),
        np.uint32((int(init) + int(seed2)) & 0xFFFFFFFF),
        dtype=np.uint32,
    )
    _, b, c = _bob_final(a, b, c)
    return c, b


def murmur2_u64(keys: np.ndarray, seed: int = 0) -> np.ndarray:
    """MurmurHash2 (32-bit, m=0x5bd1e995) of the 8 key bytes
    (reference src/hashutil.cc:595-643 — the same constant AltIndex
    reuses)."""
    m = _MURMUR_C
    r = np.uint32(24)
    k0, k1 = _key_words32(keys)
    h = np.full(len(k0), np.uint32(seed) ^ np.uint32(8), dtype=np.uint32)
    for k in (k0, k1):
        k = k * m
        k ^= k >> r
        k = k * m
        h = h * m
        h ^= k
    h ^= h >> np.uint32(13)
    h = h * m
    h ^= h >> np.uint32(15)
    return h


def _murmur3_mix(h: np.ndarray, k: np.ndarray) -> np.ndarray:
    k = _rotl32(k * np.uint32(0xCC9E2D51), 15) * np.uint32(0x1B873593)
    return _rotl32(h ^ k, 13) * np.uint32(5) + np.uint32(0xE6546B64)


def spark_hash(keys: np.ndarray, seed: int = 42) -> np.ndarray:
    """Spark's ``hash(key)`` (``Murmur3Hash``, seed 42) of an integer
    array, as int32: ``hashInt`` for 8/16/32-bit keys (widened to int),
    ``hashLong`` (low word, then high word) for 64-bit keys — the
    function ``repartition`` and ``F.hash`` compute in the JVM."""
    wide = keys.dtype.itemsize == 8
    if wide:
        k0, k1 = _key_words32(keys.view(np.uint64))
        h = _murmur3_mix(_murmur3_mix(np.uint32(seed), k0), k1)
    else:
        k = keys.astype(np.int32, copy=False).view(np.uint32)
        h = _murmur3_mix(np.uint32(seed), k)
    h ^= np.uint32(8 if wide else 4)
    h ^= h >> np.uint32(16)
    h *= np.uint32(0x85EBCA6B)
    h ^= h >> np.uint32(13)
    h *= np.uint32(0xC2B2AE35)
    h ^= h >> np.uint32(16)
    return h.view(np.int32)


def superfast_hash_u64(keys: np.ndarray) -> np.ndarray:
    """Hsieh SuperFastHash of the 8 key bytes (reference
    src/hashutil.cc:646-693). Seedless by definition — the length
    byte is the only initial state."""
    keys = np.ascontiguousarray(keys, dtype=np.uint64)
    M16 = np.uint64(0xFFFF)
    w = [
        ((keys >> np.uint64(16 * i)) & M16).astype(np.uint32)
        for i in range(4)
    ]
    h = np.full(len(keys), np.uint32(8), dtype=np.uint32)
    for lo, hi in ((w[0], w[1]), (w[2], w[3])):
        h = h + lo
        tmp = (hi << np.uint32(11)) ^ h
        h = (h << np.uint32(16)) ^ tmp
        h = h + (h >> np.uint32(11))
    h ^= h << np.uint32(3)
    h = h + (h >> np.uint32(5))
    h ^= h << np.uint32(4)
    h = h + (h >> np.uint32(17))
    h ^= h << np.uint32(25)
    h = h + (h >> np.uint32(6))
    return h


def null_hash_u64(keys: np.ndarray, shiftbytes: int = 4) -> np.ndarray:
    """Byte-slice passthrough (reference src/hashutil.cc:699-710):
    big-endian read of bytes [len-shift-4, len-shift) of the buffer —
    including the reference's SIGNED-char arithmetic (each byte is
    sign-extended before the shift-add, so e.g. 0xEF in the top
    position contributes 0xEF000000 but 0xBE in the second position
    contributes 0xFFBE0000)."""
    keys = np.ascontiguousarray(keys, dtype=np.uint64)
    if 8 - shiftbytes < 4:
        return np.zeros(len(keys), dtype=np.uint32)
    base = 8 - shiftbytes - 4
    sb = [
        ((keys >> np.uint64(8 * (base + j))) & np.uint64(0xFF))
        .astype(np.uint8).astype(np.int8).astype(np.int64)
        for j in range(4)
    ]
    val = (sb[0] << 24) + (sb[1] << 16) + (sb[2] << 8) + sb[3]
    return (val & 0xFFFFFFFF).astype(np.uint32)


class BobHash:
    """lookup3 two-index family: ``hash64 = c << 32 | b`` from one
    ``hashlittle2`` pass — the reference's own d-choice pairing
    ("idx1 before idx2", src/hashutil.h:23-26) mapped onto our
    index-from-high-32 / tag-from-low-bits split."""

    __slots__ = ("s1", "s2", "seed")

    def __init__(self, seed: int):
        self.seed = int(seed)
        rng = np.random.Generator(np.random.PCG64(seed ^ 0xB0BB0B))
        s = rng.integers(0, 2**32, size=2, dtype=np.uint32)
        self.s1, self.s2 = int(s[0]), int(s[1])

    def hash64(self, keys: np.ndarray) -> np.ndarray:
        c, b = bob_hash2_u64(keys, self.s1, self.s2)
        return (c.astype(np.uint64) << _U32) | b.astype(np.uint64)


class SuperFastHash:
    """Hsieh kernel family. The reference kernel is seedless
    (src/hashutil.cc:646); for a usable 64-bit seeded family we take
    ``high32 = SFH(key)`` and ``low32 = SFH(key ^ seed_mix)`` —
    documented composition, not a reference formula."""

    __slots__ = ("mask", "seed")

    def __init__(self, seed: int):
        self.seed = int(seed)
        rng = np.random.Generator(np.random.PCG64(seed ^ 0x5FA57))
        self.mask = np.uint64(rng.integers(1, 2**64, dtype=np.uint64))

    def hash64(self, keys: np.ndarray) -> np.ndarray:
        keys = np.ascontiguousarray(keys, dtype=np.uint64)
        hi = superfast_hash_u64(keys)
        lo = superfast_hash_u64(keys ^ self.mask)
        return (hi.astype(np.uint64) << _U32) | lo.astype(np.uint64)


class NullHash:
    """Identity over uint64 keys — the byte-slice passthrough role of
    the reference NullHash (src/hashutil.cc:699-710), used to measure
    hash cost / test with pre-hashed keys. NOT a real hash family:
    structured key sets will cluster buckets."""

    __slots__ = ("seed",)

    def __init__(self, seed: int):
        self.seed = int(seed)

    def hash64(self, keys: np.ndarray) -> np.ndarray:
        return np.ascontiguousarray(keys, dtype=np.uint64)


# Pluggable hash family — the role of the reference's ``HashFamily``
# template parameter (src/cuckoofilter.h:32-35). The reference ships
# tabulation hashing because multiply-shift has known pathological key
# sets (benchmarks/random.h:16-20). Family ids are serialized in the
# filter blob header so merges can refuse cross-family unions.
class MD5Hash:
    """Cryptographic-digest family: 64-bit hash = first 8 MD5 digest
    bytes of (key ⊕ seed-mix) — the filter-family form of the
    reference's EVP MD5 wrapper (src/hashutil.h:39-41; its filter
    template never binds it, so this is API-parity surface). Slow by
    construction (~1 M keys/s) — for verification against pathological
    key sets, not hot paths."""

    __slots__ = ("mask", "seed")

    def __init__(self, seed: int):
        self.seed = int(seed)
        rng = np.random.Generator(np.random.PCG64(seed ^ 0x3D5D5))
        self.mask = np.uint64(rng.integers(0, 2**64, dtype=np.uint64))

    def hash64(self, keys: np.ndarray) -> np.ndarray:
        keys = np.ascontiguousarray(keys, dtype=np.uint64)
        return md5_hash64(keys ^ self.mask)


class SHA1Hash:
    """As ``MD5Hash`` but SHA-1 (src/hashutil.h:41)."""

    __slots__ = ("mask", "seed")

    def __init__(self, seed: int):
        self.seed = int(seed)
        rng = np.random.Generator(np.random.PCG64(seed ^ 0x51A15))
        self.mask = np.uint64(rng.integers(0, 2**64, dtype=np.uint64))

    def hash64(self, keys: np.ndarray) -> np.ndarray:
        keys = np.ascontiguousarray(keys, dtype=np.uint64)
        return sha1_hash64(keys ^ self.mask)


HASH_FAMILIES = {
    "multiply_shift": MultiplyShift,
    "tabulation": SimpleTabulation,
    "bob": BobHash,
    "superfast": SuperFastHash,
    "null": NullHash,
    "md5": MD5Hash,
    "sha1": SHA1Hash,
}
FAMILY_IDS = {
    "multiply_shift": 0, "tabulation": 1, "bob": 2, "superfast": 3,
    "null": 4, "md5": 5, "sha1": 6,
}
FAMILY_NAMES = {v: k for k, v in FAMILY_IDS.items()}


# ---------------------------------------------------------------- digests
# Batch MD5/SHA1 of the 8 little-endian key bytes — the numpy
# re-expression of the reference's EVP digest wrappers
# (src/hashutil.h:39-41, src/hashutil.cc MD5Hash/SHA1Hash). The
# filter template never calls them (src/cuckoofilter.h uses the
# multiply-shift family); they exist for API parity and as an extra
# hash family. One 64-byte block per key (8-byte message + padding),
# all 64/80 rounds vectorized over the batch; bit-exact vs hashlib
# (tests/test_hash_parity.py).

_MD5_S = np.array(
    [7, 12, 17, 22] * 4 + [5, 9, 14, 20] * 4
    + [4, 11, 16, 23] * 4 + [6, 10, 15, 21] * 4, dtype=np.uint32)
_MD5_K = np.array(
    [int(abs(np.sin(i + 1)) * 2**32) & 0xFFFFFFFF for i in range(64)],
    dtype=np.uint32)


def _rol32(x: np.ndarray, r) -> np.ndarray:
    r = np.uint32(r)
    return (x << r) | (x >> (np.uint32(32) - r))


def md5_digest_u64(keys: np.ndarray) -> np.ndarray:
    """MD5 digests of each key's 8 LE bytes -> (n, 16) uint8."""
    keys = np.ascontiguousarray(keys, dtype=np.uint64)
    n = len(keys)
    M = np.zeros((16, n), dtype=np.uint32)
    M[0] = (keys & _MASK32).astype(np.uint32)
    M[1] = (keys >> _U32).astype(np.uint32)
    M[2] = np.uint32(0x80)        # padding byte right after the message
    M[14] = np.uint32(64)         # message bit length (LE low word)
    a = np.full(n, 0x67452301, dtype=np.uint32)
    b = np.full(n, 0xEFCDAB89, dtype=np.uint32)
    c = np.full(n, 0x98BADCFE, dtype=np.uint32)
    d = np.full(n, 0x10325476, dtype=np.uint32)
    A, B, C, D = a.copy(), b.copy(), c.copy(), d.copy()
    for i in range(64):
        if i < 16:
            f = (B & C) | (~B & D)
            g = i
        elif i < 32:
            f = (D & B) | (~D & C)
            g = (5 * i + 1) % 16
        elif i < 48:
            f = B ^ C ^ D
            g = (3 * i + 5) % 16
        else:
            f = C ^ (B | ~D)
            g = (7 * i) % 16
        f = f + A + _MD5_K[i] + M[g]
        A = D
        D = C
        C = B
        B = B + _rol32(f, _MD5_S[i])
    a += A
    b += B
    c += C
    d += D
    out = np.empty((len(keys), 16), dtype=np.uint8)
    for j, w in enumerate((a, b, c, d)):
        out[:, 4 * j:4 * j + 4] = (
            w[:, None] >> np.uint32(8 * np.arange(4))
        ).astype(np.uint8)
    return out


def sha1_digest_u64(keys: np.ndarray) -> np.ndarray:
    """SHA-1 digests of each key's 8 LE bytes -> (n, 20) uint8."""
    keys = np.ascontiguousarray(keys, dtype=np.uint64)
    n = len(keys)
    W = [np.zeros(n, dtype=np.uint32) for _ in range(80)]
    # message words are BIG-endian reads of the LE key buffer
    W[0] = (keys & _MASK32).astype(np.uint32).byteswap()
    W[1] = (keys >> _U32).astype(np.uint32).byteswap()
    W[2] = np.full(n, 0x80000000, dtype=np.uint32)
    W[15] = np.full(n, 64, dtype=np.uint32)
    for t in range(16, 80):
        W[t] = _rol32(W[t - 3] ^ W[t - 8] ^ W[t - 14] ^ W[t - 16], 1)
    h0 = np.full(n, 0x67452301, dtype=np.uint32)
    h1 = np.full(n, 0xEFCDAB89, dtype=np.uint32)
    h2 = np.full(n, 0x98BADCFE, dtype=np.uint32)
    h3 = np.full(n, 0x10325476, dtype=np.uint32)
    h4 = np.full(n, 0xC3D2E1F0, dtype=np.uint32)
    a, b, c, d, e = (h0.copy(), h1.copy(), h2.copy(), h3.copy(),
                     h4.copy())
    for t in range(80):
        if t < 20:
            f = (b & c) | (~b & d)
            k = np.uint32(0x5A827999)
        elif t < 40:
            f = b ^ c ^ d
            k = np.uint32(0x6ED9EBA1)
        elif t < 60:
            f = (b & c) | (b & d) | (c & d)
            k = np.uint32(0x8F1BBCDC)
        else:
            f = b ^ c ^ d
            k = np.uint32(0xCA62C1D6)
        tmp = _rol32(a, 5) + f + e + k + W[t]
        e = d
        d = c
        c = _rol32(b, 30)
        b = a
        a = tmp
    h0 += a
    h1 += b
    h2 += c
    h3 += d
    h4 += e
    out = np.empty((n, 20), dtype=np.uint8)
    for j, w in enumerate((h0, h1, h2, h3, h4)):
        out[:, 4 * j:4 * j + 4] = (
            w.byteswap()[:, None].view(np.uint8)
        )
    return out


def md5_hash64(keys: np.ndarray) -> np.ndarray:
    """First 8 digest bytes as uint64 (LE) — MD5 as a 64-bit hash
    family member."""
    return md5_digest_u64(keys)[:, :8].copy().view(np.uint64).ravel()


def sha1_hash64(keys: np.ndarray) -> np.ndarray:
    """First 8 digest bytes as uint64 (LE)."""
    return sha1_digest_u64(keys)[:, :8].copy().view(np.uint64).ravel()
