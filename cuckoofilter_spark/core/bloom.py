"""Split-block Bloom filter — numpy re-expression of the reference's
``SimdBlockFilter`` (``src/simd-block.h:28-141``, itself derived from
Apache Impala's public block Bloom filter).

Model: a directory of 2^k 256-bit buckets, each 8 uint32 lanes. For a
key, one bucket is chosen from the hash; ``MakeMask`` derives one bit
per lane via 8 odd-constant multiply-shift hashes
(``src/simd-block.h:102-117``); Add ORs the mask in, Find tests that
the bucket covers the mask. The AVX2 single-load probe is replaced by
vectorized numpy lane ops over whole query batches.

Spark's built-in ``bloom_filter_agg`` / ``might_contain`` is the
Catalyst-native analog; this class is the mergeable-UDAF counterpart
(merge = bitwise OR, a commutative monoid — unlike the cuckoo filter).
"""

from __future__ import annotations

import struct

import numpy as np

from cuckoofilter_spark.core.hashing import MultiplyShift

# the 8 odd multiply-shift constants from the published block-Bloom
# scheme (reference src/simd-block.h:107-108)
_SALTS = np.array(
    [
        0x47B6137B, 0x44974D91, 0x8824AD5B, 0xA2B7289D,
        0x705495C7, 0x2DF1424B, 0x9EFC4947, 0x5C6BFB31,
    ],
    dtype=np.uint32,
)

_MAGIC = b"SBB1"
LANES = 8
_U32 = np.uint64(32)


class BlockedBloomFilter:
    """Mergeable split-block Bloom filter over uint64 keys."""

    KIND = "bloom"

    def __init__(self, log_num_buckets: int = 15, seed: int = 2014):
        if not 1 <= log_num_buckets <= 32:
            raise ValueError("log_num_buckets out of range")
        self.log_num_buckets = int(log_num_buckets)
        self.num_buckets = 1 << self.log_num_buckets
        self.seed = int(seed)
        self.directory = np.zeros((self.num_buckets, LANES), dtype=np.uint32)
        self.hasher = MultiplyShift(seed)
        self.num_items = 0

    @classmethod
    def for_capacity(cls, max_num_keys: int, seed: int = 2014) -> "BlockedBloomFilter":
        """Size like the reference benchmark adapter: bits/key ≈ the
        SimdBlock8 row of BASELINE.md (~12 bits/item) → bytes =
        1.5 * n, rounded up to a power-of-two bucket count."""
        want_bytes = max(32, int(max_num_keys * 1.5))
        log_nb = max(1, (want_bytes // 32 - 1).bit_length())
        return cls(log_num_buckets=log_nb, seed=seed)

    @property
    def size_in_bytes(self) -> int:
        return 32 << self.log_num_buckets  # src/simd-block.h:63

    def _bucket_and_mask(self, keys: np.ndarray):
        """(bucket, (n,8) uint32 lane masks) — reference layout."""
        hv = self.hasher.hash64(np.ascontiguousarray(keys, dtype=np.uint64))
        bucket = (hv & np.uint64(self.num_buckets - 1)).astype(np.int64)
        h32 = (hv >> _U32).astype(np.uint32)
        # (n, 8): one bit per lane, bit position = top 5 bits of salt*h
        lane_hash = (h32[:, None] * _SALTS[None, :]) >> np.uint32(27)
        mask = (np.uint32(1) << lane_hash).astype(np.uint32)
        return bucket, mask

    def _bucket_and_mask64(self, keys: np.ndarray):
        """(bucket, (n,4) uint64 word masks): lanes 2j/2j+1 packed into
        one little-endian word — same bits, half the lane ops."""
        hv = self.hasher.hash64(np.ascontiguousarray(keys, dtype=np.uint64))
        bucket = (hv & np.uint64(self.num_buckets - 1)).astype(np.int64)
        h32 = (hv >> _U32).astype(np.uint32)
        lh = ((h32[:, None] * _SALTS[None, :]) >> np.uint32(27)).astype(
            np.uint64
        )
        one = np.uint64(1)
        mask64 = (one << lh[:, 0::2]) | (
            one << (lh[:, 1::2] + np.uint64(32))
        )
        return bucket, mask64

    @property
    def _dir64(self) -> np.ndarray:
        # zero-copy uint64 view of the uint32 lane directory
        return self.directory.reshape(-1).view(np.uint64).reshape(
            self.num_buckets, LANES // 2
        )

    _CHUNK = 1 << 18  # keep the (chunk, 8) mask temporaries cache-resident

    def add_many(self, keys: np.ndarray) -> None:
        """Bulk Add (src/simd-block.h:119-127). Duplicate buckets in a
        chunk are OR-combined via sort + ``bitwise_or.reduceat`` and
        written with ONE scatter — ``np.bitwise_or.at`` (the obvious
        spelling) is an unbuffered per-element ufunc, measured 15x
        slower. Chunked so mask temporaries stay cache-resident."""
        keys = np.ascontiguousarray(keys, dtype=np.uint64)
        d64 = self._dir64
        for s in range(0, len(keys), self._CHUNK):
            part = keys[s:s + self._CHUNK]
            bucket, mask64 = self._bucket_and_mask64(part)
            order = np.argsort(bucket)
            sb = bucket[order]
            sm = mask64[order]
            flag = np.empty(len(sb), dtype=bool)
            flag[0] = True
            np.not_equal(sb[1:], sb[:-1], out=flag[1:])
            starts = np.flatnonzero(flag)
            combined = np.bitwise_or.reduceat(sm, starts, axis=0)
            d64[sb[starts]] |= combined
        self.num_items += len(keys)

    def contains_many(self, keys: np.ndarray) -> np.ndarray:
        keys = np.ascontiguousarray(keys, dtype=np.uint64)
        out = np.zeros(len(keys), dtype=bool)
        d64 = self._dir64
        for s in range(0, len(keys), self._CHUNK):
            bucket, mask64 = self._bucket_and_mask64(keys[s:s + self._CHUNK])
            rows = d64[bucket]
            out[s:s + self._CHUNK] = ((rows & mask64) == mask64).all(axis=1)
        return out

    def merge(self, other: "BlockedBloomFilter") -> "BlockedBloomFilter":
        if other.log_num_buckets != self.log_num_buckets or other.seed != self.seed:
            raise ValueError("merge requires identical geometry and seed")
        np.bitwise_or(self.directory, other.directory, out=self.directory)
        self.num_items += other.num_items
        return self

    def to_bytes(self) -> bytes:
        header = struct.pack(
            "<4sBBxxQQ", _MAGIC, 1, self.log_num_buckets,
            self.num_items, self.seed & 0xFFFFFFFFFFFFFFFF,
        )
        return header + self.directory.tobytes()

    @classmethod
    def from_bytes(cls, blob: bytes) -> "BlockedBloomFilter":
        hs = struct.calcsize("<4sBBxxQQ")
        magic, ver, log_nb, items, seed = struct.unpack("<4sBBxxQQ", blob[:hs])
        if magic != _MAGIC or ver != 1 or len(blob) != hs + (32 << log_nb):
            raise ValueError("bad bloom blob")  # checked before allocating
        obj = cls(log_num_buckets=log_nb, seed=seed)
        obj.directory = (
            np.frombuffer(blob[hs:], dtype=np.uint32).reshape(obj.num_buckets, LANES).copy()
        )
        obj.num_items = items
        return obj
