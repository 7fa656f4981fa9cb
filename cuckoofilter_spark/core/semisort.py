"""Semi-sorted cuckoo filter — permutation-encoded serialization.

Re-expresses the reference's ``PackedTable``/``PermEncoding`` pair
(``src/packedtable.h``, ``src/permencoding.h``): each 4-slot bucket
stores its tags sorted by low nibble; the 4 low nibbles — a
non-decreasing 4-multiset over 0..15, of which there are C(19,4) =
3876 — collapse into a 12-bit codeword, saving 1 bit per tag
(``src/packedtable.h:13``). Supported widths f ∈ {5,6,7,8,9,13,17}
(``src/packedtable.h:126-189``).

Architecture note (deliberate divergence, SURVEY.md §2.3): the
reference bit-packs the live in-memory table and pays a
decode→modify→encode round-trip on EVERY insert/delete
(``src/packedtable.h:383-427``). In the Spark design the hot loop
runs on the numpy uint16 tag table (identical to ``CuckooFilter``) and
the permutation encoding applies at the **serialization boundary** —
``to_bytes``/``from_bytes`` — because shard blobs are what cross the
shuffle and the broadcast, which is exactly where the 1 bit/tag
matters. Bucket semantics (multiset of tags) round-trip losslessly;
only intra-bucket slot order is normalized, which membership/delete
semantics never observe. We do NOT reproduce the reference's f=13
hardcoded fast-path decode quirk (``src/packedtable.h:327-346``) —
our layout is parameterized for every width.
"""

from __future__ import annotations

import numpy as np

from cuckoofilter_spark.core.cuckoo import ASSOC, CuckooFilter, _table_dtype

N_ENTS = 3876  # C(16+4-1, 4), src/permencoding.h:48


def _pack_nibbles(lb: np.ndarray) -> np.ndarray:
    """Reference pack(): nibble lanes (0,2,1,3) — slot0→bits0-3,
    slot1→bits8-11, slot2→bits4-7, slot3→bits12-15
    (src/permencoding.h:30-34)."""
    lb = lb.astype(np.uint16)
    return lb[..., 0] | (lb[..., 1] << 8) | (lb[..., 2] << 4) | (lb[..., 3] << 12)


def _unpack_nibbles(packed: np.ndarray) -> np.ndarray:
    """Inverse of _pack_nibbles (src/permencoding.h:22-27)."""
    packed = packed.astype(np.uint16)
    out = np.empty(packed.shape + (4,), dtype=np.uint16)
    out[..., 0] = packed & 0xF
    out[..., 2] = (packed >> 4) & 0xF
    out[..., 1] = (packed >> 8) & 0xF
    out[..., 3] = (packed >> 12) & 0xF
    return out


def _gen_tables():
    """Enumerate all non-decreasing 4-nibble multisets in the
    reference's recursion order (src/permencoding.h:69-85) — identical
    to itertools.combinations_with_replacement(range(16), 4) order."""
    from itertools import combinations_with_replacement

    combos = np.array(
        list(combinations_with_replacement(range(16), 4)), dtype=np.uint16
    )
    assert len(combos) == N_ENTS
    dec = _pack_nibbles(combos)
    enc = np.zeros(1 << 16, dtype=np.uint16)
    enc[dec] = np.arange(N_ENTS, dtype=np.uint16)
    return dec, enc


DEC_TABLE, ENC_TABLE = _gen_tables()


def encode_lowbits(sorted_lb: np.ndarray) -> np.ndarray:
    """(n,4) sorted low nibbles -> (n,) 12-bit codewords."""
    return ENC_TABLE[_pack_nibbles(sorted_lb)]


def decode_codewords(cw: np.ndarray) -> np.ndarray:
    """(n,) codewords -> (n,4) non-decreasing low nibbles."""
    return _unpack_nibbles(DEC_TABLE[np.asarray(cw, dtype=np.int64)])


class SemiSortCuckooFilter(CuckooFilter):
    """Cuckoo filter whose blobs use the semi-sorted packed layout.

    Only two things differ from ``CuckooFilter``, which drives sizing,
    insert, kicks, delete, merge and the blob header for both: the
    width set ``WIDTHS`` (default f=13) and the permutation-packed
    bucket body of blob kinds 1 and 3 (``_pack_body`` /
    ``_unpack_body``); ``to_bytes(packed=False)`` writes the raw
    table like the plain filter.

    Bucket wire format (little-endian bucket word of (3+d)*4 bits,
    d = f-4 dir bits per tag): codeword in bits [0,12), then the four
    dir-bit fields in low-nibble-sorted order."""

    KIND = "semisort"
    WIDTHS = (5, 6, 7, 8, 9, 13, 17)  # src/packedtable.h:126-189
    _MAGIC = b"CKS1"

    def __init__(self, max_num_keys: int, bits_per_item: int = 13,
                 seed: int = 2014, hash_family: str = "multiply_shift"):
        super().__init__(max_num_keys, bits_per_item, seed, hash_family)

    # ------------------------------------------------------------- layout
    @property
    def dir_bits(self) -> int:
        return self.f - 4  # kDirBitsPerTag, src/packedtable.h:16

    @property
    def bits_per_bucket(self) -> int:
        return (3 + self.dir_bits) * 4  # src/packedtable.h:17

    @property
    def packed_size_bytes(self) -> int:
        """kBytesPerBucket * num_buckets (src/packedtable.h:18) — the
        space-parity metric; f=13 stores 12 bits/tag."""
        return self._bucket_bytes(self.f) * self.num_buckets

    @staticmethod
    def _bucket_bytes(f: int) -> int:
        """kBytesPerBucket (src/packedtable.h:17-18) at width ``f``."""
        return ((3 + f - 4) * 4 + 7) >> 3

    # ---------------------------------------------------------- serialize
    def _pack_body(self) -> bytes:
        tags = self.table.astype(np.uint64)
        lb = tags & np.uint64(0xF)
        db = tags >> np.uint64(4)
        # sort each bucket by (low nibble, dir bits) — any order with
        # non-decreasing low nibbles satisfies the codeword encoding;
        # including dir bits makes the normal form canonical. A
        # vectorized 5-comparator sorting network (the reference's own
        # SortTags shape, src/packedtable.h:101-113) beats per-row
        # argsort ~15x on 4-wide rows.
        key = (lb << np.uint64(32)) | db
        for a, b in ((0, 1), (2, 3), (0, 2), (1, 3), (1, 2)):
            ka, kb = key[:, a], key[:, b]
            lo = np.minimum(ka, kb)
            hi = np.maximum(ka, kb)
            key[:, a] = lo
            key[:, b] = hi
        lb_s = (key >> np.uint64(32)).astype(np.uint16)
        db_s = key & np.uint64((1 << 32) - 1)
        cw = encode_lowbits(lb_s).astype(np.uint64)
        word = cw.copy()
        shift = 12
        for j in range(ASSOC):
            word |= db_s[:, j] << np.uint64(shift)
            shift += self.dir_bits
        nbytes = self._bucket_bytes(self.f)
        return word.astype("<u8").view(np.uint8).reshape(-1, 8)[:, :nbytes].tobytes()

    @classmethod
    def _unpack_body(cls, raw: bytes, f: int) -> np.ndarray:
        dir_bits = f - 4
        nbytes = cls._bucket_bytes(f)
        flat = np.frombuffer(raw, dtype=np.uint8).reshape(-1, nbytes)
        padded = np.zeros((len(flat), 8), dtype=np.uint8)
        padded[:, :nbytes] = flat
        word = padded.view("<u8").ravel()
        cw = (word & np.uint64(0xFFF)).astype(np.int64)
        lb = decode_codewords(cw).astype(np.uint64)
        tags = np.empty((len(word), ASSOC), dtype=np.uint64)
        mask = np.uint64((1 << dir_bits) - 1)
        shift = 12
        for j in range(ASSOC):
            db = (word >> np.uint64(shift)) & mask
            tags[:, j] = (db << np.uint64(4)) | lb[:, j]
            shift += dir_bits
        return tags.astype(_table_dtype(f))

    # ------------------------------------------------------------ debug
    def print_bucket(self, i: int) -> str:
        """Debug dump of bucket ``i`` — role of PrintBucket
        (src/packedtable.h:76-90): the packed wire word (codeword +
        dir-bit fields) plus the decoded tags."""
        tags = [int(t) for t in self.table[i]]
        lb = sorted(t & 0xF for t in tags)
        cw = int(encode_lowbits(np.array([lb], dtype=np.uint16))[0])
        return (
            f"bucket[{i}]: codeword={cw:#05x} "
            f"tags={self.print_tags(tags)}"
        )

    @staticmethod
    def print_tags(tags) -> str:
        """Role of PrintTags (src/packedtable.h:63-74): low nibble /
        dir bits split per tag."""
        parts = [f"{t >> 4:#x}|{t & 0xF:x}" for t in tags]
        return "[" + ", ".join(parts) + "]"

    def __repr__(self) -> str:  # pragma: no cover - debug aid
        return (
            f"SemiSortCuckooFilter(f={self.f}, buckets={self.num_buckets}, "
            f"items={self.num_items}, load={self.load_factor:.3f}, "
            f"family={self.hash_family!r})"
        )
