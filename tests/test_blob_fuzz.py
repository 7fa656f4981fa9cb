"""Blob-parser robustness: ``sketch_from_bytes`` on malformed input
must raise a clean ValueError-family error — never crash the worker,
hang, or silently return a half-parsed sketch. Shard blobs cross
shuffle/broadcast boundaries, so a truncated or bit-flipped blob is a
real failure mode (disk/network corruption, version skew)."""

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from cuckoofilter_spark.core.registry import sketch_from_bytes, wire_bytes

_ACCEPTABLE = (ValueError, KeyError, IndexError, struct_error := __import__(
    "struct").error)


def _all_blobs():
    from cuckoofilter_spark.core.bloom import BlockedBloomFilter
    from cuckoofilter_spark.core.cms import CountMinSketch
    from cuckoofilter_spark.core.cuckoo import CuckooFilter
    from cuckoofilter_spark.core.hll import HyperLogLog
    from cuckoofilter_spark.core.kll import KLL
    from cuckoofilter_spark.core.semisort import SemiSortCuckooFilter
    from cuckoofilter_spark.core.tdigest import TDigest

    keys = (np.arange(1, 3001, dtype=np.uint64)
            * np.uint64(0x9E3779B97F4A7C15))
    vals = np.linspace(-50, 50, 3000)
    out = []
    for sk in (CuckooFilter(4000, 12, seed=3),
               SemiSortCuckooFilter(4000, 13, seed=3),
               BlockedBloomFilter(log_num_buckets=10, seed=3),
               HyperLogLog(p=10, seed=3),
               CountMinSketch(eps=0.01, delta=0.05, seed=3)):
        sk.add_many(keys)
        out.append(sk.to_bytes())
        out.append(wire_bytes(sk))
    for sk in (TDigest(seed=3), KLL(k=128, seed=3)):
        sk.add_many(vals)
        out.append(sk.to_bytes())
    from cuckoofilter_spark.core.kmv import KMVSketch
    from cuckoofilter_spark.core.mg import MisraGries

    for sk in (KMVSketch(k=256, seed=3), MisraGries(k=64, seed=3)):
        sk.add_many(keys)
        out.append(sk.to_bytes())
    return out


BLOBS = _all_blobs()


@pytest.mark.parametrize("i", range(len(BLOBS)))
def test_roundtrip_then_truncations(i):
    blob = BLOBS[i]
    sk = sketch_from_bytes(blob)  # the intact blob must parse
    assert sk is not None
    for cut in (0, 1, 3, 4, 5, len(blob) // 2, len(blob) - 1):
        if cut >= len(blob):
            continue
        try:
            sketch_from_bytes(blob[:cut])
        except _ACCEPTABLE:
            pass
        except Exception as exc:  # zlib.error etc. wrapped?
            import zlib

            assert isinstance(exc, zlib.error), (
                f"unexpected {type(exc).__name__} on truncation at {cut}"
            )


@settings(max_examples=150, deadline=None)
@given(
    idx=st.integers(0, len(BLOBS) - 1),
    pos=st.integers(0, 10**6),
    flip=st.integers(1, 255),
)
def test_bitflip_never_crashes_hard(idx, pos, flip):
    """A corrupted body may still parse (checksums are not part of the
    reference format) but must never raise outside the clean error
    families or loop forever."""
    import zlib

    blob = bytearray(BLOBS[idx])
    pos = pos % len(blob)
    if pos < 4:
        pos = 4  # keep the magic: exercise the per-kind parser, not
        # the registry dispatch (junk magic is covered elsewhere)
    blob[pos] ^= flip
    try:
        sketch_from_bytes(bytes(blob))
    except (_ACCEPTABLE + (zlib.error,)):
        pass


@pytest.mark.parametrize("kind,f,bad", [
    ("cuckoo", 12, 13), ("cuckoo", 12, 3),
    ("semisort", 13, 12),
])
@pytest.mark.parametrize("form", ["final", "wire"])
def test_out_of_set_width_byte_is_rejected(kind, f, bad, form):
    """The header's width byte (offset 5) picks the tag hash, so a
    blob whose width left the class's set would parse into a filter
    that answers False for keys it holds. The parser rejects it."""
    from cuckoofilter_spark.core.registry import SKETCH_KINDS

    sk = SKETCH_KINDS[kind](4000, f, seed=3)
    keys = np.arange(1, 5, dtype=np.uint64)
    sk.add_many(keys)
    blob = bytearray(sk.to_bytes() if form == "final" else wire_bytes(sk))
    assert blob[5] == f
    blob[5] = bad
    with pytest.raises(ValueError):
        sketch_from_bytes(bytes(blob))
