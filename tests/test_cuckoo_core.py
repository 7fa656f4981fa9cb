"""Core cuckoo-filter semantics tests.

Reproduces the reference's de-facto test surface (example/test.cc:
insert 1M, zero false negatives, FPR on absent keys) plus the unit
invariants listed in SURVEY.md §5.2: victim cache, duplicate adds,
delete-then-lookup, tag domain, sizing formula, status codes,
serialization, and merge associativity.
"""

import numpy as np
import pytest

from cuckoofilter_spark.core.cuckoo import (
    ASSOC,
    MAX_CUCKOO_KICKS,
    CuckooFilter,
    Status,
    _occupied_pairs,
)
from cuckoofilter_spark.core.hashing import (
    MultiplyShift,
    alt_index,
    index_hash,
    tag_hash,
    upperpower2,
)


def _keys(n, seed=42):
    rng = np.random.Generator(np.random.PCG64(seed))
    return np.unique(rng.integers(0, 2**64, size=n, dtype=np.uint64))


# ------------------------------------------------------------------ hashing
def test_upperpower2():
    # reference src/bitsutil.h:21-31
    assert upperpower2(1) == 1
    assert upperpower2(2) == 2
    assert upperpower2(3) == 4
    assert upperpower2(250_000) == 262_144


def test_alt_index_is_involution():
    # reference asserts i1 == AltIndex(i2, tag) (src/cuckoofilter.h:175)
    nb = 1 << 16
    rng = np.random.Generator(np.random.PCG64(0))
    i1 = rng.integers(0, nb, size=10_000).astype(np.uint64)
    tag = rng.integers(1, 1 << 12, size=10_000).astype(np.uint32)
    i2 = alt_index(i1, tag, nb)
    back = alt_index(i2, tag, nb)
    assert np.array_equal(back, i1)


def test_tag_hash_never_zero():
    # 0 is the reserved empty value (src/cuckoofilter.h:59-64)
    ms = MultiplyShift(5)
    hv = ms.hash64(_keys(100_000))
    for f in (4, 8, 12, 16):
        tags = tag_hash(hv, f)
        assert (tags != 0).all()
        assert (tags < (1 << f)).all()


def test_multiply_shift_deterministic_and_seed_sensitive():
    k = _keys(1000)
    assert np.array_equal(MultiplyShift(7).hash64(k), MultiplyShift(7).hash64(k))
    assert not np.array_equal(MultiplyShift(7).hash64(k), MultiplyShift(8).hash64(k))


# ------------------------------------------------------------------- sizing
def test_sizing_formula_parity():
    # reference src/cuckoofilter.h:89-98
    cf = CuckooFilter(1_000_000, 12)
    assert cf.num_buckets == upperpower2(1_000_000 // 4)
    # 0.96 guard: 4 buckets would be 100% full for 16 keys -> doubled
    cf2 = CuckooFilter(16, 12)
    assert cf2.num_buckets == 8
    assert CuckooFilter(0, 12).num_buckets == 1


def test_status_codes_match_reference():
    assert (Status.Ok, Status.NotFound, Status.NotEnoughSpace, Status.NotSupported) == (
        0, 1, 2, 3,
    )


# -------------------------------------------------- example/test.cc parity
@pytest.mark.parametrize("f,paper_bound", [(12, 8 / 2**12), (16, 8 / 2**16), (8, 8 / 2**8)])
def test_no_false_negatives_and_fpr(f, paper_bound):
    n = 200_000
    keys = _keys(n)
    cf = CuckooFilter(len(keys), bits_per_item=f, seed=99)
    st = cf.add_many(keys)
    assert (st == int(Status.Ok)).all()
    # zero false negatives (example/test.cc:33-35)
    assert cf.contains_many(keys).all()
    # FPR within bound (example/test.cc:38-49); paper bound 2b/2^f,
    # driver bound ~3*alpha/2^(f-2)
    absent = np.setdiff1d(_keys(300_000, seed=777), keys)
    fpr = cf.contains_many(absent).mean()
    alpha = cf.load_factor
    driver_bound = 3 * alpha / 2 ** (f - 2)
    assert fpr <= max(2.5 * paper_bound, driver_bound), (fpr, paper_bound)


def test_high_occupancy_build():
    """~94% load factor like the reference bulk benchmark.

    Sizing note: declaring capacity C gives upperpower2(C/4) buckets,
    doubled if C would exceed 96% fill — so to reach high occupancy we
    declare a capacity just under the guard and fill it completely.
    """
    slots = 1 << 17
    cap = int(slots * 0.94)  # frac 0.94 < 0.96 -> no doubling
    keys = _keys(int(slots * 1.05), seed=3)[:cap]
    cf = CuckooFilter(cap, 12, seed=11)
    st = cf.add_many(keys)
    assert (st == 0).all()
    assert cf.num_buckets * ASSOC == slots
    assert cf.load_factor > 0.90
    assert cf.contains_many(keys).all()


# ------------------------------------------------------------------ deletes
def test_delete_then_lookup():
    keys = _keys(50_000)
    cf = CuckooFilter(len(keys), 16, seed=1)
    cf.add_many(keys)
    half = keys[: len(keys) // 2]
    st = cf.delete_many(half)
    assert (st == int(Status.Ok)).all()
    # remaining keys: still zero false negatives
    assert cf.contains_many(keys[len(keys) // 2 :]).all()
    # deleting absent keys reports NotFound (f=16: FP collisions ~0)
    absent = np.setdiff1d(_keys(10_000, seed=555), keys)
    st2 = cf.delete_many(absent)
    assert (st2 == int(Status.NotFound)).mean() > 0.99


def test_duplicate_adds_and_deletes():
    # same key insertable up to 2b=8 times; each delete removes one copy
    cf = CuckooFilter(1000, 12, seed=2)
    key = np.full(8, 12345, dtype=np.uint64)
    st = cf.add_many(key)
    assert (st == 0).all()
    assert cf.num_items == 8
    for i in range(8):
        assert cf.delete(12345) == Status.Ok
    assert cf.delete(12345) == Status.NotFound
    assert cf.contain(12345) == Status.NotFound


# ------------------------------------------------------------------ sizing
def test_suggest_capacity_sharded_build_and_merge():
    """The one sizing rule (SURVEY §7 hard part c): shards sized by
    suggest_capacity over a hash-uniform key split must insert with
    all-Ok statuses, merge without overflow, and land the merged
    filter at <= 0.96 load. Replaces caller-side `n * 1.3` math."""
    from cuckoofilter_spark.core.cuckoo import suggest_capacity

    n, s = 50_000, 8
    keys = _keys(n)

    # merge path: every shard carries the GLOBAL geometry
    # (num_shards=1 — shards that will merge must share capacity)
    cap = suggest_capacity(n)
    parts = np.array_split(keys, s)
    shards = []
    for i, p in enumerate(parts):
        cf = CuckooFilter(cap, 12, seed=77)
        st = cf.add_many(p)
        assert (st == 0).all(), f"shard {i} refused inserts"
        shards.append(cf)
    merged = shards[0]
    for cf in shards[1:]:
        merged.merge(cf)
    assert merged.contains_many(keys).all()
    assert merged.load_factor <= 0.96

    # independent-shard path (streaming dedup state): each filter owns
    # a hash-disjoint key range and is NEVER merged — num_shards sizes
    # the per-shard capacity including binomial split imbalance
    cap_s = suggest_capacity(n, num_shards=s)
    assert n // s <= cap_s < cap
    shard_of = keys % np.uint64(s)
    for i in range(s):
        cf = CuckooFilter(cap_s, 12, seed=5)
        st = cf.add_many(keys[shard_of == i])
        assert (st == 0).all(), f"independent shard {i} refused"
        assert cf.load_factor <= 0.96

    # floor + argument validation
    assert suggest_capacity(0) >= 64
    import pytest as _pt
    with _pt.raises(ValueError):
        suggest_capacity(-1)
    with _pt.raises(ValueError):
        suggest_capacity(10, num_shards=0)
    with _pt.raises(ValueError):
        suggest_capacity(10, target_load=0.99)


# ------------------------------------------------------------ victim cache
def _fill_to_victim(seed=0):
    """Overfill a tiny filter until the victim cache engages."""
    cf = CuckooFilter(256, 12, seed=seed)
    rng = np.random.Generator(np.random.PCG64(seed))
    batch = 0
    while not cf.victim.used and batch < 400:
        k = rng.integers(0, 2**64, size=64, dtype=np.uint64)
        st = cf.add_many(k)
        if (st != 0).any():
            break
        batch += 1
    return cf


def test_victim_semantics():
    cf = _fill_to_victim()
    assert cf.victim.used, "expected victim engagement on overfill"
    # further Adds refuse with NotEnoughSpace (src/cuckoofilter.h:129-131)
    st = cf.add_many(np.array([1, 2, 3], dtype=np.uint64))
    assert (st == int(Status.NotEnoughSpace)).all()
    # the victim participates in Contain: no false negative for the
    # parked tag's owning key is checkable only statistically, but the
    # victim itself must match (index, tag) probes
    assert cf.num_items <= cf.size_in_tags  # victim not counted


def test_size_excludes_victim():
    cf = _fill_to_victim(seed=9)
    if not cf.victim.used:
        pytest.skip("victim did not engage at this seed")
    occupancy = int((cf.table != 0).sum())
    assert cf.num_items == occupancy  # victim excluded from count


# -------------------------------------------------------------- serialization
def test_serialization_roundtrip():
    keys = _keys(10_000)
    cf = CuckooFilter(len(keys), 12, seed=6)
    cf.add_many(keys)
    blob = cf.to_bytes()
    cf2 = CuckooFilter.from_bytes(blob)
    assert np.array_equal(cf.table, cf2.table)
    assert cf2.num_items == cf.num_items
    assert cf2.seed == cf.seed and cf2.f == cf.f
    assert cf2.contains_many(keys).all()
    # victim survives the round trip
    cfv = _fill_to_victim(seed=4)
    cfv2 = CuckooFilter.from_bytes(cfv.to_bytes())
    assert (cfv2.victim.used, cfv2.victim.index, cfv2.victim.tag) == (
        cfv.victim.used, cfv.victim.index, cfv.victim.tag,
    )


def test_f32_width():
    keys = _keys(5_000)
    cf = CuckooFilter(len(keys), 32, seed=8)
    cf.add_many(keys)
    assert cf.table.dtype == np.uint32
    assert cf.contains_many(keys).all()
    cf2 = CuckooFilter.from_bytes(cf.to_bytes())
    assert cf2.contains_many(keys).all()


# ----------------------------------------------------------------- merging
def test_merge_equals_single_build_membership():
    keys = _keys(100_000)
    parts = np.array_split(keys, 7)
    # shards sized for the MERGED total (capacity headroom rule, SURVEY §7)
    shards = []
    for p in parts:
        s = CuckooFilter(len(keys), 12, seed=77)
        assert (s.add_many(p) == 0).all()
        shards.append(s)
    merged = shards[0]
    for s in shards[1:]:
        merged.merge(s)
    assert merged.contains_many(keys).all(), "merge lost a key (false negative)"
    assert merged.num_items == len(keys)


def test_merge_associativity_random_orders():
    keys = _keys(60_000)
    parts = np.array_split(keys, 6)
    rng = np.random.Generator(np.random.PCG64(123))
    results = []
    probe = np.concatenate([keys, _keys(30_000, seed=31415)])
    for trial in range(3):
        order = rng.permutation(6)
        shards = []
        for p in parts:
            s = CuckooFilter(len(keys), 12, seed=55)
            s.add_many(p)
            shards.append(s)
        merged = shards[order[0]]
        for j in order[1:]:
            merged.merge(shards[j])
        results.append(merged.contains_many(probe))
        assert merged.contains_many(keys).all()
    # membership answers for inserted keys identical across merge orders
    for r in results[1:]:
        assert (r[: len(keys)] == results[0][: len(keys)]).all()


def test_merge_rejects_mismatched_geometry():
    a = CuckooFilter(1000, 12, seed=1)
    b = CuckooFilter(1000, 12, seed=2)
    with pytest.raises(ValueError):
        a.merge(b)
    c = CuckooFilter(100_000, 12, seed=1)
    with pytest.raises(ValueError):
        a.merge(c)


def test_info_and_metrics():
    keys = _keys(10_000)
    cf = CuckooFilter(len(keys), 12, seed=6)
    cf.add_many(keys)
    s = cf.info()
    assert "Keys stored: " in s and "Load factor" in s
    assert cf.bits_per_item > 0
    assert 0 < cf.load_factor <= 1
    # packed size parity formula: kBytesPerBucket * num_buckets
    assert cf.packed_size_bytes == ((12 * ASSOC + 7) >> 3) * cf.num_buckets


def test_kick_chain_bounded():
    assert MAX_CUCKOO_KICKS == 500  # kMaxCuckooCount, src/cuckoofilter.h:23


def test_hash_family_pluggable_tabulation():
    """HashFamily template-param parity (src/cuckoofilter.h:32-35):
    tabulation-hashed filters keep zero FN + the FPR bound, round-trip
    the family byte, and refuse cross-family merges."""
    rng = np.random.default_rng(5)
    keys = np.unique(rng.integers(0, 2**64, 120_000, dtype=np.uint64))
    t = CuckooFilter(len(keys), 12, seed=9, hash_family="tabulation")
    assert (t.add_many(keys) == 0).all()
    assert t.contains_many(keys).all()
    rt = CuckooFilter.from_bytes(t.to_bytes())
    assert rt.hash_family == "tabulation"
    assert rt.contains_many(keys).all()
    absent = rng.integers(0, 2**64, 400_000, dtype=np.uint64)
    # published bound ~2b/2^f = 8/4096 ~ 0.2% at full load; generous 2x
    assert rt.contains_many(absent).mean() < 0.004
    import pytest

    ms = CuckooFilter(len(keys), 12, seed=9)  # multiply_shift default
    with pytest.raises(ValueError, match="hash family"):
        ms.merge(t)
    with pytest.raises(ValueError, match="hash_family"):
        CuckooFilter(1000, 12, seed=1, hash_family="nope")


# ------------------------------------------------ set-mode merge placement
def _routed_shards():
    """Four f=12 shard filters of 2^14 dense ids, split by owner shard
    the way ``shuffle_distinct`` routes them (``spark_hash`` of the
    key's hash, mod the shard count), each inserted sorted."""
    from cuckoofilter_spark.core.cuckoo import suggest_capacity
    from cuckoofilter_spark.core.hashing import spark_hash

    ids = np.arange(1 << 14, dtype=np.int64)
    owner = np.mod(spark_hash(spark_hash(ids)), 4)
    shards = []
    for s in range(4):
        fl = CuckooFilter(suggest_capacity(len(ids)), 12, seed=7)
        assert (fl.add_many(ids[owner == s].astype(np.uint64)) == 0).all()
        shards.append(fl)
    return ids, shards


def test_dedup_merge_keeps_each_tag_in_its_shard_bucket():
    ids, shards = _routed_shards()
    placed = [_occupied_pairs(fl.table) for fl in shards]
    b = np.concatenate([p[0] for p in placed])
    t = np.concatenate([p[1] for p in placed])
    lo = np.minimum(b, alt_index(b, t, shards[0].num_buckets))
    _, inv, copies = np.unique((lo << np.uint64(32)) | t,
                               return_inverse=True, return_counts=True)
    # ids whose fingerprints collide across shards keep one copy
    single = copies[inv] == 1
    assert single.sum() > len(ids) - 16
    kicks0 = shards[0].kicks
    merged = CuckooFilter.merge_many(shards, dedup=True)
    assert merged.kicks == kicks0
    assert ((merged.table != 0).sum(axis=1) < ASSOC).all()
    assert merged.num_items == len(copies)
    for bj, tj in zip(b[single].tolist(), t[single].tolist()):
        assert tj in merged.table[bj]
    assert merged.contains_many(ids.astype(np.uint64)).all()


def _dedup_reference(fl, idx, tags):
    """(pair, tag) -> the buckets its copies sat in, for every input
    pair that ``fl`` does not already hold: a plain set-based
    re-statement of set-mode merge dedup."""
    nb = fl.num_buckets
    v = fl.victim
    out = {}
    for b, t in zip(idx.tolist(), tags.tolist()):
        a = int(alt_index(np.array([b], np.uint64), np.array([t], np.uint32),
                          nb)[0])
        lo, hi = min(a, b), max(a, b)
        held = t in fl.table[lo].tolist() or t in fl.table[hi].tolist() or (
            v.used and v.tag == t and v.index in (lo, hi))
        if not held:
            out.setdefault((lo, t), set()).add(b)
    return out


def _dedup_inputs(kind, f, victim):
    from cuckoofilter_spark.core.semisort import SemiSortCuckooFilter

    cls = SemiSortCuckooFilter if kind == "semisort" else CuckooFilter
    keys = _keys(10_000, seed=f)
    base = cls(2_000, f, seed=3)        # 1,024 buckets = 4,096 slots
    base.add_many(keys[:4_500] if victim else keys[:1_500])
    assert base.victim.used == victim
    others = []
    for i in range(3):
        fl = cls(2_000, f, seed=3)
        # own keys, keys shared between inputs, and keys the base holds
        fl.add_many(np.concatenate([keys[5_000 + 800 * i:5_600 + 800 * i],
                                    keys[9_800:], keys[1_000:1_200]]))
        others.append(fl)
    pairs = [_occupied_pairs(fl.table) for fl in others]
    idx = np.concatenate([p[0] for p in pairs])
    tags = np.concatenate([p[1] for p in pairs])
    if victim:
        v = base.victim
        vi = np.array([v.index], np.uint64)
        vt = np.array([v.tag], np.uint32)
        idx = np.concatenate([idx, vi, alt_index(vi, vt, base.num_buckets)])
        tags = np.concatenate([tags, vt, vt])
    return base, idx, tags


@pytest.mark.parametrize("kind,f", [("cuckoo", 8), ("cuckoo", 12),
                                    ("cuckoo", 16), ("cuckoo", 32),
                                    ("semisort", 13)])
@pytest.mark.parametrize("victim", [False, True])
def test_dedup_pairs_matches_set_reference(kind, f, victim):
    base, idx, tags = _dedup_inputs(kind, f, victim)
    ref = _dedup_reference(base, idx, tags)
    start, kept = base._dedup_pairs(idx, tags)
    alt = alt_index(start, kept, base.num_buckets)
    got = list(zip(np.minimum(start, alt).tolist(), kept.tolist()))
    assert len(got) == len(set(got))
    assert set(got) == set(ref)
    assert len(got) < len(idx)          # the shared keys collapsed
    for (lo, t), b in zip(got, start.tolist()):
        copies = ref[(lo, t)]
        assert b in copies
        if len(copies) > 1:             # copies in both buckets
            assert b == lo


def test_dedup_key_packing_guard():
    stub = CuckooFilter.__new__(CuckooFilter)
    stub.f = 32
    stub.num_buckets = 1 << 31          # 31 + 32 + 1 bits: fits
    start, kept = stub._dedup_pairs(np.zeros(0, np.uint64),
                                    np.zeros(0, np.uint32))
    assert len(start) == len(kept) == 0
    stub.num_buckets = 1 << 32          # one bit past 64
    with pytest.raises(ValueError, match="uint64"):
        stub._dedup_pairs(np.zeros(1, np.uint64), np.ones(1, np.uint32))
