"""Cuckoo filter core — batch-vectorized numpy re-expression.

Semantics follow the reference ``efficient/cuckoofilter``
(``src/cuckoofilter.h``, ``src/singletable.h``):

- 4-way set-associative buckets (``kTagsPerBucket=4``,
  ``src/singletable.h:17``), tag width ``f`` bits, tag value domain
  ``[1, 2^f-1]`` with 0 reserved for "empty slot"
  (``src/cuckoofilter.h:59-64``).
- two candidate buckets per key: ``i1`` from the upper 32 hash bits,
  ``i2 = i1 ^ (tag * 0x5bd1e995)`` — a self-inverse, so kickouts work
  from (bucket, tag) alone (``src/cuckoofilter.h:66-79``).
- insert: first empty slot in ``i1`` else ``i2``; else a kick chain of
  at most ``MAX_CUCKOO_KICKS=500`` random evictions
  (``src/cuckoofilter.h:23,139-162``, ``src/singletable.h:190-204``);
  on exhaustion the in-flight tag parks in a single-slot victim cache
  and the insert still reports Ok (``src/cuckoofilter.h:158-161``);
  further Adds refuse with NotEnoughSpace while the victim is occupied
  (``:129-131``).
- ``num_items`` counts only table-resident tags — never the victim
  (``src/cuckoofilter.h:150`` vs ``:158-161``); deleting the victim
  does not decrement (``:205`` is commented out in the reference).
- zero false negatives by construction; false positives at rate
  ~``2b/2^f``.

Differences from the reference, by design (documented, deliberate):

- storage is one uint16/uint32 lane per slot in a ``(buckets, 4)``
  numpy array — the bit-packed little-endian layout
  (``src/singletable.h:66-122``) exists only in the *reported*
  ``packed_size_bytes`` parity metric; numpy gathers replace SWAR
  probes (``src/bitsutil.h:8-19``).
- hash seeds and the kick-slot RNG are explicit/seeded (the reference
  uses ``std::random_device`` + unseeded ``rand()`` — not reproducible,
  ``src/hashutil.h:53-62``, ``src/singletable.h:199``). Deterministic
  seeds are what make distributed shard filters mergeable.
- ``merge``/``merge_many`` are new (the reference is single-machine):
  re-insert every non-zero tag of the other filters starting at its
  own bucket (the alt index is recoverable via the involution), then,
  in one final batch, their parked victims. Merge can overflow — it
  parks a victim like Add, or raises, but never silently drops a tag.
- inserts are *batch* operations: one unique-bucket placement round per
  vector step instead of a per-item loop. The placement distribution
  differs from the reference's strictly-sequential order but every
  membership guarantee (no false negatives, load factor, victim
  semantics) is preserved.

``CuckooFilter`` is the one table engine, as the reference's
``CuckooFilter<…, TableType>`` driver is for its ``SingleTable`` and
``PackedTable``: sizing, hashing, insert, kick chain, delete, merge and
the blob header live here. A table layout (``semisort.py``) differs
only in its width set ``WIDTHS`` and its packed bucket body codec
(``_pack_body``/``_unpack_body``, blob kinds 1 and 3).
"""

from __future__ import annotations

import enum
import struct
from dataclasses import dataclass

import numpy as np

from cuckoofilter_spark.core.hashing import (
    FAMILY_IDS,
    FAMILY_NAMES,
    HASH_FAMILIES,
    alt_index,
    index_hash,
    tag_hash,
    upperpower2,
)

ASSOC = 4                # kTagsPerBucket, src/singletable.h:17
MAX_CUCKOO_KICKS = 500   # kMaxCuckooCount, src/cuckoofilter.h:23


def _occupied_pairs(table: np.ndarray):
    """(bucket_idx uint64, tag uint32) of every non-zero slot, in
    (bucket, slot) order: one ``flatnonzero`` over the flat slot array."""
    flat = table.reshape(-1)
    pos = np.flatnonzero(flat != 0)   # bool scan: ~4x the uint16 nonzero
    bucket = (pos >> 2).astype(np.uint64)   # ASSOC = 4 slots per bucket
    return bucket, flat[pos].astype(np.uint32)


def _table_dtype(f: int):
    """One uint16 lane per slot up to 16-bit tags, else uint32."""
    return np.uint32 if f > 16 else np.uint16


def suggest_capacity(
    n_keys: int, *, num_shards: int = 1, target_load: float = 0.85,
) -> int:
    """The ``max_num_keys`` to pass to a (shard) filter constructor so
    that ``n_keys`` total distinct keys — hash-split uniformly over
    ``num_shards`` filters that will later MERGE — insert without
    overflow and the merged table stays at ≤ ``target_load``.

    Encodes the merged-load rule in ONE place instead of caller-side
    ``n * 1.3`` math: a single filter inserts reliably to ~0.96 load
    (the reference pre-doubles there, src/cuckoofilter.h:92-95), but a
    MERGE re-inserts the smaller table's tags into whatever slots
    remain, so the post-merge load must leave kick-out room — 0.85 is
    the measured safe line (operators/build.py module notes). On top:
    per-shard binomial imbalance (a uniform hash split is Binomial(n,
    1/s); mean + 6σ covers it past the 1e-9 quantile) and a +64
    additive floor for tiny builds. The constructor's power-of-two
    rounding usually adds further slack; this bound is what makes
    ``check_add_statuses``'s loud overflow failure RARE, not merely
    loud."""
    import math

    if n_keys < 0:
        raise ValueError(f"n_keys must be >= 0, got {n_keys}")
    if num_shards < 1:
        raise ValueError(f"num_shards must be >= 1, got {num_shards}")
    if not 0.0 < target_load <= 0.96:
        raise ValueError(
            f"target_load must be in (0, 0.96], got {target_load}"
        )
    mean = n_keys / num_shards
    per_shard = mean + 6.0 * math.sqrt(mean) + 64.0
    return max(64, int(math.ceil(per_shard / target_load)))


class Status(enum.IntEnum):
    """Reference Status enum, same numeric values (src/cuckoofilter.h:15-20)."""

    Ok = 0
    NotFound = 1
    NotEnoughSpace = 2
    NotSupported = 3


@dataclass
class Victim:
    index: int = 0
    tag: int = 0
    used: bool = False


class CuckooFilter:
    """Single-table cuckoo filter over uint64 keys, batch-first API.

    API: ``add_many / contains_many / delete_many / merge / merge_many
    / to_bytes / from_bytes`` plus scalar ``add / contain / delete``
    convenience. A table layout subclass sets ``KIND``, ``_MAGIC`` and
    ``WIDTHS`` and overrides the packed body codec.
    """

    KIND = "cuckoo"
    WIDTHS = (2, 4, 8, 12, 16, 32)
    _MAGIC = b"CKF1"
    # magic, version, f, victim used, num_buckets, num_items, seed,
    # victim index, victim tag, body kind, hash family. The family
    # byte sits in a former pad position — older blobs read back as
    # 0 = multiply_shift, the only family they could use.
    _HEADER = struct.Struct("<4sBBBxQQQQIBB2x")

    def __init__(self, max_num_keys: int, bits_per_item: int = 12,
                 seed: int = 2014, hash_family: str = "multiply_shift"):
        if bits_per_item not in self.WIDTHS:
            raise ValueError(
                f"unsupported {self.KIND} fingerprint width "
                f"f={bits_per_item}; choose from {self.WIDTHS}"
            )
        if hash_family not in HASH_FAMILIES:
            raise ValueError(
                f"unknown hash_family {hash_family!r}; "
                f"choose from {sorted(HASH_FAMILIES)}"
            )
        # sizing formula, src/cuckoofilter.h:89-98
        num_buckets = upperpower2(max(1, max_num_keys // ASSOC))
        if max_num_keys / (num_buckets * ASSOC) > 0.96:
            num_buckets <<= 1
        f, seed = int(bits_per_item), int(seed)
        table = np.zeros((num_buckets, ASSOC), dtype=_table_dtype(f))
        self._setup(f, seed, hash_family, table, 0, Victim(),
                    seed ^ 0x9E3779B9)

    def _setup(self, f: int, seed: int, hash_family: str,
               table: np.ndarray, num_items: int, victim: Victim,
               rng_seed: int) -> None:
        """The one place object state is set — by ``__init__`` with an
        empty table and by ``from_bytes`` with the decoded one. The kick
        RNG decides which slot a later kick evicts, so its seed fixes
        the bytes of every later insert and merge: ``seed ^ 0x9E3779B9``
        for a new filter, further ``^ num_items`` after ``from_bytes``."""
        self.f = f
        self.seed = seed
        self.hash_family = hash_family
        self.table = table
        self.num_buckets = len(table)
        self.num_items = num_items
        self.victim = victim
        self.hasher = HASH_FAMILIES[hash_family](seed)
        self._rng = np.random.Generator(np.random.PCG64(rng_seed))
        self.kicks = 0  # build-stat: total evictions performed (not serialized)

    # ----------------------------------------------------------------- sizing
    @property
    def size(self) -> int:
        """Items stored in the table (excludes the victim) — Size()."""
        return self.num_items

    @property
    def size_in_tags(self) -> int:
        return self.num_buckets * ASSOC

    @property
    def packed_size_bytes(self) -> int:
        """Reference SingleTable byte count for space-parity reporting:
        kBytesPerBucket * num_buckets (src/singletable.h:18-19,48-50)."""
        return ((self.f * ASSOC + 7) >> 3) * self.num_buckets

    @property
    def load_factor(self) -> float:
        return self.num_items / self.size_in_tags

    @property
    def bits_per_item(self) -> float:
        return 8.0 * self.packed_size_bytes / self.num_items if self.num_items else 0.0

    def info(self) -> str:
        """Human-readable stats, shape of reference Info() (src/cuckoofilter.h:223-236)."""
        return (
            f"CuckooFilter Status:\n"
            f"\t\tSingleHashtable with tag size: {self.f} bits\n"
            f"\t\tAssociativity: {ASSOC}\n"
            f"\t\tHashtable size: {self.packed_size_bytes >> 10} KB\n"
            f"\t\tKeys stored: {self.num_items}\n"
            f"\t\tLoad factor: {self.load_factor:.4f}\n"
            f"\t\tbit/key:   {self.bits_per_item:.2f} bits\n"
        )

    # ------------------------------------------------------------- hashing
    def _index_tag(self, keys: np.ndarray):
        hv = self.hasher.hash64(np.ascontiguousarray(keys, dtype=np.uint64))
        i1 = index_hash(hv, self.num_buckets)
        tag = tag_hash(hv, self.f)
        return i1, tag

    # -------------------------------------------------------------- insert
    _ADD_CHUNK = 1 << 18  # keys per internal insert round

    def add_many(self, keys: np.ndarray) -> np.ndarray:
        """Insert a batch; returns a Status int array aligned with keys.

        Internally chunked: one giant batch driven to ~95% load would
        hand the placement machinery an eviction queue larger than the
        remaining free space (the vectorized multi-chain kicker then
        refuses and every chain degrades to the sequential per-item
        path — measured 25x slower). Fixed-size chunks keep each
        round's spill small enough to stay on the vectorized path."""
        keys = np.ascontiguousarray(keys, dtype=np.uint64)
        n = len(keys)
        statuses = np.full(n, int(Status.Ok), dtype=np.int8)
        if n == 0:
            return statuses
        step = self._ADD_CHUNK
        for s in range(0, n, step):
            if self.victim.used:
                statuses[s:] = int(Status.NotEnoughSpace)
                break
            e = min(n, s + step)
            i1, tag = self._index_tag(keys[s:e])
            statuses[s:e] = self._insert_tags(i1, tag)
        return statuses

    def _insert_tags(
        self, idx: np.ndarray, tags: np.ndarray, must_place: bool = False
    ) -> np.ndarray:
        """Batched AddImpl (src/cuckoofilter.h:139-162).

        Vectorized fast path (``_bulk_place_dual``): claim rounds place
        one item per distinct bucket into an empty slot of its first
        bucket, or of its alternate when the first is full — this
        covers the overwhelming majority of inserts. Items whose both
        buckets are full go to eviction chains: all of them at once in
        ``_batched_kick`` while free slots stay at or above ``2 *
        spill + 64``, else one *sequential* ``_kick_chain`` per item
        (the reference's one-Add-at-a-time eviction loop), so at most
        one chain is in flight and the single-slot victim semantics
        hold exactly: the first exhausted chain parks its in-flight
        tag, and later items are refused with NotEnoughSpace before any
        mutation.

        ``must_place=True`` (merge path): tags are already logically
        resident, a refusal would silently drop them → raise instead.
        """
        n = len(idx)
        out = np.full(n, int(Status.Ok), dtype=np.int8)
        inserted = 0

        placed, cur_idx, cur_tag, owner = self._bulk_place_dual(idx, tags)
        inserted += placed

        if len(cur_idx):
            # both buckets full → eviction chains
            free_slots = self.size_in_tags - (self.num_items + inserted)
            safe = (not self.victim.used) and free_slots >= 2 * len(cur_idx) + 64
            if safe:
                # vectorized multi-chain kicking: all chains advance one
                # kick per round (unique buckets per round → no write
                # conflicts). Occupancy-neutral per kick; each chain ends
                # in an empty-slot placement. In this headroom regime a
                # 500-kick exhaustion is ~impossible; any stragglers fall
                # back to the exact sequential path below. After this
                # call every original queue tag is table-resident except
                # the returned leftovers, which carry displaced *resident*
                # tags: they can be parked (victim) but NEVER dropped.
                leftovers = self._batched_kick(cur_idx, cur_tag)
                inserted += len(cur_idx) - len(leftovers)
                for bucket, tag in leftovers:
                    if self.victim.used:
                        raise RuntimeError(
                            "cuckoo filter overflow: victim occupied while a "
                            "displaced resident tag is in flight — refusing to "
                            "drop it (grow capacity or lower the load factor)"
                        )
                    if self._kick_chain(bucket, tag):
                        inserted += 1
            else:
                # low-headroom regime: reference-faithful single-Add
                # eviction with exact single-slot victim semantics
                for j in range(len(cur_idx)):
                    if self.victim.used:
                        if must_place:
                            raise RuntimeError(
                                "cuckoo merge overflow: victim occupied — "
                                "refusing to silently drop a resident tag"
                            )
                        out[owner[j]] = int(Status.NotEnoughSpace)
                        continue
                    if self._kick_chain(int(cur_idx[j]), int(cur_tag[j])):
                        inserted += 1
                    # else parked: occupancy-neutral (new tag in,
                    # displaced tag parked); owner still gets Ok
                    # (src/cuckoofilter.h:158-161)

        self.num_items += inserted
        return out

    def _claim_buf(self) -> np.ndarray:
        """Reusable bucket-claim scratch (int32 per bucket), allocated
        lazily on the ADD path only — probe-only filters never pay for
        it. Entries are always written before being read within a
        round, so no clearing between rounds/calls is needed."""
        buf = getattr(self, "_claim", None)
        if buf is None or len(buf) != self.num_buckets:
            buf = np.full(self.num_buckets, -1, dtype=np.int32)
            self._claim = buf
        return buf

    @staticmethod
    def _swar_first_empty(w: np.ndarray):
        """(has_empty_mask, lane_shift) for a batch of uint64 bucket
        words — the reference ``haszero16`` trick (src/bitsutil.h:8-19).
        Flag bits above the LOWEST zero lane can be spurious (borrow
        propagation), so only the lowest set flag is used — which is
        exactly the first-empty-slot semantic we need."""
        m = (w - CuckooFilter._SWAR_LOW) & ~w & CuckooFilter._SWAR_HIGH
        has = m != 0
        lb = m & (np.uint64(0) - m)             # lowest empty-lane flag
        # lb has one bit set at position 15/31/47/63 (or is 0); the
        # de Bruijn-style multiply places the lane number k in the top
        # 2 bits: (lb>>15) in {1,2^16,2^32,2^48}, and _SWAR_DB packs
        # (k<<4) at bit 62-16k — 3 array passes vs 6 for the previous
        # three-comparison sum. lb==0 rows yield shift 0, never used
        # (has is False there).
        shift = ((lb >> np.uint64(15)) * CuckooFilter._SWAR_DB) >> np.uint64(58)
        return has, shift

    def _stamp_buf(self, q: int) -> np.ndarray:
        """Reusable arange scratch for claim stamps (sliced per round
        instead of re-allocated)."""
        buf = getattr(self, "_stamp", None)
        if buf is None or len(buf) < q:
            buf = np.arange(max(q, self._ADD_CHUNK), dtype=np.int32)
            self._stamp = buf
        return buf[:q]

    def _claim_round(self, b: np.ndarray):
        """Claim-stamp winner pick for one round: one item per distinct
        bucket of ``b`` wins (the last writer of an O(q) scatter, no
        sort), so the round's writes never conflict. Returns the win
        mask and the winners' positions in ``b``."""
        claim = self._claim_buf()
        stamp = self._stamp_buf(len(b))
        claim[b] = stamp                        # last writer wins
        win = claim[b] == stamp
        return win, np.flatnonzero(win)

    def _place_first_empty(self, wb: np.ndarray, tags: np.ndarray,
                           sel: np.ndarray) -> np.ndarray:
        """Write ``tags[sel[j]]`` into the first empty slot of the
        distinct bucket ``wb[j]``, where it has one; returns that
        has-empty mask. uint16 tables take the SWAR word path: one
        uint64 gather + ~6 word ops per bucket instead of a (q,4) row
        gather + 3 lane reductions."""
        table = self.table
        if table.dtype == np.uint16:
            t64 = table.reshape(-1).view(np.uint64)
            w = t64[wb]
            has, shift = self._swar_first_empty(w)
            hasi = np.flatnonzero(has)
            if len(hasi):
                # the target lane is zero → OR suffices, no mask
                t64[wb[hasi]] = w[hasi] | (
                    tags[sel[hasi]].astype(np.uint64) << shift[hasi]
                )
        else:
            empty = table[wb] == 0
            has = empty.any(axis=1)
            hasi = np.flatnonzero(has)
            if len(hasi):
                table[wb[hasi], empty.argmax(axis=1)[hasi]] = (
                    tags[sel[hasi]].astype(table.dtype)
                )
        return has

    def _bulk_place_dual(self, idx: np.ndarray, tags: np.ndarray):
        """Fused claim-round empty-slot fill over BOTH candidate
        buckets: per round, one item per distinct bucket wins
        (claim-stamp scatter, O(q)); losers retry next round; a winner
        whose bucket is FULL moves to its alt bucket within the same
        queue (phase bit) — a second full-bucket win spills it to the
        kick machinery. The expected round count is the max
        batch-internal bucket multiplicity — a small constant for
        chunked random keys — so the whole pass is ~O(n) (this
        replaced a two-phase structure that re-traversed every
        i1-spilled item from scratch, and before that an O(n log n)
        stable argsort).

        Returns ``(n_placed, spill_idx, spill_tag, spill_owner)`` —
        the spilled items' ALT (i2) bucket as uint64, their tags, and
        their positions in the input batch (for status reporting).

        Dtype discipline (round-6): the whole queue lives in 32-bit
        lanes — bucket ``b`` as uint32 (num_buckets <= 2^32 always:
        index_hash masks 32 hash bits), tag as uint32, and
        owner+phase packed into one int32 (owner < _ADD_CHUNK = 2^18,
        phase in bit 30) — halving the scatter/gather/compaction
        traffic of every round vs the previous int64 lanes."""
        n = len(idx)
        # owner|phase packing puts the phase flag at bit 30 — a batch
        # >= 2^30 would silently corrupt owner indices. All callers
        # chunk at _ADD_CHUNK; keep the invariant loud. ValueError,
        # not assert: python -O strips asserts and would revert to the
        # silent corruption this guard exists to prevent (r7 ADVICE).
        if n >= (1 << 30):
            raise ValueError(
                "batch too large for int32 owner|phase lanes "
                f"(n={n} >= 2^30); chunk at _ADD_CHUNK"
            )
        b = idx.astype(np.uint32)
        tg = tags.astype(np.uint32, copy=False)
        st = np.arange(n, dtype=np.int32)   # owner | phase << 30
        _PH = np.int32(1 << 30)
        # uint32-wrapping alt-index constants — formula-identical to
        # hashing.alt_index (i ^ (tag * 0x5bd1e995), masked); any
        # divergence would place tags where the probe side never
        # looks and fail the zero-FN suites loudly
        _ALT_C = np.uint32(0x5BD1E995)
        _BMASK = np.uint32(self.num_buckets - 1)
        placed = 0
        sp_b = [np.empty(0, dtype=np.uint64)]
        sp_t = [np.empty(0, dtype=np.uint32)]
        sp_o = [np.empty(0, dtype=np.int64)]
        while len(b):
            q = len(b)
            win, wi = self._claim_round(b)
            has = self._place_first_empty(b[wi], tg, wi)
            fw = wi[~has]                       # winners, bucket full
            placed += len(wi) - len(fw)
            if len(fw):
                at1 = (st[fw] & _PH) != 0
                fb1 = fw[at1]                   # full at i2 → spill
                if len(fb1):
                    sp_b.append(b[fb1].astype(np.uint64))
                    sp_t.append(tg[fb1])
                    sp_o.append((st[fb1] & ~_PH).astype(np.int64))
                fb0 = fw[~at1]                  # full at i1 → go to i2
                if len(fb0):
                    b[fb0] = (b[fb0] ^ (tg[fb0] * _ALT_C)) & _BMASK
                    st[fb0] |= _PH
            else:
                fb0 = fw
            # next queue = claim losers + winners that flipped to i2
            # (index concat — no q-sized keep mask / scatter pass)
            ki = np.flatnonzero(~win)
            if len(fb0):
                ki = np.concatenate((ki, fb0))
            if len(ki) < q:
                b, tg, st = b[ki], tg[ki], st[ki]
        return (
            placed,
            np.concatenate(sp_b),
            np.concatenate(sp_t),
            np.concatenate(sp_o),
        )

    _KICK_TAIL = 48  # below this queue length, scalar chains win

    def _batched_kick(self, cur_idx: np.ndarray, cur_tag: np.ndarray) -> list:
        """Advance all eviction chains concurrently, one random kick per
        round per distinct bucket (claim-stamp uniqueness — two chains
        never write the same bucket in a round). Returns chains still
        unplaced after MAX_CUCKOO_KICKS as (bucket, tag) tuples; the
        returned tags are *in-flight displaced resident* tags (never
        droppable). Queues shorter than ``_KICK_TAIL`` finish on scalar
        chains — vector-round overhead dominates tiny queues."""
        table = self.table
        cur_idx = cur_idx.astype(np.uint64, copy=True)
        cur_tag = cur_tag.astype(np.uint32, copy=True)
        counts = np.zeros(len(cur_idx), dtype=np.int32)
        leftovers: list[tuple[int, int]] = []

        words = table.dtype == np.uint16
        t64 = table.reshape(-1).view(np.uint64) if words else None
        while len(cur_idx) > self._KICK_TAIL:
            b = cur_idx.astype(np.int64)
            winm, sel = self._claim_round(b)
            has = self._place_first_empty(b[sel], cur_tag, sel)
            kick = sel[~has]
            defer = np.flatnonzero(~winm)
            if len(kick):
                kb = b[kick]
                kslot = self._rng.integers(0, ASSOC, size=len(kick))
                self.kicks += len(kick)
                if words:
                    s16 = kslot.astype(np.uint64) << np.uint64(4)
                    wk = t64[kb]
                    old = ((wk >> s16) & np.uint64(0xFFFF)).astype(np.uint32)
                    t64[kb] = (wk & ~(np.uint64(0xFFFF) << s16)) | (
                        cur_tag[kick].astype(np.uint64) << s16
                    )
                else:
                    old = table[kb, kslot].astype(np.uint32)
                    table[kb, kslot] = cur_tag[kick].astype(table.dtype)
                ni = alt_index(cur_idx[kick], old, self.num_buckets)
                kc = counts[kick] + 1
                over = kc > MAX_CUCKOO_KICKS
                if over.any():
                    for j in np.flatnonzero(over):
                        leftovers.append((int(ni[j]), int(old[j])))
                    keep = ~over
                    old, ni, kc = old[keep], ni[keep], kc[keep]
                cur_idx = np.concatenate([cur_idx[defer], ni])
                cur_tag = np.concatenate([cur_tag[defer], old])
                counts = np.concatenate([counts[defer], kc])
            else:
                cur_idx = cur_idx[defer]
                cur_tag = cur_tag[defer]
                counts = counts[defer]

        for j in range(len(cur_idx)):
            left = self._kick_chain_int(
                int(cur_idx[j]), int(cur_tag[j]), int(counts[j])
            )
            if left is not None:
                leftovers.append(left)
        return leftovers

    def _kick_chain_int(self, bucket: int, tag: int, count0: int = 0):
        """Scalar kick chain on plain python ints (no per-step numpy
        temporaries). Returns None when placed, else the in-flight
        (bucket, tag) after MAX_CUCKOO_KICKS."""
        table = self.table
        mask = self.num_buckets - 1
        dt = table.dtype.type
        for _ in range(count0, MAX_CUCKOO_KICKS):
            row = table[bucket]
            for s in range(ASSOC):
                if not row[s]:
                    row[s] = dt(tag)
                    return None
            slot = int(self._rng.integers(0, ASSOC))
            self.kicks += 1
            old = int(row[slot])
            row[slot] = dt(tag)
            tag = old
            bucket = (bucket ^ ((tag * 0x5BD1E995) & 0xFFFFFFFF)) & mask
        return (bucket, tag)

    def _kick_chain(self, bucket: int, tag: int) -> bool:
        """One sequential eviction chain, ≤ MAX_CUCKOO_KICKS random
        kicks (src/cuckoofilter.h:139-162, src/singletable.h:198-202);
        on exhaustion the in-flight tag parks as the victim
        (src/cuckoofilter.h:158-161). Returns whether it was placed."""
        left = self._kick_chain_int(bucket, tag)
        if left is not None:
            self.victim = Victim(index=left[0], tag=left[1], used=True)
        return left is None

    # --------------------------------------------------------------- lookup
    _SWAR_LOW = np.uint64(0x0001000100010001)
    _SWAR_HIGH = np.uint64(0x8000800080008000)
    # (lane_shift << 4) packed for the _swar_first_empty de Bruijn
    # multiply: bits 42-47 = 16, 26-31 = 32, 10-15 = 48, top 6 = 0
    _SWAR_DB = np.uint64((16 << 42) | (32 << 26) | (48 << 10))
    _PROBE_CHUNK = 1 << 15  # cache-blocking: see contains_many

    def contains_many(self, keys: np.ndarray) -> np.ndarray:
        """Vectorized Contain (src/cuckoofilter.h:166-185): victim check
        then a two-bucket probe (``_probe``). Never a false negative.

        Cache-blocked: the hash + SWAR pipeline is ~16 elementwise
        passes over 8-byte-per-key temporaries, so un-chunked batches
        run at DRAM speed; 32k-key chunks keep the working set in L2
        (table gathers hit LLC either way) — measured 1.5x on the
        1M-key conext-figure5 sweep (18.9 -> 29.6 M lookups/s)."""
        keys = np.ascontiguousarray(keys, dtype=np.uint64)
        n = len(keys)
        out = np.empty(n, dtype=bool)
        for s in range(0, n, self._PROBE_CHUNK):
            e = min(n, s + self._PROBE_CHUNK)
            out[s:e] = self._probe(*self._index_tag(keys[s:e]))
        return out

    def _probe(self, i1: np.ndarray, tag: np.ndarray) -> np.ndarray:
        """Whether ``tag`` sits in bucket ``i1``, in its alternate
        bucket, or in the victim slot — the one two-bucket probe of
        lookup and of merge dedup. Call it on ``_PROBE_CHUNK``-sized
        batches.

        For ≤16-bit tags the whole 4-slot bucket is one uint64 word and
        the probe is the reference's SWAR ``hasvalue16``
        (src/bitsutil.h:8-19, src/singletable.h:124-149) vectorized
        over the batch — one gather + ~6 word ops per bucket instead
        of a (n,4) row gather + lane compare (~2x faster)."""
        i2 = alt_index(i1, tag, self.num_buckets)
        table = self.table
        if table.dtype == np.uint16:
            t64 = table.reshape(-1).view(np.uint64)
            pat = tag.astype(np.uint64) * self._SWAR_LOW
            v1 = t64[i1.astype(np.int64)] ^ pat
            v2 = t64[i2.astype(np.int64)] ^ pat
            hit = (
                ((v1 - self._SWAR_LOW) & ~v1 & self._SWAR_HIGH) != 0
            ) | (
                ((v2 - self._SWAR_LOW) & ~v2 & self._SWAR_HIGH) != 0
            )
        else:
            t = tag.astype(table.dtype)[:, None]
            hit = (table[i1.astype(np.int64)] == t).any(axis=1)
            hit |= (table[i2.astype(np.int64)] == t).any(axis=1)
        v = self.victim
        if v.used:
            v_idx = np.uint64(v.index)
            hit |= (tag == np.uint32(v.tag)) & ((i1 == v_idx) | (i2 == v_idx))
        return hit

    # --------------------------------------------------------------- delete
    def delete_many(self, keys: np.ndarray) -> np.ndarray:
        """Delete one tag copy per key (src/cuckoofilter.h:189-219).

        Caller must guarantee membership, else a fingerprint-colliding
        item may be removed (reference README.md:21). Returns Status
        array. Sequential per-item semantics (duplicates delete one
        copy each); row ops are numpy but the outer loop is per-item —
        delete is not the hot path.
        """
        keys = np.ascontiguousarray(keys, dtype=np.uint64)
        out = np.full(len(keys), int(Status.Ok), dtype=np.int8)
        if len(keys) == 0:
            return out
        i1s, tags = self._index_tag(keys)
        i2s = alt_index(i1s, tags, self.num_buckets)
        table = self.table
        for k in range(len(keys)):
            t = table.dtype.type(tags[k])
            done = False
            for b in (int(i1s[k]), int(i2s[k])):
                row = table[b]
                m = np.flatnonzero(row == t)
                if len(m):
                    row[m[0]] = 0
                    self.num_items -= 1
                    done = True
                    break
            if done:
                self._try_eliminate_victim()
                continue
            if (
                self.victim.used
                and tags[k] == self.victim.tag
                and (int(i1s[k]) == self.victim.index or int(i2s[k]) == self.victim.index)
            ):
                # victim delete does NOT decrement num_items
                # (commented-out decrement, src/cuckoofilter.h:205)
                self.victim.used = False
                continue
            out[k] = int(Status.NotFound)
        return out

    def _try_eliminate_victim(self) -> None:
        """Re-insert a parked victim into the just-freed space
        (src/cuckoofilter.h:211-218)."""
        if self.victim.used:
            self.victim.used = False
            idx = np.array([self.victim.index], dtype=np.uint64)
            tg = np.array([self.victim.tag], dtype=np.uint32)
            self._insert_tags(idx, tg)

    # ---------------------------------------------------------------- merge
    def merge(self, other: "CuckooFilter", dedup: bool = False) -> "CuckooFilter":
        """In-place union with a same-geometry, same-seed filter:
        ``merge_many([self, other], dedup=dedup)``, so it re-inserts
        ``other``'s table tags, then its parked victim, and shares the
        checks and overflow behaviour described there.

        ``dedup=True`` is **set-mode** merge (not in the reference —
        merge itself is new, §2.1 of SURVEY.md): a tag of ``other`` is
        skipped when the same fingerprint already sits in either of its
        two legal buckets of ``self``, and duplicate (bucket-pair, tag)
        entries across both inputs collapse to one copy. Membership
        answers are identical to multiset merge — any key mapping to
        that (bucket, tag) pair still hits — but hot keys inserted into
        many shards no longer pile up 8+ copies and overflow the
        4-slot buckets. This is what makes a distributed *set*
        membership build shuffle-free: per-partition distinct + dedup
        tree-merge. Counting deletes degrade (one stored copy per
        fingerprint), so multiset mode stays the default.
        """
        return type(self).merge_many([self, other], dedup=dedup)

    @classmethod
    def merge_many(cls, filters: list, dedup: bool = True) -> "CuckooFilter":
        """k-way in-place union into ``filters[0]`` — the tree-merge
        group kernel, and the body of ``merge``.

        Every non-zero (bucket, tag) of ``filters[1:]`` is gathered by
        one flat slot scan and re-inserted in ONE batch through the
        placement and kick machinery, each tag starting at its current
        bucket — valid because the alt index is recoverable from
        (bucket, tag) alone. The inputs' parked victims follow in one
        final batch, after every table tag, so a victim is checked
        against the merged table. ``num_items`` is recounted from the
        table.

        ``dedup=True`` (set mode, see ``merge``) dedups each batch
        within itself and against the table at that point
        (``_dedup_pairs``). It collapses equal tags of the same bucket
        pair, and each survivor starts in a bucket one of its copies
        sat in; a fingerprint two keys put in two different pairs keeps
        both copies.

        Raises ValueError on a geometry, seed or hash-family mismatch,
        RuntimeError when ``filters[0]`` holds a victim. Overflow parks
        one victim like Add; a tag that then cannot be placed raises
        RuntimeError — a merge never silently drops a tag.
        """
        if not filters:
            raise ValueError("merge_many of zero filters")
        base, rest = filters[0], filters[1:]
        if base.victim.used:
            raise RuntimeError("merge into a full filter (victim occupied)")
        for f in rest:
            if (f.f != base.f or f.num_buckets != base.num_buckets
                    or f.seed != base.seed
                    or f.hash_family != base.hash_family):
                raise ValueError(
                    "merge requires identical geometry, seed and hash family"
                )
        if rest:
            pairs = [_occupied_pairs(f.table) for f in rest]
            base._merge_insert(np.concatenate([p[0] for p in pairs]),
                               np.concatenate([p[1] for p in pairs]), dedup)
        victims = [f.victim for f in rest if f.victim.used]
        if victims:
            base._merge_insert(
                np.array([v.index for v in victims], dtype=np.uint64),
                np.array([v.tag for v in victims], dtype=np.uint32), dedup,
            )
        base.num_items = int((base.table != 0).sum())
        return base

    def _dedup_pairs(self, idx: np.ndarray, tags: np.ndarray):
        """Set-mode dedup of a batch of (bucket, tag) pairs: one copy per
        (bucket pair, tag), and none where ``_probe`` finds the tag in
        the pair's buckets of ``self`` (or in its victim slot).

        A survivor restarts in the bucket its copy sat in, or in the
        lower bucket of the pair when copies sit in both, so a merge of
        key-disjoint shards puts every tag back where its shard placed
        it. Restarting every survivor in the lower bucket instead piles
        the merge into the lower half of each pair: on the 4-shard
        perfbench ``build`` merge (2^19 buckets, f=12) that left 70,318
        full buckets and 816 kicks, and a final blob of 16.2 bits/key,
        against 0, 0 and 11.7 here.

        One uint64 sort key per pair packs the lower bucket, the tag
        and an upper-bucket bit, so survivors come out in (lower
        bucket, tag) order and the first entry of a run is the copy to
        keep."""
        nb, f = self.num_buckets, self.f
        if (nb - 1).bit_length() + f + 1 > 64:
            raise ValueError(
                f"{nb} buckets x {f}-bit tags do not pack into one uint64 "
                "dedup key (log2(num_buckets) + f + 1 > 64)"
            )
        key = alt_index(idx, tags, nb)
        upper = idx > key                   # this copy sits in the upper bucket
        np.minimum(key, idx, out=key)
        key <<= np.uint64(f + 1)
        key |= tags.astype(np.uint64) << np.uint64(1)
        key |= upper
        del upper
        key.sort()
        first = np.ones(len(key), dtype=bool)
        # equal (pair, tag) differ at most in the upper bit
        np.greater(key[1:] ^ key[:-1], 1, out=first[1:])
        key = key[first]
        del first
        upper = (key & np.uint64(1)).astype(bool)
        key >>= np.uint64(1)
        tags = (key & np.uint64((1 << f) - 1)).astype(np.uint32)
        key >>= np.uint64(f)                # the lower bucket
        keep = np.empty(len(key), dtype=bool)
        for s in range(0, len(key), self._PROBE_CHUNK):
            e = s + self._PROBE_CHUNK
            np.logical_not(self._probe(key[s:e], tags[s:e]), out=keep[s:e])
        np.copyto(key, alt_index(key, tags, nb), where=upper)
        return key[keep], tags[keep]

    def _merge_insert(self, idx: np.ndarray, tags: np.ndarray,
                      dedup: bool) -> None:
        if dedup:
            idx, tags = self._dedup_pairs(idx, tags)
        # try current bucket first (it IS one of the two legal buckets);
        # must_place: a merge may park ONE victim but never drops a tag.
        # Chunked at _ADD_CHUNK like add_many: _bulk_place_dual packs
        # owner|phase into int32 with the phase flag at bit 30, so one
        # batch must stay < 2^30 items or owner indices would corrupt
        # silently (round-7 ADVICE fix) — and small chunks also keep
        # the eviction queue on the vectorized path.
        step = self._ADD_CHUNK
        for s in range(0, len(idx), step):
            self._insert_tags(
                idx[s:s + step], tags[s:s + step], must_place=True
            )

    # ------------------------------------------------------------ serialize
    def to_bytes(self, packed: bool = True) -> bytes:
        """Versioned blob: ``_HEADER``, then the bucket body,
        zlib(level=1)-compressed when that is smaller. kind byte:
        0 = raw table, 1 = packed body, 2 = raw + zlib, 3 = packed +
        zlib.

        Shard tables sized for the GLOBAL key count run at low local
        load — mostly zero bytes — so light compression shrinks the
        blobs that cross every shuffle/collect/broadcast by 5-20x for
        one cheap pass.

        ``packed=True`` writes the layout's packed body where it has
        one (the semi-sorted table); the plain table has none and
        writes the raw table either way. ``packed=False`` skips the
        permutation codec entirely. Shard blobs and intermediate merge
        rounds use it (via ``registry.wire_bytes``): the 1 bit/tag the
        reference's PackedTable saves (src/packedtable.h:13) only
        matters on the blob that is STORED or BROADCAST — the final
        one — while the codec cost would otherwise be paid on every
        shuffle boundary (measured 3.5x of the whole build at sf0.1,
        BENCH_r01)."""
        import zlib

        body = self._pack_body() if packed else None
        kind, body = (0, self.table.tobytes()) if body is None else (1, body)
        small = zlib.compress(body, 1)
        if len(small) < len(body):
            kind, body = kind + 2, small
        header = self._HEADER.pack(
            self._MAGIC, 1, self.f, 1 if self.victim.used else 0,
            self.num_buckets, self.num_items,
            self.seed & 0xFFFFFFFFFFFFFFFF,
            self.victim.index, self.victim.tag, kind,
            FAMILY_IDS[self.hash_family],
        )
        return header + body

    @classmethod
    def from_bytes(cls, blob: bytes) -> "CuckooFilter":
        import zlib

        hdr = cls._HEADER
        (magic, ver, f, v_used, nb, items, seed, v_idx, v_tag, kind,
         family) = hdr.unpack(blob[:hdr.size])
        # the width picks the tag hash (and the packed decoder's
        # shifts): a corrupt width would parse into a filter that
        # answers False for keys it holds
        if magic != cls._MAGIC or ver != 1 or f not in cls.WIDTHS:
            raise ValueError(f"bad {cls.KIND} blob (version {ver}, f={f})")
        body = blob[hdr.size:]
        if kind in (2, 3):
            body = zlib.decompress(body)
        if kind in (1, 3):
            table = cls._unpack_body(body, f)
        else:
            table = np.frombuffer(body, dtype=_table_dtype(f))
            table = table.reshape(-1, ASSOC).copy()
        if len(table) != nb:
            # header/body disagreement = corruption, not a table
            raise ValueError(
                f"bad {cls.KIND} blob: header num_buckets={nb} but "
                f"body holds {len(table)} buckets"
            )
        obj = cls.__new__(cls)
        obj._setup(f, seed, FAMILY_NAMES[family], table, items,
                   Victim(index=v_idx, tag=v_tag, used=bool(v_used)),
                   seed ^ 0x9E3779B9 ^ items)
        return obj

    def _pack_body(self) -> bytes | None:
        """The layout's packed bucket body (blob kinds 1 and 3), or
        None: the plain table has none, so it always writes raw."""
        return None

    @classmethod
    def _unpack_body(cls, raw: bytes, f: int) -> np.ndarray:
        """(num_buckets, ASSOC) table from a packed bucket body."""
        raise ValueError(f"bad {cls.KIND} blob: no packed body kind")

    # ------------------------------------------------- table micro-ops
    # Reference SingleTable parity surface (src/singletable.h §2.2 of
    # SURVEY.md). The batch paths never call these — they exist so a
    # reference user finds the same per-bucket toolkit.
    def read_tag(self, i: int, j: int) -> int:
        """ReadTag(i,j) (src/singletable.h:66-88)."""
        return int(self.table[i, j])

    def write_tag(self, i: int, j: int, tag: int) -> None:
        """WriteTag(i,j,t) (src/singletable.h:91-122)."""
        self.table[i, j] = self.table.dtype.type(tag)

    def find_tag_in_bucket(self, i: int, tag: int) -> bool:
        """FindTagInBucket (src/singletable.h:151-177)."""
        return bool((self.table[i] == self.table.dtype.type(tag)).any())

    def find_tag_in_buckets(self, i1: int, i2: int, tag: int) -> bool:
        """FindTagInBuckets (src/singletable.h:124-149)."""
        return self.find_tag_in_bucket(i1, tag) or self.find_tag_in_bucket(
            i2, tag
        )

    def delete_tag_from_bucket(self, i: int, tag: int) -> bool:
        """DeleteTagFromBucket: zero the first matching slot
        (src/singletable.h:179-188)."""
        m = np.flatnonzero(self.table[i] == self.table.dtype.type(tag))
        if not len(m):
            return False
        self.table[i, m[0]] = 0
        return True

    def insert_tag_to_bucket(self, i: int, tag: int, kickout: bool):
        """InsertTagToBucket: first empty slot wins, else (kickout)
        evict a random slot and return its tag
        (src/singletable.h:190-204). Returns (ok, old_tag|None)."""
        row = self.table[i]
        empties = np.flatnonzero(row == 0)
        if len(empties):
            row[empties[0]] = self.table.dtype.type(tag)
            return True, None
        if kickout:
            slot = int(self._rng.integers(0, ASSOC))
            self.kicks += 1
            old = int(row[slot])
            row[slot] = self.table.dtype.type(tag)
            return False, old
        return False, None

    def num_tags_in_bucket(self, i: int) -> int:
        """NumTagsInBucket (src/singletable.h:206-214)."""
        return int((self.table[i] != 0).sum())

    # ----------------------------------------------------------- scalar API
    def add(self, key: int) -> Status:
        return Status(int(self.add_many(np.array([key], dtype=np.uint64))[0]))

    def contain(self, key: int) -> Status:
        return (
            Status.Ok
            if bool(self.contains_many(np.array([key], dtype=np.uint64))[0])
            else Status.NotFound
        )

    def delete(self, key: int) -> Status:
        return Status(int(self.delete_many(np.array([key], dtype=np.uint64))[0]))
