"""Distributed sketch build: the partial-aggregate half of a UDAF.

``build_sketch_shards`` runs four stages in order and emits ONE row
``(shard_id, kind, sketch, metrics, strategy, num_shards, lineage)``
per partition — the ``sketch_shards`` shape of FIXTURES.md §3.
``tree_merge`` (operators/merge.py) is the final-aggregate half.

1. **Normalize** (JVM): the key column becomes ``__v``. String keys
   (scalars or array elements) are pre-hashed with
   ``string_key_expr``. The JVM count sees exploded, non-null keys;
   otherwise the Arrow side flattens and drops nulls.
2. **Collapse**: ``local`` none; ``shuffle_distinct`` a per-partition
   unique in Arrow, packed as one binary row per shard
   (``_route_packed``); the ``shuffle_*count`` ones a JVM ``count``.
3. **Route**: a collapsed stream is repartitioned into ``n_parts``
   shards of disjoint key ranges (``shard_id_expr``). ``local`` keeps
   the input partitions and shuffles nothing.
4. **Kernel** (``mapInArrow``): one numpy sketch per partition, fed
   from ``_flatten`` (``_unpack`` for packed rows, made unique and
   inserted sorted: a shard blob depends only on its key set).

Scale notes (the whole point):
- token arrays are flattened **inside Arrow** (``ListArray.values`` is
  zero-copy) unless a JVM count needs the elements as rows — exploding
  10^12 sequences multiplies the row count by ~300.
- the only Python<->JVM traffic is Arrow record batches in and P
  sketch rows out (P = number of partitions).
- cuckoo shards must share the GLOBAL geometry (capacity sized for the
  merged total with headroom ≤0.85 load — a merged filter at >0.96
  load can overflow; reference guard at ``src/cuckoofilter.h:92-95``).

Small inputs skip the shard build: ``bounded_collect`` brings them to
the driver under one byte budget (``DRIVER_BUDGET_BYTES``) and
``driver_sketch_blob`` builds the blob there.

Reference parity anchors: bulk add loop = ``AddImpl``
(``src/cuckoofilter.h:139-162``); this operator is the distributed
re-expression of ``benchmarks/bulk-insert-and-query.cc:154-170``'s
"time adds until full" loop.
"""

from __future__ import annotations

from typing import Iterable, Iterator

import numpy as np
import pyarrow as pa
from pyspark import TaskContext
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DataType, StringType

from cuckoofilter_spark.core.hashing import spark_hash
from cuckoofilter_spark.core.registry import (
    SKETCH_KINDS, make_sketch, wire_bytes,
)


def string_key_expr(col: str | Column) -> Column:
    """JVM-side pre-hash for string keys: ``xxhash64(col)`` (the role
    of the reference's string ``HashUtil`` overloads,
    src/hashutil.h:19-41, done vectorized inside codegen instead of a
    per-row Python loop). The SAME expression must wrap the probe-side
    column — build and probe agree on the 64-bit key space."""
    c = F.col(col) if isinstance(col, str) else col
    return F.xxhash64(c)


def _string_keyed(dt: DataType) -> bool:
    """A string column, or an array of strings."""
    if isinstance(dt, ArrayType):
        dt = dt.elementType
    return isinstance(dt, StringType)


def hash_string_keys(c: Column, dt: DataType) -> Column:
    """The normalize stage's string step as an expression:
    ``string_key_expr`` on a string column or on every element of a
    string array, NULL kept NULL (``xxhash64(NULL)`` is 42, a key);
    any other column passes through unchanged."""
    if not _string_keyed(dt):
        return c

    def key(s: Column) -> Column:
        return F.when(s.isNotNull(), string_key_expr(s))

    if isinstance(dt, ArrayType):
        return F.transform(c, key)
    return key(c)


SHARD_SCHEMA = (
    "shard_id int, kind string, sketch binary, "
    "metrics struct<keys:long, load:double, bytes:long, kicks:long, "
    "n_deleted:long, n_not_found:long>, "
    "strategy string, num_shards int, lineage array<string>"
)

# ``keys``: the first count a sketch keeps — stored tags (cuckoo,
# bloom), items seen (kll), stream mass (cms, mg) or total weight
# (tdigest). HLL and KMV keep no count and report 0.
_KEY_COUNT_ATTRS = ("num_items", "n", "total", "count")
METRICS_FIELDS = pa.struct(
    [
        ("keys", pa.int64()),
        ("load", pa.float64()),
        ("bytes", pa.int64()),
        ("kicks", pa.int64()),
        ("n_deleted", pa.int64()),
        ("n_not_found", pa.int64()),
    ]
)

# The one driver budget: every driver-side build (semi-join dims, the
# duplicated-span gate, decontam eval sets, near-dup edge lists)
# collects at most this many bytes, counting each collected column as
# an 8-byte long — 4M keys or 2M (src, dst) edges. A bigger input
# takes the distributed build. Tests set it to 0 to force that side.
DRIVER_BUDGET_BYTES = 32 << 20


def driver_budget_rows(df: DataFrame) -> int:
    """How many rows of ``df`` fit ``DRIVER_BUDGET_BYTES``."""
    return DRIVER_BUDGET_BYTES // (8 * len(df.columns))


def bounded_collect(df: DataFrame, n_rows: int | None = None):
    """``df`` as an Arrow table on the driver, or None when it has more
    rows than ``driver_budget_rows`` allows.

    A caller that already knows the row count passes ``n_rows`` and
    gets a parallel collect (a global limit funnels every row through
    one task: measured 0.78 s vs 0.17 s on a 700k-key dim). Without
    it the collect is ``limit(cap + 1)``, which keeps a one-job plan
    one job."""
    cap = driver_budget_rows(df)
    if n_rows is not None:
        return df.toArrow() if n_rows <= cap else None
    tbl = df.limit(cap + 1).toArrow()
    return tbl if tbl.num_rows <= cap else None


def collected_keys(tbl: pa.Table) -> np.ndarray:
    """The first column of a ``bounded_collect`` table as uint64 sketch
    keys, in collect order."""
    return _flatten(tbl.column(0).chunks, np.int64).view(np.uint64)


def driver_sketch_blob(kind: str, keys: np.ndarray, where: str,
                       **params) -> bytes:
    """The driver-side build: one ``kind`` sketch over ``keys`` (in
    the given order — it fixes the blob bytes), refused inserts
    raised, as a final blob."""
    sk = make_sketch(kind, **params)
    check_add_statuses(sk.add_many(keys), where)
    return sk.to_bytes()


def check_add_statuses(statuses, where: str) -> None:
    """Fail loudly when a membership filter refused inserts.

    ``CuckooFilter.add_many`` returns a per-key Status array; a
    NotEnoughSpace there means the key was DROPPED — the merged filter
    would silently answer false negatives for it, the one thing the
    contract forbids (reference guarantee: src/cuckoofilter.h:126-135
    surfaces the status to the caller; discarding it here would erase
    that contract). Non-membership sketches return None — no-op."""
    if statuses is None:
        return
    n_bad = int(np.count_nonzero(statuses))
    if n_bad:
        raise ValueError(
            f"{where}: {n_bad} key(s) refused with NotEnoughSpace — "
            f"filter capacity exceeded; raise max_num_keys (a dropped "
            f"key would become a silent false negative)"
        )


def metrics_dict(sk, blob: bytes, *, n_deleted: int = 0,
                 n_not_found: int = 0) -> dict:
    """Uniform metrics struct for a shard row (build/merge/delete)."""
    n_keys = next((getattr(sk, a) for a in _KEY_COUNT_ATTRS
                   if hasattr(sk, a)), 0)
    return {
        "keys": int(n_keys),
        "load": float(getattr(sk, "load_factor", 0.0)),
        "bytes": len(blob),
        "kicks": int(getattr(sk, "kicks", 0)),
        "n_deleted": int(n_deleted),
        "n_not_found": int(n_not_found),
    }


def _fast_unique(a: np.ndarray) -> np.ndarray:
    """``np.unique`` with an O(n + range) occupancy-table fast path
    for large batches of NON-NEGATIVE NARROW-RANGE keys (token-id
    vocabularies: ids < 2^24). A boolean scatter + ``flatnonzero``
    replaces the sort — measured ~10x on 9.2M-token partitions —
    and the output (sorted distinct values, input dtype) is
    identical. Wide-range keys (64-bit hashes) take the sort path
    unchanged."""
    if len(a) >= (1 << 16) and a.dtype.kind in "iu":
        mn = a.min()
        if int(mn) >= 0:
            mx = int(a.max())
            if mx < (1 << 24):  # 16 MB of flags, cache-friendly
                flags = np.zeros(mx + 1, dtype=bool)
                flags[a] = True
                return np.flatnonzero(flags).astype(a.dtype, copy=False)
    return np.unique(a)


def _fast_unique_counts(a: np.ndarray):
    """(unique, counts) with the same narrow-range fast path as
    ``_fast_unique`` (``np.bincount`` instead of a sort; 32 MB count
    table cap). Identical output to ``np.unique(a,
    return_counts=True)``."""
    if len(a) >= (1 << 16) and a.dtype.kind in "iu":
        mn = a.min()
        if int(mn) >= 0:
            mx = int(a.max())
            if mx < (1 << 22):  # 32 MB of int64 counts
                cnt = np.bincount(a.astype(np.int64, copy=False))
                uniq = np.flatnonzero(cnt)
                return uniq.astype(a.dtype, copy=False), cnt[uniq]
    return np.unique(a, return_counts=True)


def shard_key_expr(col: str | Column) -> Column:
    """The expression shuffled shards partition on (``shuffle_distinct``
    rows carry it as ``__h``). Kept as a named single source of truth:
    ``delete_from_shards`` recomputes shard ownership as
    pmod(hash(shard_key_expr(key)), num_shards)."""
    c = F.col(col) if isinstance(col, str) else col
    return F.hash(c)


def shard_id_expr(col: str | Column, num_shards: int) -> Column:
    """Owning shard id of a key under the shuffle_distinct layout."""
    return F.pmod(F.hash(shard_key_expr(col)), F.lit(num_shards))


def salted_repartition(
    df: DataFrame, num_partitions: int, key: str | Column, salt: int = 42
) -> DataFrame:
    """Explicit skew defusal: spread rows of a dominant key (e.g. one
    ``source`` holding 60% of docs) uniformly over ``num_partitions``.

    ``repartition`` alone hashes the raw key — every row of the hot key
    lands on ONE reducer. Salting hashes (key, xxhash64(doc)) so hot
    keys fan out. AQE's skew splitting does not apply inside
    ``mapInArrow``/``applyInPandas`` groups, hence the explicit salt
    (SURVEY.md §4)."""
    key_col = F.col(key) if isinstance(key, str) else key
    # hash-partition on the full 64-bit salted hash (NOT a pre-bucketed
    # pmod — re-hashing P small values collides them into < P buckets);
    # spark_partition_id adds per-row entropy so one hot key fans out.
    return df.repartition(
        num_partitions,
        F.xxhash64(key_col, F.spark_partition_id(), F.lit(salt)),
    )


def _flatten(cols: Iterable[pa.Array], dtype=None) -> np.ndarray:
    """The build's one Arrow→numpy step: Arrow arrays → one flat numpy
    array, one list level flattened (zero-copy), nulls dropped, cast
    to ``dtype`` when given. Integers cast to int64 then viewed as
    uint64 are the sketch key space (int64 -1 == uint64 2^64-1, as the
    JVM's xxhash64 output is viewed)."""
    parts = []
    for c in cols:
        if pa.types.is_list(c.type) or pa.types.is_large_list(c.type):
            c = c.flatten()
        if c.null_count:
            c = c.drop_null()
        if len(c):
            parts.append(c.to_numpy(zero_copy_only=False))
    if not parts:
        return np.empty(0, dtype=dtype or np.int64)
    out = np.concatenate(parts)
    return out if dtype is None else out.astype(dtype, copy=False)


def _pack_dtype(dt: DataType):
    """The dtype ``shuffle_distinct`` packs ``dt`` keys (or elements)
    at — integers at their width, strings as xxhash64 longs — or None."""
    dt = dt.elementType if isinstance(dt, ArrayType) else dt
    t = {"tinyint": "i1", "smallint": "i2", "int": "i4", "bigint": "i8",
         "string": "i8"}.get(dt.simpleString())
    return None if t is None else np.dtype(t)


def _route_packed(n_parts: int, dtype: np.dtype):
    """``shuffle_distinct``'s map stage: an input partition's distinct
    keys, one row per owning shard (``shard_id_expr``, computed with
    ``spark_hash``): ``__h`` the inner hash of one of its keys, which
    ``repartition(n_parts, "__h")`` routes by, and ``__k`` the keys."""
    def route(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        keys = _fast_unique(_flatten(b.column(0) for b in batches))
        keys = keys.astype(dtype, copy=False)
        h = spark_hash(keys)
        shard = np.mod(spark_hash(h), n_parts)
        # small unsigned ids: numpy's stable sort is then a radix sort
        shard = shard.astype(np.min_scalar_type(n_parts - 1))
        order = np.argsort(shard, kind="stable")
        counts = np.bincount(shard)
        counts = counts[counts > 0]
        ends = np.cumsum(counts)
        offsets = np.concatenate(([0], ends)) * dtype.itemsize
        yield pa.RecordBatch.from_arrays([
            pa.array(h[order[ends - counts]]),
            pa.Array.from_buffers(pa.binary(), len(counts), [
                None, pa.py_buffer(offsets.astype(np.int32)),
                pa.py_buffer(keys[order])]),
        ], ["__h", "__k"])

    return route


def _unpack(col: pa.Array, dtype: np.dtype) -> np.ndarray:
    """A packed ``__k`` column's keys, zero-copy from its data buffer."""
    _, offsets, data = col.buffers()
    o = np.frombuffer(offsets, np.int32, len(col) + 1, 4 * col.offset)
    return np.frombuffer(data, dtype, (o[-1] - o[0]) // dtype.itemsize, o[0])


# strategy -> (collapse, the sketch mode it needs, error otherwise).
# A sketch's mode is "value" (tdigest, kll), "count" (weight_by_count)
# or "set" (every other membership or distinct-count build).
_STRATEGIES = {
    "local": (None, None, None),
    "shuffle_distinct": (
        "distinct", "set", "shuffle_distinct is a membership-build strategy"),
    "shuffle_count": (
        "count", "count",
        "shuffle_count requires a weight_by_count frequency sketch (cms)"),
    "shuffle_value_count": (
        "count", "value",
        "shuffle_value_count requires a value-based sketch (tdigest, kll)"),
}


def _normalize(df: DataFrame, column: str, *, collapse: str | None,
               lineage: bool) -> DataFrame:
    """Stage 1: ``column`` as ``__v`` (plus ``__file`` for lineage),
    string keys hashed. The JVM count sees array elements as exploded
    rows and drops null keys first — the Arrow side drops them itself,
    and a null group's count would otherwise outlive its key."""
    cols = [F.col(column).alias("__v")]
    if lineage:
        # hidden per-row file provenance from the file-source scan
        cols.append(F.col("_metadata.file_path").alias("__file"))
    src = df.select(*cols)
    dt = df.schema[column].dataType
    if collapse == "count" and isinstance(dt, ArrayType):
        src = src.select(F.explode("__v").alias("__v"))
        dt = dt.elementType
    if _string_keyed(dt):
        src = src.withColumn("__v", hash_string_keys(F.col("__v"), dt))
    if collapse == "count":
        src = src.filter(F.col("__v").isNotNull())
    return src


def routed_keys(
    df: DataFrame, column: str, *, strategy: str = "local",
    lineage: bool = False, shuffle_partitions: int | None = None,
) -> tuple[DataFrame, int]:
    """Stages 1-3 of ``build_sketch_shards``: the DataFrame its kernel
    reads — ``__v`` (then ``__file`` for lineage, ``__c`` for counts),
    or ``__h, __k`` packed rows for ``shuffle_distinct`` — and the
    shard count (-1 for ``local``)."""
    collapse = _STRATEGIES[strategy][0]
    dt = df.schema[column].dataType
    if collapse == "distinct" and _pack_dtype(dt) is None:
        raise ValueError(f"shuffle_distinct needs integer or string keys;"
                         f" column {column!r} is {dt.simpleString()}")
    src = _normalize(df, column, collapse=collapse, lineage=lineage)
    if collapse is None:
        return src, -1
    n_parts = int(shuffle_partitions
                  or df.sparkSession.sparkContext.defaultParallelism)
    # A user-numbered repartition: AQE sizes partitions by BYTES and
    # would coalesce the small collapsed stream into one partition.
    if collapse == "distinct":
        # Round 8 kept a JVM distinct here: a ROW per key per input
        # partition cost more at the Arrow boundary (8.1 s vs 5.9 s at
        # sf1.0). Packed rows cross it per byte: 4.08M -> 7.22M tokens/s
        # on the 14.6M-token build (4 cores, 10 interleaved pairs).
        routed = src.mapInArrow(_route_packed(n_parts, _pack_dtype(dt)),
                                "__h int, __k binary")
        return routed.repartition(n_parts, "__h"), n_parts
    # hash(__v), not __v: the count's own ENSURE_REQUIREMENTS exchange,
    # which AQE may coalesce, would absorb a repartition on __v
    counted = src.groupBy("__v").agg(F.count(F.lit(1)).alias("__c"))
    return counted.repartition(n_parts, shard_key_expr("__v")), n_parts


def build_sketch_shards(
    df: DataFrame,
    column: str,
    *,
    kind: str = "cuckoo",
    distinct: bool = True,
    lineage: bool = True,
    weight_by_count: bool = False,
    strategy: str = "local",
    shuffle_partitions: int | None = None,
    **params,
) -> DataFrame:
    """Per-partition sketch build -> one shard row per partition.

    ``column`` may be a scalar column or an ``array`` column (flattened
    zero-copy in Arrow); string keys are hashed with
    ``string_key_expr``. For ``kind='cuckoo'`` pass ``max_num_keys``
    (GLOBAL capacity) and optionally ``bits_per_item`` / ``seed``;
    other kinds take their own constructor params.

    ``distinct=True`` inserts each locally-distinct key once (set
    semantics — required for membership filters over repetitive
    streams). For frequency sketches (cms, mg) set
    ``weight_by_count=True`` to add local counts instead, which is
    exact and cheaper than feeding duplicates one by one.

    ``strategy`` picks the plan (module docstring, stages 2-3):

    - ``'local'`` (default): zero shuffles — per input partition, one
      sketch over the locally-distinct keys; the dedup tree-merge
      collapses cross-shard duplicates. Best when the key space is
      SPARSE relative to a shard: merge work = Σ per-shard distinct ≈
      global distinct. ``lineage=True`` records the input files.
    - ``'shuffle_distinct'`` (set-mode sketches, integer or string
      keys): each input partition's distinct keys go to their shard
      packed as one binary row per shard, in one exchange; each of
      ``shuffle_partitions`` shards builds over a DISJOINT key range.
      Best when the key space
      SATURATES each shard (hot vocab): merge work collapses from
      P×cardinality to cardinality — for a 2^20-token vocab at 10^12
      sequences, 10^11 vs 10^6 merge inserts.
    - ``'shuffle_count'`` (``weight_by_count`` frequency sketches): the
      same shape with a JVM partial COUNT, so Arrow carries exact
      (key, count) pairs at ~cardinality rows instead of every
      occurrence; the sketch gets one weighted insert per key.
    - ``'shuffle_value_count'`` (tdigest, kll): the count collapse over
      a discrete value column; the digest gets ``add_weighted`` per
      distinct value (t-digest state is identical to the
      per-occurrence build on low-cardinality domains; KLL uses binary
      weight decomposition, same rank guarantee).

    Shuffled strategies record their shard count in ``num_shards``
    (``delete_from_shards`` routes by it) and carry no lineage.
    """
    cls = SKETCH_KINDS[kind]
    value_based = kind in ("tdigest", "kll")
    if strategy not in _STRATEGIES:
        raise ValueError(f"unknown build strategy {strategy!r}")
    collapse, needs, error = _STRATEGIES[strategy]
    mode = "value" if value_based else "count" if weight_by_count else "set"
    if needs not in (None, mode):
        raise ValueError(error)
    if collapse is not None:
        lineage = False  # provenance dissolves across the shuffle
    elif lineage:
        try:
            lineage = bool(df.inputFiles())
        except Exception:
            lineage = False
    projected, n_shards = routed_keys(
        df, column, strategy=strategy, lineage=lineage,
        shuffle_partitions=shuffle_partitions,
    )
    counted = collapse == "count"
    pack = _pack_dtype(df.schema[column].dataType)
    # a packed shard holds each input partition's distinct keys
    unique = collapse == "distinct" or (distinct and collapse is None)
    key_dtype = np.float64 if value_based else np.int64

    def build(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        sk = cls(**params)
        files: set = set()
        keys: list[np.ndarray] = []
        counts: list[np.ndarray] = []
        for b in batches:
            if lineage:
                files.update(b.column(1).unique().to_pylist())
            k = (_unpack(b.column(1), pack).astype(np.int64, copy=False)
                 if collapse == "distinct"
                 else _flatten([b.column(0)], key_dtype))
            c = _flatten([b.column(1)], np.int64) if counted else None
            if not len(k):
                continue
            if value_based:  # digests self-compress: insert per batch
                sk.add_weighted(k, c) if counted else sk.add_many(k)
            else:
                keys.append(k.view(np.uint64))
                counts.append(c)
        if keys:
            k = np.concatenate(keys)
            if counted:
                args = (k, np.concatenate(counts))
            elif weight_by_count:
                args = _fast_unique_counts(k)
            else:
                args = (_fast_unique(k) if unique else k,)
            check_add_statuses(
                sk.add_many(*args), f"build_sketch_shards[{kind}]"
            )
        tc = TaskContext.get()
        shard_id = tc.partitionId() if tc is not None else 0
        blob = wire_bytes(sk)  # transport format; final blob packs
        yield pa.RecordBatch.from_pydict(
            {
                "shard_id": pa.array([shard_id], pa.int32()),
                "kind": pa.array([kind]),
                "sketch": pa.array([blob], pa.binary()),
                "metrics": pa.array([metrics_dict(sk, blob)], METRICS_FIELDS),
                "strategy": pa.array([strategy]),
                "num_shards": pa.array([n_shards], pa.int32()),
                "lineage": pa.array([sorted(files)], pa.list_(pa.string())),
            }
        )

    return projected.mapInArrow(build, SHARD_SCHEMA)
