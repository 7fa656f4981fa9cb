"""``shuffle_distinct`` routing: the numpy Murmur3 port equals Spark's
``hash``, every key lands in exactly the shard ``shard_id_expr`` names,
and shard blobs do not depend on how the input is partitioned. Also
the ``might_contain_udf`` 64-bit key regression, NULL strings, and the
shard rows' ``metrics.keys`` count for every sketch kind."""

from __future__ import annotations

import hashlib

import numpy as np
import pyarrow as pa
import pytest
from pyspark.sql import functions as F

INT_TYPES = {
    "tinyint": np.int8, "smallint": np.int16, "int": np.int32,
    "bigint": np.int64,
}


@pytest.mark.parametrize("spark_type", sorted(INT_TYPES))
def test_spark_hash_matches_jvm_hash(spark, spark_type):
    from cuckoofilter_spark.core.hashing import spark_hash

    dtype = INT_TYPES[spark_type]
    info = np.iinfo(dtype)
    rng = np.random.default_rng(5)
    vals = np.concatenate([
        np.array([0, -1, 1, info.min, info.max], dtype),
        rng.integers(info.min, info.max, 200, dtype=dtype, endpoint=True),
    ])
    df = spark.createDataFrame([(int(v),) for v in vals], f"k {spark_type}")
    rows = df.select(F.hash("k"), F.hash(F.hash("k"))).collect()
    inner = spark_hash(vals)
    assert inner.dtype == np.int32
    assert inner.tolist() == [r[0] for r in rows]
    assert spark_hash(inner).tolist() == [r[1] for r in rows]


def _routed_pairs(df, col: str, n: int) -> list[tuple[int, int]]:
    """(partition, key) for every key ``routed_keys`` sends a shard."""
    from pyspark import TaskContext

    from cuckoofilter_spark.operators import build

    routed, n_parts = build.routed_keys(
        df, col, strategy="shuffle_distinct", shuffle_partitions=n)
    assert n_parts == n
    dtype = build._pack_dtype(df.schema[col].dataType)

    def unpack(batches):
        pid = TaskContext.get().partitionId()
        for b in batches:
            k = build._unpack(b.column(1), dtype).astype(np.int64)
            yield pa.RecordBatch.from_pydict(
                {"pid": np.full(len(k), pid, np.int32), "key": k})

    return [tuple(r) for r in
            routed.mapInArrow(unpack, "pid int, key long").collect()]


def _shape_frame(spark, shape: str):
    """300 rows over 3 input partitions, keys repeated across
    partitions, null rows and null elements included."""
    rng = np.random.default_rng(11)
    rows = []
    for i in range(300):
        if i % 37 == 0:
            rows.append((None,))
        elif shape == "int_array":
            v = rng.integers(-2000, 2000, 6).tolist()
            rows.append(([None if j == i % 9 else x
                          for j, x in enumerate(v)],))
        elif shape == "long_scalar":
            rows.append((int(rng.integers(-2**63, 2**63 - 1))
                         if i % 3 else i % 50,))
        else:
            rows.append((f"w{int(rng.integers(0, 400))}",))
    schema = {"int_array": "k array<int>", "long_scalar": "k long",
              "str_scalar": "k string"}[shape]
    return spark.createDataFrame(
        spark.sparkContext.parallelize(rows, 3), schema)


@pytest.mark.parametrize("n", [1, 3, 4, 8])
@pytest.mark.parametrize("shape", ["int_array", "long_scalar", "str_scalar"])
def test_every_key_in_exactly_its_shard(spark, shape, n):
    from cuckoofilter_spark.operators.build import (
        build_sketch_shards, hash_string_keys, shard_id_expr,
    )

    df = _shape_frame(spark, shape)
    keys = df.select(F.explode("k").alias("k")) if shape == "int_array" \
        else df
    key = hash_string_keys(F.col("k"), keys.schema["k"].dataType)
    # keys as the build sees them: NULL rows and elements are no keys
    owner = {
        r["key"]: r["shard"] for r in keys.select(
            key.cast("long").alias("key"), shard_id_expr(key, n).alias("shard")
        ).filter("key IS NOT NULL").distinct().collect()
    }
    pairs = set(_routed_pairs(df, "k", n))
    # each key in one shard only, and it is the one shard_id_expr names
    assert len(pairs) == len(owner)
    assert pairs == {(s, k) for k, s in owner.items()}

    shards = build_sketch_shards(
        df, "k", kind="cuckoo", lineage=False, max_num_keys=4096,
        bits_per_item=12, seed=7, strategy="shuffle_distinct",
        shuffle_partitions=n,
    ).select("shard_id", "metrics.keys").collect()
    per_shard = np.bincount(list(owner.values()), minlength=n)
    assert {r["shard_id"]: r["keys"] for r in shards} \
        == dict(enumerate(per_shard.tolist()))


def _blob_digests(spark, rows, parts: int, kind: str, bits: int) -> dict:
    from cuckoofilter_spark.operators.build import build_sketch_shards
    from cuckoofilter_spark.operators.merge import merge_shards_to_blob

    df = spark.createDataFrame(
        spark.sparkContext.parallelize(rows, parts), "k array<int>")
    shards = build_sketch_shards(
        df, "k", kind=kind, lineage=False, max_num_keys=30_000,
        bits_per_item=bits, seed=7, strategy="shuffle_distinct",
        shuffle_partitions=4,
    ).persist()
    try:
        blobs = sorted(shards.select("shard_id", "sketch").collect())
        merged = merge_shards_to_blob(shards, dedup=True)
    finally:
        shards.unpersist()
    sha = lambda b: hashlib.sha256(bytes(b)).hexdigest()  # noqa: E731
    return {"shards": [sha(r["sketch"]) for r in blobs],
            "merged": sha(merged)}


@pytest.mark.parametrize("kind,bits", [("cuckoo", 12), ("semisort", 13)])
def test_shard_blobs_independent_of_input_partitioning(spark, kind, bits):
    """Same keys read as 4 and as 7 input partitions: identical shard
    and merged blobs (the kernel inserts each shard's keys sorted)."""
    rng = np.random.default_rng(3)
    rows = [(rng.integers(0, 20_000, 64).astype(int).tolist(),)
            for _ in range(2000)]
    a = _blob_digests(spark, rows, 4, kind, bits)
    assert a == _blob_digests(spark, rows, 7, kind, bits)
    assert len(set(a["shards"])) == 4


def test_shuffle_distinct_refuses_other_key_types(spark):
    from cuckoofilter_spark.operators import approx
    from cuckoofilter_spark.operators.build import build_sketch_shards

    df = spark.range(100).select(
        F.col("id").cast("double").alias("d"),
        F.array(F.col("id").cast("double") % 3).alias("ds"),
    )
    for col, type_name in (("d", "double"), ("ds", "array<double>")):
        with pytest.raises(ValueError, match=type_name.replace("<", ".")):
            build_sketch_shards(df, col, kind="hll", lineage=False,
                                strategy="shuffle_distinct", p=10, seed=7)
    old = approx._AUTO_SHUFFLE_MIN_BYTES
    approx._AUTO_SHUFFLE_MIN_BYTES = 0  # force the size gate open
    try:
        assert approx._distinct_strategy(df, "ds", "auto") == "local"
    finally:
        approx._AUTO_SHUFFLE_MIN_BYTES = old


def test_probe_long_key_with_null_in_batch(spark):
    """A 64-bit key above 2^53 must hit whether or not a NULL shares its
    Arrow batch (a pandas UDF got the batch as float64 and missed it);
    the NULL answers NULL."""
    from cuckoofilter_spark import CuckooFilter
    from cuckoofilter_spark.operators.probe import might_contain_udf

    key = 2**60 + 1
    f = CuckooFilter(1024, 12, seed=7)
    f.add_many(np.array([key], np.uint64))
    probe = might_contain_udf(spark, f.to_bytes())
    with_null = spark.createDataFrame([(key,), (None,)], "k long") \
        .coalesce(1)
    assert [r["hit"] for r in with_null.select(
        probe("k").alias("hit")).collect()] == [True, None]
    alone = spark.createDataFrame([(key,)], "k long")
    assert alone.select(probe("k")).collect()[0][0] is True


@pytest.mark.parametrize("schema", ["k string", "k array<string>"])
@pytest.mark.parametrize("strategy",
                         ["local", "shuffle_distinct", "shuffle_count"])
def test_null_strings_are_not_keys(spark, schema, strategy):
    """NULL string rows and NULL array elements never reach the
    kernel: the shards hold exactly the distinct non-null strings.
    ``shuffle_count`` needs a counting sketch (Misra-Gries), whose
    ``metrics.keys`` is the stream mass: one per non-null value."""
    from cuckoofilter_spark.operators.build import build_sketch_shards

    words = [None if i % 5 == 0 else f"w{i % 23}" for i in range(120)]
    if schema == "k string":
        rows, values = [(w,) for w in words], words
    else:
        rows = [None if i % 11 == 0 else [w, None, f"x{i % 7}"]
                for i, w in enumerate(words)]
        values = [v for r in rows if r is not None for v in r]
        rows = [(r,) for r in rows]
    non_null = [v for v in values if v is not None]
    # one input partition: the local strategy's single shard is global
    df = spark.createDataFrame(spark.sparkContext.parallelize(rows, 1),
                               schema)
    if strategy == "shuffle_count":
        kind, params = "mg", {"k": 1024, "distinct": False,
                              "weight_by_count": True}
    else:
        kind, params = "cuckoo", {"max_num_keys": 4096}
    shards = build_sketch_shards(
        df, "k", kind=kind, lineage=False, strategy=strategy,
        shuffle_partitions=4, seed=7, **params,
    ).select("metrics.keys").collect()
    want = len(non_null) if kind == "mg" else len(set(non_null))
    assert sum(r["keys"] for r in shards) == want


# kind -> constructor params; hll and kmv keep no count (keys stays 0)
_METRIC_KINDS = {
    "cuckoo": {"max_num_keys": 1024}, "semisort": {"max_num_keys": 1024},
    "bloom": {"log_num_buckets": 6}, "hll": {"p": 8}, "kmv": {"k": 64},
    "cms": {"eps": 0.01, "delta": 0.05}, "mg": {"k": 64},
    "tdigest": {"delta": 100.0}, "kll": {"k": 64},
}


@pytest.mark.parametrize("kind", sorted(_METRIC_KINDS))
def test_metrics_keys_counts_what_the_sketch_keeps(kind):
    """``metrics.keys`` after 100 distinct inserts: the stored tags,
    items, stream mass or total weight the sketch keeps."""
    from cuckoofilter_spark.core.registry import make_sketch, wire_bytes
    from cuckoofilter_spark.operators.build import metrics_dict

    sk = make_sketch(kind, seed=7, **_METRIC_KINDS[kind])
    keys = np.arange(1, 101, dtype=np.uint64) * np.uint64(0x9E3779B97F4A7C15)
    sk.add_many(keys.astype(np.float64) if kind in ("tdigest", "kll")
                else keys)
    want = 0 if kind in ("hll", "kmv") else 100
    assert metrics_dict(sk, wire_bytes(sk))["keys"] == want


def test_shuffle_count_metrics_keys_is_the_stream_mass(spark):
    """A ``shuffle_count`` Misra-Gries build: each shard row's
    ``metrics.keys`` is its stream mass, so they sum to the row count."""
    from cuckoofilter_spark.operators.build import build_sketch_shards

    df = spark.createDataFrame([(i % 13,) for i in range(300)], "k long")
    shards = build_sketch_shards(
        df, "k", kind="mg", lineage=False, strategy="shuffle_count",
        shuffle_partitions=4, seed=7, k=64, distinct=False,
        weight_by_count=True,
    ).select("metrics.keys").collect()
    assert len(shards) > 1
    assert sum(r["keys"] for r in shards) == 300
