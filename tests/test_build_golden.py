"""Golden blobs for the sketch build path.

``tests/data/build_golden.json`` holds sha256 digests of the blobs the
build path produces at fixed seeds, for

- ``build_sketch_shards``: every valid strategy x column shape x
  sketch kind — the merged blob and each shard blob (sorted by
  ``shard_id``);
- the driver-side builds: ``build_membership_blob``, the frequent-gram
  gate of ``duplicated_span_stats`` and ``eval_ngram_filter``.

Input partitions and ``shuffle_partitions`` are pinned, so the digests
do not depend on the core count. A refactor of the build path must
reproduce these bytes. To re-record after an intended format change:
``python -m tests.test_build_golden``; it prints each entry that moved.
"""

from __future__ import annotations

import hashlib
import json
import os

import pytest

GOLDEN = os.path.join(os.path.dirname(__file__), "data", "build_golden.json")
N_INPUT_PARTS = 4
N_SHUFFLE = 4

SHAPES = {
    "int_scalar": "k long",
    "int_array": "k array<long>",
    "str_scalar": "k string",
    "str_array": "k array<string>",
}

# kind -> (build flags, constructor params); the flags are the ones the
# public operators pass for that kind
KINDS = {
    "cuckoo": ({}, {"max_num_keys": 4096, "bits_per_item": 12, "seed": 7}),
    "semisort": ({}, {"max_num_keys": 4096, "bits_per_item": 13, "seed": 7}),
    "bloom": ({}, {"log_num_buckets": 10, "seed": 7}),
    "hll": ({}, {"p": 10, "seed": 7}),
    "kmv": ({}, {"k": 256, "seed": 7}),
    "cms": ({"distinct": False, "weight_by_count": True},
            {"eps": 0.01, "delta": 0.05, "seed": 7}),
    "mg": ({"distinct": False, "weight_by_count": True},
           {"k": 64, "seed": 7}),
    "tdigest": ({}, {"delta": 100.0, "seed": 7}),
    "kll": ({}, {"k": 64, "seed": 7}),
}

_VALUE = ("tdigest", "kll")
_COUNT = ("cms", "mg")


def _valid(strategy: str, shape: str, kind: str) -> bool:
    if strategy == "local":
        return True
    if strategy == "shuffle_distinct":
        return kind not in _VALUE + _COUNT
    if strategy == "shuffle_count":
        return kind in _COUNT
    # shuffle_value_count: numeric values only
    return kind in _VALUE and shape.startswith("int")


CASES = [
    (s, shape, kind)
    for s in ("local", "shuffle_distinct", "shuffle_count",
              "shuffle_value_count")
    for shape in SHAPES
    for kind in KINDS
    if _valid(s, shape, kind)
]


def _rows(shape: str) -> list:
    """600 rows of Zipf-ish repeated keys with null rows (and null
    elements in the arrays), deterministic."""
    import numpy as np

    rng = np.random.default_rng(11)
    out = []
    for i in range(600):
        if i % 37 == 5:
            out.append((None,))
            continue
        ks = [int(x) for x in rng.zipf(1.3, size=int(rng.integers(0, 7)))
              % 5000]
        if shape.endswith("array"):
            vals = [None if (i + j) % 23 == 0 else k for j, k in enumerate(ks)]
            if shape.startswith("str"):
                vals = [None if v is None else f"w{v}" for v in vals]
            out.append((vals,))
        else:
            k = int(rng.zipf(1.3)) % 5000
            out.append((f"w{k}" if shape.startswith("str") else k,))
    return out


def _frame(spark, shape: str):
    rdd = spark.sparkContext.parallelize(_rows(shape), N_INPUT_PARTS)
    return spark.createDataFrame(rdd, SHAPES[shape])


def _sha(b) -> str:
    return hashlib.sha256(bytes(b)).hexdigest()


def shard_digests(spark, strategy: str, shape: str, kind: str) -> dict:
    from cuckoofilter_spark.operators.build import build_sketch_shards
    from cuckoofilter_spark.operators.merge import collect_merged

    flags, params = KINDS[kind]
    shards = build_sketch_shards(
        _frame(spark, shape), "k", kind=kind, lineage=False,
        strategy=strategy, shuffle_partitions=N_SHUFFLE, **flags, **params,
    ).persist()
    try:
        rows = sorted(shards.select("shard_id", "sketch").collect(),
                      key=lambda r: r["shard_id"])
        merged = collect_merged(shards, dedup=kind in ("cuckoo", "semisort"))
        return {"merged": _sha(merged.to_bytes()),
                "shards": [_sha(r["sketch"]) for r in rows]}
    finally:
        shards.unpersist()


def _docs(spark):
    words = [f"tok{i}" for i in range(40)]
    texts = []
    for d in range(120):
        n = 6 + (d * 7) % 13
        texts.append((d, " ".join(words[(d * 3 + j * (d % 5 + 1)) % 40]
                                  for j in range(n))))
    rdd = spark.sparkContext.parallelize(texts, N_INPUT_PARTS)
    return spark.createDataFrame(rdd, "id long, text string")


def driver_digests(spark) -> dict:
    import cuckoofilter_spark.operators.probe as probe_mod
    from cuckoofilter_spark.operators.decontam import eval_ngram_filter
    from cuckoofilter_spark.operators.semijoin import build_membership_blob
    from cuckoofilter_spark.operators.spans import duplicated_span_stats

    out = {}
    ints = spark.createDataFrame(
        spark.sparkContext.parallelize(_rows("int_scalar"), N_INPUT_PARTS),
        "k long",
    )
    strs = _frame(spark, "str_scalar")
    out["membership_cuckoo_int"] = _sha(build_membership_blob(ints, "k"))
    out["membership_cuckoo_str"] = _sha(build_membership_blob(strs, "k"))
    out["membership_semisort_int"] = _sha(
        build_membership_blob(ints, "k", kind="semisort", bits_per_item=13)
    )
    out["membership_bloom_int"] = _sha(
        build_membership_blob(ints, "k", kind="bloom")
    )

    seen = []
    real = probe_mod.might_contain_udf

    def spy(spark_, blob, *a, **kw):
        seen.append(blob)
        return real(spark_, blob, *a, **kw)

    probe_mod.might_contain_udf = spy
    try:
        duplicated_span_stats(_docs(spark), "id", "text", k=3).count()
    finally:
        probe_mod.might_contain_udf = real
    out["span_gate"] = [_sha(b) for b in seen]

    blob, _ = eval_ngram_filter(_docs(spark), "text", n=3)
    out["eval_ngram_filter"] = _sha(blob)
    return out


def _case_id(case) -> str:
    return "/".join(case)


@pytest.fixture(scope="module")
def golden():
    with open(GOLDEN) as fh:
        return json.load(fh)


@pytest.mark.parametrize("case", CASES, ids=_case_id)
def test_shard_blobs_match_golden(spark, golden, case):
    assert shard_digests(spark, *case) == golden["shards"][_case_id(case)]


def test_driver_blobs_match_golden(spark, golden):
    got = driver_digests(spark)
    assert len(got["span_gate"]) == 1
    assert got == golden["driver"]


def test_golden_covers_every_case(golden):
    assert sorted(golden["shards"]) == sorted(_case_id(c) for c in CASES)


if __name__ == "__main__":
    from cuckoofilter_spark.session import get_spark
    from tests.golden_io import rewrite_golden

    s = get_spark(app="build-golden", cores=8)
    s.sparkContext.setLogLevel("ERROR")
    rec = {
        "shards": {_case_id(c): shard_digests(s, *c) for c in CASES},
        "driver": driver_digests(s),
    }
    rewrite_golden(GOLDEN, rec, depth=3)
    s.stop()
