"""Filter-pruned semi-join — the cuckoo/bloom filter's production role.

``filter_semi_join(fact, key, dim, dim_key)``:

1. build a membership sketch over the dim keys (distributed partial
   build + merge — the dim side may itself be huge; nothing is
   collected except the final KB..MB blob),
2. broadcast the blob and prune the fact table with the vectorized
   probe (zero false negatives ⇒ no row that should survive is lost),
3. optionally finish with an exact join to drop the ≤FPR stragglers.

At 100 TB the pruning happens BEFORE the join shuffle: with FPR ~0.1%
and a selective dim predicate, the shuffle moves orders of magnitude
fewer bytes. When the dim key set is small Spark would broadcast the
join anyway — the sketch path is for dims too big to broadcast raw
but whose *fingerprints* (12 bits/key) still fit: 10^9 keys ≈ 1.9 GB
raw int64 vs ~0.2 GB cuckoo blob at f=12. Spark's own AQE runtime
bloom (``spark.sql.optimizer.runtime.bloomFilter.enabled``) is the
built-in analog (SURVEY.md §2.9).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from cuckoofilter_spark.operators.build import (
    bounded_collect, build_sketch_shards, collected_keys, driver_budget_rows,
    driver_sketch_blob, hash_string_keys,
)
from cuckoofilter_spark.operators.merge import merge_shards_to_blob
from cuckoofilter_spark.operators.probe import might_contain_udf


def build_membership_blob(
    dim: DataFrame, dim_key: str, *, kind: str = "cuckoo",
    bits_per_item: int = 12, seed: int = 2014, capacity: int | None = None,
    target_load: float = 0.85,
) -> bytes:
    """Build + merge a membership sketch over ``dim[dim_key]`` (string
    keys are hashed with ``build.string_key_expr``).

    ``capacity`` defaults to the distinct key count (driver build) or
    ``dim.count()`` (distributed build); either way it is run through
    ``suggest_capacity`` (core/cuckoo.py), the single home of the
    merged-load guard: a merged filter above ~0.96 load can overflow
    (reference pre-doubles at 0.96, src/cuckoofilter.h:92-95), so size
    for ≤ ``target_load`` merged.
    """
    from cuckoofilter_spark.core.cuckoo import suggest_capacity

    if kind in ("cuckoo", "semisort"):
        # Round 8: dims within the driver budget build driver-side from
        # one distinct-key collect instead of a count job + shard build
        # + merge round — the blob is KB..MB either way and membership
        # answers are identical (FPR-pattern noise only, always
        # exact-verified or bound-checked downstream). The null drop
        # runs JVM-side; the distinct COUNT picks the path and lets
        # the collect run in parallel.
        key = hash_string_keys(F.col(dim_key), dim.schema[dim_key].dataType)
        kdf = (
            dim.select(key.alias("__k"))
            .filter(F.col("__k").isNotNull()).distinct()
        )
        if capacity is None or capacity <= driver_budget_rows(kdf):
            tbl = bounded_collect(kdf, n_rows=kdf.count())
            if tbl is not None:
                keys = collected_keys(tbl)
                cap = suggest_capacity(
                    int(capacity or len(keys)), target_load=target_load
                )
                return driver_sketch_blob(
                    kind, keys, "build_membership_blob", max_num_keys=cap,
                    bits_per_item=bits_per_item, seed=seed,
                )
    if capacity is None:
        capacity = dim.count()
    capacity = suggest_capacity(int(capacity), target_load=target_load)
    if kind in ("cuckoo", "semisort"):
        shards = build_sketch_shards(
            dim, dim_key, kind=kind, lineage=False,
            max_num_keys=capacity, bits_per_item=bits_per_item, seed=seed,
        )
    elif kind == "bloom":
        import math

        log_nb = max(6, math.ceil(math.log2(max(1, capacity) * 1.0 / 25.6)))
        shards = build_sketch_shards(
            dim, dim_key, kind="bloom", lineage=False,
            log_num_buckets=log_nb, seed=seed,
        )
    else:
        raise ValueError(f"not a membership sketch kind: {kind!r}")
    # merge_shards_to_blob, NOT collect_merged: below its
    # driver-merge cutover it collects (tests, small dims); above, it tree-
    # merges so a 10^5-shard dim build never fans every shard blob
    # into the driver — the aggregate-then-merge shape the reference's
    # own merge design exists for (SURVEY §2.1 merge row).
    return merge_shards_to_blob(shards, dedup=(kind == "cuckoo"))


def _probe_parts(fact, key, dim, dim_key, *, kind, bits_per_item, seed):
    """(key column, its filter-probe column, the dim's distinct keys
    ``__dk``). The probe hashes string keys exactly as the build does;
    the exact verify joins the raw values. Measured round 8:
    re-creating collected dim keys as a driver-local DataFrame LOSES to
    the JVM recompute (4.3 s vs 2.4 s on a 690k-key dim), so the dim
    side is re-scanned."""
    blob = build_membership_blob(
        dim, dim_key, kind=kind, bits_per_item=bits_per_item, seed=seed
    )
    probe = might_contain_udf(fact.sparkSession, blob)
    key_col = F.col(key) if isinstance(key, str) else key
    dt = fact.select(key_col).schema[0].dataType
    hit = probe(hash_string_keys(key_col, dt))
    dim_keys = dim.select(F.col(dim_key).alias("__dk")).distinct()
    return key_col, hit, dim_keys


def filter_semi_join(
    fact: DataFrame, key: str | Column, dim: DataFrame, dim_key: str,
    *, kind: str = "cuckoo", exact: bool = True, bits_per_item: int = 12,
    seed: int = 2014,
) -> DataFrame:
    """Rows of ``fact`` whose ``key`` appears in ``dim[dim_key]``.

    ``exact=True`` (default) appends a broadcast left-semi join so the
    result is exactly the semi-join — the sketch only *prunes*.
    ``exact=False`` returns the pure approximate filter (≤FPR extra
    rows, zero missing rows). String keys work as they are: both sides
    hash them for the probe and the verify compares the strings.
    """
    key_col, hit, dim_keys = _probe_parts(
        fact, key, dim, dim_key, kind=kind, bits_per_item=bits_per_item,
        seed=seed,
    )
    pruned = fact.filter(hit)
    if not exact:
        return pruned
    return pruned.join(
        F.broadcast(dim_keys), on=key_col == F.col("__dk"), how="left_semi"
    )


def filter_anti_join(
    fact: DataFrame, key: str | Column, dim: DataFrame, dim_key: str,
    *, kind: str = "cuckoo", exact: bool = True, bits_per_item: int = 12,
    seed: int = 2014,
) -> DataFrame:
    """Rows of ``fact`` whose ``key`` does NOT appear in
    ``dim[dim_key]`` — novelty detection (today's crawl minus
    yesterday's corpus), the membership filter's other production
    role.

    Zero false negatives flips the guarantee around: a probe MISS
    proves the key is absent from dim, so the narrow ``~probe`` filter
    emits only correct rows and the only error mode is *omission* of
    the ≤FPR novel keys the filter wrongly claims to contain.
    ``exact=True`` (default) recovers exactly those: the probe HITS —
    |dim matches| + FPR stragglers, a sliver of the fact table — go
    through a broadcast left-anti join and the recovered rows are
    unioned back. Fact-side cost: one narrow probe pass + an
    anti-join over the hit sliver only; the bulk of a mostly-novel
    fact table never touches a join.

    NULL keys: kept, matching ``left_anti`` join semantics (a NULL key
    can never equal any dim key, so the row is trivially novel).
    ``probe(NULL)`` is NULL — failing both the ``~probe`` and
    ``probe`` filters — so NULL rows are routed through an explicit
    ``isNull`` arm rather than silently dropped."""
    key_col, hit, dim_keys = _probe_parts(
        fact, key, dim, dim_key, kind=kind, bits_per_item=bits_per_item,
        seed=seed,
    )
    misses = fact.filter(key_col.isNull() | ~hit)
    if not exact:
        return misses
    recovered = fact.filter(hit).join(
        F.broadcast(dim_keys), on=key_col == F.col("__dk"), how="left_anti"
    )
    return misses.unionByName(recovered)
