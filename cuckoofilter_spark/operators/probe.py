"""Broadcast membership probe — distributed ``Contain``.

The merged sketch blob is broadcast once per job; a scalar
``arrow_udf`` probes whole Arrow batches against it with the
vectorized two-bucket numpy gather (reference semantics:
``src/cuckoofilter.h:166-185``; zero false negatives). Usable directly
inside ``df.filter(...)`` — the classic pre-join pruning role
(left-semi analog; Spark's own runtime bloom-filter join is the
built-in counterpart, SURVEY.md §2.9).

Executor-side the filter object is deserialized ONCE per python
worker (module-level cache keyed by broadcast id), not per batch.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import Column, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType

from cuckoofilter_spark.core.registry import sketch_from_bytes

_FILTER_CACHE: dict = {}


def _get_filter(bc, key: str) -> object:
    # ``key`` is a driver-generated uuid baked into the UDF closure —
    # NEVER use Python id() here: addresses get recycled after GC and
    # a later probe would silently hit a stale filter.
    sk = _FILTER_CACHE.get(key)
    if sk is None:
        sk = sketch_from_bytes(bytes(bc.value))
        _FILTER_CACHE[key] = sk
    return sk


def might_contain_udf(spark: SparkSession, blob: bytes):
    """Return a Column-function: ``f(col) -> boolean`` membership probe.

    Works for any membership sketch kind (cuckoo, bloom) — dispatch on
    the blob magic. Keys: integer column, as int64 reinterpreted as
    uint64 (matching the build side's view).
    """
    import uuid

    bc = spark.sparkContext.broadcast(bytes(blob))
    cache_key = uuid.uuid4().hex

    @F.arrow_udf(BooleanType())
    def probe(s: pa.Array) -> pa.Array:
        # int64 from Arrow (in pandas a batch holding a null is float64);
        # null key -> null result (never "probe key 0"), matching
        # Spark's built-in might_contain null semantics
        keys = s.cast(pa.int64()).fill_null(0).to_numpy().view(np.uint64)
        hits = _get_filter(bc, cache_key).contains_many(keys)
        return pa.array(hits, mask=s.is_null().to_numpy(zero_copy_only=False))

    def apply(col: str | Column) -> Column:
        return probe(F.col(col) if isinstance(col, str) else col)

    return apply


def count_hits_udf(spark: SparkSession, blob: bytes):
    """Column-function: ``f(array<long> col) -> int`` — how many of the
    row's keys the broadcast filter contains.

    The per-document membership counter (decontamination, coverage
    scoring): one narrow pass, no explode/groupBy shuffle — the whole
    Arrow batch is flattened once, probed with one vectorized
    ``contains_many``, and segment-summed back per row
    (``np.add``-free: prefix-sum difference over row offsets). NULL
    array -> 0, matching "no keys, no hits"."""
    import uuid

    from pyspark.sql.types import IntegerType

    bc = spark.sparkContext.broadcast(bytes(blob))
    cache_key = uuid.uuid4().hex

    @F.pandas_udf(IntegerType())
    def hits(s: pd.Series) -> pd.Series:
        sk = _get_filter(bc, cache_key)
        arrs = [
            np.asarray(a, dtype=np.int64) if a is not None
            else np.empty(0, dtype=np.int64)
            for a in s
        ]
        lens = np.fromiter(
            (len(a) for a in arrs), dtype=np.int64, count=len(arrs)
        )
        if len(arrs) == 0 or int(lens.sum()) == 0:
            return pd.Series(np.zeros(len(arrs), dtype=np.int32))
        flat = np.concatenate(arrs).view(np.uint64)
        h = sk.contains_many(flat).astype(np.int64)
        csum = np.concatenate(([0], np.cumsum(h)))
        ends = np.cumsum(lens)
        out = csum[ends] - csum[ends - lens]
        return pd.Series(out.astype(np.int32))

    def apply(col: str | Column) -> Column:
        return hits(F.col(col) if isinstance(col, str) else col)

    return apply


def vocab_coverage(
    df, tokens_col: str | Column, blob: bytes, *, by: str | None = None,
):
    """Vocabulary-coverage report of a token corpus against a
    broadcast membership filter (a tokenizer vocab, yesterday's
    corpus, an allowlist): per group —

    - ``n_docs`` / ``n_tokens``: exact row and token-occurrence counts;
    - ``tokens_in_vocab``: filter hits (zero false negatives ⇒ every
      true vocab occurrence is counted; FPR can only ADD);
    - ``oov_e6``: out-of-vocabulary occurrence rate in 1e-6 units —
      by the zero-FN guarantee a LOWER bound on the true OOV rate,
      short of it by at most FPR of the true OOV occurrences.

    ``tokens_col`` must be ``array<long>`` keys in the SAME key space
    the filter was built over (hash string tokens with
    ``build.string_key_expr`` on both sides). One narrow scan — the
    per-document probe counter — plus a tiny groupBy; no explode, no
    token shuffle. The production gate this feeds: route low-coverage
    documents (mojibake, wrong language, binary spill) out of a
    training corpus at 100 TB for the cost of a broadcast."""
    hits = count_hits_udf(df.sparkSession, blob)
    c = F.col(tokens_col) if isinstance(tokens_col, str) else tokens_col
    per_doc = df.select(
        *( [F.col(by)] if by else [] ),
        F.coalesce(F.size(c), F.lit(0)).alias("__n"),
        hits(c).alias("__h"),
    )
    keys = [by] if by else []
    return (
        per_doc.groupBy(*keys)
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("__n").alias("n_tokens"),
            F.sum("__h").alias("tokens_in_vocab"),
            F.round(
                (F.lit(1.0) - F.sum("__h") / F.greatest(
                    F.sum("__n"), F.lit(1)
                )) * 1_000_000
            ).cast("long").alias("oov_e6"),
        )
    )
