"""Distributed delete — route each delete key to the shard that owns it.

Applies to shard tables built with ``strategy='shuffle_distinct'``:
those shards hold hash-DISJOINT key ranges, shard_id ==
pmod(hash(hash(key)), num_shards) (``build.shard_id_expr``), so
ownership is computable without any lookup structure. Keys and shards
cogroup by shard_id; each group deserializes its filter once, runs the
numpy ``delete_many`` batch, and re-emits the shard row
(reference Delete semantics per key: src/cuckoofilter.h:189-219 —
caller guarantees membership).

For ``'local'``-strategy shards a key may hold copies in several
shards; deleting "one copy" is not well-defined per shard there — use
``CuckooFilter.delete_many`` on the merged filter instead (the
operators raise to prevent silent misuse).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cuckoofilter_spark.core.cuckoo import Status
from cuckoofilter_spark.core.registry import sketch_from_bytes, wire_bytes
from cuckoofilter_spark.operators.build import SHARD_SCHEMA, metrics_dict


def delete_from_shards(
    shards: DataFrame, keys: DataFrame, key_col: str, num_shards: int,
    *, raise_on_not_found: bool = False,
) -> DataFrame:
    """Return a new shard DataFrame with the delete batch applied.

    ``num_shards`` must equal the shard count the build produced
    (= its shuffle partition count); shard rows record both their build
    strategy and shard count, and any mismatch raises — hash-routing a
    delete against ``'local'``-strategy shards would silently miss the
    shard(s) actually holding the key.

    Per-key NotFound results (membership precondition violated, or the
    key was never stored) are surfaced in ``metrics.n_not_found`` per
    shard; pass ``raise_on_not_found=True`` to fail the job instead."""
    from cuckoofilter_spark.operators.build import shard_id_expr

    routed = keys.select(
        shard_id_expr(key_col, num_shards).alias("shard_id"),
        F.col(key_col).alias("key"),
    )

    def apply_deletes(shard_pdf: pd.DataFrame,
                      key_pdf: pd.DataFrame) -> pd.DataFrame:
        if len(shard_pdf) == 0:
            # keys routed to a shard id that produced no row (empty
            # partition at build time) — nothing was stored there
            return pd.DataFrame(columns=shard_pdf.columns)
        if len(shard_pdf) != 1:
            raise ValueError("expected exactly one shard row per shard_id")
        row = shard_pdf.iloc[0]
        if row["strategy"] != "shuffle_distinct":
            raise ValueError(
                f"delete_from_shards requires shards built with "
                f"strategy='shuffle_distinct' (hash-disjoint key ranges); "
                f"got strategy={row['strategy']!r} — delete on the merged "
                f"filter instead"
            )
        if int(row["num_shards"]) != num_shards:
            raise ValueError(
                f"shard table was built with num_shards="
                f"{int(row['num_shards'])}, routing used {num_shards} — "
                f"deletes would reach the wrong shards"
            )
        sk = sketch_from_bytes(bytes(row["sketch"]))
        n_del = n_nf = 0
        if len(key_pdf):
            ks = key_pdf["key"].to_numpy(dtype=np.int64).view(np.uint64)
            st = sk.delete_many(ks)
            n_nf = int((st == int(Status.NotFound)).sum())
            n_del = len(st) - n_nf
            if n_nf and raise_on_not_found:
                raise ValueError(
                    f"{n_nf} delete key(s) not present in shard "
                    f"{int(row['shard_id'])} — membership precondition "
                    f"violated or num_shards mismatch"
                )
        blob = wire_bytes(sk)
        out = shard_pdf.copy()
        out["sketch"] = [blob]
        out["metrics"] = [
            metrics_dict(sk, blob, n_deleted=n_del, n_not_found=n_nf)
        ]
        return out

    return (
        shards.groupBy("shard_id")
        .cogroup(routed.groupBy("shard_id"))
        .applyInPandas(apply_deletes, SHARD_SCHEMA)
    )
