"""Tree merge of sketch shards — the final-aggregate half of the UDAF.

``tree_merge`` runs ⌈log_fanout(P)⌉ rounds of
``groupBy(shard_id // fanout).applyInPandas(merge)`` until one row
remains — the DataFrame re-expression of ``RDD.treeAggregate``. Each
round is a shuffle of BLOBS, not data: P rows of ~MB sketches, so at
P=10^5 shards and fanout=16 that is 5 rounds whose largest shuffle is
P×blob bytes — trivially cheap next to the input scan.

Merge semantics per kind (core classes): cuckoo = re-insert tags via
the alt-index involution (set-mode dedup for membership builds);
bloom/hll = bitwise OR / register max; cms = counter add; tdigest /
kll = centroid/compactor merge. All raise loudly on geometry or seed
mismatch — a silent mismatch would produce wrong answers, not errors.

Why not a single ``groupBy().applyInPandas`` over all shards? One
reducer would deserialize all P blobs — at P=10^5 that is a driver-
sized hotspot. The tree bounds every task to ``fanout`` blobs.
"""

from __future__ import annotations

import functools

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cuckoofilter_spark.core.registry import sketch_from_bytes, wire_bytes
from cuckoofilter_spark.operators.build import SHARD_SCHEMA, metrics_dict


_DRIVER_MERGE_MAX_SHARDS = 64  # merge_shards_to_blob's driver/tree cutover


def _merge_sketches(sketches: list, dedup: bool):
    """Merge into the first sketch: cuckoo kinds in one vectorized k-way
    ``merge_many``, every other kind by folding ``merge``."""
    if sketches[0].KIND in ("cuckoo", "semisort"):
        return type(sketches[0]).merge_many(sketches, dedup=dedup)
    return functools.reduce(lambda acc, nxt: acc.merge(nxt), sketches)


def _lineage_list(v) -> list:
    # lineage arrives as list OR numpy array (parquet round-trip) OR None
    if v is None:
        return []
    return list(v)


def _merge_group(pdf: pd.DataFrame, dedup: bool,
                 final: bool = False) -> pd.DataFrame:
    pdf = pdf.sort_values("shard_id").reset_index(drop=True)
    sketches = [sketch_from_bytes(bytes(b)) for b in pdf["sketch"]]
    files: list = []
    for v in pdf["lineage"]:
        files.extend(_lineage_list(v))
    acc = _merge_sketches(sketches, dedup)
    # intermediate rounds stay in the fast wire format; only the FINAL
    # blob pays the semisort perm codec (1 bit/tag space parity)
    blob = acc.to_bytes() if final else wire_bytes(acc)
    return pd.DataFrame(
        {
            "shard_id": [int(pdf["shard_id"].iloc[0])],
            "kind": [pdf["kind"].iloc[0]],
            "sketch": [blob],
            "metrics": [metrics_dict(acc, blob)],
            "strategy": [pdf["strategy"].iloc[0]],
            "num_shards": [int(pdf["num_shards"].iloc[0])],
            "lineage": [sorted(set(files))],
        }
    )


def tree_merge(
    shards: DataFrame,
    fanout: int = 16,
    dedup: bool = True,
    num_shards: int | None = None,
) -> DataFrame:
    """Merge shard rows down to a single-row DataFrame, fanout per round.

    ``num_shards``: pass the known partition count to skip the initial
    ``count()`` job (the count is cheap — shards are one row per
    partition — but on a 10^5-task input it saves a scheduling round).
    """
    # Materialize each round: without persist, round K's lazy plan
    # re-executes the ENTIRE build + rounds 0..K-1 (measured 6x wall
    # blowup). Each round is a tiny blob table — cache is cheap.
    df = shards.persist()
    n = num_shards if num_shards is not None else df.count()
    if num_shards is not None:
        df.count()  # force materialization even when count was known
    rounds = 0
    while n > 1:
        rounds += 1
        is_final = (n + fanout - 1) // fanout == 1
        # exactly ONE positional arg — applyInPandas switches to
        # (key, pdf) calling convention for 2-arg callables
        merge_fn = functools.partial(_merge_group, dedup=dedup, final=is_final)

        nxt = (
            df.withColumn("shard_id", (F.col("shard_id") / fanout).cast("int"))
            .groupBy("shard_id")
            .applyInPandas(merge_fn, SHARD_SCHEMA)
        ).persist()
        nxt.count()
        df.unpersist()
        df = nxt
        n = (n + fanout - 1) // fanout
        if rounds > 20:
            raise RuntimeError("tree_merge failed to converge")
    return df


def merge_shards_to_blob(
    shards: DataFrame, fanout: int = 16, dedup: bool = True,
    num_shards: int | None = None,
) -> bytes:
    """Merge shard rows to one blob.

    Small shard counts (≤ ``_DRIVER_MERGE_MAX_SHARDS``) merge
    driver-side in one collect — distributed tree rounds only pay off
    once the blob fan-in would swamp a single process (10^3+ shards).
    The tree path is the 10^5-shard story; the cutover just skips it
    where it is pure overhead.

    The shard count comes from the PARTITION count, not
    ``shards.count()`` — a count would execute the whole build job a
    second time (the build emits exactly one row per partition, so
    the two are equal by construction; round-5 finding: the count was
    silently doubling every blob build, +0.43 s on the sf0.1
    semi-join and ~2x the build cost of every bench row). Caveat
    (round-5 advice): ``mapInArrow`` emits NO row for an empty input
    partition, so the partition count can OVERCOUNT the true shard
    count — harmless here because n only picks driver-vs-tree (both
    paths are correct at any n) and the overcount errs toward the
    scalable tree path; callers that know the exact count (e.g. from
    ``build_sketch_shards`` metadata) can pass ``num_shards``."""
    n = (num_shards if num_shards is not None
         else shards.rdd.getNumPartitions())
    if n <= _DRIVER_MERGE_MAX_SHARDS:
        return collect_merged(shards, dedup=dedup).to_bytes()
    row = tree_merge(shards, fanout=fanout, dedup=dedup,
                     num_shards=n).collect()[0]
    return bytes(row["sketch"])


def collect_merged(shards: DataFrame, dedup: bool = True):
    """Driver-side merge for SMALL shard counts (tests, approx queries
    where P ≤ a few hundred): collect partials, merge locally. Avoids
    extra Spark rounds; NOT for 10^5-shard builds."""
    from concurrent.futures import ThreadPoolExecutor

    rows = shards.collect()
    rows.sort(key=lambda r: r["shard_id"])
    # zlib + numpy decode release the GIL — thread-parallel deserialize
    # (the semisort perm-decode is ~0.13s/blob; serial x128 shards is
    # a real driver tail)
    with ThreadPoolExecutor(max_workers=8) as ex:
        sketches = list(
            ex.map(lambda r: sketch_from_bytes(bytes(r["sketch"])), rows)
        )
    return _merge_sketches(sketches, dedup)
