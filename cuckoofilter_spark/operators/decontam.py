"""Benchmark decontamination — the cuckoo filter's flagship
training-pipeline role.

Before training on a 100 TB corpus you must remove documents that
overlap the evaluation benchmarks (n-gram contamination). The exact
answer is an n-gram join corpus × eval — at corpus scale that join's
corpus side (every n-gram of every document, shuffled by n-gram) is
the single most expensive movement in the pipeline. The membership
sketch removes it:

1. the EVAL side's distinct word n-grams are built into one cuckoo
   filter blob (eval sets are millions of n-grams — megabytes at
   16 bits/item) and broadcast;
2. the CORPUS side is a narrow scan: per document, tokenize →
   shingle → hash → one batched filter probe, all inside one Arrow
   UDF (``F.arrow_udf``: the text column arrives as an Arrow string
   array and is split and hashed on its buffers) — no explode, no
   shuffle. Zero false negatives (reference guarantee,
   ``src/cuckoofilter.h:166-185``) ⇒ every truly contaminated
   document survives this gate;
3. only the PROBE HITS — true overlaps plus an FPR-controlled
   trickle (bits_per_item=16 ⇒ ~0.01% per n-gram) — pay the exact
   verification, so the result is exact up to 64-bit gram-hash
   collisions. For eval sets within the driver budget the exact check
   rides INSIDE the same UDF pass (``ngram_overlap_udf``: a
   ``searchsorted`` of the hit grams against the broadcast sorted
   eval gram-hash array — no join at all); larger eval sets explode
   the hit-gram hashes into a broadcast verify join
   (``ngram_hit_stats_udf`` + join). Either way the per-gram exact
   work is candidate-only.

Driver side, ``decontaminate`` runs one small eval job: it collects
the eval set's distinct gram hashes, builds the filter from them and
hands the same array to ``ngram_overlap_udf`` — the keys never go
back into the JVM. A gram DataFrame exists only where one is read:
the public ``eval_ngram_filter``, the above-budget fallback, and the
streaming job's parked verify table.

This is the same probe-then-verify shape as the semi-join operator
(``operators/semijoin.py``), applied per-array instead of per-key.
"""

from __future__ import annotations

import uuid

import numpy as np

# module level, not lazy: the Arrow UDFs below annotate ``pa.Array``,
# and under ``from __future__ import annotations`` PySpark resolves
# those hints against this module's globals
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType, IntegerType, LongType, StructField, StructType,
)

from cuckoofilter_spark.core.cuckoo import suggest_capacity as _suggest_capacity
from cuckoofilter_spark.operators.build import (
    bounded_collect, build_sketch_shards, collected_keys, driver_sketch_blob,
)
from cuckoofilter_spark.operators.merge import merge_shards_to_blob


def _distinct_grams(texts, n: int, seed: int):
    """(lens, flat) for one Arrow batch of documents: each document's
    distinct word-``n``-gram count and the distinct gram hashes of all
    documents concatenated (uint64, documents in order)."""
    from cuckoofilter_spark.operators.dedup import _shingle_hashes_batch

    arrs = _shingle_hashes_batch(texts, n, seed)
    lens = np.fromiter((len(a) for a in arrs), dtype=np.int64, count=len(arrs))
    flat = np.concatenate(arrs) if len(arrs) else np.empty(0, dtype=np.uint64)
    return lens, flat


def _gate(texts, sk, n: int, seed: int):
    """``_distinct_grams`` plus the filter ``sk``'s hit mask over
    ``flat``: (lens, flat, hv)."""
    lens, flat = _distinct_grams(texts, n, seed)
    return lens, flat, sk.contains_many(flat)


def _per_doc(mask: np.ndarray, lens: np.ndarray) -> pa.Array:
    """int32 per-document count of ``mask`` over consecutive segments
    of ``lens`` elements."""
    csum = np.concatenate(([0], np.cumsum(mask, dtype=np.int64)))
    ends = np.cumsum(lens)
    return pa.array((csum[ends] - csum[ends - lens]).astype(np.int32))


def _list_array(lens: np.ndarray, values: np.ndarray) -> pa.Array:
    """array<long> column: ``values`` (uint64, viewed as int64) cut
    into consecutive per-document lists of ``lens`` elements."""
    offsets = np.concatenate(([0], np.cumsum(lens))).astype(np.int32)
    return pa.ListArray.from_arrays(
        pa.array(offsets), pa.array(values.view(np.int64))
    )


def _struct(**cols) -> pa.Array:
    return pa.StructArray.from_arrays(list(cols.values()), names=list(cols))


def _broadcast_filter(spark, blob: bytes):
    """(broadcast, cache key) for ``probe._get_filter``."""
    return spark.sparkContext.broadcast(bytes(blob)), uuid.uuid4().hex


def contamination_count_udf(spark, blob: bytes, *, n: int, seed: int):
    """Column-function ``f(text) -> int``: how many of the document's
    distinct word n-grams the broadcast eval filter contains.

    ONE pass does tokenize → shingle → hash → batch probe inside the
    UDF (``dedup._shingle_hashes_batch`` + one ``contains_many`` per
    Arrow batch). Doing the shingling here rather than with the JVM
    ``shingles_col`` Column matters twice over: the interpreted
    higher-order expression costs ~25× more per doc, and Catalyst's
    projection collapsing would otherwise re-evaluate it in every
    operator that references the array."""
    from cuckoofilter_spark.operators.probe import _get_filter

    bc, cache_key = _broadcast_filter(spark, blob)

    @F.arrow_udf(IntegerType())
    def hits(s: pa.Array) -> pa.Array:
        lens, _, hv = _gate(s, _get_filter(bc, cache_key), n, seed)
        return _per_doc(hv, lens)

    def apply(col):
        return hits(F.col(col) if isinstance(col, str) else col)

    return apply


def ngram_hit_stats_udf(spark, blob: bytes, *, n: int, seed: int):
    """Column-function ``f(text) -> struct<n_total int, n_hits int,
    hits array<long>>`` — the gate of the above-budget verify join: one
    tokenize → shingle → hash → batch-probe pass that also RETURNS the
    distinct gram hashes the broadcast filter contained, so the exact
    verify join explodes 8-byte candidate hashes instead of
    re-shingling candidate documents with the interpreted JVM
    ``shingles_col`` (CodegenFallback, ~2 ms/doc). Non-candidate
    documents return an empty array — the per-row cost of the clean
    bulk is unchanged."""
    from cuckoofilter_spark.operators.probe import _get_filter

    bc, cache_key = _broadcast_filter(spark, blob)
    out_type = StructType([
        StructField("n_total", IntegerType()),
        StructField("n_hits", IntegerType()),
        StructField("hits", ArrayType(LongType())),
    ])

    @F.arrow_udf(out_type)
    def stats(s: pa.Array) -> pa.Array:
        lens, flat, hv = _gate(s, _get_filter(bc, cache_key), n, seed)
        n_hits = _per_doc(hv, lens)
        return _struct(n_total=pa.array(lens.astype(np.int32)),
                       n_hits=n_hits,
                       hits=_list_array(n_hits.to_numpy(), flat[hv]))

    stats = stats.asNondeterministic()  # see ngram_overlap_udf

    def apply(col):
        return stats(F.col(col) if isinstance(col, str) else col)

    return apply


def ngram_overlap_udf(spark, blob: bytes, exact_keys, *, n: int, seed: int):
    """Column-function ``f(text) -> struct<n_total int, n_overlap
    int>`` — the FUSED gate + exact verify: per document, tokenize →
    shingle → hash → batched CF probe (the zero-FN gate: only probe
    HITS pay the exact lookup), then the hits verify against the
    broadcast SORTED exact eval-hash array with one ``searchsorted``.
    Emits the distinct-overlap count (exact up to 64-bit gram-hash
    collisions) directly — no hit arrays cross the boundary, no
    explode/join/groupBy follows. An Arrow UDF: the text arrives as an
    Arrow string array and the struct leaves as a ``StructArray``, with
    no pandas conversion either way. ``exact_keys``: uint64 ndarray of
    the eval set's distinct gram hashes (sorted here)."""
    from cuckoofilter_spark.operators.probe import _get_filter

    bc, cache_key = _broadcast_filter(spark, blob)
    keys_sorted = np.sort(np.asarray(exact_keys, dtype=np.uint64))
    bc_keys = spark.sparkContext.broadcast(keys_sorted)
    out_type = StructType([
        StructField("n_total", IntegerType()),
        StructField("n_overlap", IntegerType()),
    ])

    @F.arrow_udf(out_type)
    def stats(s: pa.Array) -> pa.Array:
        ek = bc_keys.value
        lens, flat, hv = _gate(s, _get_filter(bc, cache_key), n, seed)
        # exact verify on the gate hits only: membership of each hit
        # in the sorted exact set via searchsorted
        hits = flat[hv]
        exact = np.zeros(len(flat), dtype=bool)
        if len(hits) and len(ek):
            pos = np.minimum(np.searchsorted(ek, hits), len(ek) - 1)
            exact[hv] = ek[pos] == hits
        return _struct(n_total=pa.array(lens.astype(np.int32)),
                       n_overlap=_per_doc(exact, lens))

    # asNondeterministic (guide §4.4): downstream filters on the
    # struct fields would otherwise be pushed below the projection and
    # DUPLICATE the whole kernel evaluation (two ArrowEvalPython nodes
    # — every document tokenized and probed twice). The function is
    # pure; the marking only pins it.
    stats = stats.asNondeterministic()

    def apply(col):
        return stats(F.col(col) if isinstance(col, str) else col)

    return apply


def _novelty_cols(id_col: str) -> list:
    """The output columns of ``novelty_report`` from ``n_total`` and
    ``__n_seen``; both plans share them, so both give one schema (the
    coalesce also makes ``n_seen`` non-nullable on either side)."""
    n_seen = F.coalesce(F.col("__n_seen"), F.lit(0))
    return [
        id_col,
        "n_total",
        n_seen.cast("long").alias("n_seen"),
        F.when(F.col("n_total") > 0,
               F.floor(F.lit(1000) * (F.col("n_total") - n_seen)
                       / F.col("n_total")))
        .otherwise(F.lit(1000)).alias("novelty_milli"),
    ]


def novelty_report(
    corpus: DataFrame, ref_df: DataFrame, id_col: str, text_col: str, *,
    n: int = 3, bits_per_item: int = 16, seed: int = 7,
) -> DataFrame:
    """Per-document novelty vs a reference corpus, exact up to 64-bit
    gram-hash collisions — the scoring complement of
    ``decontaminate``: for EVERY corpus document, ``(id_col, n_total,
    n_seen, novelty_milli)`` where ``n_total`` is its distinct
    word-``n``-gram count, ``n_seen`` how many of those appear anywhere
    in ``ref_df``, and ``novelty_milli = floor(1000 * (n_total -
    n_seen) / n_total)`` (integer arithmetic — engine-portable; 1000 =
    fully novel). Data curation uses this to down-weight or drop
    low-novelty documents against an existing training snapshot.

    Plan shape: within the driver budget, one narrow Arrow pass
    computes (n_total, n_seen) per document — the CF gate (zero false
    negatives) then a ``searchsorted`` verify against the broadcast
    reference gram set; no shuffle, no explode, no join. Above it the
    gate pass also returns the hit hashes, and only documents with
    ≥1 hit — the overlapping sliver plus the FPR trickle — pay the
    explode + broadcast-join verification (a document with 0 filter
    hits has exactly 0 true overlaps). Documents with an empty n-gram
    set (< n words) report n_total=0, novelty_milli=1000.

    Caching lifetime (above-budget path only): the gate output and the
    reference gram table stay persisted for the session — deliberate
    when scoring several corpus slices against one reference, but a
    loop over MANY references should call
    ``spark.catalog.clearCache()`` between iterations (as bench.py
    does) or unpersist after materializing the result."""
    blob, keys, ref_grams = _eval_filter(
        ref_df, text_col, n=n, bits_per_item=bits_per_item, seed=seed
    )
    spark = corpus.sparkSession
    from cuckoofilter_spark.session import fan_out

    narrow = fan_out(corpus.select(F.col(id_col), F.col(text_col)))
    if keys is not None:
        stats = ngram_overlap_udf(spark, blob, keys, n=n, seed=seed)
        return narrow.select(
            F.col(id_col), stats(text_col).alias("__st")
        ).select(
            id_col,
            F.col("__st.n_total").alias("n_total"),
            F.col("__st.n_overlap").alias("__n_seen"),
        ).select(*_novelty_cols(id_col))

    stats = ngram_hit_stats_udf(spark, blob, n=n, seed=seed)
    base = narrow.select(
        F.col(id_col), stats(text_col).alias("__st")
    ).select(
        id_col,
        F.col("__st.n_total").alias("n_total"),
        F.col("__st.n_hits").alias("__hits"),
        F.col("__st.hits").alias("__hit_ghs"),
    )
    base.persist()

    exact = (
        base.filter(F.col("__hits") >= 1)
        .select(id_col, F.explode("__hit_ghs").alias("gh"))
        .join(F.broadcast(ref_grams), "gh")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("__n_seen"))
    )
    return (
        base.drop("__hit_ghs")
        .join(exact, id_col, "left")
        .select(*_novelty_cols(id_col))
    )


def _eval_filter(
    eval_df: DataFrame, text_col: str, *, n: int, bits_per_item: int,
    seed: int, capacity: int | None = None,
):
    """(blob, keys, grams) for an eval set. Within the driver budget:
    ``keys`` is the distinct gram-hash set as a uint64 ndarray (the
    filter's insertion order) and ``grams`` is None. Above it: ``keys``
    is None and ``grams`` is the persisted distributed gram DataFrame
    (column ``gh`` long) the verify join reads."""
    from cuckoofilter_spark.session import fan_out

    # ONE job for the whole small-eval path: each partition emits its
    # locally-distinct gram hashes, the driver takes the global
    # unique. The eval side is small by contract, so this skips a
    # shard build + merge round for a KB-scale filter. If the sum of
    # per-partition uniques passes the driver budget, we take the
    # distributed path below instead.
    def part_grams(batches):
        seen: list[np.ndarray] = []
        for batch in batches:
            _, flat = _distinct_grams(batch.column(0), n, seed)
            if len(flat):
                seen.append(np.unique(flat))
        if seen:
            gh = np.unique(np.concatenate(seen)).view(np.int64)
            yield pa.RecordBatch.from_arrays([pa.array(gh)], names=["gh"])

    tbl = bounded_collect(
        fan_out(eval_df.select(F.col(text_col)))
        .mapInArrow(part_grams, "gh long")
    )
    if tbl is not None:
        # unique in int64 order: the insertion order fixes the blob bytes
        keys = np.unique(collected_keys(tbl).view(np.int64)).view(np.uint64)
        cap = max(_suggest_capacity(int(capacity or len(keys))), 1024)
        blob = driver_sketch_blob(
            "cuckoo", keys, "eval_ngram_filter", max_num_keys=cap,
            bits_per_item=bits_per_item, seed=seed,
        )
        return blob, keys, None

    # big eval set: distributed distinct + shard build
    @F.arrow_udf(ArrayType(LongType()))
    def sh_udf(texts: pa.Array) -> pa.Array:
        return _list_array(*_distinct_grams(texts, n, seed))

    grams = (
        fan_out(eval_df)
        .select(F.explode(sh_udf(F.col(text_col))).alias("gh"))
        .distinct()
    )
    grams.persist()
    n_grams = grams.count()
    cap = max(_suggest_capacity(int(capacity or n_grams)), 1024)
    shards = build_sketch_shards(
        grams, "gh", kind="cuckoo", lineage=False,
        max_num_keys=cap, bits_per_item=bits_per_item, seed=seed,
    )
    blob = merge_shards_to_blob(shards, dedup=True)
    return blob, None, grams


def _keys_frame(spark, keys: np.ndarray) -> DataFrame:
    """The driver-side eval keys as a gram DataFrame (column ``gh``)."""
    return spark.createDataFrame(pa.table({"gh": keys.view(np.int64)}))


def eval_ngram_filter(
    eval_df: DataFrame, text_col: str, *, n: int = 3,
    bits_per_item: int = 16, seed: int = 7, capacity: int | None = None,
) -> tuple[bytes, DataFrame]:
    """Build the broadcastable eval-side artifacts: (filter blob,
    distinct-gram-HASH DataFrame, column ``gh`` long).

    The gram table is HASHED with the same shingle kernel as the probe
    side (agreement by construction), because the exact verify
    compares 8-byte kernel hashes, not strings. Eval sets within the
    driver budget (``build.DRIVER_BUDGET_BYTES``: 4M distinct grams)
    build the filter driver-side from one collect; the returned
    DataFrame is then made from the driver's key array. Larger sets keep the shard build +
    merge. ``capacity`` pre-sizes the filter and skips nothing else
    (the distinct count is needed to pick the build path).
    ``decontaminate`` and ``novelty_report`` do not call this: they
    keep the driver's key array and build no DataFrame from it."""
    blob, keys, grams = _eval_filter(
        eval_df, text_col, n=n, bits_per_item=bits_per_item, seed=seed,
        capacity=capacity,
    )
    if grams is None:
        grams = _keys_frame(eval_df.sparkSession, keys)
    return blob, grams


def decontaminate(
    corpus: DataFrame, eval_df: DataFrame, id_col: str, text_col: str, *,
    n: int = 3, min_overlap: int = 1, bits_per_item: int = 16,
    seed: int = 7,
) -> DataFrame:
    """Contamination report, exact up to 64-bit gram-hash collisions:
    one row per corpus document whose distinct word-``n``-gram overlap
    with the eval set is ≥ ``min_overlap`` — columns ``(id_col,
    n_overlap)``.

    Plan shape (the part that matters at 100 TB): one small eval job,
    then the corpus is touched by one narrow Arrow pass — no shuffle.
    Within the driver budget that pass also verifies
    (``ngram_overlap_udf`` with the driver's eval key array). Above it, only CANDIDATE
    documents pay an explode+join. Monotonicity makes the gate safe:
    per-document filter hits ≥ true overlaps (zero false negatives), so
    ``hits ≥ min_overlap`` can never drop a document the exact join
    would keep. To drop the contaminated docs instead of reporting
    them, anti-join this result back on ``id_col``.

    SECURITY: n-gram matching compares kernel hashes; with the
    default public seed an adversarial corpus document can forge fake
    contamination hits. For untrusted corpora pass
    ``seed=dedup.random_kernel_seed()`` (keyed kernel mode — see the
    ``operators.dedup`` trust-model note); build and probe share
    ``seed``, so one argument keys both sides."""
    blob, keys, ev_ngrams = _eval_filter(
        eval_df, text_col, n=n, bits_per_item=bits_per_item, seed=seed
    )
    hits = (
        ngram_overlap_udf(corpus.sparkSession, blob, keys, n=n, seed=seed)
        if keys is not None else None
    )
    return overlap_report(
        corpus, blob, ev_ngrams, id_col, text_col,
        n=n, min_overlap=min_overlap, seed=seed, hits_udf=hits,
    )


def overlap_report(
    corpus: DataFrame, blob: bytes, ev_ngrams: DataFrame | None,
    id_col: str, text_col: str, *, n: int = 3, min_overlap: int = 1,
    seed: int = 7, broadcast_eval: bool = True, hits_udf=None,
) -> DataFrame:
    """The probe-gate + exact-verify core of ``decontaminate``, against
    PRE-BUILT eval artifacts — so a streaming job (or a loop over
    corpus slices) builds the eval filter once and reuses it per
    batch. ``ev_ngrams`` is the HASHED gram table from
    ``eval_ngram_filter`` (column ``gh``).

    Plan shape: within the driver budget (a bounded collect of
    ``ev_ngrams``) ONE fused Arrow pass over the corpus computes each
    document's overlap count, exact up to 64-bit gram-hash collisions
    (``ngram_overlap_udf``). Above it,
    the gate pass returns the per-document hit count AND the candidate
    gram hashes (``ngram_hit_stats_udf``); candidates explode those
    8-byte hashes straight into the broadcast verify join.

    ``broadcast_eval`` pins the verify join's build side to the eval
    gram table; set False only if the eval side outgrows executor
    memory. ``hits_udf`` lets a caller pass one ``ngram_overlap_udf``
    (and its blob and key broadcasts) in place of the collect — the
    streaming job passes it so a long-running stream broadcasts them
    once, not once per micro-batch; ``ev_ngrams`` is then not read."""
    spark = corpus.sparkSession
    from cuckoofilter_spark.session import fan_out

    if hits_udf is None:
        tbl = bounded_collect(ev_ngrams.select("gh"))
        if tbl is not None:
            hits_udf = ngram_overlap_udf(
                spark, blob, collected_keys(tbl), n=n, seed=seed
            )
    narrow = fan_out(corpus.select(F.col(id_col), F.col(text_col)))
    if hits_udf is not None:
        # fused plan: ONE corpus pass computes the exact overlap count
        # (CF gate + searchsorted verify inside the UDF) — no join.
        # min_overlap=0 keeps the inner-join semantics of the fallback
        # (a document with zero overlaps never has a row); the coalesce
        # declares the count non-nullable, as the fallback's count is.
        return (
            narrow.select(F.col(id_col), hits_udf(text_col).alias("__st"))
            .filter(F.col("__st.n_overlap") >= max(int(min_overlap), 1))
            .select(
                id_col,
                F.coalesce(F.col("__st.n_overlap"), F.lit(0)).cast("long")
                .alias("n_overlap"),
            )
        )

    # eval set past the driver budget: probe-gate + explode + broadcast
    # join verify
    stats = ngram_hit_stats_udf(spark, blob, n=n, seed=seed)
    if broadcast_eval:
        ev_ngrams = F.broadcast(ev_ngrams)
    candidates = (
        narrow.select(F.col(id_col), stats(text_col).alias("__st"))
        .filter(F.col("__st.n_hits") >= min_overlap)
    )
    return (
        candidates.select(id_col, F.explode("__st.hits").alias("gh"))
        .join(ev_ngrams, "gh")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_overlap"))
        .filter(F.col("n_overlap") >= min_overlap)
    )
