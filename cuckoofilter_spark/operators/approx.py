"""Approximate aggregates as two-phase distributed sketch UDAFs.

Each function is the classic partial+final aggregate pattern
(SURVEY.md §2.9): per-partition numpy sketch build (``mapInArrow``,
zero shuffle) → merge of P small blobs → estimate. For P up to a few
thousand the final merge happens driver-side on KB-sized partials
(cheaper than another Spark round); for huge P pass
``tree=True`` to run distributed ``tree_merge`` rounds first.

Spark's built-ins (``approx_count_distinct``, ``count_min_sketch``,
``percentile_approx``, ``hll_sketch_agg``) are the cross-validation
oracles in tests — NOT the implementation (BASELINE.json north_rule).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from cuckoofilter_spark.operators.build import _pack_dtype, build_sketch_shards
from cuckoofilter_spark.operators.merge import collect_merged, tree_merge


def _merged_sketch(shards: DataFrame, tree: bool, dedup: bool = False):
    if tree:
        shards = tree_merge(shards, dedup=dedup)
    return collect_merged(shards, dedup=dedup)


# auto-strategy size cutover: below this estimated input size the
# fixed cost of the extra JVM exchange (~0.3-0.5 s of stages) exceeds
# what it saves; above it the every-occurrence Arrow transfer loses
# (measured: parity-to-worse at 0.1-1 GB inputs, decisive wins at the
# 10 GB step, no contest at north-rule duplication).
_AUTO_SHUFFLE_MIN_BYTES = 2 << 30


def _plan_size_bytes(df: DataFrame) -> int:
    """Catalyst's optimized-plan size estimate — free (no job); for a
    parquet scan it is the file-size sum after pruning."""
    try:
        size = int(str(
            df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        ))
    except Exception:
        return 0  # unknown: prefer the narrow plan
    # Relations without real statistics report
    # spark.sql.defaultSizeInBytes (~Long.MaxValue); treat implausibly
    # large estimates as unknown too, so auto keeps the narrow local
    # build for tiny non-file inputs instead of the opposite.
    return 0 if size >= 2**60 else size


# duplication-ratio cutover (round-4 verdict item 4): size alone
# mis-picks at mid-scale — a multi-GB input of NEAR-UNIQUE keys gains
# nothing from the collapsing exchange (the distinct output is as big
# as the input), while a high-duplication stream wins at any size
# above the fixed-cost floor. 4x means the collapse shrinks the
# python-boundary transfer by >= 4x — comfortably past the extra
# exchange's cost at every scale we measured.
_AUTO_MIN_DUPLICATION = 4.0
_AUTO_SAMPLE_ROWS = 20_000


def _sampled_duplication(df: DataFrame, column: str) -> float:
    """Duplication ratio (values per distinct value) of ``column``
    from a bounded MULTI-PARTITION head sample — still one tiny job
    (``limit`` short-circuits the scan), only run when the input is
    already past the size cutover, where a few seconds of sampling
    (measured 5-10 s at the sf10 step — limit's incremental execution
    decodes up to ~21 partitions of token arrays JVM-side) steers a
    minutes-long build. Each partition contributes at most 1/16 of the
    sample — ``monotonically_increasing_id`` packs the within-partition
    row index into its low 33 bits, so a JVM filter on those bits keeps
    only each partition's head and ``limit``'s incremental execution
    must touch >=16 partition heads before it is satisfied — a table
    clustered by the key column can no longer satisfy the whole sample
    from one partition's head and badly misestimate global duplication
    (round-5 advice). A full df.sample(fraction) scan would be unbiased
    but costs a whole-input pass, which defeats the point of a cheap
    plan-choice probe. The probe must stay ENTIRELY JVM-side: a
    mapInPandas head-sampler here once shipped whole partitions of
    token arrays through Arrow direct memory as limit's incremental
    scan widened, and OOM'd the 8 GiB direct-memory cap at the sf10
    step before any build ran."""
    from pyspark.sql.types import ArrayType

    per_part = max(1, _AUTO_SAMPLE_ROWS // 16)
    row_in_part = F.monotonically_increasing_id().bitwiseAND(
        F.lit((1 << 33) - 1)
    )
    src = (
        df.select(F.col(column).alias("__v"))
        .filter(row_in_part < per_part)
        .limit(_AUTO_SAMPLE_ROWS)
    )
    if isinstance(df.schema[column].dataType, ArrayType):
        src = src.select(F.explode("__v").alias("__v"))
    row = src.agg(
        F.count("__v").alias("n"),
        F.approx_count_distinct("__v").alias("d"),
    ).collect()[0]
    return (row["n"] / row["d"]) if row["d"] else 1.0


def _auto_strategy(df: DataFrame, column: str, strategy: str,
                   collapsing: str, *, scalars: bool = False) -> str:
    """Resolve strategy='auto' to ``collapsing`` (a collapsing build
    strategy) or 'local'. For a LARGE, HIGH-DUPLICATION column the
    collapse (a per-partition unique, or a JVM partial count) shrinks
    the stream so the shard build sees ~cardinality keys instead of
    every occurrence — at the 10^9-token scale step that is the difference
    between a 23 GB and an 8 MB python-boundary transfer. The cutover
    requires BOTH size (above ``_AUTO_SHUFFLE_MIN_BYTES`` — below it
    the extra exchange's fixed cost dominates) and a sampled
    duplication ratio >= ``_AUTO_MIN_DUPLICATION`` (a large but
    near-unique column gains nothing from collapsing). Only array
    columns qualify unless ``scalars``."""
    if strategy != "auto":
        return strategy
    from pyspark.sql.types import ArrayType

    if not scalars and not isinstance(df.schema[column].dataType, ArrayType):
        return "local"
    if _plan_size_bytes(df) < _AUTO_SHUFFLE_MIN_BYTES:
        return "local"
    return (collapsing
            if _sampled_duplication(df, column) >= _AUTO_MIN_DUPLICATION
            else "local")


def _distinct_strategy(df: DataFrame, column: str, strategy: str) -> str:
    """``_auto_strategy`` for DISTINCT-INSENSITIVE sketches (HLL, KMV:
    duplicate inserts cannot change the state): 'shuffle_distinct'
    when it can route the key type."""
    if strategy == "auto" and _pack_dtype(df.schema[column].dataType) is None:
        return "local"
    return _auto_strategy(df, column, strategy, "shuffle_distinct")


def _count_strategy(df: DataFrame, column: str, strategy: str) -> str:
    """``_auto_strategy`` for FREQUENCY sketches (CMS, MG):
    'shuffle_count' collapses the stream to (key, count) pairs."""
    return _auto_strategy(df, column, strategy, "shuffle_count")


def _value_strategy(df: DataFrame, column: str, strategy: str) -> str:
    """``_auto_strategy`` for VALUE sketches (tdigest, KLL):
    'shuffle_value_count' collapses discrete value columns (n_tok:
    thousands of distinct values over billions of rows) to exact
    (value, count) pairs; scalar columns qualify too (quantile columns
    are usually scalar)."""
    return _auto_strategy(df, column, strategy, "shuffle_value_count",
                          scalars=True)


def hll_sketch(df: DataFrame, column: str, p: int = 14, seed: int = 2014,
               tree: bool = False, strategy: str = "auto"):
    """Merged HyperLogLog over ``column`` (scalar int or array<int>).

    ``strategy='auto'`` picks ``shuffle_distinct`` for array
    columns (``_distinct_strategy``) — HLL is distinct-insensitive, so
    the registers are identical either way and only the data movement
    changes."""
    # distinct=True (round 8): per-partition np.unique BEFORE hashing —
    # registers are identical (distinct-insensitive), and on the
    # duplication-heavy streams this operator targets, one sort of the
    # partition beats hashing every occurrence (measured 0.74 s ->
    # 0.42 s per 9.2M-token partition, bit-identical registers)
    shards = build_sketch_shards(
        df, column, kind="hll", distinct=True, lineage=False,
        strategy=_distinct_strategy(df, column, strategy), p=p, seed=seed,
    )
    return _merged_sketch(shards, tree)


def approx_distinct(df: DataFrame, column: str, p: int = 14,
                    seed: int = 2014, strategy: str = "auto") -> float:
    """HLL estimate of ``count(distinct column)``; std err ≈ 1.04/√2^p."""
    return float(
        hll_sketch(df, column, p=p, seed=seed, strategy=strategy).estimate()
    )


def cms_sketch(df: DataFrame, column: str, eps: float = 0.0005,
               delta: float = 0.01, seed: int = 2014, tree: bool = False,
               strategy: str = "auto"):
    """Merged count-min over ``column``; point estimates upper-bound the
    true frequency, overshoot ≤ eps·N with prob ≥ 1-delta.

    ``strategy='auto'`` picks ``shuffle_count`` for LARGE,
    HIGH-DUPLICATION array columns (same size + sampled-duplication
    cutover as ``_distinct_strategy``) — Catalyst's map-side partial
    COUNT collapses the token stream JVM-side and the python boundary
    carries exact (key, count) pairs at ~cardinality rows; counters
    are identical to the per-occurrence build, only the data movement
    changes."""
    shards = build_sketch_shards(
        df, column, kind="cms", distinct=False, weight_by_count=True,
        lineage=False, strategy=_count_strategy(df, column, strategy),
        eps=eps, delta=delta, seed=seed,
    )
    return _merged_sketch(shards, tree)


def _require_integral_key(df: DataFrame, column: str, where: str) -> None:
    """The exact-verify semi-joins compare the raw column cast to
    long against the summary's stored uint64 keys — meaningful for
    integral columns only. A string column would cast to NULL and
    silently produce an empty candidate set; pre-hash it JVM-side
    (``build.string_key_expr``) and verify against the hash column
    instead."""
    from pyspark.sql.types import ByteType, IntegerType, LongType, ShortType

    if not isinstance(df.schema[column].dataType,
                      (ByteType, ShortType, IntegerType, LongType)):
        raise ValueError(
            f"{where}: column {column!r} has type "
            f"{df.schema[column].dataType.simpleString()} — the exact "
            "verify join needs an integral key column; pre-hash "
            "strings with build.string_key_expr and pass that column"
        )


def mg_sketch(df: DataFrame, column: str, k: int = 4096,
              seed: int = 2014, tree: bool = False,
              strategy: str = "auto"):
    """Merged Misra-Gries heavy-hitters summary over ``column``
    (scalar int or array<int>) — the one-sided COMPLEMENT of
    ``cms_sketch``: stored counts are lower bounds (true ≤ stored +
    err) and every key with true count > err is guaranteed present.
    ``strategy='auto'`` collapses large high-duplication arrays
    JVM-side exactly like CMS (``shuffle_count`` — the MG state is
    insert-order-dependent in its intermediate decrements but its
    guarantees are not, so the collapsed build carries the same
    bounds)."""
    shards = build_sketch_shards(
        df, column, kind="mg", distinct=False, weight_by_count=True,
        lineage=False, strategy=_count_strategy(df, column, strategy),
        k=k, seed=seed,
    )
    return _merged_sketch(shards, tree)


def heavy_hitters_mg(df: DataFrame, column: str, threshold: int, *,
                     k: int = 4096, seed: int = 2014) -> DataFrame:
    """Exact heavy hitters through the Misra-Gries gate: keys occurring
    ``>= threshold`` times as (key, n) — EXACT, like ``heavy_hitters``
    (the CMS variant), but the candidate set is the ≤k stored summary
    keys, so the verification pass is a broadcast semi-join against at
    most k values instead of a per-row estimate UDF.

    Soundness needs ``threshold > err`` (every true hitter is then
    guaranteed stored); the summary's err is known after the build, so
    an under-sized ``k`` fails LOUDLY here with the measured err
    instead of silently missing hitters — raise ``k`` (err shrinks as
    ~N/(k+1)). NULL keys are excluded, matching ``heavy_hitters``."""
    _require_integral_key(df, column, "heavy_hitters_mg")
    sk = mg_sketch(df, column, k=k, seed=seed)
    if int(threshold) <= sk.err:
        raise ValueError(
            f"heavy_hitters_mg: threshold {threshold} <= summary err "
            f"{sk.err}; the presence guarantee needs threshold > err — "
            f"raise k (currently {k}, err ~ N/(k+1))"
        )
    cand_keys, _ = sk.heavy_hitters(int(threshold))
    return _exact_count_candidates(df, column, cand_keys).filter(
        F.col("n") >= int(threshold)
    )


def _exact_count_candidates(
    df: DataFrame, column: str, cand_keys: np.ndarray
) -> DataFrame:
    """Exact per-key counts restricted to a bounded candidate set —
    the broadcast-semi-join + groupBy scaffold the MG-gated exact
    operators share. Returns (column, n)."""
    spark = df.sparkSession
    cand = spark.createDataFrame(
        [(int(np.int64(x)),)
         for x in np.asarray(cand_keys, dtype=np.uint64).view(np.int64)],
        "__cand long",
    )
    return (
        df.join(
            F.broadcast(cand),
            on=F.col(column).cast("long") == F.col("__cand"),
            how="left_semi",
        )
        .groupBy(column)
        .agg(F.count(F.lit(1)).alias("n"))
    )


def top_k_exact(df: DataFrame, column: str, k: int, *,
                summary_k: int | None = None, seed: int = 2014) -> DataFrame:
    """EXACT top-``k`` most frequent keys as (key, n), ordered
    (n DESC, key ASC) — without ever shuffling the full key space: the
    Misra-Gries summary's ≤``summary_k`` stored keys are the only
    candidates that pay the exact count, and soundness is VERIFIED
    after the fact: if the k-th exact candidate count exceeds the
    summary's err, every key outside the candidate set has true count
    ≤ err < c_k, so no true top-k key was missed. When the check fails
    (heavy tail too flat for this summary size) it raises loudly with
    the measured numbers instead of returning a silently-wrong top-k —
    raise ``summary_k`` (err shrinks as ~N/(summary_k+1)).

    Ties at the boundary resolve by ascending key in BOTH this
    operator and any ORDER BY n DESC, key LIMIT k oracle.

    NULL keys are EXCLUDED (the summary never sees them and the
    verify join drops them) — unlike SQL ``GROUP BY``, which counts a
    NULL group; filter or fill NULLs upstream if they matter, exactly
    as for ``heavy_hitters``/``heavy_hitters_mg``."""
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    _require_integral_key(df, column, "top_k_exact")
    summary_k = summary_k or max(64 * k, 1024)
    sk = mg_sketch(df, column, k=summary_k, seed=seed)
    spark = df.sparkSession
    top = (
        _exact_count_candidates(df, column, sk.keys)
        .orderBy(F.desc("n"), F.col(column))
        .limit(int(k))
    )
    rows = top.collect()
    # Certification: err == 0 means the summary stored EVERY key seen
    # (no decrement ever fired) — candidates are the full key set and
    # the answer is exact even with < k rows. Otherwise we need k
    # candidates whose k-th exact count beats err; fewer candidates
    # than k (decrements zeroed the flat tail) certifies nothing.
    if sk.err > 0:
        if len(rows) < k:
            raise ValueError(
                f"top_k_exact: only {len(rows)} candidates survived a "
                f"summary with err {sk.err} — the flat tail was "
                f"decremented away and the true top-{k} cannot be "
                f"certified; raise summary_k (currently {summary_k})"
            )
        c_k = rows[-1]["n"]
        if c_k <= sk.err:
            raise ValueError(
                f"top_k_exact: k-th candidate count {c_k} <= summary "
                f"err {sk.err} — a non-candidate key could belong to "
                f"the true top-{k}; raise summary_k (currently "
                f"{summary_k})"
            )
    return spark.createDataFrame(rows, top.schema)


def grouped_top_k_exact(
    df: DataFrame, group_col: str, column: str, k: int, *,
    summary_k: int | None = None, seed: int = 2014,
    on_uncertified: str = "raise",
) -> DataFrame:
    """EXACT per-group top-``k`` keys as (group, key, n, rank) — the
    grouped form of ``top_k_exact``: one pass builds a mergeable
    Misra-Gries summary PER GROUP (``grouped_sketch_agg``: map-side
    combine, blob-only shuffle), the union of all groups' ≤summary_k
    candidates pays the only exact count (broadcast semi-join on
    (group, key)), and every group self-certifies exactly like the global
    operator: err_g == 0 (summary exact) or k-th exact count > err_g.
    Ties break by ascending key. NULL KEYS are excluded (as in
    ``top_k_exact``); NULL GROUPS are kept (null-safe join).

    ``on_uncertified`` decides what an UNCERTIFIABLE group does:

    - ``"raise"`` (default): fail LOUDLY with the group's measured
      numbers — certification is the product.
    - ``"exact"``: fall back to the direct exact aggregation for the
      uncertified groups ONLY (raw-row shuffle of just those groups;
      certified groups keep the pruned blob-only plan). The result is
      always exact either way — this is the mode for data whose tail
      is FLAT (hundreds of keys tied at the k-th count, e.g. uniform
      event streams), where no summary size can certify because the
      MG error can never beat a zero gap; pruning is best-effort and
      the operator degrades to the plan you would have written by
      hand, per group, without a driver round-trip."""
    from pyspark.sql import functions as F

    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if on_uncertified not in ("raise", "exact"):
        raise ValueError(
            f"on_uncertified must be 'raise' or 'exact', got "
            f"{on_uncertified!r}"
        )
    _require_integral_key(df, column, "grouped_top_k_exact")
    summary_k = summary_k or max(64 * k, 1024)
    cand, errs_df, top = _grouped_top_k_plan(
        df, group_col, column, k, summary_k, seed, materialize=True,
    )
    top.persist()

    # Distributed certification: a group with err > 0 is certified
    # iff it produced k rows AND its k-th exact count beats err.
    stats = top.groupBy(group_col).agg(
        F.max("rank").alias("__rk"), F.min("n").alias("__ck")
    )
    viol = (
        errs_df.filter(F.col("__err") > 0)
        .join(stats, F.col("__g").eqNullSafe(F.col(group_col)), "left")
        .filter(
            F.col("__rk").isNull()
            | (F.col("__rk") < int(k))
            | (F.col("__ck") <= F.col("__err"))
        )
    )
    try:
        bad = viol.select("__g", "__rk", "__ck", "__err").take(3)
        if bad and on_uncertified == "raise":
            raise ValueError(
                f"grouped_top_k_exact: {len(bad)}+ group(s) cannot be "
                f"certified, e.g. "
                + "; ".join(
                    f"group {r['__g']!r} (rows={r['__rk']}, k-th count="
                    f"{r['__ck']}, err={r['__err']})" for r in bad
                )
                + f" — raise summary_k (currently {summary_k}), or "
                f"pass on_uncertified='exact' for per-group direct "
                f"fallback"
            )
        result = top
        if bad:  # on_uncertified == "exact"
            from pyspark.sql import Window

            # Per-group direct exact fallback, fully distributed: the
            # uncertified group SET stays a (tiny) DataFrame — no
            # driver key collect; certified groups keep their pruned
            # result, only the bad groups' raw rows pay a shuffle.
            bad_df = viol.select(F.col("__g").alias("__bg"))
            good = result.join(
                F.broadcast(bad_df),
                F.col(group_col).eqNullSafe(F.col("__bg")),
                "left_anti",
            )
            w = Window.partitionBy(group_col).orderBy(
                F.desc("n"), F.col(column)
            )
            direct = (
                df.join(
                    F.broadcast(bad_df),
                    F.col(group_col).eqNullSafe(F.col("__bg")),
                    "left_semi",
                )
                .filter(F.col(column).isNotNull())
                .groupBy(group_col, column)
                .agg(F.count(F.lit(1)).alias("n"))
                .withColumn("rank", F.row_number().over(w))
                .filter(F.col("rank") <= int(k))
            )
            result = good.unionByName(direct)
        # Eager localCheckpoint truncates lineage so both caches can be
        # released before returning — without it the persisted blocks
        # would accumulate across calls in a long-lived session
        # (round-5 advice). n_groups x k rows stay executor-resident.
        return result.orderBy(group_col, "rank").localCheckpoint(eager=True)
    finally:
        top.unpersist()


def _grouped_top_k_plan(
    df: DataFrame, group_col: str, column: str, k: int,
    summary_k: int, seed: int, materialize: bool = False,
):
    """Lazy (cand, errs_df, top) plan for ``grouped_top_k_exact`` —
    split out (no persist, no actions by default) so plan tests can
    assert the scale shape on the DataFrames themselves (the public
    operator returns a ``localCheckpoint``, whose explain no longer
    shows the builder plan).

    ``materialize=True`` (the public operator's mode) eagerly
    localCheckpoints the decoded candidate frame so EVERY downstream
    read — errs, exact counts, certification, and the
    ``on_uncertified='exact'`` fallback's group routing — sees ONE
    summary instance. This is load-bearing for correctness, not a
    cache: MG decrement schedules are merge-order-dependent, so a
    silent recomputation (persist() is only advisory) could certify
    under one instance and emit rows from another — the fallback
    could then drop or duplicate a group, or return an uncertified
    group's pruned rows as exact. A lost checkpoint block fails
    LOUDLY instead (blocks free on RDD GC via the ContextCleaner)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from cuckoofilter_spark.core.registry import sketch_from_bytes
    from cuckoofilter_spark.operators.grouped import grouped_sketch_agg

    summaries = grouped_sketch_agg(
        df, group_col, column, kind="mg", k=summary_k, seed=seed,
    )
    g_type = df.schema[group_col].dataType.simpleString()

    # Distributed summary decode: candidate rows + each group's err in
    # one pass — NOTHING is collected at the driver (at 10^6 groups ×
    # summary_k candidates a driver fan-in would OOM and break the
    # module's blob-only discipline). An empty summary still emits one
    # null-candidate row so its err survives to certification.
    def decode(pdfs):
        for pdf in pdfs:
            gs, cands, errs_ = [], [], []
            for g, blob in zip(pdf[group_col], pdf["sketch"]):
                sk = sketch_from_bytes(bytes(blob))
                n = len(sk.keys)
                if n:
                    gs.extend([g] * n)
                    cands.extend(sk.keys.view(np.int64).tolist())
                    errs_.extend([sk.err] * n)
                else:
                    gs.append(g)
                    cands.append(None)
                    errs_.append(sk.err)
            yield pd.DataFrame(
                {"__g": gs,
                 "__cand": pd.array(cands, dtype="Int64"),
                 "__err": errs_}
            )

    cand = summaries.mapInPandas(
        decode, f"__g {g_type}, __cand long, __err long"
    )
    if materialize:
        cand = cand.localCheckpoint(eager=True)
    errs_df = cand.groupBy("__g").agg(F.max("__err").alias("__err"))
    counted = (
        df.join(
            cand.filter(F.col("__cand").isNotNull())
            .select("__g", "__cand"),
            # eqNullSafe: SQL GROUP BY keeps the NULL group, so the
            # candidate join must too (NULL == NULL is NULL and would
            # silently drop the whole null group, then fail its
            # certification). No broadcast hint: AQE broadcasts small
            # candidate sets itself and falls back to a shuffle join
            # at huge group counts.
            on=F.col(group_col).eqNullSafe(F.col("__g"))
            & (F.col(column).cast("long") == F.col("__cand")),
            how="left_semi",
        )
        .groupBy(group_col, column)
        .agg(F.count(F.lit(1)).alias("n"))
    )
    w = Window.partitionBy(group_col).orderBy(F.desc("n"), F.col(column))
    top = (
        counted.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= int(k))
    )
    return cand, errs_df, top


def tdigest_sketch(df: DataFrame, column: str, delta: float = 200.0,
                   seed: int = 2014, tree: bool = False,
                   strategy: str = "auto"):
    """``strategy='auto'`` picks the JVM-side (value, count) collapse
    (``shuffle_value_count``) for large discrete value columns — see
    ``_value_strategy``; on low-cardinality domains the digest state is
    identical to the per-occurrence build (tie-collapsing compress)."""
    shards = build_sketch_shards(
        df, column, kind="tdigest", lineage=False,
        strategy=_value_strategy(df, column, strategy),
        delta=delta, seed=seed,
    )
    return _merged_sketch(shards, tree)


def kll_sketch(df: DataFrame, column: str, k: int = 200, seed: int = 2014,
               tree: bool = False, strategy: str = "auto"):
    """``strategy='auto'`` as in ``tdigest_sketch``; KLL inserts
    weighted values by binary weight decomposition."""
    shards = build_sketch_shards(
        df, column, kind="kll", lineage=False,
        strategy=_value_strategy(df, column, strategy),
        k=k, seed=seed,
    )
    return _merged_sketch(shards, tree)


def approx_quantiles(df: DataFrame, column: str, qs, kind: str = "tdigest",
                     **params) -> np.ndarray:
    sk = (tdigest_sketch if kind == "tdigest" else kll_sketch)(
        df, column, **params
    )
    return np.asarray(sk.quantiles(list(qs)), dtype=np.float64)


def cms_estimate_udf(spark, blob: bytes):
    """Column-function ``f(int col) -> long``: broadcast count-min
    point estimate (one-sided: never below the true frequency). Null
    keys estimate null."""
    import uuid

    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType

    from cuckoofilter_spark.operators.probe import _get_filter

    bc = spark.sparkContext.broadcast(bytes(blob))
    cache_key = uuid.uuid4().hex

    @F.pandas_udf(LongType())
    def est(s: pd.Series) -> pd.Series:
        sk = _get_filter(bc, cache_key)
        keys = s.to_numpy(dtype=np.int64, na_value=0).view(np.uint64)
        counts = sk.query_many(keys).astype(np.int64)
        na = s.isna().to_numpy()
        if na.any():
            out = pd.array(counts, dtype="Int64")
            out[na] = None
            return pd.Series(out, dtype="Int64")
        return pd.Series(counts)

    return est


def heavy_hitters(df: DataFrame, column: str, threshold: int, *,
                  eps: float = 1e-4, delta: float = 0.01,
                  seed: int = 2014) -> DataFrame:
    """Exact heavy hitters with a CMS-pruned plan: keys occurring
    ``>= threshold`` times, as (key, n) — EXACT results, approximate
    only in how little work the plan does.

    Two passes: (1) a merged count-min over the column; (2) rows whose
    CMS estimate clears the threshold survive a broadcast-probe filter
    and only they enter the exact groupBy. Because count-min is
    one-sided (estimate >= true count, Cormode-Muthukrishnan), NO true
    hitter is pruned — the final exact count filter removes the
    overestimated stragglers. At heavy-hitter selectivity the shuffle
    shrinks from all-keys to candidates-only, the same
    filter-before-join discipline as ``cf_semijoin``.

    NULL keys are excluded (a null estimates null and fails the
    filter) — unlike SQL ``GROUP BY``, which would count a NULL group;
    filter nulls explicitly upstream if they matter."""
    from pyspark.sql import functions as F

    sk = cms_sketch(df, column, eps=eps, delta=delta, seed=seed)
    est = cms_estimate_udf(df.sparkSession, sk.to_bytes())
    cand = df.filter(est(F.col(column)) >= int(threshold))
    return (
        cand.groupBy(column)
        .agg(F.count(F.lit(1)).alias("n"))
        .filter(F.col("n") >= int(threshold))
    )


def approx_overlap(
    df_a: DataFrame, col_a: str, df_b: DataFrame, col_b: str, *,
    p: int = 14, seed: int = 2014,
) -> dict:
    """HLL set algebra — approximate overlap between two key sets
    (e.g., token vocabularies of two corpus snapshots) WITHOUT a join:

      |A∪B|  = estimate(merge(hll_A, hll_B))   (mergeable: register max)
      |A∩B| ≈ |A| + |B| − |A∪B|                (inclusion–exclusion)

    Each side is one build pass; the union is a register-wise max of
    two KB-scale sketches — nothing is shuffled across sides, so A and
    B can live in different tables, clusters, or days. Intersection
    error compounds to ~3× the single-sketch std err (1.04/√2^p) and
    degrades RELATIVE to |A∩B| when the true overlap is much smaller
    than the sets — the documented trade for never joining. Returns
    ``{n_a, n_b, n_union, n_intersection, jaccard}`` (floats; clamped
    ≥ 0)."""
    a = hll_sketch(df_a, col_a, p=p, seed=seed)
    b = hll_sketch(df_b, col_b, p=p, seed=seed)
    na, nb = float(a.estimate()), float(b.estimate())
    a.merge(b)
    nu = float(a.estimate())
    ni = max(0.0, na + nb - nu)
    return {
        "n_a": na, "n_b": nb, "n_union": nu, "n_intersection": ni,
        "jaccard": (ni / nu) if nu > 0 else 0.0,
    }


def kmv_sketch(df: DataFrame, column: str, k: int = 4096,
               seed: int = 2014, tree: bool = False,
               strategy: str = "auto"):
    """Merged KMV (bottom-k / theta family) distinct sketch over
    ``column`` — same distributed partial-build + merge shape as the
    other companions; RSE ≈ 1/sqrt(k-2). Distinct-insensitive, so
    ``strategy='auto'`` applies the same array-column
    ``shuffle_distinct`` cutover as ``hll_sketch``."""
    # distinct=True: see hll_sketch round-8 note (0.88 s -> 0.25 s per
    # partition, same sketch state)
    shards = build_sketch_shards(
        df, column, kind="kmv", distinct=True, lineage=False,
        strategy=_distinct_strategy(df, column, strategy), k=k, seed=seed,
    )
    return _merged_sketch(shards, tree)


def approx_overlap_kmv(
    df_a: DataFrame, col_a: str, df_b: DataFrame, col_b: str, *,
    k: int = 4096, seed: int = 2014,
) -> dict:
    """Set-algebra overlap via KMV samples — the estimator whose
    intersection error scales with the INTERSECTION (≈|A∩B|/sqrt(k)),
    not with |A∪B| like HLL inclusion–exclusion (``approx_overlap``).
    Prefer this when the expected overlap is a small fraction of
    either set (cross-corpus contamination estimates, vocab drift
    between snapshots). Same return shape as ``approx_overlap``."""
    from cuckoofilter_spark.core.kmv import kmv_set_estimates

    a = kmv_sketch(df_a, col_a, k=k, seed=seed)
    b = kmv_sketch(df_b, col_b, k=k, seed=seed)
    return kmv_set_estimates(a, b)


def frequent_keys_filter(
    df: DataFrame, column: str, min_count: int, *,
    eps: float = 0.0001, delta: float = 0.01, cms_seed: int = 2014,
    bits_per_item: int = 16, filter_seed: int = 2014,
    strategy: str = "auto",
) -> bytes:
    """Membership filter over the keys whose frequency is ≥
    ``min_count`` — the frequency-truncated vocabulary builder (keep
    tokens seen at least T times; drop the noise tail) as a
    two-sketch composition with a one-sided guarantee:

    1. one pass builds a count-min sketch (exact per-key totals via
       the ``shuffle_count`` JVM pre-aggregation for array columns);
    2. the DISTINCT keys stream through a broadcast-CMS gate
       (``query_many(key) >= min_count``) and the survivors build a
       cuckoo filter.

    CMS estimates only ever OVERSHOOT, so every key whose TRUE count
    is ≥ min_count passes the gate — composed with the filter's zero
    false negatives, a truly-frequent key can never be missing from
    the result. The only error mode is inclusion of some
    tail keys within eps·N of the threshold. Plan shape: two scans,
    both collapsing to ~cardinality rows JVM-side; nothing quadratic,
    no raw-token shuffle."""
    import uuid

    from pyspark.sql.types import BooleanType
    from pyspark.sql.types import ArrayType as _AT

    from cuckoofilter_spark.core.cuckoo import suggest_capacity
    from cuckoofilter_spark.operators.build import (
        build_sketch_shards, string_key_expr,
    )
    from cuckoofilter_spark.operators.merge import merge_shards_to_blob

    if min_count < 1:
        raise ValueError(f"min_count must be >= 1, got {min_count}")
    cms = cms_sketch(
        df, column, eps=eps, delta=delta, seed=cms_seed, strategy=strategy,
    )
    spark = df.sparkSession
    bc = spark.sparkContext.broadcast(cms.to_bytes())
    cache_key = uuid.uuid4().hex

    @F.pandas_udf(BooleanType())
    def frequent(s: pd.Series) -> pd.Series:
        from cuckoofilter_spark.operators.probe import _get_filter

        sk = _get_filter(bc, cache_key)
        keys = s.to_numpy(dtype=np.int64, na_value=0).view(np.uint64)
        return pd.Series(sk.query_many(keys) >= min_count)

    c = F.col(column)
    if isinstance(df.schema[column].dataType, _AT):
        keys_df = df.select(F.explode(c).alias("__k"))
    else:
        keys_df = df.select(c.alias("__k"))
    if keys_df.schema["__k"].dataType.simpleString() == "string":
        # same JVM hash as the CMS build side — both gates must speak
        # one key space
        keys_df = keys_df.select(string_key_expr("__k").alias("__k"))
    # persist: the capacity count and the build would otherwise each
    # re-run the distinct + broadcast-CMS gate
    survivors = keys_df.distinct().filter(frequent("__k")).persist()
    try:
        n = survivors.count()
        shards = build_sketch_shards(
            survivors, "__k", kind="cuckoo", lineage=False,
            max_num_keys=suggest_capacity(n),
            bits_per_item=bits_per_item, seed=filter_seed,
        )
        return merge_shards_to_blob(shards, dedup=True)
    finally:
        survivors.unpersist()


def overlap_matrix(
    df: DataFrame, group_col: str, column: str, *,
    k: int = 4096, seed: int = 2014,
) -> DataFrame:
    """All-pairs distinct-overlap estimates BETWEEN groups without any
    join: one KMV sketch per group (grouped mergeable UDAF — one scan,
    blob-only shuffle), then pairwise set algebra on the KB-sized
    sketches. The dataset-curation question this answers at 100 TB:
    which sources/snapshots/shards duplicate each other's content or
    vocabulary — N^2 pair estimates for the cost of ONE corpus pass,
    where the exact answer would be N^2 distinct-intersection joins.

    Returns ``(group_a, group_b, est_a, est_b, est_union,
    est_intersection, jaccard_e6)`` for all unordered pairs
    (group_a < group_b, groups as strings).

    Driver-side bound: one KB blob per GROUP is collected (not per
    row); group cardinality should be the usual groupBy-report scale
    (≤ ~10^4 — the same bound as any per-group report a human reads).
    Estimator error ≈ 1/sqrt(k) relative on each set size; the
    intersection error scales with the intersection, the property
    that keeps small-overlap pairs honest (see
    ``approx_overlap_kmv``)."""
    from cuckoofilter_spark.core.kmv import kmv_set_estimates
    from cuckoofilter_spark.core.registry import sketch_from_bytes
    from cuckoofilter_spark.operators.grouped import grouped_sketch_agg

    g = grouped_sketch_agg(
        df, group_col, column, kind="kmv", k=k, seed=seed,
    )
    rows = g.select(group_col, "sketch").collect()
    sketches = sorted(
        ((str(r[group_col]), sketch_from_bytes(bytes(r["sketch"])))
         for r in rows),
        key=lambda t: t[0],
    )
    out = []
    for i in range(len(sketches)):
        ga, ska = sketches[i]
        for gb, skb in sketches[i + 1:]:
            est = kmv_set_estimates(ska, skb)
            out.append((
                ga, gb, float(est["n_a"]), float(est["n_b"]),
                float(est["n_union"]), float(est["n_intersection"]),
                int(round(est["jaccard"] * 1_000_000)),
            ))
    return df.sparkSession.createDataFrame(
        out,
        "group_a string, group_b string, est_a double, est_b double, "
        "est_union double, est_intersection double, jaccard_e6 long",
    )
