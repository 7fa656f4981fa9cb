"""SparkSession factory with the configs this library is tuned for.

Local mode is for tests/bench only; the same settings are what we'd
ship in ``spark-submit --conf`` on a real cluster (see ``jobs/``).
Rationale per setting:

- AQE on: runtime shuffle-partition coalescing + skew-join splitting.
- Arrow on + a batch size large enough that the numpy hot loop
  amortizes the JVM<->Python hop (the only boundary that matters for
  sketch-build throughput, SURVEY.md §3.1).
- ``shuffle.partitions`` sized to cores in local mode; on a cluster
  this is set per-job to ~2-3x total executor cores.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession
from pyspark.sql import functions as F

ARROW_BATCH = 65536


def get_spark(
    app: str = "cuckoofilter-spark",
    cores: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    cores = cores or int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    shuffle_partitions = shuffle_partitions or max(cores, 8)
    builder = (
        SparkSession.builder.appName(app)
        .master(f"local[{cores}]")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.default.parallelism", str(cores))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", str(ARROW_BATCH))
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.host", "127.0.0.1")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def scale_conf(
    input_bytes: int,
    *,
    executor_mem_bytes: int = 8 << 30,
    cores_per_executor: int = 4,
    target_partition_bytes: int = 256 << 20,
    mem_safety: float = 4.0,
) -> dict[str, str]:
    """Spill-aware shuffle/scan sizing for a target input volume — the
    config a ``spark-submit`` of these jobs should carry at a given
    scale factor (brief: "size ``spark.sql.shuffle.partitions`` and
    ``spark.sql.files.maxPartitionBytes`` so partitions fit in
    executor memory at the target SF").

    Rules, each load-bearing:

    - a shuffle partition should hold ~``target_partition_bytes``
      (default 256 MB: big enough to amortize task overhead, small
      enough that a few concurrent tasks' working sets — decompressed,
      ~2-4x on-wire — fit an executor core's memory share);
    - the per-core memory share caps the partition size from above:
      ``executor_mem_bytes / cores_per_executor / mem_safety``
      (``mem_safety`` covers decompression + sort/agg buffers); the
      effective partition target is the min of the two;
    - ``maxPartitionBytes`` (scan split size) gets the same effective
      target so scan tasks and shuffle tasks see similar volumes;
    - AQE stays on: these are the STARTING sizes AQE coalesces/splits
      from at runtime — deliberately slightly over-partitioned, which
      AQE can fix cheaply (the reverse, under-partitioning, it cannot).

    Returns a plain dict usable as ``--conf`` pairs or
    ``get_spark(extra_conf=...)``. At 100 TB with the defaults:
    ~400k shuffle partitions — within Spark's comfortable range and
    far under the 2^31 shuffle-id ceiling."""
    if input_bytes <= 0:
        raise ValueError(f"input_bytes must be positive, got {input_bytes}")
    per_core = int(executor_mem_bytes / cores_per_executor / mem_safety)
    eff_target = max(16 << 20, min(target_partition_bytes, per_core))
    n_parts = max(32, -(-input_bytes // eff_target))  # ceil div
    return {
        "spark.sql.shuffle.partitions": str(n_parts),
        "spark.sql.files.maxPartitionBytes": str(eff_target),
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": str(eff_target),
    }


def fan_out(df, target: int | None = None, *, factor: int = 2,
            min_bytes: int = 2 << 20):
    """Hash-repartition (``xxhash64`` of the row's columns) a NARROW
    source up to the session's parallelism when its scan produced too
    few partitions.

    Why (round 8, guide §6/§2.5): single-row-group parquet files cap
    scan parallelism at ONE task no matter the split config — Spark
    assigns whole row groups to splits — so every per-document kernel
    or projection over an MB-scale side table runs single-core while
    the rest of the machine idles (measured: the 50k-doc minhash
    kernel pass took 7.5 s on one task of a 16-slot session). The
    repartition is GATED: it fires only when the source reports fewer
    than ``target / factor`` partitions, so at real scale — where
    inputs arrive as many files/row-groups — it is a no-op and no
    exchange is added. The shuffle it does add moves only the MB-scale
    input once, far cheaper than leaving all but one core idle.

    Only correct for consumers whose RESULT is partition-layout
    independent (per-row projections, order-independent aggregations,
    exact-verified sketch gates) — which is every call site in this
    package; see each caller's note.

    The repartition hashes the row's (hashable) columns instead of
    using keyless round-robin: ``repartition(n)`` pays a local SORT of
    the input first (``spark.sql.execution.sortBeforeRepartition``,
    needed for retry determinism) — on a 1M-row single-task source
    that serial sort cost more than the parallelism bought back
    (measured: grouped_topk 2.6 s → 7.3 s). A deterministic hash of
    the row content needs no sort and is just as retry-safe."""
    from pyspark.sql.types import MapType

    sc = df.sparkSession.sparkContext
    target = target or sc.defaultParallelism
    try:
        n = df.rdd.getNumPartitions()
    except Exception:
        return df
    if n * factor > target:
        return df
    # size gate (round 8): below a few MB the exchange + extra stage
    # cost more than the parallelism buys back (measured at the sf0.1
    # step: minhash 2.0 s -> 2.8 s with an ungated fan-out of a 0.6 MB
    # corpus; the 5.7 MB sf1.0 corpus gains 2-5x). Unknown sizes
    # (non-file sources report ~Long.MaxValue) keep the fan-out.
    try:
        size = int(str(
            df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        ))
    except Exception:
        size = None
    if size is not None and size < 2**60 and size < min_bytes:
        return df
    cols = [
        F.col(f.name) for f in df.schema.fields
        if not isinstance(f.dataType, MapType)
    ]
    if not cols:
        return df.repartition(target)
    return df.repartition(target, F.xxhash64(*cols))


def warm_python_workers(spark: SparkSession, n_workers: int | None = None) -> None:
    """Pre-spawn and warm the Arrow python workers.

    A fresh worker pays numpy import plus first-touch page faults on
    its first large allocations — seconds that would otherwise land on
    whichever job runs first. Workers are reused for the session
    lifetime (``spark.python.worker.reuse`` default), so one warm pass
    moves that cost out of every measured job. Call before timing."""
    import pyarrow as pa

    n = n_workers or spark.sparkContext.defaultParallelism

    def warm(batches):
        import numpy as _np

        x = _np.random.default_rng(0).integers(
            0, 2**63, 2_000_000, dtype=_np.int64
        ).view(_np.uint64)
        for _ in range(3):
            x = x * _np.uint64(0x9E3779B97F4A7C15) + (x >> _np.uint64(32))
        for b in batches:
            yield pa.RecordBatch.from_pydict(
                {"id": pa.array([int(x[0] & _np.uint64(1))], pa.int64())}
            )

    (
        spark.range(0, n * 2, 1, n * 2)
        .mapInArrow(warm, "id long")
        .count()
    )
