"""Structured Streaming sketch maintenance.

The reference library is strictly batch (SURVEY.md §2.9 streaming
row); a continuously ingesting training corpus needs its sketches
kept current across micro-batches. Two shapes:

1. ``foreachBatch`` jobs. Each micro-batch runs the SAME operators as
   batch mode and overwrites its own ``batch=<id>`` output dirs, so
   exactly-once comes from the pair (streaming checkpoint, per-batch
   overwrite): a re-delivered batch id overwrites, never appends.
   One runner starts them all: with ``trigger_available_now=True``
   it blocks until the stream is drained and returns None; with
   ``False`` it returns the started ``StreamingQuery`` (10 s
   processing-time trigger) for the caller to monitor, await or stop.

   - ``run_streaming_sketch_build``: per-batch shard rows; the global
     filter is the tree-merge of all rows so far.
   - ``run_streaming_dedup`` / ``run_streaming_dedup_sliding``: exact
     dedup against a hash-sharded cuckoo-filter table kept across
     batches, either all history (one filter per shard;
     ``compact_dedup_state`` folds its dirs) or a sliding horizon (one
     pane of per-shard filters per batch, evicted by age). Both run
     one per-batch body; only the state's lifetime differs.
   - ``run_streaming_decontam`` / ``run_streaming_ingest``: per-batch
     routing against static eval / corpus artifacts built once before
     the stream starts; no cross-batch state.

2. ``applyInPandasWithState`` operators: the state store holds one
   sketch blob per state key, folded by one helper for any registry
   kind. ``streaming_sketch_by_key`` keys by a column
   (``streaming_distinct_by_key`` is its HLL case with an integer
   readout), ``streaming_windowed_sketch_by_key`` by (key, event-time
   window) with watermark finalization, and
   ``streaming_session_sketch_by_key`` by (key, gap-separated
   session).
"""

from __future__ import annotations

import datetime
import os
import re
from typing import Iterator
from zoneinfo import ZoneInfo

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from cuckoofilter_spark.core.cuckoo import CuckooFilter, suggest_capacity
from cuckoofilter_spark.core.registry import (
    SKETCH_KINDS, make_sketch, sketch_from_bytes,
)
from cuckoofilter_spark.operators.build import (
    build_sketch_shards, check_add_statuses, shard_id_expr, string_key_expr,
)
from cuckoofilter_spark.operators.decontam import (
    _eval_filter, ngram_overlap_udf, overlap_report,
)
from cuckoofilter_spark.operators.dedup import (
    _VERIFY_BROADCAST_MAX_DOCS, crosscorpus_pairs_from_tables, dedup_exact,
    minhash_table,
)
from cuckoofilter_spark.operators.grouped import (
    _READOUTS, _VALUE_KINDS, _keys_array,
)
from cuckoofilter_spark.operators.text import fingerprint_md5, normalize_text
from cuckoofilter_spark.plans.fsutil import (
    delete_path, list_dir_names, path_exists,
)


def _start(stream_df: DataFrame, per_batch, checkpoint_dir: str,
           available_now: bool) -> StreamingQuery | None:
    """The one ``foreachBatch`` runner. availableNow: block until the
    stream is drained and return None. Otherwise return the started
    query (10 s trigger): a discarded handle would leave
    ``spark.streams.active`` as the caller's only way to stop it."""
    writer = stream_df.writeStream.foreachBatch(per_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    if not available_now:
        return writer.trigger(processingTime="10 seconds").start()
    writer.trigger(availableNow=True).start().awaitTermination()
    return None


def run_streaming_sketch_build(
    stream_df: DataFrame, column: str, *, out_dir: str, checkpoint_dir: str,
    kind: str = "cuckoo", trigger_available_now: bool = True, **params,
) -> StreamingQuery | None:
    """Maintain a sketch-shard table from a streaming source.

    Each micro-batch: partial build (one shard row per partition) →
    overwrite ``<out_dir>/batch=<id>/``. Readers tree-merge
    ``<out_dir>/batch=*`` whenever they need the current global
    filter. Blocks until the stream drains (availableNow) and returns
    None; ``trigger_available_now=False`` starts a continuous
    10s-trigger job and returns its ``StreamingQuery``.
    """
    def per_batch(batch_df: DataFrame, batch_id: int) -> None:
        shards = build_sketch_shards(
            batch_df, column, kind=kind, lineage=False, **params
        )
        # idempotent per-batch target: a redelivered batch overwrites
        # its own directory instead of appending duplicates
        shards.write.mode("overwrite").parquet(
            os.path.join(out_dir, f"batch={batch_id}")
        )

    return _start(stream_df, per_batch, checkpoint_dir, trigger_available_now)


STATE_SCHEMA = "sketch binary"
# what streaming_distinct_by_key returns
OUTPUT_SCHEMA = "key string, n_rows long, distinct_est long"


def _sketch_fold(kind: str, where: str):
    """The per-key operators' shared kind check: ``(readout, fold)``
    for a registry ``kind``, with the readout of
    ``operators/grouped._READOUTS``; ``fold(sk, values)`` adds a pandas
    Series' non-null values to ``sk`` (as keys, or as values for
    tdigest/kll) and raises if a membership filter refused any."""
    if kind not in SKETCH_KINDS or kind not in _READOUTS:
        raise ValueError(f"unknown sketch kind {kind!r}")
    _, readout = _READOUTS[kind]
    value_based = kind in _VALUE_KINDS

    def fold(sk, values: pd.Series) -> None:
        vals = _keys_array(values, value_based)
        if len(vals):
            check_add_statuses(sk.add_many(vals), f"{where}[{kind}]")

    return readout, fold


def streaming_sketch_by_key(
    stream_df: DataFrame, key_col: str, value_col: str, *,
    kind: str = "hll", **params,
) -> DataFrame:
    """Running per-key sketch maintenance for ANY registered sketch
    kind — the custom-stateful-operator pattern
    (``applyInPandasWithState``): the state store holds one sketch
    blob per key; each trigger folds the new values in and emits
    ``(key, n_rows, readout)`` with the kind's standard readout
    (distinct estimate for hll/kmv, p50 for tdigest/kll, item count
    for the membership filters — same table as
    ``operators/grouped._READOUTS``).

    State growth is the sketch's own bound: KBs per key regardless of
    stream length, the property that makes this run forever. Returns
    a streaming DataFrame; attach your own writeStream sink."""
    readout, fold = _sketch_fold(kind, "streaming_sketch_by_key")

    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            (blob,) = state.get
            sk = sketch_from_bytes(bytes(blob))
        else:
            sk = make_sketch(kind, **params)
        n = 0
        for pdf in pdfs:
            fold(sk, pdf[value_col])
            n += len(pdf)
        state.update((sk.to_bytes(),))
        yield pd.DataFrame({
            "key": [key[0]], "n_rows": [n], "readout": [float(readout(sk))],
        })

    return (
        stream_df.select(
            F.col(key_col).cast("string").alias("key"),
            F.col(value_col).alias(value_col),
        )
        .groupBy("key")
        .applyInPandasWithState(
            update, "key string, n_rows long, readout double",
            STATE_SCHEMA, "update", GroupStateTimeout.NoTimeout,
        )
    )


def streaming_distinct_by_key(
    stream_df: DataFrame, key_col: str, value_col: str, *,
    p: int = 14, seed: int = 2014,
) -> DataFrame:
    """Running per-key distinct-count estimates via a stateful HLL.

    Returns a streaming DataFrame (key, n_rows, distinct_est) updated
    every trigger; attach your own writeStream sink. The HLL case of
    ``streaming_sketch_by_key`` with an integer readout: NULL values
    count toward ``n_rows`` but are not keys."""
    return streaming_sketch_by_key(
        stream_df, key_col, value_col, kind="hll", p=p, seed=seed
    ).select(
        "key", "n_rows",
        # bround rounds half to even, as Python's round() does
        F.bround("readout").cast("long").alias("distinct_est"),
    )


STATE_SHARD_SCHEMA = (
    "shard_id int, state_batch long, num_shards int, "
    "sketch binary, n_keys long"
)
_STATE_DIRS = ("batch=", "snapshot=")


def _numbered_dirs(spark, parent: str, prefixes: tuple) -> list:
    """``(name, k)`` of each ``<prefix><k>`` child of ``parent``, for
    any of ``prefixes``; other children are skipped. Listing goes
    through the Hadoop FileSystem API (plans/fsutil), so the state
    directory works on any URI the data directory works on
    (s3a/hdfs/file), never a driver-local literal path."""
    out = []
    for name in list_dir_names(spark, parent):
        for prefix in prefixes:
            if name.startswith(prefix):
                out.append((name, int(name[len(prefix):])))
                break
    return out


def _latest_state_shards(
    spark, shards_dir: str, before_batch: int, num_shards: int,
) -> DataFrame | None:
    """Per-shard newest filter blob among state batches STRICTLY below
    ``before_batch`` — (shard_id, sketch) — or None if no state yet.

    Reads both per-batch dirs (``batch=<k>``) and compaction snapshots
    (``snapshot=<k>``, see ``compact_dedup_state``); snapshot rows
    keep their original ``state_batch`` stamps, so the per-shard
    max_by is identical whether or not the subsumed batch dirs still
    exist — compaction and crash-mid-compaction are both invisible
    here."""
    paths = [
        os.path.join(shards_dir, name)
        for name, k in _numbered_dirs(spark, shards_dir, _STATE_DIRS)
        if k < before_batch
    ]
    if not paths:
        return None
    raw = spark.read.schema(STATE_SHARD_SCHEMA).parquet(*paths)
    bad = raw.filter(F.col("num_shards") != num_shards).limit(1).collect()
    if bad:
        raise ValueError(
            f"streaming-dedup state at {shards_dir} was written with "
            f"num_shards={bad[0]['num_shards']}, this run uses "
            f"{num_shards} — shard routing would miss existing keys"
        )
    return (
        raw.groupBy("shard_id")
        .agg(F.max_by("sketch", "state_batch").alias("sketch"))
    )


def _live_panes(
    spark, panes_dir: str, batch_id: int, horizon_batches: int,
) -> DataFrame | None:
    """Delete the panes no batch >= ``batch_id`` can ever need, then
    return (shard_id, sketch) of the live panes STRICTLY below
    ``batch_id`` — several rows per shard — or None."""
    live = []
    for name, b in _numbered_dirs(spark, panes_dir, ("pane=",)):
        if b < batch_id - horizon_batches:
            delete_path(spark, os.path.join(panes_dir, name))
        elif b < batch_id:  # replay: ignore our own overwritten pane
            live.append(os.path.join(panes_dir, name))
    if not live:
        return None
    return (spark.read.schema(STATE_SHARD_SCHEMA).parquet(*live)
            .select("shard_id", "sketch"))


def compact_dedup_state(
    spark, out_dir: str, *, upto_batch: int,
) -> int:
    """Fold the streaming-dedup state dirs for batches ≤ ``upto_batch``
    into one ``snapshot=<upto_batch>`` dir and remove them.

    Why: state reads list every ``batch=<k>`` dir ever written; on a
    long-running stream that listing (and the parquet-footer fan-in)
    grows without bound even though only the newest row per shard is
    live. A snapshot holds exactly one row per shard (its newest,
    original ``state_batch`` stamp preserved) — after compaction the
    state read is O(num_shards) regardless of stream age.

    Crash safety, in order: (1) the snapshot is written FIRST — rows
    in it duplicate rows still present in the batch dirs, and the
    loader's per-shard max_by picks identical content either way, so a
    crash mid-write or between write and cleanup never changes what a
    reader sees; (2) batch dirs are deleted only after the snapshot's
    ``_SUCCESS`` marker exists; (3) a retry that finds a COMPLETE
    ``snapshot=<upto_batch>`` (crash landed between write and cleanup)
    never re-reads-and-overwrites it — the snapshot was built from
    every dir ≤ upto_batch and committed batch dirs are immutable, so
    it subsumes whatever batch dirs remain and the retry just finishes
    the cleanup. (Re-reading while overwriting would either fail with
    Spark's read/overwrite-conflict error or destroy the only copy of
    shards whose batch dirs were already removed.) A PARTIAL snapshot
    (no ``_SUCCESS`` — crash mid-write) is deleted and rebuilt; its
    inputs are all still present because cleanup gates on the marker.

    REPLAY CONTRACT: pass ``upto_batch`` ≤ the newest batch id the
    STREAM CHECKPOINT has committed. Committed batches are never
    re-delivered under the same checkpoint, which is what makes
    folding their pre-states away safe; compacting an uncommitted
    batch would feed its own fingerprints back to its replay and drop
    the whole batch. Returns the number of dirs folded in."""
    shards_dir = os.path.join(out_dir, "_filter", "shards")
    old = [name for name, k in _numbered_dirs(spark, shards_dir, _STATE_DIRS)
           if k <= upto_batch]
    snap_name = f"snapshot={upto_batch}"
    snap = os.path.join(shards_dir, snap_name)
    if snap_name in old:
        if path_exists(spark, os.path.join(snap, "_SUCCESS")):
            # Retry after a crash between snapshot write and cleanup:
            # the complete snapshot subsumes every remaining dir ≤
            # upto_batch (they were its inputs and are immutable).
            # Finish the cleanup; do NOT read + overwrite the snapshot.
            rest = [n for n in old if n != snap_name]
            for n in rest:
                delete_path(spark, os.path.join(shards_dir, n))
            return len(rest)
        # Crash mid-write: partial snapshot, inputs all intact
        # (cleanup only runs after _SUCCESS). Drop and rebuild.
        delete_path(spark, snap)
        old.remove(snap_name)
    if len(old) < 2:
        return 0
    paths = [os.path.join(shards_dir, n) for n in old]
    raw = spark.read.schema(STATE_SHARD_SCHEMA).parquet(*paths)
    compacted = (
        raw.groupBy("shard_id")
        .agg(F.max_by(
            F.struct("state_batch", "num_shards", "sketch", "n_keys"),
            "state_batch",
        ).alias("s"))
        .select("shard_id", "s.state_batch", "s.num_shards", "s.sketch",
                "s.n_keys")
    )
    compacted.write.mode("overwrite").parquet(snap)
    if not path_exists(spark, os.path.join(snap, "_SUCCESS")):
        raise RuntimeError(f"snapshot write incomplete at {snap}")
    for p in paths:
        if p != snap:
            delete_path(spark, p)
    return len(old)


def _run_sharded_dedup(
    stream_df: DataFrame, id_col: str, text_col: str, *, out_dir: str,
    checkpoint_dir: str, capacity: int, bits_per_item: int, seed: int,
    num_shards: int, trigger_available_now: bool, load_state,
    into_prior: bool,
) -> StreamingQuery | None:
    """The per-batch body of both streaming dedup jobs.

    ``load_state(spark, batch_id)`` returns the filter blobs a batch
    probes — ``(shard_id, sketch)`` rows, any number per shard, ORed —
    or None. ``into_prior`` (all history): a shard's admitted
    fingerprints go into its one prior filter and the shard rows land
    in ``_filter/shards/batch=<id>``. Otherwise (sliding) they go into
    a fresh filter, and the rows land in ``_filter/panes/pane=<id>``.
    Either way only shards that gained keys get a row, and each
    shard's keys are inserted sorted, so the blob bytes depend on the
    key set only."""
    job = "run_streaming_dedup" if into_prior \
        else "run_streaming_dedup_sliding"
    state_out = (os.path.join(out_dir, "_filter", "shards", "batch={}")
                 if into_prior else
                 os.path.join(out_dir, "_filter", "panes", "pane={}"))
    # per-shard capacity via the one sizing rule (core/cuckoo.py):
    # binomial split imbalance + merged-load headroom, 4096 floor so
    # early micro-batches never start in the overflow-prone regime
    per_shard_cap = max(
        4096, suggest_capacity(capacity, num_shards=num_shards)
    )

    def probe_group(key_pdf: pd.DataFrame,
                    state_pdf: pd.DataFrame) -> pd.DataFrame:
        if len(key_pdf) == 0 or len(state_pdf) == 0:  # no state: all new
            return key_pdf[["__id"]]
        ks = key_pdf["__fp"].to_numpy(dtype=np.int64).view(np.uint64)
        seen = np.zeros(len(ks), dtype=bool)
        for blob in state_pdf["sketch"]:  # OR over the shard's filters
            seen |= sketch_from_bytes(bytes(blob)).contains_many(ks)
            if seen.all():
                break
        return key_pdf.loc[~seen, ["__id"]]

    def per_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        state = load_state(spark, batch_id)
        if state is not None:
            state = state.persist()
        batch_df = dedup_exact(batch_df, id_col, text_col)
        fp = string_key_expr(normalize_text(text_col))
        id_type = batch_df.schema[id_col].dataType.simpleString()
        keys = batch_df.select(
            F.col(id_col).alias("__id"), fp.alias("__fp"),
            shard_id_expr(fp, num_shards).alias("shard_id"),
        )

        if state is None:
            kept = batch_df
        else:
            kept_ids = (
                keys.groupBy("shard_id")
                .cogroup(state.groupBy("shard_id"))
                .applyInPandas(probe_group, f"__id {id_type}")
            )
            kept = batch_df.join(
                kept_ids.withColumnRenamed("__id", id_col), id_col,
                "left_semi",
            )
        data_out = os.path.join(out_dir, "data", f"batch={batch_id}")
        kept.write.mode("overwrite").parquet(data_out)
        new_fps = (
            spark.read.parquet(data_out).select(fp.alias("__fp")).distinct()
            .withColumn("shard_id", shard_id_expr("__fp", num_shards))
        )

        def update_group(fp_pdf: pd.DataFrame,
                         state_pdf: pd.DataFrame) -> pd.DataFrame:
            if len(fp_pdf) == 0:  # untouched shard: no rewrite
                return pd.DataFrame({
                    "shard_id": pd.Series(dtype="int32"),
                    "state_batch": pd.Series(dtype="int64"),
                    "num_shards": pd.Series(dtype="int32"),
                    "sketch": pd.Series(dtype=object),
                    "n_keys": pd.Series(dtype="int64"),
                })
            if len(state_pdf):
                sk = sketch_from_bytes(bytes(state_pdf["sketch"].iloc[0]))
            else:
                sk = CuckooFilter(per_shard_cap, bits_per_item, seed=seed)
            ks = np.unique(
                fp_pdf["__fp"].to_numpy(dtype=np.int64).view(np.uint64)
            )
            shard = int(fp_pdf["shard_id"].iloc[0])
            check_add_statuses(
                sk.add_many(ks), f"{job} shard={shard} batch={batch_id}",
            )
            return pd.DataFrame({
                "shard_id": [shard],
                "state_batch": [int(batch_id)],
                "num_shards": [int(num_shards)],
                "sketch": [sk.to_bytes()],
                "n_keys": [int(sk.size)],
            })

        prior = state if into_prior and state is not None else \
            spark.createDataFrame([], "shard_id int, sketch binary")
        (
            new_fps.groupBy("shard_id")
            .cogroup(prior.groupBy("shard_id"))
            .applyInPandas(update_group, STATE_SHARD_SCHEMA)
            .write.mode("overwrite").parquet(state_out.format(batch_id))
        )
        if state is not None:
            state.unpersist()

    return _start(stream_df, per_batch, checkpoint_dir, trigger_available_now)


def run_streaming_dedup(
    stream_df: DataFrame, id_col: str, text_col: str, *, out_dir: str,
    checkpoint_dir: str, capacity: int, bits_per_item: int = 16,
    seed: int = 2014, num_shards: int = 32,
    trigger_available_now: bool = True,
) -> StreamingQuery | None:
    """Streaming exact dedup: drop rows whose normalized-text
    fingerprint appeared in ANY earlier batch (cross-batch memory = a
    hash-sharded cuckoo-filter table), keeping the min-id row for
    duplicates within a batch.

    Layout under ``out_dir``: surviving rows in ``data/batch=<id>/``,
    filter state in ``_filter/shards/batch=<k>/`` — parquet rows
    ``(shard_id, state_batch, num_shards, sketch, n_keys)``, one per
    shard the batch TOUCHED. The live state of shard s is its row with
    the largest ``state_batch``; untouched shards are never rewritten.

    Scale shape (the reason for the shard table): the filter for a
    10^11-fingerprint corpus is tens of GB — a single blob would be
    driver-merged and fully rewritten every micro-batch. Here the
    driver never holds ANY filter bytes: probing is a shard-id cogroup
    (each task deserializes only its own shard), inserts rewrite only
    the shards that gained keys, and all state I/O is executor-side
    parquet on the same filesystem as the data. Per-batch cost is
    O(batch keys + touched shards), independent of corpus size.

    Replay safety: batch N reads per-shard state with ``state_batch``
    STRICTLY below N — a redelivered batch re-reads its original
    pre-state, reproduces the same survivors, and overwrites its own
    ``data/batch=N`` + ``_filter/shards/batch=N`` outputs
    (idempotent), instead of probing a state that already absorbed its
    fingerprints (which would drop the whole batch).

    False-drop caveat (inherent to sketch-backed dedup): a filter
    false positive wrongly drops a novel document at the filter's FPR
    (≈2·4/2^f; ~1e-4 at f=16). Size ``capacity`` for the total corpus
    — an overfull shard refuses inserts loudly (add statuses checked)
    rather than degrade into false negatives.

    Blocks until the stream drains (availableNow) and returns None;
    ``trigger_available_now=False`` returns the started
    ``StreamingQuery``.
    """
    shards_dir = os.path.join(out_dir, "_filter", "shards")
    return _run_sharded_dedup(
        stream_df, id_col, text_col, out_dir=out_dir,
        checkpoint_dir=checkpoint_dir, capacity=capacity,
        bits_per_item=bits_per_item, seed=seed, num_shards=num_shards,
        trigger_available_now=trigger_available_now, into_prior=True,
        load_state=lambda spark, b: _latest_state_shards(
            spark, shards_dir, b, num_shards),
    )


def run_streaming_dedup_sliding(
    stream_df: DataFrame, id_col: str, text_col: str, *, out_dir: str,
    checkpoint_dir: str, capacity: int, horizon_batches: int,
    bits_per_item: int = 16, seed: int = 2014, num_shards: int = 32,
    trigger_available_now: bool = True,
) -> StreamingQuery | None:
    """Streaming dedup against a SLIDING horizon: drop rows whose
    normalized-text fingerprint was ADMITTED in any of the last
    ``horizon_batches`` micro-batches — recency-bounded novelty
    ("dedup today's crawl against the last N days"), where the
    all-history variant (``run_streaming_dedup``) would keep
    suppressing a document forever.

    Mechanism — the classic pane ring, sharded like the all-history
    job: each batch writes one PANE (``_filter/panes/pane=<id>``,
    per-shard filters of only that batch's admitted fingerprints);
    probing ORs the live panes per shard inside one cogroup; panes
    older than the horizon are deleted at batch START (safe under
    replay: a deleted pane is only ever needed by already-committed
    batches — the checkpoint never re-delivers those). State size is
    bounded by horizon x per-batch keys regardless of stream age;
    eviction is O(1) dir deletes, no rewrite of surviving state.

    Re-admission semantics are fixed-epoch (cache-TTL-like): a
    suppressed duplicate does NOT refresh its original's recency, so
    a fingerprint is re-admitted exactly when its admitting batch
    leaves the horizon. ``capacity`` sizes the PER-BATCH expected
    distinct fingerprints (each pane is one batch's keys).

    Same exactness caveat as the all-history job: filter FPR
    (~2·4/2^f) can wrongly drop a novel row; zero false negatives
    means a true duplicate inside the horizon is never admitted.
    Same return value too: None after draining (availableNow), the
    started ``StreamingQuery`` in continuous mode."""
    if horizon_batches < 1:
        raise ValueError(
            f"horizon_batches must be >= 1, got {horizon_batches}"
        )
    panes_dir = os.path.join(out_dir, "_filter", "panes")
    return _run_sharded_dedup(
        stream_df, id_col, text_col, out_dir=out_dir,
        checkpoint_dir=checkpoint_dir, capacity=capacity,
        bits_per_item=bits_per_item, seed=seed, num_shards=num_shards,
        trigger_available_now=trigger_available_now, into_prior=False,
        load_state=lambda spark, b: _live_panes(
            spark, panes_dir, b, horizon_batches),
    )


def run_streaming_decontam(
    stream_df: DataFrame, eval_df: DataFrame, id_col: str, text_col: str,
    *, out_dir: str, checkpoint_dir: str, n: int = 3,
    min_overlap: int = 1, bits_per_item: int = 16, seed: int = 7,
    trigger_available_now: bool = True,
) -> StreamingQuery | None:
    """Streaming benchmark decontamination: route each micro-batch's
    documents into ``clean/batch=<id>`` or ``flagged/batch=<id>``
    (flagged rows carry ``n_overlap``) against a STATIC eval set.

    The eval side is built ONCE before the stream starts. Within the
    driver budget the stream holds one fused gate + verify UDF
    (``ngram_overlap_udf`` over the driver's eval key array: one blob
    and one key broadcast for the stream's lifetime — creating it per
    batch would re-broadcast both every trigger). Above it the
    exact-verify gram table is parked under ``<out_dir>/_eval/ngrams``
    so each micro-batch's explode+join reads it executor-side (no
    driver-held row set, no cross-session DataFrame reuse). Per-batch
    output overwrites its own ``batch=<id>`` dirs — redelivery is
    idempotent, same as the other streaming jobs here. State never
    grows: unlike streaming dedup there is NO cross-batch mutable
    state, so this scales to any stream length as one narrow probe
    pass (+ a candidates-only verify join above the cap) per batch.
    Returns None after draining (availableNow), the started
    ``StreamingQuery`` in continuous mode."""
    blob, keys, ev_ngrams = _eval_filter(
        eval_df, text_col, n=n, bits_per_item=bits_per_item, seed=seed
    )
    ev_dir = os.path.join(out_dir, "_eval", "ngrams")
    if keys is not None:
        hits = ngram_overlap_udf(
            eval_df.sparkSession, blob, keys, n=n, seed=seed
        )
    else:
        hits = None
        ev_ngrams.write.mode("overwrite").parquet(ev_dir)
        ev_ngrams.unpersist()

    def per_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        batch_df = batch_df.persist()
        ev = spark.read.parquet(ev_dir) if hits is None else None
        flagged = overlap_report(
            batch_df, blob, ev, id_col, text_col,
            n=n, min_overlap=min_overlap, seed=seed, hits_udf=hits,
        )
        flagged_out = os.path.join(out_dir, f"flagged/batch={batch_id}")
        flagged.write.mode("overwrite").parquet(flagged_out)
        flagged_ids = spark.read.parquet(flagged_out).select(id_col)
        clean = batch_df.join(flagged_ids, id_col, "left_anti")
        clean.write.mode("overwrite").parquet(
            os.path.join(out_dir, f"clean/batch={batch_id}")
        )
        batch_df.unpersist()

    return _start(stream_df, per_batch, checkpoint_dir, trigger_available_now)


def streaming_windowed_sketch_by_key(
    stream_df: DataFrame, ts_col: str, key_col: str, value_col: str, *,
    window: str = "1 hour", slide: str | None = None,
    watermark: str = "1 hour",
    kind: str = "hll", emit_updates: bool = True, **params,
) -> DataFrame:
    """Per-(key, event-time-window) sketch maintenance with watermark
    eviction — the full custom windowed-aggregate pattern the built-in
    windowed aggs implement internally, here for ANY registry sketch:

    - rows are bucketed into windows of ``window`` via the event-time
      column (late rows land in their ORIGINAL window). ``slide``
      (default: tumbling, slide = window) makes the windows SLIDING:
      the projection-side ``F.window`` expands each row into its
      window/slide overlapping windows, so one event updates several
      (key, window_start) states — each still finalizes independently
      when the watermark passes ITS close;
    - state = one sketch blob per (key, window_start), updated each
      trigger, emitted as a running readout (``emit_updates``);
    - the watermark drives FINALIZATION: each group's state carries an
      event-time timeout at window_end + ``watermark``; when the
      watermark passes it, the group emits a final row
      (``final=true``) and its state is REMOVED — state size is
      bounded by (keys x live windows), not stream length, and
      rows later than the watermark are dropped by Spark before they
      reach the operator (exactly the built-in windowed-agg
      contract).

    Returns a streaming DataFrame
    ``(key, window_start, n_rows, readout, final)``."""
    readout, fold = _sketch_fold(kind, "streaming_windowed_sketch_by_key")

    # The grouped-state key's window_start arrives as a tz-NAIVE
    # datetime rendered in spark.sql.session.timeZone, while
    # setTimeoutTimestamp / getCurrentWatermarkMs speak epoch-UTC ms.
    # A bare naive.timestamp() would interpret it in the WORKER's
    # system timezone — hours of premature (state removed, finals
    # split) or late finalization whenever the two zones differ — so
    # resolve the session zone on the driver and attach it before
    # converting. Captured by closure; ships to workers in the pickle.
    session_tz = _session_tzinfo(
        stream_df.sparkSession.conf.get("spark.sql.session.timeZone")
        or "UTC"
    )

    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        k, wstart = key
        if state.exists:
            (blob, n_seen) = state.get
            sk, n_seen = sketch_from_bytes(bytes(blob)), int(n_seen)
        else:
            sk, n_seen = make_sketch(kind, **params), 0
        final = state.hasTimedOut
        if final:  # the watermark passed the window's close
            state.remove()
        else:
            for pdf in pdfs:
                fold(sk, pdf[value_col])
                n_seen += len(pdf)
            state.update((sk.to_bytes(), n_seen))
            # finalize when the WATERMARK (not wall clock) passes the
            # window's close; the timeout timestamp is event-time ms.
            # Clamped to just past the current watermark: a window that
            # already closed (its rows arrived late-but-within-
            # watermark, or availableNow raced the watermark ahead)
            # must finalize on the NEXT trigger, and Spark rejects
            # timeouts in the past.
            close = (wstart + _window_delta(window)).replace(
                tzinfo=session_tz)
            wm = state.getCurrentWatermarkMs()
            state.setTimeoutTimestamp(
                max(int(close.timestamp() * 1000), wm + 1)
            )
        if final or emit_updates:
            yield pd.DataFrame({
                "key": [k], "window_start": [wstart], "n_rows": [n_seen],
                "readout": [float(readout(sk))], "final": [final],
            })

    out_schema = ("key string, window_start timestamp, n_rows long, "
                  "readout double, final boolean")
    return (
        stream_df
        .withColumn("_ts", F.col(ts_col).cast("timestamp"))
        .withWatermark("_ts", watermark)
        .withColumn(
            "_w",
            F.window("_ts", window, slide or window).getField("start"),
        )
        # NOTE: `_ts` must survive this projection — it carries the
        # watermark; dropping it makes the event-time timeout illegal
        .select(
            F.col(key_col).cast("string").alias("key"),
            F.col("_w").alias("window_start"),
            F.col(value_col).alias(value_col),
            F.col("_ts"),
        )
        .groupBy("key", "window_start")
        .applyInPandasWithState(
            update, out_schema, "sketch binary, n_seen long",
            "update", GroupStateTimeout.EventTimeTimeout,
        )
    )


def _merge_session_spans(spans: list, gap_ms: int) -> list:
    """Interval-union of (start, end, sketch, n) with the gap rule:
    spans merge when one starts within the other's end+gap. The
    algebra the session operator rests on: because sketch merge is a
    commutative monoid and interval union with a fixed gap is
    confluent, folding spans in ANY batching/arrival order yields the
    same session set (pinned by the property test)."""
    spans.sort(key=lambda s: s[0])
    out = [spans[0]]
    for start, end, sk, n in spans[1:]:
        pstart, pend, psk, pn = out[-1]
        if start <= pend + gap_ms:
            psk.merge(sk)
            out[-1] = (pstart, max(pend, end), psk, pn + n)
        else:
            out.append((start, end, sk, n))
    return out


def streaming_session_sketch_by_key(
    stream_df: DataFrame, ts_col: str, key_col: str, value_col: str, *,
    gap: str = "30 minutes", watermark: str = "1 hour",
    kind: str = "hll", emit_updates: bool = False,
    max_open_sessions: int = 4096, **params,
) -> DataFrame:
    """Per-(key, SESSION) sketch maintenance — the built-in
    ``session_window`` aggregation re-expressed for ANY registry
    sketch: consecutive events of a key belong to one session while
    their gaps stay below ``gap``; a quiet period longer than ``gap``
    closes the session.

    Semantics (matching the built-in session windows):

    - state per key = the OPEN sessions (start, end, sketch blob,
      n_rows) — more than one can be open when events arrive out of
      order within the watermark;
    - a new event extends any session whose ``[start, end+gap)`` span
      it touches; a late-but-in-watermark event can BRIDGE two open
      sessions, which then merge — sketches merge losslessly (the
      mergeable-UDAF property doing the work);
    - a session finalizes when the WATERMARK passes ``end + gap``: no
      admissible event can extend it anymore (anything later than the
      watermark is dropped by Spark upstream), so the final row is
      immutable. Event-time timeout = the earliest open ``end + gap``.

    All session arithmetic runs on JVM-computed epoch-millis
    (``unix_millis``) — never on rendered naive datetimes — so it is
    session-timezone-proof by construction. Returns a streaming
    DataFrame ``(key, session_start, session_end, n_rows, readout,
    final)``; ``emit_updates`` adds a running row per open session
    per trigger."""
    readout, fold = _sketch_fold(kind, "streaming_session_sketch_by_key")
    gap_ms = int(_window_delta(gap).total_seconds() * 1000)
    if gap_ms <= 0:
        raise ValueError(f"gap must be positive, got {gap!r}")

    def _rows(key, spans, final):
        return pd.DataFrame({
            "key": [key] * len(spans),
            "session_start_ms": [s[0] for s in spans],
            "session_end_ms": [s[1] for s in spans],
            "n_rows": [int(s[3]) for s in spans],
            "readout": [float(readout(s[2])) for s in spans],
            "final": [final] * len(spans),
        })

    def update(
        key: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        k = key[0]
        spans: list = []
        if state.exists:
            starts, ends, blobs, ns = state.get
            spans = [
                (int(s), int(e), sketch_from_bytes(bytes(b)), int(n))
                for s, e, b, n in zip(starts, ends, blobs, ns)
            ]
        if not state.hasTimedOut:
            for pdf in pdfs:
                pdf = pdf.dropna(subset=["_ts_ms"])
                if not len(pdf):
                    continue
                pdf = pdf.sort_values("_ts_ms")
                ts = pdf["_ts_ms"].to_numpy(dtype=np.int64)
                # split this batch's events into gap-separated runs
                cuts = np.flatnonzero(np.diff(ts) > gap_ms) + 1
                lo = 0
                for hi in list(cuts) + [len(ts)]:
                    seg = pdf.iloc[lo:hi]
                    sk = make_sketch(kind, **params)
                    fold(sk, seg[value_col])
                    spans.append(
                        (int(ts[lo]), int(ts[hi - 1]), sk, hi - lo)
                    )
                    lo = hi
        if not spans:
            if state.exists:
                state.remove()
            return
        spans = _merge_session_spans(spans, gap_ms)
        wm = state.getCurrentWatermarkMs()
        # STRICT close test: Spark still admits events with ts ==
        # watermark, so a session is immutable only once end + gap < wm
        # — an event at exactly end+gap can otherwise extend a span
        # already emitted as final (duplicate/split final row).
        closed = [s for s in spans if s[1] + gap_ms < wm]
        open_ = [s for s in spans if s[1] + gap_ms >= wm]
        if max_open_sessions and len(open_) > max_open_sessions:
            raise RuntimeError(
                f"streaming_session_sketch_by_key[{kind}]: key {k!r} "
                f"holds {len(open_)} open sessions "
                f"(> max_open_sessions={max_open_sessions}); state for "
                "this key is growing unboundedly — likely clock-skewed "
                "or far-out-of-order events. Raise max_open_sessions, "
                "widen gap, or tighten the watermark."
            )
        if closed:
            yield _rows(k, closed, True)
        if open_:
            state.update((
                [s[0] for s in open_], [s[1] for s in open_],
                [s[2].to_bytes() for s in open_],
                [int(s[3]) for s in open_],
            ))
            state.setTimeoutTimestamp(
                max(min(s[1] + gap_ms for s in open_), wm + 1)
            )
            if emit_updates:
                yield _rows(k, open_, False)
        elif state.exists:
            state.remove()

    out_schema = ("key string, session_start_ms long, "
                  "session_end_ms long, n_rows long, readout double, "
                  "final boolean")
    state_schema = ("starts array<long>, ends array<long>, "
                    "blobs array<binary>, ns array<long>")
    raw = (
        stream_df
        .withColumn("_ts", F.col(ts_col).cast("timestamp"))
        .withWatermark("_ts", watermark)
        .select(
            F.col(key_col).cast("string").alias("key"),
            F.col(value_col).alias(value_col),
            F.unix_millis(F.col("_ts")).alias("_ts_ms"),
            # `_ts` must survive the projection — it carries the
            # watermark that drives the event-time timeout
            F.col("_ts"),
        )
        .groupBy("key")
        .applyInPandasWithState(
            update, out_schema, state_schema,
            "update", GroupStateTimeout.EventTimeTimeout,
        )
    )
    return raw.select(
        "key",
        F.timestamp_millis("session_start_ms").alias("session_start"),
        F.timestamp_millis("session_end_ms").alias("session_end"),
        "n_rows", "readout", "final",
    )


def _session_tzinfo(tz_name: str):
    """Resolve a Spark session-timezone string to a tzinfo: region ids
    ('UTC', 'America/Los_Angeles') via zoneinfo, Spark's accepted
    offset forms ('+08:00', '-0530', 'GMT+8') as fixed offsets."""
    m = re.fullmatch(
        r"(?:GMT|UTC)?(?P<sign>[+-])(?P<h>\d{1,2}):?(?P<m>\d{2})?",
        tz_name.strip(),
    )
    if m:
        sign = 1 if m.group("sign") == "+" else -1
        delta = datetime.timedelta(
            hours=int(m.group("h")), minutes=int(m.group("m") or 0)
        )
        return datetime.timezone(sign * delta)
    return ZoneInfo(tz_name.strip())


def _window_delta(window: str):
    """'1 hour' / '30 minutes' / '10 seconds' -> timedelta."""
    qty, unit = window.strip().split()
    key = {"second": "seconds", "minute": "minutes",
           "hour": "hours", "day": "days"}[unit.rstrip("s")]
    return datetime.timedelta(**{key: int(qty)})


def run_streaming_ingest(
    stream_df: DataFrame, existing_df: DataFrame, id_col: str,
    text_col: str, *, out_dir: str, checkpoint_dir: str,
    threshold: float = 0.8, shingle_k: int = 3, seed: int = 2014,
    num_hashes: int = 128, bands: int = 32, rows_per_band: int = 4,
    bucket_cap: int | None = 8192, trigger_available_now: bool = True,
) -> StreamingQuery | None:
    """Continuous incremental ingest (round 7): each micro-batch of
    newly crawled documents is deduplicated against a STATIC existing
    corpus — exact first (md5-fingerprint anti-join), then MinHash
    near-dup (``crosscorpus_pairs_from_tables``) — and routed to
    ``kept/batch=<id>`` or ``dropped/batch=<id>`` (dropped rows carry
    a ``reason`` ∈ {exact, near_dup}).

    Corpus artifacts are built ONCE before the stream starts and
    parked under ``<out_dir>/_corpus/``: the distinct fingerprint set
    and the fused minhash table (doc, sh, bhs — the expensive kernel
    pass over the full corpus never reruns per batch; at 100 TB this
    is the difference between a per-batch corpus scan and a per-batch
    band join against a prebuilt table). Batches are NOT added to the
    corpus mid-stream: intra-stream duplicates are a different concern
    (``run_streaming_dedup``'s stateful exact path); the production
    pattern for near-dup state is a periodic corpus-table rebuild.
    Consequences: no cross-batch mutable state, redelivery is
    idempotent (per-batch dirs overwrite), state never grows.

    The verify join broadcasts the BATCH side only when it is small
    enough; the corpus sets table always stays shuffle-side — the
    polarity that survives a corpus that can never be broadcast.
    Returns None after draining (availableNow), the started
    ``StreamingQuery`` in continuous mode."""
    mh_kw = dict(
        num_hashes=num_hashes, bands=bands, rows_per_band=rows_per_band,
        shingle_k=shingle_k, seed=seed,
    )
    fp_dir = os.path.join(out_dir, "_corpus", "fps")
    existing_df.select(
        fingerprint_md5(text_col).alias("fp")
    ).distinct().write.mode("overwrite").parquet(fp_dir)
    mh_dir = os.path.join(out_dir, "_corpus", "minhash")
    minhash_table(existing_df, id_col, text_col, **mh_kw) \
        .write.mode("overwrite").parquet(mh_dir)

    def per_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        batch_df = batch_df.persist()
        fps = spark.read.parquet(fp_dir)
        fp_b = batch_df.withColumn("_fp", fingerprint_md5(text_col))
        exact = fp_b.join(
            fps, fp_b["_fp"] == fps["fp"], "left_semi"
        ).drop("_fp")
        surv = fp_b.join(
            fps, fp_b["_fp"] == fps["fp"], "left_anti"
        ).drop("_fp").persist()
        tbl_b = minhash_table(surv, id_col, text_col, **mh_kw).persist()
        n_b = tbl_b.count()
        near_ids = crosscorpus_pairs_from_tables(
            tbl_b, spark.read.parquet(mh_dir), bands=bands,
            threshold=threshold, bucket_cap=bucket_cap,
            broadcast_sets=(n_b <= _VERIFY_BROADCAST_MAX_DOCS, False),
        ).select(F.col("doc_a").alias(id_col)).distinct()
        near = surv.join(near_ids, id_col, "left_semi")
        kept = surv.join(near_ids, id_col, "left_anti")
        dropped = exact.withColumn("reason", F.lit("exact")).unionByName(
            near.withColumn("reason", F.lit("near_dup"))
        )
        dropped.write.mode("overwrite").parquet(
            os.path.join(out_dir, f"dropped/batch={batch_id}")
        )
        kept.write.mode("overwrite").parquet(
            os.path.join(out_dir, f"kept/batch={batch_id}")
        )
        tbl_b.unpersist()
        surv.unpersist()
        batch_df.unpersist()

    return _start(stream_df, per_batch, checkpoint_dir, trigger_available_now)
