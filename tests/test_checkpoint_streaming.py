"""Checkpoint/resume, lineage coverage, streaming builds, and the
spark-submit job entrypoints (SURVEY.md §7 steps 6+; north_rule:
"resumable from checkpoint with per-partition lineage + metrics,
run via spark-submit --py-files")."""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import numpy as np
import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR, SF_DIR_SMALL

PARAMS = {
    "kind": "cuckoo", "max_num_keys": 300_000, "bits_per_item": 12,
    "seed": 11,
}


def test_checkpointed_build_resume_and_lineage(spark, tmp_path):
    from cuckoofilter_spark.core.registry import sketch_from_bytes
    from cuckoofilter_spark.plans.checkpoint import (
        checkpointed_build, checkpointed_tree_merge, read_manifest,
    )

    root = str(tmp_path / "ckpt")
    # multi-file input → multiple shards → real merge rounds + lineage
    src = str(tmp_path / "li_src")
    spark.read.parquet(f"{SF_DIR}/lineitem.parquet").repartition(6) \
        .write.parquet(src)
    lineitem = spark.read.parquet(src)
    shards = checkpointed_build(
        spark, root, lineitem, "l_partkey", params=PARAMS
    )
    man = read_manifest(root)
    assert man and "shards" in man["stages"]
    # per-partition lineage covers exactly the input files
    lineage = {
        f for r in shards.select("lineage").collect() for f in r["lineage"]
    }
    assert {os.path.basename(f).split("?")[0] for f in lineage} == {
        os.path.basename(f) for f in lineitem.inputFiles()
    }
    # param mismatch must refuse, not silently reuse
    with pytest.raises(ValueError, match="rebuild=True"):
        checkpointed_build(
            spark, root, lineitem, "l_partkey",
            params={**PARAMS, "seed": 99},
        )
    # resume path: second call reads back without rebuilding
    again = checkpointed_build(spark, root, lineitem, "l_partkey",
                               params=PARAMS)
    assert again.count() == shards.count()

    blob = checkpointed_tree_merge(spark, root, fanout=2)
    # crash simulation: drop the LAST merge round; resume must redo
    # only that round and produce an identical blob
    man = read_manifest(root)
    rounds = sorted(
        k for k in man["stages"] if k.startswith("merge/round=")
    )
    last = rounds[-1]
    shutil.rmtree(man["stages"][last]["path"])
    del man["stages"][last]
    with open(os.path.join(root, "MANIFEST.json"), "w") as fh:
        json.dump(man, fh)
    blob2 = checkpointed_tree_merge(spark, root, fanout=2)
    assert blob2 == blob
    # and the merged filter answers correctly
    sk = sketch_from_bytes(blob)
    keys = np.array(
        [r[0] for r in lineitem.select("l_partkey").distinct().collect()],
        dtype=np.int64,
    )
    assert sk.contains_many(keys.view(np.uint64)).all()


def test_streaming_build_matches_batch(spark, tmp_path):
    from cuckoofilter_spark.operators.build import build_sketch_shards
    from cuckoofilter_spark.operators.merge import collect_merged
    from cuckoofilter_spark.streaming.sketch_stream import (
        run_streaming_sketch_build,
    )

    src = str(tmp_path / "stream_src")
    lineitem = spark.read.parquet(f"{SF_DIR_SMALL}/lineitem.parquet")
    lineitem.repartition(6).write.parquet(src)  # 6 files → micro-batches

    out = str(tmp_path / "stream_shards")
    stream = (
        spark.readStream.schema(lineitem.schema)
        .option("maxFilesPerTrigger", 2)
        .parquet(src)
    )
    run_streaming_sketch_build(
        stream, "l_orderkey", out_dir=out,
        checkpoint_dir=str(tmp_path / "stream_ckpt"),
        **{k: v for k, v in PARAMS.items() if k != "kind"}, kind="cuckoo",
    )
    got = collect_merged(
        spark.read.parquet(os.path.join(out, "batch=*")), dedup=True
    )
    keys = np.array(
        [r[0] for r in lineitem.select("l_orderkey").distinct().collect()],
        dtype=np.int64,
    ).view(np.uint64)
    assert got.contains_many(keys).all(), "stream-built filter lost keys"
    want = collect_merged(
        build_sketch_shards(lineitem, "l_orderkey", lineage=False, **PARAMS),
        dedup=True,
    )
    absent = np.arange(10**9, 10**9 + 50_000, dtype=np.uint64)
    got_fpr = got.contains_many(absent).mean()
    want_fpr = want.contains_many(absent).mean()
    assert abs(got_fpr - want_fpr) < 5e-3


def test_streaming_stateful_distinct(spark, tmp_path):
    from cuckoofilter_spark.streaming.sketch_stream import (
        streaming_distinct_by_key,
    )

    src = str(tmp_path / "ev_src")
    events = spark.read.parquet(f"{SF_DIR_SMALL}/events.parquet")
    events.repartition(4).write.parquet(src)
    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 2).parquet(src)
    )
    out = streaming_distinct_by_key(stream, "event_type", "user_id")
    q = (
        out.writeStream.format("memory").queryName("dist_by_key")
        .outputMode("update").trigger(availableNow=True).start()
    )
    q.awaitTermination()
    rows = spark.sql(
        "SELECT key, max(distinct_est) AS est FROM dist_by_key GROUP BY key"
    ).collect()
    est = {r["key"]: r["est"] for r in rows}
    truth = {
        r["event_type"]: r["n"]
        for r in events.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n")).collect()
    }
    assert set(est) == set(truth)
    for k, t in truth.items():
        assert abs(est[k] - t) / max(t, 1) < 0.05, (k, est[k], t)


def test_spark_submit_jobs_end_to_end(tmp_path):
    """Real ``spark-submit --py-files`` run of the build + query jobs."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    zip_path = str(tmp_path / "cuckoofilter_spark.zip")
    subprocess.run(
        [sys.executable, "-m", "zipfile", "-c", zip_path,
         os.path.join(repo, "cuckoofilter_spark")],
        check=True,
    )
    out_blob = str(tmp_path / "filter.bin")
    env = dict(os.environ, PYSPARK_PYTHON=sys.executable)
    r = subprocess.run(
        [
            "spark-submit", "--master", "local[4]",
            "--conf", "spark.ui.enabled=false",
            "--conf", "spark.driver.host=127.0.0.1",
            "--py-files", zip_path,
            os.path.join(repo, "jobs", "build_filter.py"),
            "--input", f"{SF_DIR_SMALL}/lineitem.parquet",
            "--column", "l_orderkey", "--capacity", "3000",
            "--checkpoint", str(tmp_path / "ck"), "--output", out_blob,
        ],
        capture_output=True, text=True, timeout=420, env=env,
    )
    assert r.returncode == 0, r.stderr[-3000:]
    metrics = json.loads(
        open(out_blob + ".metrics.json").read()
    )
    assert metrics["keys"] > 0 and os.path.getsize(out_blob) > 64
    r2 = subprocess.run(
        [
            "spark-submit", "--master", "local[4]",
            "--conf", "spark.ui.enabled=false",
            "--conf", "spark.driver.host=127.0.0.1",
            "--py-files", zip_path,
            os.path.join(repo, "jobs", "query_filter.py"),
            "--filter", out_blob,
            "--input", f"{SF_DIR_SMALL}/lineitem.parquet",
            "--column", "l_orderkey",
        ],
        capture_output=True, text=True, timeout=420, env=env,
    )
    assert r2.returncode == 0, r2.stderr[-3000:]
    stats = json.loads(r2.stdout.strip().splitlines()[-1])
    assert stats["hits"] == stats["rows"], "false negatives via job path"

    # dedup job: same --py-files path, documents corpus, minhash method
    out_docs = str(tmp_path / "docs_dedup")
    r3 = subprocess.run(
        [
            "spark-submit", "--master", "local[4]",
            "--conf", "spark.ui.enabled=false",
            "--conf", "spark.driver.host=127.0.0.1",
            "--py-files", zip_path,
            os.path.join(repo, "jobs", "dedup_corpus.py"),
            "--input", f"{SF_DIR_SMALL}/documents.parquet",
            "--method", "minhash", "--threshold", "0.8",
            "--output", out_docs,
        ],
        capture_output=True, text=True, timeout=420, env=env,
    )
    assert r3.returncode == 0, r3.stderr[-3000:]
    dstats = json.loads(r3.stdout.strip().splitlines()[-1])
    assert 0 < dstats["rows_out"] <= dstats["rows_in"]
    assert dstats["near_dup_pairs"] >= 0

    # shape_corpus job: the full dedup → decontam → quality → sample →
    # pack pipeline through the same --py-files path. Eval slice =
    # first 20 docs of the same corpus (written out first).
    import duckdb as _duck

    ev_path = str(tmp_path / "eval_docs")
    con = _duck.connect()
    con.execute(
        f"COPY (SELECT * FROM read_parquet("
        f"'{SF_DIR_SMALL}/documents.parquet') WHERE doc_id < 20) "
        f"TO '{ev_path}' (FORMAT PARQUET)"
    )
    out_shaped = str(tmp_path / "shaped")
    r4 = subprocess.run(
        [
            "spark-submit", "--master", "local[4]",
            "--conf", "spark.ui.enabled=false",
            "--conf", "spark.driver.host=127.0.0.1",
            "--py-files", zip_path,
            os.path.join(repo, "jobs", "shape_corpus.py"),
            "--input", f"{SF_DIR_SMALL}/documents.parquet",
            "--eval", ev_path,
            "--min-quality", "100", "--sample-rate", "0.9",
            "--holdout", "0.05", "--max-tokens", "1024",
            "--streams", "4", "--output", out_shaped,
        ],
        capture_output=True, text=True, timeout=420, env=env,
    )
    assert r4.returncode == 0, r4.stderr[-3000:]
    sstats = json.loads(r4.stdout.strip().splitlines()[-1])
    assert sstats["rows_out"] > 0
    assert (sstats["rows_in"] >= sstats["after_dedup"]
            >= sstats["after_decontam"] >= sstats["after_quality"]
            >= sstats["after_sample"] == sstats["rows_out"])
    assert sstats["n_bins"] > 0


def test_streaming_watermark_windowed_agg(spark, tmp_path):
    """Watermarked tumbling-window aggregation in APPEND mode — the
    mode where the watermark actually gates emission: a window row is
    emitted only once the watermark (max event time - 1h) passes its
    end. Every emitted count must equal the batch count exactly, and
    the tail windows (not yet past the watermark) must be withheld —
    proving the watermark drove finalization rather than being a
    no-op (as it would be in complete mode)."""
    src = str(tmp_path / "wm_src")
    events = spark.read.parquet(f"{SF_DIR_SMALL}/events.parquet")
    events.repartition(4).write.parquet(src)
    stream = (
        spark.readStream.schema(events.schema)
        .option("maxFilesPerTrigger", 2).parquet(src)
        # watermarks require TIMESTAMP (tz-aware); testdata is NTZ
        .withColumn("ts", F.col("ts").cast("timestamp"))
    )
    agg = (
        stream.withWatermark("ts", "1 hour")
        .groupBy(F.window("ts", "6 hours"), "event_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    q = (
        agg.writeStream.format("memory").queryName("wm_counts")
        .outputMode("append").trigger(availableNow=True).start()
    )
    q.awaitTermination()
    got = {
        (r["window"]["start"], r["event_type"]): r["cnt"]
        for r in spark.sql("SELECT * FROM wm_counts").collect()
    }
    want = {
        (r["window"]["start"], r["event_type"]): r["cnt"]
        for r in events.withColumn("ts", F.col("ts").cast("timestamp"))
        .groupBy(F.window("ts", "6 hours"), "event_type")
        .agg(F.count(F.lit(1)).alias("cnt")).collect()
    }
    assert got, "watermark emitted nothing"
    for key, cnt in got.items():
        assert want.get(key) == cnt, f"finalized window {key} wrong"
    # the tail windows sit within the 1h watermark lag -> withheld
    assert len(got) < len(want), "append mode emitted unfinalized windows"


def test_streaming_dedup_cross_batch(spark, tmp_path):
    """Streaming exact dedup: duplicates WITHIN a batch keep the
    min-id row; duplicates ACROSS batches (same normalized text seen
    in an earlier batch) are dropped via the persisted filter state."""
    from cuckoofilter_spark.streaming.sketch_stream import (
        run_streaming_dedup,
    )

    src = tmp_path / "dd_src"
    src.mkdir()
    out = str(tmp_path / "dd_out")
    ckpt = str(tmp_path / "dd_ckpt")
    schema = "doc_id long, text string"

    def run():
        stream = spark.readStream.schema(schema).parquet(str(src))
        run_streaming_dedup(
            stream, "doc_id", "text", out_dir=out, checkpoint_dir=ckpt,
            capacity=10_000, seed=11,
        )

    # batch 0: one intra-batch dup (doc 2 repeats doc 1's text)
    spark.createDataFrame(
        [(1, "alpha beta gamma"), (2, "alpha beta gamma"),
         (3, "delta epsilon zeta")],
        schema,
    ).coalesce(1).write.parquet(str(src), mode="append")
    run()
    kept0 = {r["doc_id"] for r in
             spark.read.parquet(f"{out}/data/batch=0").collect()}
    assert kept0 == {1, 3}

    # batch 1: doc 10 duplicates batch-0 text -> dropped; doc 11 new
    spark.createDataFrame(
        [(10, "delta epsilon zeta"), (11, "eta theta iota")],
        schema,
    ).coalesce(1).write.parquet(str(src), mode="append")
    run()
    kept1 = {r["doc_id"] for r in
             spark.read.parquet(f"{out}/data/batch=1").collect()}
    assert kept1 == {11}

    # state is a hash-disjoint SHARD TABLE (never a driver blob): each
    # batch dir holds one row per shard it touched, with the full
    # updated shard filter; untouched shards are not rewritten
    s0 = spark.read.parquet(f"{out}/_filter/shards/batch=0").collect()
    s1 = spark.read.parquet(f"{out}/_filter/shards/batch=1").collect()
    assert all(r["num_shards"] == 32 for r in s0 + s1)
    assert 1 <= len(s0) <= 2  # 2 distinct fingerprints -> <=2 shards
    assert len(s1) == 1  # 1 new fingerprint -> exactly 1 shard touched
    assert sum(r["n_keys"] for r in s1) >= 1


def test_streaming_dedup_sharded_state_replay_and_no_driver_merge(
    spark, tmp_path, monkeypatch,
):
    """(a) The per-batch path never merges filter state on the driver —
    collect_merged/merge_shards_to_blob are poisoned for the whole run.
    (b) Replay idempotence: wiping the STREAM checkpoint (not the
    state) re-delivers every batch; each re-read of its strictly-
    before pre-state reproduces the same survivors and overwrites its
    own outputs."""
    import cuckoofilter_spark.operators.merge as merge_mod
    from cuckoofilter_spark.streaming.sketch_stream import (
        run_streaming_dedup,
    )

    def _poisoned(*a, **k):
        raise AssertionError(
            "driver-side filter merge called from streaming dedup"
        )

    monkeypatch.setattr(merge_mod, "collect_merged", _poisoned)
    monkeypatch.setattr(merge_mod, "merge_shards_to_blob", _poisoned)

    src = tmp_path / "rp_src"
    src.mkdir()
    out = str(tmp_path / "rp_out")
    ckpt = str(tmp_path / "rp_ckpt")
    schema = "doc_id long, text string"

    def run():
        # maxFilesPerTrigger=1: the post-wipe replay re-delivers each
        # file as its own batch (same ids as the original runs), so
        # batch 1 must probe batch 0's state, NOT its own stale state
        # (<= instead of strictly-< would drop doc 11 on replay)
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1).parquet(str(src))
        )
        run_streaming_dedup(
            stream, "doc_id", "text", out_dir=out, checkpoint_dir=ckpt,
            capacity=10_000, seed=11, num_shards=8,
        )

    spark.createDataFrame(
        [(1, "alpha beta gamma"), (3, "delta epsilon zeta")], schema
    ).coalesce(1).write.parquet(str(src), mode="append")
    run()
    spark.createDataFrame(
        [(10, "delta epsilon zeta"), (11, "eta theta iota")], schema
    ).coalesce(1).write.parquet(str(src), mode="append")
    run()

    def survivors():
        return {
            r["doc_id"]
            for r in spark.read.parquet(f"{out}/data/batch=*").collect()
        }

    assert survivors() == {1, 3, 11}

    # redeliver EVERY batch: drop the stream checkpoint so the file
    # source replays both files as batches 0..1 against existing state
    import shutil

    shutil.rmtree(ckpt)
    run()
    assert survivors() == {1, 3, 11}, "replay was not idempotent"


def test_streaming_dedup_state_compaction(spark, tmp_path):
    """compact_dedup_state folds batch dirs into one snapshot: the
    state read afterward is O(num_shards) files, and later batches
    still dedup against everything the folded batches inserted."""
    from cuckoofilter_spark.plans.fsutil import list_dir_names
    from cuckoofilter_spark.streaming.sketch_stream import (
        compact_dedup_state, run_streaming_dedup,
    )

    src = tmp_path / "cp_src"
    src.mkdir()
    out = str(tmp_path / "cp_out")
    ckpt = str(tmp_path / "cp_ckpt")
    schema = "doc_id long, text string"

    def run():
        stream = spark.readStream.schema(schema).parquet(str(src))
        run_streaming_dedup(
            stream, "doc_id", "text", out_dir=out, checkpoint_dir=ckpt,
            capacity=10_000, seed=11, num_shards=8,
        )

    spark.createDataFrame(
        [(1, "alpha beta gamma")], schema
    ).coalesce(1).write.parquet(str(src), mode="append")
    run()
    spark.createDataFrame(
        [(2, "delta epsilon zeta")], schema
    ).coalesce(1).write.parquet(str(src), mode="append")
    run()

    shards_dir = f"{out}/_filter/shards"
    assert sorted(list_dir_names(spark, shards_dir)) == [
        "batch=0", "batch=1",
    ]
    n_folded = compact_dedup_state(spark, out, upto_batch=1)
    assert n_folded == 2
    assert sorted(list_dir_names(spark, shards_dir)) == ["snapshot=1"]

    # batch 2 dedups against the SNAPSHOT: doc 10 duplicates batch-0
    # text (dropped), doc 11 is new (kept)
    spark.createDataFrame(
        [(10, "alpha beta gamma"), (11, "eta theta iota")], schema
    ).coalesce(1).write.parquet(str(src), mode="append")
    run()
    kept2 = {r["doc_id"] for r in
             spark.read.parquet(f"{out}/data/batch=2").collect()}
    assert kept2 == {11}

    # compacting a single live dir set is a no-op
    assert compact_dedup_state(spark, out, upto_batch=1) == 0


def test_streaming_session_sketch_value_kind(spark, tmp_path):
    """Session sketches with a VALUE-based kind (tdigest): the
    readout is the session's p50 over its values — exercises the
    _keys_array value path and cross-session sketch merge on
    bridging."""
    import datetime as dt

    from cuckoofilter_spark.streaming.sketch_stream import (
        streaming_session_sketch_by_key,
    )

    src = tmp_path / "sv_src"
    src.mkdir()
    res = tmp_path / "sv_res"
    schema = "ts timestamp, k string, v double"

    def run():
        stream = spark.readStream.schema(schema).parquet(str(src))
        out = streaming_session_sketch_by_key(
            stream, "ts", "k", "v", gap="30 minutes",
            watermark="1 hour", kind="tdigest", delta=100.0,
        )

        def sink(df, bid):
            df.write.mode("overwrite").parquet(str(res / f"batch={bid}"))

        q = (
            out.writeStream.foreachBatch(sink).outputMode("update")
            .option("checkpointLocation", str(tmp_path / "sv_ck"))
            .trigger(availableNow=True).start()
        )
        q.awaitTermination()

    def ts(hh, mm):
        return dt.datetime(2024, 1, 1, hh, mm, 0)

    spark.createDataFrame(
        [(ts(10, 0), "A", 10.0), (ts(10, 10), "A", 20.0),
         (ts(10, 20), "A", 30.0), (ts(14, 0), "Z", 9.0)],
        schema,
    ).coalesce(1).write.parquet(str(src), mode="append")
    run()
    spark.createDataFrame(
        [(ts(14, 30), "Z", 9.0)], schema
    ).coalesce(1).write.parquet(str(src), mode="append")
    run()
    finals = [r for d in sorted(os.listdir(res))
              for r in spark.read.parquet(str(res / d)).collect()
              if r["key"] == "A" and r["final"]]
    assert len(finals) == 1
    r = finals[0]
    assert r["n_rows"] == 3
    assert abs(r["readout"] - 20.0) < 1e-6  # exact p50 of 3 values


def test_merge_session_spans_order_invariant():
    """The session-merge algebra: folding event spans in ANY
    batching/arrival order yields the gap-partition of the sorted
    event set, with exact per-session row counts and distinct values
    (sketch merge = commutative monoid + confluent interval union)."""
    import random

    from cuckoofilter_spark.core.hll import HyperLogLog
    from cuckoofilter_spark.streaming.sketch_stream import (
        _merge_session_spans,
    )

    def span(ts_list):
        sk = HyperLogLog(p=14, seed=1)
        sk.add_many(np.array(ts_list, dtype=np.uint64))
        return (min(ts_list), max(ts_list), sk, len(ts_list))

    gap = 10
    for trial in range(25):
        rng = random.Random(trial)
        n = rng.randint(1, 40)
        events = sorted(rng.sample(range(0, 400), n))
        # ground truth: gap partition of the sorted events
        truth, cur = [], [events[0]]
        for t in events[1:]:
            if t - cur[-1] > gap:
                truth.append(cur)
                cur = [t]
            else:
                cur.append(t)
        truth.append(cur)

        # arrival simulation: shuffle events into batches; each batch
        # contributes its own gap-runs as fragments; fold incrementally
        shuffled = events[:]
        rng.shuffle(shuffled)
        spans = []
        i = 0
        while i < len(shuffled):
            take = rng.randint(1, 5)
            batch = sorted(shuffled[i:i + take])
            i += take
            run = [batch[0]]
            for t in batch[1:]:
                if t - run[-1] > gap:
                    spans.append(span(run))
                    run = [t]
                else:
                    run.append(t)
            spans.append(span(run))
            spans = _merge_session_spans(spans, gap)

        got = [(s[0], s[1], s[3], round(s[2].estimate()))
               for s in spans]
        want = [(g[0], g[-1], len(g), len(set(g))) for g in truth]
        assert got == want, (trial, got, want)


def test_streaming_dedup_sliding_horizon(spark, tmp_path):
    """Sliding-horizon dedup: a duplicate inside the horizon is
    dropped; once its ADMITTING batch leaves the horizon the
    fingerprint is re-admitted (fixed-epoch semantics — suppressed
    duplicates do not refresh recency); panes older than the horizon
    are deleted from disk."""
    from cuckoofilter_spark.plans.fsutil import list_dir_names
    from cuckoofilter_spark.streaming.sketch_stream import (
        run_streaming_dedup_sliding,
    )

    src = tmp_path / "sl_src"
    src.mkdir()
    out = str(tmp_path / "sl_out")
    ckpt = str(tmp_path / "sl_ckpt")
    schema = "doc_id long, text string"

    def run():
        stream = spark.readStream.schema(schema).parquet(str(src))
        run_streaming_dedup_sliding(
            stream, "doc_id", "text", out_dir=out, checkpoint_dir=ckpt,
            capacity=10_000, horizon_batches=2, seed=11, num_shards=8,
        )

    def feed(rows):
        spark.createDataFrame(rows, schema).coalesce(1) \
            .write.parquet(str(src), mode="append")
        run()

    def kept(b):
        return {r["doc_id"] for r in
                spark.read.parquet(f"{out}/data/batch={b}").collect()}

    # batch 0: "x" admitted (and an intra-batch dup dropped)
    feed([(1, "x marks the spot"), (2, "x marks the spot"),
          (3, "unique zero")])
    assert kept(0) == {1, 3}
    # batch 1: "x" still inside horizon (panes {0}) -> dropped
    feed([(10, "x marks the spot"), (11, "unique one")])
    assert kept(1) == {11}
    # batch 2: live panes {0,1}; "x" admitted at pane 0 -> dropped
    feed([(20, "x marks the spot"), (21, "unique two")])
    assert kept(2) == {21}
    # batch 3: live panes {1,2}; pane 0 expired and the batch-1/2
    # duplicates never wrote "x" -> RE-ADMITTED
    feed([(30, "x marks the spot")])
    assert kept(3) == {30}
    # batch 4: "x" admitted at pane 3 -> inside horizon again
    feed([(40, "x marks the spot"), (41, "unique four")])
    assert kept(4) == {41}
    # eviction happens at batch START: batch 4 deleted panes < 2
    panes = sorted(list_dir_names(spark, f"{out}/_filter/panes"))
    assert panes == ["pane=2", "pane=3", "pane=4"]


def test_streaming_dedup_compaction_crash_retry(spark, tmp_path):
    """Compaction retries are idempotent across both crash windows:

    (a) crash BETWEEN snapshot write and batch-dir cleanup — the
        retry finds a complete ``snapshot=<upto>``; it must finish the
        cleanup WITHOUT reading+overwriting the snapshot (Spark either
        refuses a path that is both input and overwrite target, or —
        worse — destroys the only copy of shard state mid-read);
    (b) crash MID-WRITE — a partial snapshot without ``_SUCCESS`` is
        discarded and rebuilt from the still-intact batch dirs.
    After either retry, later batches still dedup against everything
    the folded batches inserted."""
    import pathlib
    import shutil

    from pyspark.sql import functions as F

    from cuckoofilter_spark.plans.fsutil import list_dir_names
    from cuckoofilter_spark.streaming.sketch_stream import (
        STATE_SHARD_SCHEMA, compact_dedup_state, run_streaming_dedup,
    )

    src = tmp_path / "cr_src"
    src.mkdir()
    out = str(tmp_path / "cr_out")
    ckpt = str(tmp_path / "cr_ckpt")
    schema = "doc_id long, text string"

    def run():
        stream = spark.readStream.schema(schema).parquet(str(src))
        run_streaming_dedup(
            stream, "doc_id", "text", out_dir=out, checkpoint_dir=ckpt,
            capacity=10_000, seed=11, num_shards=8,
        )

    spark.createDataFrame(
        [(1, "alpha beta gamma")], schema
    ).coalesce(1).write.parquet(str(src), mode="append")
    run()
    spark.createDataFrame(
        [(2, "delta epsilon zeta")], schema
    ).coalesce(1).write.parquet(str(src), mode="append")
    run()

    shards_dir = f"{out}/_filter/shards"

    # ---- (a) simulate the write-done-cleanup-not state: build the
    # snapshot exactly as compaction would, but leave the batch dirs
    batches = [f"{shards_dir}/batch=0", f"{shards_dir}/batch=1"]
    raw = spark.read.schema(STATE_SHARD_SCHEMA).parquet(*batches)
    (
        raw.groupBy("shard_id")
        .agg(F.max_by(
            F.struct("state_batch", "num_shards", "sketch", "n_keys"),
            "state_batch",
        ).alias("s"))
        .select("shard_id", "s.state_batch", "s.num_shards", "s.sketch",
                "s.n_keys")
        .write.mode("overwrite").parquet(f"{shards_dir}/snapshot=1")
    )
    assert sorted(list_dir_names(spark, shards_dir)) == [
        "batch=0", "batch=1", "snapshot=1",
    ]
    assert compact_dedup_state(spark, out, upto_batch=1) == 2
    assert sorted(list_dir_names(spark, shards_dir)) == ["snapshot=1"]

    # state is live: batch 2 dedups against the snapshot
    spark.createDataFrame(
        [(10, "alpha beta gamma"), (11, "eta theta iota")], schema
    ).coalesce(1).write.parquet(str(src), mode="append")
    run()
    kept2 = {r["doc_id"] for r in
             spark.read.parquet(f"{out}/data/batch=2").collect()}
    assert kept2 == {11}

    # ---- (b) partial snapshot (no _SUCCESS): discarded and rebuilt
    snap3 = pathlib.Path(shards_dir) / "snapshot=2"
    snap3.mkdir()
    (snap3 / "part-garbage.parquet").write_bytes(b"not parquet")
    # snapshot=1 (complete) + batch=2 + partial snapshot=2 present
    n = compact_dedup_state(spark, out, upto_batch=2)
    assert n == 2  # folded snapshot=1 + batch=2; partial dir dropped
    assert sorted(list_dir_names(spark, shards_dir)) == ["snapshot=2"]
    success = pathlib.Path(shards_dir) / "snapshot=2" / "_SUCCESS"
    assert success.exists()

    # cross-batch memory intact after both retries
    spark.createDataFrame(
        [(20, "eta theta iota"), (21, "kappa lambda mu")], schema
    ).coalesce(1).write.parquet(str(src), mode="append")
    run()
    kept3 = {r["doc_id"] for r in
             spark.read.parquet(f"{out}/data/batch=3").collect()}
    assert kept3 == {21}
    shutil.rmtree(str(src), ignore_errors=True)


def test_streaming_session_sketch_gap_and_bridge(spark, tmp_path):
    """Session-window sketches: gap-separated event runs form distinct
    sessions; a late-but-in-watermark event BRIDGES two open sessions
    into one (sketches merge); a session finalizes only once the
    watermark passes end+gap, with the distinct count of exactly its
    events."""
    import datetime as dt

    from cuckoofilter_spark.streaming.sketch_stream import (
        streaming_session_sketch_by_key,
    )

    src = tmp_path / "sessrc"
    src.mkdir()
    res = tmp_path / "sesres"
    schema = "ts timestamp, k string, v long"

    def run():
        stream = spark.readStream.schema(schema).parquet(str(src))
        out = streaming_session_sketch_by_key(
            stream, "ts", "k", "v", gap="30 minutes",
            watermark="1 hour", kind="hll", p=14, seed=4,
        )

        def sink(df, bid):
            df.write.mode("overwrite").parquet(str(res / f"batch={bid}"))

        q = (
            out.writeStream.foreachBatch(sink).outputMode("update")
            .option("checkpointLocation", str(tmp_path / "sesck"))
            .trigger(availableNow=True).start()
        )
        q.awaitTermination()

    def ts(hh, mm):
        return dt.datetime(2024, 1, 1, hh, mm, 0)

    def finals():
        rows = []
        if res.exists():
            for d in sorted(os.listdir(res)):
                for r in spark.read.parquet(str(res / d)).collect():
                    if r["key"] == "A" and r["final"]:
                        rows.append(r)
        return sorted(rows, key=lambda r: r["session_start"])

    # phase 1: two gap-separated runs for A (10:00-10:10 and 10:50),
    # 30m gap => two OPEN sessions
    spark.createDataFrame(
        [(ts(10, 0), "A", 1), (ts(10, 10), "A", 2), (ts(10, 50), "A", 3)],
        schema,
    ).coalesce(1).write.parquet(str(src), mode="append")
    run()
    assert finals() == []

    # phase 2: late 10:25 event (within the 1h watermark) lands
    # between the sessions and bridges them: 10:10+30m reaches 10:25,
    # 10:25+30m reaches 10:50 -> ONE merged session 10:00-10:50.
    # Also a far event to push the watermark past its close.
    spark.createDataFrame(
        [(ts(10, 25), "A", 4), (ts(13, 0), "Z", 9)],
        schema,
    ).coalesce(1).write.parquet(str(src), mode="append")
    run()
    # watermark 12:00 > 10:50+30m -> merged session must finalize
    # (on this or the next trigger); drive one more tick to be sure
    spark.createDataFrame(
        [(ts(13, 30), "Z", 10)], schema
    ).coalesce(1).write.parquet(str(src), mode="append")
    run()
    a = finals()
    assert len(a) == 1, f"expected ONE merged session, got {a}"
    r = a[0]
    assert r["session_start"] == ts(10, 0)
    assert r["session_end"] == ts(10, 50)
    assert r["n_rows"] == 4
    assert round(r["readout"]) == 4  # distinct values 1,2,3,4


def test_streaming_session_sketch_separate_sessions(spark, tmp_path):
    """Without a bridging event the two runs finalize as TWO sessions,
    each counting only its own values."""
    import datetime as dt

    from cuckoofilter_spark.streaming.sketch_stream import (
        streaming_session_sketch_by_key,
    )

    src = tmp_path / "ses2src"
    src.mkdir()
    res = tmp_path / "ses2res"
    schema = "ts timestamp, k string, v long"

    def run():
        stream = spark.readStream.schema(schema).parquet(str(src))
        out = streaming_session_sketch_by_key(
            stream, "ts", "k", "v", gap="30 minutes",
            watermark="1 hour", kind="hll", p=14, seed=4,
        )

        def sink(df, bid):
            df.write.mode("overwrite").parquet(str(res / f"batch={bid}"))

        q = (
            out.writeStream.foreachBatch(sink).outputMode("update")
            .option("checkpointLocation", str(tmp_path / "ses2ck"))
            .trigger(availableNow=True).start()
        )
        q.awaitTermination()

    def ts(hh, mm):
        return dt.datetime(2024, 1, 1, hh, mm, 0)

    spark.createDataFrame(
        [(ts(10, 0), "A", 1), (ts(10, 10), "A", 1), (ts(11, 0), "A", 2),
         (ts(14, 0), "Z", 9)],
        schema,
    ).coalesce(1).write.parquet(str(src), mode="append")
    run()
    spark.createDataFrame(
        [(ts(14, 30), "Z", 10)], schema
    ).coalesce(1).write.parquet(str(src), mode="append")
    run()
    rows = []
    for d in sorted(os.listdir(res)):
        for r in spark.read.parquet(str(res / d)).collect():
            if r["key"] == "A" and r["final"]:
                rows.append(r)
    rows.sort(key=lambda r: r["session_start"])
    assert [(r["session_start"], r["session_end"], r["n_rows"],
             round(r["readout"])) for r in rows] == [
        (ts(10, 0), ts(10, 10), 2, 1),   # dup value -> distinct 1
        (ts(11, 0), ts(11, 0), 1, 1),
    ]


def test_streaming_session_sketch_state_guard(spark, tmp_path):
    """A pathological (clock-skewed) key whose gap-separated runs pile
    up faster than the watermark can close them must trip the
    ``max_open_sessions`` guard LOUDLY instead of growing state
    unboundedly — and the same workload passes when the guard is
    sized for it."""
    import datetime as dt

    import pytest
    from pyspark.errors.exceptions.captured import StreamingQueryException

    from cuckoofilter_spark.streaming.sketch_stream import (
        streaming_session_sketch_by_key,
    )

    schema = "ts timestamp, k string, v long"

    def ts(hh, mm):
        return dt.datetime(2024, 1, 1, hh, mm, 0)

    # six 1-event sessions for key "A", 1h apart with a 10m gap; the
    # 100h watermark means NONE can close -> six open sessions
    rows = [(ts(h, 0), "A", h) for h in range(6, 12)]

    def run(tag, max_open):
        src = tmp_path / f"guard_src_{tag}"
        src.mkdir()
        res = tmp_path / f"guard_res_{tag}"
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(
            str(src), mode="append"
        )
        stream = spark.readStream.schema(schema).parquet(str(src))
        out = streaming_session_sketch_by_key(
            stream, "ts", "k", "v", gap="10 minutes",
            watermark="100 hours", kind="hll", p=14, seed=4,
            max_open_sessions=max_open,
        )

        def sink(df, bid):
            df.write.mode("overwrite").parquet(str(res / f"batch={bid}"))

        q = (
            out.writeStream.foreachBatch(sink).outputMode("update")
            .option("checkpointLocation", str(tmp_path / f"guard_ck_{tag}"))
            .trigger(availableNow=True).start()
        )
        q.awaitTermination()

    with pytest.raises(StreamingQueryException, match="max_open_sessions"):
        run("trip", 3)
    run("ok", 6)  # guard sized for the workload: state bounded, no trip


def test_streaming_windowed_sketch_session_timezone(spark, tmp_path):
    """Event-time timeouts must be computed in the SESSION timezone:
    the grouped-state key's window_start is a tz-naive datetime
    rendered in spark.sql.session.timeZone, while the timeout API
    speaks epoch-UTC ms. With the session zone set behind UTC
    (America/Los_Angeles), a naive .timestamp() would read the window
    close as UTC — hours EARLY — so an open window's timeout would be
    clamped to watermark+1 and fire a premature final on the next
    trigger. This drives exactly that scenario and asserts the final
    only fires once the watermark truly passes the close."""
    import datetime as dt

    from cuckoofilter_spark.streaming.sketch_stream import (
        streaming_windowed_sketch_by_key,
    )

    src = tmp_path / "tzsrc"
    src.mkdir()
    res = tmp_path / "tzres"
    schema = "ts timestamp, k string, v long"
    old_tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    try:
        def run():
            stream = spark.readStream.schema(schema).parquet(str(src))
            out = streaming_windowed_sketch_by_key(
                stream, "ts", "k", "v", window="1 hour",
                watermark="1 hour", kind="hll", emit_updates=False,
                p=14, seed=4,
            )

            def sink(df, bid):
                df.write.mode("overwrite").parquet(
                    str(res / f"batch={bid}")
                )

            q = (
                out.writeStream.foreachBatch(sink).outputMode("update")
                .option("checkpointLocation", str(tmp_path / "tzck"))
                .trigger(availableNow=True).start()
            )
            q.awaitTermination()

        def ts(hh, mm):
            # naive datetimes: interpreted in the SESSION zone (LA)
            return dt.datetime(2024, 1, 1, hh, mm, 0)

        def finals():
            out = []
            if res.exists():
                for d in sorted(os.listdir(res)):
                    for r in spark.read.parquet(str(res / d)).collect():
                        if r["key"] == "A" and r["final"]:
                            out.append(r)
            return out

        # phase 1: A's 10:00 window is OPEN (watermark 9:20 LA)
        spark.createDataFrame(
            [(ts(10, 5), "A", 1), (ts(10, 20), "B", 2)], schema
        ).coalesce(1).write.parquet(str(src), mode="append")
        run()
        # phase 2: watermark 9:30 LA — still before A's 11:00 close.
        # The tz bug would fire A's final HERE (timeout naively read
        # as 11:00 UTC = 03:00 LA, already past the watermark).
        spark.createDataFrame(
            [(ts(10, 30), "C", 3)], schema
        ).coalesce(1).write.parquet(str(src), mode="append")
        run()
        assert finals() == [], "premature final: timeout read in UTC"
        # phase 3: watermark 11:30 LA > close -> the final fires now
        spark.createDataFrame(
            [(ts(12, 30), "D", 4)], schema
        ).coalesce(1).write.parquet(str(src), mode="append")
        run()
        a = finals()
        assert len(a) == 1 and a[0]["n_rows"] == 1
        assert a[0]["window_start"] == ts(10, 0)
    finally:
        spark.conf.set("spark.sql.session.timeZone", old_tz)


def test_streaming_windowed_sketch_sliding(spark, tmp_path):
    """Sliding windows on the stateful sketch operator: one event
    updates window/slide overlapping (key, window_start) states; each
    finalizes independently with the counts of exactly the events its
    span covers."""
    import datetime as dt

    from cuckoofilter_spark.streaming.sketch_stream import (
        streaming_windowed_sketch_by_key,
    )

    src = tmp_path / "slsrc"
    src.mkdir()
    res = tmp_path / "slres"
    schema = "ts timestamp, k string, v long"

    def run():
        stream = spark.readStream.schema(schema).parquet(str(src))
        out = streaming_windowed_sketch_by_key(
            stream, "ts", "k", "v", window="2 hours", slide="1 hour",
            watermark="1 hour", kind="hll", emit_updates=False,
            p=14, seed=4,
        )

        def sink(df, bid):
            df.write.mode("overwrite").parquet(str(res / f"batch={bid}"))

        q = (
            out.writeStream.foreachBatch(sink).outputMode("update")
            .option("checkpointLocation", str(tmp_path / "slck"))
            .trigger(availableNow=True).start()
        )
        q.awaitTermination()

    def ts(hh, mm):
        return dt.datetime(2024, 1, 1, hh, mm, 0)

    spark.createDataFrame(
        [(ts(10, 5), "A", 1), (ts(10, 40), "A", 2), (ts(11, 30), "A", 3),
         (ts(15, 0), "C", 99)],  # watermark -> 14:00, past all A windows
        schema,
    ).coalesce(1).write.parquet(str(src), mode="append")
    run()
    spark.createDataFrame(
        [(ts(16, 0), "D", 1)], schema  # trigger to fire A's timeouts
    ).coalesce(1).write.parquet(str(src), mode="append")
    run()

    finals = {}
    for d in sorted(os.listdir(res)):
        for r in spark.read.parquet(str(res / d)).collect():
            if r["key"] == "A" and r["final"]:
                assert r["window_start"] not in finals, "double final"
                finals[r["window_start"]] = r
    # 2h windows sliding by 1h: starts 09,10,11 cover the three events
    assert set(finals) == {ts(9, 0), ts(10, 0), ts(11, 0)}
    assert finals[ts(9, 0)]["n_rows"] == 2      # 10:05, 10:40
    assert finals[ts(10, 0)]["n_rows"] == 3     # all three
    assert finals[ts(11, 0)]["n_rows"] == 1     # 11:30
    assert round(finals[ts(9, 0)]["readout"]) == 2
    assert round(finals[ts(10, 0)]["readout"]) == 3
    assert round(finals[ts(11, 0)]["readout"]) == 1


def test_streaming_sliding_window_drops_late_data(spark, tmp_path):
    """Sliding-window agg (2h window, 1h slide) with a 1h watermark:
    an event arriving AFTER the watermark has passed its window must
    be dropped, not aggregated. Two sequential availableNow runs on
    one checkpoint make the watermark progression deterministic: run 1
    ingests the on-time data (persisting watermark = max(ts) - 1h in
    the checkpoint), run 2 ingests one too-late event plus one fresh
    event — if the late row were accepted it would surface as an
    emitted window far below the watermark."""
    import datetime as dt

    src = tmp_path / "late_src"
    src.mkdir()
    ckpt = str(tmp_path / "late_ckpt")
    schema = "user_id long, ts timestamp"
    t0 = dt.datetime(2026, 1, 1, 10, 0, 0)

    out = str(tmp_path / "late_out")

    def run_once():
        stream = spark.readStream.schema(schema).parquet(str(src))
        agg = (
            stream.withWatermark("ts", "1 hour")
            .groupBy(F.window("ts", "2 hours", "1 hour"))
            .agg(F.count(F.lit(1)).alias("cnt"))
        )
        q = (
            agg.writeStream.format("parquet").option("path", out)
            .option("checkpointLocation", ckpt)
            .outputMode("append").trigger(availableNow=True).start()
        )
        q.awaitTermination()
        try:
            rows = spark.read.parquet(out).collect()
        except Exception:
            rows = []  # nothing emitted yet: watermark used by batch N
            # is computed from batches < N, so a single-batch run emits 0
        return {r["window"]["start"]: r["cnt"] for r in rows}

    # run 1: on-time events 10:00..20:00 hourly -> watermark = 19:00
    rows1 = [(i, t0 + dt.timedelta(hours=i)) for i in range(11)]
    spark.createDataFrame(rows1, schema).coalesce(1).write.parquet(
        str(src), mode="append"
    )
    got1 = run_once()

    # run 2: one event at 05:00 (14h late, watermark 19:00) + one at 21:00
    rows2 = [(100, t0 - dt.timedelta(hours=5)),
             (101, t0 + dt.timedelta(hours=11))]
    spark.createDataFrame(rows2, schema).coalesce(1).write.parquet(
        str(src), mode="append"
    )
    got2 = run_once()  # cumulative: parquet sink appends across runs

    emitted = {**got1, **got2}
    assert emitted, "nothing emitted"
    # the late 05:00 event's windows (04:00, 05:00 starts) must not exist
    for start in emitted:
        assert start >= t0 - dt.timedelta(hours=1), (
            f"late event was aggregated into window {start}"
        )
    # sanity: finalized sliding windows carry the exact on-time counts
    # (each interior hour belongs to two 2h windows -> cnt 2)
    interior = t0 + dt.timedelta(hours=3)
    if interior in emitted:
        assert emitted[interior] == 2


def test_streaming_decontam_partitions_corpus(spark, tmp_path):
    """clean ∪ flagged == corpus exactly (disjoint), and the flagged
    set equals the one-shot batch decontaminate — stateless per batch,
    so micro-batching cannot change the answer."""
    from cuckoofilter_spark.operators.decontam import decontaminate
    from cuckoofilter_spark.streaming.sketch_stream import (
        run_streaming_decontam,
    )

    docs = spark.read.parquet(
        "/root/testdata/sf0.01/documents.parquet"
    ).select("doc_id", "text")
    ev = docs.filter(F.col("doc_id") % 97 == 0)
    corpus = docs.filter(F.col("doc_id") % 97 != 0)
    src = str(tmp_path / "src")
    corpus.repartition(5).write.parquet(src)
    out = str(tmp_path / "out")
    stream = (
        spark.readStream.schema(corpus.schema)
        .option("maxFilesPerTrigger", 2).parquet(src)
    )
    run_streaming_decontam(
        stream, ev, "doc_id", "text", out_dir=out,
        checkpoint_dir=str(tmp_path / "ckpt"), n=3, min_overlap=2,
    )
    flagged = {(r.doc_id, r.n_overlap) for r in
               spark.read.parquet(f"{out}/flagged/batch=*").collect()}
    clean_ids = {r.doc_id for r in
                 spark.read.parquet(f"{out}/clean/batch=*")
                 .select("doc_id").collect()}
    batch = {(r.doc_id, r.n_overlap) for r in
             decontaminate(corpus, ev, "doc_id", "text", n=3,
                           min_overlap=2).collect()}
    assert flagged == batch
    corpus_ids = {r.doc_id for r in corpus.select("doc_id").collect()}
    flagged_ids = {d for d, _ in flagged}
    assert clean_ids | flagged_ids == corpus_ids
    assert clean_ids & flagged_ids == set()


def test_streaming_sketch_by_key_generic_kinds(spark, tmp_path):
    """The kind-generic stateful operator: t-digest p50 and KMV
    distinct per key, maintained across micro-batches, converge to
    the batch answers; state survives between triggers."""
    import pytest as _pt

    from cuckoofilter_spark.streaming.sketch_stream import (
        streaming_sketch_by_key,
    )

    src = str(tmp_path / "gsrc")
    events = spark.read.parquet(f"{SF_DIR_SMALL}/events.parquet") \
        .select("event_type", "user_id", "value")
    events.repartition(6).write.parquet(src)
    stream = (
        spark.readStream.schema(
            spark.read.parquet(src).schema
        ).option("maxFilesPerTrigger", 2).parquet(src)
    )

    def run(kind, value_col, **params):
        q = (
            streaming_sketch_by_key(stream, "event_type", value_col,
                                    kind=kind, **params)
            .writeStream.format("memory")
            .queryName(f"gsk_{kind}")
            .outputMode("update")
            .option("checkpointLocation", str(tmp_path / f"ck_{kind}"))
            .trigger(availableNow=True)
        )
        q.start().awaitTermination()
        # last update per key wins (update mode appends each trigger)
        pdf = spark.sql(f"SELECT * FROM gsk_{kind}").toPandas()
        return {k: g.iloc[-1]["readout"]
                for k, g in pdf.groupby("key", sort=False)}

    # t-digest median of amount per event_type vs exact
    got = run("tdigest", "value", delta=300.0)
    exact = {
        r["event_type"]: r["p50"]
        for r in spark.read.parquet(src).groupBy("event_type")
        .agg(F.expr("percentile(value, 0.5)").alias("p50")).collect()
    }
    assert set(got) == set(exact)
    for k in exact:
        assert abs(got[k] - exact[k]) / max(abs(exact[k]), 1e-9) < 0.1

    # Misra-Gries per event_type: n_tracked readout bounded by k and
    # the merged per-key summary keeps the frequent-user guarantee
    got_mg = run("mg", "user_id", k=64, seed=3)
    assert set(got_mg) == set(exact)
    assert all(0 < v <= 64 for v in got_mg.values())

    # KMV distinct user_id per event_type vs exact
    got2 = run("kmv", "user_id", k=1024, seed=3)
    exact2 = {
        r["event_type"]: r["d"]
        for r in spark.read.parquet(src).groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("d")).collect()
    }
    for k in exact2:
        assert abs(got2[k] - exact2[k]) / max(exact2[k], 1) \
            <= 5 / (1024 - 2) ** 0.5 + 0.01

    with _pt.raises(ValueError):
        streaming_sketch_by_key(stream, "event_type", "value",
                                kind="nope")


def test_streaming_windowed_sketch_finalizes_on_watermark(spark, tmp_path):
    """Windowed stateful sketches with event-time finalization,
    delivered in two controlled phases:

    phase 1: key A, window 10:00 (3 distinct users) + a 13:00 row
             that pushes the watermark past A's window close;
    phase 2: a LATE A/10:00 row (beyond watermark -> dropped by
             Spark) + fresh key B rows. The A/10:00 FINAL must carry
             exactly phase-1's distinct count, and no update for that
             window may follow its final."""
    from cuckoofilter_spark.streaming.sketch_stream import (
        streaming_windowed_sketch_by_key,
    )

    src = tmp_path / "wsrc"
    src.mkdir()
    schema = "ts timestamp, k string, v long"

    res = tmp_path / "wres"

    def run():
        stream = spark.readStream.schema(schema).parquet(str(src))
        out = streaming_windowed_sketch_by_key(
            stream, "ts", "k", "v",
            window="1 hour", watermark="1 hour", kind="hll", p=14, seed=4,
        )

        def sink(df, bid):
            df.write.mode("overwrite").parquet(str(res / f"batch={bid}"))

        q = (
            out.writeStream.foreachBatch(sink)
            .outputMode("update")
            .option("checkpointLocation", str(tmp_path / "wck"))
            .trigger(availableNow=True).start()
        )
        q.awaitTermination()

    import datetime as dt

    H = dt.datetime(2024, 1, 1, 10, 0, 0)

    def ts(hh, mm):
        return dt.datetime(2024, 1, 1, hh, mm, 0)

    spark.createDataFrame(
        [(ts(10, 5), "A", 1), (ts(10, 10), "A", 2), (ts(10, 40), "A", 3),
         (ts(10, 20), "A", 1),            # dup user -> distinct stays 3
         (ts(13, 0), "C", 99)],           # watermark -> 12:00 > 11:00
        schema,
    ).coalesce(1).write.parquet(str(src), mode="append")
    run()

    spark.createDataFrame(
        [(ts(10, 50), "A", 4),            # LATE beyond watermark: dropped
         (ts(14, 0), "B", 7)],
        schema,
    ).coalesce(1).write.parquet(str(src), mode="append")
    run()

    import re as _re

    rows = []
    for d in sorted(os.listdir(res)):
        bid = int(_re.match(r"batch=(\d+)", d).group(1))
        for r in spark.read.parquet(str(res / d)).collect():
            rows.append((bid, r))
    a_final = [(b, r) for b, r in rows if r["key"] == "A" and r["final"]]
    assert len(a_final) == 1, "A/10:00 did not finalize exactly once"
    fb, row = a_final[0]
    assert row["window_start"] == H
    assert round(row["readout"]) == 3      # late user 4 NOT counted
    assert row["n_rows"] == 4
    # no A update in any batch AFTER the final (state was removed)
    assert all(b <= fb for b, r in rows if r["key"] == "A")
    # B's window is still open: updates only, no final
    b_rows = [r for _, r in rows if r["key"] == "B"]
    assert b_rows and not any(r["final"] for r in b_rows)


def test_streaming_distinct_by_key_skips_null_values(spark, tmp_path):
    """A NULL value is not a key: {1, 2, 3, NULL} holds 3 distinct
    values and {5, NULL} holds 1, while n_rows still counts every row
    of the key. The schema stays (key, n_rows, distinct_est)."""
    from cuckoofilter_spark.streaming.sketch_stream import (
        streaming_distinct_by_key,
    )

    schema = "k string, v long"
    src = str(tmp_path / "nv_src")
    spark.createDataFrame(
        [("a", 1), ("a", 2), ("a", 3), ("a", None), ("b", 5), ("b", None)],
        schema,
    ).coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(schema).parquet(src)
    q = (
        streaming_distinct_by_key(stream, "k", "v")
        .writeStream.format("memory").queryName("nv_dist")
        .outputMode("update").trigger(availableNow=True).start()
    )
    q.awaitTermination()
    out = spark.sql("SELECT * FROM nv_dist")
    assert out.schema.simpleString() == \
        "struct<key:string,n_rows:bigint,distinct_est:bigint>"
    got = {r["key"]: (r["n_rows"], r["distinct_est"])
           for r in out.collect()}
    assert got == {"a": (4, 3), "b": (2, 1)}


def _digest_batches() -> list:
    """Four micro-batches of 16 docs over a 40-phrase pool: duplicates
    inside a batch and across batches, every shard of 4 touched."""
    rng = np.random.default_rng(5)
    return [
        [(100 * b + i, f"Phrase {int(rng.integers(0, 40))}  of the stream")
         for i in range(16)]
        for b in range(4)
    ]


def _state_digests(spark, out: str) -> dict:
    """Every filter blob under ``<out>/_filter`` as ``dir -> sorted
    [shard_id, state_batch, n_keys, sha256(sketch)]``, plus the
    surviving ids of every ``data/batch=<id>``."""
    import hashlib

    from cuckoofilter_spark.plans.fsutil import list_dir_names

    got = {}
    for sub in ("shards", "panes"):
        base = f"{out}/_filter/{sub}"
        for name in sorted(list_dir_names(spark, base)):
            got[f"{sub}/{name}"] = sorted(
                [r["shard_id"], r["state_batch"], r["n_keys"],
                 hashlib.sha256(bytes(r["sketch"])).hexdigest()]
                for r in spark.read.parquet(f"{base}/{name}").collect()
            )
    for name in sorted(list_dir_names(spark, f"{out}/data")):
        got[f"data/{name}"] = sorted(
            r["doc_id"] for r in
            spark.read.parquet(f"{out}/data/{name}").collect()
        )
    return got


@pytest.fixture(scope="module")
def dedup_runs(spark, tmp_path_factory):
    """The digest stream fed one file (= one micro-batch) at a time to
    the all-history job (compacted after batch 1), the sliding job at
    horizon 2, and the sliding job at a horizon wider than the
    stream."""
    from cuckoofilter_spark.streaming.sketch_stream import (
        compact_dedup_state, run_streaming_dedup, run_streaming_dedup_sliding,
    )

    root = tmp_path_factory.mktemp("digest")
    schema = "doc_id long, text string"
    src = root / "src"
    src.mkdir()
    jobs = {
        "all": (run_streaming_dedup, {}),
        "sliding": (run_streaming_dedup_sliding, {"horizon_batches": 2}),
        "wide": (run_streaming_dedup_sliding, {"horizon_batches": 10}),
    }
    for b, rows in enumerate(_digest_batches()):
        spark.createDataFrame(rows, schema).coalesce(1) \
            .write.parquet(str(src), mode="append")
        for name, (job, kw) in jobs.items():
            stream = (
                spark.readStream.schema(schema)
                .option("maxFilesPerTrigger", 1).parquet(str(src))
            )
            job(stream, "doc_id", "text", out_dir=str(root / name),
                checkpoint_dir=str(root / f"{name}_ckpt"), capacity=2_000,
                seed=11, num_shards=4, **kw)
        if b == 1:
            assert compact_dedup_state(spark, str(root / "all"),
                                       upto_batch=1) == 2
    return {name: _state_digests(spark, str(root / name)) for name in jobs}


def test_streaming_dedup_sliding_wide_horizon_matches_all_history(
    dedup_runs,
):
    """A horizon wider than the stream never evicts, so the sliding
    job keeps exactly the all-history job's ids, batch by batch."""
    def kept(name):
        return {k: v for k, v in dedup_runs[name].items()
                if k.startswith("data/")}

    assert len(kept("all")) == 4
    assert kept("wide") == kept("all")


_PINNED_STATE = {
    "all": {
        "data/batch=0": [0, 1, 2, 4, 5, 6, 7, 8, 9, 11, 12, 13, 14, 15],
        "data/batch=1": [104, 106, 107, 109, 110, 111, 113, 114, 115],
        "data/batch=2": [200, 203, 205, 210, 212],
        "data/batch=3": [303, 304, 306, 310, 313],
        "shards/batch=2": [
            [0, 2, 6, "2e1c1934ddd8be425decd7f3fd7a320a"
                      "65a8377689e2750ce8fdece9663e0d6f"],
            [1, 2, 7, "1d297b16e181d33e7e10f5fe1d966a7d"
                      "f22001803eb3b31c215a9ee4bfeef47a"],
            [3, 2, 7, "dd8d85ca8376eac6f6a4a6a1727b0b45"
                      "d78d1ffd28b8dd10473103e8d18777b5"],
        ],
        "shards/batch=3": [
            [1, 3, 11, "af312814fc34d62f078f1bbdc429e11b"
                       "95149a7b063f6733a0131fa3ea090f70"],
            [2, 3, 9, "cb3b2de371b86a9c936c1c7fb4ba1fa3"
                      "dff0eb0e330cfa387aaae72bb96929d7"],
        ],
        "shards/snapshot=1": [
            [0, 1, 4, "7d4fd063c7d10753a7a472784ea39095"
                      "4985ff5239f4f2e9c5fc14f39b816aa2"],
            [1, 1, 5, "155989d494b0cb74cc63f20237223f24"
                      "06950dc5b78ec6d95293210fe187d342"],
            [2, 1, 8, "da0ceb0c72f6175318fb001190c1f3c3"
                      "36e7667e5fb83975537641b1830bd684"],
            [3, 1, 6, "07c0368a1e2f2eee4f916a9b3da4ff44"
                      "97b4c81efd5ee4b238e8a59ebb44a213"],
        ],
    },
    "sliding": {
        "data/batch=0": [0, 1, 2, 4, 5, 6, 7, 8, 9, 11, 12, 13, 14, 15],
        "data/batch=1": [104, 106, 107, 109, 110, 111, 113, 114, 115],
        "data/batch=2": [200, 203, 205, 210, 212],
        "data/batch=3": [303, 304, 306, 310, 311, 313],
        "panes/pane=1": [
            [0, 1, 1, "ebca5a69d611674d1f0535f7b17708ff"
                      "c590a0ca77cae2c522aba3aa37de9f53"],
            [1, 1, 3, "bb1abd939b67efe0a4c7640b08755d8f"
                      "51d121fbe9f1262338a7f09a5580db38"],
            [2, 1, 4, "6a92ca35d2cd7bd2dbaaa96f56f13935"
                      "8a68ebc7e998c4db8f6f6446a392849c"],
            [3, 1, 1, "69d07a79e2e2bc6a8dee3547447c56dd"
                      "deeb1faa18eda46e6956bd7fa5e1a7d7"],
        ],
        "panes/pane=2": [
            [0, 2, 2, "3a1b2cd55aa2de3ebde6b4797a190e69"
                      "94e4163c64bedaa2627bdc4054f92f8d"],
            [1, 2, 2, "a15898ce039be25fd2dbdfbfe1239e2d"
                      "cef4649a251b416e626f45f1cce14432"],
            [3, 2, 1, "7465517e10460f5f9e8cd8abf8e27543"
                      "7a2558059a08d75b7c290cb7eb84ff79"],
        ],
        "panes/pane=3": [
            [1, 3, 4, "43554b15079e3f97c097b3afacb895e9"
                      "b6bcf3d016dbb40b4382f7adb86e6e28"],
            [2, 3, 1, "6d2760d5427d44150e2ca387fc254a6a"
                      "0be991a064f0ed85d0723c04f0796a0b"],
            [3, 3, 1, "0aa9bb30707ebaa43e7f83c2998b9ca4"
                      "057275d8683a72ba75902350894b69f3"],
        ],
    },
}


def test_streaming_dedup_state_bytes_pinned(dedup_runs):
    """Shard blobs (a compaction snapshot included), pane blobs and
    survivors are byte-identical to the recorded run: a state dir
    written by an earlier version resumes unchanged."""
    got = {k: v for k, v in dedup_runs.items() if k != "wide"}
    assert got == _PINNED_STATE


def _continuous_job(job: str, stream, static, out: str, ckpt: str):
    from cuckoofilter_spark.streaming import sketch_stream as ss

    kw = dict(out_dir=out, checkpoint_dir=ckpt, trigger_available_now=False)
    if job == "sketch_build":
        return ss.run_streaming_sketch_build(stream, "doc_id", **kw, **PARAMS)
    if job == "dedup":
        return ss.run_streaming_dedup(stream, "doc_id", "text",
                                      capacity=1_000, num_shards=4, **kw)
    if job == "dedup_sliding":
        return ss.run_streaming_dedup_sliding(
            stream, "doc_id", "text", capacity=1_000, num_shards=4,
            horizon_batches=2, **kw)
    if job == "decontam":
        return ss.run_streaming_decontam(stream, static, "doc_id", "text",
                                         n=3, **kw)
    return ss.run_streaming_ingest(stream, static, "doc_id", "text",
                                   num_hashes=16, bands=4, rows_per_band=4,
                                   **kw)


@pytest.mark.parametrize("job,first_batch", [
    ("sketch_build", "batch=0"),
    ("dedup", "data/batch=0"),
    ("dedup_sliding", "data/batch=0"),
    ("decontam", "clean/batch=0"),
    ("ingest", "kept/batch=0"),
])
def test_streaming_job_continuous_mode_returns_query(
    spark, tmp_path, job, first_batch,
):
    """With ``trigger_available_now=False`` every foreachBatch job
    returns its started StreamingQuery at once: the caller drives it
    with ``processAllAvailable()`` and ends it with ``stop()``."""
    from pyspark.sql.streaming import StreamingQuery

    schema = "doc_id long, text string"
    rows = [(i, f"word{i % 7} shared body text number {i % 5}")
            for i in range(40)]
    src = str(tmp_path / "src")
    spark.createDataFrame(rows, schema).coalesce(2).write.parquet(src)
    stream = spark.readStream.schema(schema).parquet(src)
    static = spark.createDataFrame(rows[:6], schema)
    out = str(tmp_path / "out")
    q = _continuous_job(job, stream, static, out, str(tmp_path / "ckpt"))
    try:
        assert isinstance(q, StreamingQuery)
        assert q.isActive
        q.processAllAvailable()
        assert q.exception() is None
        assert os.path.isdir(os.path.join(out, first_batch))
    finally:
        q.stop()
    assert not q.isActive
