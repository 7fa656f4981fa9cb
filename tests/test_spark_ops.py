"""Spark integration tests: distributed build/merge/probe, approx
aggregates vs exact oracles, dedup, similarity, text, multimodal.

SURVEY.md §5.2 integration list. Uses the driver testdata at sf0.01
plus the synthetic tokens table (FIXTURES.md §1).
"""

from __future__ import annotations

import numpy as np
import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_DIR

N_DOCS = 300  # small synth corpus for token-table tests


@pytest.fixture(scope="module")
def tokens_df(spark):
    from cuckoofilter_spark.sources.tokens import synth_tokens_df

    return synth_tokens_df(spark, N_DOCS, seed=42).cache()


def test_tokens_deterministic_across_partitionings(spark):
    """Per-row token-array equality regardless of parallelism — the
    input_hint invariant."""
    from cuckoofilter_spark.sources.tokens import synth_tokens_df

    a = synth_tokens_df(spark, 50, seed=42, parts=2).collect()
    b = synth_tokens_df(spark, 50, seed=42, parts=7).collect()
    am = {r["doc_id"]: (r["tokens"], r["n_tok"], r["source"]) for r in a}
    bm = {r["doc_id"]: (r["tokens"], r["n_tok"], r["source"]) for r in b}
    assert am == bm
    for r in a:
        assert r["n_tok"] == len(r["tokens"])
        assert 16 <= r["n_tok"] <= 4096


def test_build_merge_probe_no_false_negatives(spark, tokens_df):
    from cuckoofilter_spark.operators.build import build_sketch_shards
    from cuckoofilter_spark.operators.merge import (
        collect_merged, merge_shards_to_blob,
    )
    from cuckoofilter_spark.operators.probe import might_contain_udf

    from cuckoofilter_spark.operators.merge import tree_merge

    shards = build_sketch_shards(
        tokens_df, "tokens", kind="cuckoo", lineage=False,
        max_num_keys=1 << 18, bits_per_item=12, seed=7,
    )
    # exercise the distributed tree path explicitly (the blob helper
    # would take the driver shortcut at this shard count)
    blob = bytes(tree_merge(shards, fanout=4, dedup=True).collect()[0]["sketch"])
    # tree merge must equal driver-side fold
    acc = collect_merged(
        build_sketch_shards(
            tokens_df, "tokens", kind="cuckoo", lineage=False,
            max_num_keys=1 << 18, bits_per_item=12, seed=7,
        ),
        dedup=True,
    )
    probe = might_contain_udf(spark, blob)
    truth = (
        tokens_df.select(F.explode("tokens").alias("t")).distinct()
    )
    n_true = truth.count()
    hits = truth.select(probe("t").alias("h")).filter("h").count()
    assert hits == n_true, "false negatives in distributed build"
    keys = np.array([r["t"] for r in truth.collect()], dtype=np.int64)
    assert acc.contains_many(keys.view(np.uint64)).all()
    # FPR within the f=12 paper bound 8/2^12 scaled for achieved load
    absent = np.arange(1 << 21, (1 << 21) + 200_000, dtype=np.int64)
    from cuckoofilter_spark.core.registry import sketch_from_bytes

    merged = sketch_from_bytes(blob)
    fpr = merged.contains_many(absent.view(np.uint64)).mean()
    assert fpr <= 8 / (1 << 12), f"fpr {fpr} out of bound"


def test_salted_repartition_balances_skew(spark, tokens_df):
    from cuckoofilter_spark.operators.build import salted_repartition

    df = salted_repartition(tokens_df, 8, "source", salt=13)
    sizes = (
        df.withColumn("pid", F.spark_partition_id())
        .groupBy("pid").count().collect()
    )
    counts = np.array([r["count"] for r in sizes], dtype=float)
    assert len(counts) == 8
    # the dominant 'web' source (~62%) must NOT land on one partition
    assert counts.max() / counts.sum() < 0.3


def test_semijoin_matches_exact_join(spark):
    from cuckoofilter_spark.operators.semijoin import filter_semi_join

    lineitem = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet").filter(
        "o_totalprice > 200000"
    )
    got = filter_semi_join(lineitem, "l_orderkey", orders, "o_orderkey")
    want = lineitem.join(
        orders.select("o_orderkey").distinct(),
        lineitem.l_orderkey == F.col("o_orderkey"), "left_semi",
    )
    assert got.count() == want.count()
    # approximate mode: superset with bounded overshoot
    approx = filter_semi_join(
        lineitem, "l_orderkey", orders, "o_orderkey", exact=False
    )
    n_want, n_approx = want.count(), approx.count()
    assert n_approx >= n_want
    assert n_approx - n_want <= 0.01 * lineitem.count()


def test_hll_vs_exact_and_builtin(spark, tokens_df):
    from cuckoofilter_spark.operators.approx import approx_distinct

    est = approx_distinct(tokens_df, "tokens", p=14, seed=7)
    exact = tokens_df.select(F.explode("tokens").alias("t")).distinct().count()
    assert abs(est - exact) / exact <= 3 * 1.04 / (2**14) ** 0.5
    builtin = (
        tokens_df.select(F.explode("tokens").alias("t"))
        .agg(F.approx_count_distinct("t", 0.02)).collect()[0][0]
    )
    assert abs(est - builtin) / exact <= 0.05


def test_cms_upper_bounds_truth(spark, tokens_df):
    from cuckoofilter_spark.operators.approx import cms_sketch

    sk = cms_sketch(tokens_df, "tokens", eps=0.0005, delta=0.01, seed=7)
    truth = (
        tokens_df.select(F.explode("tokens").alias("t"))
        .groupBy("t").count().orderBy(F.desc("count")).limit(30).collect()
    )
    keys = np.array([r["t"] for r in truth], dtype=np.int64)
    counts = np.array([r["count"] for r in truth], dtype=np.int64)
    est = sk.query_many(keys.view(np.uint64))
    total = tokens_df.agg(F.sum("n_tok")).collect()[0][0]
    assert (est >= counts).all()
    assert (est <= counts + 0.0005 * total + 1).all()


def test_quantile_sketches_rank_error(spark, tokens_df):
    from cuckoofilter_spark.operators.approx import approx_quantiles

    vals = np.array(
        [r["n_tok"] for r in tokens_df.select("n_tok").collect()], dtype=float
    )
    vals.sort()
    for kind in ("tdigest", "kll"):
        qs = [0.1, 0.5, 0.9]
        est = approx_quantiles(tokens_df, "n_tok", qs, kind=kind, seed=7)
        for q, e in zip(qs, est):
            rank = np.searchsorted(vals, e, side="right") / len(vals)
            assert abs(rank - q) <= 0.03, (kind, q, e, rank)


def test_minhash_finds_planted_near_dups(spark):
    from cuckoofilter_spark.operators.dedup import near_dup_pairs_minhash

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    pairs = near_dup_pairs_minhash(docs, "doc_id", "text", threshold=0.8)
    got = {(r["doc_a"], r["doc_b"]) for r in pairs.collect()}
    # known planted pairs (verified against O(n^2) exact jaccard)
    assert (285, 301) in got and (98, 290) in got and (70, 447) in got
    assert len(got) >= 20


def test_simhash_subset_of_minhash(spark):
    from cuckoofilter_spark.operators.dedup import (
        near_dup_pairs_minhash, near_dup_pairs_simhash,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    sh = {
        (r["doc_a"], r["doc_b"])
        for r in near_dup_pairs_simhash(docs, "doc_id", "text").collect()
    }
    mh = {
        (r["doc_a"], r["doc_b"])
        for r in near_dup_pairs_minhash(
            docs, "doc_id", "text", threshold=0.7
        ).collect()
    }
    assert sh, "simhash found nothing"
    assert sh <= mh, "hamming<=3 pairs must be high-jaccard pairs here"


def test_exact_dedup_keeps_min_id(spark):
    from cuckoofilter_spark.operators.dedup import dedup_exact

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(50)
    dup = docs.union(docs.withColumn("doc_id", F.col("doc_id") + 1000))
    kept = dedup_exact(dup, "doc_id", "text")
    assert kept.count() == 50
    assert kept.agg(F.max("doc_id")).collect()[0][0] < 1000


def test_ann_recall(spark):
    from cuckoofilter_spark.operators.similarity import (
        ann_recall, cosine_topk, lsh_ann_topk,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    q = emb.filter("vec_id < 10")
    exact = cosine_topk(emb, q, k=10)
    assert exact.count() == 100
    approx = lsh_ann_topk(emb, q, dim=64, k=10, n_bits=4, n_tables=32,
                          seed=2014)
    rec = ann_recall(exact, approx).agg(F.avg("recall_e4")).collect()[0][0]
    assert rec >= 8000, f"mean recall {rec / 10000:.2%} too low"


def test_multimodal_plumbing(spark):
    from cuckoofilter_spark.operators.multimodal import (
        attach_fake_media, extract_features,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(40)
    media = attach_fake_media(docs, "doc_id", "text")
    feats = extract_features(media, decoder="fake")
    rows = feats.collect()
    assert len(rows) == 40
    byte_truth = {
        r["doc_id"]: len(r["text"].encode())
        for r in docs.select("doc_id", "text").collect()
    }
    for r in rows:
        assert r["n_bytes"] == byte_truth[r["media_id"]]
        assert len(r["feature"]) == 16
    import importlib.util

    if importlib.util.find_spec("PIL") is None:
        # codec-free host: the real path must refuse loudly, naming
        # the missing package (it is live code on codec-equipped hosts
        # — tests/test_multimodal_real.py)
        with pytest.raises(
            Exception, match="NotImplementedError|not installed"
        ):
            extract_features(media, decoder="real").collect()


def test_read_tokens_parquet_fallback(spark):
    """No Iceberg runtime jar in this sandbox: read_tokens must fall
    through to the Parquet reader transparently."""
    from cuckoofilter_spark.sources.ingest import read_table, read_tokens

    df = read_tokens(spark, f"{SF_DIR}/documents.parquet")
    assert df.count() > 0 and "doc_id" in df.columns
    with pytest.raises(KeyError):
        read_table(spark, SF_DIR, "nope")


def test_multimodal_resize_and_frames(spark):
    """Resize: output blob is exactly width*height bytes and equals the
    nearest-neighbor resample of the input. Frame sampling: stride-2
    emits exactly frames 0,2,4,... with the last partial frame kept."""
    import numpy as np

    from cuckoofilter_spark.operators.multimodal import (
        attach_fake_media, resize_media, sample_frames,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(25)
    media = attach_fake_media(docs, "doc_id", "text")
    texts = {r["doc_id"]: r["text"].encode()
             for r in docs.select("doc_id", "text").collect()}

    resized = resize_media(media, width=64, height=2).collect()
    assert len(resized) == 25
    for r in resized:
        assert len(r["media"]) == 128
        assert r["meta"]["width"] == 64 and r["meta"]["height"] == 2
        src = np.frombuffer(texts[r["media_id"]], dtype=np.uint8)
        idx = np.arange(128, dtype=np.int64) * len(src) // 128
        assert bytes(r["media"]) == src[idx].tobytes()

    frames = sample_frames(media, frame_bytes=100, stride=2).collect()
    by_doc = {}
    for r in frames:
        by_doc.setdefault(r["media_id"], []).append(r)
    for mid, rows in by_doc.items():
        b = texts[mid]
        n_frames = (len(b) + 99) // 100
        want_idx = list(range(0, n_frames, 2))
        assert sorted(r["frame_idx"] for r in rows) == want_idx
        for r in rows:
            chunk = b[r["frame_idx"] * 100:(r["frame_idx"] + 1) * 100]
            assert bytes(r["frame"]) == chunk
            assert r["frame_bytes"] == len(chunk)

    import importlib.util

    if importlib.util.find_spec("PIL") is None:
        with pytest.raises(
            Exception, match="NotImplementedError|not installed"
        ):
            resize_media(media, width=8, decoder="real").collect()
    if importlib.util.find_spec("av") is None:
        with pytest.raises(
            Exception, match="NotImplementedError|not installed"
        ):
            sample_frames(media, decoder="real").collect()


def test_text_stats_deterministic(spark):
    from cuckoofilter_spark.operators.text import with_text_stats

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(30)
    a = with_text_stats(docs).collect()
    b = with_text_stats(docs).collect()
    assert sorted(map(str, a)) == sorted(map(str, b))
    for r in a:
        assert r["n_words"] > 0
        assert r["pred_lang"] in ("de", "en", "es", "fr", "und")
        assert len(r["fingerprint"]) == 32


def test_shuffle_distinct_strategy(spark, tokens_df):
    """explode→distinct build plan: disjoint reducer key ranges, zero
    false negatives, same membership as the local strategy."""
    from cuckoofilter_spark.operators.build import build_sketch_shards
    from cuckoofilter_spark.operators.merge import collect_merged

    params = dict(kind="cuckoo", lineage=False, max_num_keys=1 << 18,
                  bits_per_item=12, seed=7)
    a = collect_merged(
        build_sketch_shards(tokens_df, "tokens",
                            strategy="shuffle_distinct", **params),
        dedup=True,
    )
    truth = tokens_df.select(F.explode("tokens").alias("t")).distinct()
    keys = np.array([r["t"] for r in truth.collect()], dtype=np.int64)
    assert a.contains_many(keys.view(np.uint64)).all()
    b = collect_merged(
        build_sketch_shards(tokens_df, "tokens", strategy="local", **params),
        dedup=True,
    )
    absent = np.arange(1 << 21, (1 << 21) + 100_000, dtype=np.int64)
    # same geometry/seed ⇒ identical hash family; membership over
    # present keys identical, FPR statistically indistinguishable
    assert b.contains_many(keys.view(np.uint64)).all()
    fa = a.contains_many(absent.view(np.uint64)).mean()
    fb = b.contains_many(absent.view(np.uint64)).mean()
    assert abs(fa - fb) < 5e-3


def test_shuffle_count_and_distinct_strategies_bit_identical(spark, tokens_df):
    """The JVM pre-aggregation plans must be STATE-identical to the
    per-occurrence local builds, not just estimate-close: CMS counters
    under shuffle_count (groupBy count → weighted insert) and HLL
    registers / KMV values under shuffle_distinct equal the local
    strategy's bit for bit."""
    import pytest as _pt

    from cuckoofilter_spark.operators.approx import (
        cms_sketch, hll_sketch, kmv_sketch,
    )
    from cuckoofilter_spark.operators.build import build_sketch_shards

    c_lo = cms_sketch(tokens_df, "tokens", eps=0.001, seed=7,
                      strategy="local")
    c_sc = cms_sketch(tokens_df, "tokens", eps=0.001, seed=7,
                      strategy="shuffle_count")
    assert np.array_equal(c_lo.counts, c_sc.counts)

    h_lo = hll_sketch(tokens_df, "tokens", p=12, seed=7, strategy="local")
    h_sd = hll_sketch(tokens_df, "tokens", p=12, seed=7,
                      strategy="shuffle_distinct")
    assert np.array_equal(h_lo.registers, h_sd.registers)

    k_lo = kmv_sketch(tokens_df, "tokens", k=512, seed=7, strategy="local")
    k_sd = kmv_sketch(tokens_df, "tokens", k=512, seed=7,
                      strategy="shuffle_distinct")
    assert np.array_equal(k_lo.values, k_sd.values)

    # guard: shuffle_count is a frequency-build strategy only
    with _pt.raises(ValueError, match="shuffle_count"):
        build_sketch_shards(tokens_df, "tokens", kind="hll",
                            strategy="shuffle_count", p=12, seed=7)


def test_heavy_hitters_mg_exact_and_guard(spark):
    """Misra-Gries-gated heavy hitters: exact vs plain groupBy; the
    undersized-k case refuses loudly instead of missing hitters."""
    import pytest as _pt

    from cuckoofilter_spark.operators.approx import heavy_hitters_mg

    events = spark.read.parquet(f"{SF_DIR}/events.parquet")
    got = {(r["user_id"], r["n"]) for r in heavy_hitters_mg(
        events, "user_id", 60, k=4096, seed=7).collect()}
    want = {(r["user_id"], r["n"]) for r in (
        events.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
        .filter("n >= 60").collect())}
    assert got == want and len(want) > 0

    with _pt.raises(ValueError, match="threshold .* <= summary err"):
        heavy_hitters_mg(events, "user_id", 2, k=4, seed=7)


def test_top_k_exact_matches_full_groupby(spark):
    """Sketch-pruned exact top-k equals the full-shuffle answer
    (n DESC, key tiebreak), and the soundness check trips when the
    summary is undersized."""
    import pytest as _pt

    from cuckoofilter_spark.operators.approx import top_k_exact

    events = spark.read.parquet(f"{SF_DIR}/events.parquet")
    got = [(r["user_id"], r["n"]) for r in top_k_exact(
        events, "user_id", 25, seed=7).collect()]
    want = [(r["user_id"], r["n"]) for r in (
        events.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.col("user_id")).limit(25).collect())]
    assert got == want and len(got) == 25

    # flat tail (every key count=2): no candidate can clear the err
    # bar, so the guard must refuse rather than return a wrong top-k
    flat = spark.range(10_000).select((F.col("id") % 5000).alias("v"))
    with _pt.raises(ValueError, match="raise summary_k"):
        top_k_exact(flat, "v", 25, summary_k=26, seed=7)

    # string keys refuse loudly (the cast-to-long verify would
    # silently produce an empty candidate set)
    s = spark.createDataFrame([("a",), ("a",), ("b",)], "k string")
    with _pt.raises(ValueError, match="integral key"):
        top_k_exact(s, "k", 1)


def test_grouped_top_k_exact_matches_window(spark):
    """Per-group sketch-pruned exact top-k equals the full
    groupBy+window answer, including rank and tiebreaks."""
    from cuckoofilter_spark.operators.approx import grouped_top_k_exact

    events = spark.read.parquet(f"{SF_DIR}/events.parquet")
    got = [(r["event_type"], r["user_id"], r["n"], r["rank"])
           for r in grouped_top_k_exact(
               events, "event_type", "user_id", 5, seed=7).collect()]
    from pyspark.sql import Window
    w = Window.partitionBy("event_type").orderBy(
        F.desc("n"), F.col("user_id"))
    want = [(r["event_type"], r["user_id"], r["n"], r["rank"])
            for r in (
        events.groupBy("event_type", "user_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("rank", F.row_number().over(w))
        .filter("rank <= 5").orderBy("event_type", "rank").collect())]
    assert got == want and len(got) > 0


def test_grouped_top_k_exact_refuses_uncertifiable_group(spark):
    """A group with a flat tail (every key count=2) cannot be
    certified at a tiny summary — loud refusal naming the group."""
    import pytest as _pt

    from cuckoofilter_spark.operators.approx import grouped_top_k_exact

    df = spark.range(6000).select(
        F.when(F.col("id") < 3000, "flat").otherwise("hot").alias("g"),
        F.when(F.col("id") < 3000, F.col("id") % 1500)  # flat: all 2s
        .otherwise(F.col("id") % 5).alias("v"),         # hot: 600 each
    )
    with _pt.raises(ValueError, match="'flat'"):
        grouped_top_k_exact(df, "g", "v", 3, summary_k=4, seed=7)


def test_grouped_top_k_exact_fallback_on_uncertified(spark):
    """on_uncertified='exact': the flat-tail group falls back to the
    direct exact aggregation (no raise), the certifiable group keeps
    its pruned result, and the union equals the full groupBy+window
    answer including ranks and tiebreaks."""
    from pyspark.sql import Window

    from cuckoofilter_spark.operators.approx import grouped_top_k_exact

    df = spark.range(6000).select(
        F.when(F.col("id") < 3000, "flat").otherwise("hot").alias("g"),
        F.when(F.col("id") < 3000, F.col("id") % 1500)
        .otherwise(F.col("id") % 5).alias("v"),
    )
    got = [(r["g"], r["v"], r["n"], r["rank"]) for r in
           grouped_top_k_exact(df, "g", "v", 3, summary_k=4, seed=7,
                               on_uncertified="exact").collect()]
    w = Window.partitionBy("g").orderBy(F.desc("n"), F.col("v"))
    want = [(r["g"], r["v"], r["n"], r["rank"]) for r in
            (df.groupBy("g", "v").agg(F.count(F.lit(1)).alias("n"))
             .withColumn("rank", F.row_number().over(w))
             .filter("rank <= 3").orderBy("g", "rank").collect())]
    assert got == want
    assert {g for g, *_ in got} == {"flat", "hot"}


def test_grouped_top_k_exact_null_group(spark):
    """SQL GROUP BY keeps the NULL group; the candidate join must be
    null-safe or the whole null group silently vanishes and then
    fails certification."""
    from cuckoofilter_spark.operators.approx import grouped_top_k_exact

    df = spark.createDataFrame(
        [(None, 1)] * 5 + [(None, 2)] * 3 + [("a", 1)] * 4,
        "g string, v long",
    )
    rows = {(r["g"], r["v"], r["n"]) for r in
            grouped_top_k_exact(df, "g", "v", 2, seed=7).collect()}
    assert rows == {(None, 1, 5), (None, 2, 3), ("a", 1, 4)}


def test_grouped_top_k_exact_skewed_groups(spark):
    """Scale-shape check under group skew (round-5 verdict item 8):
    one giant Zipf-ish group plus many tiny groups — the per-group
    summary shuffle stays blob-only (one MG blob per group regardless
    of group size, plan-asserted via grouped_sketch_agg's partial/
    final shape in test_plans.py), results equal the full window
    answer, and a planted flat-tail group inside the same skewed mix
    still triggers the distributed loud refusal."""
    import pytest as _pt

    from cuckoofilter_spark.operators.approx import grouped_top_k_exact

    # giant group: 60k rows, Zipf-ish (key j has ~6000/j rows);
    # 50 tiny groups of 40 rows with a clear top-3 each
    giant = spark.range(60_000).select(
        F.lit("giant").alias("g"),
        (F.floor(6000 / (F.col("id") % 5999 + 1))).alias("v"),
    )
    tiny = spark.range(2_000).select(
        F.concat(F.lit("t"), (F.col("id") % 50)).alias("g"),
        (F.col("id") % 7).alias("v"),
    )
    df = giant.unionAll(tiny).repartition(16)
    got = [(r["g"], r["v"], r["n"], r["rank"]) for r in
           grouped_top_k_exact(df, "g", "v", 3, seed=11).collect()]
    from pyspark.sql import Window
    w = Window.partitionBy("g").orderBy(F.desc("n"), F.col("v"))
    want = [(r["g"], r["v"], r["n"], r["rank"]) for r in (
        df.groupBy("g", "v").agg(F.count(F.lit(1)).alias("n"))
        .withColumn("rank", F.row_number().over(w))
        .filter("rank <= 3").orderBy("g", "rank").collect())]
    assert got == want and len(got) == 51 * 3

    # planted flat-tail group (every key count=2, wide domain) in the
    # same skewed mix: certification must fail loudly FOR THAT GROUP
    flat = spark.range(4_000).select(
        F.lit("flat").alias("g"), (F.col("id") % 2000).alias("v"),
    )
    with _pt.raises(ValueError, match="'flat'"):
        grouped_top_k_exact(
            df.unionAll(flat), "g", "v", 3, summary_k=64, seed=11,
        )


def test_grouped_top_k_fallback_randomized_shapes(spark):
    """Randomized robustness for the certify-or-fallback mode: across
    seeded random (group, key) multisets — skew, flat ties, singleton
    groups, a NULL group — the on_uncertified='exact' answer at a
    deliberately starved summary equals the full window answer."""
    import random

    from pyspark.sql import Window

    from cuckoofilter_spark.operators.approx import grouped_top_k_exact

    rng = random.Random(20140)
    rows = []
    for g in ["a", "b", "c", "d", None]:
        style = rng.choice(["zipf", "flat", "singleton"])
        if style == "singleton":
            rows.append((g, rng.randrange(100)))
            continue
        for _ in range(rng.randrange(200, 800)):
            if style == "zipf":
                v = int(200 / (rng.randrange(1, 200)))
            else:
                v = rng.randrange(40)  # flat: heavy ties everywhere
            rows.append((g, v))
    df = spark.createDataFrame(rows, "g string, v long").repartition(7)
    got = [(r["g"], r["v"], r["n"], r["rank"]) for r in
           grouped_top_k_exact(df, "g", "v", 4, summary_k=4, seed=3,
                               on_uncertified="exact").collect()]
    w = Window.partitionBy("g").orderBy(F.desc("n"), F.col("v"))
    want = [(r["g"], r["v"], r["n"], r["rank"]) for r in (
        df.groupBy("g", "v").agg(F.count(F.lit(1)).alias("n"))
        .withColumn("rank", F.row_number().over(w))
        .filter("rank <= 4").orderBy("g", "rank").collect())]
    assert sorted(got, key=str) == sorted(want, key=str)


def test_mg_array_build_bounds_both_strategies(spark, tokens_df):
    """Distributed MG over the token arrays: the one-sided bounds and
    presence guarantee hold under both the local and the JVM
    shuffle_count plan (state may differ — the decrement schedule is
    order-dependent — but the guarantees may not)."""
    from cuckoofilter_spark.operators.approx import mg_sketch

    truth = {
        r["t"]: r["c"] for r in
        tokens_df.select(F.explode("tokens").alias("t"))
        .groupBy("t").agg(F.count(F.lit(1)).alias("c")).collect()
    }
    tk = np.array(sorted(truth), dtype=np.int64)
    tc = np.array([truth[int(k)] for k in tk], dtype=np.int64)
    for strategy in ("local", "shuffle_count"):
        sk = mg_sketch(tokens_df, "tokens", k=2048, seed=7,
                       strategy=strategy)
        assert sk.total == int(tc.sum())
        est = sk.query_many(tk.view(np.uint64))
        assert (est <= tc).all(), strategy
        assert (tc <= est + sk.err).all(), strategy
        hot = tk[tc > sk.err]
        assert (sk.query_many(hot.view(np.uint64)) > 0).all(), strategy


def test_bloom_shuffle_distinct_bit_identical(spark, tokens_df):
    """Bloom under shuffle_distinct == local bit for bit: inserts are
    OR-idempotent, so the JVM pre-distinct changes only data movement
    — the same auto cutover HLL/KMV get applies to bloom membership
    builds."""
    from cuckoofilter_spark.operators.build import build_sketch_shards
    from cuckoofilter_spark.operators.merge import collect_merged

    params = dict(kind="bloom", lineage=False, log_num_buckets=14, seed=7)
    a = collect_merged(
        build_sketch_shards(tokens_df, "tokens", strategy="local",
                            **params), dedup=False)
    b = collect_merged(
        build_sketch_shards(tokens_df, "tokens",
                            strategy="shuffle_distinct", **params),
        dedup=False)
    assert np.array_equal(a.directory, b.directory)


def test_shuffle_value_count_state_identity_discrete(spark):
    """The value-sketch collapsing plan (JVM groupBy value -> weighted
    digest insert) is STATE-identical to the per-occurrence build on a
    discrete domain: 60 distinct values x 1000 rows each is below the
    k1 no-merge bound, so both plans converge to the exact per-value
    histogram. KLL (randomized compaction) is checked on quantile
    agreement instead of raw state."""
    import pytest as _pt

    from cuckoofilter_spark.operators.approx import (
        kll_sketch, tdigest_sketch,
    )
    from cuckoofilter_spark.operators.build import build_sketch_shards

    df = spark.range(60_000).select((F.col("id") % 60).alias("v"))
    t_lo = tdigest_sketch(df, "v", delta=200.0, strategy="local")
    t_sc = tdigest_sketch(df, "v", delta=200.0,
                          strategy="shuffle_value_count")
    t_lo._compress(force=True)
    t_sc._compress(force=True)
    assert np.array_equal(t_lo.means, t_sc.means)
    assert np.array_equal(t_lo.weights, t_sc.weights)
    assert t_lo.count == t_sc.count == 60_000

    k_lo = kll_sketch(df, "v", k=200, seed=7, strategy="local")
    k_sc = kll_sketch(df, "v", k=200, seed=7,
                      strategy="shuffle_value_count")
    assert k_sc.n == 60_000
    for q in (0.1, 0.5, 0.9):
        # 60 equally-weighted values: both must land within one value
        # step of the exact quantile
        assert abs(k_lo.quantile(q) - k_sc.quantile(q)) <= 2.0

    # guard: shuffle_value_count is a value-build strategy only
    with _pt.raises(ValueError, match="shuffle_value_count"):
        build_sketch_shards(df, "v", kind="hll",
                            strategy="shuffle_value_count", p=12, seed=7)


def test_shuffle_strategies_drop_null_keys(spark):
    """Null keys (null array elements, null scalars) must be dropped
    JVM-side in the shuffle strategies exactly as the Arrow flatten drops
    them in the local path — previously a null token made the keys and
    counts arrays different lengths and crashed add_many at scale."""
    from pyspark.sql.types import (
        ArrayType, LongType, StructField, StructType,
    )

    from cuckoofilter_spark.operators.approx import (
        cms_sketch, hll_sketch,
    )

    rows = [([1, 2, None, 3],), ([4, None, 1],), (None,), ([],)]
    df = spark.createDataFrame(
        rows,
        StructType([StructField(
            "tokens", ArrayType(LongType(), containsNull=True), True
        )]),
    )
    c_lo = cms_sketch(df, "tokens", eps=0.01, seed=7, strategy="local")
    c_sc = cms_sketch(df, "tokens", eps=0.01, seed=7,
                      strategy="shuffle_count")
    assert np.array_equal(c_lo.counts, c_sc.counts)
    h_lo = hll_sketch(df, "tokens", p=12, seed=7, strategy="local")
    h_sd = hll_sketch(df, "tokens", p=12, seed=7,
                      strategy="shuffle_distinct")
    assert np.array_equal(h_lo.registers, h_sd.registers)


def test_distributed_delete_routing(spark):
    """Distributed delete over hash-disjoint (shuffle_distinct) shards:
    deleted keys drop out, survivors keep zero false negatives."""
    from cuckoofilter_spark.operators.build import build_sketch_shards
    from cuckoofilter_spark.operators.delete import delete_from_shards
    from cuckoofilter_spark.operators.merge import collect_merged

    supplier = spark.read.parquet(f"{SF_DIR}/supplier.parquet") \
        .select("s_suppkey").distinct()
    n_shards = 8
    shards = build_sketch_shards(
        supplier, "s_suppkey", kind="cuckoo", lineage=False,
        max_num_keys=20_000, bits_per_item=16, seed=3,
        strategy="shuffle_distinct", shuffle_partitions=n_shards,
    )
    evens = supplier.filter(F.col("s_suppkey") % 2 == 0)
    after = delete_from_shards(shards, evens, "s_suppkey", n_shards)
    merged = collect_merged(after, dedup=False)
    odd = np.array(
        [r[0] for r in supplier.filter("s_suppkey % 2 = 1").collect()],
        dtype=np.int64,
    ).view(np.uint64)
    even = np.array([r[0] for r in evens.collect()], dtype=np.int64) \
        .view(np.uint64)
    assert merged.contains_many(odd).all(), "delete broke survivors"
    # deleted keys may only hit at the residual FPR (f=16 -> ~0.02%)
    assert merged.contains_many(even).mean() < 0.01


def test_delete_refuses_local_strategy_and_wrong_num_shards(spark):
    """Shard rows carry build strategy + shard count; misrouted deletes
    (local-strategy shards or a wrong num_shards) raise instead of
    silently missing the owning shard."""
    import pytest
    from pyspark.errors import PythonException

    from cuckoofilter_spark.operators.build import build_sketch_shards
    from cuckoofilter_spark.operators.delete import delete_from_shards

    supplier = spark.read.parquet(f"{SF_DIR}/supplier.parquet") \
        .select("s_suppkey").distinct()
    local_shards = build_sketch_shards(
        supplier, "s_suppkey", kind="cuckoo", lineage=False,
        max_num_keys=20_000, bits_per_item=16, seed=3,
    )
    keys = supplier.limit(10)
    with pytest.raises(PythonException, match="shuffle_distinct"):
        delete_from_shards(local_shards, keys, "s_suppkey", 8).collect()

    sd_shards = build_sketch_shards(
        supplier, "s_suppkey", kind="cuckoo", lineage=False,
        max_num_keys=20_000, bits_per_item=16, seed=3,
        strategy="shuffle_distinct", shuffle_partitions=8,
    )
    with pytest.raises(PythonException, match="num_shards"):
        delete_from_shards(sd_shards, keys, "s_suppkey", 16).collect()


def test_delete_surfaces_not_found_counts(spark):
    """Deleting never-stored keys lands in metrics.n_not_found instead
    of being silently swallowed."""
    from cuckoofilter_spark.operators.build import build_sketch_shards
    from cuckoofilter_spark.operators.delete import delete_from_shards

    supplier = spark.read.parquet(f"{SF_DIR}/supplier.parquet") \
        .select("s_suppkey").distinct()
    shards = build_sketch_shards(
        supplier, "s_suppkey", kind="cuckoo", lineage=False,
        max_num_keys=20_000, bits_per_item=16, seed=3,
        strategy="shuffle_distinct", shuffle_partitions=8,
    )
    absent = spark.range(10**9, 10**9 + 100).select(
        F.col("id").alias("s_suppkey")
    )
    after = delete_from_shards(shards, absent, "s_suppkey", 8)
    rows = after.select("metrics.n_deleted", "metrics.n_not_found").collect()
    assert sum(r["n_not_found"] for r in rows) == 100
    assert sum(r["n_deleted"] for r in rows) == 0


def test_probe_null_keys_return_null(spark):
    """NULL keys must not be coerced to key 0 — the probe returns NULL
    for them (Spark might_contain semantics)."""
    from cuckoofilter_spark.operators.build import build_sketch_shards
    from cuckoofilter_spark.operators.merge import merge_shards_to_blob
    from cuckoofilter_spark.operators.probe import might_contain_udf

    base = spark.range(1, 1001).select(F.col("id").alias("k"))
    shards = build_sketch_shards(
        base, "k", kind="cuckoo", lineage=False,
        max_num_keys=2000, bits_per_item=16, seed=1,
    )
    blob = merge_shards_to_blob(shards, dedup=True)
    probe = might_contain_udf(spark, blob)
    df = spark.createDataFrame(
        [(1,), (None,), (500,), (None,)], "k long"
    ).select(F.col("k"), probe("k").alias("hit"))
    rows = {r["k"]: r["hit"] for r in df.collect()}
    assert rows[1] is True and rows[500] is True
    assert df.filter(F.col("hit").isNull()).count() == 2


def test_minhash_permutation_is_exact_universal_family():
    """The (a·h+b) mod p permutation must never overflow before its
    mod-p reduction: with p = 2^31-1 and a,h < p the product fits
    uint64 exactly, and _fold31 must equal true mod for ANY uint64."""
    from cuckoofilter_spark.operators.dedup import (
        _MERSENNE, _fold31, _perm_params,
    )

    assert _MERSENNE == (1 << 31) - 1
    rng = np.random.Generator(np.random.PCG64(3))
    z = rng.integers(0, 2**64, 5000, dtype=np.uint64)
    red = _fold31(z)
    for i in range(0, 5000, 23):
        assert int(red[i]) == int(z[i]) % _MERSENNE
    edge = np.array(
        [0, 1, _MERSENNE - 1, _MERSENNE, 2**31, 2**62, 2**64 - 1],
        dtype=np.uint64,
    )
    assert [int(v) for v in _fold31(edge)] == [
        int(v) % _MERSENNE for v in edge
    ]
    a, b = _perm_params(128, 2014)
    assert (1 <= a).all() and (a < _MERSENNE).all()
    assert (0 <= b).all() and (b < _MERSENNE).all()
    # full permutation vs big-int oracle
    h = _fold31(rng.integers(0, 2**64, 200, dtype=np.uint64))
    vals = _fold31(h[:, None].astype(np.uint64) * a.astype(np.uint64)[None, :]
                   + b.astype(np.uint64)[None, :])
    for i in range(0, 200, 17):
        for j in range(0, 128, 31):
            assert int(vals[i, j]) == (
                int(a[j]) * int(h[i]) + int(b[j])
            ) % _MERSENNE


def test_string_key_build_and_probe(spark):
    """String key columns pre-hash JVM-side (xxhash64) on build AND
    probe — zero false negatives over a string id column."""
    from cuckoofilter_spark.operators.build import (
        build_sketch_shards, string_key_expr,
    )
    from cuckoofilter_spark.operators.merge import merge_shards_to_blob
    from cuckoofilter_spark.operators.probe import might_contain_udf

    docs = spark.range(0, 3000).select(
        F.concat(F.lit("key-"), F.col("id")).alias("k")
    )
    for strategy in ("local", "shuffle_distinct"):
        shards = build_sketch_shards(
            docs, "k", kind="cuckoo", lineage=False,
            max_num_keys=6000, bits_per_item=16, seed=4,
            strategy=strategy,
            **({"shuffle_partitions": 8}
               if strategy == "shuffle_distinct" else {}),
        )
        blob = merge_shards_to_blob(shards, dedup=True)
        probe = might_contain_udf(spark, blob)
        misses = docs.filter(~probe(string_key_expr("k"))).count()
        assert misses == 0, f"false negatives under {strategy}"


def test_lsh_skew_guard_bounds_buckets_same_output(spark):
    """A boilerplate family holding ~30% of the corpus lands in one
    LSH bucket; the skew guard must tile it so no join task sees more
    than ~2x the cap, while the candidate pair set stays IDENTICAL."""
    import random

    from cuckoofilter_spark.operators.dedup import (
        lsh_candidate_pairs, minhash_signatures,
    )

    rnd = random.Random(7)
    vocab = [f"w{i}" for i in range(500)]
    boiler = " ".join(rnd.choices(vocab, k=60))
    rows = []
    for i in range(300):  # 30% boilerplate: identical text -> one bucket
        rows.append((i, boiler))
    for i in range(300, 1000):
        rows.append((i, " ".join(rnd.choices(vocab, k=60))))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sigs = minhash_signatures(docs, "doc_id", "text").cache()

    cap = 64
    guarded = lsh_candidate_pairs(sigs, bucket_cap=cap)
    unguarded = lsh_candidate_pairs(sigs, bucket_cap=None)
    got = sorted((r["doc_a"], r["doc_b"]) for r in guarded.collect())
    want = sorted((r["doc_a"], r["doc_b"]) for r in unguarded.collect())
    assert got == want
    assert len(got) >= 300 * 299 // 2  # the boilerplate clique survives

    # bounded task input: rebuild the tiled layout and measure the
    # largest (band, bh, tile) group the join would receive
    from pyspark.sql import functions as F2

    banded = sigs.select(
        "doc",
        F2.posexplode(
            F2.transform(
                F2.sequence(F2.lit(0), F2.lit(31)),
                lambda i: F2.hash(
                    F2.slice("sig", (i * 4 + 1).cast("int"), 4)
                ),
            )
        ).alias("band", "bh"),
    )
    hot = (
        banded.groupBy("band", "bh").count().filter(F2.col("count") > cap)
        .select("band", "bh",
                F2.ceil(F2.col("count") / cap).cast("int").alias("g"))
    )
    tiled = (
        banded.join(F2.broadcast(hot), ["band", "bh"], "left")
        .withColumn("g", F2.coalesce("g", F2.lit(1)))
        .withColumn("c", F2.pmod(F2.hash("doc"), F2.col("g")))
        .withColumn(
            "tile",
            F2.explode(F2.transform(
                F2.sequence(F2.lit(0), F2.col("g") - 1),
                lambda i: F2.when(i <= F2.col("c"),
                                  i * (1 << 20) + F2.col("c"))
                .otherwise(F2.col("c") * (1 << 20) + i),
            )),
        )
    )
    max_group = (
        tiled.groupBy("band", "bh", "tile").count()
        .agg(F2.max("count")).collect()[0][0]
    )
    # two chunks of <= ~cap·(1+slack) rows meet per tile
    assert max_group <= int(2.5 * cap), max_group


def test_heavy_hitters_exact_and_pruning(spark):
    """CMS-pruned heavy hitters must equal the exact groupBy/HAVING
    answer (one-sided CMS error => zero false negatives), and the
    candidate filter must actually prune on a skewed corpus."""
    from cuckoofilter_spark.operators.approx import (
        cms_estimate_udf, cms_sketch, heavy_hitters,
    )

    # skewed synthetic: key k appears ~2^(10-k) times
    rows = [(k,) for k in range(11) for _ in range(1 << (10 - k))]
    df = spark.createDataFrame(rows, "k long").repartition(8)
    got = sorted((r["k"], r["n"]) for r in
                 heavy_hitters(df, "k", threshold=128, eps=1e-3,
                               seed=3).collect())
    want = sorted(
        (r["k"], r["n"]) for r in
        df.groupBy("k").count().withColumnRenamed("count", "n")
        .filter(F.col("n") >= 128).collect()
    )
    assert got == want and len(got) == 4  # k=0..3 (1024,512,256,128)

    # pruning: the estimate filter keeps only candidate ROWS
    sk = cms_sketch(df, "k", eps=1e-3, seed=3)
    est = cms_estimate_udf(spark, sk.to_bytes())
    n_cand = df.filter(est(F.col("k")) >= 128).count()
    assert n_cand < df.count()  # tail keys' rows were pruned
    assert n_cand >= 1024 + 512 + 256 + 128  # no hitter row lost


def test_grouped_sketch_agg_hll_and_tdigest(spark):
    """Per-group mergeable sketch UDAF: HLL estimates within the
    published 3sigma bound of exact per-group distincts; t-digest p50
    within the per-group value range; blobs re-mergeable across two
    half-builds (associativity at the group level)."""
    import math

    from cuckoofilter_spark.core.registry import sketch_from_bytes
    from cuckoofilter_spark.operators.grouped import grouped_sketch_agg

    events = spark.read.parquet(f"{SF_DIR}/events.parquet")
    got = {
        r["event_type"]: (r["estimate"], bytes(r["sketch"]))
        for r in grouped_sketch_agg(
            events, "event_type", "user_id", kind="hll", p=14, seed=7
        ).collect()
    }
    exact = {
        r["event_type"]: r["n"]
        for r in events.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n")).collect()
    }
    assert set(got) == set(exact)
    rel = 3 * 1.04 / math.sqrt(1 << 14)
    for et, n in exact.items():
        est, _ = got[et]
        assert abs(est - n) <= rel * n + 3, (et, est, n)

    # group-level merge associativity: two half-builds merge to the
    # same estimate as the single-pass build
    half1, half2 = events.randomSplit([0.5, 0.5], seed=4)
    m1 = {r["event_type"]: bytes(r["sketch"]) for r in grouped_sketch_agg(
        half1, "event_type", "user_id", kind="hll", p=14, seed=7).collect()}
    m2 = {r["event_type"]: bytes(r["sketch"]) for r in grouped_sketch_agg(
        half2, "event_type", "user_id", kind="hll", p=14, seed=7).collect()}
    for et in got:
        merged = sketch_from_bytes(m1[et]).merge(sketch_from_bytes(m2[et]))
        assert abs(merged.estimate() - got[et][0]) < 1e-9

    td = {
        r["event_type"]: r["p50"]
        for r in grouped_sketch_agg(
            events, "event_type", "value", kind="tdigest", seed=7
        ).collect()
    }
    bounds = {
        r["event_type"]: (r["lo"], r["hi"])
        for r in events.groupBy("event_type").agg(
            F.expr("percentile(value, 0.4)").alias("lo"),
            F.expr("percentile(value, 0.6)").alias("hi"),
        ).collect()
    }
    for et, p50 in td.items():
        lo, hi = bounds[et]
        assert lo <= p50 <= hi, (et, p50, lo, hi)

    # SQL GROUP BY semantics: NULL group kept, NULL values skipped
    df = spark.createDataFrame(
        [("a", 1), ("a", 2), (None, 3), (None, 3), ("b", None), ("b", 7)],
        "g string, v long",
    )
    small = {
        r["g"]: r["estimate"]
        for r in grouped_sketch_agg(df, "g", "v", kind="hll", p=12,
                                    seed=1).collect()
    }
    assert abs(small["a"] - 2) < 0.5
    assert abs(small[None] - 1) < 0.5
    assert abs(small["b"] - 1) < 0.5

    # group column type is preserved (long stays long, incl. null group)
    dfi = spark.createDataFrame(
        [(1, 10), (1, 11), (2, 12), (None, 13)], "g long, v long"
    )
    out = grouped_sketch_agg(dfi, "g", "v", kind="hll", p=12, seed=1)
    assert out.schema["g"].dataType.simpleString() == "bigint"
    ints = {r["g"]: round(r["estimate"]) for r in out.collect()}
    assert ints == {1: 2, 2: 1, None: 1}


def test_duplicate_clusters_and_keep_one(spark):
    """Connected components over a known pair graph: a 4-chain (path,
    diameter 3 — exercises multi-round propagation), a triangle, and a
    2-pair. Reps must be the component minima; dedup_near keeps only
    reps plus unpaired docs."""
    from cuckoofilter_spark.operators.dedup import (
        dedup_near, duplicate_clusters,
    )

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4),          # chain 1-2-3-4
         (10, 11), (11, 12), (10, 12),    # triangle
         (20, 21)],                        # pair
        "doc_a long, doc_b long",
    )
    got = {r["doc"]: r["rep"] for r in duplicate_clusters(pairs).collect()}
    assert got == {1: 1, 2: 1, 3: 1, 4: 1,
                   10: 10, 11: 10, 12: 10, 20: 20, 21: 20}

    docs = spark.createDataFrame(
        [(i, f"t{i}") for i in [1, 2, 3, 4, 10, 11, 12, 20, 21, 99]],
        "doc_id long, text string",
    )
    kept = sorted(r["doc_id"]
                  for r in dedup_near(docs, pairs, "doc_id").collect())
    assert kept == [1, 10, 20, 99]

    # composes with embedding near-dup pairs (id_a/id_b columns)
    from cuckoofilter_spark.operators.similarity import (
        cosine_near_dup_pairs_blocked,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    epairs = cosine_near_dup_pairs_blocked(emb, threshold=0.44, n_blocks=4)
    reps = duplicate_clusters(epairs, pair_cols=("id_a", "id_b")).collect()
    assert len(reps) > 0
    by_doc = {r["doc"]: r["rep"] for r in reps}
    for doc, rep in by_doc.items():
        assert rep <= doc and by_doc[rep] == rep  # rep is component min


def test_grouped_sketch_agg_high_cardinality(spark):
    """10^5 groups: repartition_by_group=True clusters rows so each
    task holds ~cardinality/partitions live sketches (bounded memory at
    any group count) and the result stays exact per group."""
    from pyspark.sql import functions as F2

    from cuckoofilter_spark.operators.grouped import grouped_sketch_agg

    n = 100_000
    df = spark.range(n).select(
        F2.col("id").alias("g"), (F2.col("id") * 7 + 1).alias("v")
    )
    out = grouped_sketch_agg(
        df, "g", "v", kind="hll", p=4, repartition_by_group=True,
    )
    rows = out.collect()
    assert len(rows) == n
    # singleton groups: every HLL must estimate ~1
    ests = [r["estimate"] for r in rows[:1000]]
    assert all(0.5 <= e <= 2.0 for e in ests)


def test_duplicate_clusters_long_chain_star_fallback(spark):
    """A 61-node path (diameter 60 > max_iter) must CONVERGE via the
    large-star/small-star fallback instead of raising — and produce
    the same component minima min-label propagation would. The star
    path is also checked directly on a mixed graph."""
    from cuckoofilter_spark.operators.dedup import (
        duplicate_clusters, star_contraction_components,
    )

    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(60)], "doc_a long, doc_b long"
    )
    got = {r["doc"]: r["rep"]
           for r in duplicate_clusters(chain, max_iter=5).collect()}
    assert got == {i: 0 for i in range(61)}

    # direct star contraction on chain + triangle + pair (+ shuffled
    # ids so the min is not always the first-listed endpoint)
    edges = spark.createDataFrame(
        [(5, 4), (4, 3), (3, 7),            # chain with min 3
         (100, 90), (90, 95), (95, 100),    # triangle, min 90
         (51, 50)],
        "src long, dst long",
    )
    comp = {r["doc"]: r["rep"]
            for r in star_contraction_components(edges).collect()}
    assert comp == {3: 3, 4: 3, 5: 3, 7: 3,
                    90: 90, 95: 90, 100: 90, 50: 50, 51: 50}


def test_ngram_prefix_filter_completeness(spark):
    """PPJoin prefix filtering must find EXACTLY the brute-force pair
    set (recall theorem, not an S-curve) — checked on a corpus with
    near-dups straddling the 0.6 threshold, including with an
    aggressive bucket_cap so the skew tiling is also exercised."""
    import random

    from cuckoofilter_spark.operators.dedup import (
        near_dup_pairs_ngram, verified_jaccard_pairs,
    )

    rnd = random.Random(23)
    vocab = [f"w{i}" for i in range(300)]
    base = rnd.choices(vocab, k=80)
    rows = []
    for i in range(120):
        words = list(base)
        for _ in range(rnd.randrange(0, 40)):  # 0-50% perturbation
            words[rnd.randrange(len(words))] = rnd.choice(vocab)
        rows.append((i, " ".join(words)))
    for i in range(120, 220):
        rows.append((i, " ".join(rnd.choices(vocab, k=80))))
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    # brute force: verify EVERY pair (candidate set = all pairs)
    all_pairs = (
        docs.alias("a").select(F.col("doc_id").alias("doc_a"))
        .join(
            docs.alias("b").select(F.col("doc_id").alias("doc_b")),
            F.col("doc_a") < F.col("doc_b"),
        )
    )
    want = sorted(
        (r["doc_a"], r["doc_b"], r["j_e4"])
        for r in verified_jaccard_pairs(
            docs, all_pairs, "doc_id", "text", threshold=0.6
        ).collect()
    )
    assert want, "fixture produced no qualifying pairs"
    for cap in (8192, 32):
        got = sorted(
            (r["doc_a"], r["doc_b"], r["j_e4"])
            for r in near_dup_pairs_ngram(
                docs, "doc_id", "text", threshold=0.6, bucket_cap=cap
            ).collect()
        )
        assert got == want, f"cap={cap}: prefix filter missed pairs"


def test_simhash_skew_guard_same_output(spark):
    """Near-identical boilerplate shares ALL four simhash bands — the
    worst skew case (every member of the family meets in 4 buckets).
    The tiled band join must emit the identical verified pair set as
    the unguarded join."""
    import random

    from cuckoofilter_spark.operators.dedup import near_dup_pairs_simhash

    rnd = random.Random(11)
    vocab = [f"w{i}" for i in range(500)]
    boiler = " ".join(rnd.choices(vocab, k=60))
    rows = [(i, boiler) for i in range(200)]  # identical simhash clique
    for i in range(200, 600):
        rows.append((i, " ".join(rnd.choices(vocab, k=60))))
    docs = spark.createDataFrame(rows, "doc_id long, text string")

    guarded = near_dup_pairs_simhash(
        docs, "doc_id", "text", max_hamming=3, bucket_cap=64
    )
    unguarded = near_dup_pairs_simhash(
        docs, "doc_id", "text", max_hamming=3, bucket_cap=None
    )
    got = sorted((r["doc_a"], r["doc_b"], r["hamming"])
                 for r in guarded.collect())
    want = sorted((r["doc_a"], r["doc_b"], r["hamming"])
                  for r in unguarded.collect())
    assert got == want
    assert len(got) >= 200 * 199 // 2  # the boilerplate clique survives


def test_rolling_fingerprint_udf_matches_sql_fold(spark):
    """The vectorized rolling-hash UDF and the pure-Column aggregate
    fold must produce identical fingerprints (same Horner algebra)."""
    from cuckoofilter_spark.operators.text import (
        fingerprint_rolling, fingerprint_rolling_sql,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(100)
    both = docs.select(
        fingerprint_rolling("text").alias("fast"),
        fingerprint_rolling_sql("text").alias("ref"),
    )
    assert both.filter(F.col("fast") != F.col("ref")).count() == 0
    edge = spark.createDataFrame(
        [("",), (None,), ("a",), ("ab cd",)], "text string"
    ).select(
        fingerprint_rolling("text").alias("fast"),
        fingerprint_rolling_sql("text").alias("ref"),
    ).collect()
    for r in edge:
        assert (r["fast"] or 0) == (r["ref"] or 0), r


def test_ivf_topk_recall_and_plan(spark):
    """IVF ANN: deterministic centroids, equi-join candidates, exact
    re-rank — recall@10 >= 0.7 on the test corpus, no cartesian."""
    from cuckoofilter_spark.operators.similarity import (
        ann_recall, cosine_topk, ivf_topk,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    q = emb.filter(F.col("vec_id") < 20)
    approx = ivf_topk(emb, q, k=10, n_cells=32, nprobe=16, seed=2014)
    plan = approx._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    exact = cosine_topk(emb, q, k=10)
    rec = ann_recall(exact, approx).agg(F.avg("recall_e4")).collect()[0][0]
    assert rec >= 7000, rec
    # determinism: same seed -> same result set
    again = ivf_topk(emb, q, k=10, n_cells=32, nprobe=16, seed=2014)
    a = sorted(tuple(r) for r in approx.collect())
    b = sorted(tuple(r) for r in again.collect())
    assert a == b

    # Lloyd refinement: recall at the SAME nprobe must not degrade
    # (tighter, balanced cells), and refined runs stay deterministic
    refined = ivf_topk(
        emb, q, k=10, n_cells=32, nprobe=16, seed=2014, refine_iters=2
    )
    rec_r = ann_recall(exact, refined).agg(F.avg("recall_e4")).collect()[0][0]
    assert rec_r >= rec - 500, (rec_r, rec)  # no material regression
    refined2 = ivf_topk(
        emb, q, k=10, n_cells=32, nprobe=16, seed=2014, refine_iters=2
    )
    assert sorted(tuple(r) for r in refined.collect()) == sorted(
        tuple(r) for r in refined2.collect()
    )


def test_first_band_prefilter_same_pairs(spark):
    """The map-side first-matching-band predicate is an optimization
    hook ONLY: candidate pairs from the fused minhash_table path (with
    the pre-filter) must equal the plain banded join without it — with
    and without hot-bucket tiling, and including the all-sentinel
    signatures of empty/short docs."""
    import random

    from cuckoofilter_spark.operators.dedup import (
        _lsh_pairs_from_banded, minhash_table, tiled_band_self_join,
    )

    rnd = random.Random(31)
    vocab = [f"w{i}" for i in range(300)]
    boiler = " ".join(rnd.choices(vocab, k=40))
    rows = [(i, boiler) for i in range(120)]
    rows += [
        (i, " ".join(rnd.choices(vocab, k=40))) for i in range(120, 600)
    ]
    rows += [(900, ""), (901, "one two")]  # < k words -> sentinel sig
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    tbl = minhash_table(docs, "doc_id", "text").cache()
    banded = tbl.select(
        "doc", "bhs", F.posexplode("bhs").alias("band", "bh")
    )
    for cap in (None, 48):
        filtered = _lsh_pairs_from_banded(banded, bands=32, bucket_cap=cap)
        plain = tiled_band_self_join(
            banded.drop("bhs"), "doc", band_cols=("band", "bh"),
            bucket_cap=cap,
        )
        got = sorted((r["doc_a"], r["doc_b"]) for r in filtered.collect())
        want = sorted((r["doc_a"], r["doc_b"]) for r in plain.collect())
        assert got == want, f"cap={cap}: pre-filter changed the pair set"
        assert len(got) >= 120 * 119 // 2  # boilerplate clique survives
        assert (900, 901) in set(got)  # sentinel docs pair together
    tbl.unpersist()


def test_verify_broadcast_matches_shuffle(spark):
    """verified_jaccard_pairs_from_sets must produce identical rows
    (including j_e4 values) on the broadcast-hash and shuffle join
    paths — the broadcast gate is a physical-plan choice only."""
    import random

    from cuckoofilter_spark.operators.dedup import (
        shingle_sets, verified_jaccard_pairs_from_sets,
    )

    rnd = random.Random(5)
    vocab = [f"w{i}" for i in range(200)]
    base = rnd.choices(vocab, k=60)
    rows = []
    for i in range(80):
        words = list(base)
        for _ in range(rnd.randrange(0, 25)):
            words[rnd.randrange(len(words))] = rnd.choice(vocab)
        rows.append((i, " ".join(words)))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    sets = shingle_sets(docs, "doc_id", "text").cache()
    pairs = (
        docs.select(F.col("doc_id").alias("doc_a"))
        .join(
            docs.select(F.col("doc_id").alias("doc_b")),
            F.col("doc_a") < F.col("doc_b"),
        )
    )
    rows_b = sorted(
        tuple(r) for r in verified_jaccard_pairs_from_sets(
            sets, pairs, threshold=0.6, broadcast_sets=True
        ).collect()
    )
    rows_s = sorted(
        tuple(r) for r in verified_jaccard_pairs_from_sets(
            sets, pairs, threshold=0.6, broadcast_sets=False
        ).collect()
    )
    assert rows_b == rows_s
    assert rows_b, "fixture produced no qualifying pairs"
    sets.unpersist()


def test_gopher_rules_crafted(spark):
    """Each Gopher rule fires on exactly the crafted doc built to
    violate it (and the good doc passes all seven)."""
    from cuckoofilter_spark.operators.text import with_gopher_flags

    good = ("the cat sat with the dog and that was fine to see of all "
            "things have been good here today " * 5)  # 80 words, all rules ok
    docs = [
        ("good", good),
        ("short", "the of and that have with be to"),     # < 50 words
        ("longwl", " ".join(["abcdefghijklmnop"] * 60)    # mean wl > 10
         + " the of"),
        ("symbols", good + " " + "# " * 40),              # > 0.1 #/word
        ("bullets", "\n".join(["- item the of"] * 10)),   # 100% bullet lines
        ("ellipses", "\n".join([good[:40] + "..."] * 10)),  # all lines ...
        ("numeric", " ".join(["123"] * 60) + " the of"),  # < 80% alpha words
        ("nostop", " ".join(["zork"] * 60)),              # < 2 stopwords
    ]
    df = spark.createDataFrame(docs, ["doc_id", "text"])
    rows = {r["doc_id"]: r for r in with_gopher_flags(df).collect()}

    assert rows["good"]["gopher_keep"]
    for did, rule in [
        ("short", "r_words"), ("longwl", "r_mean_wl"),
        ("symbols", "r_symbol"), ("bullets", "r_bullet"),
        ("ellipses", "r_ellipsis"), ("numeric", "r_alpha"),
        ("nostop", "r_stop"),
    ]:
        assert not rows[did][rule], (did, rule)
        assert not rows[did]["gopher_keep"], did


def test_gopher_filter_and_stats(spark):
    """gopher_filter row set == flag-derived keep set; gopher_stats
    counts reconcile with the per-doc flags; custom stopword list is
    honored."""
    from cuckoofilter_spark.operators.text import (
        gopher_filter, gopher_stats, with_gopher_flags,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(200)
    sw = ["the", "a", "value", "table"]
    flagged = with_gopher_flags(docs, stopwords=sw)
    kept_ids = {r["doc_id"] for r in
                flagged.filter("gopher_keep").select("doc_id").collect()}
    filt_ids = {r["doc_id"] for r in
                gopher_filter(docs, stopwords=sw).select("doc_id").collect()}
    assert kept_ids == filt_ids and len(filt_ids) > 0
    # custom stopwords must change the verdict vs the English default
    # (the synthetic vocab has only 'the' from the canonical list)
    default_kept = gopher_filter(docs).count()
    assert default_kept == 0 and len(filt_ids) > 0

    stats = gopher_stats(docs, stopwords=sw).collect()
    assert sum(r["n_kept"] for r in stats) == len(kept_ids)
    assert sum(r["n_docs"] for r in stats) == 200
    # filter drops the flag columns
    assert "r_words" not in gopher_filter(docs, stopwords=sw).columns


def test_crosscorpus_pairs_match_selfjoin_restriction(spark):
    """Cross-corpus pairs over a (new, existing) split == the full
    self-join pair set restricted to cross pairs (either orientation):
    same kernel, same LSH family, no pair invented or lost by the
    two-sided band join."""
    from cuckoofilter_spark.operators.dedup import (
        near_dup_pairs_crosscorpus, near_dup_pairs_minhash,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    new = docs.filter(F.col("doc_id") % 5 == 0)
    old = docs.filter(F.col("doc_id") % 5 != 0)
    cross = {
        (r["doc_a"], r["doc_b"], r["j_e4"])
        for r in near_dup_pairs_crosscorpus(
            new, old, "doc_id", "text", threshold=0.8
        ).collect()
    }
    full = {
        (r["doc_a"], r["doc_b"], r["j_e4"])
        for r in near_dup_pairs_minhash(
            docs, "doc_id", "text", threshold=0.8
        ).collect()
    }
    expect = {
        (a, b, j) for (a, b, j) in full if a % 5 == 0 and b % 5 != 0
    } | {
        (b, a, j) for (a, b, j) in full if a % 5 != 0 and b % 5 == 0
    }
    assert cross == expect and len(cross) > 0


def test_crosscorpus_tiling_invariant(spark):
    """Forcing the skew guard (bucket_cap=2 → every bucket is 'hot'
    and splits on both sides) must not change the emitted pair set."""
    from cuckoofilter_spark.operators.dedup import near_dup_pairs_crosscorpus

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(200)
    new = docs.filter(F.col("doc_id") % 3 == 0)
    old = docs.filter(F.col("doc_id") % 3 != 0)
    kw = dict(threshold=0.7)
    a = {(r["doc_a"], r["doc_b"]) for r in near_dup_pairs_crosscorpus(
        new, old, "doc_id", "text", bucket_cap=2, **kw).collect()}
    b = {(r["doc_a"], r["doc_b"]) for r in near_dup_pairs_crosscorpus(
        new, old, "doc_id", "text", bucket_cap=None, **kw).collect()}
    assert a == b


def test_dedup_against_corpus_gates(spark):
    """Exact duplicate, near duplicate, and novel docs in a new batch:
    only the novel one survives incremental ingest."""
    from cuckoofilter_spark.operators.dedup import dedup_against_corpus

    base = ("the quick brown fox jumps over the lazy dog again and "
            "again every single day without fail " * 4)
    existing = spark.createDataFrame(
        [(1, base), (2, "totally different corpus text here " * 10)],
        ["doc_id", "text"],
    )
    new = spark.createDataFrame(
        [
            (100, base),                           # exact dup of 1
            (101, base + " tiny tail change"),     # near dup of 1
            (102, "completely novel content " * 20),
        ],
        ["doc_id", "text"],
    )
    kept = {r["doc_id"] for r in dedup_against_corpus(
        new, existing, "doc_id", "text", threshold=0.8
    ).collect()}
    assert kept == {102}


def test_streaming_ingest_equals_batch(spark, tmp_path):
    """run_streaming_ingest over micro-batches routes exactly the
    same kept set as the one-shot dedup_against_corpus (stateless per
    batch vs a static corpus ⇒ batch-size invariant), and dropped
    reasons partition the dropped set."""
    import os

    from cuckoofilter_spark.operators.dedup import dedup_against_corpus
    from cuckoofilter_spark.streaming.sketch_stream import (
        run_streaming_ingest,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet") \
        .select("doc_id", "text")
    old = docs.filter(F.col("doc_id") % 5 != 0)
    new = docs.filter(F.col("doc_id") % 5 == 0).unionByName(
        docs.filter(F.col("doc_id") % 25 == 1)
        .withColumn("doc_id", F.col("doc_id") + 1_000_000)
    )
    src = str(tmp_path / "src")
    new.repartition(4).write.parquet(src)
    out = str(tmp_path / "out")
    run_streaming_ingest(
        spark.readStream.schema(new.schema)
        .option("maxFilesPerTrigger", 1).parquet(src),
        old, "doc_id", "text", out_dir=out,
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    kept = {r["doc_id"] for r in spark.read.parquet(
        os.path.join(out, "kept", "batch=*")).collect()}
    want = {r["doc_id"] for r in dedup_against_corpus(
        new, old, "doc_id", "text").collect()}
    assert kept == want and len(kept) > 0
    dropped = spark.read.parquet(os.path.join(out, "dropped", "batch=*"))
    reasons = {r["reason"] for r in dropped.select("reason")
               .distinct().collect()}
    assert reasons == {"exact", "near_dup"}
    assert dropped.count() + len(kept) == new.count()


def test_dedup_near_keep_best(spark):
    """keep='best' retains the highest-quality member per cluster
    (ties -> smallest id); min_id default unchanged; missing
    quality_col is a loud error."""
    import pytest as _pt

    from cuckoofilter_spark.operators.dedup import dedup_near

    df = spark.createDataFrame(
        [(1, 10), (2, 99), (3, 99), (9, 5)],  # 9: not in any pair
        ["doc_id", "quality"],
    )
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3)], ["doc_a", "doc_b"]
    )
    best = {r["doc_id"] for r in dedup_near(
        df, pairs, "doc_id", keep="best", quality_col="quality"
    ).collect()}
    assert best == {2, 9}  # 2 and 3 tie at 99 -> smaller id 2 wins
    minid = {r["doc_id"] for r in dedup_near(df, pairs, "doc_id").collect()}
    assert minid == {1, 9}
    with _pt.raises(ValueError, match="quality_col"):
        dedup_near(df, pairs, "doc_id", keep="best")
    with _pt.raises(ValueError, match="keep"):
        dedup_near(df, pairs, "doc_id", keep="nope")


def test_dedup_semantic_exact(spark):
    """Exact SemDeDup == brute-force pairs -> components -> keep-one;
    keep='best' honors the quality column."""
    from cuckoofilter_spark.operators.dedup import (
        dedup_near, duplicate_clusters,
    )
    from cuckoofilter_spark.operators.similarity import (
        cosine_near_dup_pairs, dedup_semantic,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    got = {r["vec_id"] for r in dedup_semantic(
        emb, threshold=0.44).select("vec_id").collect()}
    brute = cosine_near_dup_pairs(emb, threshold=0.44)
    want = {r["vec_id"] for r in dedup_near(
        emb, brute, "vec_id", pair_cols=("id_a", "id_b")
    ).select("vec_id").collect()}
    assert got == want
    n_total = emb.count()
    n_paired = duplicate_clusters(
        brute, pair_cols=("id_a", "id_b")).count()
    assert len(got) < n_total and n_paired > 0

    # keep-best: the max-label member of each cluster survives
    best = {r["vec_id"] for r in dedup_semantic(
        emb, threshold=0.44, keep="best", quality_col="label"
    ).select("vec_id").collect()}
    assert len(best) == len(got)


def test_dedup_semantic_ivf_planted(spark):
    """IVF-celled SemDeDup on planted tight duplicates (cos ~0.999):
    celled pairs are a subset of exact pairs, and at high threshold
    the planted pairs co-assign so the two variants keep the same
    survivor set."""
    import numpy as np

    rng = np.random.default_rng(11)
    base = rng.standard_normal((80, 16))
    rows = []
    vid = 0
    for i in range(80):
        rows.append((vid, base[i].tolist())); vid += 1
    for i in range(25):  # tight dup of the first 25
        rows.append((vid, (base[i] + 0.005 * rng.standard_normal(16))
                     .tolist())); vid += 1
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    from cuckoofilter_spark.operators.similarity import (
        cosine_near_dup_pairs, cosine_near_dup_pairs_celled,
        dedup_semantic, dedup_semantic_ivf, ivf_centroids,
    )

    C = ivf_centroids(emb, n_cells=8, seed=3, refine_iters=2)
    celled = {(r["id_a"], r["id_b"]) for r in
              cosine_near_dup_pairs_celled(
                  emb, C, threshold=0.98).collect()}
    exact = {(r["id_a"], r["id_b"]) for r in
             cosine_near_dup_pairs(emb, threshold=0.98).collect()}
    assert celled <= exact and len(exact) >= 25
    assert len(celled) == len(exact)  # tight dups co-assign

    got = {r["vec_id"] for r in dedup_semantic_ivf(
        emb, threshold=0.98, n_cells=8, refine_iters=2, seed=3
    ).select("vec_id").collect()}
    want = {r["vec_id"] for r in dedup_semantic(
        emb, threshold=0.98).select("vec_id").collect()}
    assert got == want and len(got) == 80
