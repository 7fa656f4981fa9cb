"""Phase-isolated benchmarks for optimization work (guide §1.1/§1.4).

NOT the driver's frozen ``bench.py`` — this file exists so individual
query phases can be timed with the noop sink and job labels without
touching the measured bench. Prints one JSON line with per-phase
seconds.

Usage:
    SPARK_GRAFT_SF_DIR=.bench/sf1 python bench_extra.py [phase ...]

Phases: build_cuckoo decontam novelty minhash crosscorpus cosine
        semantic dup_spans text gopher semijoin grouped_topk distinct
        (default: all)
"""

from __future__ import annotations

import json
import os
import sys
import time

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))


def noop(df):
    df.write.format("noop").mode("overwrite").save()


def main() -> None:
    from pyspark.sql import functions as F

    from cuckoofilter_spark.session import get_spark, warm_python_workers

    import bench as B

    sf = B._sf_from_dir(SF_DIR)
    extra = {"spark.ui.showConsoleProgress": "false"}
    if CPUS >= 16:
        extra["spark.task.cpus"] = "2"
    spark = get_spark(app="cuckoofilter-bench-extra", cores=CPUS,
                      extra_conf=extra)
    spark.sparkContext.setLogLevel("ERROR")
    warm_python_workers(spark)
    tpath = B.tokens_path(spark, sf)
    tokens = spark.read.parquet(tpath)
    docs = spark.read.parquet(os.path.join(SF_DIR, "documents.parquet"))
    emb = spark.read.parquet(os.path.join(SF_DIR, "embeddings.parquet"))

    phases = sys.argv[1:] or [
        "build_cuckoo", "decontam", "novelty", "minhash", "crosscorpus",
        "cosine", "semantic", "dup_spans", "text", "gopher", "semijoin",
        "grouped_topk", "distinct",
    ]
    out: dict[str, float] = {}

    def timed(name, fn):
        spark.sparkContext.setJobDescription(name)
        t0 = time.time()
        r = fn()
        out[name] = round(time.time() - t0, 3)
        spark.sparkContext.setJobDescription(None)
        return r

    if "build_cuckoo" in phases:
        from cuckoofilter_spark.operators.build import (
            build_sketch_shards, routed_keys,
        )
        from cuckoofilter_spark.operators.merge import merge_shards_to_blob

        # phase a: the build's normalize + collapse + route stages (Arrow
        # per-partition unique packed by shard -> one exchange), no kernel
        proj, _ = routed_keys(tokens, "tokens", strategy="shuffle_distinct")
        timed("cuckoo.a_route", lambda: noop(proj))
        # phase b: full shard build (route + python build)
        shards = build_sketch_shards(
            tokens, "tokens", kind="cuckoo", lineage=False,
            max_num_keys=1 << 21, bits_per_item=12, seed=7,
            strategy="shuffle_distinct",
        )
        timed("cuckoo.b_shards", lambda: noop(shards))
        # phase c: shards + merge to blob (the full bench row)
        def _full():
            sh = build_sketch_shards(
                tokens, "tokens", kind="cuckoo", lineage=False,
                max_num_keys=1 << 21, bits_per_item=12, seed=7,
                strategy="shuffle_distinct",
            )
            return merge_shards_to_blob(sh, dedup=True, fanout=16)
        timed("cuckoo.c_full", _full)

    if "distinct" in phases:
        # the 'local' strategy arrow transfer (hll/kmv/bloom/cms shape)
        from cuckoofilter_spark.operators.approx import (
            approx_distinct, cms_sketch, _distinct_strategy,
        )
        out["distinct.strategy"] = _distinct_strategy(
            tokens, "tokens", "auto")
        timed("distinct.hll_auto",
              lambda: approx_distinct(tokens, "tokens", p=14, seed=7))
        timed("distinct.hll_shuffle",
              lambda: approx_distinct(tokens, "tokens", p=14, seed=7,
                                      strategy="shuffle_distinct"))
        timed("distinct.cms_auto",
              lambda: cms_sketch(tokens, "tokens", eps=0.0001, delta=0.01,
                                 seed=7))
        timed("distinct.cms_shuffle",
              lambda: cms_sketch(tokens, "tokens", eps=0.0001, delta=0.01,
                                 seed=7, strategy="shuffle_count"))

    if "decontam" in phases:
        from cuckoofilter_spark.operators.decontam import (
            contamination_count_udf, decontaminate, eval_ngram_filter,
        )

        corpus = docs.filter(F.col("doc_id") % 97 != 0)
        ev = docs.filter(F.col("doc_id") % 97 == 0)
        blob, ev_ngrams = None, None

        def _eval():
            nonlocal blob, ev_ngrams
            blob, ev_ngrams = eval_ngram_filter(ev, "text", n=3, seed=7)
        timed("decontam.a_eval_filter", _eval)
        hits = contamination_count_udf(spark, blob, n=3, seed=7)
        timed("decontam.b_gate",
              lambda: corpus.filter(hits("text") >= 1).count())
        spark.catalog.clearCache()
        timed("decontam.c_full", lambda: decontaminate(
            corpus, ev, "doc_id", "text", n=3, min_overlap=1).count())
        spark.catalog.clearCache()

    if "novelty" in phases:
        from cuckoofilter_spark.operators.decontam import novelty_report

        corpus = docs.filter(F.col("doc_id") % 97 != 0)
        ev = docs.filter(F.col("doc_id") % 97 == 0)
        timed("novelty.full", lambda: novelty_report(
            corpus, ev, "doc_id", "text", n=3).count())
        spark.catalog.clearCache()

    if "minhash" in phases:
        from cuckoofilter_spark.operators.dedup import (
            _lsh_pairs_from_banded, minhash_table, near_dup_pairs_minhash,
        )

        tbl = minhash_table(docs, "doc_id", "text")
        timed("minhash.a_table", lambda: noop(tbl))
        tblp = tbl.persist()
        tblp.count()
        banded = tblp.select(
            "doc", "bhs", F.posexplode("bhs").alias("band", "bh")
        )
        cands = _lsh_pairs_from_banded(banded, bands=32, bucket_cap=8192)
        timed("minhash.b_cands", lambda: cands.count())
        tblp.unpersist()
        timed("minhash.c_full", lambda: near_dup_pairs_minhash(
            docs, "doc_id", "text", threshold=0.8).count())

    if "crosscorpus" in phases:
        from cuckoofilter_spark.operators.dedup import (
            near_dup_pairs_crosscorpus,
        )

        timed("crosscorpus.full", lambda: near_dup_pairs_crosscorpus(
            docs.filter(F.col("doc_id") % 5 == 0),
            docs.filter(F.col("doc_id") % 5 != 0),
            "doc_id", "text", threshold=0.8).count())

    if "cosine" in phases:
        from cuckoofilter_spark.operators.similarity import cosine_topk

        timed("cosine.full", lambda: cosine_topk(
            emb, emb.filter(F.col("vec_id") < 20), k=10).count())

    if "semantic" in phases:
        from cuckoofilter_spark.operators.similarity import (
            cosine_near_dup_pairs_celled, dedup_semantic_ivf, ivf_centroids,
        )

        C = None

        def _cent():
            nonlocal C
            C = ivf_centroids(emb, n_cells=64, seed=7, refine_iters=1)
        timed("semantic.a_centroids", _cent)
        pairs = cosine_near_dup_pairs_celled(emb, C, threshold=0.44)
        timed("semantic.b_pairs", lambda: pairs.count())
        timed("semantic.c_full", lambda: dedup_semantic_ivf(
            emb, threshold=0.44, n_cells=64, refine_iters=1, seed=7
        ).count())

    if "dup_spans" in phases:
        from cuckoofilter_spark.operators.spans import duplicated_span_stats

        timed("dup_spans.full", lambda: duplicated_span_stats(
            docs, "doc_id", "text", k=3, min_count=4
        ).agg(F.sum("covered")).collect())

    if "text" in phases:
        from cuckoofilter_spark.operators.text import with_text_stats

        timed("text.full", lambda: with_text_stats(docs).agg(
            F.sum("quality_milli")).collect())

    if "gopher" in phases:
        from cuckoofilter_spark.operators.text import gopher_stats

        timed("gopher.full", lambda: gopher_stats(
            docs, stopwords=["the", "a", "value", "table"]
        ).agg(F.sum("n_kept")).collect())

    if "semijoin" in phases:
        from cuckoofilter_spark.operators.semijoin import filter_semi_join

        lineitem = spark.read.parquet(os.path.join(SF_DIR, "lineitem.parquet"))
        orders = spark.read.parquet(os.path.join(SF_DIR, "orders.parquet"))
        timed("semijoin.full", lambda: filter_semi_join(
            lineitem, "l_orderkey",
            orders.filter(F.col("o_totalprice") > 150000), "o_orderkey",
            kind="cuckoo", exact=True,
        ).count())

    if "grouped_topk" in phases:
        from cuckoofilter_spark.operators.approx import grouped_top_k_exact

        events = spark.read.parquet(os.path.join(SF_DIR, "events.parquet"))
        timed("grouped_topk.full", lambda: grouped_top_k_exact(
            events, "event_type", "user_id", 10, seed=7,
            on_uncertified="exact",
        ).count())

    spark.stop()
    print("\n" + json.dumps({"sf": sf, "phases": out}, indent=1))


if __name__ == "__main__":
    main()
