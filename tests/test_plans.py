"""Physical-plan assertions — the plans we'd want at 100 TB, checked
mechanically so regressions fail loudly:

- predicate pushdown + column pruning reach the parquet scan,
- aggregations run partial (map-side) before the exchange,
- the membership probe prunes BEFORE the join,
- the tokens build plan contains no explode/shuffle in local mode and
  one exchange of packed per-partition distincts in shuffle mode.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF_DIR


def explain_str(df) -> str:
    import contextlib
    import io

    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def test_filter_and_projection_pushed_to_scan(spark):
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    q = li.filter(F.col("l_quantity") > 45).select("l_orderkey", "l_quantity")
    plan = explain_str(q)
    assert "PushedFilters" in plan and "l_quantity" in plan
    # column pruning: the scan must not read all 11 columns
    read_schema = [ln for ln in plan.splitlines() if "ReadSchema" in ln]
    assert read_schema and "l_partkey" not in read_schema[0]


def test_aggregate_is_partial_before_exchange(spark):
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    q = li.groupBy("l_returnflag").agg(F.sum("l_quantity"))
    plan = explain_str(q)
    assert "HashAggregate" in plan and "Exchange" in plan
    # map-side partial aggregation must exist
    assert "partial" in plan.lower()


def test_probe_prunes_before_join(spark):
    from cuckoofilter_spark.operators.semijoin import filter_semi_join

    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    orders = spark.read.parquet(f"{SF_DIR}/orders.parquet").filter(
        "o_totalprice > 200000"
    )
    q = filter_semi_join(li, "l_orderkey", orders, "o_orderkey")
    plan = explain_str(q)
    # the Arrow-evaluated probe must sit BELOW the broadcast join in
    # the tree (prune first, then exact join)
    probe_at = plan.find("ArrowEvalPython")
    join_at = plan.find("BroadcastHashJoin")
    assert probe_at != -1 and join_at != -1
    assert "LeftSemi" in plan


def test_local_build_plan_has_no_shuffle(spark):
    from cuckoofilter_spark.operators.build import build_sketch_shards
    from cuckoofilter_spark.sources.tokens import synth_tokens_df

    tokens = synth_tokens_df(spark, 50, seed=1)
    shards = build_sketch_shards(
        tokens, "tokens", kind="cuckoo", lineage=False,
        max_num_keys=1 << 16, bits_per_item=12, seed=7, strategy="local",
    )
    plan = explain_str(shards)
    assert "Exchange" not in plan, "local build must be shuffle-free"
    assert "Generate" not in plan, "local build must not explode arrays"


def plan_nodes(df) -> list[str]:
    """The operator names of ``df``'s physical plan tree, top down."""
    import re

    tree = explain_str(df).split("\n\n")[0]
    return re.findall(r"(\w+) \(\d+\)$", tree, re.M)


def test_shuffle_distinct_plan_is_partial_agg(spark):
    """The shuffle_distinct plan: one Arrow map stage per input
    partition (flatten, unique, group by owning shard, pack), ONE
    exchange of the packed rows, the shard build — no explode, no JVM
    aggregate. String keys are hashed to 8-byte keys first."""
    from cuckoofilter_spark.operators.build import build_sketch_shards
    from cuckoofilter_spark.sources.tokens import synth_tokens_df

    tokens = synth_tokens_df(spark, 50, seed=1).select("tokens")
    scalars = spark.range(500).selectExpr(
        "id % 50 AS i", "concat('w', id % 50) AS s"
    )
    for df, col in ((tokens, "tokens"), (scalars, "i"), (scalars, "s")):
        shards = build_sketch_shards(
            df, col, kind="cuckoo", lineage=False,
            max_num_keys=1 << 16, bits_per_item=12, seed=7,
            strategy="shuffle_distinct",
        )
        nodes = plan_nodes(shards)
        assert nodes.count("Exchange") == 1, nodes
        assert nodes.count("MapInArrow") == 2, nodes
        assert "HashAggregate" not in nodes and "Generate" not in nodes
        plan = explain_str(shards)
        assert "Explode" not in plan and "REPARTITION_BY_NUM" in plan
        assert ("xxhash64" in plan) == (col == "s")


def test_shuffle_count_plan_is_partial_count_agg(spark):
    """The CMS frequency-build plan: explode feeds a map-side partial
    COUNT before the exchange (the same collapse shuffle_distinct gets
    for membership builds), then the user-numbered repartition keeps
    AQE from coalescing the tiny (key,count) output into one task."""
    from cuckoofilter_spark.operators.build import build_sketch_shards
    from cuckoofilter_spark.sources.tokens import synth_tokens_df

    tokens = synth_tokens_df(spark, 50, seed=1)
    shards = build_sketch_shards(
        tokens, "tokens", kind="cms", distinct=False,
        weight_by_count=True, lineage=False,
        strategy="shuffle_count", eps=0.001, delta=0.01, seed=7,
    )
    plan = explain_str(shards)
    assert "Generate" in plan or "Explode" in plan
    assert plan.count("HashAggregate") >= 2  # partial + final count
    assert "Exchange" in plan
    # the value-sketch analog: shuffle_value_count, same plan shape
    plan = explain_str(build_sketch_shards(
        tokens, "tokens", kind="tdigest", lineage=False,
        strategy="shuffle_value_count", delta=100.0, seed=7,
    ))
    assert "Generate" in plan or "Explode" in plan
    assert plan.count("HashAggregate") >= 2
    assert "Exchange" in plan
    # strategy='auto' resolution — TWO gates (round-4 verdict item 4):
    # size (Catalyst estimate, free) AND sampled duplication ratio.
    # Small inputs and scalar membership columns stay narrow/local; a
    # large HIGH-duplication array column cuts over to the JVM
    # collapsing plan, while an equally large NEAR-UNIQUE array column
    # stays local (the collapse wouldn't shrink the transfer).
    from cuckoofilter_spark.operators import approx as approx_mod
    from cuckoofilter_spark.operators.approx import (
        _distinct_strategy, _sampled_duplication, _value_strategy,
    )

    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")

    assert _distinct_strategy(li, "l_partkey", "auto") == "local"
    assert _distinct_strategy(tokens, "tokens", "auto") == "local"

    # known-duplication fixtures: a hot-vocab array column (40k
    # elements over 200 distinct -> dup 200) vs a near-unique one
    # (dup 1), plus the matching scalar value columns
    hot = spark.range(5000).select(
        F.array(*[(F.col("id") * (i + 1)) % 200 for i in range(8)])
        .alias("toks"),
        (F.col("id") % 100).alias("v"),
    )
    uniq = spark.range(5000).select(
        F.array(*[F.col("id") * 8 + i for i in range(8)]).alias("toks"),
        F.col("id").alias("v"),
    )
    assert _sampled_duplication(hot, "toks") >= 4
    assert _sampled_duplication(uniq, "toks") < 4
    # the duplication probe must stay JVM-only: a Python/Arrow node
    # here streams whole partitions of token arrays through direct
    # memory as limit's incremental scan widens (OOM'd at sf10)
    per_part = approx_mod._AUTO_SAMPLE_ROWS // 16
    probe_plan = (
        hot.select(F.col("toks").alias("__v"))
        .filter(
            F.monotonically_increasing_id()
            .bitwiseAND(F.lit((1 << 33) - 1)) < per_part
        )
        .limit(approx_mod._AUTO_SAMPLE_ROWS)
        ._jdf.queryExecution().executedPlan().toString()
    )
    for node in ("ArrowEvalPython", "MapInPandas", "BatchEvalPython"):
        assert node not in probe_plan

    old = approx_mod._AUTO_SHUFFLE_MIN_BYTES
    approx_mod._AUTO_SHUFFLE_MIN_BYTES = 0  # force the size gate open
    try:
        assert _distinct_strategy(hot, "toks", "auto") \
            == "shuffle_distinct"
        assert _distinct_strategy(uniq, "toks", "auto") == "local"
        # scalar membership columns never take the collapsing plan
        assert _distinct_strategy(li, "l_partkey", "auto") == "local"
        # value sketches: a discrete scalar (50 rows per distinct
        # value) collapses; near-unique values stay local
        assert _value_strategy(hot, "v", "auto") == "shuffle_value_count"
        assert _value_strategy(uniq, "v", "auto") == "local"
    finally:
        approx_mod._AUTO_SHUFFLE_MIN_BYTES = old


def test_bucketed_join_skips_exchange(spark, tmp_path):
    """Co-located joins via table bucketing: two tables bucketed by
    the join key into the same bucket count sort-merge-join with ZERO
    Exchange on either side (broadcast disabled to force the SMJ),
    and the result equals the plain join. This is the write-once,
    join-many layout the repeated exact-verify joins amortize to at
    corpus scale."""
    from cuckoofilter_spark.sources.bucketed import (
        bucketed_join_ready, write_bucketed,
    )

    li = (
        spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
        .select("l_orderkey", "l_quantity")
    )
    orders = (
        spark.read.parquet(f"{SF_DIR}/orders.parquet")
        .select("o_orderkey", "o_totalprice")
    )
    write_bucketed(li, "li_bkt", "l_orderkey", 8,
                   path=str(tmp_path / "li_bkt"))
    write_bucketed(orders, "ord_bkt", "o_orderkey", 8,
                   path=str(tmp_path / "ord_bkt"))
    assert bucketed_join_ready(spark, "li_bkt", "ord_bkt")

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = spark.table("li_bkt").join(
            spark.table("ord_bkt"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        plan = explain_str(j)
        assert "Exchange" not in plan, \
            "bucketed equi-join must not shuffle either side"
        assert j.count() == li.join(
            orders, F.col("l_orderkey") == F.col("o_orderkey")
        ).count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS li_bkt")
        spark.sql("DROP TABLE IF EXISTS ord_bkt")


def test_bucketed_register_roundtrip(spark, tmp_path):
    """register_bucketed re-attaches an existing bucketed dataset in a
    fresh catalog (the session-restart story) with bucketing metadata
    intact — the re-registered table still joins shuffle-free."""
    from cuckoofilter_spark.sources.bucketed import (
        register_bucketed, write_bucketed,
    )

    df = spark.range(1000).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("v")
    )
    p = str(tmp_path / "bkt_rt")
    write_bucketed(df, "bkt_rt", "k", 4, path=p)
    spark.sql("DROP TABLE bkt_rt")  # simulate a fresh session catalog
    back = register_bucketed(spark, "bkt_rt", p, "k", 4)
    assert back.count() == 1000
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        j = back.alias("a").join(
            spark.table("bkt_rt").alias("b"),
            F.col("a.k") == F.col("b.k"),
        )
        assert "Exchange" not in explain_str(j)
        assert j.count() == 1000
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
        spark.sql("DROP TABLE IF EXISTS bkt_rt")


def test_blocked_near_dup_plan_has_no_cartesian(spark):
    """The exact near-dup plan must be equi-join shaped: no
    CartesianProduct / BroadcastNestedLoopJoin anywhere (the naive
    id_a < id_b theta-join degenerates to one), and its answer must
    equal the brute-force baseline."""
    from cuckoofilter_spark.operators.similarity import (
        cosine_near_dup_pairs, cosine_near_dup_pairs_blocked,
    )

    emb = spark.read.parquet(f"{SF_DIR}/embeddings.parquet")
    blocked = cosine_near_dup_pairs_blocked(emb, threshold=0.44, n_blocks=8)
    plan = explain_str(blocked)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    got = sorted((r["id_a"], r["id_b"]) for r in blocked.collect())
    want = sorted(
        (r["id_a"], r["id_b"])
        for r in cosine_near_dup_pairs(emb, threshold=0.44).collect()
    )
    assert got == want and len(got) > 0


def test_lsh_near_dup_pairs_high_threshold(spark):
    """Subquadratic LSH near-dup path: on a corpus with planted
    high-similarity duplicates, bucket-join + exact verify returns
    exactly the brute-force pair set (miss prob per pair at s=0.95
    with 12 bits x 48 tables: (1-0.52^12)^48 ~ 4e-5... sized so the
    planted pairs at ~0.99 are certain)."""
    import numpy as np

    rng = np.random.default_rng(42)
    base = rng.standard_normal((60, 32))
    rows = []
    vid = 0
    for i in range(60):
        rows.append((vid, base[i].tolist())); vid += 1
    # plant 20 near-dups: tiny perturbations of the first 20 vectors
    for i in range(20):
        v = base[i] + 0.02 * rng.standard_normal(32)
        rows.append((vid, v.tolist())); vid += 1
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")

    from cuckoofilter_spark.operators.similarity import (
        cosine_near_dup_pairs, lsh_near_dup_pairs,
    )

    approx = lsh_near_dup_pairs(
        emb, threshold=0.9, dim=32, n_bits=12, n_tables=48, seed=7
    )
    plan = explain_str(approx)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    got = sorted((r["id_a"], r["id_b"]) for r in approx.collect())
    want = sorted(
        (r["id_a"], r["id_b"])
        for r in cosine_near_dup_pairs(emb, threshold=0.9).collect()
    )
    assert got == want and len(got) >= 20


def test_text_candidate_joins_have_no_cartesian(spark):
    """Every banded/prefix candidate self-join (minhash, simhash,
    n-gram prefix) must compile to equi-joins — never CartesianProduct
    or BroadcastNestedLoopJoin, whatever the skew-tiling decides."""
    from cuckoofilter_spark.operators.dedup import (
        lsh_candidate_pairs, minhash_signatures, near_dup_pairs_ngram,
        near_dup_pairs_simhash,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(200)
    plans = {
        "minhash": explain_str(
            lsh_candidate_pairs(minhash_signatures(docs, "doc_id", "text"))
        ),
        "simhash": explain_str(
            near_dup_pairs_simhash(docs, "doc_id", "text")
        ),
        "ngram": explain_str(
            near_dup_pairs_ngram(docs, "doc_id", "text", threshold=0.6)
        ),
    }
    for name, plan in plans.items():
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name


def test_simhash_contract_query_shape_and_dual_banding(spark):
    """The FULL simhash contract query (both verification arms) must be
    scale-shaped: the production banding, the rotated second banding,
    and the pair-set intersection are all equi-joins — no
    CartesianProduct / BroadcastNestedLoopJoin anywhere. And on a
    corpus with planted near-dups, both band partitions must return
    exactly the brute-force Hamming-≤3 pair set (rotation is a Hamming
    isometry, so each arm is exact by the pigeonhole bound)."""
    from cuckoofilter_spark.operators.dedup import (
        near_dup_pairs_simhash, simhash64,
    )

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(300)
    sims = simhash64(docs, "doc_id", "text").persist()
    arm_a = near_dup_pairs_simhash(
        docs, "doc_id", "text", max_hamming=3, sims=sims
    )
    arm_b = near_dup_pairs_simhash(
        docs, "doc_id", "text", max_hamming=3, sims=sims, rotate=8
    )
    inter = arm_a.select("doc_a", "doc_b").join(
        arm_b.select("doc_a", "doc_b"), ["doc_a", "doc_b"]
    )
    for name, df in (("arm_a", arm_a), ("arm_b", arm_b), ("inter", inter)):
        plan = explain_str(df)
        assert "CartesianProduct" not in plan, name
        assert "BroadcastNestedLoopJoin" not in plan, name

    # correctness of BOTH arms vs the exact all-pairs oracle (test-only
    # O(n²) arm — the contract query itself never runs one)
    rows = sims.collect()
    want = set()
    for i in range(len(rows)):
        for j in range(i + 1, len(rows)):
            h = bin((rows[i]["simhash"] ^ rows[j]["simhash"])
                    & ((1 << 64) - 1)).count("1")
            if h <= 3:
                a, b = sorted((rows[i]["doc"], rows[j]["doc"]))
                want.add((a, b))
    got_a = {(r["doc_a"], r["doc_b"]) for r in arm_a.collect()}
    got_b = {(r["doc_a"], r["doc_b"]) for r in arm_b.collect()}
    assert got_a == want
    assert got_b == want
    sims.unpersist()


def test_grouped_sketch_agg_shuffles_blobs_not_rows(spark):
    """The grouped sketch UDAF must have the partial/final shape: the
    map-side combine (MapInPandas) runs BEFORE the exchange, so the
    shuffle carries (group, blob) rows, never raw input rows."""
    from cuckoofilter_spark.operators.grouped import grouped_sketch_agg

    events = spark.read.parquet(f"{SF_DIR}/events.parquet")
    plan = explain_str(
        grouped_sketch_agg(events, "event_type", "user_id", kind="hll", p=12)
    )
    map_in = plan.find("MapInPandas")
    assert map_in != -1
    # the only exchange sits after (deeper in the printed tree = above
    # in execution) the MapInPandas partial; nothing shuffles below it
    first_exchange = plan.find("Exchange")
    assert first_exchange != -1
    assert first_exchange < map_in, (
        "raw-row exchange below the partial combine"
    )


def test_decontaminate_plan_gate_below_explode(spark):
    """Decontamination's scale contract, asserted on the physical
    plan: (a) no cartesian/nested-loop joins anywhere; (b) the Arrow
    probe gate runs BELOW the n-gram explode — the corpus is filtered
    to candidates before any array materialization; (c) the verify
    join builds (broadcasts) the eval side."""
    from pyspark.sql import functions as F

    from cuckoofilter_spark.operators.decontam import decontaminate

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    corpus = docs.filter(F.col("doc_id") % 97 != 0)
    ev = docs.filter(F.col("doc_id") % 97 == 0)
    # round 8, small-eval FUSED plan: one Arrow pass computes the
    # exact overlap inside the gate UDF — no explode, no join at all
    plan = explain_str(decontaminate(
        corpus, ev, "doc_id", "text", n=3, min_overlap=1,
    ))
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "ArrowEvalPython" in plan
    assert "Generate" not in plan and "Join" not in plan

    # big-eval fallback (forced by shrinking the driver budget): the
    # probe gate runs BELOW the hit-hash explode, and the verify join
    # broadcasts the eval side — the pre-round-8 scale shape
    import cuckoofilter_spark.operators.build as build_mod

    old = build_mod.DRIVER_BUDGET_BYTES
    build_mod.DRIVER_BUDGET_BYTES = 0
    try:
        plan = explain_str(decontaminate(
            corpus, ev, "doc_id", "text", n=3, min_overlap=1,
        ))
    finally:
        build_mod.DRIVER_BUDGET_BYTES = old
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    gen = plan.find("Generate")          # the candidate-side explode
    probe = plan.find("ArrowEvalPython")  # the filter-gate UDF
    assert gen != -1 and probe != -1
    # printed tree is top-down: the explode (ancestor) prints before
    # the probe filter feeding it from below
    assert gen < probe, "probe gate is not below the explode"
    assert "BroadcastHashJoin" in plan


def test_grouped_top_k_plan_blob_only_summary_shuffle(spark):
    """grouped_top_k_exact's scale shape (round-5 verdict item 8),
    asserted on the lazy builder plan (the public operator returns a
    localCheckpoint, which hides it): the MG summary side shuffles
    blobs only (partial MapInPandas BEFORE its exchange), the exact
    count is a map-side partial aggregate of candidate-pruned rows,
    and nothing in any of the three plans is a cartesian product."""
    from cuckoofilter_spark.operators.approx import _grouped_top_k_plan

    events = spark.read.parquet(f"{SF_DIR}/events.parquet")
    cand, errs_df, top = _grouped_top_k_plan(
        events, "event_type", "user_id", 5, 256, 7,
    )
    cand_plan = explain_str(cand)
    # summary subtree: the plan prints top-down, so the DEEPEST (last
    # printed) MapInPandas is the map-side partial combine and every
    # exchange must print above it — the shuffle carries (group, blob)
    # rows, never raw input rows. (The FIRST MapInPandas is the
    # outermost candidate-decode node.)
    partial = cand_plan.rfind("MapInPandas")
    last_exchange = cand_plan.rfind("Exchange")
    assert partial != -1 and last_exchange != -1
    assert last_exchange < partial, (
        "raw-row exchange below the grouped-MG partial combine"
    )
    top_plan = explain_str(top)
    assert "CartesianProduct" not in top_plan
    # the exact count runs partial before its exchange: a
    # HashAggregate (partial count) appears below the exchange that
    # feeds the final aggregate, so the shuffle carries
    # (group, key, partial_n), never the semi-joined raw rows
    assert "HashAggregate" in top_plan
    first_agg = top_plan.find("HashAggregate")
    semi = top_plan.find("LeftSemi")
    assert semi != -1, "candidate prune join missing"
    assert first_agg < semi, (
        "final aggregate not above the candidate semi-join"
    )


def test_duplicated_span_stats_plan_shape(spark):
    """Substring-dedup scale contract (round-7 verdict item 4),
    asserted on the physical plan: (a) no cartesian / nested-loop
    joins; (b) the broadcast cuckoo gate (ArrowEvalPython probe)
    filters BELOW the posexplode's downstream exchange — only
    candidate positions are shuffled to the verify join/window, the
    full gram stream is never exchanged un-gated; (c) the frequency
    count is a collapsing scan: a partial HashAggregate on the
    8-byte gram hashes runs before its exchange."""
    from cuckoofilter_spark.operators.spans import duplicated_span_stats

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    plan = explain_str(
        duplicated_span_stats(docs, "doc_id", "text", k=3, min_count=4)
    )
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # (b) walk the plan TREE (section before the node details): the
    # candidate-branch Generate (posexplode) must reach its join with
    # an ArrowEvalPython (the probe gate) in its ancestor chain and
    # NO Exchange below the gate — i.e. candidate positions are
    # gated before anything is shuffled or broadcast-joined
    tree = plan.split("\n(1) ")[0].splitlines()

    def indent(line: str) -> int:
        for mark in ("+- ", ":- "):
            if mark in line:
                return line.index(mark)
        return -1

    def ancestors_to_join(i: int) -> list[str]:
        # walk to the nearest enclosing Join OR aggregate; a Generate
        # whose chain ends at an aggregate is the counting branch
        # (the sanctioned collapsing scan), not a candidate branch
        chain, cur = [], indent(tree[i])
        for j in range(i - 1, -1, -1):
            ind = indent(tree[j])
            if 0 <= ind < cur or (ind == -1 and "Join" in tree[j]):
                chain.append(tree[j])
                cur = ind if ind != -1 else cur
                if "Join" in tree[j] or "HashAggregate" in tree[j]:
                    break
        return chain

    gated = []
    for i, line in enumerate(tree):
        if "Generate" not in line:
            continue
        chain = ancestors_to_join(i)
        if not any("Join" in c for c in chain):
            continue  # the counting-branch Generate (ends at an agg)
        has_gate = any("ArrowEvalPython" in c for c in chain)
        below_gate = []
        for c in chain:
            if "ArrowEvalPython" in c:
                break
            below_gate.append(c)
        gated.append(
            has_gate and not any("Exchange" in c for c in below_gate)
        )
    assert gated and all(gated), (
        "candidate posexplode reaches the verify join without the "
        "cuckoo probe gate (or is exchanged below it)"
    )
    # (c) collapsing scan: the gram-count aggregate runs its partial
    # before the exchange (map-side combine over 8-byte hashes)
    assert "partial_count" in plan


def test_crosscorpus_near_dup_plan_shape(spark):
    """The two-corpus candidate join must be equi-join shaped (band
    keys, never CartesianProduct/BNLJ), and with a small new batch the
    verify join must broadcast the NEW side only — the existing-corpus
    sets table stays shuffle-side (the 100 TB polarity)."""
    from cuckoofilter_spark.operators.dedup import near_dup_pairs_crosscorpus

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    new = docs.filter(F.col("doc_id") % 5 == 0)
    old = docs.filter(F.col("doc_id") % 5 != 0)
    pairs = near_dup_pairs_crosscorpus(new, old, "doc_id", "text")
    plan = explain_str(pairs)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
