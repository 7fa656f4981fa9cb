"""The closed-loop workloads, ``build`` and ``decontam``.

Each workload generates its inputs from the seed (``setup``, called once
per input copy: every copy is written afresh from the same seed), runs
one operation at a time through the package's public calls (``op``,
where op ``i`` reads copy ``i mod copies``), and checks its answers
against exact oracles (``finish``). ``tr`` is the run's tracer; with
tracing off its spans are no-ops.
"""

from __future__ import annotations

import hashlib
import os
import time

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

import gen

# Sizes: one op lasts a few seconds on a 4-core box, and a whole run
# (JVM start, inputs, warm ops, timed window, checks) stays near a
# minute.
TOKEN_DOCS = 50_000
TOKEN_VOCAB = 1 << 20          # sources.tokens.VOCAB: ids below are members
CORPUS_DOCS = 50_000
DOC_WORDS = 300
EVAL_DOCS = 1_000
EVAL_WORDS = 300
FILTER_SEED = 7
BUILD_BITS = 12
DECONTAM_BITS = 16             # decontaminate()'s default fingerprint
CHECK_PROBES = 1 << 21
CORE_PROBES = 1 << 22
FPR_CHUNK = 1 << 22


def fpr_bound_pct(bits: int) -> float:
    """The paper's FPR bound 2b/2^f (b = 4 slots per bucket), in %."""
    return 100.0 * 2 * 4 / 2**bits


def sha(blob: bytes) -> str:
    return hashlib.sha256(blob).hexdigest()


class Workload:
    name = ""
    bits = BUILD_BITS

    def __init__(self, spark, run_dir: str, seed: int, nproc: int, tr):
        self.spark, self.run_dir, self.seed = spark, run_dir, seed
        self.nproc, self.tr = nproc, tr
        self.checks: list[tuple[str, bool, str]] = []
        self.layer: dict[str, list[float]] = {}
        self.inputs: list = []     # one entry per input copy
        self.blob: bytes | None = None
        self.blob_shas: dict[int, set[str]] = {}   # input copy -> sha256s
        self.n_keys = 0            # exact distinct keys in self.blob
        self.fpr_pct = 0.0

    def check(self, name: str, ok: bool, detail: str = "") -> None:
        self.checks.append((name, bool(ok), detail))

    def path(self, name: str) -> str:
        return os.path.join(self.run_dir, name)

    def layer_sample(self, name: str, value: float) -> None:
        self.layer.setdefault(name, []).append(float(value))

    def probe_check(self, keys_df, col: str, member, n_members: int) -> None:
        """Probe ``keys_df[col]`` through ``might_contain_udf``: the keys
        where the Column ``member`` holds must all hit, the rest are true
        negatives whose hit share must stay within the FPR bound."""
        from pyspark.sql import functions as F

        from cuckoofilter_spark.operators.probe import might_contain_udf

        with self.tr.span("operators.probe.broadcast"):
            probe = might_contain_udf(self.spark, self.blob)
        m, hit = F.col("m"), F.col("hit")
        with self.tr.span("operators.probe"):
            r = keys_df.select(member.alias("m"), probe(col).alias("hit")).agg(
                F.count(F.lit(1)).alias("n"),
                F.sum(m.cast("long")).alias("members"),
                F.sum((m & hit).cast("long")).alias("member_hits"),
                F.sum((~m & hit).cast("long")).alias("neg_hits")).collect()[0]
        self.check("probe operator: zero false negatives",
                   r.member_hits == r.members == n_members,
                   f"{r.member_hits}/{r.members} members hit, "
                   f"{n_members} expected")
        if r.n > r.members:
            pct = 100.0 * r.neg_hits / (r.n - r.members)
            self.check("probe operator: fpr within 2b/2^f",
                       pct <= fpr_bound_pct(self.bits),
                       f"{pct:.4f}% of {r.n - r.members} negatives")

    def driver_fpr(self, lo: int, chunks: int, exact=None) -> None:
        """``fpr_pct``: share of random keys in ``[lo, 2^63)`` the blob
        reports as present, in %. Keys in ``exact`` (the true members, if
        the range can hold any) are dropped, so every counted key is a
        true negative."""
        from cuckoofilter_spark import sketch_from_bytes

        f = sketch_from_bytes(self.blob)
        rng = np.random.default_rng([self.seed, 0xF9])
        hits = n = 0
        for _ in range(chunks):
            neg = rng.integers(lo, 2**63 - 1, FPR_CHUNK,
                               dtype=np.int64).view(np.uint64)
            h = neg[f.contains_many(neg)]
            n += len(neg)
            if exact is not None:
                member = np.isin(h, exact)
                h, n = h[~member], n - int(member.sum())
            hits += len(h)
        self.fpr_pct = 100.0 * hits / n
        bound = fpr_bound_pct(self.bits)
        self.check("fpr within 2b/2^f", self.fpr_pct <= bound,
                   f"{self.fpr_pct:.5f}% <= {bound:.5f}% over {n} keys")

    def copy(self, i: int):
        """The input copy op ``i`` reads (warm ops have ``i < 0``)."""
        return self.inputs[i % len(self.inputs)]

    def note_blob(self, i: int, blob: bytes) -> None:
        self.blob = blob
        self.blob_shas.setdefault(i % len(self.inputs), set()).add(sha(blob))

    def check_blob_shas(self) -> None:
        """Same seed, same blob (design rule 4): every blob noted, from
        every independently generated input copy, has one sha256."""
        shas = set().union(*self.blob_shas.values())
        self.check("blob sha256 identical across ops and input copies",
                   len(shas) == 1 and len(self.blob_shas) == len(self.inputs),
                   f"{len(shas)} distinct over {len(self.blob_shas)} of "
                   f"{len(self.inputs)} copies")

    def e2e_extra(self) -> dict:
        bits = (8.0 * len(self.blob) / self.n_keys
                if self.blob is not None and self.n_keys else 0.0)
        return {"blob_bits_per_key": bits, "fpr_pct": self.fpr_pct}


class Build(Workload):
    """One op = ``shuffle_distinct`` shard build of the token table, then
    ``merge_shards_to_blob``."""

    name = "build"

    def setup(self, k: int) -> None:
        from cuckoofilter_spark.sources.tokens import write_tokens_table

        with self.tr.span("sources.generate"):
            write_tokens_table(self.spark, self.path(f"tokens-{k}"),
                               TOKEN_DOCS, seed=self.seed)
            self.inputs.append(self.spark.read.parquet(self.path(f"tokens-{k}")))

    def start(self) -> None:
        self.n_tokens = 0          # counted by finish()

    def shards(self, tokens):
        from cuckoofilter_spark.core.cuckoo import suggest_capacity
        from cuckoofilter_spark.operators.build import build_sketch_shards

        return build_sketch_shards(
            tokens, "tokens", kind="cuckoo", strategy="shuffle_distinct",
            lineage=False, max_num_keys=suggest_capacity(TOKEN_VOCAB),
            bits_per_item=BUILD_BITS, seed=FILTER_SEED)

    def op(self, i: int) -> None:
        from cuckoofilter_spark.operators.merge import merge_shards_to_blob

        tr = self.tr
        with tr.span("operators.build"):
            shards = self.shards(self.copy(i))
            if tr.enabled:
                # traced: materialize the shards under this span so the
                # merge span below holds only the merge
                shards = shards.persist()
                shards.count()
        with tr.span("operators.merge"):
            blob = merge_shards_to_blob(shards, dedup=True)
        self.note_blob(i, blob)
        if tr.enabled:
            rows = shards.selectExpr("metrics", "length(sketch) AS n").collect()
            shards.unpersist()
            self.layer_sample("operators.build.kicks",
                              sum(r.metrics.kicks for r in rows))
            self.layer_sample("operators.build.shard_load_max",
                              max(r.metrics.load for r in rows))
            self.layer_sample("operators.merge.n_shards", len(rows))
            self.layer_sample("operators.merge.blob_in_bytes",
                              sum(r.n for r in rows))

    def items(self) -> int:
        return self.n_tokens

    def scan_source(self):
        return self.inputs[0]

    def finish(self) -> None:
        from pyspark.sql import functions as F

        # exact token count and distinct token ids, read with pyarrow
        col = pq.read_table(self.path("tokens-0"), columns=["tokens"])["tokens"]
        flat = np.concatenate(
            [c.flatten().to_numpy() for c in col.chunks]).astype(np.int64)
        self.n_tokens = len(flat)
        seen = np.zeros(TOKEN_VOCAB, dtype=bool)
        seen[flat] = True
        self.members = np.flatnonzero(seen).astype(np.int64)
        self.n_keys = len(self.members)

        self.check_blob_shas()
        # lookups at a 50% hit rate through the Spark probe operator
        keys = gen.probe_keys(self.seed, self.members, CHECK_PROBES,
                              TOKEN_VOCAB)
        gen.write_parquet(pa.table({"key": keys}), self.path("keys"),
                          self.nproc)
        self.probe_check(self.spark.read.parquet(self.path("keys")), "key",
                         F.col("key") < TOKEN_VOCAB, CHECK_PROBES // 2)
        self.driver_fpr(TOKEN_VOCAB, 4)

    def core_inputs(self):
        """(distinct keys as uint64, shard blobs, filter parameters, lowest
        true-negative key) for ``core_metrics``."""
        from cuckoofilter_spark.core.cuckoo import suggest_capacity

        return (self.members.view(np.uint64),
                [bytes(r.sketch) for r in self.shards(self.inputs[0]).collect()],
                dict(max_num_keys=suggest_capacity(TOKEN_VOCAB),
                     bits_per_item=BUILD_BITS, seed=FILTER_SEED),
                TOKEN_VOCAB)


class Decontam(Workload):
    """One op = ``decontaminate(corpus, eval, n=3).count()``."""

    name = "decontam"
    bits = DECONTAM_BITS

    def setup(self, k: int) -> None:
        with self.tr.span("sources.generate"):
            corpus, ev, injected = gen.text_corpus(
                self.seed, CORPUS_DOCS, DOC_WORDS, EVAL_DOCS, EVAL_WORDS)
            voc = gen.vocab()
            d = self.path(f"text-{k}")
            gen.write_parquet(
                pa.table({"id": np.arange(CORPUS_DOCS, dtype=np.int64),
                          "text": gen.texts(corpus, voc)}),
                os.path.join(d, "corpus"), self.nproc)
            gen.write_parquet(
                pa.table({"id": np.arange(EVAL_DOCS, dtype=np.int64),
                          "text": gen.texts(ev, voc)}),
                os.path.join(d, "eval"), 1)
            self.inputs.append(
                (self.spark.read.parquet(os.path.join(d, "corpus")),
                 self.spark.read.parquet(os.path.join(d, "eval"))))
        if k == 0:
            self.words = (corpus, ev, injected)

    def start(self) -> None:
        # the oracle's word ids wait on disk, out of the measured memory
        corpus, ev, injected = self.words
        np.savez(self.path("words.npz"), corpus=corpus, ev=ev,
                 injected=injected)
        del self.words
        self.counts: list[int] = []
        self.flagged = None

    def op(self, i: int) -> None:
        from cuckoofilter_spark.operators.decontam import (
            decontaminate, eval_ngram_filter, overlap_report,
        )

        tr = self.tr
        corpus, ev = self.copy(i)
        if tr.enabled:
            # decontaminate() is exactly these two calls; traced runs
            # make them separately so each gets its own span
            with tr.span("operators.decontam.eval_filter"):
                blob, grams = eval_ngram_filter(ev, "text", n=3)
            with tr.span("operators.decontam.overlap"):
                n = overlap_report(corpus, blob, grams, "id", "text",
                                   n=3).count()
        elif self.flagged is None:
            # the first (warm, untimed) op collects the flagged ids that
            # the checks compare with the oracle; later ops count them
            self.flagged = np.sort(np.array(
                [r.id for r in decontaminate(corpus, ev, "id",
                                             "text", n=3).collect()],
                dtype=np.int64))
            n = len(self.flagged)
        else:
            n = decontaminate(corpus, ev, "id", "text", n=3).count()
        self.counts.append(n)

    def items(self) -> int:
        return CORPUS_DOCS

    def scan_source(self):
        return self.inputs[0][0]

    def finish(self) -> None:
        from pyspark.sql import functions as F

        from cuckoofilter_spark.operators.decontam import eval_ngram_filter

        with np.load(self.path("words.npz")) as w:
            self.expected = gen.contaminated_docs(w["corpus"], w["ev"])
            injected = w["injected"]
        n_exp = len(self.expected)
        self.check("every op flags the oracle count",
                   all(c == n_exp for c in self.counts),
                   f"counts {sorted(set(self.counts))}, oracle {n_exp} "
                   f"({len(injected)} injected)")
        got = self.flagged
        self.check("flagged ids = injected + natural overlaps",
                   got is not None and np.array_equal(got, self.expected)
                   and np.isin(injected, got).all(),
                   f"{0 if got is None else len(got)} flagged, {n_exp} expected")
        # the eval filter from every input copy, copy 0's last
        for k in reversed(range(len(self.inputs))):
            blob, grams = eval_ngram_filter(self.inputs[k][1], "text", n=3)
            self.note_blob(k, blob)
        self.check_blob_shas()
        self.gram_keys = grams.toPandas()["gh"].to_numpy(
            dtype=np.int64).view(np.uint64)
        self.n_keys = len(self.gram_keys)
        self.probe_check(grams, "gh", F.lit(True), self.n_keys)
        # a 16-bit filter's FPR is 16x lower than build's: 2x the keys
        self.driver_fpr(-2**63, 8, self.gram_keys)

    def core_inputs(self):
        """As ``Build.core_inputs``; the eval filter has no shards, so its
        gram keys are split ``nproc`` ways by key."""
        from cuckoofilter_spark.core.cuckoo import CuckooFilter, suggest_capacity

        keys = self.gram_keys
        params = dict(max_num_keys=suggest_capacity(len(keys)),
                      bits_per_item=DECONTAM_BITS, seed=FILTER_SEED)
        shards = []
        for i in range(self.nproc):
            f = CuckooFilter(**params)
            f.add_many(keys[keys % np.uint64(self.nproc) == np.uint64(i)])
            shards.append(f.to_bytes())
        return keys, shards, params, 0


WORKLOADS = {w.name: w for w in (Build, Decontam)}


def core_metrics(keys: np.ndarray, shard_blobs: list[bytes], params: dict,
                 negatives_from: int, seed: int) -> dict[str, float]:
    """Driver-side throughput of the public ``CuckooFilter`` methods on
    the workload's own keys and shard blobs (median of three)."""
    from cuckoofilter_spark import CuckooFilter, sketch_from_bytes

    q = gen.probe_keys(seed, keys.view(np.int64), CORE_PROBES,
                       negatives_from).view(np.uint64)

    def med3(fn, prep=lambda: None):
        ts = []
        for _ in range(3):
            arg = prep()
            t = time.perf_counter()
            out = fn(arg)
            ts.append(time.perf_counter() - t)
        return sorted(ts)[1], out

    t_add, _ = med3(lambda _: CuckooFilter(**params).add_many(keys))
    full = CuckooFilter(**params)
    full.add_many(keys)
    t_con, _ = med3(lambda _: full.contains_many(q))
    # merge_many merges into its first filter: fresh copies every time
    t_merge, merged = med3(
        lambda fs: type(fs[0]).merge_many(fs, dedup=True),
        lambda: [sketch_from_bytes(b) for b in shard_blobs])
    n_merge = sum(sketch_from_bytes(b).num_items for b in shard_blobs)
    t_to, blob = med3(lambda _: merged.to_bytes())
    t_from, _ = med3(lambda _: sketch_from_bytes(blob))
    mb = merged.table.nbytes / 1e6
    return {
        "core.add_many.mkeys_per_s": len(keys) / t_add / 1e6,
        "core.contains_many.mkeys_per_s": len(q) / t_con / 1e6,
        "core.merge_many.mkeys_per_s": n_merge / t_merge / 1e6,
        "core.to_bytes.mb_per_s": mb / t_to,
        "core.from_bytes.mb_per_s": mb / t_from,
        "core.load_factor": merged.load_factor,
        "core.bits_per_key": merged.bits_per_item,
    }
