"""Substring-level (n-gram-granular) duplicate-span analysis.

Document-level dedup (``operators/dedup.py``) removes whole
near-duplicate documents; this module finds DUPLICATED SPANS INSIDE
otherwise-unique documents — boilerplate headers, licence blocks,
navigation chrome — the signal of Lee et al. 2022, "Deduplicating
Training Data Makes Language Models Better" (there: suffix-array
substring dedup; here: the k-gram-granular formulation that
distributes).

Semantics (exact, oracle-checkable):

- words = ASCII-whitespace split of the trimmed text (identical to
  the shingle kernel and every SQL oracle in the suite);
- a document's k-gram at position p (0-based, p ≤ n_words−k) is the
  word window [p, p+k);
- a k-gram is DUPLICATED when its corpus-wide occurrence count
  (multiplicity, within- and cross-document) is ≥ ``min_count``;
- a word position is covered when at least one duplicated k-gram
  window contains it; ``covered`` is the exact union length of the
  [p, p+k) intervals over a doc's duplicated positions, and
  ``dup_e4`` = ⌊covered · 10⁴ / n_words⌋ is the duplicated-span
  fraction in integer 1e-4 units (integer division — exact in any
  engine).

Scale shape (the 100 TB contract): the corpus is touched by
(a) one Arrow-batched kernel pass producing the per-doc gram-hash
sequence (8 bytes/gram, text never re-tokenized downstream);
(b) the COLLAPSING SCAN — explode to gram hashes and map-side-combine
count them (the only shuffle that sees one row per token, and it
carries 8-byte keys + partial counts, never text);
(c) a broadcast cuckoo-filter gate (built from the frequent set,
zero false negatives) applied BELOW the posexplode so only
candidate positions — duplicated grams plus an ε of filter false
positives — reach (d) the exact verify join and the per-doc coverage
window. Plan-asserted in ``tests/test_plans.py``.

Counting is over 64-bit kernel hashes, not strings: two distinct
grams colliding would merge their counts (~n²/2⁶⁵ — negligible; the
SQL oracle counts the strings and stays hash-green). The kernel seed
rules from ``operators/dedup`` apply: seeds ≥ 2**32 key the hash for
adversarial corpora (see the dedup module trust-model note).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    LongType,
    StructField,
    StructType,
)

_GRAM_TABLE_TYPE = StructType([
    StructField("n_words", IntegerType()),
    StructField("ghs", ArrayType(LongType())),
])


def _gram_seq_batch(texts, k: int, seed: int):
    """Per-document (word count, gram hashes IN POSITION ORDER, with
    multiplicity) for an Arrow batch — the positional sibling of
    ``dedup._shingle_hashes_batch`` (which de-duplicates per doc).
    Both are thin tails over the SHARED kernel prefix
    ``dedup._gram_window_seq`` (round-7 review: sharing by
    construction, not by copy), so a gram here hashes identically to
    the same word window everywhere else."""
    from cuckoofilter_spark.operators.dedup import _gram_window_seq

    counts, lengths, grams = _gram_window_seq(texts, k, seed)
    empty = np.empty(0, dtype=np.uint64)
    if grams is None:
        return counts, [empty] * len(counts)
    out, s = [], 0
    for length in lengths.tolist():
        out.append(grams[s:s + length])
        s += length
    return counts, out


def gram_table(
    df: DataFrame, id_col: str, text: str, *, k: int = 3,
    seed: int = 2014,
) -> DataFrame:
    """(doc, n_words int, ghs array<long>): each document's word count
    and its k-gram hash SEQUENCE (position order, multiplicity kept —
    ``ghs[p]`` is the gram starting at word ``p``). One Arrow-batched
    kernel pass; every downstream stage works on these 8-byte hashes,
    never on text."""

    @F.pandas_udf(_GRAM_TABLE_TYPE)
    def tbl_udf(texts: pd.Series) -> pd.DataFrame:
        counts, grams = _gram_seq_batch(texts, k, seed)
        return pd.DataFrame({
            "n_words": counts.astype(np.int32),
            "ghs": [g.view(np.int64) for g in grams],
        })

    from cuckoofilter_spark.session import fan_out

    # fan_out (round 8): single-row-group scans serialize the kernel;
    # per-doc output is partition-independent. Project first: the
    # exchange ships only (id, text), the scan stays column-pruned.
    df = fan_out(df.select(F.col(id_col), F.col(text)))
    return df.select(
        F.col(id_col).alias("doc"), tbl_udf(F.col(text)).alias("t")
    ).select("doc", F.col("t.n_words").alias("n_words"),
             F.col("t.ghs").alias("ghs"))


def _frequent_hits(
    tbl: DataFrame, *, min_count: int, bits_per_item: int,
    filter_seed: int,
):
    """(freq, hits): the frequent-gram set (gh, persisted) and the
    exact (doc, pos) table of duplicated gram positions — or
    ``(None, None)`` when no gram reaches ``min_count``.

    The cuckoo gate keeps the verify join candidate-only: the filter
    has zero false negatives (no duplicated position can be lost) and
    only ~2b/2^f of infrequent positions leak through to be killed by
    the exact join."""
    from cuckoofilter_spark.core.cuckoo import suggest_capacity
    from cuckoofilter_spark.operators.build import (
        bounded_collect, build_sketch_shards, collected_keys,
        driver_sketch_blob,
    )
    from cuckoofilter_spark.operators.merge import merge_shards_to_blob
    from cuckoofilter_spark.operators.probe import might_contain_udf

    freq = (
        tbl.select(F.explode("ghs").alias("gh"))
        .groupBy("gh")
        .agg(F.count(F.lit(1)).alias("cnt"))
        .filter(F.col("cnt") >= min_count)
        .select("gh")
        .persist()
    )
    n_freq = freq.count()
    if n_freq == 0:
        freq.unpersist()
        return None, None
    cap = max(suggest_capacity(n_freq), 1024)
    collected = bounded_collect(freq, n_rows=n_freq)
    if collected is not None:
        # round 8: frequent sets within the driver budget build the gate
        # filter driver-side from one collect instead of a 32-task
        # shard build + merge round — same blob role, FPR pattern noise
        # only (the exact join below decides)
        blob = driver_sketch_blob(
            "cuckoo", collected_keys(collected), "_frequent_hits",
            max_num_keys=cap, bits_per_item=bits_per_item, seed=filter_seed,
        )
    else:
        blob = merge_shards_to_blob(
            build_sketch_shards(
                freq, "gh", kind="cuckoo", lineage=False,
                max_num_keys=cap, bits_per_item=bits_per_item,
                seed=filter_seed,
            ),
            dedup=True,
        )
    probe = might_contain_udf(tbl.sparkSession, blob)
    cand = (
        tbl.select("doc", F.posexplode("ghs").alias("pos", "gh"))
        .filter(probe("gh"))
    )
    hits = cand.join(freq, "gh").select("doc", "pos")
    return freq, hits


def duplicated_span_stats(
    df: DataFrame, id_col: str, text: str, *, k: int = 3,
    min_count: int = 2, seed: int = 2014, bits_per_item: int = 16,
    filter_seed: int = 7,
) -> DataFrame:
    """Per-document duplicated-span report: ``(doc, n_words, n_grams,
    n_dup_grams, covered, dup_e4)`` — one row per input document
    (docs with no duplicated spans report zeros).

    ``covered`` is the exact union length of the duplicated k-gram
    windows (consecutive/overlapping windows merge: per doc, sorted
    duplicated positions contribute min(k, next_pos − pos), the last
    contributes k). ``dup_e4`` = ⌊covered·10⁴ / n_words⌋.

    Downstream recipes: filter ``dup_e4 >= X`` to drop
    boilerplate-heavy documents, or pass the same parameters to
    ``drop_duplicated_spans`` to strip the spans in place. See the
    module docstring for semantics and the 100 TB plan shape."""
    tbl = gram_table(df, id_col, text, k=k, seed=seed).persist()
    base = tbl.select(
        "doc",
        F.col("n_words").cast("long").alias("n_words"),
        F.size("ghs").cast("long").alias("n_grams"),
    )
    _freq, hits = _frequent_hits(
        tbl, min_count=min_count, bits_per_item=bits_per_item,
        filter_seed=filter_seed,
    )
    if hits is None:
        return base.select(
            "doc", "n_words", "n_grams",
            F.lit(0).cast("long").alias("n_dup_grams"),
            F.lit(0).cast("long").alias("covered"),
            F.lit(0).cast("long").alias("dup_e4"),
        )
    w = Window.partitionBy("doc").orderBy("pos")
    contrib = F.least(
        F.lit(k).cast("long"),
        F.coalesce(
            F.lead("pos").over(w) - F.col("pos"), F.lit(k).cast("long")
        ),
    )
    cov = (
        hits.select("doc", contrib.alias("c"))
        .groupBy("doc")
        .agg(
            F.count(F.lit(1)).alias("n_dup_grams"),
            F.sum("c").alias("covered"),
        )
    )
    return (
        base.join(cov, "doc", "left")
        .select(
            "doc", "n_words", "n_grams",
            F.coalesce("n_dup_grams", F.lit(0)).alias("n_dup_grams"),
            F.coalesce("covered", F.lit(0)).alias("covered"),
            F.when(
                F.col("n_words") > 0,
                F.expr("coalesce(covered, 0L) * 10000L div n_words"),
            ).otherwise(F.lit(0)).cast("long").alias("dup_e4"),
        )
    )


def drop_duplicated_spans(
    df: DataFrame, id_col: str, text: str, *, k: int = 3,
    min_count: int = 2, seed: int = 2014, bits_per_item: int = 16,
    filter_seed: int = 7,
) -> DataFrame:
    """The span-drop transform: every input column plus
    ``text_dedup`` — the document with all duplicated-span word
    positions removed (words re-joined by single spaces; whitespace
    is not preserved byte-for-byte, matching the word-level
    semantics of the whole suite) — and ``n_dropped_words``.

    Same duplicated-span definition and pipeline as
    ``duplicated_span_stats``; the per-doc covered-position set comes
    back as a sorted array (bounded by the doc's word count) and the
    rewrite is a JVM higher-order filter over the split words — no
    text ever crosses to Python. Docs with nothing to drop pass
    through with ``text_dedup = `` the space-normalized words."""
    tbl = gram_table(df, id_col, text, k=k, seed=seed).persist()
    _freq, hits = _frequent_hits(
        tbl, min_count=min_count, bits_per_item=bits_per_item,
        filter_seed=filter_seed,
    )
    words = F.filter(
        F.split(F.trim(F.col(text)), r"\s+"), lambda x: x != ""
    )
    if hits is None:
        return df.withColumns({
            "text_dedup": F.array_join(words, " "),
            "n_dropped_words": F.lit(0).cast("long"),
        })
    # keyed "_span_doc", not "doc": an input frame whose id column is
    # literally "doc" (the package's own canonical output name) would
    # otherwise make the join condition ambiguous — and only on dirty
    # corpora, since the hits-is-None early return skips the join
    # (round-7 review finding)
    covered = hits.groupBy("doc").agg(
        F.array_sort(
            F.array_distinct(
                F.flatten(
                    F.collect_list(
                        F.sequence(
                            F.col("pos"), F.col("pos") + F.lit(k - 1)
                        )
                    )
                )
            )
        ).alias("_cov")
    ).withColumnRenamed("doc", "_span_doc")
    kept = F.filter(
        F.arrays_zip(
            words.alias("w"),
            F.sequence(
                F.lit(0), F.greatest(F.size(words) - 1, F.lit(0))
            ).alias("i"),
        ),
        lambda s: ~F.coalesce(
            F.array_contains(F.col("_cov"), s["i"]), F.lit(False)
        ),
    )
    out = (
        df.join(covered, F.col(id_col) == F.col("_span_doc"), "left")
        .withColumns({
            "text_dedup": F.when(
                F.size(words) > 0,
                F.array_join(
                    F.transform(kept, lambda s: s["w"]), " "
                ),
            ).otherwise(F.lit("")),
            "n_dropped_words": F.coalesce(
                F.size("_cov"), F.lit(0)
            ).cast("long"),
        })
        .drop("_span_doc", "_cov")
    )
    return out
