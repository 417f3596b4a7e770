"""Mergeable sketches: bounded-memory frequent items (Misra-Gries /
SpaceSaving) and t-digest quantile rollups.

Part 1 — heavy hitters via a mergeable Misra-Gries-family summary (the
batch "lossy truncate + threshold" form of SpaceSaving; Misra & Gries
1982, Metwally et al. 2005).

Why a sketch at all
-------------------
The naive top-k (explode → groupBy(term) → rank) is correct but its
shuffle grows with the VOCABULARY: after map-side combine each map
partition still emits one row per distinct term it saw, and a web-scale
token stream has effectively unbounded distinct terms (typos, ids,
urls, hashes). The summary caps every partition's shuffle contribution
at ``budget`` rows no matter how many distinct terms it saw — the
exchange is O(budget × partitions), constant in data volume, and the
merge is a plain sum-by-key. That is the difference between a top-k
that survives 100 TB and one that doesn't.

Summary semantics (per partition)
---------------------------------
Terms are counted EXACTLY within the partition (vectorized pandas
``value_counts`` — no per-row Python), then:

- if the partition saw ≤ ``budget`` distinct terms the summary IS the
  exact count table and its threshold is 0;
- else it keeps the ``budget`` most frequent terms (count DESC, term
  ASC pin) with their exact in-partition counts and records
  ``thr_p`` = the count of the first DROPPED term. For any term ``t``
  the partition's true count then lies in
  ``[cnt_p(t), cnt_p(t) + thr_p·[t missing from summary]]``.

Merging across partitions keeps the sandwich: with
``lb(t) = Σ_present cnt_p(t)`` and
``ub(t) = lb(t) + Σ_{p: t missing} thr_p``,
``lb(t) ≤ true(t) ≤ ub(t)``. The query face reports ``freq = lb`` and
``err_ub = ub − lb``; a term is a GUARANTEED top-k member when its lb
exceeds the (k+1)-th ub.

Oracle validity bound (documented, like ivf_ann's train-sample bound):
with ``budget`` ≥ the max per-partition distinct-term count, every
``thr_p`` is 0, the summary is lossless, ``err_ub`` ≡ 0 and the
result equals the exact top-k — which is what the DuckDB oracle
computes. The sf0.01 documents corpus holds 31 distinct terms in
TOTAL (deliberately tiny synthetic vocabulary), orders of magnitude
under the 2^17 default budget, so the driver check runs in the
lossless regime; the truncation path is exercised by its own
bound-sandwich test at budget=8.
"""

from __future__ import annotations

from typing import Iterator

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from chronoxtract_spark.operators.text import normalized_text

_SUMMARY_SCHEMA = "term string, cnt long, thr long"


def _partition_summary(budget: int):
    """mapInPandas kernel: exact in-partition counts, truncated to
    ``budget`` survivors + one thr metadata row (term NULL) per
    partition. Vectorized throughout (value_counts / sort_values)."""

    def _truncate(acc, budget_):
        """Keep the budget_ most frequent (count DESC, term ASC — the
        same deterministic pin every ranked surface in this repo
        uses); return (kept Series, threshold = largest dropped
        count)."""
        import pandas as pd

        tab = acc.rename_axis("term").reset_index(name="cnt")
        tab = tab.sort_values(
            ["cnt", "term"], ascending=[False, True], kind="mergesort"
        )
        thr = int(tab["cnt"].iloc[budget_])
        kept = tab.iloc[:budget_]
        return pd.Series(
            kept["cnt"].to_numpy(), index=kept["term"], dtype="int64"
        ), thr

    def summarize(batches: Iterator) -> Iterator:
        import numpy as np
        import pandas as pd

        # MEMORY BOUND: the accumulator is compacted to ``budget``
        # whenever it exceeds 4x budget, so a partition with an
        # unbounded vocabulary holds at most ~4·budget counters at any
        # moment — the Manku-Motwani lossy-counting form of the MG
        # summary. Each compaction can erase at most its threshold
        # from any term's tally, so Σ thr over compactions stays a
        # sound per-partition undercount bound for EVERY term; but a
        # term PRESENT in the final summary may then be undercounted
        # too, so after any mid-stream compaction the survivors carry
        # thr=0 (the merge stops subtracting their thr_p and the
        # global bound falls back to the always-sound lb + Σ thr_p).
        acc = None
        thr_total = 0
        compacted = False
        for pdf in batches:
            if not len(pdf):
                continue
            # token ARRAYS arrive per document (one Arrow list column);
            # flattening is one C-level concatenate, counting is one
            # hash pass — no per-token Python
            flat = np.concatenate(pdf["toks"].to_numpy())
            if not flat.size:
                continue
            vc = pd.Series(flat).value_counts()
            # compact BEFORE absorbing the new batch, never after the
            # last one: a partition whose only overflow is resolved by
            # the final truncation keeps the tight survivor bound
            # (thr on survivors), and the accumulator stays bounded at
            # 4·budget + one Arrow batch's distinct terms
            if acc is not None and len(acc) > 4 * budget:
                acc, thr_i = _truncate(acc.astype("int64"), budget)
                thr_total += thr_i
                compacted = True
            acc = vc if acc is None else acc.add(vc, fill_value=0)
        if acc is None:
            return
        acc = acc.astype("int64")
        if len(acc) > budget:
            acc, thr_i = _truncate(acc, budget)
            thr_total += thr_i
        tab = acc.rename_axis("term").reset_index(name="cnt")
        # survivor rows carry thr_p so the merge can subtract
        # Σ_{p: t present} thr_p from the global Σ thr_p — valid ONLY
        # when the single final truncation was the partition's only
        # loss event (survivor counts exact); the one NULL-term
        # metadata row per partition always carries the full Σ thr
        survivor_thr = 0 if compacted else thr_total
        yield pd.DataFrame(
            {"term": tab["term"], "cnt": tab["cnt"], "thr": survivor_thr}
        )
        yield pd.DataFrame({"term": [None], "cnt": [0], "thr": [thr_total]})

    return summarize


def term_summaries(
    df: DataFrame, text_col: str = "text", budget: int = 1 << 17
) -> DataFrame:
    """Per-partition mergeable summaries over the canonical token
    stream (normalized_text split, empty tokens dropped — identical to
    zipf/pmi/bm25). Output: ``term (NULL = partition metadata row),
    cnt, thr``; ≤ budget+1 rows per partition by construction.

    Tokenization stays JVM-side (codegen'd split/filter); documents
    cross the Arrow boundary once as list<string> — never as exploded
    per-token rows, which would multiply the transfer by mean doc
    length."""
    toks = df.select(
        F.filter(F.split(normalized_text(text_col), " "), lambda t: t != "").alias(
            "toks"
        )
    )
    return toks.mapInPandas(_partition_summary(int(budget)), schema=_SUMMARY_SCHEMA)


def heavy_hitters(
    df: DataFrame,
    text_col: str = "text",
    k: int = 100,
    budget: int = 1 << 17,
) -> DataFrame:
    """Top-``k`` terms by merged lower-bound count with per-term
    overcount bound. Returns ``rank, term, freq, err_ub`` ranked by
    (freq DESC, term ASC).

    Plan shape: one mapInPandas over the document scan (no shuffle),
    ONE sum-by-key exchange over ≤ (budget+1)·P summary rows feeding
    BOTH the per-term merge and the Σthr scalar (same groupBy subtree
    on both branches, so Spark reuses the exchange instead of running
    the token scan twice), a broadcast of the single-row Σthr, and a
    TakeOrdered top-k — the rank window runs over k rows, never the
    vocabulary.
    """
    summ = term_summaries(df, text_col=text_col, budget=budget)
    # both consumers (per-term merge + Σthr scalar) read the summary;
    # without a barrier Catalyst pushes each branch's term-null filter
    # BELOW the shared aggregation, the exchanges stop being identical,
    # and the document scan + tokenize runs TWICE — at 100 TB that
    # doubles the dominant cost. The summary is ≤ (budget+1)·P rows by
    # construction, so pinning IT is cheap at any scale.
    summ = summ.persist()
    agg = summ.groupBy("term").agg(
        F.sum("cnt").cast("long").alias("freq"),
        F.sum("thr").cast("long").alias("thr_sum"),
    )
    total = agg.where(F.col("term").isNull()).select(
        F.col("thr_sum").alias("total_thr")
    )
    top = (
        agg.where(F.col("term").isNotNull())
        .crossJoin(F.broadcast(total))
        # a partition that kept the term cannot ALSO have dropped it:
        # its thr_p comes off the global sum, leaving exactly
        # Σ_{p: t missing} thr_p — the tight MG overcount bound
        .withColumn("err_ub", (F.col("total_thr") - F.col("thr_sum")))
        .orderBy(F.desc("freq"), F.asc("term"))
        .limit(int(k))
    )
    # constant partition key: the window runs over the k surviving
    # rows only (and Spark's "no partition defined" warning is silenced
    # for a window that is BY DESIGN k-row single-partition)
    w = Window.partitionBy(F.lit(0)).orderBy(F.desc("freq"), F.asc("term"))
    return top.withColumn("rank", F.row_number().over(w).cast("long")).select(
        "rank", "term", "freq", F.col("err_ub").cast("long").alias("err_ub")
    )


# ---------------------------------------------------------------------------
# Part 2 — t-digest quantile rollups (kernel/tdigest.py; the north star
# names this sketch for tier quantiles: "rolling quantiles via t-digest
# sketches"). Digest state is two aligned array<double> columns
# (centroid means ascending + weights), built per fine bucket with ONE
# applyInPandas over the (key, fine-bucket) groups and re-rolled to the
# coarse tier by MERGING STATES per coarse key — the coarse tier never
# re-scans raw points, which is the whole reason a mergeable sketch
# earns its place at 10^12 turns.
#
# Scale shape: both passes group on (key, bucket) — same co-location as
# every tier aggregation in plans/rollup.py; the merge input is
# O(compression) floats per fine bucket, so the second shuffle moves
# sketch state, not data. No per-row Python: the kernel is numpy array
# ops over Arrow-delivered batches.


_DIGEST_SCHEMA = (
    "key string, bucket_epoch long, n long, "
    "means array<double>, weights array<double>"
)


def tdigest_bucket_digests(
    df: DataFrame,
    key_col: str,
    ts_col: str,
    val_col: str,
    bucket_seconds: int = 3600,
    compression: float = 100.0,
) -> DataFrame:
    """One digest per (key, bucket): applyInPandas over the bucket
    groups, kernel tdigest_build inside (deterministic: the kernel
    sorts, so arrival order is irrelevant). Null values are dropped."""
    from chronoxtract_spark.kernel.tdigest import tdigest_build

    comp = float(compression)
    bsec = int(bucket_seconds)

    slim = df.select(
        F.col(key_col).cast("string").alias("key"),
        (F.floor(F.unix_timestamp(F.col(ts_col)) / bsec) * bsec)
        .cast("long")
        .alias("bucket_epoch"),
        F.col(val_col).cast("double").alias("v"),
    ).where(F.col("v").isNotNull())

    def build(pdf):
        import pandas as pd

        m, w = tdigest_build(pdf["v"].to_numpy(float), compression=comp)
        return pd.DataFrame(
            {
                "key": [pdf["key"].iloc[0]],
                "bucket_epoch": [int(pdf["bucket_epoch"].iloc[0])],
                "n": [int(len(pdf))],
                "means": [m.tolist()],
                "weights": [w.tolist()],
            }
        )

    return slim.groupBy("key", "bucket_epoch").applyInPandas(
        build, schema=_DIGEST_SCHEMA
    )


def tdigest_rollup_quantiles(
    digests: DataFrame,
    coarse_seconds: int = 86400,
    qs: tuple = (0.05, 0.25, 0.5, 0.75, 0.95),
    compression: float = 100.0,
) -> DataFrame:
    """Merge fine-bucket digest STATES per (key, coarse bucket) and
    emit quantile estimates — hierarchical re-aggregation with no raw
    re-scan (the t-digest face of the summed moment-state pattern,
    q_hierarchical_moments). Merge is order-insensitive (kernel re-sorts centroids),
    so shuffle arrival order cannot change a single output bit."""
    from chronoxtract_spark.kernel.tdigest import (
        tdigest_merge,
        tdigest_quantiles,
    )

    comp = float(compression)
    csec = int(coarse_seconds)
    qlist = [float(q) for q in qs]
    qcols = [f"q{int(round(q * 100)):02d}" for q in qlist]
    out_schema = "key string, bucket_epoch long, n long, " + ", ".join(
        f"{c} double" for c in qcols
    )

    coarse = digests.withColumn(
        "coarse_epoch",
        (F.floor(F.col("bucket_epoch") / csec) * csec).cast("long"),
    )

    def merge(pdf):
        import numpy as np
        import pandas as pd

        parts = [
            (np.asarray(m, dtype=float), np.asarray(w, dtype=float))
            for m, w in zip(pdf["means"], pdf["weights"])
        ]
        mm, ww = tdigest_merge(parts, compression=comp)
        row = {
            "key": pdf["key"].iloc[0],
            "bucket_epoch": int(pdf["coarse_epoch"].iloc[0]),
            "n": int(pdf["n"].sum()),
        }
        for c, v in zip(qcols, tdigest_quantiles(mm, ww, qlist)):
            row[c] = v
        return pd.DataFrame([row])

    return coarse.groupBy("key", "coarse_epoch").applyInPandas(
        merge, schema=out_schema
    )


# ---------------------------------------------------------------------------
# Part 3 — KMV (k-minimum-values) distinct-count sketch (Bar-Yossef et
# al. 2002; the bottom-k form). Completes the sketch suite: quantiles
# (t-digest), frequent items (Misra-Gries), distinct counts (KMV).
#
# Why: count(DISTINCT x) per group shuffles every distinct value; at
# web scale (user ids, conv ids, token types) that is again a shuffle
# that grows with the data. KMV ships only each partition's k smallest
# 64-bit hashes per group — O(k) rows per (partition, group) no matter
# how many distinct values the partition saw — and merges by dedupe +
# global k smallest. Estimator: (k-1)/u_k with u_k the k-th smallest
# hash mapped to (0,1); when the merged sketch holds FEWER than k
# hashes it saw every distinct value and the count is exact (modulo
# 64-bit hash collisions, whose absence on a given dataset the oracle
# run itself witnesses).
#
# Oracle validity bound (the suite's standard pattern): with k ≥ the
# per-group distinct count the sketch is lossless and the query equals
# SQL count(DISTINCT ...); the k-bounded estimator path is pinned by
# its own relative-error test instead.


def kmv_group_mins(
    df: DataFrame, group_col: str, value_col: str, k: int = 1 << 12
) -> DataFrame:
    """Per-partition, per-group bottom-k of xxhash64(value). Hashing is
    JVM-side (codegen); the per-partition bottom-k is one vectorized
    sort + groupby-head in pandas. Output: (g, h), ≤ k rows per group
    per partition."""
    hashed = df.select(
        F.col(group_col).cast("string").alias("g"),
        F.xxhash64(F.col(value_col)).alias("h"),
    ).where(F.col("h").isNotNull())

    kk = int(k)

    def bottomk(batches: Iterator) -> Iterator:
        import pandas as pd

        # MEMORY BOUND: bottom-k composes losslessly —
        # bottomk(A ∪ B) = bottomk(bottomk(A) ∪ B) — so the
        # accumulator is re-truncated to k per group after every
        # batch and never holds more than k·groups + batch rows
        acc = None
        for pdf in batches:
            if not len(pdf):
                continue
            pdf = pdf.drop_duplicates()
            acc = pdf if acc is None else pd.concat((acc, pdf))
            acc = (
                acc.drop_duplicates()
                .sort_values(["g", "h"], kind="mergesort")
                .groupby("g", sort=False)
                .head(kk)
            )
        if acc is None:
            return
        yield acc

    return hashed.mapInPandas(bottomk, schema="g string, h long")


def kmv_distinct(
    df: DataFrame, group_col: str, value_col: str, k: int = 1 << 12
) -> DataFrame:
    """Distinct-count sketch per group. Returns
    ``g, n_kept, saw_all, est`` where ``saw_all`` marks the lossless
    regime (merged sketch smaller than k ⇒ est is the exact distinct
    count) and otherwise ``est = (k-1)/u_k`` (KMV estimator over the
    k-th smallest hash mapped to the unit interval).

    Plan shape: one mapInPandas over the scan (no shuffle), one
    distinct+window exchange over ≤ k·P rows per group, a tiny final
    aggregate. The shuffle is constant in the number of distinct
    values — the point of the sketch."""
    kk = int(k)
    mins = kmv_group_mins(df, group_col, value_col, k=kk).dropDuplicates(
        ["g", "h"]
    )
    w = Window.partitionBy("g").orderBy("h")
    ranked = mins.withColumn("rn", F.row_number().over(w)).where(
        F.col("rn") <= kk
    )
    # map int64 hash to the unit interval: u = (h + 2^63) / 2^64
    u_k = (F.col("kth").cast("double") + F.lit(float(2**63))) / F.lit(
        float(2**64)
    )
    agg = ranked.groupBy("g").agg(
        F.count("*").cast("long").alias("n_kept"),
        F.max(F.when(F.col("rn") == kk, F.col("h"))).alias("kth"),
    )
    return agg.select(
        "g",
        "n_kept",
        (F.col("n_kept") < kk).alias("saw_all"),
        F.when(F.col("n_kept") < kk, F.col("n_kept").cast("double"))
        .otherwise(F.lit(float(kk - 1)) / u_k)
        .alias("est"),
    )
