"""Misra-Gries / SpaceSaving heavy-hitters summary (operators/sketches).

Three contracts:
- lossless regime (budget ≥ per-partition distinct): result equals the
  exact top-k, err_ub ≡ 0 — the documented oracle validity bound;
- truncation regime (tiny budget): the lb/ub sandwich
  lb ≤ true ≤ lb + err_ub holds for every reported term, and terms
  whose lb beats the (k+1)-th ub are guaranteed true top-k members;
- merge correctness: the summary exchange stays ≤ budget+1 rows per
  partition no matter how skewed or wide the partition vocabulary is.
"""

import pytest
from pyspark.sql import functions as F

from chronoxtract_spark.operators.sketches import heavy_hitters, term_summaries


def _corpus(spark, rows, n_parts=4):
    return spark.createDataFrame(
        [(i, t) for i, t in enumerate(rows)], "doc_id long, text string"
    ).repartition(n_parts)


def _exact_counts(rows):
    from collections import Counter

    c = Counter()
    for t in rows:
        c.update(w for w in t.strip().lower().split() if w)
    return c


def test_lossless_matches_exact_topk(spark):
    rows = [
        "alpha beta gamma alpha", "beta beta delta", "alpha zeta",
        "gamma gamma gamma beta", "eta theta alpha beta", "iota kappa",
    ] * 7
    out = heavy_hitters(_corpus(spark, rows), k=5, budget=1 << 10).collect()
    exact = _exact_counts(rows)
    want = sorted(exact.items(), key=lambda kv: (-kv[1], kv[0]))[:5]
    assert [(r["term"], r["freq"]) for r in out] == want
    assert [r["rank"] for r in out] == [1, 2, 3, 4, 5]
    assert all(r["err_ub"] == 0 for r in out)


def test_truncated_bounds_sandwich(spark):
    # 40 distinct terms, heavy skew, budget far below distinct count
    rows = []
    for i in range(40):
        rows += [f"term{i:02d}"] * (200 if i < 3 else (40 - i))
    df = _corpus(spark, rows, n_parts=6)
    out = heavy_hitters(df, k=10, budget=8).collect()
    exact = _exact_counts(rows)
    assert out, "truncated summary must still report"
    for r in out:
        true = exact[r["term"]]
        assert r["freq"] <= true <= r["freq"] + r["err_ub"], (
            r["term"], r["freq"], r["err_ub"], true)
    # the three mega-terms dominate every partition, so they must
    # survive truncation and be reported in the true order
    assert [r["term"] for r in out[:3]] == ["term00", "term01", "term02"]
    # guarantee check: lb above the (k+1)-th ub ⇒ certified top-k;
    # with k=10 covering all reported rows use the weakest reported ub
    ubs = sorted((r["freq"] + r["err_ub"] for r in out), reverse=True)
    kth_ub = ubs[min(len(ubs) - 1, 9)]
    certified = [r["term"] for r in out if r["freq"] > kth_ub]
    true_top = {t for t, _ in sorted(
        exact.items(), key=lambda kv: (-kv[1], kv[0]))[:10]}
    assert set(certified) <= true_top


def test_summary_rows_capped_per_partition(spark):
    # one partition, 100 distinct terms, budget 16 → ≤ 17 summary rows
    rows = [f"w{i}" for i in range(100)] * 2
    df = _corpus(spark, rows, n_parts=1)
    summ = term_summaries(df, budget=16)
    assert summ.count() <= 17
    meta = summ.where(F.col("term").isNull()).collect()
    assert len(meta) == 1 and meta[0]["thr"] > 0
    # survivor rows carry the partition threshold for the tight bound
    kept = summ.where(F.col("term").isNotNull()).select("thr").distinct().collect()
    assert [r["thr"] for r in kept] == [meta[0]["thr"]]


def test_empty_and_whitespace_docs(spark):
    rows = ["", "   ", "solo", "\t\n"]
    out = heavy_hitters(_corpus(spark, rows, n_parts=2), k=5, budget=64).collect()
    assert [(r["term"], r["freq"], r["err_ub"]) for r in out] == [("solo", 1, 0)]


# ---------------------------------------------------------------------------
# t-digest (kernel/tdigest.py + the sketches.py Spark faces)


def test_tdigest_singleton_regime_is_hazen():
    import numpy as np

    from chronoxtract_spark.kernel.tdigest import tdigest_build, tdigest_quantile

    x = np.random.RandomState(11).lognormal(0.0, 2.0, 997)
    m, w = tdigest_build(x, compression=1e7)
    assert m.size == x.size  # every point its own centroid
    for q in (0.01, 0.05, 0.25, 0.5, 0.75, 0.95, 0.99):
        got = tdigest_quantile(m, w, q)
        want = float(np.quantile(x, q, method="hazen"))
        assert got == pytest.approx(want, rel=1e-12), q


def test_tdigest_compressed_rank_error_and_determinism():
    import numpy as np

    from chronoxtract_spark.kernel.tdigest import tdigest_build, tdigest_quantile

    y = np.random.RandomState(5).standard_normal(200_000)
    m, w = tdigest_build(y, compression=100)
    assert m.size < 200  # real compression happened
    for q in (0.01, 0.05, 0.5, 0.95, 0.99):
        est = tdigest_quantile(m, w, q)
        rank = float((y < est).mean())
        assert abs(rank - q) < 5e-3, (q, rank)
    m2, w2 = tdigest_build(y, compression=100)
    import numpy.testing as npt

    npt.assert_array_equal(m, m2)
    npt.assert_array_equal(w, w2)


def test_tdigest_merge_order_insensitive_and_accurate():
    import numpy as np

    from chronoxtract_spark.kernel.tdigest import (
        tdigest_build,
        tdigest_merge,
        tdigest_quantile,
    )

    y = np.random.RandomState(9).exponential(3.0, 120_000)
    parts = [tdigest_build(y[i::24], compression=100) for i in range(24)]
    a = tdigest_merge(parts, compression=100)
    b = tdigest_merge(list(reversed(parts)), compression=100)
    np.testing.assert_array_equal(a[0], b[0])
    np.testing.assert_array_equal(a[1], b[1])
    for q in (0.05, 0.5, 0.95):
        est = tdigest_quantile(a[0], a[1], q)
        rank = float((y < est).mean())
        assert abs(rank - q) < 5e-3, (q, rank)


def test_tdigest_spark_hierarchy_matches_hazen(spark):
    """Hour digests merged to day (singleton regime) must reproduce the
    Hazen order statistic computed directly over each day's values."""
    import numpy as np

    from chronoxtract_spark.operators.sketches import (
        tdigest_bucket_digests,
        tdigest_rollup_quantiles,
    )

    rng = np.random.RandomState(21)
    rows = []
    for key in ("a", "b"):
        for h in range(30):
            for i in range(rng.randint(1, 40)):
                rows.append((key, 3600 * h + 60 * i, float(rng.gamma(2.0, 3.0))))
    df = spark.createDataFrame(rows, "key string, sec long, v double").select(
        "key", F.timestamp_seconds("sec").alias("ts"), "v"
    )
    digests = tdigest_bucket_digests(
        df, "key", "ts", "v", bucket_seconds=3600, compression=1e6
    )
    day = tdigest_rollup_quantiles(
        digests, coarse_seconds=86400, compression=1e6
    ).collect()
    assert day
    import pandas as pd

    pdf = pd.DataFrame(rows, columns=["key", "sec", "v"])
    pdf["dayi"] = (pdf["sec"] // 86400) * 86400
    for r in day:
        vals = pdf[(pdf["key"] == r["key"]) & (pdf["dayi"] == r["bucket_epoch"])][
            "v"
        ].to_numpy()
        assert r["n"] == vals.size
        for col, q in (("q05", 0.05), ("q50", 0.5), ("q95", 0.95)):
            want = float(np.quantile(vals, q, method="hazen"))
            assert r[col] == pytest.approx(want, rel=1e-12), (r["key"], col)


# ---------------------------------------------------------------------------
# KMV distinct-count sketch


def test_kmv_exact_regime_matches_distinct(spark):
    rows = [(f"g{i % 3}", f"u{i % 37}") for i in range(5000)]
    df = spark.createDataFrame(rows, "g string, u string").repartition(6)
    from chronoxtract_spark.operators.sketches import kmv_distinct

    out = {r["g"]: r for r in kmv_distinct(df, "g", "u", k=1 << 10).collect()}
    import collections

    truth = collections.defaultdict(set)
    for g, u in rows:
        truth[g].add(u)
    assert set(out) == set(truth)
    for g, r in out.items():
        assert r["saw_all"] is True
        assert r["n_kept"] == len(truth[g])
        assert r["est"] == pytest.approx(float(len(truth[g])))


def test_kmv_estimator_regime_relative_error(spark):
    n_true = 20_000
    df = (
        spark.range(n_true * 3)
        .select(F.lit("g").alias("g"), (F.col("id") % n_true).alias("u"))
        .repartition(8)
    )
    from chronoxtract_spark.operators.sketches import kmv_distinct

    k = 256
    r = kmv_distinct(df, "g", "u", k=k).collect()[0]
    assert r["saw_all"] is False and r["n_kept"] == k
    # KMV relative error ~ 1/sqrt(k) = 6.25%; allow 4 sigma
    assert abs(r["est"] - n_true) / n_true < 0.25, r["est"]
    # determinism: hash-based, no RNG
    r2 = kmv_distinct(df, "g", "u", k=k).collect()[0]
    assert r2["est"] == r["est"]


def test_kmv_partition_rows_capped(spark):
    from chronoxtract_spark.operators.sketches import kmv_group_mins

    df = (
        spark.range(50_000)
        .select(F.lit("g").alias("g"), F.col("id").alias("u"))
        .repartition(4)
    )
    mins = kmv_group_mins(df, "g", "u", k=64)
    # ≤ k rows per partition per group → ≤ 4*64 total
    assert mins.count() <= 4 * 64


# ---------------------------------------------------------------------------
# bounded-memory compaction paths (driven at the generator level — no
# Spark needed, so the multi-batch shapes are forced deterministically)


def _tok_batch(tokens_per_doc):
    import numpy as np
    import pandas as pd

    return pd.DataFrame(
        {"toks": [np.asarray(t, dtype=object) for t in tokens_per_doc]}
    )


def test_mg_midstream_compaction_bounds_hold():
    from collections import Counter

    from chronoxtract_spark.operators.sketches import _partition_summary

    budget = 4
    fn = _partition_summary(budget)
    # batches engineered so distinct terms blow past 4*budget repeatedly;
    # 'mega' dominates throughout
    batches, truth = [], Counter()
    for b in range(6):
        docs = [["mega"] * 10] + [[f"t{b}_{i}"] for i in range(20)]
        for d in docs:
            truth.update(d)
        batches.append(_tok_batch(docs))
    out = list(fn(iter(batches)))
    import pandas as pd

    summ = pd.concat(out, ignore_index=True)
    meta = summ[summ["term"].isna()]
    kept = summ[summ["term"].notna()]
    assert len(kept) <= budget
    thr_total = int(meta["thr"].iloc[0])
    assert thr_total > 0
    # after mid-stream compactions survivors must NOT claim exactness
    assert (kept["thr"] == 0).all()
    # lb <= true for kept; true <= lb + thr_total for EVERY term
    kept_counts = dict(zip(kept["term"], kept["cnt"]))
    for term, true in truth.items():
        lb = int(kept_counts.get(term, 0))
        assert lb <= true <= lb + thr_total, (term, lb, true, thr_total)
    # the dominating term must survive and lead
    assert "mega" in kept_counts and kept_counts["mega"] == max(kept_counts.values())


def test_mg_accumulator_stays_bounded():
    from chronoxtract_spark.operators.sketches import _partition_summary

    budget = 8
    fn = _partition_summary(budget)
    batches = [
        _tok_batch([[f"w{b}_{i}"] for i in range(50)]) for b in range(40)
    ]
    # 2000 distinct terms stream through; the summary must stay <= budget
    out = list(fn(iter(batches)))
    import pandas as pd

    summ = pd.concat(out, ignore_index=True)
    assert len(summ[summ["term"].notna()]) <= budget


def test_mg_single_truncation_keeps_tight_bound():
    from chronoxtract_spark.operators.sketches import _partition_summary

    budget = 4
    fn = _partition_summary(budget)
    # one batch, distinct (9) > budget but < 4*budget: exactly one
    # final truncation -> survivors keep thr == meta thr (tight bound)
    docs = [[f"x{i}"] * (9 - i) for i in range(9)]
    out = list(fn(iter([_tok_batch(docs)])))
    import pandas as pd

    summ = pd.concat(out, ignore_index=True)
    meta_thr = int(summ[summ["term"].isna()]["thr"].iloc[0])
    kept = summ[summ["term"].notna()]
    assert meta_thr > 0
    assert (kept["thr"] == meta_thr).all()


def test_kmv_batchwise_truncation_is_lossless():
    """bottomk(A ∪ B) == bottomk(bottomk(A) ∪ B): the per-batch
    re-truncation kmv_group_mins performs loses nothing and keeps the
    accumulator at ≤ k rows per group between batches. Mirrors the
    kernel's exact pandas steps (the Spark-side equivalence is covered
    by test_kmv_exact_regime_matches_distinct over 6 partitions)."""
    import pandas as pd

    hashed = [
        pd.DataFrame(
            {
                "g": ["a"] * 30,
                "h": [(i * 7919) % 1000 for i in range(b * 30, b * 30 + 30)],
            }
        )
        for b in range(5)
    ]
    union = pd.concat(hashed).drop_duplicates().sort_values(["g", "h"])
    want = union.groupby("g").head(10)["h"].tolist()

    acc = None
    for pdf in hashed:
        acc = pdf if acc is None else pd.concat((acc, pdf))
        acc = (
            acc.drop_duplicates()
            .sort_values(["g", "h"], kind="mergesort")
            .groupby("g", sort=False)
            .head(10)
        )
        assert len(acc) <= 10  # bounded between batches
    assert sorted(acc["h"].tolist()) == sorted(want)
