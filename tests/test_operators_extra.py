"""Tests: dedup/similarity/text/multimodal/incremental/CARMA-on-Spark
operators."""

import numpy as np
import pytest
from pyspark.sql import functions as F


class TestDedup:
    def test_exact_duplicates(self, spark):
        from chronoxtract_spark.operators.dedup import exact_duplicates

        df = spark.createDataFrame(
            [(1, "a b c"), (2, "a b c"), (3, "x y z")], "doc_id long, text string"
        )
        out = exact_duplicates(df).collect()
        assert len(out) == 1
        assert out[0].n_docs == 2
        assert out[0].doc_ids == [1, 2]

    def test_ngram_jaccard_identical(self, spark):
        from chronoxtract_spark.operators.dedup import ngram_jaccard_pairs

        df = spark.createDataFrame(
            [
                (1, "the quick brown fox jumps over the lazy dog"),
                (2, "the quick brown fox jumps over the lazy dog"),
                (3, "completely different text with no overlap at all here"),
            ],
            "doc_id long, text string",
        )
        out = ngram_jaccard_pairs(df, threshold=0.5).collect()
        assert len(out) == 1
        assert out[0].d1 == 1 and out[0].d2 == 2
        assert out[0].jaccard == 1.0

    def test_minhash_lsh_finds_near_dups(self, spark):
        from chronoxtract_spark.operators.dedup import minhash_lsh_pairs

        base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
        df = spark.createDataFrame(
            [
                (1, base),
                (2, base + " lambda"),  # near-dup of 1
                (3, "one two three four five six seven eight nine ten"),
            ],
            "doc_id long, text string",
        )
        out = minhash_lsh_pairs(
            df, num_hashes=32, bands=16, verify_threshold=0.3
        ).collect()
        pairs = {(r.d1, r.d2) for r in out}
        assert (1, 2) in pairs

    def test_minhash_preverify_same_pairs(self, spark):
        """The signature-agreement pre-verify fast path must emit the
        same pair SET as the fully exact path on a mixed corpus: clear
        dups land above threshold+margin (accepted from the estimate),
        unrelated collisions land below threshold-margin (dropped), and
        the in-between band is exact-verified to the same decision."""
        from chronoxtract_spark.operators.dedup import minhash_lsh_pairs

        vocab = [f"w{i}" for i in range(60)]
        rows = []
        for d in range(12):
            # overlapping windows: neighbors share 50/54 words, far
            # docs share almost nothing — a spread of true Jaccards
            words = [vocab[(d * 4 + j) % 60] for j in range(54)]
            rows.append((d, " ".join(words)))
        df = spark.createDataFrame(rows, "doc_id long, text string")
        kw = dict(num_hashes=32, bands=8, verify_threshold=0.35)
        exact = {
            (r.d1, r.d2) for r in minhash_lsh_pairs(df, **kw).collect()
        }
        fast_rows = minhash_lsh_pairs(
            df, preverify_margin=0.2, **kw
        ).collect()
        fast = {(r.d1, r.d2) for r in fast_rows}
        assert exact == fast and len(exact) > 0
        # pre-accepted pairs carry the (rounded) signature estimate
        assert all(0.0 <= r.jaccard <= 1.0 for r in fast_rows)

    def test_simhash_near_dup(self, spark):
        from chronoxtract_spark.operators.dedup import simhash_duplicates

        base = " ".join(f"tok{i}" for i in range(50))
        df = spark.createDataFrame(
            [(1, base), (2, base), (3, " ".join(f"z{i}" for i in range(50)))],
            "doc_id long, text string",
        )
        out = simhash_duplicates(df).collect()
        d = {(r.d1, r.d2): r.hamming for r in out}
        # identical docs -> identical fingerprint, all bands collide
        assert d.get((1, 2)) == 0
        # unrelated docs shouldn't be near-identical if they even collide
        assert d.get((1, 3), 99) > 0


class TestSimilarity:
    def test_brute_force_topk_exact(self, spark):
        from chronoxtract_spark.operators.similarity import brute_force_topk

        rng = np.random.RandomState(0)
        vecs = rng.normal(size=(20, 8)).astype(np.float32)
        rows = [(i, [float(x) for x in vecs[i]]) for i in range(20)]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        out = brute_force_topk(df.filter("vec_id < 3"), df, k=2).collect()
        # verify against numpy
        unit = vecs / np.linalg.norm(vecs, axis=1, keepdims=True)
        sims = unit @ unit.T
        for q in range(3):
            order = np.argsort(-sims[q])
            expect = [i for i in order if i != q][:2]
            got = sorted(
                [(r.rank, r.neighbor_id) for r in out if r.query_id == q]
            )
            assert [n for _, n in got] == expect

    def test_lsh_recall_reasonable(self, spark):
        from chronoxtract_spark.operators.similarity import (
            brute_force_topk,
            lsh_topk,
        )

        rng = np.random.RandomState(1)
        vecs = rng.normal(size=(60, 16)).astype(np.float32)
        rows = [(i, [float(x) for x in vecs[i]]) for i in range(60)]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        q = df.filter("vec_id < 5")
        exact = {
            (r.query_id, r.neighbor_id)
            for r in brute_force_topk(q, df, k=3).collect()
        }
        approx = {
            (r.query_id, r.neighbor_id)
            for r in lsh_topk(q, df, k=3, n_planes=4, n_tables=6, dim=16).collect()
        }
        recall = len(exact & approx) / len(exact)
        assert recall >= 0.4  # probabilistic but stable for fixed seed

    def test_bucket_udf_matches_column_expression(self, spark):
        """Two independent implementations of the sign-bit bucket — the
        JVM column expression (``lsh_bucket_col``, the DuckDB oracle's
        documented twin) and the Arrow multi-table kernel
        (``_lsh_buckets_udf``) — agree bit-for-bit on every table."""
        from chronoxtract_spark.operators.similarity import (
            _lsh_buckets_udf,
            _lsh_planes,
            lsh_bucket_col,
            with_unit_norm,
        )

        rng = np.random.RandomState(3)
        vecs = rng.normal(size=(50, 12)).astype(np.float32)
        rows = [(i, [float(x) for x in vecs[i]]) for i in range(50)]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        planes_all = _lsh_planes(dim=12, n_planes=5, n_tables=3, seed=9)
        u = with_unit_norm(df, "embedding")
        got = {
            (r.vec_id, r.table): r.bucket
            for r in u.withColumn(
                "_b", _lsh_buckets_udf(planes_all)(F.col("_unit"))
            )
            .select("vec_id", F.posexplode("_b").alias("table", "bucket"))
            .collect()
        }
        for t in range(3):
            expect = {
                r.vec_id: r.b
                for r in u.withColumn(
                    "b", lsh_bucket_col(F.col("_unit"), planes_all[t].tolist())
                ).collect()
            }
            assert {v: got[(v, t)] for v in expect} == expect

    def test_index_search_split_matches_one_shot(self, spark):
        """The persisted-index deployment shape: building lsh_index /
        ivf_index once and searching it returns exactly what the
        one-shot composition returns, and one cached index serves
        DIFFERENT query batches (the amortization the scale bench
        measures)."""
        from chronoxtract_spark.operators.similarity import (
            ivf_index,
            ivf_search,
            ivf_topk,
            lsh_index,
            lsh_search,
            lsh_topk,
        )

        rng = np.random.RandomState(7)
        vecs = rng.normal(size=(80, 16)).astype(np.float32)
        rows = [(i, [float(x) for x in vecs[i]]) for i in range(80)]
        df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        hp = dict(n_planes=4, n_tables=6, dim=16)

        idx = lsh_index(df, **hp).cache()
        try:
            for lo, hi in ((0, 4), (40, 44)):
                q = df.filter(f"vec_id >= {lo} and vec_id < {hi}")
                split = {
                    (r.query_id, r.rank, r.neighbor_id, r.cosine)
                    for r in lsh_search(idx, q, k=3, **hp).collect()
                }
                oneshot = {
                    (r.query_id, r.rank, r.neighbor_id, r.cosine)
                    for r in lsh_topk(q, df, k=3, **hp).collect()
                }
                assert split == oneshot and len(split) == 12
        finally:
            idx.unpersist()

        assigned, cents = ivf_index(df, n_centroids=4)
        assigned = assigned.cache()
        try:
            for lo, hi in ((0, 4), (40, 44)):
                q = df.filter(f"vec_id >= {lo} and vec_id < {hi}")
                split = {
                    (r.query_id, r.rank, r.neighbor_id, r.cosine)
                    for r in ivf_search(assigned, cents, q, k=3,
                                        n_probe=2).collect()
                }
                oneshot = {
                    (r.query_id, r.rank, r.neighbor_id, r.cosine)
                    for r in ivf_topk(q, df, k=3, n_centroids=4,
                                      n_probe=2).collect()
                }
                assert split == oneshot and len(split) == 12
        finally:
            assigned.unpersist()


class TestText:
    def test_lang_id(self, spark):
        from chronoxtract_spark.operators.text import with_lang_id

        df = spark.createDataFrame(
            [
                (1, "the cat and the dog of a house"),
                (2, "el perro y la casa de que y el gato"),
                (3, "xyzzy qwerty plugh"),
            ],
            "doc_id long, text string",
        )
        out = {r.doc_id: r.lang_pred for r in with_lang_id(df).collect()}
        assert out[1] == "en" and out[2] == "es" and out[3] == "und"

    def test_fingerprint_normalizes_whitespace(self, spark):
        from chronoxtract_spark.operators.text import with_fingerprint

        df = spark.createDataFrame(
            [(1, "Hello  World"), (2, "hello world")], "doc_id long, text string"
        )
        out = [r.fingerprint for r in with_fingerprint(df).collect()]
        assert out[0] == out[1]

    def test_token_counts(self, spark):
        from chronoxtract_spark.operators.text import with_token_counts

        df = spark.createDataFrame([(1, "ab cd, ef 12")], "doc_id long, text string")
        r = with_token_counts(df).collect()[0]
        assert r.n_tokens_ws == 4
        assert r.n_tokens_bpe == 5  # ab, cd, ',', ef, 12
        assert r.n_chars_calc == 12


class TestMultimodal:
    def test_image_features_plumbing(self, spark):
        from chronoxtract_spark.operators.multimodal import (
            image_features,
            synth_media,
        )

        media = synth_media(spark, 30)
        out = image_features(media).collect()
        assert len(out) == 10  # every 3rd is image/*
        assert all(np.isfinite(r.mean_pixel) for r in out)
        assert all(r.n_bytes > 0 for r in out)

    def test_frame_sample_counts(self, spark):
        from chronoxtract_spark.operators.multimodal import frame_sample, synth_media

        media = synth_media(spark, 30)
        out = frame_sample(media, every_ms=500)
        counts = {
            r.media_id: r.n
            for r in out.groupBy("media_id").agg(F.count("*").alias("n")).collect()
        }
        row = media.filter("media_id = 2").collect()[0]  # video
        expect = len(range(0, max(row.duration_ms - 1, 0) + 1, 500))
        assert counts[2] == expect

    def test_resize_shapes(self, spark):
        from chronoxtract_spark.operators.multimodal import resize_plumbing, synth_media

        media = synth_media(spark, 12)
        out = resize_plumbing(media, 8, 8).collect()
        assert all(len(r.thumb) == 64 for r in out if r.thumb is not None)


class TestCarmaSpark:
    def test_mle_per_series(self, spark):
        from chronoxtract_spark.operators.carma import carma_mle_per_series

        rng = np.random.RandomState(2)
        rows = []
        for sid in ("s1", "s2"):
            t = np.cumsum(rng.rand(60) + 0.1)
            v = np.sin(t / 3) + rng.normal(0, 0.2, 60)
            for ti, vi in zip(t, v):
                rows.append((sid, float(ti), float(vi), 0.2))
        df = spark.createDataFrame(rows, "series_id string, t double, v double, e double")
        out = carma_mle_per_series(df, p=1, q=0, n_starts=6).collect()
        assert len(out) == 2
        assert all(np.isfinite(r.loglikelihood) for r in out)
        assert all(r.converged for r in out)

    def test_order_grid_and_best(self, spark):
        from chronoxtract_spark.operators.carma import (
            best_order_per_series,
            carma_order_grid,
        )

        rng = np.random.RandomState(4)
        t = np.cumsum(rng.rand(80) + 0.1)
        v = rng.normal(0, 1, 80)
        rows = [("s1", float(ti), float(vi), 0.1) for ti, vi in zip(t, v)]
        df = spark.createDataFrame(rows, "series_id string, t double, v double, e double")
        grid = carma_order_grid(df, max_p=2, max_q=1, n_starts=3)
        grid.cache()
        assert grid.count() == 3  # (1,0), (2,0), (2,1)
        best = best_order_per_series(grid).collect()
        assert len(best) == 1 and best[0].best_p in (1, 2)


class TestIncremental:
    def test_affected_days_drops_null_ts(self, spark):
        # a null ts row must vanish from the day set, not surface as
        # the literal string 'None' (which crashed _day_dates)
        from chronoxtract_spark.streaming.incremental import affected_days

        df = spark.createDataFrame(
            [("a", "2026-03-01 10:00:00"), ("b", None)],
            "conv_id string, ts_raw string",
        ).select("conv_id", F.to_timestamp("ts_raw").alias("ts"))
        assert affected_days(df) == ["2026-03-01"]

    def test_incremental_rollup_only_touches_affected_days(self, spark):
        import shutil

        from chronoxtract_spark.plans.rollup import RollupEngine
        from chronoxtract_spark.sources.tableio import temp_warehouse
        from chronoxtract_spark.streaming import incremental_rollup
        from chronoxtract_spark.synth import synth_transcripts

        base = synth_transcripts(spark, n_conversations=12, seed=7)
        io = temp_warehouse(spark)
        eng = RollupEngine(spark, io, compress=False)
        eng.run(base, source_snapshot="v1")
        before = {
            r.partition_key
            for r in io.read("lineage").select("partition_key").distinct().collect()
        }

        # late batch: shift a few rows into one existing day
        late = base.limit(5).withColumn("turn_idx", F.col("turn_idx") + 10000)
        updated = base.unionByName(late)
        counts = incremental_rollup(eng, updated, late, source_snapshot="v2")
        assert counts["rollup_1m"] > 0
        days_touched = {
            r.partition_key
            for r in io.read("lineage")
            .filter(F.col("source_snapshot") == "v2")
            .select("partition_key")
            .distinct()
            .collect()
        }
        late_days = {
            r[0]
            for r in late.select(F.date_format("ts", "yyyy-MM-dd")).distinct().collect()
        }
        assert days_touched <= late_days | before
        assert days_touched  # something re-rolled
        shutil.rmtree(io.root, ignore_errors=True)

    def test_incremental_rollup_keeps_day_between_late_days(self, spark):
        # late rows on days d and d+2 of one conversation: day d+1 is
        # not affected and must keep its committed 1m rows and lineage
        import shutil

        from chronoxtract_spark.plans.rollup import RollupEngine
        from chronoxtract_spark.sources.tableio import temp_warehouse
        from chronoxtract_spark.streaming import incremental_rollup

        def turns(day, first):
            return [
                ("c1", first + i, "user", "hi", None, f"2026-03-0{day} 10:0{i}:00")
                for i in range(3)
            ]

        def transcripts(rows):
            return spark.createDataFrame(
                rows,
                "conv_id string, turn_idx int, role string, text string, "
                "tool string, ts_raw string",
            ).select(
                "conv_id", "turn_idx", "role", "text", "tool",
                F.to_timestamp("ts_raw").alias("ts"),
            )

        base_rows = turns(1, 0) + turns(2, 10) + turns(3, 20)
        io = temp_warehouse(spark)
        eng = RollupEngine(spark, io, compress=False)
        eng.run(transcripts(base_rows), source_snapshot="v1")

        def day_2():
            rows = io.read("rollup_1m").filter(F.col("day") == "2026-03-02")
            lineage = io.read("lineage").filter(
                (F.col("tier") == "rollup_1m")
                & (F.col("partition_key") == "2026-03-02")
            )
            return (
                sorted(map(str, rows.collect())),
                sorted(
                    (r.source_snapshot, r.row_count, r.checksum)
                    for r in lineage.collect()
                ),
            )

        before = day_2()
        assert before[0] and before[1]
        late_rows = turns(1, 30) + turns(3, 40)
        counts = incremental_rollup(
            eng,
            transcripts(base_rows + late_rows),
            transcripts(late_rows),
            source_snapshot="v2",
        )
        assert counts["rollup_1m"] > 0
        assert day_2() == before
        v2_days = {
            r.partition_key
            for r in io.read("lineage")
            .filter(F.col("source_snapshot") == "v2")
            .collect()
        }
        assert v2_days == {"2026-03-01", "2026-03-03"}
        shutil.rmtree(io.root, ignore_errors=True)


class TestEmbeddingNearDups:
    def test_lsh_matches_brute_force(self, spark):
        """The bucketed near-dup path must recover every pair the exact
        all-pairs scan finds on the sf0.001 corpus (few planes + many
        tables at this low threshold)."""
        from chronoxtract_spark.operators.similarity import (
            embedding_near_duplicates,
            embedding_near_duplicates_brute,
        )

        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        brute = {
            (r["d1"], r["d2"], r["cosine"])
            for r in embedding_near_duplicates_brute(emb, 0.4).collect()
        }
        lsh = {
            (r["d1"], r["d2"], r["cosine"])
            for r in embedding_near_duplicates(
                emb, 0.4, n_planes=4, n_tables=16
            ).collect()
        }
        assert brute, "fixture corpus should contain at least one pair"
        # exact-verify means zero false positives; recall is
        # probabilistic ((1-(1-p^planes)^tables) per pair) — at these
        # params the per-pair miss chance is ~6% at cos 0.4, so demand
        # >= 0.9 overall and that every strong pair (>= 0.5) is found
        assert lsh <= brute
        assert len(lsh) >= 0.9 * len(brute)
        strong = {p for p in brute if p[2] >= 0.5}
        assert strong <= lsh

    def test_minhash_pairwise_verify_matches_inverted_index(self, spark):
        """The pair-keyed verify join must produce the same (pair,
        jaccard) set as running the full inverted-index Jaccard over the
        corpus and intersecting with LSH candidates."""
        from chronoxtract_spark.operators.dedup import (
            minhash_lsh_pairs,
            ngram_jaccard_pairs,
        )

        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        got = {
            (r["d1"], r["d2"], r["jaccard"])
            for r in minhash_lsh_pairs(
                docs, num_hashes=32, bands=8, verify_threshold=0.25
            ).collect()
        }
        full = {
            (r["d1"], r["d2"], r["jaccard"])
            for r in ngram_jaccard_pairs(docs, threshold=0.25).collect()
        }
        # every verified LSH pair is a true near-dup pair
        assert got <= full


class TestIvfAnn:
    def test_ivf_recall_vs_brute(self, spark):
        """IVF with 4/16 probes must recover most exact top-3 neighbors
        and never return a wrong cosine for a returned pair."""
        from chronoxtract_spark.operators.similarity import (
            brute_force_topk,
            ivf_topk,
        )

        emb = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
        queries = emb.filter("vec_id < 20")
        brute = {
            (r["query_id"], r["neighbor_id"]): r["cosine"]
            for r in brute_force_topk(queries, emb, k=3).collect()
        }
        ivf = {
            (r["query_id"], r["neighbor_id"]): r["cosine"]
            for r in ivf_topk(queries, emb, k=3, n_centroids=16, n_probe=8).collect()
        }
        hits = set(brute) & set(ivf)
        # these synthetic embeddings are near-isotropic (max pairwise
        # cosine ~0.5), the hardest case for a coarse quantizer —
        # probing half the cells still recovers most exact neighbors
        assert len(hits) >= 0.8 * len(brute)
        for pair in hits:
            assert ivf[pair] == brute[pair]

    def test_ivf_plan_has_no_cross_join(self, spark):
        from chronoxtract_spark.operators.similarity import ivf_topk

        emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
        plan = (
            ivf_topk(emb.filter("vec_id < 5"), emb, k=2, n_centroids=4,
                     n_probe=2, train_sample=256)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        assert "CartesianProduct" not in plan


class TestDupClusters:
    def test_components_and_representatives(self, spark):
        from chronoxtract_spark.operators.dedup import (
            dedup_keep_representatives,
            duplicate_clusters,
        )

        # two components: {1,2,3} (chain), {7,9}; 5 is isolated (no pair)
        pairs = spark.createDataFrame(
            [(1, 2), (2, 3), (7, 9)], "d1 long, d2 long"
        )
        labels = {
            r["doc"]: r["cluster"] for r in duplicate_clusters(pairs).collect()
        }
        assert labels == {1: 1, 2: 1, 3: 1, 7: 7, 9: 7}

        docs = spark.createDataFrame(
            [(i, f"t{i}") for i in (1, 2, 3, 5, 7, 9)], "doc_id long, text string"
        )
        kept = sorted(
            r["doc_id"]
            for r in dedup_keep_representatives(docs, pairs).collect()
        )
        assert kept == [1, 5, 7]


class TestPortableHash:
    def test_md5_60_matches_duckdb(self, spark):
        """The portable hash family must produce identical values in
        Spark and DuckDB for arbitrary unicode inputs — the property
        every oracle-checked dedup pipeline rests on."""
        import duckdb
        import numpy as np

        from chronoxtract_spark.operators.dedup import (
            MINHASH_P,
            _hash64,
            minhash_coeffs,
        )
        from pyspark.sql import functions as F

        rng = np.random.RandomState(7)
        alphabet = list("abc XYZ09_é中文!")
        strings = [
            "".join(rng.choice(alphabet, size=rng.randint(1, 30)))
            for _ in range(50)
        ]
        df = spark.createDataFrame([(s,) for s in strings], "s string")
        a, b = minhash_coeffs(4)[3]
        base = _hash64(F.col("s"), "base", "md5_60")
        got = df.select(
            "s",
            base.alias("h"),
            F.pmod(
                F.lit(a) * F.shiftright(base, 30)
                + F.lit(b) * base.bitwiseAND(F.lit((1 << 30) - 1))
                + F.lit(3),
                F.lit(MINHASH_P),
            ).alias("d"),
        ).collect()

        con = duckdb.connect()
        for r in got:
            h, d = con.sql(
                "SELECT ('0x' || substr(md5(? || chr(1) || 'base'), 1, 15))"
                "::BIGINT AS h, "
                f"((? * (h >> 30)) + (? * (h & 1073741823)) + 3) % {MINHASH_P}",
                params=[r["s"], a, b],
            ).fetchone()
            assert h == r["h"] and d == r["d"], r["s"]


class TestIcebergBackend:
    """Runtime validation of the Iceberg TableIO backend. This sandbox
    ships no Iceberg jar, so the test SKIPS here and executes in any
    environment where an Iceberg catalog actually resolves (set
    spark.cx.iceberg.catalog on the session, e.g. via spark-submit
    --packages org.apache.iceberg:iceberg-spark-runtime-*). Until then
    the Parquet backend is the only runtime-validated path — stated in
    README.md and sources/tableio.py."""

    def test_iceberg_roundtrip_when_jar_present(self, spark):
        from chronoxtract_spark.sources.tableio import IcebergBackend

        catalog = spark.conf.get("spark.cx.iceberg.catalog", None)
        if not catalog:
            pytest.skip("no Iceberg catalog configured (jar absent in sandbox)")
        io = IcebergBackend(spark, catalog, namespace="cx_test")
        df = spark.createDataFrame(
            [("a", "2026-01-01", 1.0), ("b", "2026-01-02", 2.0)],
            "conv_id string, day string, rate double",
        )
        io.overwrite_partitions(df, "t_rt", ["day"])
        assert io.read("t_rt").count() == 2
        assert io.list_partitions("t_rt", "day") == ["2026-01-01", "2026-01-02"]
        snap1 = io.snapshot_id("t_rt")
        io.delete_partitions("t_rt", "day", ["2026-01-01"])
        assert io.list_partitions("t_rt", "day") == ["2026-01-02"]
        assert io.snapshot_id("t_rt") != snap1
        io.drop("t_rt")


class TestPngCodec:
    """The real pure-numpy+zlib PNG codec behind the multimodal path
    (public-spec implementation, operators/multimodal.py)."""

    def test_roundtrip_bit_exact(self):
        from chronoxtract_spark.operators.multimodal import (
            decode_png,
            encode_png,
            synth_pixels,
        )

        rng = np.random.default_rng(7)
        for h, w in ((1, 1), (3, 5), (16, 23), (64, 64)):
            img = rng.integers(0, 256, (h, w)).astype(np.uint8)
            np.testing.assert_array_equal(decode_png(encode_png(img)), img)
        np.testing.assert_array_equal(
            decode_png(encode_png(synth_pixels(9, 17, 11))),
            synth_pixels(9, 17, 11),
        )

    def test_decodes_all_five_scanline_filters(self):
        """Foreign encoders may use any per-row filter; craft an IDAT
        with every filter type and check the unfiltering against a
        straight-line reference implementation."""
        import struct
        import zlib

        from chronoxtract_spark.operators.multimodal import (
            PNG_SIG,
            _png_chunk,
            decode_png,
        )

        rng = np.random.default_rng(3)
        img = rng.integers(0, 256, (5, 7)).astype(np.int64)
        h, w = img.shape

        def paeth(a, b, c):
            p = a + b - c
            pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
            return a if pa <= pb and pa <= pc else (b if pb <= pc else c)

        # forward-filter row r with filter type ft (PNG spec §6)
        raw = b""
        filters = [0, 1, 2, 3, 4]
        for r, ft in enumerate(filters):
            line = bytearray([ft])
            for c in range(w):
                x = int(img[r, c])
                left = int(img[r, c - 1]) if c else 0
                up = int(img[r - 1, c]) if r else 0
                ul = int(img[r - 1, c - 1]) if r and c else 0
                pred = {0: 0, 1: left, 2: up, 3: (left + up) // 2,
                        4: paeth(left, up, ul)}[ft]
                line.append((x - pred) & 255)
            raw += bytes(line)
        ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)
        payload = (
            PNG_SIG
            + _png_chunk(b"IHDR", ihdr)
            + _png_chunk(b"IDAT", zlib.compress(raw))
            + _png_chunk(b"IEND", b"")
        )
        np.testing.assert_array_equal(decode_png(payload), img.astype(np.uint8))

    def test_non_png_payload_raises(self):
        from chronoxtract_spark.operators.multimodal import (
            DecodeUnavailable,
            _decode_image,
        )

        with pytest.raises(DecodeUnavailable):
            _decode_image(b"not a png at all", 4, 4)
        with pytest.raises(DecodeUnavailable):
            _decode_image(b"", 4, 4)


class TestSampling:
    def _docs(self, spark, n=400):
        return spark.range(n).select(
            F.col("id").alias("doc_id"),
            F.element_at(
                F.array(F.lit("en"), F.lit("de"), F.lit("fr")),
                (F.col("id") % 3 + 1).cast("int"),
            ).alias("lang"),
        )

    def test_hash_sample_rate_and_determinism(self, spark):
        from chronoxtract_spark.operators.sampling import hash_sample

        d = self._docs(spark)
        kept1 = sorted(r.doc_id for r in hash_sample(d, "doc_id", 0.5).collect())
        kept2 = sorted(r.doc_id for r in hash_sample(d, "doc_id", 0.5).collect())
        assert kept1 == kept2
        assert 0.35 < len(kept1) / 400 < 0.65
        # rate monotonicity: a higher-rate sample contains the lower one
        kept8 = set(r.doc_id for r in hash_sample(d, "doc_id", 0.8).collect())
        assert set(kept1) <= kept8
        # different salts decorrelate
        other = set(
            r.doc_id
            for r in hash_sample(d, "doc_id", 0.5, salt="other").collect()
        )
        assert set(kept1) != other

    def test_hash_sample_xxhash64_variant(self, spark):
        from chronoxtract_spark.operators.sampling import hash_sample

        d = self._docs(spark)
        kept = hash_sample(d, "doc_id", 0.5, hash_fn="xxhash64").count()
        assert 0.35 < kept / 400 < 0.65

    def test_split_stable_under_row_removal(self, spark):
        from chronoxtract_spark.operators.sampling import with_split

        d = self._docs(spark)
        w = {"train": 0.8, "val": 0.1, "test": 0.1}
        full = {r.doc_id: r.split for r in with_split(d, "doc_id", w).collect()}
        assert set(full.values()) == {"train", "val", "test"}
        # drop half the rows: every surviving doc keeps its split (the
        # no-leakage property rand()-based splitting does not have)
        half = with_split(d.where(F.col("doc_id") % 2 == 0), "doc_id", w)
        for r in half.collect():
            assert full[r.doc_id] == r.split
        with pytest.raises(ValueError):
            with_split(d, "doc_id", {"a": 0.5, "b": 0.4})

    def test_stratified_rates(self, spark):
        from chronoxtract_spark.operators.sampling import stratified_sample

        d = self._docs(spark, n=600)
        out = stratified_sample(
            d, "doc_id", "lang", {"en": 0.2, "de": 1.0}, default_rate=0.0
        )
        by_lang = {
            r.lang: r.n
            for r in out.groupBy("lang").agg(F.count("*").alias("n")).collect()
        }
        assert by_lang.get("de") == 200          # keep-all stratum intact
        assert "fr" not in by_lang               # default 0 drops the rest
        assert 10 < by_lang.get("en", 0) < 90    # ~40 of 200

    def test_rate_threshold_exact(self):
        from chronoxtract_spark.operators.sampling import U60, rate_threshold

        assert rate_threshold(0.0) == 0
        assert rate_threshold(1.0) == U60
        assert rate_threshold(0.5) == U60 // 2
        with pytest.raises(ValueError):
            rate_threshold(1.5)


    def test_split_boundaries_use_exact_literal_thresholds(self, spark):
        # 0.9 + 0.05 in binary floats is 0.9500000000000001 — the split
        # boundaries must nevertheless equal the thresholds of the
        # WRITTEN literals (what any oracle computes), not the float sum
        from chronoxtract_spark.operators.sampling import (
            hash_u60,
            rate_threshold,
            with_split,
        )

        d = self._docs(spark, n=500)
        got = {
            r.doc_id: r.split
            for r in with_split(
                d, "doc_id", {"train": 0.9, "val": 0.05, "test": 0.05}
            ).collect()
        }
        u = hash_u60("doc_id", "split")
        lit = {
            r.doc_id: r.split
            for r in d.withColumn(
                "split",
                F.when(u < F.lit(rate_threshold(0.9)), "train")
                .when(u < F.lit(rate_threshold(0.95)), "val")
                .otherwise("test"),
            ).collect()
        }
        assert got == lit


class TestSessionize:
    def _frame(self, spark):
        # conv a: turns at 0s, 60s, 7260s (gap 7200 > 3600), 7320s
        # conv b: single turn
        rows = [
            ("a", 0, 0), ("a", 1, 60), ("a", 2, 7260), ("a", 3, 7320),
            ("b", 0, 5),
        ]
        return spark.createDataFrame(
            [(c, i, float(t)) for c, i, t in rows],
            "conv_id string, turn_idx int, sec double",
        ).select("conv_id", "turn_idx", F.timestamp_seconds("sec").alias("ts"))

    def test_sessionize_boundaries(self, spark):
        from chronoxtract_spark.operators.sessions import sessionize

        out = sessionize(self._frame(spark), gap_s=3600)
        got = {
            (r.conv_id, r.turn_idx): (r.session_idx, r.session_id)
            for r in out.collect()
        }
        assert got[("a", 0)] == (0, "a/0")
        assert got[("a", 1)] == (0, "a/0")
        assert got[("a", 2)] == (1, "a/1")
        assert got[("a", 3)] == (1, "a/1")
        assert got[("b", 0)] == (0, "b/0")

    def test_session_stats(self, spark):
        from chronoxtract_spark.operators.sessions import session_stats

        out = session_stats(self._frame(spark), gap_s=3600)
        got = {(r.conv_id, r.session_idx): r for r in out.collect()}
        a0 = got[("a", 0)]
        assert (a0.n_turns, a0.start_s, a0.end_s, a0.duration_s) == (2, 0, 60, 60)
        a1 = got[("a", 1)]
        assert (a1.n_turns, a1.duration_s) == (2, 60)
        assert got[("b", 0)].n_turns == 1

    def test_gap_exactly_at_threshold_stays(self, spark):
        from chronoxtract_spark.operators.sessions import session_stats

        df = spark.createDataFrame(
            [("c", 0, 0.0), ("c", 1, 3600.0)],
            "conv_id string, turn_idx int, sec double",
        ).select("conv_id", "turn_idx", F.timestamp_seconds("sec").alias("ts"))
        # gap == gap_s is NOT a split (strictly greater splits)
        assert session_stats(df, gap_s=3600).count() == 1

    def test_turn_latency_transitions(self, spark):
        from chronoxtract_spark.operators.sessions import turn_latency

        rows = [
            ("a", 0, 0.0, "user"), ("a", 1, 10.0, "assistant"),
            ("a", 2, 40.0, "user"), ("a", 3, 50.0, "assistant"),
            ("b", 0, 0.0, "user"), ("b", 1, 70.0, "assistant"),
        ]
        df = spark.createDataFrame(
            rows, "conv_id string, turn_idx int, sec double, role string"
        ).select(
            "conv_id", "turn_idx", "role",
            F.timestamp_seconds("sec").alias("ts"),
        )
        got = {
            (r.prev_role, r.role): r for r in turn_latency(df).collect()
        }
        ua = got[("user", "assistant")]
        assert ua.n == 3
        assert ua.mean_s == pytest.approx(30.0)  # (10 + 10 + 70) / 3
        assert ua.p50_s == pytest.approx(10.0)
        au = got[("assistant", "user")]
        assert (au.n, au.mean_s) == (1, 30.0)

    def test_turn_latency_same_second_tiebreak(self, spark):
        from chronoxtract_spark.operators.sessions import turn_latency

        # two turns inside the same wall-clock second but with raw
        # sub-second order OPPOSITE to the tiebreaker: the transition
        # must follow the tiebreaker (turn_idx), matching any engine
        # that only sees floored seconds
        rows = [("c", 0, 5.9, "x"), ("c", 1, 5.2, "y"), ("c", 2, 9.0, "z")]
        df = spark.createDataFrame(
            rows, "conv_id string, turn_idx int, sec double, role string"
        ).select(
            "conv_id", "turn_idx", "role",
            F.timestamp_seconds("sec").alias("ts"),
        )
        got = {(r.prev_role, r.role): r.n for r in turn_latency(df).collect()}
        assert got == {("x", "y"): 1, ("y", "z"): 1}


class TestAudioWav:
    def test_wav_roundtrip_bit_exact(self):
        from chronoxtract_spark.operators.multimodal import (
            decode_wav,
            encode_wav,
            synth_samples,
        )

        s = synth_samples(7, 1234)
        sr, back = decode_wav(encode_wav(s, 8000))
        assert sr == 8000
        np.testing.assert_array_equal(back, s)
        # edge amplitudes survive
        extremes = np.array([-32768, 32767, 0, -1, 1], dtype=np.int16)
        _, back2 = decode_wav(encode_wav(extremes))
        np.testing.assert_array_equal(back2, extremes)

    def test_foreign_wav_with_extra_chunks_parses(self):
        import struct

        from chronoxtract_spark.operators.multimodal import decode_wav, encode_wav

        base = encode_wav(np.array([1, -2, 3], dtype=np.int16))
        # splice a LIST/INFO chunk (odd-sized, exercising word alignment)
        # between fmt and data, as real-world encoders emit
        fmt_end = base.index(b"data")
        info = b"LIST" + struct.pack("<I", 5) + b"INFOx" + b"\x00"
        spliced = base[:fmt_end] + info + base[fmt_end:]
        sr, s = decode_wav(spliced)
        assert sr == 8000
        np.testing.assert_array_equal(s, [1, -2, 3])

    def test_non_pcm16_rejected(self):
        import struct

        from chronoxtract_spark.operators.multimodal import (
            DecodeUnavailable,
            decode_wav,
            encode_wav,
        )

        with pytest.raises(DecodeUnavailable):
            decode_wav(b"not audio")
        # stereo (channels=2) must be refused, not silently mis-decoded
        good = bytearray(encode_wav(np.array([1, 2], dtype=np.int16)))
        fmt_at = bytes(good).index(b"fmt ") + 8
        good[fmt_at + 2 : fmt_at + 4] = struct.pack("<H", 2)
        with pytest.raises(DecodeUnavailable):
            decode_wav(bytes(good))
        # truncated fmt chunk and a null payload must also refuse via
        # DecodeUnavailable, not crash the task with struct/Type errors
        trunc = bytearray(encode_wav(np.array([1], dtype=np.int16)))
        at = bytes(trunc).index(b"fmt ") + 4
        trunc[at : at + 4] = struct.pack("<I", 8)
        with pytest.raises(DecodeUnavailable):
            decode_wav(bytes(trunc))
        with pytest.raises(DecodeUnavailable):
            decode_wav(None)

    def test_audio_features_values(self, spark):
        from chronoxtract_spark.operators.multimodal import (
            audio_features,
            encode_wav,
        )

        s = np.array([3, -3, 3, -3], dtype=np.int16)
        df = spark.createDataFrame(
            [(1, "audio/wav", bytearray(encode_wav(s)))],
            "media_id long, mime string, payload binary",
        )
        r = audio_features(df).collect()[0]
        assert (r.sample_rate, r.n_samples, r.peak) == (8000, 4, 3)
        assert r.rms == pytest.approx(3.0)
        assert r.zcr == pytest.approx(1.0)  # every adjacent pair crosses


class TestPacking:
    def _docs(self, spark, toks):
        return spark.createDataFrame(
            [(i, t) for i, t in enumerate(toks)], "doc_id long, n_tokens long"
        )

    def test_next_fit_semantics_single_group(self, spark):
        from chronoxtract_spark.operators.packing import pack_sequences

        # one group so the in-group order is the full doc order
        d = self._docs(spark, [300, 300, 100, 600, 50])
        got = {
            r.doc_id: (r.bin_idx, r.fill_after)
            for r in pack_sequences(d, capacity=512, n_groups=1).collect()
        }
        assert got[0] == (0, 300)
        assert got[1] == (1, 300)   # 300+300 > 512 -> new bin
        assert got[2] == (1, 400)
        assert got[3] == (2, 600)   # oversized doc: its own bin
        assert got[4] == (3, 50)    # bin after an oversized doc is fresh
    def test_exact_capacity_fill_stays(self, spark):
        from chronoxtract_spark.operators.packing import pack_sequences

        d = self._docs(spark, [256, 256, 10])
        got = {
            r.doc_id: (r.bin_idx, r.fill_after)
            for r in pack_sequences(d, capacity=512, n_groups=1).collect()
        }
        assert got[1] == (0, 512)   # exact fill closes nothing early
        assert got[2] == (1, 10)

    def test_assignment_stable_under_repartition(self, spark):
        from chronoxtract_spark.operators.packing import pack_sequences

        d = self._docs(spark, list(range(40, 440, 4)))
        a = {
            r.doc_id: (r.grp, r.bin_idx)
            for r in pack_sequences(d, capacity=512, n_groups=4).collect()
        }
        b = {
            r.doc_id: (r.grp, r.bin_idx)
            for r in pack_sequences(
                d.repartition(13), capacity=512, n_groups=4
            ).collect()
        }
        assert a == b

    def test_packing_stats_excludes_open_bin(self, spark):
        from chronoxtract_spark.operators.packing import (
            pack_sequences,
            packing_stats,
        )

        d = self._docs(spark, [400, 400, 400, 10])
        packed = pack_sequences(d, capacity=512, n_groups=1)
        s = packing_stats(packed, capacity=512).collect()[0]
        # bins: [400], [400], [400,10-open] -> closed = 2, frac 400/512
        assert s.closed_bins == 2
        assert s.mean_fill_frac == pytest.approx(400 / 512, abs=1e-6)

    def test_null_tokens_raise_clear_error(self, spark):
        from chronoxtract_spark.operators.packing import pack_sequences

        d = spark.createDataFrame(
            [(0, 10), (1, None)], "doc_id long, n_tokens long"
        )
        with pytest.raises(Exception, match="null token counts"):
            pack_sequences(d, capacity=512, n_groups=1).collect()
        with pytest.raises(ValueError):
            pack_sequences(d.fillna(0), capacity=512, n_groups=0)

    def test_zero_token_prefix_matches_oracle_recurrence(self, spark):
        from chronoxtract_spark.operators.packing import pack_sequences

        # zero-token docs before an oversized one: anchor semantics
        # (first doc seeds fill even at 0; overflow then opens bin 1 —
        # exactly what the recursive-CTE oracle computes)
        d = self._docs(spark, [0, 600])
        got = {
            r.doc_id: (r.bin_idx, r.fill_after)
            for r in pack_sequences(d, capacity=512, n_groups=1).collect()
        }
        assert got[0] == (0, 0)
        assert got[1] == (1, 600)

    def test_stats_keep_all_groups_and_exact_full_final_bin(self, spark):
        from chronoxtract_spark.operators.packing import (
            pack_sequences,
            packing_stats,
        )

        # single group, all docs fit in one exactly-full bin: the bin
        # is finished output (counted closed), and the group must not
        # vanish even when nothing overflows
        d = self._docs(spark, [256, 256])
        s = packing_stats(
            pack_sequences(d, capacity=512, n_groups=1), capacity=512
        ).collect()[0]
        assert (s.closed_bins, s.docs) == (1, 2)
        assert s.mean_fill_frac == pytest.approx(1.0)
        # under-full open-only group still appears with closed_bins=0
        d2 = self._docs(spark, [100])
        s2 = packing_stats(
            pack_sequences(d2, capacity=512, n_groups=1), capacity=512
        ).collect()[0]
        assert s2.closed_bins == 0 and s2.mean_fill_frac is None


class TestContaminationRedaction:
    def test_cross_contamination_flags_overlap(self, spark):
        from chronoxtract_spark.operators.dedup import cross_contamination

        train = spark.createDataFrame(
            [
                (1, "alpha beta gamma delta epsilon zeta"),
                (2, "totally different words here with no overlap at all"),
            ],
            "doc_id long, text string",
        )
        ev = spark.createDataFrame(
            [(100, "x alpha beta gamma delta epsilon y")],
            "doc_id long, text string",
        )
        got = {(r.train_id, r.eval_id): r.n_shared
               for r in cross_contamination(train, ev, n=5).collect()}
        # one shared 5-gram: "alpha beta gamma delta epsilon"
        assert got == {(1, 100): 1}

    def test_contamination_hot_shingle_guard(self, spark):
        from chronoxtract_spark.operators.dedup import cross_contamination

        boiler = "one two three four five"
        train = spark.createDataFrame(
            [(i, boiler) for i in range(10)], "doc_id long, text string"
        )
        ev = spark.createDataFrame(
            [(99, boiler)], "doc_id long, text string"
        )
        assert cross_contamination(train, ev, n=5).count() == 10
        # the df guard drops the boilerplate shingle entirely
        assert cross_contamination(
            train, ev, n=5, max_shingle_df=5
        ).count() == 0

    def test_redactions_values(self, spark):
        from chronoxtract_spark.operators.text import with_redactions

        df = spark.createDataFrame(
            [
                (1, "mail a.b%c@x-mail.co.uk and 192.168.0.1 twice 10.0.0.2"),
                (2, "nothing sensitive here"),
            ],
            "doc_id long, text string",
        )
        got = {r.doc_id: r for r in with_redactions(df).collect()}
        assert (got[1].n_email, got[1].n_ipv4) == (1, 2)
        assert "<EMAIL>" in got[1].redacted_text
        assert got[1].redacted_text.count("<IPV4>") == 2
        assert "192.168" not in got[1].redacted_text
        assert (got[2].n_email, got[2].n_ipv4) == (0, 0)
        assert got[2].redacted_text == "nothing sensitive here"

    def test_redaction_counts_match_inserted_placeholders(self, spark):
        from chronoxtract_spark.operators.text import with_redactions

        # local part that LOOKS like an IPv4: the email pass consumes
        # it, so n_ipv4 must be 0 — counts describe what was actually
        # replaced, not what matched the pristine text
        df = spark.createDataFrame(
            [(1, "ping 1.2.3.4@example.com now")],
            "doc_id long, text string",
        )
        r = with_redactions(df).collect()[0]
        assert (r.n_email, r.n_ipv4) == (1, 0)
        assert r.redacted_text == "ping <EMAIL> now"

    def test_contamination_zero_guard_means_disabled(self, spark):
        from chronoxtract_spark.operators.dedup import cross_contamination

        t = spark.createDataFrame(
            [(1, "a b c d e f")], "doc_id long, text string"
        )
        e = spark.createDataFrame(
            [(9, "a b c d e z")], "doc_id long, text string"
        )
        # 0 disables the guard (ngram_jaccard_pairs semantics), it does
        # not silently drop every shingle and report a clean corpus
        assert cross_contamination(t, e, n=5, max_shingle_df=0).count() == 1
