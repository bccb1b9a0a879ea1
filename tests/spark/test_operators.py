"""Dedup / text-analysis / similarity / multimodal operator tests."""

import pytest
from pyspark.sql import functions as F

from deduce_spark.spark import dedup, multimodal, similarity, textstats

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet").cache()


@pytest.fixture(scope="module")
def vecs(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet").cache()


class TestDedup:
    def test_minhash_clusters_near_dupes(self, spark):
        base = "the quick brown fox jumps over the lazy dog again and again " * 5
        variant = base.replace("lazy", "sleepy", 1)
        other = "completely different content about spark shuffle partitions " * 5
        df = spark.createDataFrame(
            [(1, base), (2, variant), (3, other)], ["doc_id", "text"]
        )
        out = {r["doc_id"]: r["canonical_id"]
               for r in dedup.minhash_dedup(df, threshold=0.5).collect()}
        assert out[1] == out[2]
        assert out[3] != out[1]

    def test_minhash_dedup_matches_golden(self, spark):
        """Row for row against ``golden.golden_minhash`` on generated pages
        plus near-duplicate twins (one word changed) and 260 copies of one
        text, whose buckets exceed the 256 cap in every band."""
        import pandas as pd

        from deduce_spark.fixtures import generate_pages
        from deduce_spark.golden import golden_minhash

        texts = generate_pages(200, seed=5)["text"]
        twins = [t.replace(" ", " twin ", 1) for t in texts[::10]]
        hot = ["one boilerplate text for every copy"] * 260
        pdf = pd.DataFrame({"text": texts + twins + hot})
        pdf.insert(0, "doc_id", range(len(pdf)))
        want = golden_minhash(pdf)
        got = (
            dedup.minhash_dedup(spark.createDataFrame(pdf), threshold=0.5)
            .toPandas().sort_values("doc_id", ignore_index=True)
        )
        pd.testing.assert_frame_equal(got, want)
        merged = got[got["doc_id"] != got["canonical_id"]]
        assert set(merged["doc_id"]) >= set(range(200, 200 + len(twins)))
        assert not set(merged["doc_id"]) & set(range(220, 480))

    def test_minhash_dedup_empty_input(self, spark):
        # a curate run whose verdicts keep nothing dedups an empty frame
        kept = spark.createDataFrame([], "doc_id long, text string")
        out = dedup.minhash_dedup(kept)
        assert out.columns == ["doc_id", "canonical_id"]
        assert out.collect() == []

    def test_simhash_near_dupes(self, spark):
        base = "alpha beta gamma delta epsilon zeta eta theta " * 8
        variant = base.replace("delta", "delta2", 1)
        other = " ".join(f"w{i}" for i in range(64))
        df = spark.createDataFrame(
            [(1, base), (2, variant), (3, other)], ["doc_id", "text"]
        )
        pairs = {(r["a"], r["b"]) for r in
                 dedup.simhash_near_dupes(df, max_hamming=8).collect()}
        assert (1, 2) in pairs
        assert (1, 3) not in pairs and (2, 3) not in pairs

    def test_ngram_jaccard_exact(self, spark):
        df = spark.createDataFrame(
            [(1, "a b c d e"), (2, "a b c d x"), (3, "q r s t u")],
            ["doc_id", "text"],
        )
        rows = dedup.ngram_jaccard_pairs(df, n=3, threshold=0.1).collect()
        assert len(rows) == 1
        r = rows[0]
        # grams(1)={abc,bcd,cde}, grams(2)={abc,bcd,cdx}: 2 common of 4
        assert (r["a"], r["b"], r["n_common"]) == (1, 2, 2)
        assert abs(r["jaccard"] - 0.5) < 1e-9


class TestTextstats:
    def test_token_count(self, docs):
        out = textstats.token_count(docs).collect()
        assert all(r["ws_tokens"] >= 1 and r["bpe_tokens"] >= 1 for r in out)

    def test_quality(self, docs):
        out = textstats.quality_score(docs).collect()
        assert all(0.0 <= r["quality"] <= 1.0 for r in out)

    def test_lang_id(self, spark):
        df = spark.createDataFrame(
            [
                (1, "de patient is van het ziekenhuis en hij heeft een afspraak"),
                (2, "the quick brown fox is on the table and it was good"),
                (3, "der Hund und die Katze sind nicht im Haus mit dem Auto"),
            ],
            ["doc_id", "text"],
        )
        out = {r["doc_id"]: r["pred_lang"] for r in textstats.lang_id(df).collect()}
        assert out == {1: "nl", 2: "en", 3: "de"}

    def test_fingerprints(self, docs):
        md5s = textstats.fingerprint_md5(docs)
        assert md5s.count() == docs.count()
        win = textstats.winnowing_fingerprint(docs.limit(20))
        rows = win.collect()
        assert all(len(r["winnow"]) > 0 for r in rows)
        # identical text -> identical fingerprint
        again = {r["doc_id"]: r["winnow"]
                 for r in textstats.winnowing_fingerprint(docs.limit(20)).collect()}
        for r in rows:
            assert again[r["doc_id"]] == r["winnow"]


class TestSimilarity:
    def test_cosine_topk_self_consistency(self, vecs):
        queries = vecs.filter(F.col("vec_id") < 3)
        out = similarity.cosine_topk(vecs, queries, k=5)
        rows = out.collect()
        assert len(rows) == 15
        by_q = {}
        for r in rows:
            by_q.setdefault(r["query_id"], []).append(r)
        for q, rs in by_q.items():
            ranks = sorted(r["rank"] for r in rs)
            assert ranks == [1, 2, 3, 4, 5]
            sims = [r["cosine"] for r in sorted(rs, key=lambda r: r["rank"])]
            assert sims == sorted(sims, reverse=True)
            assert all(r["neighbor_id"] != q for r in rs)

    def test_lsh_recall_vs_brute_force(self, vecs):
        queries = vecs.filter(F.col("vec_id") < 20)
        brute = similarity.cosine_topk(vecs, queries, k=1).filter(F.col("rank") == 1)
        approx = similarity.lsh_topk(vecs, k=5, n_planes=4, n_tables=10)
        hits = brute.alias("b").join(
            approx.alias("a"),
            (F.col("b.query_id") == F.col("a.query_id"))
            & (F.col("b.neighbor_id") == F.col("a.neighbor_id")),
        ).count()
        # with 4 planes, same-bucket probability for near neighbors is high;
        # expect at least half of the true top-1s recovered
        assert hits >= 12


class TestMultimodal:
    def test_probe(self, spark):
        media = multimodal.synthetic_media(spark, 32)
        out = {r["media_id"]: r for r in multimodal.probe_media(media).collect()}
        assert len(out) == 32
        assert out[0]["detected_type"] == "image/png"
        assert out[1]["detected_type"] == "image/jpeg"
        assert out[2]["detected_type"] == "audio/wav"
        assert all(r["n_bytes"] > 500 for r in out.values())


class TestRelational:
    def test_asof_join_strict_and_nonstrict(self, spark):
        from deduce_spark.spark.relational import asof_join

        left = spark.createDataFrame(
            [(1, 10, "a"), (1, 20, "b"), (2, 5, "c")],
            "user_id long, ts long, name string",
        )
        right = spark.createDataFrame(
            [(1, 10, 100.0), (1, 15, 150.0), (2, 99, 990.0)],
            "user_id long, ts long, v double",
        )
        strict = {
            r["name"]: (r["asof_ts"], r["asof_value"])
            for r in asof_join(
                left, right, key="user_id", value_col="v"
            ).collect()
        }
        # ts=10 right row does NOT match the ts=10 left row when strict
        assert strict["a"] == (None, None)
        assert strict["b"] == (15, 150.0)
        assert strict["c"] == (None, None)  # right row is in the future
        loose = {
            r["name"]: r["asof_ts"]
            for r in asof_join(
                left, right, key="user_id", value_col="v", strict=False
            ).collect()
        }
        assert loose["a"] == 10  # same-instant row now matches
        assert loose["b"] == 15

    def test_salted_count_equals_plain_groupby(self, spark):
        from deduce_spark.spark.relational import salted_count

        # 90%-hot key: the exact shape salting is for
        df = spark.range(0, 5000).select(
            F.when(F.col("id") % 10 < 9, "hot").otherwise(
                F.concat(F.lit("cold"), (F.col("id") % 7).cast("string"))
            ).alias("k")
        )
        salted = {r["k"]: r["n"] for r in salted_count(df, "k").collect()}
        plain = {
            r["k"]: r["n"]
            for r in df.groupBy("k").agg(F.count(F.lit(1)).alias("n")).collect()
        }
        assert salted == plain
        # phase 1 really spreads the hot key over multiple salt groups
        from pyspark.sql import functions as SF

        partials = (
            df.withColumn(
                "_salt",
                SF.pmod(SF.xxhash64(SF.monotonically_increasing_id()), SF.lit(16)),
            )
            .filter(F.col("k") == "hot")
            .select("_salt")
            .distinct()
            .count()
        )
        assert partials >= 8


class TestIVF:
    def test_ivf_recall_vs_brute_force(self, vecs):
        queries = vecs.filter(F.col("vec_id") < 20)
        brute = similarity.cosine_topk(vecs, queries, k=1).filter(
            F.col("rank") == 1
        )
        approx = similarity.ivf_topk(
            vecs, queries, k=5, n_centroids=16, n_probe=4
        )
        hits = (
            brute.alias("b")
            .join(
                approx.alias("a"),
                (F.col("b.query_id") == F.col("a.query_id"))
                & (F.col("b.neighbor_id") == F.col("a.neighbor_id")),
            )
            .count()
        )
        # probing 4 of 16 lists must recover most true top-1 neighbours
        assert hits >= 14

    def test_ivf_deterministic(self, vecs):
        queries = vecs.filter(F.col("vec_id") < 5)
        a = sorted(map(tuple, similarity.ivf_topk(vecs, queries, k=3).collect()))
        b = sorted(map(tuple, similarity.ivf_topk(vecs, queries, k=3).collect()))
        assert a == b


class TestParagraphDedup:
    def test_shared_paragraph_counting(self, spark):
        # doc 0 and 1 share their first 10-word block; doc 2 is unique
        blk = "w0 w1 w2 w3 w4 w5 w6 w7 w8 w9"
        rows = [
            (0, blk + " a b c"),
            (1, blk + " d e f"),
            (2, "x0 x1 x2 x3 x4 x5 x6 x7 x8 x9 g h i"),
        ]
        df = spark.createDataFrame(rows, "doc_id long, text string")
        out = {
            r["doc_id"]: (r["n_paras"], r["n_shared_paras"])
            for r in textstats.paragraph_dedup(df).collect()
        }
        assert out == {0: (2, 1), 1: (2, 1), 2: (2, 0)}

    def test_within_doc_repeat_not_shared(self, spark):
        # the same block twice in ONE doc is not cross-document boilerplate
        blk = "w0 w1 w2 w3 w4 w5 w6 w7 w8 w9"
        df = spark.createDataFrame(
            [(0, blk + " " + blk)], "doc_id long, text string"
        )
        out = textstats.paragraph_dedup(df).collect()[0]
        assert (out["n_paras"], out["n_shared_paras"]) == (2, 0)


class TestRepetitionStats:
    def test_exact_permilles(self, spark):
        df = spark.createDataFrame(
            [
                (0, "a a a b"),          # top 3/4 words; bigrams: aa,aa,ab -> 1 dup of 3
                (1, "a b c d"),          # no repetition
                (2, "x"),                # single word, no bigrams
            ],
            "doc_id long, text string",
        )
        out = {
            r["doc_id"]: (
                r["n_words"], r["top_word_permille"], r["dup_bigram_permille"]
            )
            for r in textstats.repetition_stats(df).collect()
        }
        assert out[0] == (4, 750, 333)
        assert out[1] == (4, 250, 0)
        assert out[2] == (1, 1000, 0)


class TestRealDecoders:
    def test_wav_roundtrip_exact(self):
        import struct

        import numpy as np

        sr, samples = 8000, np.array([0, 100, -100, 32767, -32768], dtype="<i2")
        fmt = struct.pack("<HHIIHH", 1, 1, sr, sr * 2, 2, 16)
        data = samples.tobytes()
        blob = (b"RIFF" + struct.pack("<I", 4 + 8 + len(fmt) + 8 + len(data))
                + b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
                + b"data" + struct.pack("<I", len(data)) + data)
        got_sr, ch, bits, got = multimodal.decode_wav(blob)
        assert (got_sr, ch, bits) == (8000, 1, 16)
        assert got.tolist() == samples.astype("int32").tolist()

    def test_wav_skips_unknown_chunks(self):
        import struct

        base = multimodal.synth_wav(0)
        # splice a LIST chunk between WAVE and fmt
        extra = b"LIST" + struct.pack("<I", 6) + b"INFOab"
        blob = base[:12] + extra + base[12:]
        assert multimodal.wav_stats_one(blob) == multimodal.wav_stats_one(base)

    def test_wav_non_pcm_raises(self):
        import struct

        fmt = struct.pack("<HHIIHH", 3, 1, 8000, 32000, 4, 32)  # float PCM
        blob = (b"RIFF" + struct.pack("<I", 4 + 8 + len(fmt) + 8)
                + b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
                + b"data" + struct.pack("<I", 0))
        with pytest.raises(NotImplementedError, match="integer PCM"):
            multimodal.decode_wav(blob)

    def test_stats_operators_match_kernel(self, spark):
        media = multimodal.synthetic_media_real(spark, 8)
        audio = {r["media_id"]: (r["rms_q"], r["peak"], r["zero_crossings"])
                 for r in multimodal.audio_stats(media).collect()}
        rows = multimodal.synthetic_media_real_rows(8)
        assert [mid for mid, _b, _t in rows] == [0, 2, 4, 6]
        for mid, blob, _t in rows:
            _sr, _ch, _n, rms, peak, zc = multimodal.wav_stats_one(blob)
            assert audio[mid] == (rms, peak, zc)


class TestTextstatsFused:
    """doc_textstats (round-4 scored form) fuses token_count +
    quality_score + lang_id + fingerprint_md5 into one projection; values
    must be bit-identical to the four individual operators."""

    def test_matches_individual_operators(self, spark):
        docs = (
            spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
            .limit(120)
        )
        fused = {r["doc_id"]: r.asDict() for r in textstats.textstats_all(docs).collect()}
        tok = {r["doc_id"]: r.asDict() for r in textstats.token_count(docs).collect()}
        qual = {r["doc_id"]: r.asDict() for r in textstats.quality_score(docs).collect()}
        lang = {r["doc_id"]: r.asDict() for r in textstats.lang_id(docs).collect()}
        fp = {r["doc_id"]: r.asDict() for r in textstats.fingerprint_md5(docs).collect()}
        assert set(fused) == set(tok)
        for did, f in fused.items():
            assert f["ws_tokens"] == tok[did]["ws_tokens"]
            assert f["bpe_tokens"] == tok[did]["bpe_tokens"]
            for c in ("n_chars", "mean_word_len", "punct_ratio",
                      "upper_ratio", "distinct_ratio", "quality"):
                assert f[c] == qual[did][c], (did, c)
            for c in ("score_nl", "score_en", "score_de", "pred_lang"):
                assert f[c] == lang[did][c], (did, c)
            assert f["fingerprint"] == fp[did]["fingerprint"]

    def test_single_scan_single_codegen_projection(self, spark):
        docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
        plan = (
            textstats.textstats_all(docs)
            ._jdf.queryExecution()
            .executedPlan()
            .toString()
        )
        # one parquet scan, no shuffle, no Python anywhere
        assert plan.count("Scan parquet") == 1
        assert "Exchange" not in plan
        assert "Python" not in plan


class TestExactNtile:
    """exact_ntile must be a drop-in for ntile() OVER (ORDER BY v, tb) —
    including NULL values, which rank first (ADVICE r4: they were
    silently dropped by the bucket join)."""

    def _both(self, spark, rows, n_tiles):
        from pyspark.sql import Window

        from deduce_spark.spark.relational import exact_ntile

        df = spark.createDataFrame(rows, "id long, v double")
        got = {
            r["id"]: r["tile"]
            for r in exact_ntile(
                df, "v", "id", n_tiles=n_tiles, n_buckets=7
            ).collect()
        }
        w = Window.orderBy(F.col("v").asc_nulls_first(), "id")
        want = {
            r["id"]: r["t"]
            for r in df.select("id", F.ntile(n_tiles).over(w).alias("t")).collect()
        }
        return got, want

    def test_matches_window_ntile_with_nulls(self, spark):
        import random

        rng = random.Random(7)
        rows = [
            (i, None if i % 5 == 0 else round(rng.uniform(-3, 3), 3))
            for i in range(200)
        ]
        got, want = self._both(spark, rows, 10)
        assert got == want

    def test_all_null_values(self, spark):
        rows = [(i, None) for i in range(9)]
        got, want = self._both(spark, rows, 4)
        assert got == want

    def test_uneven_tiles_no_nulls(self, spark):
        rows = [(i, float(i % 13)) for i in range(23)]
        got, want = self._both(spark, rows, 5)
        assert got == want

    def test_hot_value_skew_resplits_and_stays_exact(self, spark):
        # 99.6% of rows share ONE value: equal-width bins collapse to a
        # single bin whose row_number would serialize; the resplit path
        # must (a) keep the result identical to window ntile and (b)
        # actually spread the hot value over many tiebreak sub-bins
        from pyspark.sql import Window

        from deduce_spark.spark.relational import exact_ntile

        rows = [(i, 7.0 if i % 250 else float(i)) for i in range(5000)]
        df = spark.createDataFrame(rows, "id long, v double")
        dbg: dict = {}
        got = exact_ntile(df, "v", "id", n_tiles=10, n_buckets=16, debug=dbg)
        w = Window.orderBy(F.col("v").asc_nulls_first(), "id")
        want = {
            r["id"]: r["t"]
            for r in df.select(
                "id", F.ntile(10).over(w).alias("t")
            ).collect()
        }
        assert {r["id"]: r["tile"] for r in got.collect()} == want
        assert dbg["resplit"] is True
        # the 4980-row hot value spread over ~16 tiebreak sub-bins
        assert dbg["max_bucket_rows"] < 1000
        assert dbg["n_buckets_used"] >= 16

    def test_hot_value_with_string_tiebreak(self, spark):
        # same skew but the tiebreak is a STRING: sub-bins come from the
        # first-8-byte conv() surrogate, which must coarsen Spark's
        # binary string order exactly
        from pyspark.sql import Window

        from deduce_spark.spark.relational import exact_ntile

        rows = [
            (i, f"key{i:06d}", 3.0 if i % 100 else float(i))
            for i in range(2000)
        ]
        df = spark.createDataFrame(rows, "id long, k string, v double")
        dbg: dict = {}
        got = exact_ntile(df, "v", "k", n_tiles=7, n_buckets=8, debug=dbg)
        w = Window.orderBy(F.col("v").asc_nulls_first(), "k")
        want = {
            r["id"]: r["t"]
            for r in df.select("id", F.ntile(7).over(w).alias("t")).collect()
        }
        assert {r["id"]: r["tile"] for r in got.collect()} == want
        assert dbg["resplit"] is True and dbg["max_bucket_rows"] < 1000

    def test_resplit_disabled_still_exact(self, spark):
        from pyspark.sql import Window

        from deduce_spark.spark.relational import exact_ntile

        rows = [(i, 7.0 if i % 250 else float(i)) for i in range(3000)]
        df = spark.createDataFrame(rows, "id long, v double")
        dbg: dict = {}
        got = exact_ntile(
            df, "v", "id", n_tiles=10, n_buckets=16,
            resplit_share=1.1, debug=dbg,
        )
        w = Window.orderBy(F.col("v").asc_nulls_first(), "id")
        want = {
            r["id"]: r["t"]
            for r in df.select("id", F.ntile(10).over(w).alias("t")).collect()
        }
        assert {r["id"]: r["tile"] for r in got.collect()} == want
        assert dbg["resplit"] is False


class TestSemanticDedup:
    """similarity.semantic_dedup — SemDeDup-style cluster-then-compare."""

    @staticmethod
    def _emb(spark, rows):
        return spark.createDataFrame(
            rows, "vec_id long, embedding array<float>"
        )

    def test_finds_within_cluster_duplicates(self, spark):
        from deduce_spark.spark.similarity import semantic_dedup

        # two tight direction groups + one outlier; near-identical
        # vectors must collapse to the min id, outlier stays itself
        rows = [
            (1, [1.0, 0.0, 0.0, 0.0]),
            (2, [0.999, 0.001, 0.0, 0.0]),
            (3, [0.998, 0.002, 0.0, 0.0]),
            (4, [0.0, 1.0, 0.0, 0.0]),
            (5, [0.0, 0.999, 0.001, 0.0]),
            (6, [0.0, 0.0, 0.0, 1.0]),
        ]
        out = {
            r["vec_id"]: r["canonical_id"]
            for r in semantic_dedup(
                self._emb(spark, rows), tau=0.9, n_centroids=3
            ).collect()
        }
        assert out[1] == 1 and out[2] == 1 and out[3] == 1
        assert out[4] == 4 and out[5] == 4
        assert out[6] == 6

    def test_oversized_cluster_skipped_whole(self, spark):
        from deduce_spark.spark.similarity import semantic_dedup

        # 8 identical vectors: with max_cluster=4 the (single) cluster is
        # skipped, so every vector stays its own canonical — the bucket-cap
        # discipline (no B² explosion from a degenerate region)
        rows = [(i, [1.0, 0.0]) for i in range(1, 9)]
        out = semantic_dedup(
            self._emb(spark, rows), tau=0.5, n_centroids=2, max_cluster=4
        ).collect()
        assert all(r["vec_id"] == r["canonical_id"] for r in out)

    def test_matches_sequential_replica_on_fixture(self, spark):
        import pandas as pd

        from deduce_spark.golden import golden_semantic_dedup
        from deduce_spark.spark.similarity import semantic_dedup

        emb_pd = pd.read_parquet(
            "/root/testdata/sf0.001/embeddings.parquet"
        )
        g = golden_semantic_dedup(emb_pd)
        s = (
            semantic_dedup(
                spark.read.parquet(
                    "/root/testdata/sf0.001/embeddings.parquet"
                ),
                tau=0.35,
            )
            .orderBy("vec_id")
            .toPandas()
        )
        assert g.reset_index(drop=True).equals(s.reset_index(drop=True))
        assert int((g.vec_id != g.canonical_id).sum()) > 0
