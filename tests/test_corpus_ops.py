"""Dedup, similarity search, text stats, multimodal plumbing, streaming."""

import pytest
from pyspark.sql import functions as F

from llm_review_aggregation_spark.functions import multimodal, textstats
from llm_review_aggregation_spark.operators import dedup, simsearch

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def documents(spark):
    return spark.read.parquet(f"{SF_DIR}/documents.parquet").cache()


@pytest.fixture(scope="module")
def embeddings(spark):
    return spark.read.parquet(f"{SF_DIR}/embeddings.parquet").cache()


class TestTextStats:
    def test_fingerprint_normalizes_whitespace(self, spark):
        df = spark.createDataFrame([("a  b",), ("A b ",)], "text string")
        fps = [r[0] for r in df.select(textstats.fingerprint(F.col("text"))).collect()]
        assert fps[0] == fps[1]

    def test_lang_guess_en(self, spark):
        df = spark.createDataFrame(
            [("the cat is on the mat and it is happy",), ("zorp blag frumble xyz",)],
            "text string",
        )
        out = [r[0] for r in df.select(textstats.lang_guess(F.col("text"))).collect()]
        assert out == ["en", "unknown"]

    def test_simhash_deterministic_and_locality(self, spark):
        df = spark.createDataFrame(
            [(1, "the quick brown fox jumps over the lazy dog"),
             (2, "the quick brown fox jumps over the lazy cat"),
             (3, "completely unrelated words about spark execution engines")],
            "id long, text string",
        )
        out = {r["id"]: r["sh"] for r in df.select("id", textstats.simhash_udf("text").alias("sh")).collect()}
        ham12 = bin((out[1] ^ out[2]) & (2**64 - 1)).count("1")
        ham13 = bin((out[1] ^ out[3]) & (2**64 - 1)).count("1")
        assert ham12 < ham13


class TestDedup:
    def test_exact_dedup(self, spark):
        df = spark.createDataFrame(
            [(1, "Hello  World"), (2, "hello world"), (3, "different doc")],
            "id long, text string",
        )
        groups = dedup.exact_duplicate_groups(df, "text", "id").collect()
        assert len(groups) == 1 and groups[0]["n_docs"] == 2 and groups[0]["keep_id"] == 1
        kept = sorted(r["id"] for r in dedup.dedup_exact(df, "text", "id").collect())
        assert kept == [1, 3]

    def test_minhash_near_duplicates(self, spark):
        base = "spark executes distributed dataflow across many partitions with shuffle and broadcast joins"
        df = spark.createDataFrame(
            [(1, base), (2, base.replace("many", "several")), (3, "short unrelated text about cameras and lenses only")],
            "id long, text string",
        )
        pairs = {(r["a"], r["b"]) for r in dedup.minhash_near_duplicates(df, "text", "id", threshold=0.5).collect()}
        assert pairs == {(1, 2)}

    def test_jaccard_pairs_direct(self, spark):
        df = spark.createDataFrame(
            [(1, "a b c d e"), (2, "a b c d f"), (3, "x y z w v")], "id long, text string"
        )
        got = {(r["a"], r["b"]): r["jaccard"] for r in dedup.jaccard_pairs(df, "text", "id", k=1, threshold=0.5).collect()}
        assert set(got) == {(1, 2)}
        assert abs(got[(1, 2)] - 4 / 6) < 1e-9

    def test_simhash_near_duplicates(self, spark):
        base = "the quick brown fox jumps over the lazy dog while rain falls on the quiet town square"
        df = spark.createDataFrame(
            [(1, base), (2, base.replace("rain", "snow")), (3, "totally different content here about engines")],
            "id long, text string",
        )
        pairs = {(r["a"], r["b"]) for r in dedup.simhash_near_duplicates(df, "text", "id", max_hamming=16).collect()}
        assert (1, 2) in pairs and (1, 3) not in pairs

    def test_embedding_near_duplicates(self, spark):
        rows = [
            (1, [1.0, 0.0, 0.0, 0.0]),
            (2, [0.99, 0.01, 0.0, 0.0]),
            (3, [0.0, 1.0, 0.0, 0.0]),
        ]
        df = spark.createDataFrame(rows, "id long, vec array<double>")
        pairs = {(r["a"], r["b"]) for r in dedup.embedding_near_duplicates(df, "vec", "id", threshold=0.95, planes=6).collect()}
        assert (1, 2) in pairs and (1, 3) not in pairs


class TestJaccardBitset:
    def test_matches_array_formulation(self, documents):
        """Differential: the packed-bitset kernel must emit exactly the
        pairs the array_intersect formulation emits (same jaccard values)."""
        sh = documents.select(
            "doc_id", "source", F.array_distinct(textstats.tokens_col(F.col("text"))).alias("toks")
        )
        a = sh.select("source", F.col("doc_id").alias("a"), F.col("toks").alias("ta"))
        b = sh.select("source", F.col("doc_id").alias("b"), F.col("toks").alias("tb"))
        ref = (
            a.join(b, "source")
            .filter(F.col("a") < F.col("b"))
            .withColumn(
                "j",
                F.size(F.array_intersect("ta", "tb"))
                / F.greatest(F.size(F.array_union("ta", "tb")), F.lit(1)),
            )
            .filter(F.col("j") >= 0.5)
        )
        expected = {(r["source"], r["a"], r["b"], round(r["j"], 6)) for r in ref.collect()}
        got = {
            (r["g"], r["a"], r["b"], round(r["jaccard"], 6))
            for r in dedup.jaccard_pairs_bitset(
                documents, "text", "doc_id", group_col="source", threshold=0.5
            ).collect()
        }
        assert got == expected and len(got) > 0

    def test_vocab_cap_raises(self, spark):
        df = spark.createDataFrame(
            [(i, f"tok{i} tok{i+1} tok{i+2}") for i in range(40)], "id long, text string"
        )
        with pytest.raises(ValueError, match="max_vocab"):
            dedup.jaccard_pairs_bitset(df, "text", "id", threshold=0.5, max_vocab=10)

    def test_ungrouped_multichunk(self, spark):
        # >64 distinct tokens forces multiple mask chunks
        docs = [
            (1, " ".join(f"w{i}" for i in range(70))),
            (2, " ".join(f"w{i}" for i in range(5, 70))),  # high overlap with 1
            (3, " ".join(f"x{i}" for i in range(30))),
        ]
        df = spark.createDataFrame(docs, "id long, text string")
        out = {(r["a"], r["b"]): r["jaccard"] for r in dedup.jaccard_pairs_bitset(
            df, "text", "id", threshold=0.5
        ).collect()}
        assert set(out) == {(1, 2)}
        assert abs(out[(1, 2)] - 65 / 70) < 1e-9

    def test_replicated_corpus_collapses_to_distinct_signatures(self, spark):
        """Candidate generation is quadratic in DISTINCT token sets: 3
        templates replicated 20x each must emit every within-template pair
        at J=1.0 plus the expanded cross-template pairs, exactly matching
        the all-pairs array formulation."""
        templates = ["a b c d", "a b c e", "x y z w"]
        docs = [(t * 100 + i, templates[t]) for t in range(3) for i in range(20)]
        df = spark.createDataFrame(docs, "id long, text string")
        got = {
            (r["a"], r["b"], round(r["jaccard"], 6))
            for r in dedup.jaccard_pairs_bitset(df, "text", "id", threshold=0.5).collect()
        }
        toks = df.select("id", F.array_distinct(textstats.tokens_col(F.col("text"))).alias("t"))
        a = toks.select(F.col("id").alias("a"), F.col("t").alias("ta"))
        b = toks.select(F.col("id").alias("b"), F.col("t").alias("tb"))
        ref = (
            a.crossJoin(b).filter(F.col("a") < F.col("b"))
            .withColumn("j", F.size(F.array_intersect("ta", "tb"))
                        / F.greatest(F.size(F.array_union("ta", "tb")), F.lit(1)))
            .filter(F.col("j") >= 0.5)
        )
        expected = {(r["a"], r["b"], round(r["j"], 6)) for r in ref.collect()}
        assert got == expected
        # 20-choose-2 within each of 3 templates + 20*20 across the two
        # overlapping templates (J = 3/5)
        assert len(got) == 3 * 190 + 400

    def test_empty_token_docs_dropped(self, spark):
        df = spark.createDataFrame(
            [(1, "a b c"), (2, "a b c"), (3, ""), (4, "   ")], "id long, text string"
        )
        got = {(r["a"], r["b"]) for r in dedup.jaccard_pairs_bitset(
            df, "text", "id", threshold=0.5
        ).collect()}
        assert got == {(1, 2)}


class TestCosineNearDupLsh:
    def test_auto_routed_ivf_subset_of_exact(self, embeddings):
        """The blocked near-dup contract query (auto-routed to the
        AND-amplified IVF generator at this loose threshold) must be a
        verified subset of the exact all-pairs baseline (candidates can be
        missed, never wrong). Recall floor is exact-reproducible:
        md5-seeded centroids make the whole path deterministic (measured
        0.961 on this fixture)."""
        emb = embeddings.withColumn("embedding", F.transform("embedding", lambda x: x.cast("double")))
        exact = {
            (r["a"], r["b"])
            for r in dedup.embedding_near_duplicates_exact(emb, "embedding", "vec_id", threshold=0.35).collect()
        }
        got = {
            (r["a"], r["b"])
            for r in dedup.embedding_near_duplicates(
                emb, "embedding", "vec_id", threshold=0.35
            ).collect()
        }
        assert got <= exact
        assert len(got) >= 0.9 * len(exact), (len(got), len(exact))

    def test_ivf_recall_and_prune_contract_sf01(self, spark):
        """The north-rule quality contract for the loose-threshold near-dup
        join, at the gate scale (sf0.1, 2000 vectors): recall >= 0.8 vs the
        exact all-pairs baseline AND candidate prune >= 5x vs all-pairs.
        Deterministic (md5-seeded tables), so the measured point
        (recall 0.841, prune 5.56x) is stable; the floors assert the
        contract, not the point. The exact baseline is recomputed in numpy
        (float64 matmul — same arithmetic as the JVM fold at these
        magnitudes) to keep the quadratic side off the cluster."""
        import numpy as np

        emb = spark.read.parquet("/root/testdata/sf0.1/embeddings.parquet").withColumn(
            "embedding", F.transform("embedding", lambda x: x.cast("double"))
        )
        pdf = emb.select("vec_id", "embedding").toPandas().sort_values("vec_id")
        V = np.stack(pdf["embedding"].to_numpy())
        ids = pdf["vec_id"].to_numpy()
        Vn = V / np.maximum(np.linalg.norm(V, axis=1, keepdims=True), 1e-12)
        C = Vn @ Vn.T
        iu = np.triu_indices(len(ids), 1)
        exact = {
            (int(ids[i]), int(ids[j]))
            for i, j in zip(iu[0][C[iu] >= 0.35], iu[1][C[iu] >= 0.35])
        }
        n_all = len(ids) * (len(ids) - 1) // 2

        n_cand = dedup.ivf_candidate_pairs(emb, "embedding", "vec_id").count()
        assert n_all / n_cand >= 5.0, (n_all, n_cand)

        got = {
            (r["a"], r["b"])
            for r in dedup.embedding_near_duplicates(
                emb, "embedding", "vec_id", threshold=0.35
            ).collect()
        }
        assert got <= exact
        recall = len(got & exact) / len(exact)
        assert recall >= 0.8, (recall, len(got), len(exact))

    def test_explicit_lsh_method_subset_of_exact(self, embeddings):
        """method="lsh" forces the sign-LSH generator even below the route
        threshold — still a verified subset of exact."""
        emb = embeddings.withColumn("embedding", F.transform("embedding", lambda x: x.cast("double")))
        exact = {
            (r["a"], r["b"])
            for r in dedup.embedding_near_duplicates_exact(emb, "embedding", "vec_id", threshold=0.35).collect()
        }
        lsh = {
            (r["a"], r["b"])
            for r in dedup.embedding_near_duplicates(
                emb, "embedding", "vec_id", threshold=0.35,
                planes=10, probe_hamming=1, tables=8, method="lsh",
            ).collect()
        }
        assert lsh <= exact
        assert len(lsh) >= 0.5 * len(exact), (len(lsh), len(exact))

    def test_method_validation(self, embeddings):
        import pytest as _pytest
        with _pytest.raises(ValueError, match="unknown method"):
            dedup.embedding_near_duplicates(embeddings, "embedding", "vec_id", method="bogus")


class TestSimSearch:
    def test_brute_force_topk_self_nearest(self, embeddings):
        queries = embeddings.limit(3).select(F.col("vec_id").alias("q_id"), F.col("embedding"))
        out = simsearch.brute_force_topk(
            embeddings, queries.withColumnRenamed("q_id", "vec_id"), "embedding", "vec_id", "vec_id", k=5
        )
        top1 = {r["q_id"]: r["id"] for r in out.filter(F.col("rank") == 1).collect()}
        assert top1 == {0: 0, 1: 1, 2: 2}  # each query's nearest is itself

    def test_lsh_topk_recall_vs_brute(self, embeddings):
        queries = embeddings.limit(5)
        exact = simsearch.brute_force_topk(embeddings, queries, "embedding", "vec_id", "vec_id", k=5)
        approx = simsearch.lsh_topk(
            embeddings, queries, "embedding", "vec_id", "vec_id",
            k=5, planes=6, probe_hamming=1, tables=8,
        )
        e = {(r["q_id"], r["id"]) for r in exact.collect()}
        a = {(r["q_id"], r["id"]) for r in approx.collect()}
        recall = len(e & a) / len(e)
        assert recall >= 0.8, recall


class TestIvf:
    def test_ivf_recall_vs_brute(self, embeddings):
        queries = embeddings.limit(5)
        exact = simsearch.brute_force_topk(embeddings, queries, "embedding", "vec_id", "vec_id", k=5)
        ivf = simsearch.ivf_topk(
            embeddings, queries, "embedding", "vec_id", "vec_id", k=5, nlist=8, nprobe=4
        )
        e = {(r["q_id"], r["id"]) for r in exact.collect()}
        a = {(r["q_id"], r["id"]) for r in ivf.collect()}
        assert len(e & a) / len(e) >= 0.6, len(e & a) / len(e)

    def test_ivf_assign_shapes(self, embeddings):
        cents = simsearch.ivf_centroids(embeddings, "embedding", "vec_id", nlist=4)
        assert len(cents) == 4 and len(cents[0]) == 64
        # deterministic: same centroids twice
        assert cents == simsearch.ivf_centroids(embeddings, "embedding", "vec_id", nlist=4)
        assigned = simsearch.ivf_assign(embeddings, "embedding", "vec_id", cents, nprobe=2)
        rows = assigned.collect()
        n_vec = embeddings.count()
        assert len(rows) == 2 * n_vec  # nprobe cells per vector
        assert all(0 <= r["cell"] < 4 for r in rows)


class TestMultimodal:
    def test_image_features(self, spark):
        media = multimodal.synth_media(spark, n_images=6, n_videos=2)
        feats = multimodal.extract_image_features(media).collect()
        assert len(feats) == 6
        for r in feats:
            assert r["width"] == 32 and r["height"] == 24
            assert 0 <= r["mean_intensity"] <= 255
            assert abs(sum(r["histogram"]) - 1.0) < 1e-9

    def test_resize_roundtrip(self, spark):
        media = multimodal.synth_media(spark, n_images=3, n_videos=0)
        resized = multimodal.resize_images(media, 8, 6)
        out = multimodal.extract_image_features(
            resized.withColumn("kind", F.lit("image")).select("media_id", "kind", "payload")
        ).collect()
        assert all(r["width"] == 8 and r["height"] == 6 for r in out)

    def test_video_frame_sampling(self, spark):
        media = multimodal.synth_media(spark, n_images=0, n_videos=2)
        frames = multimodal.sample_video_frames(media, every_k=2).collect()
        assert len(frames) == 2 * 4  # 8 frames, every 2nd
        assert {r["frame_idx"] for r in frames} == {0, 2, 4, 6}

    def test_stub_decoder_raises(self, spark):
        media = multimodal.synth_media(spark, n_images=1, n_videos=0)
        with pytest.raises(Exception, match="NotImplementedError|not installed"):
            multimodal.extract_image_features(media, decoder="stub").collect()


class TestStreaming:
    def test_windowed_counts_match_batch(self, spark, tmp_path):
        from llm_review_aggregation_spark.streaming import events as ev

        src = str(tmp_path / "events_dir")
        spark.read.parquet(f"{SF_DIR}/events.parquet").write.parquet(src)
        stream = ev.read_event_stream(spark, src)
        agg = ev.windowed_event_counts(stream, window="1 hour", watermark="10 minutes")
        ev.run_available_now(agg, "win_counts", str(tmp_path / "ckpt"))
        got = {
            (r["window_start"], r["event_type"]): (r["n_events"], round(r["value_sum"], 6))
            for r in spark.sql("select * from win_counts").collect()
        }
        batch = (
            spark.read.parquet(src)
            .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
            .agg(F.count(F.lit(1)).alias("n"), F.round(F.sum("value"), 6).alias("s"))
        )
        want = {(r["w"]["start"], r["event_type"]): (r["n"], float(r["s"])) for r in batch.collect()}
        assert got == want

    def test_streaming_dedup(self, spark, tmp_path):
        from llm_review_aggregation_spark.streaming import events as ev

        src = str(tmp_path / "dup_events")
        base = spark.read.parquet(f"{SF_DIR}/events.parquet").limit(50)
        base.union(base).write.parquet(src)  # duplicated ids
        stream = ev.read_event_stream(spark, src)
        deduped = ev.streaming_dedup(stream)
        ev.run_append_to_memory(deduped, "dedup_events", str(tmp_path / "ckpt2"))
        n = spark.sql("select count(distinct event_id) c, count(*) n from dedup_events").first()
        assert n["c"] == n["n"] == 50


class TestSkew:
    def test_salted_count_equals_plain(self, spark):
        from llm_review_aggregation_spark.operators import skew

        d = spark.read.parquet(f"{SF_DIR}/documents.parquet")
        toks = d.select(F.explode(F.split(F.lower("text"), r"\s+")).alias("term")).filter(
            F.col("term") != ""
        )
        plain = {r["term"]: r["count"] for r in toks.groupBy("term").count().collect()}
        salted = {r["term"]: r["count"] for r in skew.salted_count(toks, ["term"]).collect()}
        assert salted == plain

    def test_salted_topk_matches_orderby(self, spark):
        from llm_review_aggregation_spark.operators import skew

        d = spark.read.parquet(f"{SF_DIR}/documents.parquet")
        toks = d.select(F.explode(F.split(F.lower("text"), r"\s+")).alias("term")).filter(
            F.col("term") != ""
        )
        want = [
            (r["term"], r["count"])
            for r in toks.groupBy("term").count().orderBy(F.desc("count"), F.asc("term")).limit(10).collect()
        ]
        got = [(r["term"], r["count"]) for r in skew.salted_topk_by_count(toks, "term", 10).collect()]
        assert got == want

    def test_salt_spreads_a_hot_key(self, spark):
        """One key, the only column, over several partitions: the salt must
        still take more than one value, or phase 1 sends the whole key to
        one reducer."""
        from llm_review_aggregation_spark.operators import skew

        hot = spark.range(5000).select(F.lit("camera").alias("term")).repartition(8)
        salts = skew.with_salt(hot, 16).select("_salt").distinct().collect()
        assert len(salts) > 1
        assert all(0 <= r["_salt"] < 16 for r in salts)

    def test_salted_agg_holistic(self, spark):
        from llm_review_aggregation_spark.operators import skew

        d = spark.read.parquet(f"{SF_DIR}/documents.parquet").limit(50)
        rows = skew.salted_agg(
            d.select("source", "doc_id"),
            ["source"],
            partial_aggs=[F.collect_set("doc_id").alias("ids")],
            merge_aggs=[F.array_distinct(F.flatten(F.collect_list("ids"))).alias("ids")],
        ).collect()
        want = {
            r["source"]: set(r["ids"])
            for r in d.groupBy("source").agg(F.collect_set("doc_id").alias("ids")).collect()
        }
        assert {r["source"]: set(r["ids"]) for r in rows} == want


class TestSessionize:
    def test_known_sessions(self, spark, tmp_path):
        import datetime as dt

        from llm_review_aggregation_spark.streaming import events as ev

        t0 = dt.datetime(2024, 1, 1, 0, 0, 0)

        def row(eid, user, minutes, value):
            return (eid, t0 + dt.timedelta(minutes=minutes), user, "click", value, "{}")

        rows = [
            # user 1: two sessions (gap 30 min): [0,5,10] and [120,125]
            row(1, 1, 0, 1.0), row(2, 1, 5, 2.0), row(3, 1, 10, 3.0),
            row(4, 1, 120, 4.0), row(5, 1, 125, 5.0),
            # user 2: one session [0, 20]
            row(6, 2, 0, 10.0), row(7, 2, 20, 20.0),
            # watermark driver: a much later event so earlier sessions close
            row(8, 3, 10000, 0.0),
        ]
        src = str(tmp_path / "sess_events")
        spark.createDataFrame(rows, ev.EVENTS_SCHEMA).write.parquet(src)
        stream = ev.read_event_stream(spark, src)
        sess = ev.sessionize(stream, gap_seconds=1800, watermark="10 minutes")
        ev.run_append_to_memory(sess, "sess_test", str(tmp_path / "ck"))
        got = {
            (r["user_id"], r["n_events"], round(r["value_sum"], 3))
            for r in spark.table("sess_test").collect()
        }
        # user 3's session stays open (nothing advances the watermark past it)
        assert got == {(1, 3, 6.0), (1, 2, 9.0), (2, 2, 30.0)}


class TestAudioFeatures:
    def test_audio_features_deterministic(self, spark):
        media = multimodal.synth_media(spark, n_images=2, n_videos=1, n_audio=4)
        feats = multimodal.extract_audio_features(media).orderBy("media_id").collect()
        assert [r["media_id"] for r in feats] == [2000, 2001, 2002, 2003]
        assert all(r["n_samples"] == 2048 for r in feats)  # 4 KiB PCM16 body
        assert all(r["rms"] > 0 for r in feats)
        again = multimodal.extract_audio_features(media).orderBy("media_id").collect()
        assert [tuple(r) for r in feats] == [tuple(r) for r in again]

    def test_stub_decoder_raises(self, spark):
        import pytest as _pytest

        media = multimodal.synth_media(spark, n_images=0, n_videos=0, n_audio=1)
        with _pytest.raises(Exception, match="NotImplementedError|real media codecs"):
            multimodal.extract_audio_features(media, decoder="stub").collect()
