"""Non-triviality checks for the LLM-pipeline operators: the oracle parity
test would also pass on trivially-empty outputs, so assert the synthesized
duplicates/neighbors are actually FOUND."""

from __future__ import annotations

from pyspark.sql import functions as F

from s4hanaconnector_spark.queries import load_all
from s4hanaconnector_spark.queries.llmops import docs_aug


def test_exact_dedup_finds_synthesized_copies(spark, sf_dir):
    reg = load_all()
    out = reg["dedup_exact"].fn(spark, sf_dir)
    dup_groups = out.filter(F.col("n_dups") > 1)
    assert dup_groups.count() > 0
    # canonical id is always the original (< 100000 offset)
    assert dup_groups.filter(F.col("canonical_id") >= 100000).count() == 0


def test_fingerprint_dedup_catches_case_variants(spark, sf_dir):
    reg = load_all()
    exact = reg["dedup_exact"].fn(spark, sf_dir).filter(F.col("n_dups") > 1).count()
    fp = reg["dedup_fingerprint"].fn(spark, sf_dir).filter(F.col("n_dups") > 1).count()
    assert fp > exact  # the upper() variants only fold under normalization


def test_minhash_recovers_near_duplicates(spark, sf_dir):
    """Every synthesized near-dup pair (original, original+300000) must be a
    MinHash candidate — they share almost all shingles."""
    reg = load_all()
    cands = reg["dedup_minhash_lsh"].fn(spark, sf_dir)
    near_ids = [
        r["doc_id"]
        for r in docs_aug(spark, sf_dir).filter(F.col("doc_id") >= 300000).collect()
    ]
    found = {
        (r["doc_a"], r["doc_b"])
        for r in cands.filter(F.col("doc_b") >= 300000).collect()
    }
    missing = [i for i in near_ids if (i - 300000, i) not in found]
    assert not missing, f"near-dup pairs missed by LSH: {missing[:5]}"


def test_jaccard_scores_near_dups_high(spark, sf_dir):
    reg = load_all()
    pairs = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in reg["dedup_jaccard"].fn(spark, sf_dir).collect()
    }
    near = {k: v for k, v in pairs.items() if k[1] == k[0] + 300000}
    assert near and min(near.values()) > 0.6


def test_simhash_near_dups_hamming_close(spark, sf_dir):
    reg = load_all()
    sh = {r["doc"]: r["simhash"] for r in reg["dedup_simhash"].fn(spark, sf_dir).collect()}
    ham = [
        sum(a != b for a, b in zip(sh[i], sh[i - 300000]))
        for i in sh
        if i >= 300000 and (i - 300000) in sh
    ]
    assert ham and max(ham) <= 4  # near-dups differ in at most 4 of 16 bits


def test_ivf_kmeans_production_path(spark, sf_dir):
    """VERDICT r3 #8: the production quantizer exists in code — sampled
    KMeans centroids (~sqrt(N) cells by default) drop into ivf_topk via the
    ``centroids`` parameter and deliver usable recall against the exact
    rung (the declared oracle keeps the deterministic prefix quantizer;
    this path is seeded-deterministic but not engine-portable)."""
    from s4hanaconnector_spark.operators.similarity import (
        brute_force_topk,
        ivf_topk,
        kmeans_centroids,
    )
    from pyspark.sql import functions as F

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = e.filter(F.col("vec_id") < 5).select(F.col("vec_id").alias("q_id"), "embedding")
    c = e.select(F.col("vec_id").alias("c_id"), "embedding")

    cents = kmeans_centroids(c, n_centroids=16, seed=7)
    assert cents.columns == ["cent_id", "embedding"] and cents.count() == 16

    iv = ivf_topk(q, c, k=10, n_probe=4, centroids=cents)
    rows = iv.collect()
    assert {r["q_id"] for r in rows} == {0, 1, 2, 3, 4}
    bf = {(r["q_id"], r["c_id"]) for r in brute_force_topk(q, c, k=10).collect()}
    hits = sum((r["q_id"], r["c_id"]) in bf for r in rows)
    assert hits * 100 >= len(bf) * 60, f"KMeans-IVF recall {hits}/{len(bf)} < 60%"

    # default sizing: ~sqrt(N) centroids
    auto = kmeans_centroids(c.limit(100), seed=7)
    assert auto.count() == 10


def test_similarity_topk_shape(spark, sf_dir):
    reg = load_all()
    out = reg["similarity_topk_bruteforce"].fn(spark, sf_dir).collect()
    by_q = {}
    for r in out:
        by_q.setdefault(r["q_id"], []).append(r)
    assert set(by_q) == {0, 1, 2, 3, 4}
    for q, rows in by_q.items():
        assert len(rows) == 10
        cosines = [r["cosine"] for r in sorted(rows, key=lambda r: r["rn"])]
        assert cosines == sorted(cosines, reverse=True)
        assert all(r["c_id"] != q for r in rows)


class TestRealPixelPath:
    """E22 decode_stub=False: genuine numpy pixel work through the same
    mapInPandas plumbing — codec round-trip, nearest-neighbor resize,
    band-frame extraction, pixel-statistics embeddings."""

    def test_codec_roundtrip_and_headerless_wrap(self):
        import numpy as np

        from s4hanaconnector_spark.operators import multimodal as M

        img = np.arange(4 * 6 * 3, dtype=np.uint8).reshape(4, 6, 3)
        assert (M.decode_rgb_grid(M.encode_rgb_grid(img)) == img).all()
        # headerless bytes wrap deterministically into a padded square
        wrapped = M.decode_rgb_grid(b"hello multimodal")
        assert wrapped.shape == (3, 3, 3)
        assert wrapped.tobytes().startswith(b"hello multimodal")

    def test_image_resize_real_pixels_end_to_end(self, spark):
        """A known 2x2 image resized to 4x4 through Spark must show exact
        nearest-neighbor pixel replication, decodable from the output
        payload — real pixels, not digests."""
        import numpy as np
        from pyspark.sql import Row

        from s4hanaconnector_spark.operators import multimodal as M

        img = np.array(
            [[[255, 0, 0], [0, 255, 0]], [[0, 0, 255], [7, 7, 7]]], dtype=np.uint8
        )
        df = spark.createDataFrame(
            [
                Row(
                    doc_id=1,
                    payload=bytearray(M.encode_rgb_grid(img)),
                    media_meta={"kind": "image", "n_bytes": img.nbytes, "source": "t"},
                )
            ],
            "doc_id bigint, payload binary, "
            "media_meta struct<kind:string, n_bytes:bigint, source:string>",
        )
        out = M.image_resize(df, 4, 4, decode_stub=False).collect()[0]
        resized = M.decode_rgb_grid(out["payload"])
        assert resized.shape == (4, 4, 3)
        # each source pixel becomes a 2x2 block
        expected = img.repeat(2, axis=0).repeat(2, axis=1)
        assert (resized == expected).all()
        assert out["media_meta"]["width"] == 4 and out["media_meta"]["height"] == 4
        assert out["media_meta"]["n_bytes"] == len(out["payload"])

    def test_frame_sample_real_bands_reassemble(self, spark):
        """decode_stub=False frames are horizontal bands of the decoded
        raster: stacking them in frame order reconstructs the image."""
        import numpy as np
        from pyspark.sql import Row

        from s4hanaconnector_spark.operators import multimodal as M

        img = np.arange(8 * 4 * 3, dtype=np.uint8).reshape(8, 4, 3)
        df = spark.createDataFrame(
            [Row(doc_id=1, payload=bytearray(M.encode_rgb_grid(img)))],
            "doc_id bigint, payload binary",
        )
        frames = sorted(
            M.frame_sample(df, every_ms=250, max_frames=4, decode_stub=False).collect(),
            key=lambda r: r["frame_no"],
        )
        assert [f["ts_ms"] for f in frames] == [0, 250, 500, 750]
        stacked = np.vstack([M.decode_rgb_grid(f["frame_payload"]) for f in frames])
        assert (stacked == img).all()

    def test_extract_features_and_embed_on_decoded_pixels(self, spark, sf_dir):
        """Real path over the documents fixture end-to-end: features report
        DECODED buffer sizes (3*side^2, not raw text length) and embeddings
        are unit-length channel statistics."""
        import numpy as np

        from s4hanaconnector_spark.operators import multimodal as M
        from s4hanaconnector_spark.queries.registry import t

        payload = M.attach_payload(
            t(spark, sf_dir, "documents").limit(10), "text", "doc_id"
        )
        feats = {r["doc_id"]: r for r in M.extract_features(payload, decode_stub=False).collect()}
        raw = {r["doc_id"]: len(bytes(r["payload"])) for r in payload.collect()}
        for doc_id, r in feats.items():
            side = M.decode_rgb_grid(b"\0" * raw[doc_id]).shape[0]
            assert r["n_bytes"] == side * side * 3
            assert r["feature_ok"]
        embs = M.embed_payload(payload, decode_stub=False).collect()
        assert all(len(r["embedding"]) == M.EMBED_DIM for r in embs)
        assert all(
            abs(float(np.linalg.norm(r["embedding"])) - 1.0) < 1e-3 for r in embs
        )


class TestMultimodalPlumbing:
    """E22: resize / frame-sample / embed run through real mapInPandas
    plumbing (schema, Arrow batches, fan-out) with stubbed decode."""

    def _payloads(self, spark, sf_dir):
        from s4hanaconnector_spark.operators.multimodal import attach_payload

        d = spark.read.parquet(f"{sf_dir}/documents.parquet").limit(20)
        return attach_payload(d, "text", "doc_id", kind="video")

    def test_image_resize_schema_and_meta(self, spark, sf_dir):
        from s4hanaconnector_spark.operators.multimodal import image_resize

        out = image_resize(self._payloads(spark, sf_dir), 224, 224)
        rows = out.collect()
        assert out.schema["media_meta"].dataType.fieldNames() == [
            "kind", "n_bytes", "width", "height",
        ]
        assert all(r["media_meta"]["width"] == 224 for r in rows)
        assert all(isinstance(r["payload"], (bytes, bytearray)) for r in rows)

    def test_frame_sample_fans_out_deterministically(self, spark, sf_dir):
        from s4hanaconnector_spark.operators.multimodal import frame_sample

        src = self._payloads(spark, sf_dir)
        out1 = frame_sample(src, every_ms=500).collect()
        out2 = frame_sample(src, every_ms=500).collect()
        assert len(out1) >= src.count()  # >= 1 frame per doc
        assert sorted(map(tuple, out1)) == sorted(map(tuple, out2))  # deterministic
        by_doc = {}
        for r in out1:
            by_doc.setdefault(r["doc_id"], []).append(r)
        for frames in by_doc.values():
            assert [f["frame_no"] for f in sorted(frames, key=lambda x: x["frame_no"])] == list(
                range(len(frames))
            )
            assert all(f["ts_ms"] == f["frame_no"] * 500 for f in frames)

    def test_embed_payload_feeds_similarity(self, spark, sf_dir):
        from s4hanaconnector_spark.operators.multimodal import EMBED_DIM, embed_payload
        from s4hanaconnector_spark.operators.similarity import brute_force_topk

        emb = embed_payload(self._payloads(spark, sf_dir))
        rows = emb.collect()
        assert all(len(r["embedding"]) == EMBED_DIM for r in rows)
        norms = [sum(x * x for x in r["embedding"]) for r in rows]
        assert all(abs(n - 1.0) < 1e-3 for n in norms)  # unit length
        # plugs straight into the similarity operator surface
        q = emb.limit(2).withColumnRenamed("doc_id", "q_id")
        c = emb.withColumnRenamed("doc_id", "c_id")
        topk = brute_force_topk(q, c, k=3)
        assert topk.count() == 2 * 3

    def test_no_shuffle_in_featurize(self, spark, sf_dir):
        from s4hanaconnector_spark.operators.multimodal import attach_payload, extract_features

        # no .limit() here: a global limit inserts its own single-partition
        # exchange and would mask what this asserts — that the featurize
        # pipeline itself is scan -> project -> mapInPandas with no shuffle
        d = spark.read.parquet(f"{sf_dir}/documents.parquet")
        plan = (
            extract_features(attach_payload(d, "text", "doc_id"))
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "Exchange" not in plan


class TestChunking:
    def test_chunks_reassemble_and_cover(self, spark):
        from s4hanaconnector_spark.operators.text import chunk_by_tokens

        df = spark.createDataFrame(
            [(1, " ".join(f"w{i}" for i in range(130))), (2, "a b"), (3, ""), (4, "   ")],
            "id long, text string",
        )
        out = chunk_by_tokens(df, "text", "id", chunk_size=64, keep_text=True).collect()
        by_doc = {}
        for r in out:
            by_doc.setdefault(r["id"], []).append(r)
        # 130 tokens -> 64 + 64 + 2
        sizes = [r["n_chunk_tokens"] for r in sorted(by_doc[1], key=lambda r: r["chunk_id"])]
        assert sizes == [64, 64, 2]
        # chunks reassemble to the original token stream
        joined = " ".join(r["chunk_text"] for r in sorted(by_doc[1], key=lambda r: r["chunk_id"]))
        assert joined == " ".join(f"w{i}" for i in range(130))
        assert [r["n_chunk_tokens"] for r in by_doc[2]] == [2]
        # empty/blank docs yield no rows (no sequence(0,-1) descent)
        assert 3 not in by_doc and 4 not in by_doc

    def test_chunking_no_shuffle(self, spark, sf_dir):
        from s4hanaconnector_spark.operators.text import chunk_by_tokens

        d = spark.read.parquet(f"{sf_dir}/documents.parquet")
        plan = (
            chunk_by_tokens(d, "text", "doc_id")
            ._jdf.queryExecution().executedPlan().toString()
        )
        assert "Exchange" not in plan


class TestVocab:
    def test_vocab_counts_and_idf(self, spark):
        from s4hanaconnector_spark.operators.text import vocab_stats

        df = spark.createDataFrame(
            [(1, "apple banana apple"), (2, "banana cherry"), (3, "banana")],
            "id long, text string",
        )
        rows = {r["tok"]: r for r in vocab_stats(df, "text", "id").collect()}
        assert rows["banana"]["doc_freq"] == 3 and rows["banana"]["total_freq"] == 3
        assert rows["apple"]["doc_freq"] == 1 and rows["apple"]["total_freq"] == 2
        assert rows["banana"]["idf"] == 0.0  # ln(3/3)
        import math

        assert abs(rows["cherry"]["idf"] - round(math.log(3.0), 6)) < 1e-9

    def test_min_doc_freq_filter(self, spark):
        from s4hanaconnector_spark.operators.text import vocab_stats

        df = spark.createDataFrame([(1, "x y"), (2, "x")], "id long, text string")
        toks = {r["tok"] for r in vocab_stats(df, "text", "id", min_doc_freq=2).collect()}
        assert toks == {"x"}


class TestQuantileDisc:
    def test_threshold_is_group_member_at_position(self, spark):
        from s4hanaconnector_spark.operators.relational import quantile_disc_per_group

        # group g: values 1..10 -> p50 = value at ceil(0.5*10)=5th = 5
        df = spark.createDataFrame(
            [("g", i, i) for i in range(1, 11)] + [("h", 7, 100)],
            "k string, v long, id long",
        )
        rows = {r["k"]: r["p50"] for r in
                quantile_disc_per_group(df, ["k"], "v", 0.5, "id").collect()}
        assert rows == {"g": 5, "h": 7}

    def test_outlier_filter_strictly_above(self, spark):
        from s4hanaconnector_spark.operators.relational import quantile_outlier_filter

        df = spark.createDataFrame(
            [("g", i, i) for i in range(1, 11)], "k string, v long, id long"
        )
        kept = sorted(
            r["v"] for r in quantile_outlier_filter(df, ["k"], "v", 0.5, "id").collect()
        )
        assert kept == [6, 7, 8, 9, 10]


class TestPii:
    def test_redacts_and_counts(self, spark):
        from s4hanaconnector_spark.operators.text import pii_counts, pii_redact
        from pyspark.sql import functions as F

        df = spark.createDataFrame(
            [(1, "mail a.b+c@x-y.org and 123-45-6789 ok"), (2, "clean text")],
            "id long, text string",
        )
        c = F.col("text")
        counts = pii_counts(c)
        rows = {
            r["id"]: r
            for r in df.select(
                "id",
                pii_redact(c).alias("red"),
                counts["n_emails"].alias("ne"),
                counts["n_number_ids"].alias("ni"),
            ).collect()
        }
        assert rows[1]["red"] == "mail <EMAIL> and <ID> ok"
        assert rows[1]["ne"] == 1 and rows[1]["ni"] == 1
        assert rows[2]["red"] == "clean text" and rows[2]["ne"] == 0


class TestEditDistanceRung:
    def test_confirms_synthesized_near_dups(self, spark, sf_dir):
        from s4hanaconnector_spark.operators.dedup import edit_distance_pairs

        out = edit_distance_pairs(docs_aug(spark, sf_dir), "text", "doc_id").collect()
        assert out, "LSH survivors must exist"
        # exact copies (+200000) and case variants (+100000) normalize
        # identically -> lev == 0; near-dups (+300000) small but nonzero
        by_pair = {(r["doc_a"], r["doc_b"]): r for r in out}
        zero = [p for p, r in by_pair.items() if r["lev"] == 0]
        near = [p for p, r in by_pair.items() if 0 < r["rel_dist"] <= 0.5]
        assert zero and near
        assert all(r["rel_dist"] <= 0.5 for r in by_pair.values())


class TestDecontamination:
    def test_flags_overlapping_train_docs(self, spark, sf_dir):
        from s4hanaconnector_spark.operators.dedup import cross_corpus_contamination
        from s4hanaconnector_spark.queries.registry import t as load

        d = load(spark, sf_dir, "documents")
        ev = d.filter(F.col("doc_id") < 100)
        tr = d.filter(F.col("doc_id") >= 100)
        out = cross_corpus_contamination(tr, ev, "text", "doc_id")
        rows = out.collect()
        assert rows  # fixture vocabulary guarantees 3-gram collisions
        assert all(r["train_id"] >= 100 and r["n_evals_hit"] >= 1 for r in rows)


class TestRepetition:
    def test_detects_repeated_bigrams(self, spark):
        from s4hanaconnector_spark.operators.text import repetition_stats

        df = spark.createDataFrame(
            [(1, "a b a b a b"), (2, "x y z w"), (3, "solo")],
            "id long, text string",
        )
        rows = {r["id"]: r for r in repetition_stats(df, "text", "id").collect()}
        # doc 1 bigrams: [a b, b a, a b, b a, a b] -> top 'a b' 3/5
        assert rows[1]["top_ngram_frac"] == 0.6
        assert rows[1]["dup_ngram_frac"] == round(1 - 2 / 5, 6)
        assert rows[2]["top_ngram_frac"] == round(1 / 3, 6)
        assert rows[2]["dup_ngram_frac"] == 0.0
        assert 3 not in rows  # < n tokens -> no n-grams


def test_rrf_fusion_missing_membership_contributes_zero(spark):
    """A doc in only one list scores exactly its single 1/(k+rank) term."""
    from pyspark.sql import Row

    from s4hanaconnector_spark.operators.text import rrf_fuse

    a = spark.createDataFrame([Row(id=1, rank=1), Row(id=2, rank=2)], "id bigint, rank bigint")
    b = spark.createDataFrame([Row(id=2, rank=1), Row(id=3, rank=2)], "id bigint, rank bigint")
    out = {r["id"]: r for r in rrf_fuse(a, b, "id", k=60).collect()}
    assert out[1]["rank_b"] is None
    assert abs(out[1]["rrf_score"] - 1 / 61) < 1e-9
    assert abs(out[2]["rrf_score"] - (1 / 62 + 1 / 61)) < 1e-9
    assert out[3]["rank_a"] is None and abs(out[3]["rrf_score"] - 1 / 62) < 1e-9


def test_pack_sequences_budget_boundaries(spark):
    """A new sequence starts exactly when preceding chunks fill the budget;
    ordering and shards are respected."""
    from pyspark.sql import Row

    from s4hanaconnector_spark.operators.text import pack_sequences

    rows = [Row(shard=0, doc=1, chunk=i, tok=64) for i in range(5)] + [
        Row(shard=1, doc=2, chunk=0, tok=100)
    ]
    df = spark.createDataFrame(rows, "shard int, doc bigint, chunk int, tok int")
    out = pack_sequences(df, "tok", ["doc", "chunk"], budget=128, shard_col="shard")
    got = {(r["shard"], r["doc"], r["chunk"]): r["seq_id"] for r in out.collect()}
    # shard 0: chunks of 64 tokens -> two per 128-token sequence
    assert [got[(0, 1, i)] for i in range(5)] == [0, 0, 1, 1, 2]
    # shard 1 packs independently from seq 0
    assert got[(1, 2, 0)] == 0


def test_similarity_topk_auto_plans_by_size(spark, sf_dir):
    """SURVEY §7 optional planner: auto strategy must pick the exact
    broadcast rung for a small corpus (identical rows to brute_force_topk)
    and the IVF rung beyond the threshold (plan shows the cell join, not a
    cartesian product)."""
    from pyspark.sql import functions as F

    from s4hanaconnector_spark.catalog import load_table
    from s4hanaconnector_spark.operators.similarity import brute_force_topk, topk

    emb = load_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    c = emb.select(F.col("vec_id").alias("c_id"), "embedding")

    small = topk(q, c, k=5, strategy="auto")
    exact = brute_force_topk(q, c, k=5)
    assert sorted(map(tuple, small.collect())) == sorted(map(tuple, exact.collect()))

    ivf = topk(q, c, k=5, strategy="auto", brute_force_max_rows=10)
    plan = ivf._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    # IVF output is rank-bounded per query like the exact rung
    rows = ivf.collect()
    assert rows and all(r["rn"] <= 5 for r in rows)


def test_topk_auto_estimate_paths(spark, sf_dir):
    """Pin both estimate paths of the auto planner (r6 VERDICT wrong #3):
    a parquet-backed plan is sized from footer statistics (exact for a bare
    scan, an UPPER bound above filters — the safe direction), and a
    non-file plan falls back to the bounded limit probe."""
    import os

    from pyspark.sql import functions as F

    from s4hanaconnector_spark.operators.similarity import _estimate_corpus_rows

    emb = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    exact = emb.count()
    # bare scan: footer stats are exact
    assert _estimate_corpus_rows(emb, bound=10**6) == exact
    # filter above the scan: still the footer total (upper bound >= actual)
    filtered = emb.filter(F.col("vec_id") % 2 == 0)
    est = _estimate_corpus_rows(filtered, bound=10**6)
    assert est == exact and est >= filtered.count()
    # early exit once past the bound: never reads more footers than needed
    assert _estimate_corpus_rows(emb, bound=1) >= 2
    # non-file plan: limit probe, capped at bound+1
    mem = spark.range(500).select(F.col("id").alias("c_id"))
    assert _estimate_corpus_rows(mem, bound=100) == 101
    assert _estimate_corpus_rows(mem, bound=10**6) == 500


class TestIncrementalDedup:
    def test_statuses_and_canonicals(self, spark):
        from s4hanaconnector_spark.operators.dedup import incremental_dedup

        corpus = spark.createDataFrame(
            [(1, "Alpha beta."), (2, "gamma delta"), (3, "alpha BETA")],
            "doc_id bigint, text string",
        )
        batch = spark.createDataFrame(
            [
                (10, "ALPHA beta"),   # dup of corpus (normalized; canonical=1 not 3)
                (11, "epsilon zeta"), # new, twin below
                (12, "epsilon zeta"), # dup in batch
                (13, "unique eta"),   # new
            ],
            "doc_id bigint, text string",
        )
        rows = {
            r["batch_id"]: (r["status"], r["canonical_id"])
            for r in incremental_dedup(corpus, batch, "text", "doc_id").collect()
        }
        assert rows == {
            10: ("dup_of_corpus", 1),
            11: ("new", 11),
            12: ("dup_in_batch", 11),
            13: ("new", 13),
        }

    def test_corpus_wins_over_batch_twin(self, spark):
        from s4hanaconnector_spark.operators.dedup import incremental_dedup

        corpus = spark.createDataFrame([(5, "same text")], "doc_id bigint, text string")
        batch = spark.createDataFrame(
            [(20, "same text"), (21, "same text")], "doc_id bigint, text string"
        )
        rows = {
            r["batch_id"]: (r["status"], r["canonical_id"])
            for r in incremental_dedup(corpus, batch, "text", "doc_id").collect()
        }
        # both batch copies defer to the corpus canonical, not to each other
        assert rows == {20: ("dup_of_corpus", 5), 21: ("dup_of_corpus", 5)}


class TestInt8Quantization:
    def test_quantize_range_and_zero_guard(self, spark):
        from pyspark.sql import functions as F

        from s4hanaconnector_spark.operators.similarity import quantize_int8

        df = spark.createDataFrame(
            [(1, [0.5, -1.0, 0.25]), (2, [0.0, 0.0, 0.0])],
            "id bigint, embedding array<float>",
        )
        out = {
            r["id"]: r["q"]
            for r in df.select("id", quantize_int8(F.col("embedding")).alias("q")).collect()
        }
        assert out[1] == [64, -127, 32]   # round(127*0.5/1)=64 (HALF_UP), .25->31.75->32
        assert out[2] == [0, 0, 0]        # zero vector: guarded, no NULL/NaN

    def test_scale_cancels_in_cosine_top1(self, spark):
        # the quantized top-1 for an axis-aligned query is the same corpus
        # vector the exact rung picks — per-vector scale never reorders an
        # unambiguous frontier
        from s4hanaconnector_spark.operators.similarity import (
            brute_force_topk,
            quantized_topk,
        )

        q = spark.createDataFrame(
            [(100, [1.0, 0.0, 0.0, 0.0])], "q_id bigint, embedding array<float>"
        )
        c = spark.createDataFrame(
            [
                (1, [0.9, 0.1, 0.0, 0.0]),
                (2, [0.0, 1.0, 0.0, 0.0]),
                (3, [0.4, 0.4, 0.4, 0.4]),
            ],
            "c_id bigint, embedding array<float>",
        )
        exact = brute_force_topk(q, c, k=1).collect()[0]["c_id"]
        quant = quantized_topk(q, c, k=1).collect()[0]["c_id"]
        assert exact == quant == 1


class TestClusterSafeSplit:
    def test_no_cluster_straddles_splits(self, spark, sf_dir):
        from pyspark.sql import functions as F

        from s4hanaconnector_spark.queries import load_all

        df = load_all()["split_leakage_free"].fn(spark, sf_dir)
        straddlers = (
            df.groupBy("canonical_id")
            .agg(F.count_distinct("split").alias("n"))
            .filter(F.col("n") > 1)
            .count()
        )
        assert straddlers == 0

    def test_near_dup_pair_lands_together(self, spark):
        from s4hanaconnector_spark.operators.sampling import cluster_safe_split

        df = spark.createDataFrame(
            [(i, i % 5) for i in range(50)], "doc_id bigint, canonical_id bigint"
        )
        out = cluster_safe_split(df, "canonical_id", {"train": 0.8, "val": 0.1, "test": 0.1})
        per_cluster = {
            r["canonical_id"]: r["n"]
            for r in out.groupBy("canonical_id")
            .agg(F.count_distinct("split").alias("n"))
            .collect()
        }
        assert all(n == 1 for n in per_cluster.values())


class TestNullPayloads:
    """A NULL payload (text NULL -> encode NULL) must degrade to a marked
    row / zero fan-out rows / NULL embedding — never crash the Spark task
    with len(None)/bytes(None)."""

    def _df(self, spark):
        from s4hanaconnector_spark.operators.multimodal import attach_payload

        base = spark.createDataFrame(
            [(1, "hello world", "s"), (2, None, "s")],
            "doc_id bigint, text string, source string",
        )
        return attach_payload(base, "text", "doc_id")

    def test_featurize_marks_null(self, spark):
        from s4hanaconnector_spark.operators.multimodal import extract_features

        for stub in (True, False):
            rows = {r["doc_id"]: r for r in extract_features(self._df(spark), stub).collect()}
            assert rows[1]["feature_ok"] is True
            assert rows[2]["feature_ok"] is False and rows[2]["md5_prefix"] is None

    def test_resize_propagates_null(self, spark):
        from s4hanaconnector_spark.operators.multimodal import image_resize

        for stub in (True, False):
            rows = {r["doc_id"]: r for r in image_resize(self._df(spark), 4, 4, stub).collect()}
            assert rows[1]["payload"] is not None
            assert rows[2]["payload"] is None

    def test_frames_skip_null(self, spark):
        from s4hanaconnector_spark.operators.multimodal import frame_sample

        for stub in (True, False):
            ids = {r["doc_id"] for r in frame_sample(self._df(spark), decode_stub=stub).collect()}
            assert ids == {1}

    def test_embed_null(self, spark):
        from s4hanaconnector_spark.operators.multimodal import embed_payload

        for stub in (True, False):
            rows = {r["doc_id"]: r for r in embed_payload(self._df(spark), stub).collect()}
            assert rows[1]["embedding"] is not None
            assert rows[2]["embedding"] is None


def test_quantile_float_edges(spark):
    """IEEE edges of the positional quantile: 0.07*100 is 7.000...001 in
    doubles (ceil would hit position 8, one off the mathematical spec) and
    int(0.29*100) == 28 (the label would lie). The epsilon guard and
    round() label pin both."""
    from s4hanaconnector_spark.operators.relational import quantile_disc_per_group

    df = spark.createDataFrame(
        [("g", i, i) for i in range(1, 101)], "k string, v int, id int"
    )
    rows = quantile_disc_per_group(df, ["k"], "v", 0.07, "id").collect()
    assert rows[0]["p7"] == 7  # position ceil(0.07*100) == 7, column named p7
    rows = quantile_disc_per_group(df, ["k"], "v", 0.29, "id").collect()
    assert rows[0]["p29"] == 29


def test_pq_trained_codebooks_production_path(spark, sf_dir):
    """The production PQ codebook path exists in code — per-subspace KMeans
    (Jégou et al. TPAMI'11) on a seeded sample drops into pq_rerank_topk
    via the ``codebooks`` parameter and delivers usable recall against the
    exact rung (the declared oracle keeps the deterministic prefix
    codebooks; this path is seeded-deterministic but not engine-portable)."""
    from pyspark.sql import functions as F

    from s4hanaconnector_spark.operators.similarity import (
        brute_force_topk,
        pq_rerank_topk,
        pq_subspace_codebooks,
    )

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = e.filter(F.col("vec_id") < 5).select(F.col("vec_id").alias("q_id"), "embedding")
    c = e.select(F.col("vec_id").alias("c_id"), "embedding")

    cbs = pq_subspace_codebooks(c, m=16, n_codes=16, trained=True, seed=7)
    assert len(cbs) == 16 and all(len(book) == 16 for book in cbs)
    assert all(len(cw) == 4 for book in cbs for cw in book)  # 64 dims / 16

    out = pq_rerank_topk(q, c, k=10, rerank=30, codebooks=cbs)
    rows = out.collect()
    assert {r["q_id"] for r in rows} == {0, 1, 2, 3, 4}
    bf = {(r["q_id"], r["c_id"]) for r in brute_force_topk(q, c, k=10).collect()}
    hits = sum((r["q_id"], r["c_id"]) in bf for r in rows)
    # measured 37/50 at seed=7 (39/50 at seed=42); the floor leaves slack
    # for spark.ml KMeans implementation drift without letting the path rot
    assert hits * 100 >= len(bf) * 60, f"trained-PQ recall {hits}/{len(bf)} < 60%"


def test_semdedup_contracts_planted_pairs(spark, sf_dir):
    """SemDeDup rung non-triviality: the planted affine copies (+100000)
    must contract onto lower ids (their source, cell permitting), never
    upward; a fraction straddling Voronoi boundaries is the documented
    recall trade, not a failure."""
    reg = load_all()
    out = reg["dedup_semdedup"].fn(spark, sf_dir)
    contracted = out.filter(F.col("vec_id") != F.col("canonical_id"))
    n = contracted.count()
    assert n > 0
    assert contracted.filter(F.col("canonical_id") >= F.col("vec_id")).count() == 0
    # most planted copies must actually be caught (>= half survives the
    # boundary-straddle loss on every fixture tier)
    planted = out.filter(F.col("vec_id") >= 100000).count()
    caught = out.filter(
        (F.col("vec_id") >= 100000) & (F.col("canonical_id") < 100000)
    ).count()
    assert caught * 2 >= planted, (caught, planted)


def test_semantic_dedup_cells_and_cap(spark):
    """Unit contract on a hand-built frame: same-cell near pairs contract
    onto the lowest id, cross-cell pairs never meet, and max_cell drops
    oversized cells BEFORE pairing (capped rows keep themselves)."""
    from s4hanaconnector_spark.operators.dedup import semantic_dedup

    df = spark.createDataFrame(
        [
            (1, [1.0, 0.0]),
            (2, [1.0, 0.001]),
            (3, [0.0, 1.0]),
            (4, [0.001, 1.0]),
        ],
        "id bigint, v array<double>",
    )
    cents = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])], "cent_id bigint, v array<double>"
    )
    got = {
        r["id"]: r["canonical_id"]
        for r in semantic_dedup(
            df, "id", vec="v", threshold=0.99, centroids=cents
        ).collect()
    }
    assert got == {1: 1, 2: 1, 3: 3, 4: 3}
    capped = {
        r["id"]: r["canonical_id"]
        for r in semantic_dedup(
            df, "id", vec="v", threshold=0.99, centroids=cents, max_cell=1
        ).collect()
    }
    assert capped == {1: 1, 2: 2, 3: 3, 4: 4}


def test_incremental_semantic_statuses(spark, sf_dir):
    """All three classifications must be exercised by the declared fixture
    batch, and canonical ids must obey the contract: corpus hits point
    below 100000, in-batch hits point at a LOWER batch id."""
    reg = load_all()
    out = reg["dedup_semantic_incremental"].fn(spark, sf_dir)
    rows = out.collect()
    statuses = {r["status"] for r in rows}
    assert statuses == {"dup_of_corpus", "dup_in_batch", "new"}
    for r in rows:
        if r["status"] == "dup_of_corpus":
            assert r["canonical_id"] < 100000, r
        elif r["status"] == "dup_in_batch":
            assert 100000 <= r["canonical_id"] < r["batch_id"], r
        else:
            assert r["canonical_id"] == r["batch_id"], r


def test_incremental_semantic_unit(spark):
    """Hand-built corpus/batch: one corpus near-dup, one new direction, one
    in-batch near-dup of that new direction."""
    from s4hanaconnector_spark.operators.dedup import incremental_semantic_dedup

    corpus = spark.createDataFrame([(10, [1.0, 0.0])], "id bigint, v array<double>")
    batch = spark.createDataFrame(
        [(20, [1.0, 0.0005]), (21, [0.0, 1.0]), (22, [0.0005, 1.0])],
        "id bigint, v array<double>",
    )
    cents = spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])], "cent_id bigint, v array<double>"
    )
    got = {
        r["batch_id"]: (r["status"], r["canonical_id"])
        for r in incremental_semantic_dedup(
            corpus, batch, "id", vec="v", threshold=0.99, centroids=cents
        ).collect()
    }
    assert got == {
        20: ("dup_of_corpus", 10),
        21: ("new", 21),
        22: ("dup_in_batch", 21),
    }


def test_ivf_pq_degenerates_to_brute_force(spark, sf_dir):
    """Composition sanity: probing EVERY cell with a corpus-sized rerank
    must reproduce the exact brute-force top-k bit for bit — the IVF prune
    and the PQ shortlist are then both no-ops, so any divergence is a bug
    in candidate routing, not approximation."""
    from s4hanaconnector_spark.operators.similarity import (
        brute_force_topk,
        ivf_pq_topk,
    )

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet").filter(
        F.col("vec_id") < 60
    )
    q = e.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    c = e.select(F.col("vec_id").alias("c_id"), "embedding")
    exact = {tuple(r) for r in brute_force_topk(q, c, k=10).collect()}
    composed = {
        tuple(r)
        for r in ivf_pq_topk(
            q, c, k=10, n_centroids=8, n_probe=8, m=8, n_codes=16, rerank=60
        ).collect()
    }
    assert composed == exact


def test_substring_winnow_guarantee_and_case_sensitivity(spark, sf_dir):
    """Winnowing contract on the planted fixture: verbatim copies
    (+200000) must score coverage 1.0 (every selected fingerprint is
    shared with the source), suffix-extended copies (+300000) must stay
    high (the whole original is a shared substring), and CASE-changed
    copies (+100000) must stay LOW — raw-char substrings are exactly what
    case edits destroy, which is the fingerprint rung's job to catch."""
    reg = load_all()
    out = reg["dedup_substring_winnow"].fn(spark, sf_dir).toPandas()
    exact = out[(out.doc >= 200000) & (out.doc < 300000)]
    near = out[out.doc >= 300000]
    cased = out[(out.doc >= 100000) & (out.doc < 200000)]
    assert len(exact) and len(near) and len(cased)
    assert exact.coverage.min() == 1.0
    # the winnowing guarantee is >= 1 shared fingerprint (the original is a
    # >= 31-char shared substring); the absolute fraction depends on doc
    # length (a 48-char doc + 20-char tail dilutes fast), so the gate is
    # non-zero everywhere plus a clear separation from the case-changed
    # copies, whose raw substrings are destroyed by construction
    assert near.coverage.min() > 0.0
    assert near.coverage.mean() > cased.coverage.mean()
    assert cased.coverage.mean() < 0.5


def test_winnowed_fingerprints_span_guarantee_unit(spark):
    """The selection guarantee made executable: two docs sharing a raw
    substring of length >= k + w - 1 MUST share a winnowed fingerprint;
    two docs with no common k-char substring must share none."""
    from s4hanaconnector_spark.operators.dedup import winnowed_fingerprints

    shared = "The quick brown fox jumps over the lazy dog today"  # 50 chars
    df = spark.createDataFrame(
        [
            (1, "AAA " + shared + " BBB"),
            (2, "CCCCC " + shared + " DDDDD"),
            (3, "entirely different content with no overlap at all x"),
        ],
        "id bigint, text string",
    )
    fps = winnowed_fingerprints(df, "text", "id", k=24, w=8)
    rows = fps.collect()
    by_doc = {}
    for r in rows:
        by_doc.setdefault(r["doc"], set()).add(r["fp"])
    assert by_doc[1] & by_doc[2], "span guarantee violated"
    assert not (by_doc[1] & by_doc[3])
    assert not (by_doc[2] & by_doc[3])


def test_persisted_index_probe_equals_inline_rung(spark, sf_dir):
    """Build-to-disk + probe must reproduce the inline ivf_pq_topk rows BIT
    FOR BIT on the same corpus — same quantizer, codebooks, ADC and rerank;
    the only difference is that the index lives as cell-partitioned parquet
    and the probe prunes to the probed cells' files."""
    import tempfile

    from s4hanaconnector_spark.operators.similarity import (
        build_ann_index,
        ivf_pq_topk,
        probe_ann_index,
    )

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    c = e.select(F.col("vec_id").alias("c_id"), "embedding")
    inline = {
        tuple(r)
        for r in ivf_pq_topk(
            q, c, k=10, n_centroids=16, n_probe=4, m=16, n_codes=32, rerank=100
        ).collect()
    }
    path = tempfile.mkdtemp(prefix="ann_index_test_")
    build_ann_index(c, path, n_centroids=16, m=16, n_codes=32)
    probed = {
        tuple(r)
        for r in probe_ann_index(
            spark, path, q, k=10, n_probe=4, rerank=100
        ).collect()
    }
    assert probed == inline


def test_winnowing_guarantee_randomized(spark):
    """Randomized sweep of the winnowing guarantee: 40 seeded doc pairs,
    each sharing one random substring of length >= k + w - 1 (= 31 at
    k=24/w=8) embedded at independent random offsets inside otherwise
    disjoint alphabets, must EACH share a winnowed fingerprint — the
    guarantee is offset-independent, which positional shingle sampling
    (stride > 1) cannot offer and is exactly why winnowing is the
    published selection rule. One Spark job covers all cases."""
    import random
    import string

    from s4hanaconnector_spark.operators.dedup import winnowed_fingerprints

    rng = random.Random(42)
    rows = []
    for case in range(40):
        span = "".join(
            rng.choice(string.ascii_lowercase) for _ in range(rng.randint(31, 80))
        )
        # disjoint alphabets around the span: uppercase noise can never
        # form a shared 24-gram with the lowercase span or digit noise
        a = (
            "".join(rng.choice(string.ascii_uppercase) for _ in range(rng.randint(0, 50)))
            + span
            + "".join(rng.choice(string.ascii_uppercase) for _ in range(rng.randint(0, 50)))
        )
        b = (
            "".join(rng.choice(string.digits) for _ in range(rng.randint(0, 50)))
            + span
            + "".join(rng.choice(string.digits) for _ in range(rng.randint(0, 50)))
        )
        rows.append((2 * case, a))
        rows.append((2 * case + 1, b))
    df = spark.createDataFrame(rows, "id bigint, text string")
    fps = winnowed_fingerprints(df, "text", "id", k=24, w=8).collect()
    by_doc = {}
    for r in fps:
        by_doc.setdefault(r["doc"], set()).add(r["fp"])
    violations = [
        c for c in range(40) if not (by_doc[2 * c] & by_doc[2 * c + 1])
    ]
    assert not violations, f"span guarantee violated for cases {violations[:5]}"


def test_winnowing_sparse_table_matches_naive_slice(spark):
    """The r12 sparse-table window-min rewrite must reproduce the naive
    slice+array_min formulation EXACTLY — the declared oracle replays that
    selection bit for bit. Torture fixture: all-equal hashes (ties in
    every window), docs below/at/around every length boundary (k-1, k,
    n_pos = w-1 / w), null text, and w values on and off powers of two
    (both the p == w fast path and the overlapped-combine tail)."""
    from s4hanaconnector_spark.operators.dedup import winnowed_fingerprints

    def naive(df, text_col, id_col, k, w):
        txt = F.col(text_col)
        n_pos = F.greatest(F.length(txt) - F.lit(k - 1), F.lit(1))
        hashes = F.transform(
            F.sequence(F.lit(1), n_pos),
            lambda i: F.md5(txt.substr(i, F.lit(k))),
        )
        hashed = df.select(F.col(id_col).alias("doc"), hashes.alias("__hs"))
        n_win = F.greatest(F.size(F.col("__hs")) - F.lit(w - 1), F.lit(1))
        wins = F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), n_win),
                lambda j: F.array_min(F.slice(F.col("__hs"), j, w)),
            )
        )
        return hashed.select("doc", F.explode(wins).alias("fp"))

    rows = [
        (1, "a" * 100),  # every hash equal: ties in every window
        (2, "short"),  # < k chars
        (3, "x" * 23),  # exactly k - 1
        (4, "x" * 24),  # exactly k -> a single position
        (5, "y" * 31),  # n_pos == 8
        (6, "y" * 30),  # n_pos == 7
        (7, None),  # null text
        (8, "the quick brown fox jumps over the lazy dog " * 30),
        (9, "abcdefghij" * 120),
    ]
    df = spark.createDataFrame(rows, "id bigint, text string")
    for w in (8, 7, 5, 2, 1):
        got = sorted(map(tuple, winnowed_fingerprints(df, "text", "id", k=24, w=w).collect()))
        want = sorted(map(tuple, naive(df, "text", "id", 24, w).collect()))
        assert got == want, f"sparse-table winnowing diverged at w={w}"


def _coverage_fixture(spark):
    base = "the quick brown fox jumps over the lazy dog and runs far away "
    rows = [
        (1, base * 4),
        (2, base * 4),  # verbatim copy of 1
        (3, base * 4 + "with a unique suffix tail nobody else shares here"),
        (4, "entirely different text about winnowing sparse tables and md5"),
        (5, None),  # null text
        (6, "short"),
    ]
    return spark.createDataFrame(rows, "id bigint, text string")


def test_coverage_window_count_matches_join_back(spark):
    """The r12 df_count rewrite (groupBy(key) + join-back -> count window
    over the key partitioning) must reproduce the old formulation EXACTLY
    for both coverage operators, and the new plan must evaluate the
    expensive explode subtree ONCE: no join node, a single Generate."""
    from s4hanaconnector_spark.operators.dedup import (
        ngram_coverage,
        shingle_table,
        substring_duplication,
        winnowed_fingerprints,
    )

    df = _coverage_fixture(spark)

    def join_back(rows_df, key, min_df):
        counts = rows_df.groupBy(key).agg(F.count(F.lit(1)).alias("df_count"))
        return (
            rows_df.join(counts, on=key)
            .groupBy("doc")
            .agg(
                F.count(F.lit(1)).alias("total"),
                F.sum(F.when(F.col("df_count") >= min_df, 1).otherwise(0))
                .cast("bigint")
                .alias("dup"),
            )
            .withColumn("coverage", F.col("dup").cast("double") / F.col("total"))
        )

    for op, rows_fn, key in (
        (ngram_coverage, lambda d: shingle_table(d, "text", "id"), "shingle"),
        (
            substring_duplication,
            lambda d: winnowed_fingerprints(d, "text", "id"),
            "fp",
        ),
    ):
        got = sorted(map(tuple, op(df, "text", "id").collect()))
        want = sorted(map(tuple, join_back(rows_fn(df), key, 2).collect()))
        assert got == want, f"{op.__name__} window df_count diverged"
        plan = op(df, "text", "id")._jdf.queryExecution().executedPlan().toString()
        assert "Join" not in plan, f"{op.__name__} still joins back"
        assert plan.count("Generate") == 1, (
            f"{op.__name__} evaluates the explode subtree more than once"
        )


def test_minhash_single_signature_pass(spark):
    """The r12 bucket-collect pairing (groupBy(band, sig) + row-local pair
    explode) must reproduce the historical capped self-join EXACTLY, and
    the new plan must evaluate the tokenize->md5 signature subtree once:
    no Join node, and exactly two Generates (the band explode + the pair
    explode) instead of the join shape's two band explodes + join."""
    from pyspark.sql import Window as W

    from s4hanaconnector_spark.operators.dedup import (
        band_signatures,
        minhash_lsh_candidates,
    )

    df = _coverage_fixture(spark)
    got = sorted(map(tuple, minhash_lsh_candidates(df, "text", "id").collect()))

    # the pre-r12 formulation, inline: same cap window, no checkpoint
    sigs = band_signatures(df, "text", "id", 3)
    sigs = (
        sigs.withColumn(
            "__bucket_n", F.count(F.lit(1)).over(W.partitionBy("band", "sig"))
        )
        .filter(F.col("__bucket_n") <= 64)
        .drop("__bucket_n")
    )
    a, b = sigs.alias("a"), sigs.alias("b")
    want = sorted(
        map(
            tuple,
            a.join(
                b,
                (F.col("a.band") == F.col("b.band"))
                & (F.col("a.sig") == F.col("b.sig")),
            )
            .filter(F.col("a.doc") < F.col("b.doc"))
            .groupBy(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
            .agg(F.count(F.lit(1)).alias("n_shared_bands"))
            .collect(),
        )
    )
    assert got == want, "bucket-collect minhash diverged from the self-join shape"
    plan = (
        minhash_lsh_candidates(df, "text", "id")
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Join" not in plan, "capped minhash pairing still self-joins"
    assert plan.count("Generate") == 2, (
        "expected exactly one band explode + one pair explode (signature "
        f"subtree evaluated once); got {plan.count('Generate')} Generates"
    )


def test_jaccard_bucket_pairing_matches_self_join(spark):
    """The r12 capped jaccard_pairs (bucket-collect pairing + exploded
    sizes) must reproduce the historical semi-join-cap + shingle-self-join
    shape EXACTLY — including the df-cap boundary, ties at the threshold,
    null text, and single-shingle docs — and its plan must not contain the
    shingle self-join. The uncapped path must still self-join (hot buckets
    must not fold into one row without a cap)."""
    from s4hanaconnector_spark.operators.dedup import jaccard_pairs, shingle_table

    # the coverage fixture plus a twin of doc 4: its shingles form
    # exactly-2-doc buckets that SURVIVE df_cap=2 while the 3-way
    # boilerplate buckets of docs 1/2/3 are dropped by it
    df = _coverage_fixture(spark).unionAll(
        spark.createDataFrame(
            [(7, "entirely different text about winnowing sparse tables and md5")],
            "id bigint, text string",
        )
    )

    def old_shape(d, threshold, df_cap):
        sh = shingle_table(d, "text", "id", 3)
        freq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
        sh = sh.join(
            freq.filter(F.col("df") <= df_cap).select("shingle"), "shingle", "semi"
        )
        sizes = sh.groupBy("doc").agg(F.count(F.lit(1)).alias("sz"))
        a, b = sh.alias("a"), sh.alias("b")
        inter = (
            a.join(b, "shingle")
            .filter(F.col("a.doc") < F.col("b.doc"))
            .groupBy(F.col("a.doc").alias("doc_a"), F.col("b.doc").alias("doc_b"))
            .agg(F.count(F.lit(1)).alias("inter"))
        )
        return (
            inter.join(sizes.withColumnsRenamed({"doc": "doc_a", "sz": "sz_a"}), "doc_a")
            .join(sizes.withColumnsRenamed({"doc": "doc_b", "sz": "sz_b"}), "doc_b")
            .select(
                "doc_a",
                "doc_b",
                (
                    F.col("inter").cast("double")
                    / (F.col("sz_a") + F.col("sz_b") - F.col("inter"))
                ).alias("jaccard"),
            )
            .filter(F.col("jaccard") >= threshold)
        )

    # df_cap=2 exercises the cap boundary on the fixture (docs 1/2/3 share
    # shingles 3 ways -> those buckets are dropped at cap 2, kept at 128)
    for threshold, cap in ((0.0, 128), (0.5, 128), (0.0, 2)):
        got = sorted(
            map(tuple, jaccard_pairs(df, "text", "id", threshold=threshold,
                                     df_cap=cap).collect())
        )
        want = sorted(map(tuple, old_shape(df, threshold, cap).collect()))
        assert got == want, f"bucket jaccard diverged at t={threshold} cap={cap}"
        assert got, f"fixture produced no pairs at t={threshold} cap={cap}"

    plan = (
        jaccard_pairs(df, "text", "id", df_cap=128)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # the sizes re-attachment joins (on doc_a/doc_b) are part of BOTH
    # shapes; the rewrite's claim is that no join keyed on the SHINGLE
    # remains (self-join and cap semi-join gone) and the pair/size legs
    # explode from the bucket rows instead
    assert "Join [shingle" not in plan, "capped jaccard still joins on shingle"
    assert plan.count("Generate") >= 3
    uncapped = (
        jaccard_pairs(df, "text", "id", df_cap=None)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Join [shingle" in uncapped, "uncapped path must keep the self-join"


def test_retrieval_single_explode_matches_join_back(spark):
    """The r12 retrieval rewrites (tfidf: df via count window over the tf
    table; bm25: dl via size(token array) + df window; pmi: tot_u from
    array sizes) must reproduce the historical multi-evaluation shapes
    EXACTLY — float-for-float, including docs with no hits, null text,
    empty-after-tokenize text, and repeated query terms — and the new
    plans must evaluate the token explode once (tfidf/bm25) or twice
    (pmi's unigram + bigram legs)."""
    from s4hanaconnector_spark.operators.text import (
        bm25_search,
        pmi_collocations,
        tfidf_search,
        tokens,
    )

    rows = [
        (1, "spark shuffle broadcast spark spark shuffle join"),
        (2, "broadcast join exchange partition spark"),
        (3, "nothing relevant here at all whatsoever"),
        (4, None),
        (5, ""),
        (6, "spark"),
        (7, "spark shuffle broadcast spark spark shuffle join"),
    ]
    df = spark.createDataFrame(rows, "id bigint, text string")
    terms = ["spark", "shuffle", "broadcast"]

    def old_tfidf(d):
        toks = d.select(
            F.col("id"), F.explode(tokens(F.lower(F.col("text")))).alias("tok")
        )
        hits = toks.filter(F.col("tok").isin(terms))
        n_docs = d.select(F.count_distinct(F.col("id")).alias("__n_docs"))
        idf = (
            hits.groupBy("tok")
            .agg(F.count_distinct(F.col("id")).alias("df"))
            .crossJoin(F.broadcast(n_docs))
            .select(
                "tok",
                F.log(F.col("__n_docs").cast("double") / F.col("df")).alias("__idf"),
            )
        )
        tf = hits.groupBy("id", "tok").agg(F.count(F.lit(1)).alias("tf"))
        return (
            tf.join(F.broadcast(idf), on="tok")
            .groupBy("id")
            .agg(F.round(F.sum(F.col("tf") * F.col("__idf")), 6).alias("score"))
        )

    def old_bm25(d, k1=1.2, b=0.75):
        toks = d.select(
            F.col("id"), F.explode(tokens(F.lower(F.col("text")))).alias("tok")
        )
        dl = toks.groupBy("id").agg(F.count(F.lit(1)).alias("__dl"))
        corpus = dl.agg(
            F.sum("__dl").alias("__total_dl"), F.count(F.lit(1)).alias("__n_docs")
        )
        hits = toks.filter(F.col("tok").isin(terms))
        idf = (
            hits.groupBy("tok")
            .agg(F.count_distinct(F.col("id")).alias("__df"))
            .crossJoin(F.broadcast(corpus))
            .select(
                "tok",
                F.log(F.col("__n_docs").cast("double") / F.col("__df")).alias("__idf"),
            )
        )
        tf = hits.groupBy("id", "tok").agg(F.count(F.lit(1)).alias("__tf"))
        scored = (
            tf.join(F.broadcast(idf), on="tok")
            .join(dl, on="id")
            .crossJoin(F.broadcast(corpus))
        )
        norm_dl = (
            F.col("__dl").cast("double")
            * F.col("__n_docs").cast("double")
            / F.col("__total_dl").cast("double")
        )
        contrib = (
            F.col("__idf")
            * (F.col("__tf") * F.lit(k1 + 1.0))
            / (F.col("__tf") + F.lit(k1) * (F.lit(1.0 - b) + F.lit(b) * norm_dl))
        )
        return scored.groupBy("id").agg(F.round(F.sum(contrib), 6).alias("bm25"))

    for new_fn, old_fn in (
        (lambda d: tfidf_search(d, "text", "id", terms), old_tfidf),
        (lambda d: bm25_search(d, "text", "id", terms), old_bm25),
    ):
        got = sorted(map(tuple, new_fn(df).collect()))
        want = sorted(map(tuple, old_fn(df).collect()))
        assert got == want and got, f"retrieval rewrite diverged: {got} vs {want}"

    # plan: exactly ONE Generate (explode) node each
    for op in (
        tfidf_search(df, "text", "id", terms),
        bm25_search(df, "text", "id", terms),
    ):
        plan = op._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Generate") == 1, "token explode evaluated more than once"

    # pmi: tot_u from array sizes must equal the old sum over the unigram
    # table (pin the whole operator against a 3-evaluation reference)
    def old_pmi(d, min_count=1):
        toksed = d.select(F.col("id"), tokens(F.lower(F.col("text"))).alias("__w"))
        uni = (
            toksed.select(F.explode("__w").alias("t"))
            .groupBy("t")
            .agg(F.count(F.lit(1)).alias("c"))
        )
        bi = (
            toksed.filter(F.size("__w") >= 2)
            .select(
                F.explode(
                    F.transform(
                        F.sequence(F.lit(1), F.size("__w") - 1),
                        lambda i: F.struct(
                            F.get(F.col("__w"), i - 1).alias("a"),
                            F.get(F.col("__w"), i).alias("b"),
                        ),
                    )
                ).alias("g")
            )
            .select(F.col("g.a").alias("a"), F.col("g.b").alias("b"))
            .groupBy("a", "b")
            .agg(F.count(F.lit(1)).alias("c_ab"))
            .filter(F.col("c_ab") >= min_count)
        )
        tot_u = uni.agg(F.sum("c").alias("__tu"))
        tot_bi = toksed.filter(F.size("__w") >= 2).agg(
            F.sum(F.size("__w") - 1).alias("__tb")
        )
        scored = (
            bi.join(uni.withColumnRenamed("t", "a").withColumnRenamed("c", "c_a"), on="a")
            .join(uni.withColumnRenamed("t", "b").withColumnRenamed("c", "c_b"), on="b")
            .crossJoin(F.broadcast(tot_u))
            .crossJoin(F.broadcast(tot_bi))
        )
        p_ab = F.col("c_ab").cast("double") / F.col("__tb").cast("double")
        p_a = F.col("c_a").cast("double") / F.col("__tu").cast("double")
        p_b = F.col("c_b").cast("double") / F.col("__tu").cast("double")
        return scored.select(
            "a", "b", "c_ab", F.round(F.log(p_ab / (p_a * p_b)), 6).alias("pmi")
        )

    got = sorted(map(tuple, pmi_collocations(df, "text", "id", min_count=1).collect()))
    want = sorted(map(tuple, old_pmi(df).collect()))
    assert got == want and got, "pmi tot_u rewrite diverged"


def test_index_append_equals_one_shot_build(spark, sf_dir):
    """Incremental ingest contract: build the index on half the corpus,
    append the other half, and a probe must reproduce BIT FOR BIT the
    probe of an index built on the full corpus in one shot — provided the
    quantizer and codebooks are the same frozen tables (they are the
    index's, by construction; the one-shot comparison passes them
    explicitly since its prefix defaults would otherwise derive from the
    full corpus)."""
    import tempfile

    from s4hanaconnector_spark.operators.similarity import (
        append_to_ann_index,
        build_ann_index,
        pq_subspace_codebooks,
        probe_ann_index,
    )

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    c = e.select(F.col("vec_id").alias("c_id"), "embedding")
    first = c.filter(F.col("c_id") % 2 == 0)
    rest = c.filter(F.col("c_id") % 2 == 1)
    # freeze quantizer + codebooks from the FIRST half (what a real ingest
    # loop has at build time) and hand the same tables to the one-shot build
    cents = (
        first.orderBy("c_id").limit(16)
        .select(F.col("c_id").alias("cent_id"), "embedding")
        .localCheckpoint()
    )
    cbs = pq_subspace_codebooks(first, 16, 32)

    inc_path = tempfile.mkdtemp(prefix="ann_index_inc_")
    build_ann_index(first, inc_path, n_centroids=16, m=16, n_codes=32,
                    centroids=cents, codebooks=cbs)
    append_to_ann_index(rest, inc_path)

    full_path = tempfile.mkdtemp(prefix="ann_index_full_")
    build_ann_index(c, full_path, n_centroids=16, m=16, n_codes=32,
                    centroids=cents, codebooks=cbs)

    probe_inc = {
        tuple(r) for r in probe_ann_index(spark, inc_path, q, k=10).collect()
    }
    probe_full = {
        tuple(r) for r in probe_ann_index(spark, full_path, q, k=10).collect()
    }
    assert probe_inc == probe_full and probe_inc


def test_index_readers_reject_incomplete_meta(spark, sf_dir):
    """meta.json is input from outside the program. Every reader that
    assigns or encodes vectors needs the exact backends the index was
    built with, so a meta without the 'assignment' / 'encode' keys, or
    naming an encoder the engine does not have, fails loudly and names
    the key instead of guessing a backend."""
    import json
    import os
    import tempfile

    import pytest as _pytest

    from s4hanaconnector_spark.operators.dedup import (
        incremental_semantic_dedup_from_index,
    )
    from s4hanaconnector_spark.operators.similarity import (
        _fs_write_text,
        append_to_ann_index,
        build_ann_index,
        probe_ann_index,
    )

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    c = e.select(F.col("vec_id").alias("c_id"), "embedding")
    q = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    batch = c.filter(F.col("c_id") >= 64)
    path = tempfile.mkdtemp(prefix="ann_index_meta_")
    meta = build_ann_index(c.filter(F.col("c_id") < 64), path,
                           n_centroids=16, m=16, n_codes=32)
    assert meta["encode"] == "arrow" and meta["assignment"] == "expr"

    readers = {
        "probe": lambda: probe_ann_index(spark, path, q, k=5),
        "append": lambda: append_to_ann_index(batch, path),
        "dedup": lambda: incremental_semantic_dedup_from_index(
            spark, path, batch
        ),
    }
    legacy = {k: v for k, v in meta.items() if k not in ("assignment", "encode")}
    no_encode = {k: v for k, v in meta.items() if k != "encode"}
    cases = (
        (legacy, "'assignment'"),
        (no_encode, "'encode'"),
        ({**meta, "encode": "expr"}, "'encode'.*'expr'"),
    )
    for bad, key in cases:
        _fs_write_text(spark, os.path.join(path, "meta.json"), json.dumps(bad))
        for name, read in readers.items():
            with _pytest.raises(ValueError, match=key):
                read()
                raise AssertionError(f"{name} accepted {bad}")


def test_arrow_assign_all_neg_inf_row_takes_first_centroid(spark):
    """A row whose rounded affinity is -inf for EVERY centroid (a vector
    whose norm underflows to 0 while its dot products stay negative
    subnormals) lands in the lowest centroid id — the cell the keep_rn > 1
    argsort path ranks first — never in a cell id that does not exist.
    Centroid ids deliberately do not start at 0."""
    from s4hanaconnector_spark.operators.similarity import cell_assigner

    cents = spark.createDataFrame(
        [(cid, [-1e-161] * 64) for cid in (10, 20, 30)],
        "cent_id bigint, embedding array<double>",
    )
    row = spark.createDataFrame(
        [(1, [1e-162] * 64)], "c_id bigint, embedding array<double>"
    )
    assign = cell_assigner(None, centroids=cents, assignment="arrow")
    one = [r["__cell"] for r in assign(row, "c_id", 1).collect()]
    two = [r["__cell"] for r in assign(row, "c_id", 2).collect()]
    assert one == [10], one
    assert two[0] == one[0], two


def test_stream_ingest_probe_equals_one_shot_rebuild(spark, sf_dir):
    """The streaming-ingest loop (build on the corpus head, drain the rest
    through foreachBatch -> append_to_ann_index) must leave an index whose
    probe is BIT FOR BIT the probe of a one-shot rebuild over the full
    corpus — the declared query's oracle already pins it to the inline
    rung; this pins it to the REBUILD, closing the triangle."""
    import tempfile

    from s4hanaconnector_spark.operators.similarity import (
        build_ann_index,
        probe_ann_index,
    )
    from s4hanaconnector_spark.queries.llmops import (
        _PQ_CODES,
        _PQ_M,
        _PQ_RERANK,
        similarity_index_stream_ingest,
    )

    streamed = {
        tuple(r) for r in similarity_index_stream_ingest(spark, sf_dir).collect()
    }
    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    c = e.select(F.col("vec_id").alias("c_id"), "embedding")
    rebuilt = tempfile.mkdtemp(prefix="ann_rebuild_")
    build_ann_index(c, rebuilt, n_centroids=16, m=_PQ_M, n_codes=_PQ_CODES)
    probe = {
        tuple(r)
        for r in probe_ann_index(
            spark, rebuilt, q, k=10, n_probe=4, rerank=_PQ_RERANK
        ).collect()
    }
    assert streamed == probe and streamed


def test_index_append_reuses_build_assignment_backend(spark, sf_dir):
    """ADVICE r10 (the assignment twin of the r9 encode fix): an index
    built with an EXPLICIT cell-assignment backend must append with that
    same backend — build_ann_index resolves 'auto' and persists the
    resolved name in meta.json, append_to_ann_index reads it back, so a
    rounding-tie-boundary vector appended later lands in the same cell a
    one-shot rebuild would give it (the append==rebuild bit-identical
    contract)."""
    import json
    import os
    import tempfile

    from s4hanaconnector_spark.operators.similarity import (
        append_to_ann_index,
        build_ann_index,
        pq_subspace_codebooks,
    )

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    c = e.select(F.col("vec_id").alias("c_id"), "embedding")
    first = c.filter(F.col("c_id") % 2 == 0)
    rest = c.filter(F.col("c_id") % 2 == 1)
    cents = (
        first.orderBy("c_id").limit(16)
        .select(F.col("c_id").alias("cent_id"), "embedding")
        .localCheckpoint()
    )
    cbs = pq_subspace_codebooks(first, 16, 32)

    # 16 centroids are within the 64-cell literal threshold, so auto
    # resolves to expr — an explicit arrow build must override that for
    # appends too
    inc = tempfile.mkdtemp(prefix="ann_index_asgn_")
    meta = build_ann_index(first, inc, n_centroids=16, m=16, n_codes=32,
                           centroids=cents, codebooks=cbs,
                           assignment="arrow")
    assert meta["assignment"] == "arrow"
    with open(os.path.join(inc, "meta.json")) as f:
        assert json.load(f)["assignment"] == "arrow"
    append_to_ann_index(rest, inc)

    full = tempfile.mkdtemp(prefix="ann_index_asgn_full_")
    build_ann_index(c, full, n_centroids=16, m=16, n_codes=32,
                    centroids=cents, codebooks=cbs, assignment="arrow")
    cells_inc = {
        (r["c_id"], r["__cell"])
        for r in spark.read.parquet(os.path.join(inc, "vectors")).collect()
    }
    cells_full = {
        (r["c_id"], r["__cell"])
        for r in spark.read.parquet(os.path.join(full, "vectors")).collect()
    }
    assert cells_inc == cells_full and cells_inc

    # an 'auto' build persists the RESOLVED backend (expr at 16 centroids),
    # never the literal string 'auto'
    auto = tempfile.mkdtemp(prefix="ann_index_asgn_auto_")
    meta2 = build_ann_index(first, auto, n_centroids=16, m=16, n_codes=32,
                            centroids=cents, codebooks=cbs)
    assert meta2["assignment"] == "expr"


def test_compact_dedup_ids_repairs_replayed_append(spark, sf_dir):
    """The documented at-least-once REPAIR (ADVICE r10): a replayed
    micro-batch re-runs append_to_ann_index and duplicates its postings;
    compact_ann_index(dedup_ids=True) must fold the index back to one
    posting per id, after which a probe is BIT FOR BIT the probe of an
    index that never saw the replay."""
    import os
    import tempfile

    from s4hanaconnector_spark.operators.similarity import (
        append_to_ann_index,
        build_ann_index,
        compact_ann_index,
        pq_subspace_codebooks,
        probe_ann_index,
    )

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    c = e.select(F.col("vec_id").alias("c_id"), "embedding")
    first = c.filter(F.col("c_id") % 2 == 0)
    rest = c.filter(F.col("c_id") % 2 == 1)
    cents = (
        first.orderBy("c_id").limit(16)
        .select(F.col("c_id").alias("cent_id"), "embedding")
        .localCheckpoint()
    )
    cbs = pq_subspace_codebooks(first, 16, 32)

    replayed = tempfile.mkdtemp(prefix="ann_index_replay_")
    build_ann_index(first, replayed, n_centroids=16, m=16, n_codes=32,
                    centroids=cents, codebooks=cbs)
    append_to_ann_index(rest, replayed)
    append_to_ann_index(rest, replayed)  # the replay
    n_total = c.count()
    n_rest = rest.count()
    codes = os.path.join(replayed, "codes")
    assert spark.read.parquet(codes).count() == n_total + n_rest
    compact_ann_index(spark, replayed, dedup_ids=True)
    assert spark.read.parquet(codes).count() == n_total
    assert (
        spark.read.parquet(os.path.join(replayed, "vectors")).count() == n_total
    )

    clean = tempfile.mkdtemp(prefix="ann_index_noreplay_")
    build_ann_index(first, clean, n_centroids=16, m=16, n_codes=32,
                    centroids=cents, codebooks=cbs)
    append_to_ann_index(rest, clean)
    p_repaired = {
        tuple(r) for r in probe_ann_index(spark, replayed, q, k=10).collect()
    }
    p_clean = {
        tuple(r) for r in probe_ann_index(spark, clean, q, k=10).collect()
    }
    assert p_repaired == p_clean and p_repaired


def test_compact_recovers_stranded_precompact(spark, sf_dir):
    """Crash recovery (ADVICE r10): a compaction that died between
    rename(codes -> __precompact_codes) and rename(tmp -> codes) leaves
    the live postings dir MISSING and the original stranded — the next
    compact_ann_index must detect that, restore the stranded original,
    and complete normally (probe unchanged)."""
    import os
    import shutil
    import tempfile

    from s4hanaconnector_spark.operators.similarity import (
        build_ann_index,
        compact_ann_index,
        probe_ann_index,
    )

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    c = e.select(F.col("vec_id").alias("c_id"), "embedding")
    path = tempfile.mkdtemp(prefix="ann_index_crash_")
    build_ann_index(c, path, n_centroids=16, m=16, n_codes=32)
    before = {tuple(r) for r in probe_ann_index(spark, path, q, k=10).collect()}

    # simulate the crash window: live dir gone, original stranded
    shutil.move(os.path.join(path, "codes"),
                os.path.join(path, "__precompact_codes"))
    assert not os.path.exists(os.path.join(path, "codes"))
    stats = compact_ann_index(spark, path)
    assert stats["cells"] > 0
    assert not os.path.exists(os.path.join(path, "__precompact_codes"))
    after = {tuple(r) for r in probe_ann_index(spark, path, q, k=10).collect()}
    assert after == before and after


def test_topk_planner_routes_to_persisted_index(spark, sf_dir):
    """topk(index_path=...) must route straight to probe_ann_index —
    bit-identical rows, corpus argument optional (the index IS the
    corpus), 'auto' preferring the persisted index over every inline
    rung — and strategy='index' without a path must fail loudly."""
    import tempfile

    import pytest as _pytest

    from s4hanaconnector_spark.operators.similarity import (
        build_ann_index,
        probe_ann_index,
        topk,
    )

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    c = e.select(F.col("vec_id").alias("c_id"), "embedding")
    path = tempfile.mkdtemp(prefix="ann_index_planner_")
    build_ann_index(c, path, n_centroids=16, m=16, n_codes=32)
    direct = {
        tuple(r)
        for r in probe_ann_index(
            spark, path, q, k=10, n_probe=4, rerank=100
        ).collect()
    }
    via_auto = {
        tuple(r)
        for r in topk(q, None, k=10, index_path=path, n_probe=4,
                      rerank=100).collect()
    }
    via_explicit = {
        tuple(r)
        for r in topk(q, c, k=10, strategy="index", index_path=path,
                      n_probe=4, rerank=100).collect()
    }
    assert via_auto == direct == via_explicit and direct
    with _pytest.raises(ValueError, match="index_path"):
        topk(q, c, k=10, strategy="index")
    with _pytest.raises(ValueError, match="corpus"):
        topk(q, None, k=10)


def test_index_delete_tombstones_then_compaction_applies(spark, sf_dir):
    """Delete lifecycle end to end: tombstoned ids must (a) vanish from
    probes IMMEDIATELY — the probe of the tombstoned index is BIT FOR BIT
    the probe of an index built without those vectors (the deleted range
    sits above the quantizer/codebook prefixes, so the one-shot
    comparison build derives the same frozen tables); (b) vanish from the
    from-index dedup readers; (c) be applied PHYSICALLY by the next
    compaction — postings dropped, tombstone log cleared, probe unchanged
    — and a deleted id must no longer veto new ingest in the incremental
    classifier."""
    import os
    import tempfile

    from s4hanaconnector_spark.operators.dedup import (
        incremental_semantic_dedup_from_index,
        semantic_dedup_from_index,
    )
    from s4hanaconnector_spark.operators.similarity import (
        build_ann_index,
        compact_ann_index,
        delete_from_ann_index,
        probe_ann_index,
    )

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    c = e.select(F.col("vec_id").alias("c_id"), "embedding")
    dead = c.filter(F.col("c_id").between(100, 199))
    n_dead = dead.count()
    assert n_dead > 0

    path = tempfile.mkdtemp(prefix="ann_index_del_")
    build_ann_index(c, path, n_centroids=16, m=16, n_codes=32)
    delete_from_ann_index(dead.select("c_id"), path)

    # (a) probe == one-shot build without the deleted vectors
    clean = tempfile.mkdtemp(prefix="ann_index_nodel_")
    build_ann_index(
        c.filter(~F.col("c_id").between(100, 199)), clean,
        n_centroids=16, m=16, n_codes=32,
    )
    p_tomb = {
        tuple(r) for r in probe_ann_index(spark, path, q, k=10).collect()
    }
    p_clean = {
        tuple(r) for r in probe_ann_index(spark, clean, q, k=10).collect()
    }
    assert p_tomb == p_clean and p_tomb

    # (b) the dedup readers exclude deleted ids too
    sem_ids = {
        r["c_id"]
        for r in semantic_dedup_from_index(spark, path, threshold=0.95)
        .select(F.col("c_id")).collect()
    }
    assert not any(100 <= i <= 199 for i in sem_ids) and sem_ids

    # ...and a deleted id no longer vetoes new ingest: re-submitting the
    # deleted vectors classifies them against the REMAINING corpus only
    recls = incremental_semantic_dedup_from_index(
        spark, path, dead, threshold=0.999999
    )
    assert recls.filter(F.col("status") == "dup_of_corpus").count() == 0

    # (c) compaction applies physically and clears the log
    n_before = spark.read.parquet(os.path.join(path, "codes")).count()
    stats = compact_ann_index(spark, path)
    assert stats["tombstones_applied"] == n_dead, stats
    assert not os.path.exists(os.path.join(path, "tombstones"))
    n_after = spark.read.parquet(os.path.join(path, "codes")).count()
    assert n_after == n_before - n_dead
    p_compacted = {
        tuple(r) for r in probe_ann_index(spark, path, q, k=10).collect()
    }
    assert p_compacted == p_tomb


def test_compact_refuses_to_empty_the_index(spark, sf_dir):
    """Tombstoning EVERY resident id then compacting must not brick the
    index: compaction detects the would-be-empty rewrite and aborts
    BEFORE the swap — postings and the tombstone log both survive, probes
    still answer (empty, since everything is deleted), and the caller is
    told emptying an index is a drop decision, not a compaction."""
    import os
    import tempfile

    import pytest as _pytest

    from s4hanaconnector_spark.operators.similarity import (
        build_ann_index,
        compact_ann_index,
        delete_from_ann_index,
        probe_ann_index,
    )

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    c = e.select(F.col("vec_id").alias("c_id"), "embedding")
    path = tempfile.mkdtemp(prefix="ann_index_empty_")
    build_ann_index(c, path, n_centroids=16, m=16, n_codes=32)
    delete_from_ann_index(c.select("c_id"), path)

    with _pytest.raises(ValueError, match="empty"):
        compact_ann_index(spark, path)
    # nothing was lost: postings dir readable, log intact, probe runs
    assert spark.read.parquet(os.path.join(path, "codes")).count() > 0
    assert os.path.exists(os.path.join(path, "tombstones"))
    assert probe_ann_index(spark, path, q, k=10).count() == 0


def test_incremental_dedup_from_index_equals_full_scan(spark, sf_dir):
    """The partition-pruned batch-vs-INDEX classifier must reproduce the
    full-scan incremental_semantic_dedup BIT FOR BIT on the same frozen
    quantizer, at n_assign 1 AND 2 — the pruning argument (a cell no
    batch vector probes contributes no pair) and the persisted-__cell
    argument (resident cells on disk == re-assignment under the frozen
    backend) verified together. This is the per-batch shape
    streaming_semantic_ingest now runs (O(probed cells), not O(index))."""
    import tempfile

    from s4hanaconnector_spark.operators.dedup import (
        incremental_semantic_dedup,
        incremental_semantic_dedup_from_index,
    )
    from s4hanaconnector_spark.operators.similarity import build_ann_index
    from s4hanaconnector_spark.queries.llmops import _sem_inc_frames

    corpus, batch = _sem_inc_frames(spark, sf_dir)
    path = tempfile.mkdtemp(prefix="ann_index_incdedup_")
    build_ann_index(corpus, path, n_centroids=16, m=16, n_codes=32,
                    c_id="vec_id", vec="embedding")
    cents = spark.read.parquet(f"{path}/centroids")
    for n_assign in (1, 2):
        full = {
            tuple(r)
            for r in incremental_semantic_dedup(
                corpus, batch, "vec_id", threshold=0.95,
                centroids=cents, n_assign=n_assign,
            ).collect()
        }
        pruned = {
            tuple(r)
            for r in incremental_semantic_dedup_from_index(
                spark, path, batch, threshold=0.95, n_assign=n_assign
            ).collect()
        }
        assert pruned == full and pruned, f"n_assign={n_assign}"


def test_incremental_scoring_backends_agree(spark, sf_dir):
    """The arrow scoring backend of the incremental-semantic classify tail
    (mapInArrow over the corpus scan, per-cell numpy matmuls — the scale
    path for the corpus leg)
    must reproduce the expr reference classification on the fixture —
    same statuses, same canonical ids, at n_assign 1 AND 2, through BOTH
    the full-scan operator and the partition-pruned from-index reader —
    and reject unknown backend names."""
    import tempfile

    import pytest as _pytest

    from s4hanaconnector_spark.operators.dedup import (
        incremental_semantic_dedup,
        incremental_semantic_dedup_from_index,
    )
    from s4hanaconnector_spark.operators.similarity import build_ann_index
    from s4hanaconnector_spark.queries.llmops import _sem_inc_frames

    corpus, batch = _sem_inc_frames(spark, sf_dir)
    path = tempfile.mkdtemp(prefix="ann_index_incscore_")
    build_ann_index(corpus, path, n_centroids=16, m=16, n_codes=32,
                    c_id="vec_id", vec="embedding")
    cents = spark.read.parquet(f"{path}/centroids")
    for n_assign in (1, 2):
        expr = {
            tuple(r)
            for r in incremental_semantic_dedup(
                corpus, batch, "vec_id", threshold=0.95,
                centroids=cents, n_assign=n_assign, scoring="expr",
            ).collect()
        }
        arrow = {
            tuple(r)
            for r in incremental_semantic_dedup(
                corpus, batch, "vec_id", threshold=0.95,
                centroids=cents, n_assign=n_assign, scoring="arrow",
            ).collect()
        }
        assert arrow == expr and expr, f"full-scan n_assign={n_assign}"
        assert {r[1] for r in expr} == {"dup_of_corpus", "dup_in_batch", "new"}
        idx_arrow = {
            tuple(r)
            for r in incremental_semantic_dedup_from_index(
                spark, path, batch, threshold=0.95, n_assign=n_assign,
                scoring="arrow",
            ).collect()
        }
        assert idx_arrow == expr, f"from-index n_assign={n_assign}"
    with _pytest.raises(ValueError, match="scoring"):
        incremental_semantic_dedup(
            corpus, batch, "vec_id", centroids=cents, scoring="nope"
        ).collect()


def test_semdedup_on_trained_index_centroids(spark, sf_dir):
    """The 100 TB SemDeDup shape end to end with PRODUCTION quantizers:
    KMeans centroids are trained once, persisted inside an ANN index, read
    back off disk, and drive semantic_dedup's cells — and the contraction
    must equal semantic_dedup fed the same trained centroid table
    directly. This is the composition the operator's docstring promises
    (dedup reuses the index's quantizer for free); the declared
    dedup_semdedup_indexed query pins the oracle-replayable prefix flavor,
    this test pins the trained flavor."""
    import os
    import tempfile

    from s4hanaconnector_spark.operators.dedup import semantic_dedup
    from s4hanaconnector_spark.operators.similarity import (
        build_ann_index,
        kmeans_centroids,
    )
    from s4hanaconnector_spark.queries.llmops import emb_aug

    corpus = emb_aug(spark, sf_dir)
    c = corpus.select(F.col("vec_id").alias("c_id"), "embedding")
    trained = kmeans_centroids(c, n_centroids=16, seed=7).localCheckpoint()
    path = tempfile.mkdtemp(prefix="ann_index_sem_")
    build_ann_index(c, path, n_centroids=16, centroids=trained)
    from_index = spark.read.parquet(os.path.join(path, "centroids"))

    via_index = {
        tuple(r)
        for r in semantic_dedup(
            corpus, "vec_id", threshold=0.95, centroids=from_index
        ).collect()
    }
    direct = {
        tuple(r)
        for r in semantic_dedup(
            corpus, "vec_id", threshold=0.95, centroids=trained
        ).collect()
    }
    assert via_index == direct and via_index
    # the fixture's planted near-dups must actually contract
    dups = sum(1 for vid, canon in via_index if vid != canon)
    assert dups > 0


def test_semdedup_multiprobe_contracts_superset(spark, sf_dir):
    """Multi-probe SemDeDup must contract a SUPERSET of the single-probe
    rung's duplicates: every pair that shares its top-1 cell also shares a
    top-2 cell, so n_assign=2 can only ADD contractions — and on the
    fixture it must actually add some (the measured single-probe recall
    is 79-86%, so boundary-split twins exist to recover)."""
    from s4hanaconnector_spark.operators.dedup import semantic_dedup
    from s4hanaconnector_spark.queries.llmops import emb_aug

    ea = emb_aug(spark, sf_dir)
    one = {
        r["vec_id"]: r["canonical_id"]
        for r in semantic_dedup(ea, "vec_id", threshold=0.95).collect()
    }
    two = {
        r["vec_id"]: r["canonical_id"]
        for r in semantic_dedup(ea, "vec_id", threshold=0.95, n_assign=2).collect()
    }
    dups_one = {k for k, v in one.items() if k != v}
    dups_two = {k for k, v in two.items() if k != v}
    assert dups_one <= dups_two
    assert len(dups_two) > len(dups_one), (len(dups_one), len(dups_two))


def test_compact_ann_index_probe_identical_and_idempotent(spark, sf_dir):
    """compact_ann_index must (a) strictly reduce the file count after
    appends, (b) leave every probe bit-identical, (c) be idempotent — a
    second compaction folds nothing further and still changes nothing."""
    import os
    import tempfile

    from s4hanaconnector_spark.operators.similarity import (
        append_to_ann_index,
        build_ann_index,
        compact_ann_index,
        probe_ann_index,
    )

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    c = e.select(F.col("vec_id").alias("c_id"), "embedding")
    path = os.path.join(tempfile.mkdtemp(prefix="ann_compact_test_"), "index")
    build_ann_index(c.filter(F.col("c_id") < 64), path,
                    n_centroids=16, m=16, n_codes=32)
    rest = c.filter(F.col("c_id") >= 64)
    append_to_ann_index(rest.filter(F.col("c_id") % 3 == 0), path)
    append_to_ann_index(rest.filter(F.col("c_id") % 3 == 1), path)
    append_to_ann_index(rest.filter(F.col("c_id") % 3 == 2), path)

    pre = {tuple(r) for r in probe_ann_index(spark, path, q, k=10).collect()}
    s1 = compact_ann_index(spark, path)
    assert s1["files_after"] < s1["files_before"], s1
    post = {tuple(r) for r in probe_ann_index(spark, path, q, k=10).collect()}
    assert post == pre and post
    s2 = compact_ann_index(spark, path)
    assert s2["files_after"] == s1["files_after"], (s1, s2)
    again = {tuple(r) for r in probe_ann_index(spark, path, q, k=10).collect()}
    assert again == pre


def test_persisted_index_production_quantizers(spark, sf_dir):
    """The production build path through the persisted index: sampled
    KMeans centroids and per-subspace-trained codebooks (instead of the
    oracle's deterministic prefixes) must round-trip build -> probe with
    usable recall against exact brute force — the configuration a real
    deployment ships, exercised end to end through the on-disk layout."""
    import tempfile

    from s4hanaconnector_spark.operators.similarity import (
        brute_force_topk,
        build_ann_index,
        kmeans_centroids,
        pq_subspace_codebooks,
        probe_ann_index,
    )

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    c = e.select(F.col("vec_id").alias("c_id"), "embedding")
    cents = kmeans_centroids(c, n_centroids=16, seed=7)
    cbs = pq_subspace_codebooks(c, 8, 16, trained=True, seed=7)
    path = tempfile.mkdtemp(prefix="ann_index_prod_")
    build_ann_index(c, path, centroids=cents, codebooks=cbs)
    rows = probe_ann_index(spark, path, q, k=10, n_probe=4, rerank=100).collect()
    assert {r["q_id"] for r in rows} == {0, 1, 2, 3, 4}
    bf = {(r["q_id"], r["c_id"]) for r in brute_force_topk(q, c, k=10).collect()}
    hits = sum((r["q_id"], r["c_id"]) in bf for r in rows)
    assert hits * 100 >= len(bf) * 60, f"trained-path recall {hits}/{len(bf)} < 60%"


def test_semdedup_pairing_backends_agree(spark, sf_dir):
    """The arrow pairing backend (numpy row-wise dot, the scale path) must
    reproduce the expr reference backend's exact contraction on the
    fixture — same cells, same threshold frontier away from rounding
    boundaries — and reject unknown backend names."""
    import pytest as _pytest

    from s4hanaconnector_spark.operators.dedup import semantic_dedup
    from s4hanaconnector_spark.queries.llmops import emb_aug

    d = emb_aug(spark, sf_dir)
    expr = {
        (r["vec_id"], r["canonical_id"])
        for r in semantic_dedup(d, "vec_id", threshold=0.95, pairing="expr").collect()
    }
    arrow = {
        (r["vec_id"], r["canonical_id"])
        for r in semantic_dedup(d, "vec_id", threshold=0.95, pairing="arrow").collect()
    }
    assert arrow == expr and expr
    with _pytest.raises(ValueError, match="pairing"):
        semantic_dedup(d, "vec_id", pairing="nope").collect()


def test_probe_uses_persisted_assignment_backend(spark, sf_dir, monkeypatch):
    """ADVICE r11 (the probe leg of the r10 build/append fix): the PRIMARY
    reader must assign query vectors with the index's persisted backend —
    an explicit-'arrow' build at 16 centroids would otherwise probe
    through cell_assigner's auto rule (expr at that count) and diverge
    from the frozen backend on the documented rounding-tie boundaries.
    Spied via the cell_assigner seam: the backends are constructed to
    agree except on tie boundaries, so a result diff can't detect the
    regression on arbitrary data — the resolved-backend plumbing is the
    contract under test."""
    import tempfile

    from s4hanaconnector_spark.operators import similarity as S

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    c = e.select(F.col("vec_id").alias("c_id"), "embedding")
    q = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    path = tempfile.mkdtemp(prefix="ann_probe_asgn_")
    meta = S.build_ann_index(
        c, path, n_centroids=16, m=16, n_codes=32, assignment="arrow"
    )
    assert meta["assignment"] == "arrow"

    seen: list = []
    orig = S.cell_assigner

    def spy(*a, **kw):
        seen.append(kw.get("assignment", "auto"))
        return orig(*a, **kw)

    monkeypatch.setattr(S, "cell_assigner", spy)
    assert S.probe_ann_index(spark, path, q, k=5).count() > 0
    assert seen == ["arrow"]


def test_append_of_tombstoned_id_raises(spark, sf_dir):
    """VERDICT r11 wrong #3: the delete-wins contract is ENFORCED, not a
    caller convention — appending a live-tombstoned id raises with the
    compact-then-append remedy instead of writing postings every reader
    silently excludes; after compaction applies the delete, the same
    append succeeds."""
    import pytest as _pytest

    import tempfile

    from s4hanaconnector_spark.operators.similarity import (
        append_to_ann_index,
        build_ann_index,
        compact_ann_index,
        delete_from_ann_index,
        probe_ann_index,
    )

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    c = e.select(F.col("vec_id").alias("c_id"), "embedding")
    resident = c.filter(~F.col("c_id").between(100, 149))
    dead = c.filter(F.col("c_id").between(100, 149))
    path = tempfile.mkdtemp(prefix="ann_append_tomb_")
    build_ann_index(c, path, n_centroids=16, m=16, n_codes=32)
    delete_from_ann_index(dead.select("c_id"), path)

    with _pytest.raises(ValueError, match="tombstoned"):
        append_to_ann_index(dead, path)
    # a batch with NO tombstone overlap still appends fine under a live log
    fresh = resident.limit(10).withColumn(
        "c_id", F.col("c_id") + F.lit(10_000_000)
    )
    append_to_ann_index(fresh, path)

    # compact applies the delete and clears the log; re-append now works
    compact_ann_index(spark, path)
    append_to_ann_index(dead, path)
    q = e.filter(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    assert probe_ann_index(spark, path, q, k=5).count() > 0


def test_empty_delete_does_not_create_tombstone_log(spark, sf_dir):
    """ADVICE r11: a zero-id delete must be a true no-op — writing an
    empty tombstone parquet would create the directory whose existence
    switches every reader onto the anti-join path until a compaction."""
    import os
    import tempfile

    from s4hanaconnector_spark.operators.similarity import (
        _index_tombstones,
        build_ann_index,
        delete_from_ann_index,
    )

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    c = e.select(F.col("vec_id").alias("c_id"), "embedding")
    path = tempfile.mkdtemp(prefix="ann_empty_del_")
    build_ann_index(c, path, n_centroids=16, m=16, n_codes=32)
    stats = delete_from_ann_index(c.filter(F.lit(False)).select("c_id"), path)
    assert stats == {"tombstones_appended": 0}
    assert not os.path.exists(os.path.join(path, "tombstones"))
    assert _index_tombstones(spark, path, "c_id") is None


def test_tombstones_applied_counts_resident_postings_only(spark, sf_dir):
    """ADVICE r11: compact's tombstones_applied is the postings ACTUALLY
    removed — tombstones for never-resident ids contribute zero, so the
    caller accounting n_after == n_before - tombstones_applied holds even
    when the log carries stale/foreign ids."""
    import os
    import tempfile

    from s4hanaconnector_spark.operators.similarity import (
        build_ann_index,
        compact_ann_index,
        delete_from_ann_index,
    )

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    c = e.select(F.col("vec_id").alias("c_id"), "embedding")
    path = tempfile.mkdtemp(prefix="ann_tomb_acct_")
    build_ann_index(c, path, n_centroids=16, m=16, n_codes=32)
    resident_dead = c.filter(F.col("c_id").between(100, 149)).select("c_id")
    n_resident = resident_dead.count()
    assert n_resident > 0
    ghosts = resident_dead.withColumn("c_id", F.col("c_id") + F.lit(10_000_000))
    delete_from_ann_index(resident_dead.unionByName(ghosts), path)

    n_before = spark.read.parquet(os.path.join(path, "codes")).count()
    stats = compact_ann_index(spark, path)
    assert stats["tombstones_applied"] == n_resident, stats
    n_after = spark.read.parquet(os.path.join(path, "codes")).count()
    assert n_after == n_before - n_resident


def test_topk_index_route_honors_c_id_and_rejects_bad_kwargs(spark, sf_dir):
    """ADVICE r11: the planner's index route must honor the caller's c_id
    output name (every inline rung does) and must raise on kwargs it
    cannot consume instead of silently dropping them."""
    import tempfile

    import pytest as _pytest

    from s4hanaconnector_spark.operators.similarity import (
        build_ann_index,
        topk,
    )

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    q = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    c = e.select(F.col("vec_id").alias("c_id"), "embedding")
    path = tempfile.mkdtemp(prefix="ann_planner_cid_")
    build_ann_index(c, path, n_centroids=16, m=16, n_codes=32)

    out = topk(q, None, k=5, index_path=path, c_id="doc_id")
    assert "doc_id" in out.columns and "c_id" not in out.columns
    assert out.count() > 0
    with _pytest.raises(TypeError, match="n_prob"):
        topk(q, None, k=5, index_path=path, n_prob=4)


def test_semdedup_windowed_subset_and_recall(spark, sf_dir):
    """semantic_dedup_windowed (VERDICT r11 next #5): the pair-budget rung
    must behave as a RESTRICTION of the uncapped operator, never a
    different dedup — (a) every id it contracts is contracted by the
    uncapped run, (b) the uncapped canonical is <= the windowed one (more
    pairs can only lower the min-neighbor), and (c) on the fixture's
    planted twins an 8-wide window recovers >= 90% of the uncapped
    contraction set (twins carry near-identical centroid affinity, so
    they sit adjacent in rank order)."""
    from s4hanaconnector_spark.operators.dedup import (
        semantic_dedup,
        semantic_dedup_windowed,
    )
    from s4hanaconnector_spark.queries.llmops import emb_aug

    d = emb_aug(spark, sf_dir)
    unc = {
        r["vec_id"]: r["canonical_id"]
        for r in semantic_dedup(d, "vec_id", threshold=0.95).collect()
    }
    win = {
        r["vec_id"]: r["canonical_id"]
        for r in semantic_dedup_windowed(
            d, "vec_id", threshold=0.95, pair_window=8
        ).collect()
    }
    assert set(win) == set(unc)  # same id universe
    unc_dups = {i for i, c in unc.items() if c != i}
    win_dups = {i for i, c in win.items() if c != i}
    assert win_dups and win_dups <= unc_dups
    for i in win_dups:
        assert unc[i] <= win[i], (i, unc[i], win[i])
    assert len(win_dups) * 100 >= len(unc_dups) * 90, (
        f"windowed recall {len(win_dups)}/{len(unc_dups)}"
    )


def test_semdedup_windowed_backends_and_validation(spark, sf_dir):
    """The windowed rung's arrow scoring backend must reproduce the expr
    reference bit for bit on the fixture (same shared contract as
    semantic_dedup's backends), and parameter validation must reject a
    non-positive window and unknown pairing names."""
    import pytest as _pytest

    from s4hanaconnector_spark.operators.dedup import semantic_dedup_windowed
    from s4hanaconnector_spark.queries.llmops import emb_aug

    d = emb_aug(spark, sf_dir)
    expr = {
        (r["vec_id"], r["canonical_id"])
        for r in semantic_dedup_windowed(
            d, "vec_id", threshold=0.95, pair_window=8, pairing="expr"
        ).collect()
    }
    arrow = {
        (r["vec_id"], r["canonical_id"])
        for r in semantic_dedup_windowed(
            d, "vec_id", threshold=0.95, pair_window=8, pairing="arrow"
        ).collect()
    }
    assert arrow == expr and expr
    with _pytest.raises(ValueError, match="pair_window"):
        semantic_dedup_windowed(d, "vec_id", pair_window=0)
    with _pytest.raises(ValueError, match="pairing"):
        semantic_dedup_windowed(d, "vec_id", pairing="nope")


def test_append_batch_key_replay_is_idempotent(spark, sf_dir):
    """VERDICT r11 wrong #2 closed: a FORCED REPLAY of the same ingest
    batch (same batch_key) overwrites its own __ingest unit instead of
    appending duplicates — |postings| == |corpus| with NO compaction —
    and the replayed index probes bit-identically to a one-shot build of
    the same corpus. Unkeyed appends keep plain append semantics (two
    calls with the same rows duplicate, as before)."""
    import os
    import tempfile

    from s4hanaconnector_spark.operators.similarity import (
        append_to_ann_index,
        build_ann_index,
        probe_ann_index,
    )

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    c = e.select(F.col("vec_id").alias("c_id"), "embedding")
    head = c.filter(F.col("c_id") < 64)
    rest = c.filter(F.col("c_id") >= 64)
    n_corpus = c.count()

    path = tempfile.mkdtemp(prefix="ann_replay_idem_")
    build_ann_index(head, path, n_centroids=16, m=16, n_codes=32)
    append_to_ann_index(rest, path, batch_key="b000001")
    # the at-least-once replay: same batch, same key — must be a no-op
    # on the posting count (the unit dir is overwritten, not appended)
    append_to_ann_index(rest, path, batch_key="b000001")
    codes = spark.read.parquet(os.path.join(path, "codes"))
    assert codes.count() == n_corpus
    assert codes.select("c_id").distinct().count() == n_corpus
    # ...and the replayed index serves the same results as one-shot
    oneshot = tempfile.mkdtemp(prefix="ann_replay_ref_")
    build_ann_index(c, oneshot, n_centroids=16, m=16, n_codes=32)
    q = e.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("q_id"), "embedding"
    )
    got = {tuple(r) for r in probe_ann_index(spark, path, q, k=10).collect()}
    ref = {tuple(r) for r in probe_ann_index(spark, oneshot, q, k=10).collect()}
    assert got == ref and got

    # unkeyed appends are plain appends: same rows twice -> duplicates
    plain = tempfile.mkdtemp(prefix="ann_replay_plain_")
    build_ann_index(head, plain, n_centroids=16, m=16, n_codes=32)
    append_to_ann_index(rest, plain)
    append_to_ann_index(rest, plain)
    n_rest = rest.count()
    assert (
        spark.read.parquet(os.path.join(plain, "codes")).count()
        == n_corpus + n_rest
    )


def test_append_batch_key_validation_and_rebuild_reset(spark, sf_dir):
    """The ingest-unit key is path-validated ('base' reserved, path-safe
    charset), and a REBUILD over an existing index path clears prior
    append units and any stale tombstone log — without the reset, a
    rebuild's overwrite would only replace the base unit and stale
    postings/tombstones would leak into the new index."""
    import os
    import tempfile

    import pytest as _pytest

    from s4hanaconnector_spark.operators.similarity import (
        _index_tombstones,
        append_to_ann_index,
        build_ann_index,
        delete_from_ann_index,
    )

    e = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    c = e.select(F.col("vec_id").alias("c_id"), "embedding")
    head = c.filter(F.col("c_id") < 64)
    path = tempfile.mkdtemp(prefix="ann_rebuild_reset_")
    build_ann_index(head, path, n_centroids=16, m=16, n_codes=32)
    with _pytest.raises(ValueError, match="base"):
        append_to_ann_index(c.limit(1), path, batch_key="base")
    with _pytest.raises(ValueError, match="batch_key"):
        append_to_ann_index(c.limit(1), path, batch_key="../escape")
    append_to_ann_index(
        c.filter(F.col("c_id") >= 64), path, batch_key="b000001"
    )
    delete_from_ann_index(head.limit(5).select("c_id"), path)
    # rebuild on the same path: only the new corpus may be resident, and
    # the old tombstone log must not haunt the fresh index
    build_ann_index(head, path, n_centroids=16, m=16, n_codes=32)
    assert (
        spark.read.parquet(os.path.join(path, "codes")).count()
        == head.count()
    )
    assert _index_tombstones(spark, path, "c_id") is None


def test_semdedup_from_index_pair_window_matches_inline(spark, sf_dir):
    """The composed rung (index amortization + pair budget) must contract
    EXACTLY like the inline windowed operator on the same corpus — the
    index changes where cells and vectors come from, not what they are —
    and must validate its window/pairing params like the inline path."""
    import tempfile

    import pytest as _pytest

    from s4hanaconnector_spark.operators.dedup import (
        semantic_dedup_from_index,
        semantic_dedup_windowed,
    )
    from s4hanaconnector_spark.operators.similarity import build_ann_index
    from s4hanaconnector_spark.queries.llmops import emb_aug

    d = emb_aug(spark, sf_dir)
    path = tempfile.mkdtemp(prefix="ann_from_idx_win_")
    build_ann_index(d, path, n_centroids=16, m=16, n_codes=32,
                    c_id="vec_id", vec="embedding")
    inline = {
        (r["vec_id"], r["canonical_id"])
        for r in semantic_dedup_windowed(
            d, "vec_id", threshold=0.95, pair_window=8
        ).collect()
    }
    indexed = {
        (r["vec_id"], r["canonical_id"])
        for r in semantic_dedup_from_index(
            spark, path, threshold=0.95, pair_window=8
        ).collect()
    }
    assert indexed == inline and indexed
    with _pytest.raises(ValueError, match="pair_window"):
        semantic_dedup_from_index(spark, path, pair_window=0)
    with _pytest.raises(ValueError, match="pairing"):
        semantic_dedup_from_index(spark, path, pair_window=8, pairing="bad")
