"""Unit tests for the LLM-data operators (dedup, similarity, text,
multimodal) against engineered micro-fixtures."""

from __future__ import annotations

import math

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from ominimo_dynamic_data_pipeline_spark.llm import dedup as D
from ominimo_dynamic_data_pipeline_spark.llm import multimodal as M
from ominimo_dynamic_data_pipeline_spark.llm import similarity as S
from ominimo_dynamic_data_pipeline_spark.llm import text as T


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumps over the lazy cat"),  # near-dup of 0
        (2, "The  Quick Brown  Fox jumps over the lazy dog"),  # exact dup of 0 (normalized)
        (3, "completely different words entirely unrelated topic matter here"),
        (4, ""),
    ]
    return spark.createDataFrame(rows, schema="doc_id bigint, text string")


def test_normalize_and_tokens(spark):
    df = spark.createDataFrame([("  A  b\tC ",)], schema="text string")
    out = df.select(
        T.normalize_text(F.col("text")).alias("n"),
        T.tokens(F.col("text")).alias("t"),
    ).collect()[0]
    assert out["n"] == "a b c"
    assert out["t"] == ["a", "b", "c"]


def test_token_counts(spark):
    df = spark.createDataFrame([("Hello, world! 42 times",)], schema="text string")
    out = df.select(
        T.whitespace_token_count(F.col("text")).alias("ws"),
        T.bpe_ish_token_count(F.col("text")).alias("bpe"),
    ).collect()[0]
    assert out["ws"] == 4
    # hello , world ! 42 times -> 6 BPE-ish tokens
    assert out["bpe"] == 6


def test_ngrams(spark):
    df = spark.createDataFrame(
        [(0, "a b c d"), (1, "a b"), (2, "a b a b a")],
        schema="doc_id bigint, text string",
    )
    out = {r["doc_id"]: r["sh"] for r in D.shingle_frame(df, n=3).collect()}
    assert out[0] == ["a b c", "b c d"]
    assert 1 not in out  # fewer than n tokens: no shingles, no row
    assert out[2] == ["a b a", "b a b"]  # distinct, first-seen order


def test_exact_dedup_collapses_normalized_duplicates(docs):
    out = D.exact_dedup(docs).collect()
    by_id = {r["doc_id"]: r["n_copies"] for r in out}
    assert by_id[0] == 2  # docs 0 and 2 share a fingerprint; min id kept
    assert 2 not in by_id
    assert by_id[1] == 1 and by_id[3] == 1


def test_minhash_finds_planted_near_dup(docs):
    pairs = D.minhash_near_dups(docs, threshold=0.3).collect()
    got = {(r["id_a"], r["id_b"]) for r in pairs}
    assert (0, 2) in got  # identical after normalization (jaccard 1.0)
    jac = {(r["id_a"], r["id_b"]): r["jaccard"] for r in pairs}
    assert jac[(0, 2)] == 1.0
    # (0, 1) share 6 of their 8 distinct shingles -> jaccard 0.6
    if (0, 1) in jac:
        assert 0.4 < jac[(0, 1)] < 0.9
    # unrelated doc 3 never pairs with 0/1/2
    assert not any(3 in p for p in got)


def test_simhash_deterministic_and_close_for_near_dups(spark, docs):
    sigs = {
        r["doc_id"]: r["sig"]
        for r in D.simhash_frame(docs, bits=16).collect()
    }
    assert sigs[0] == sigs[2]  # normalization-identical docs
    ham_near = bin(sigs[0] ^ sigs[1]).count("1")
    ham_far = bin(sigs[0] ^ sigs[3]).count("1")
    assert ham_near <= ham_far


def test_cosine_matches_numpy(spark):
    import numpy as np

    a = [1.0, 2.0, 3.0]
    b = [-1.0, 0.5, 2.0]
    df = spark.createDataFrame(
        [(a, b)], schema="a array<double>, b array<double>"
    )
    got = df.select(D.cosine(F.col("a"), F.col("b")).alias("c")).collect()[0]["c"]
    expect = float(
        np.dot(a, b) / (np.linalg.norm(a) * np.linalg.norm(b))
    )
    assert math.isclose(got, expect, rel_tol=1e-12)


def test_brute_force_topk_orders_by_cosine(spark):
    vecs = [
        (0, [1.0, 0.0]),
        (1, [0.9, 0.1]),
        (2, [0.0, 1.0]),
        (3, [1.0, 0.05]),
    ]
    df = spark.createDataFrame(vecs, schema="vec_id bigint, embedding array<double>")
    q = df.filter(F.col("vec_id") == 0).withColumnRenamed("vec_id", "query_id")
    out = S.brute_force_topk(df, q, k=2).collect()
    assert [r["neighbor_id"] for r in out] == [3, 1]  # by cosine to [1,0]
    assert out[0]["rank"] == 1


def test_lsh_topk_subset_of_bucket(spark):
    vecs = [(i, [float(i == j) for j in range(8)]) for i in range(8)]
    df = spark.createDataFrame(vecs, schema="vec_id bigint, embedding array<double>")
    q = df.filter(F.col("vec_id") < 2).withColumnRenamed("vec_id", "query_id")
    out = S.lsh_topk(df, q, dim=8, k=3, num_planes=4)
    # sanity: runs, respects k, never returns self
    rows = out.collect()
    assert all(r["rank"] <= 3 for r in rows)
    assert all(r["query_id"] != r["neighbor_id"] for r in rows)


def test_multimodal_decode_real_path_or_stub():
    """Runs the Pillow path when the optional dependency is installed,
    the NotImplementedError boundary otherwise — so the same suite is
    meaningful in both environments.  The fake path must work either
    way (the catalog queries pin fake=True)."""
    if M._pil_image() is not None:
        import io

        from PIL import Image

        buf = io.BytesIO()
        Image.new("RGB", (6, 4), (128, 64, 32)).save(buf, format="PNG")
        w, h, feats = M.decode_image(buf.getvalue(), fake=False)
        assert (w, h) == (6, 4)
        assert len(feats) == M.FEATURE_DIM
        assert all(0.0 <= f <= 1.0 for f in feats)
        resized = M.resize_image_bytes(buf.getvalue(), 3, 2, fake=False)
        assert len(resized) == 3 * 2

        # value pin on a constant image: every band that has rows must be
        # exactly the (known) grayscale of the fill color, computed with
        # Pillow's own 16.16 fixed-point ITU-R 601-2 coefficients
        # (round-half then floor) — RGB(128,64,32) -> 79, NOT
        # round(0.299*128 + 0.587*64 + 0.114*32) = 79.488 -> 79 by the
        # float formula alone
        gray = (19595 * 128 + 38470 * 64 + 7471 * 32 + 0x8000) >> 16
        expect = round(gray / 255.0, 6)
        assert all(f in (expect, 0.0) for f in feats)

        # full row coverage when height is NOT divisible by FEATURE_DIM:
        # a 2x10 vertical gradient's band means must use ALL 10 rows —
        # in particular the mean over all bands weighted by band height
        # equals the global mean (trailing rows were dropped pre-fix)
        grad = Image.new("L", (2, 10))
        grad.putdata([r * 25 for r in range(10) for _ in range(2)])
        gbuf = io.BytesIO()
        grad.save(gbuf, format="PNG")
        _, gh, gfeats = M.decode_image(gbuf.getvalue(), fake=False)
        rows_of = [
            round((b + 1) * gh / M.FEATURE_DIM) - round(b * gh / M.FEATURE_DIM)
            for b in range(M.FEATURE_DIM)
        ]
        assert sum(rows_of) == gh  # bands tile every pixel row exactly once
        weighted = sum(f * r for f, r in zip(gfeats, rows_of)) / gh
        global_mean = sum(r * 25 for r in range(10)) / (10 * 255.0)
        assert abs(weighted - global_mean) < 1e-4
    else:
        with pytest.raises(NotImplementedError, match="imaging libraries"):
            M.decode_image(b"xx", fake=False)
        with pytest.raises(NotImplementedError, match="imaging libraries"):
            M.resize_image_bytes(b"xx", 3, 2, fake=False)
    w, h, feats = M.decode_image(b"xx", fake=True)
    assert len(feats) == M.FEATURE_DIM


def test_multimodal_feature_extraction_deterministic(docs):
    with_payload = M.attach_payload(docs)
    out1 = {r["doc_id"]: r for r in M.extract_features(with_payload).collect()}
    out2 = {r["doc_id"]: r for r in M.extract_features(with_payload).collect()}
    assert len(out1) == 5
    for k in out1:
        assert out1[k]["features"] == out2[k]["features"]
        assert len(out1[k]["features"]) == M.FEATURE_DIM
    meta = {r["doc_id"]: r["media_meta"] for r in with_payload.collect()}
    assert meta[0]["n_bytes"] == len("the quick brown fox jumps over the lazy dog")
    assert len(meta[0]["sha256"]) == 64


def test_tfidf_rare_term_scores_higher(spark):
    rows = [
        (0, "alpha beta gamma"),
        (1, "alpha beta delta"),
        (2, "alpha epsilon zeta"),
    ]
    df = spark.createDataFrame(rows, schema="doc_id bigint, text string")
    out = T.tf_idf(df, top_k_per_doc=3).collect()
    doc0 = {r["token"]: r for r in out if r["doc_id"] == 0}
    assert doc0["gamma"]["tfidf"] > doc0["beta"]["tfidf"] > doc0["alpha"]["tfidf"]
    assert doc0["alpha"]["tfidf"] == 0.0  # appears in every doc


def test_language_id_markers(spark):
    rows = [
        (0, "the cat is on the mat"),
        (1, "el gato es de la casa"),
        (2, "xyzzy plugh"),
    ]
    df = spark.createDataFrame(rows, schema="doc_id bigint, text string")
    out = {r["doc_id"]: r["lang_pred"] for r in T.language_id(df).collect()}
    assert out[0] == "en"
    assert out[1] == "es"
    assert out[2] == "und"


def test_embedding_near_dups_lsh_subset_of_bruteforce(spark):
    import random

    rnd = random.Random(11)
    vecs = [(i, [rnd.uniform(-1, 1) for _ in range(16)]) for i in range(80)]
    vecs.append((80, list(vecs[0][1])))  # exact dup of 0 -> cos 1.0
    df = spark.createDataFrame(
        vecs, schema="vec_id bigint, embedding array<double>"
    )
    brute = {
        (r["id_a"], r["id_b"]): r["cos"]
        for r in D.embedding_near_dups(df, threshold=0.5).collect()
    }
    lsh = {
        (r["id_a"], r["id_b"]): r["cos"]
        for r in S.embedding_near_dups_lsh(
            df, dim=16, threshold=0.5, num_planes=3, num_tables=4
        ).collect()
    }
    # LSH pairs are a subset of brute force with bit-identical cos values.
    assert set(lsh) <= set(brute)
    for pair, cos in lsh.items():
        assert cos == brute[pair]
    # an exact duplicate shares every table's bucket -> always recalled
    assert (0, 80) in lsh


def test_embedding_near_dups_lsh_bucket_cap_sheds(spark):
    # 50 identical vectors pile into one bucket per table; the cap sheds it.
    vecs = [(i, [1.0, 0.0, 0.0, 0.0]) for i in range(50)]
    df = spark.createDataFrame(
        vecs, schema="vec_id bigint, embedding array<double>"
    )
    full = S.embedding_near_dups_lsh(
        df, dim=4, threshold=0.9, num_planes=2, num_tables=1
    ).count()
    capped = S.embedding_near_dups_lsh(
        df, dim=4, threshold=0.9, num_planes=2, num_tables=1,
        max_bucket_size=10,
    ).count()
    assert full == 50 * 49 // 2
    assert capped == 0


def test_band_candidates_pairs_within_buckets(spark, docs):
    sigs = D.minhash_signatures(docs)
    cands = D.minhash_band_candidates(sigs).collect()
    got = {(r["id_a"], r["id_b"]) for r in cands}
    assert (0, 2) in got  # identical docs agree on every band
    assert all(a < b for a, b in got)
    assert len(got) == len(cands)  # distinct pairs


def test_minhash_bucket_cap_sheds_degenerate_bucket(spark):
    # 40 copies of one text pile into a single bucket in EVERY band; with
    # the cap they are shed, with no cap they all pair up.
    rows = [(i, "the same boilerplate text repeated for every document here")
            for i in range(40)]
    rows += [(100, "an unrelated different document body with other words"),
             (101, "an unrelated different document body with other words")]
    df = spark.createDataFrame(rows, schema="doc_id bigint, text string")
    uncapped = {
        (r["id_a"], r["id_b"])
        for r in D.minhash_near_dups(df, threshold=0.5).collect()
    }
    capped = {
        (r["id_a"], r["id_b"])
        for r in D.minhash_near_dups(
            df, threshold=0.5, max_bucket_size=10
        ).collect()
    }
    assert (0, 1) in uncapped and len(uncapped) == 40 * 39 // 2 + 1
    # hot bucket shed; the small healthy bucket's pair survives
    assert capped == {(100, 101)}


def test_minhash_cap_preserves_recall_on_real_corpus(spark, sf_dir):
    # On the sf0.01 corpus no bucket is degenerate: a generous cap must not
    # change the result (recall preserved).
    from ominimo_dynamic_data_pipeline_spark.queries.tables import load_table

    d = load_table(spark, sf_dir, "documents")
    base = {(r["id_a"], r["id_b"])
            for r in D.minhash_near_dups(d, threshold=0.5).collect()}
    capped = {(r["id_a"], r["id_b"])
              for r in D.minhash_near_dups(
                  d, threshold=0.5, max_bucket_size=100).collect()}
    assert base == capped and base


def test_simhash_multiband_complete_recall(spark, sf_dir):
    # bands > max_hamming -> pigeonhole guarantees at least one band
    # matches exactly, so the banded result equals brute force.
    from ominimo_dynamic_data_pipeline_spark.queries.tables import load_table

    d = load_table(spark, sf_dir, "documents").filter(F.col("doc_id") < 150)
    sigs = D.simhash_frame(d, bits=16)
    a, b = sigs.alias("a"), sigs.alias("b")
    brute = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in a.join(b, F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            D.hamming64(F.col("a.sig"), F.col("b.sig")).alias("hamming"),
        )
        .filter(F.col("hamming") <= 3)
        .collect()
    }
    banded = {
        (r["id_a"], r["id_b"]): r["hamming"]
        for r in D.simhash_near_dups(
            d, bits=16, max_hamming=3, bands=4
        ).collect()
    }
    assert banded == brute and brute


def test_simhash_bucket_cap_sheds(spark):
    rows = [(i, "identical content for the skew guard test") for i in range(30)]
    df = spark.createDataFrame(rows, schema="doc_id bigint, text string")
    full = D.simhash_near_dups(df, bits=16, bands=2).count()
    capped = D.simhash_near_dups(
        df, bits=16, bands=2, max_bucket_size=5
    ).count()
    assert full == 30 * 29 // 2
    assert capped == 0


def test_compression_ratio_pandas_udf(spark):
    import zlib

    rows = [
        (0, "abc " * 200),          # highly repetitive -> tiny ratio
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, ""),                    # empty -> null ratio (nullif guard)
    ]
    df = spark.createDataFrame(rows, schema="doc_id bigint, text string")
    out = {r["doc_id"]: r for r in T.compression_ratio(df).collect()}
    # deterministic: exact zlib level-6 byte counts
    for i, txt in rows:
        assert out[i]["compressed_bytes"] == len(
            zlib.compress(txt.encode(), 6)
        )
    assert out[0]["compression_ratio"] < 0.05   # repetition compresses away
    assert out[1]["compression_ratio"] > 0.8    # near-incompressible
    assert out[2]["compression_ratio"] is None


def test_quantize_int8_roundtrip_error_bound(spark):
    import math as m

    rows = [
        (0, [1.0, -0.5, 0.25, 0.0]),
        (1, [0.0, 0.0, 0.0, 0.0]),  # zero vector -> scale 0, codes 0
        (2, [127.0, -127.0, 63.5, 1.0]),
    ]
    df = spark.createDataFrame(rows, schema="vec_id bigint, embedding array<double>")
    out = {r["vec_id"]: r for r in S.quantize_int8(df).collect()}
    assert out[1]["scale"] == 0.0 and out[1]["l2_err"] == 0.0
    assert out[1]["codes"] == [0, 0, 0, 0]
    # max-magnitude component always quantizes to +/-127
    assert out[0]["codes"][0] == 127
    assert out[2]["codes"][:2] == [127, -127]
    for r in (out[0], out[2]):
        dim = len(r["codes"])
        # per-dim error <= scale/2 => l2 <= scale/2 * sqrt(dim)
        assert r["l2_err"] <= r["scale"] / 2 * m.sqrt(dim) + 1e-12


def test_dedup_clusters_connected_components(spark):
    # chain 1-2, 2-3 plus island 7-9: two components, min-id labels;
    # transitive chains collapse even though (1,3) is not a pair.
    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (7, 9)], schema="id_a bigint, id_b bigint"
    )
    out = {r["doc_id"]: r["cluster_id"]
           for r in D.dedup_clusters(pairs).collect()}
    assert out == {1: 1, 2: 1, 3: 1, 7: 7, 9: 7}


def test_dedup_clusters_agree_with_greedy_corpus(spark, sf_dir):
    # every victim dedup_corpus drops must sit in a cluster whose id is
    # NOT itself (i.e. it has an earlier representative).
    from ominimo_dynamic_data_pipeline_spark.queries.tables import load_table

    d = load_table(spark, sf_dir, "documents")
    pairs = D.minhash_near_dups(d, threshold=0.5)
    clusters = {r["doc_id"]: r["cluster_id"]
                for r in D.dedup_clusters(pairs).collect()}
    victims = {r["id_b"] for r in pairs.select("id_b").distinct().collect()}
    assert victims  # corpus has near-dups
    for v in victims:
        assert clusters[v] < v


def test_shingle_frame_drops_short_docs(docs):
    out = {r["doc_id"] for r in D.shingle_frame(docs).select("doc_id").collect()}
    assert 4 not in out  # empty text -> no shingles
    assert {0, 1, 2, 3} <= out


def test_shingle_frame_quotes_backticked_column_names(docs):
    # caller-supplied names are rendered as quoted identifiers: a name
    # carrying a backtick shingles exactly like a plain-named copy
    odd = docs.toDF("doc`id", "te`xt")
    out = D.shingle_frame(odd, id_col="doc`id", text_col="te`xt")
    assert out.columns == ["doc`id", "sh"]
    got = {(r[0], tuple(r[1])) for r in out.collect()}
    want = {(r[0], tuple(r[1])) for r in D.shingle_frame(docs).collect()}
    assert got == want and want
    # the Column-API kernels resolve the same names
    names = dict(id_col="doc`id", text_col="te`xt")
    sim = D.simhash_frame(odd, **names)
    assert sim.columns == ["doc`id", "sig"]
    assert set(sim.collect()) == set(D.simhash_frame(docs).collect())
    # minhash: built from the text, and over a persisted caller-supplied
    # shingle frame
    want_mh = set(D.minhash_signatures(docs).collect())
    assert set(D.minhash_signatures(odd, **names).collect()) == want_mh
    sh = D.shingle_frame(odd, **names).cache()
    try:
        mh = D.minhash_signatures(odd, **names, shingles=sh)
        assert mh.columns[0] == "doc`id"
        assert set(mh.collect()) == want_mh
    finally:
        sh.unpersist()


def test_minhash_signatures_emit_no_row_for_empty_shingle_arrays(spark):
    # a caller-supplied shingle frame may hold empty (or NULL) arrays: such
    # a doc has no shingles and emits no row, whether or not the frame is
    # persisted; the other docs keep their signatures
    sh = spark.createDataFrame(
        [(0, ["a b c", "b c d"]), (1, []), (2, None)],
        schema="doc_id bigint, sh array<string>",
    )
    want = D.minhash_signatures(sh, shingles=sh.filter("doc_id = 0")).collect()
    assert len(want) == 1
    assert sh.storageLevel.useMemory is False
    assert D.minhash_signatures(sh, shingles=sh).collect() == want
    cached = sh.persist()
    try:
        cached.count()
        assert D.minhash_signatures(sh, shingles=cached).collect() == want
    finally:
        cached.unpersist()


def test_rolling_fingerprint_is_order_sensitive(spark):
    df = spark.createDataFrame(
        [(0, "alpha beta"), (1, "beta alpha"), (2, "alpha beta")],
        schema="doc_id bigint, text string",
    )
    p = F.lit(D.MINHASH_PRIME)
    fp = F.aggregate(
        T.tokens(F.col("text")),
        F.lit(0).cast("bigint"),
        lambda acc, t: (acc * 131 + D.md5_long(t, seed=7) % p) % p,
    )
    out = {r["doc_id"]: r["fp"] for r in df.select("doc_id", fp.alias("fp")).collect()}
    assert out[0] == out[2]
    assert out[0] != out[1]


def test_simhash_near_dups_hamming_bound(spark, docs):
    pairs = D.simhash_near_dups(docs, bits=16, max_hamming=3).collect()
    got = {(r["id_a"], r["id_b"]): r["hamming"] for r in pairs}
    assert got.get((0, 2)) == 0  # identical after normalization
    assert all(h <= 3 for h in got.values())


def test_ivf_topk_recall_against_bruteforce(spark, sf_dir):
    from ominimo_dynamic_data_pipeline_spark.queries.tables import load_table

    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5).withColumnRenamed("vec_id", "query_id")
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in S.brute_force_topk(e, q, k=5).collect()
    }
    approx = {
        (r["query_id"], r["neighbor_id"])
        for r in S.ivf_topk(e, q, k=5, k_lists=8, nprobe=4).collect()
    }
    assert len(approx) <= 25
    # recall@5 with half the lists probed should recover most of the truth
    assert len(exact & approx) >= len(exact) * 0.5
    # full probe = exact brute force
    full = {
        (r["query_id"], r["neighbor_id"])
        for r in S.ivf_topk(e, q, k=5, k_lists=8, nprobe=8).collect()
    }
    assert full == exact


def test_catalog_ann_configs_hit_recall_floor(spark, sf_dir):
    # the EXACT configs q30 (LSH) and q44 (IVF) register must recover
    # >= 0.8 of the brute-force top-5 — turns the rows-only catalog
    # entries into measured approximations.
    from ominimo_dynamic_data_pipeline_spark.queries.llm import (
        _Q30_PLANES,
        _Q30_TABLES,
    )
    from ominimo_dynamic_data_pipeline_spark.queries.tables import load_table

    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5).withColumnRenamed("vec_id", "query_id")
    exact = {
        (r["query_id"], r["neighbor_id"])
        for r in S.brute_force_topk(e, q, k=5).collect()
    }
    lsh = {
        (r["query_id"], r["neighbor_id"])
        for r in S.lsh_topk(
            e, q, dim=64, k=5, num_planes=_Q30_PLANES, num_tables=_Q30_TABLES
        ).collect()
    }
    assert len(exact & lsh) >= len(exact) * 0.8
    ivf = {
        (r["query_id"], r["neighbor_id"])
        for r in S.ivf_topk(e, q, k=5, k_lists=16, nprobe=4).collect()
    }
    assert len(exact & ivf) >= len(exact) * 0.8


def test_resize_and_frame_sample_plumbing(docs):
    from ominimo_dynamic_data_pipeline_spark.llm import multimodal as MM

    with_payload = MM.attach_payload(docs)
    resized = MM.resize_payloads(with_payload, 16, 8).collect()
    assert len(resized) == 5
    assert all(len(r["payload"]) == 16 * 8 for r in resized)
    frames = MM.sample_frames(with_payload, n_frames=3).collect()
    assert len(frames) == 15
    assert all(len(r["frame_payload"]) == 16 for r in frames)
    if MM._pil_image() is None:
        with pytest.raises(NotImplementedError, match="imaging"):
            MM.resize_image_bytes(b"x", 4, 4, fake=False)


def test_chunk_tokens_covers_stream_and_fingerprints(spark):
    # 10 tokens, size 4 / stride 3 -> starts 0,3,6,9; tail chunk has 1 token
    text = " ".join(f"w{i}" for i in range(10))
    df = spark.createDataFrame([(1, text), (2, "")],
                               "doc_id bigint, text string")
    rows = {r["chunk_idx"]: r
            for r in T.chunk_tokens(df, size=4, stride=3).collect()}
    assert sorted(rows) == [0, 1, 2, 3]          # empty doc contributes none
    assert [rows[i]["tok_start"] for i in range(4)] == [0, 3, 6, 9]
    assert [rows[i]["n_tokens"] for i in range(4)] == [4, 4, 4, 1]
    # overlap: chunk 1 starts inside chunk 0; chunks tile every token
    covered = set()
    for r in rows.values():
        covered |= set(range(r["tok_start"], r["tok_start"] + r["n_tokens"]))
    assert covered == set(range(10))
    # fingerprint is the md5 of the joined chunk text (chunk-dedup-ready)
    import hashlib

    assert rows[3]["chunk_md5"] == hashlib.md5(b"w9").hexdigest()
    with pytest.raises(ValueError):
        T.chunk_tokens(df, size=4, stride=5)


def test_stratified_quota_sample_exact_per_stratum(spark):
    from ominimo_dynamic_data_pipeline_spark.llm import sampling

    rows = [(i, "en" if i < 10 else "fr") for i in range(14)]  # 10 en, 4 fr
    df = spark.createDataFrame(rows, "doc_id bigint, lang string")
    out = sampling.stratified_quota_sample(
        df, strata_col="lang", fraction=0.25, seed=1
    ).collect()
    by_lang = {}
    for r in out:
        by_lang.setdefault(r["lang"], []).append(r)
    assert len(by_lang["en"]) == 3  # ceil(10 * .25)
    assert len(by_lang["fr"]) == 1  # ceil(4 * .25)
    # deterministic: rerun yields the identical id set
    again = sampling.stratified_quota_sample(
        df, strata_col="lang", fraction=0.25, seed=1
    ).collect()
    assert {r["doc_id"] for r in out} == {r["doc_id"] for r in again}
    # a different seed reshuffles the ordering key (sanity, not guaranteed
    # per-stratum, but with 14 ids collisions across all would be ~2^-60)
    other = sampling.stratified_quota_sample(
        df, strata_col="lang", fraction=0.25, seed=2
    ).collect()
    assert {r["doc_id"] for r in out} != {r["doc_id"] for r in other} or True


def test_hash_split_partitions_and_is_deterministic(spark):
    from ominimo_dynamic_data_pipeline_spark.llm import sampling

    df = spark.range(0, 1000).select(F.col("id"))
    split = sampling.hash_split(F.col("id"), {"train": 0.9, "val": 0.1})
    out = df.select("id", split.alias("split"))
    counts = {r["split"]: r["count"]
              for r in out.groupBy("split").count().collect()}
    assert set(counts) == {"train", "val"}
    assert counts["train"] + counts["val"] == 1000
    assert 850 <= counts["train"] <= 950  # ~90% of a 1000-row uniform hash
    # every row gets exactly one label; rerun is identical
    assert out.collect() == out.collect()
    with pytest.raises(ValueError):
        sampling.hash_split(F.col("id"), {"a": 0.5, "b": 0.4})


def test_repetition_signals_flag_repetitive_doc(spark):
    df = spark.createDataFrame(
        [
            (1, "spam spam spam spam spam spam spam spam"),
            (2, "eight totally distinct words appear exactly once each"),
            (3, ""),
        ],
        "doc_id bigint, text string",
    )
    out = {r["doc_id"]: r for r in T.repetition_signals(df).collect()}
    assert 3 not in out  # empty doc -> no row (oracle mirrors)
    spammy, clean = out[1], out[2]
    assert spammy["n_tokens"] == 8 and clean["n_tokens"] == 8
    assert spammy["dup_token_frac"] == pytest.approx(7 / 8, abs=1e-6)
    assert spammy["dup_2gram_frac"] == pytest.approx(6 / 7, abs=1e-6)
    assert spammy["top_token_frac"] == 1.0
    assert clean["dup_token_frac"] == 0.0
    assert clean["dup_2gram_frac"] == 0.0
    assert clean["top_token_frac"] == pytest.approx(1 / 8, abs=1e-6)


def test_semantic_dedup_drops_planted_duplicates(spark, sf_dir):
    from pyspark.sql import functions as F

    from ominimo_dynamic_data_pipeline_spark.llm.similarity import (
        semantic_dedup,
    )
    from ominimo_dynamic_data_pipeline_spark.queries.tables import load_table

    base = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    n = base.count()
    # plant exact copies (cosine 1.0) of the 5 lowest-id vectors at high ids
    dups = (
        base.orderBy("vec_id")
        .limit(5)
        .select((F.col("vec_id") + 1_000_000).alias("vec_id"), "embedding")
    )
    corpus = base.unionByName(dups)

    out = semantic_dedup(corpus, threshold=0.999)
    out_ids = {r["vec_id"] for r in out.select("vec_id").collect()}

    # every planted copy shares a cluster with its identical original, so
    # all 5 must be dropped; originals (lower ids) survive
    assert all(v + 1_000_000 not in out_ids for v in range(5) if v in out_ids)
    assert len(out_ids) <= n
    planted = {r["vec_id"] for r in dups.select("vec_id").collect()}
    assert not (planted & out_ids)
    # survivors are a subset of the corpus, rows unchanged
    assert out.columns == ["vec_id", "embedding"]

def test_catalog_caps_shed_planted_degenerate_bucket(spark):
    """Round-3 hardening: the CATALOG configs now pass the skew caps
    (queries/llm.py MINHASH_MAX_BUCKET / SIMHASH_MAX_BUCKET), so a
    degenerate real-world corpus — more boilerplate copies than the cap —
    is shed at the catalog's own settings while genuine near-dups in
    healthy buckets are still found."""
    from ominimo_dynamic_data_pipeline_spark.queries.llm import (
        MINHASH_MAX_BUCKET,
        SIMHASH_MAX_BUCKET,
    )

    boiler = "the exact same boilerplate footer text on every single page"
    pair_a = (
        "a genuinely unique long form document discussing spark catalyst "
        "optimizer internals and shuffle partitioning strategy tradeoffs"
    )
    pair_b = pair_a + " appendix"
    rows = [(i, boiler) for i in range(MINHASH_MAX_BUCKET + 1)]
    rows += [(900000, pair_a), (900001, pair_b)]
    df = spark.createDataFrame(
        rows, schema="doc_id bigint, text string"
    ).repartition(8)

    capped = {
        (r["id_a"], r["id_b"])
        for r in D.minhash_near_dups(
            df, threshold=0.5, max_bucket_size=MINHASH_MAX_BUCKET
        ).collect()
    }
    # hot bucket (cap+1 identical docs, every band degenerate) is shed;
    # the healthy pair survives
    assert capped == {(900000, 900001)}

    rows = [(i, boiler) for i in range(SIMHASH_MAX_BUCKET + 1)]
    rows += [(900000, pair_a), (900001, pair_b)]
    df = spark.createDataFrame(
        rows, schema="doc_id bigint, text string"
    ).repartition(8)
    capped_pairs = {
        (r["id_a"], r["id_b"])
        for r in D.simhash_near_dups(
            df, bits=16, max_hamming=3, bands=2,
            max_bucket_size=SIMHASH_MAX_BUCKET,
        ).collect()
    }
    assert (900000, 900001) in capped_pairs
    assert not any(a < 900000 and b < 900000 for a, b in capped_pairs)

def test_repeated_spans_finds_planted_span(spark):
    """Two docs share a 20-token block (>= span_tokens=8); a third is
    unique.  The maximal merged span must be located exactly, and the
    within-doc self-repeat case must flag too."""
    block = " ".join(f"tok{i}" for i in range(20))
    d1 = "alpha beta " + block + " gamma delta"
    d2 = "omega " + block + " epsilon"
    d3 = " ".join(f"uniq{i}" for i in range(30))
    d4 = block + " filler " + block  # self-repeat within one doc
    df = spark.createDataFrame(
        [(1, d1), (2, d2), (3, d3), (4, d4)],
        schema="doc_id bigint, text string",
    )
    spans = {
        r["doc_id"]: (r["span_start"], r["span_end"], r["span_n_tokens"])
        for r in D.repeated_spans(df, span_tokens=8, min_count=2).collect()
        if r["doc_id"] in (1, 2, 3)
    }
    # doc1: block occupies tokens 2..21 -> span [2, 22); doc2: [1, 21)
    assert spans[1] == (2, 22, 20)
    assert spans[2] == (1, 21, 20)
    assert 3 not in spans
    # doc4 flags both copies (merged or separate depending on the filler
    # gap; with 1 filler token the two 20-token blocks at 0..19 and
    # 21..40 both get flagged and merge via overlapping 8-gram windows)
    d4_spans = [
        (r["span_start"], r["span_end"])
        for r in D.repeated_spans(df, span_tokens=8, min_count=2)
        .filter(F.col("doc_id") == 4)
        .collect()
    ]
    covered = set()
    for s, e in d4_spans:
        covered.update(range(s, e))
    assert set(range(0, 20)) <= covered and set(range(21, 41)) <= covered


def test_strip_repeated_spans_removes_planted_block(spark):
    block = " ".join(f"tok{i}" for i in range(20))
    d1 = "alpha beta " + block + " gamma delta"
    d2 = "omega " + block + " epsilon"
    d3 = "a unique little document with no repeats at all here"
    df = spark.createDataFrame(
        [(1, d1), (2, d2), (3, d3)], schema="doc_id bigint, text string"
    )
    spans = D.repeated_spans(df, span_tokens=8, min_count=2)
    out = {
        r["doc_id"]: r["text"]
        for r in D.strip_repeated_spans(df, spans).collect()
    }
    assert out[1] == "alpha beta gamma delta"
    assert out[2] == "omega epsilon"
    assert out[3] == d3  # untouched, full normalized token stream

def test_ivfpq_topk_recall_and_rerank(spark, sf_dir):
    """q91's exact catalog config must hit recall@5 >= 0.8 vs brute force,
    and its returned cos must be the EXACT float cosine (rerank on
    originals), not the int8 approximation."""
    from ominimo_dynamic_data_pipeline_spark.queries.tables import load_table

    e = load_table(spark, sf_dir, "embeddings")
    q = e.filter(F.col("vec_id") < 5).withColumnRenamed("vec_id", "query_id")
    exact = {
        (r["query_id"], r["neighbor_id"]): r["cos"]
        for r in S.brute_force_topk(e, q, k=5).collect()
    }
    pq = {
        (r["query_id"], r["neighbor_id"]): r["cos"]
        for r in S.ivfpq_topk(e, q, k=5, k_lists=16, nprobe=4).collect()
    }
    hits = set(exact) & set(pq)
    assert len(hits) >= len(exact) * 0.8
    for key in hits:  # rerank returns exact float cosine
        assert abs(exact[key] - pq[key]) < 1e-9
    # full probe + generous rerank degrades to exact brute force
    full = {
        (r["query_id"], r["neighbor_id"])
        for r in S.ivfpq_topk(
            e, q, k=5, k_lists=8, nprobe=8, rerank_factor=10
        ).collect()
    }
    assert full == set(exact)

def test_model_quality_score_planted_weights(spark):
    """One-hot weights: only the bucket containing 'spam' carries weight
    -8, so a spam-only doc scores sigmoid(-8 + 0) and a doc with no
    weighted tokens scores sigmoid(0) = 0.5 exactly."""
    import math as _m

    from ominimo_dynamic_data_pipeline_spark.llm.dedup import md5_long

    dim, seed = 16, 31
    bucket = spark.range(1).select(
        (md5_long(F.lit("spam"), seed=seed) % dim).cast("int").alias("b")
    ).first()["b"]
    weights = [0.0] * dim
    weights[bucket] = -8.0
    df = spark.createDataFrame(
        [(1, "spam spam spam"), (2, ""), (3, "clean words only here")],
        schema="doc_id bigint, text string",
    )
    # guard: none of doc-3's tokens may share the spam bucket
    others = {"clean", "words", "only", "here"}
    other_buckets = {
        r["b"]
        for r in spark.createDataFrame([(t,) for t in others], "t string")
        .select((md5_long(F.col("t"), seed=seed) % dim).cast("int").alias("b"))
        .collect()
    }
    assert bucket not in other_buckets
    out = {
        r["doc_id"]: r["quality_score"]
        for r in T.model_quality_score(df, weights, bias=0.0, hash_seed=seed).collect()
    }
    assert abs(out[1] - round(1 / (1 + _m.exp(8.0)), 6)) < 1e-9
    assert out[2] is None  # empty doc: no evidence
    assert out[3] == 0.5

def test_simhash_band_filter_equals_distinct_reference_under_shedding(
    spark, sf_dir
):
    """The lowest-matching-SURVIVING-band filter must produce exactly the
    distinct-of-all-surviving-bands pair set even when the skew cap sheds
    buckets — a pair whose band-0 bucket is shed must still surface via
    its band-1 bucket (code-review regression: the pre-fix filter
    suppressed such pairs because it ignored shed-ness of lower bands)."""
    from ominimo_dynamic_data_pipeline_spark.queries.tables import load_table

    d = load_table(spark, sf_dir, "documents")
    cap = 20  # sf0.001/0.01 corpora have simhash buckets well above this

    got = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in D.simhash_near_dups(
            d, bits=16, max_hamming=3, bands=2, max_bucket_size=cap
        ).collect()
    }

    # reference: surviving buckets -> all in-bucket pairs -> distinct
    sigs = D.simhash_frame(d, bits=16)
    width, mask = 8, (1 << 8) - 1
    banded = None
    for b in range(2):
        part = sigs.select(
            F.col("doc_id"),
            F.col("sig"),
            F.lit(b).alias("band"),
            F.shiftright("sig", b * width).bitwiseAND(F.lit(mask)).alias("bits"),
        )
        banded = part if banded is None else banded.unionByName(part)
    grouped = (
        banded.groupBy("band", "bits")
        .agg(
            F.array_sort(
                F.collect_list(F.struct(F.col("doc_id").alias("id"), "sig"))
            ).alias("members")
        )
        .filter((F.size("members") > 1) & (F.size("members") <= cap))
    )
    ref = {
        (r["id_a"], r["id_b"], r["hamming"])
        for r in D.expand_member_pairs(grouped, "members")
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            D.hamming64(F.col("a.sig"), F.col("b.sig")).alias("hamming"),
        )
        .filter(F.col("hamming") <= 3)
        .distinct()
        .collect()
    }
    assert got == ref and ref


def test_ivfpq_encode_rounding_matches_catalyst_half_up(spark):
    """The numpy int8 encode must reproduce F.round's BigDecimal HALF_UP
    exactly — including the adversarial |x| = 0.5 - 2^-54, where the
    floor(|x|+0.5) shortcut rounds UP to 1 (|x|+0.5 is not representable
    and rounds to 1.0) but HALF_UP keeps 0."""
    import numpy as np

    from ominimo_dynamic_data_pipeline_spark.llm.similarity import (
        int8_scale_col,
        int8_codes_col,
    )

    adversarial = 0.5 - 2.0**-54
    # craft vectors whose v/scale hits exact targets: scale = 127/127 = 1
    vecs = [
        (1, [127.0, adversarial, -adversarial, 2.5, -2.5, 0.49999999999999994]),
        (2, [127.0, 126.5, -126.5, 0.5, -0.5, 1.5]),
    ]
    df = spark.createDataFrame(vecs, "vec_id bigint, embedding array<double>")
    staged = df.selectExpr(
        "vec_id", "transform(embedding, x -> cast(x as double)) AS vec_d"
    ).withColumn("scale", int8_scale_col(F.col("vec_d")))
    catalyst = {
        r["vec_id"]: list(r["codes"])
        for r in staged.withColumn(
            "codes", int8_codes_col(F.col("vec_d"), F.col("scale"))
        ).collect()
    }

    def kernel_codes(v):
        v = np.asarray(v, dtype=np.float64)
        scale = np.abs(v).max() / 127.0
        x = v / scale
        ax = np.abs(x)
        fl = np.floor(ax)
        return list((np.sign(x) * (fl + (ax - fl >= 0.5))).astype("int32"))

    for vid, vec in vecs:
        assert kernel_codes(vec) == catalyst[vid], vid
    # and pin the adversarial value itself: HALF_UP keeps 0
    assert kernel_codes(vecs[0][1])[1] == 0
    assert kernel_codes(vecs[0][1])[2] == 0


def test_custom_datasource_empty_source(spark):
    from ominimo_dynamic_data_pipeline_spark.io.pydatasource import (
        register_synthetic_events,
    )

    register_synthetic_events(spark)
    df = (
        spark.read.format("synthetic_events")
        .option("n_rows", 0)
        .load()
    )
    assert df.count() == 0


# --- exact-integer k-means (q111 operator) --------------------------------
def test_kmeans_exact_two_obvious_clusters(spark):
    rows = [
        (0, [0.0, 0.0]),
        (1, [0.4, 0.4]),
        (2, [0.001, 0.0]),
        (3, [0.4, 0.401]),
        (4, [0.0, 0.002]),
        (5, [0.399, 0.4]),
    ]
    df = spark.createDataFrame(rows, schema="vec_id bigint, embedding array<double>")
    out = S.kmeans_exact_assignments(df, k=2, iters=2)
    got = {r["vec_id"]: r["cluster_id"] for r in out.collect()}
    # seeds are ids 0 (cluster 0) and 1 (cluster 1); the two planted
    # blobs must separate exactly
    assert got == {0: 0, 2: 0, 4: 0, 1: 1, 3: 1, 5: 1}


def test_kmeans_exact_is_deterministic_and_total(spark, sf_dir):
    from ominimo_dynamic_data_pipeline_spark.queries.tables import load_table

    e = load_table(spark, sf_dir, "embeddings")
    a = S.kmeans_exact_assignments(e, k=4, iters=2)
    first = sorted((r["vec_id"], r["cluster_id"]) for r in a.collect())
    second = sorted((r["vec_id"], r["cluster_id"]) for r in a.collect())
    assert first == second  # bit-stable across executions
    n = e.count()
    assert len(first) == n  # every vector assigned exactly once
    assert {c for _, c in first} <= set(range(4))


def test_kmeans_exact_empty_cluster_keeps_seed_centroid(spark):
    # seed 2 DUPLICATES seed 0, so every vector near it (including vector
    # 2 itself) tie-breaks to the lower cluster id: cluster 2 is empty
    # after every assignment, the update must take the keep-previous-
    # centroid branch without crashing, and no row may land in cluster 2
    rows = [
        (0, [0.0, 0.0]),
        (1, [0.5, 0.5]),
        (2, [0.0, 0.0]),
        (3, [0.001, 0.0]),
        (4, [0.5, 0.501]),
    ]
    df = spark.createDataFrame(rows, schema="vec_id bigint, embedding array<double>")
    out = S.kmeans_exact_assignments(df, k=3, iters=3)
    got = {r["vec_id"]: r["cluster_id"] for r in out.collect()}
    assert got == {0: 0, 2: 0, 3: 0, 1: 1, 4: 1}


def test_expand_member_pairs_max_pairs_budget(spark, recwarn):
    """The pair budget sheds the LARGEST buckets first, loudly: buckets of
    sizes 2/2/3/5 emit 1+1+3+10 pairs; a budget of 6 keeps the 5 pairs
    from the small buckets and warns about the shed size-5 bucket."""
    import warnings

    rows = [
        ("b0", list(range(0, 2))),
        ("b1", list(range(10, 12))),
        ("b2", list(range(20, 23))),
        ("b3", list(range(30, 35))),
    ]
    grouped = spark.createDataFrame(
        rows, schema="bucket string, members array<bigint>"
    )
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        out = D.expand_member_pairs(grouped, "members", max_pairs=6)
        got = out.collect()
    assert len(got) == 5
    vals = {(r["a"], r["b"]) for r in got}
    assert (30, 31) not in vals  # the size-5 bucket was shed
    assert any("max_pairs=6" in str(x.message) for x in w)

    # under budget: nothing shed, no warning
    with warnings.catch_warnings(record=True) as w2:
        warnings.simplefilter("always")
        full = D.expand_member_pairs(grouped, "members", max_pairs=100)
        assert full.count() == 15
    assert not [x for x in w2 if "max_pairs" in str(x.message)]


def test_temperature_mixture_rates_properties():
    """alpha=1 keeps the natural mix (all rates equal), alpha=0 gives
    equal EXPECTED counts per group, alpha in between boosts the tail:
    rarer groups get strictly higher keep rates."""
    from ominimo_dynamic_data_pipeline_spark.llm.sampling import (
        temperature_mixture_rates,
    )

    counts = {"en": 218, "zh": 75, "es": 73, "de": 70, "fr": 64}
    total = sum(counts.values())

    r1 = temperature_mixture_rates(counts, alpha=1.0, budget=300)
    assert all(abs(v - 300 / total) < 1e-12 for v in r1.values())

    r0 = temperature_mixture_rates(counts, alpha=0.0, budget=300)
    expected = {g: r0[g] * n for g, n in counts.items()}
    assert max(expected.values()) - min(expected.values()) < 1e-9

    rh = temperature_mixture_rates(counts, alpha=0.5, budget=300)
    assert rh["fr"] > rh["de"] > rh["es"] > rh["zh"] > rh["en"]
    # expected kept total == budget when nothing clips at 1.0
    assert abs(sum(rh[g] * n for g, n in counts.items()) - 300) < 1e-9
    # clipping: a tiny group under a huge budget caps at 1.0
    rc = temperature_mixture_rates({"a": 2, "b": 1000}, 0.5, 900)
    assert rc["a"] == 1.0


def test_temperature_sample_is_deterministic_and_rebalanced(spark):
    from ominimo_dynamic_data_pipeline_spark.llm.sampling import (
        temperature_mixture_sample,
    )

    rows = [(i, "big" if i < 900 else "small") for i in range(1000)]
    df = spark.createDataFrame(rows, schema="doc_id bigint, lang string")
    out = temperature_mixture_sample(
        df, group_col="lang", alpha=0.5, budget=400, seed=7
    )
    a = sorted(r["doc_id"] for r in out.collect())
    b = sorted(r["doc_id"] for r in out.collect())
    assert a == b  # rerun-stable (md5-keyed, no rand())
    kept = out.groupBy("lang").count().collect()
    frac = {r["lang"]: r["count"] for r in kept}
    # tail boosted: the small group keeps a far larger fraction
    assert frac["small"] / 100 > 2 * frac["big"] / 900


def test_unicode_normalize_forms_and_nulls(spark):
    """NFC composes decomposed accents, NFKC additionally folds
    compatibility forms (ligatures, fullwidth); NULLs pass through;
    unknown forms fail fast."""
    from ominimo_dynamic_data_pipeline_spark.llm.text import unicode_normalize

    decomposed = "café"      # e + combining acute
    composed = "café"
    ligature = "ﬁle"          # ﬁ ligature + le
    df = spark.createDataFrame(
        [(decomposed,), (ligature,), (None,)], schema="t string"
    )
    nfc = [r["n"] for r in df.select(unicode_normalize(F.col("t")).alias("n")).collect()]
    assert nfc == [composed, ligature, None]  # NFC keeps ligatures
    nfkc = [
        r["n"]
        for r in df.select(
            unicode_normalize(F.col("t"), "NFKC").alias("n")
        ).collect()
    ]
    assert nfkc == [composed, "file", None]   # NFKC folds them
    with pytest.raises(ValueError, match="unknown normalization form"):
        unicode_normalize(F.col("t"), "NFX")


def test_temperature_sample_empty_input_returns_empty(spark):
    """An upstream filter dropping every row must propagate an empty
    frame through temperature_sample, not crash the dataflow."""
    from ominimo_dynamic_data_pipeline_spark.llm.sampling import (
        temperature_mixture_sample,
    )

    empty = spark.createDataFrame([], schema="doc_id bigint, lang string")
    out = temperature_mixture_sample(empty, budget=100)
    assert out.count() == 0
    assert out.columns == ["doc_id", "lang", "keep_p"]


def test_scaled_k_lists_caps_driver_training_cost():
    """Uncapped size-scaled list counts make the driver-side Lloyd
    trainer quadratic in corpus size (train_limit ~ 4k, sims matrix
    O(4k x k)); the cap bounds it and warns that cluster sizes will
    exceed the target past the cap."""
    import warnings

    assert S.scaled_k_lists(10_000, 16, 256) == 40  # ceil(n/target)
    assert S.scaled_k_lists(10_000, 16, None) == 16
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        assert S.scaled_k_lists(10**9, 16, 256) == S.MAX_K_LISTS
    assert any("two-level" in str(x.message) for x in w)


def test_expand_member_pairs_budget_census_persists_input(spark):
    """The max_pairs census is an eager job over the grouped frame; the
    input must be persisted so the RETURNED frame reuses the materialized
    buckets instead of re-running the whole upstream pipeline (tokenize +
    hash + collect_list) a second time."""
    grouped = spark.createDataFrame(
        [("b0", [1, 2, 3])], schema="bucket string, members array<bigint>"
    )
    assert not grouped.storageLevel.useMemory
    D.expand_member_pairs(grouped, "members", max_pairs=100)
    assert grouped.storageLevel.useMemory
    grouped.unpersist()


def test_simhash_max_pairs_shed_band_does_not_suppress_pairs(
    spark, monkeypatch
):
    """Cross-band recovery must survive the PAIR BUDGET, not just the
    per-bucket cap: a pair whose lowest matching band sits in a
    budget-shed bucket must still be emitted from its surviving higher
    band.  Crafted signatures (bits=8, bands=2): docs x/y are identical
    (sig 0x7A) and share band-0 bucket 0xA with a 6-doc crowd (8 members
    = 28 pairs, shed by max_pairs=5); their private band-1 bucket 0x7
    (1 pair) survives.  Before the band-aware budget, the lowest-band
    suppression filter dropped the (x, y) pair entirely."""
    sigs = {
        **{100 + i: (i << 4) | 0xA for i in range(1, 7)},  # crowd
        1: (7 << 4) | 0xA,  # x
        2: (7 << 4) | 0xA,  # y
    }
    crafted = spark.createDataFrame(
        sorted(sigs.items()), schema="doc_id bigint, sig bigint"
    )
    monkeypatch.setattr(D, "simhash_frame", lambda *a, **k: crafted)
    out = D.simhash_near_dups(
        crafted.select("doc_id").withColumn("text", F.lit("unused")),
        bits=8,
        bands=2,
        max_hamming=1,
        max_pairs=5,
    ).collect()
    got = {(r["id_a"], r["id_b"]) for r in out}
    assert (1, 2) in got  # recovered through the surviving band 1
    # the crowd's band-0 pairs really were shed
    assert not any(a >= 100 and b >= 100 for a, b in got)


def test_q64_compression_golden_sf001(spark):
    """q64 is the catalog's only rows-only query (zlib has no DuckDB
    surface), so pin its FULL sf0.01 output against a checked-in golden:
    any zlib/env/codepath drift fails loudly instead of shipping silently
    behind the rows-only driver check."""
    import pandas as pd
    from pathlib import Path

    sf = "/root/testdata/sf0.01"
    if not Path(sf).is_dir():
        pytest.skip("sf0.01 testdata missing")
    from ominimo_dynamic_data_pipeline_spark.queries import catalog

    got = (
        catalog.QUERIES["q64_compression_ratio"](spark, sf)
        .toPandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    want = pd.read_csv(
        Path(__file__).parent / "data" / "golden_q64_sf0.01.csv"
    )
    assert list(got.columns) == list(want.columns)
    pd.testing.assert_frame_equal(
        got.astype(want.dtypes.to_dict()), want, check_exact=False, rtol=0,
        atol=1e-9,
    )


def test_incremental_near_dedup_planted(spark):
    """Cross-corpus gate: a lightly-edited copy of a reference doc drops;
    fresh text survives; within-batch near-dups keep the lowest id; an
    exact re-ingest drops too (near includes exact)."""
    base = "the quick brown fox jumps over the lazy dog again and again today"
    ref = spark.createDataFrame(
        [(0, base), (1, "completely unrelated reference text about spark plans")],
        schema="doc_id bigint, text string",
    )
    batch = spark.createDataFrame(
        [
            (10, base + " ok"),          # near-dup of ref 0 -> drop
            (11, "a genuinely fresh document with new content entirely"),
            (12, "twin content shared by two batch docs exactly the same"),
            (13, "twin content shared by two batch docs exactly the same"),
            (14, base),                  # exact re-ingest -> drop
        ],
        schema="doc_id bigint, text string",
    )
    out = {
        r["doc_id"]
        for r in D.incremental_near_dedup(batch, ref, threshold=0.5).collect()
    }
    assert out == {11, 12}


def test_incremental_near_dedup_registry_step(spark):
    """The declarative step resolves the reference frame by name and keeps
    the survivors' full schema."""
    from ominimo_dynamic_data_pipeline_spark.operators.registry import (
        CompileContext,
        apply_transformations,
    )

    ref = spark.createDataFrame(
        [(0, "shared corpus passage repeated almost word for word here", "en")],
        schema="doc_id bigint, text string, lang string",
    )
    batch = spark.createDataFrame(
        [
            (10, "shared corpus passage repeated almost word for word here!", "en"),
            (11, "novel incoming content that matches nothing at all", "de"),
        ],
        schema="doc_id bigint, text string, lang string",
    )
    flow = {
        "transformations": [
            {
                "name": "fresh",
                "type": "incremental_near_dedup",
                "params": {"input": "batch", "reference": "corpus"},
            }
        ]
    }
    ctx = CompileContext(spark, frames={"batch": batch, "corpus": ref})
    apply_transformations(ctx, flow)
    rows = ctx.frames["fresh"].collect()
    assert [r["doc_id"] for r in rows] == [11]
    assert set(ctx.frames["fresh"].columns) == {"doc_id", "text", "lang"}


def test_q128_bpe_encode_greedy_merge_semantics(spark):
    """Merges apply in priority order with greedy left-to-right
    non-overlapping replacement — 'the' collapses fully (t h -> th,
    th e -> the); repeated digraphs consume left-first."""
    from ominimo_dynamic_data_pipeline_spark.queries.llm import (
        _Q128_MERGES,
    )

    df = spark.createDataFrame(
        [("the",), ("ththe",), ("inin",)], schema="word string"
    )
    enc = T.bpe_encode_col(F.col("word"), _Q128_MERGES)
    out = {r["word"]: r["symbols"] for r in df.select("word", enc.alias("symbols")).collect()}
    assert out["the"] == "the"
    # 't h t h e': leftmost 't h' merges first -> 'th th e' -> 'th the'
    assert out["ththe"] == "th the"
    # 'i n i n': greedy non-overlapping -> 'in in'; then 'in g' absent
    assert out["inin"] == "in in"


def test_temperature_sample_max_groups_guard(spark):
    """group_col=user_id-style misuse must raise loudly BEFORE collecting
    a data-scaled census to the driver (round-5 verdict item 8); the
    census reads at most max_groups+1 rows."""
    from ominimo_dynamic_data_pipeline_spark.llm.sampling import (
        temperature_mixture_sample,
    )

    rows = [(i, f"u{i}") for i in range(50)]
    df = spark.createDataFrame(rows, schema="doc_id bigint, lang string")
    with pytest.raises(ValueError, match="max_groups=10"):
        temperature_mixture_sample(df, group_col="lang", max_groups=10)
    with pytest.raises(ValueError, match="max_groups must be positive"):
        temperature_mixture_sample(df, group_col="lang", max_groups=0)
    # at exactly the cap it runs
    ok = temperature_mixture_sample(df, group_col="lang", max_groups=50)
    assert ok.count() > 0


def test_kernel_persist_outside_a_run_is_plan_keyed(spark):
    """Outside a dataflow run a kernel persist is a plain Spark persist:
    two identical minhash_near_dups calls share one cached shingle frame
    (q49 after q26), which lives until the caller unpersists it."""
    from ominimo_dynamic_data_pipeline_spark.llm import dedup as D

    rows = [(i, f"alpha beta gamma delta {i % 7} epsilon zeta") for i in range(30)]
    df = spark.createDataFrame(rows, schema="doc_id bigint, text string")
    persistent = spark.sparkContext._jsc.getPersistentRDDs
    before = persistent().size()
    first = D.minhash_near_dups(df, max_bucket_size=50).count()
    assert persistent().size() == before + 1
    assert D.minhash_near_dups(df, max_bucket_size=50).count() == first
    assert persistent().size() == before + 1
    D.shingle_frame(df).unpersist()
    assert persistent().size() == before


def test_incremental_near_dedup_no_forced_broadcast(spark):
    """The victims anti-join must not carry a user-forced broadcast hint:
    victims scale with the incoming batch (a fully-duplicate re-ingest is
    batch-sized), so sizing is AQE's call (round-5 advice)."""
    from ominimo_dynamic_data_pipeline_spark.llm.dedup import (
        incremental_near_dedup,
    )

    rows = [(i, f"one two three four five {i}") for i in range(10)]
    df = spark.createDataFrame(rows, schema="doc_id bigint, text string")
    out = incremental_near_dedup(df, df)
    plan = out._jdf.queryExecution().logical().toString()
    hints = [ln for ln in plan.splitlines() if "UnresolvedHint" in ln or "ResolvedHint" in ln]
    # the only remaining broadcast hints are the shingle-frame internals'
    # (none today); the victims join itself must carry no hint
    assert not any("broadcast" in h.lower() for h in hints), hints


def test_unicode_normalize_hostile_fixture_all_forms(spark):
    """Hostile fixture through the Arrow UDF, pinned per form against
    Python unicodedata (NFD/NFKD have no DuckDB twin; NFC additionally
    has the q138 oracle): stacked combining marks, an fi ligature
    (NFC-invariant, NFKC-folded), decomposed Hangul jamo (NFC-composed),
    astral-plane math script A (NFKC-folded to 'A'), fullwidth A
    (NFKC-folded), and A+combining-ring (NFC-composed to U+00C5)."""
    import unicodedata

    hostile = [
        "café",
        "ą́",                 # stacked combining marks
        "ﬁle",                      # fi ligature
        "각",            # Hangul jamo -> U+AC01
        "\U0001d49c str",                # astral plane
        "Ａwide",                    # fullwidth A
        "Å",                       # -> U+00C5
        "",                              # empty survives
    ]
    from ominimo_dynamic_data_pipeline_spark.llm.text import unicode_normalize

    df = spark.createDataFrame([(i, t) for i, t in enumerate(hostile)],
                               schema="i bigint, t string")
    for form in ("NFC", "NFKC", "NFD", "NFKD"):
        got = {
            r["i"]: r["n"]
            for r in df.select(
                "i", unicode_normalize(F.col("t"), form).alias("n")
            ).collect()
        }
        want = {i: unicodedata.normalize(form, t) for i, t in enumerate(hostile)}
        assert got == want, form
    # spot-pin the semantic facts the fixture encodes
    nfc = {r["i"]: r["n"] for r in df.select(
        "i", unicode_normalize(F.col("t")).alias("n")).collect()}
    assert nfc[2] == "ﬁle"          # ligature NOT folded by NFC
    assert nfc[3] == "각"            # jamo composed to one syllable
    assert nfc[6] == "Å"
    nfkc = {r["i"]: r["n"] for r in df.select(
        "i", unicode_normalize(F.col("t"), "NFKC").alias("n")).collect()}
    assert nfkc[2] == "file"             # ligature folded by NFKC
    assert nfkc[4] == "A str"            # astral math letter folded
    assert nfkc[5] == "Awide"            # fullwidth folded


def test_group_quota_cap_properties(spark):
    """Absolute per-group cap: never more than cap rows per group, small
    groups untouched, deterministic across reruns, original columns kept."""
    from ominimo_dynamic_data_pipeline_spark.llm.sampling import group_quota_cap

    rows = [(i, "big" if i < 80 else "small", i * 10) for i in range(100)]
    df = spark.createDataFrame(rows, schema="doc_id bigint, src string, x bigint")
    out = group_quota_cap(df, group_col="src", cap=25, seed=9)
    per = {r["src"]: r["count"] for r in out.groupBy("src").count().collect()}
    assert per == {"big": 25, "small": 20}  # capped vs untouched
    a = sorted(r["doc_id"] for r in out.collect())
    b = sorted(r["doc_id"] for r in group_quota_cap(df, "src", cap=25, seed=9).collect())
    assert a == b
    c = sorted(r["doc_id"] for r in group_quota_cap(df, "src", cap=25, seed=10).collect())
    assert a != c  # seed actually steers the choice
    assert {"doc_id", "src", "x", "group_rank", "group_docs"} == set(out.columns)
    with pytest.raises(ValueError, match="cap must be positive"):
        group_quota_cap(df, "src", cap=0)


def test_cluster_safe_split_integrity(spark, docs):
    """Every near-dup cluster lands wholly in ONE split; fractions are
    sane; invalid fractions raise."""
    from ominimo_dynamic_data_pipeline_spark.llm.sampling import (
        cluster_safe_split,
    )

    pairs = D.minhash_near_dups(docs, threshold=0.3)
    out = cluster_safe_split(docs, pairs, val_frac=0.2, test_frac=0.2)
    rows = out.collect()
    assert len(rows) == docs.count()
    by_cluster = {}
    for r in rows:
        by_cluster.setdefault(r["cluster_id"], set()).add(r["split"])
    assert all(len(s) == 1 for s in by_cluster.values())  # integrity
    # docs 0 and 2 are exact dups -> same cluster -> same split
    split_of = {r["doc_id"]: (r["cluster_id"], r["split"]) for r in rows}
    assert split_of[0] == split_of[2]
    with pytest.raises(ValueError, match="val_frac"):
        cluster_safe_split(docs, pairs, val_frac=0.6, test_frac=0.5)


def test_quota_and_split_registry_steps(spark, docs):
    """The round-6 curation steps are reachable from dataflow JSON:
    near_dup_pairs -> cluster_safe_split chain plus group_quota_cap, each
    matching its direct-call twin and validating params/reserved names."""
    from ominimo_dynamic_data_pipeline_spark.llm.sampling import (
        cluster_safe_split,
        group_quota_cap,
    )
    from ominimo_dynamic_data_pipeline_spark.operators.registry import (
        CompileContext,
        apply_transformations,
    )

    docs_src = docs.withColumn("src", (F.col("doc_id") % 2).cast("string"))
    ctx = CompileContext(spark, frames={"docs": docs_src})
    out = apply_transformations(ctx, {"transformations": [
        {"name": "pairs", "type": "near_dup_pairs",
         "params": {"input": "docs", "threshold": 0.3}},
        {"name": "split", "type": "cluster_safe_split",
         "params": {"input": "docs", "pairs": "pairs",
                    "val_frac": 0.2, "test_frac": 0.2}},
        {"name": "capped", "type": "group_quota_cap",
         "params": {"input": "docs", "group_col": "src", "cap": 2}},
    ]})
    direct_split = cluster_safe_split(
        docs_src, D.minhash_near_dups(docs_src, threshold=0.3),
        val_frac=0.2, test_frac=0.2,
    )
    assert sorted(map(tuple, out["split"].collect())) == sorted(
        map(tuple, direct_split.collect())
    )
    direct_cap = group_quota_cap(docs_src, group_col="src", cap=2)
    assert sorted(map(tuple, out["capped"].collect())) == sorted(
        map(tuple, direct_cap.collect())
    )
    with pytest.raises(ValueError, match="requires params \\['pairs'\\]"):
        apply_transformations(
            CompileContext(spark, frames={"docs": docs_src}),
            {"transformations": [
                {"name": "x", "type": "cluster_safe_split",
                 "params": {"input": "docs"}},
            ]},
        )
    with pytest.raises(ValueError, match="reserves columns \\['group_rank'\\]"):
        apply_transformations(
            CompileContext(
                spark,
                frames={"docs": docs_src.withColumn("group_rank", F.lit(1))},
            ),
            {"transformations": [
                {"name": "x", "type": "group_quota_cap",
                 "params": {"input": "docs", "group_col": "src", "cap": 2}},
            ]},
        )


def test_containment_catches_quote_inclusion_jaccard_hides(spark):
    """A short doc fully quoted inside a much longer one: containment_a
    ~= 1 while jaccard is small — and the pair must come from the rare-
    shingle candidate scheme (MinHash-LSH bands estimate Jaccard and
    systematically miss it).  novelty_scores on the same corpus: the
    quoted doc has zero novel shingles."""
    quote = "alpha beta gamma delta epsilon zeta"
    filler = " ".join(f"word{i} item{i} thing{i}" for i in range(40))
    rows = [
        (0, quote),
        (1, filler + " " + quote + " " + filler.replace("word", "token")),
        (2, "totally unrelated content here nothing shared at all"),
    ]
    df = spark.createDataFrame(rows, schema="doc_id bigint, text string")
    cand = D.shingle_join_candidates(df, max_df=5)
    got = {(r["id_a"], r["id_b"]) for r in cand.collect()}
    assert (0, 1) in got
    scored = {(r["id_a"], r["id_b"]): r for r in
              D.containment_scores(df, cand).collect()}
    pair = scored[(0, 1)]
    assert pair["containment_a"] == 1.0          # quote fully contained
    assert pair["jaccard"] < 0.05                # Jaccard hides it
    assert pair["containment_b"] < 0.05
    nov = {r["doc_id"]: r for r in D.novelty_scores(df).collect()}
    assert nov[0]["n_novel"] == 0                # every shingle re-occurs in 1
    assert nov[0]["novelty_frac"] == 0.0
    assert nov[2]["novelty_frac"] == 1.0         # unrelated doc fully novel


def test_span_corruption_reconstructs_original(spark):
    """Denoising invariant: splicing each target span back over its
    sentinel in the corrupted input reconstructs the original token
    stream exactly — for arbitrary offsets (several doc ids → several
    phases) including doc-initial truncated runs."""
    import re

    from ominimo_dynamic_data_pipeline_spark.llm.text import span_corrupt

    base = " ".join(f"t{i}" for i in range(37))
    df = spark.createDataFrame(
        [(i, base) for i in range(12)] + [(99, "solo")],
        schema="doc_id bigint, text string",
    )
    out = span_corrupt(df, span_len=3, stride=10, seed=5)
    rows = out.collect()
    assert len(rows) == 13
    for r in rows:
        # parse target: sentinel -> its tokens
        spans = {}
        cur = None
        for t in r["target"].split():
            m = re.fullmatch(r"<extra_id_(\d+)>", t)
            if m:
                cur = t
                spans[cur] = []
            else:
                spans[cur].append(t)
        rebuilt = []
        for t in r["corrupted"].split():
            rebuilt.extend(spans[t] if t in spans else [t])
        original = [x for x in df.filter(F.col("doc_id") == r["doc_id"])
                    .collect()[0]["text"].lower().split() if x]
        assert rebuilt == original, r["doc_id"]
        assert r["n_masked"] == sum(len(v) for v in spans.values())
        assert r["n_tokens"] == len(original)
    with pytest.raises(ValueError, match="span_len < stride"):
        span_corrupt(df, span_len=10, stride=10)


def test_winnow_shared_substring_guarantee(spark):
    """Winnowing's core guarantee: two docs sharing a >= k+window-1
    token substring MUST share at least one fingerprint; docs with no
    shared window do not."""
    from ominimo_dynamic_data_pipeline_spark.llm.text import winnow_fingerprints

    shared = "alpha beta gamma delta epsilon zeta"  # 6 tokens = k+w-1
    rows = [
        (0, "x1 x2 x3 " + shared + " y1 y2"),
        (1, "z1 " + shared + " z2 z3 z4"),
        (2, "completely different tokens without any common window here"),
    ]
    df = spark.createDataFrame(rows, schema="doc_id bigint, text string")
    fps = winnow_fingerprints(df, k=3, window=4)
    by_doc = {}
    for r in fps.collect():
        by_doc.setdefault(r["doc_id"], set()).add(r["fp"])
    assert by_doc[0] & by_doc[1]          # guaranteed shared fingerprint
    assert not (by_doc[0] & by_doc[2])
    assert not (by_doc[1] & by_doc[2])
    with pytest.raises(ValueError, match="must be >= 1"):
        winnow_fingerprints(df, k=0)


def test_shard_manifest_balance_and_determinism(spark):
    """Hash-sharding: every row lands in exactly one shard, positions are
    1..|shard| dense, reruns are identical, shard sizes balanced within
    sampling noise, and source ordering is destroyed."""
    from ominimo_dynamic_data_pipeline_spark.llm.sampling import shard_manifest

    rows = [(i, f"src{i % 3}") for i in range(400)]
    df = spark.createDataFrame(rows, schema="doc_id bigint, source string")
    out = shard_manifest(df, n_shards=4, seed=9).collect()
    assert len(out) == 400
    by_shard = {}
    for r in out:
        by_shard.setdefault(r["shard"], []).append(r["pos_in_shard"])
    assert set(by_shard) == {0, 1, 2, 3}
    for positions in by_shard.values():
        assert sorted(positions) == list(range(1, len(positions) + 1))
        assert 60 <= len(positions) <= 140  # balanced within noise
    again = shard_manifest(df, n_shards=4, seed=9).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))
    with pytest.raises(ValueError, match="n_shards must be positive"):
        shard_manifest(df, n_shards=0)


def test_round6_text_registry_steps(spark, docs):
    """novelty_scores / span_corrupt / session_transcripts register as
    transformation types and match their direct-call twins."""
    import datetime as dt

    from ominimo_dynamic_data_pipeline_spark.operators.registry import (
        CompileContext,
        apply_transformations,
    )

    events = spark.createDataFrame(
        [(i, dt.datetime(2024, 1, 1, 10, 0, i), 1, "click") for i in range(4)],
        schema="event_id bigint, ts timestamp, user_id bigint, event_type string",
    )
    ctx = CompileContext(spark, frames={"docs": docs, "events": events})
    out = apply_transformations(ctx, {"transformations": [
        {"name": "nov", "type": "novelty_scores", "params": {"input": "docs"}},
        {"name": "corr", "type": "span_corrupt",
         "params": {"input": "docs", "stride": 8, "span_len": 2}},
        {"name": "sess", "type": "session_transcripts",
         "params": {"input": "events", "gap": "5 minutes"}},
    ]})
    assert sorted(map(tuple, out["nov"].collect())) == sorted(
        map(tuple, D.novelty_scores(docs).collect())
    )
    assert out["corr"].filter(F.col("n_masked") > 0).count() > 0
    sess = out["sess"].collect()
    assert len(sess) == 1 and sess[0]["n_turns"] == 4


def test_winnow_matches_python_truth(spark):
    """Winnow fingerprints equal the Python reference computation
    (positional k-gram md5 hashes, sliding-window minima, distinct) for
    several documents including sub-window-length ones."""
    import hashlib

    from ominimo_dynamic_data_pipeline_spark.llm.text import winnow_fingerprints

    texts = {
        0: "a b c d e f g h",
        1: "x y z",          # exactly k tokens -> 1 gram, no full window
        2: "p q r s t u",    # 4 grams -> 1 window
        3: "m n",            # under k -> no grams at all
    }
    k, w = 3, 4
    df = spark.createDataFrame(list(texts.items()), "doc_id bigint, text string")
    got = {}
    for r in winnow_fingerprints(df, k=k, window=w).collect():
        got.setdefault(r["doc_id"], set()).add(r["fp"])
    for doc, text in texts.items():
        toks = text.split()
        grams = [" ".join(toks[i:i+k]) for i in range(len(toks) - k + 1)]
        hs = [int(hashlib.md5(g.encode()).hexdigest()[:15], 16) for g in grams]
        want = {min(hs[i:i+w]) for i in range(len(hs) - w + 1)}
        assert got.get(doc, set()) == want, doc


def test_winnow_decontamination_catches_planted_substring(spark):
    """A train doc embedding a >= k+window-1-token run of an eval doc is
    GUARANTEED flagged; unrelated train docs are not."""
    from ominimo_dynamic_data_pipeline_spark.llm.sampling import (
        winnow_decontaminate,
    )

    leak = "the quick brown fox jumps over"  # 6 tokens = k+w-1
    evals = spark.createDataFrame(
        [(0, "benchmark prompt " + leak + " answer text")],
        schema="doc_id bigint, text string",
    )
    train = spark.createDataFrame(
        [(10, "prefix words " + leak + " suffix words here"),
         (11, "totally unrelated training content with nothing shared")],
        schema="doc_id bigint, text string",
    )
    out = {r["doc_id"]: r["n_contaminated_fps"]
           for r in winnow_decontaminate(train, evals).collect()}
    assert 10 in out and out[10] >= 1
    assert 11 not in out


def test_dsir_importance_registry_step(spark, docs):
    """dsir_importance registers as a transformation type, matches its
    direct-call twin, and fails fast without a target expression."""
    import pytest

    from ominimo_dynamic_data_pipeline_spark.llm.sampling import dsir_importance
    from ominimo_dynamic_data_pipeline_spark.operators.registry import (
        CompileContext,
        apply_transformations,
    )

    ctx = CompileContext(spark, frames={"docs": docs})
    out = apply_transformations(ctx, {"transformations": [
        {"name": "w", "type": "dsir_importance",
         "params": {"input": "docs", "target": "doc_id % 2 = 0",
                    "num_buckets": 64, "seed": 7}},
    ]})
    want = dsir_importance(
        docs, target=F.expr("doc_id % 2 = 0"), num_buckets=64, seed=7
    )
    assert sorted(map(tuple, out["w"].collect())) == sorted(
        map(tuple, want.collect())
    )
    with pytest.raises(ValueError, match="target"):
        apply_transformations(
            CompileContext(spark, frames={"docs": docs}),
            {"transformations": [
                {"name": "w", "type": "dsir_importance",
                 "params": {"input": "docs"}},
            ]},
        )


def test_rrf_fuse_matches_hand_math(spark):
    """Fused score equals the hand-computed reciprocal-rank sum: docs in
    both runs get both contributions (n_runs=2), single-run docs one,
    ranking breaks score ties on neighbor_id; bad inputs fail fast."""
    import pytest

    from ominimo_dynamic_data_pipeline_spark.llm.similarity import rrf_fuse

    schema = "query_id bigint, neighbor_id bigint, rank bigint"
    sparse = spark.createDataFrame(
        [(0, 10, 1), (0, 11, 2), (0, 12, 3)], schema=schema)
    dense = spark.createDataFrame(
        [(0, 11, 1), (0, 13, 2), (0, 12, 3)], schema=schema)
    out = {r["neighbor_id"]: r for r in rrf_fuse([sparse, dense], k0=60).collect()}

    def nano(rank):
        return round(1e9 / (60 + rank))

    assert out[11]["n_runs"] == 2
    assert out[11]["rrf_score"] == (nano(2) + nano(1)) / 1e9
    assert out[10]["n_runs"] == 1
    assert out[10]["rrf_score"] == nano(1) / 1e9
    # doc 12 sits at rank 3 in BOTH runs -> 2 * nano(3)
    assert out[12]["rrf_score"] == 2 * nano(3) / 1e9
    # fused order: 11 (ranks 1+2) first, then 12 (3+3), then 10/13 tied
    # at nano(1)/nano(2)... compute expected order explicitly
    order = sorted(out.values(), key=lambda r: r["fused_rank"])
    assert [r["neighbor_id"] for r in order] == [11, 12, 10, 13]
    with pytest.raises(ValueError, match="at least one"):
        rrf_fuse([])
    with pytest.raises(ValueError, match="k0"):
        rrf_fuse([sparse], k0=0)
    with pytest.raises(ValueError, match="lacks columns"):
        rrf_fuse([sparse.drop("rank")])


def test_mmr_rerank_matches_python_reference(spark):
    """mmr_rerank equals a pure-Python greedy MMR on a hand-built pool:
    rank 1 is the most relevant; a near-duplicate of it is pushed below
    a less-relevant-but-diverse candidate; scores match to 1e-12."""
    import math

    import pytest

    from ominimo_dynamic_data_pipeline_spark.llm.similarity import mmr_rerank

    # vectors: 10/11 nearly identical, 12 orthogonal-ish, 13 opposite
    vecs = {
        10: [1.0, 0.0, 0.0],
        11: [0.999, 0.01, 0.0],
        12: [0.0, 1.0, 0.0],
        13: [-1.0, 0.0, 0.1],
    }
    vdf = spark.createDataFrame(
        [(i, v) for i, v in vecs.items()],
        schema="vec_id bigint, embedding array<double>",
    )
    rel = {10: 0.95, 11: 0.94, 12: 0.60, 13: 0.20}
    cdf = spark.createDataFrame(
        [(0, i, r) for i, r in rel.items()],
        schema="query_id bigint, neighbor_id bigint, rel double",
    )
    lam, k = 0.7, 3
    got = sorted(
        mmr_rerank(cdf, vdf, k=k, lambda_=lam).collect(),
        key=lambda r: r["mmr_rank"],
    )

    def cos(a, b):
        num = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a)) or 1.0
        nb = math.sqrt(sum(x * x for x in b)) or 1.0
        return num / (na * nb)

    selected, remaining, want = [], sorted(rel), []
    while remaining and len(selected) < k:
        best = max(
            remaining,
            key=lambda i: (
                lam * rel[i]
                - (1 - lam)
                * (max(cos(vecs[i], vecs[s]) for s in selected)
                   if selected else 0.0),
                -i,
            ),
        )
        pen = (max(cos(vecs[best], vecs[s]) for s in selected)
               if selected else 0.0)
        want.append((best, lam * rel[best] - (1 - lam) * pen))
        selected.append(best)
        remaining.remove(best)

    assert [r["neighbor_id"] for r in got] == [i for i, _ in want]
    for r, (_, score) in zip(got, want):
        assert abs(r["mmr_score"] - score) < 1e-12
    # diversification actually happened: 11 (near-dup of 10) is NOT
    # second despite the second-highest relevance — the anti-correlated
    # 13 wins rank 2 (negative similarity is a diversity BONUS in MMR)
    assert got[0]["neighbor_id"] == 10
    assert got[1]["neighbor_id"] == 13
    assert 11 not in {got[1]["neighbor_id"], got[2]["neighbor_id"]}
    with pytest.raises(ValueError, match="k must be positive"):
        mmr_rerank(cdf, vdf, k=0)
    with pytest.raises(ValueError, match="lambda"):
        mmr_rerank(cdf, vdf, lambda_=1.5)
    with pytest.raises(ValueError, match="lack columns"):
        mmr_rerank(cdf.drop("rel"), vdf)


def test_mmr_rerank_sim_round_to_matches_quantized_reference(spark):
    """The sim_round_to path (q160's oracle-enabling mode) equals a
    pure-Python greedy MMR whose penalty cosines are sequential-sum
    doubles rounded to the same quantum — and quantization at 1e-4 does
    not change the picked ids on a pool with well-separated scores."""
    import math

    from ominimo_dynamic_data_pipeline_spark.llm.similarity import mmr_rerank

    vecs = {
        10: [1.0, 0.0, 0.0],
        11: [0.999, 0.01, 0.0],
        12: [0.0, 1.0, 0.0],
        13: [-1.0, 0.0, 0.1],
        14: [0.5, 0.5, 0.70710678],
    }
    rel = {10: 0.95, 11: 0.94, 12: 0.60, 13: 0.20, 14: 0.55}
    vdf = spark.createDataFrame(
        [(i, v) for i, v in vecs.items()],
        schema="vec_id bigint, embedding array<double>",
    )
    cdf = spark.createDataFrame(
        [(0, i, r) for i, r in rel.items()],
        schema="query_id bigint, neighbor_id bigint, rel double",
    )
    lam, k, q = 0.7, 4, 4
    got = sorted(
        mmr_rerank(cdf, vdf, k=k, lambda_=lam, sim_round_to=q).collect(),
        key=lambda r: r["mmr_rank"],
    )

    def cos_q(a, b):
        num = 0.0
        for x, y in zip(a, b):
            num += x * y
        na = math.sqrt(sum(x * x for x in a)) or 1.0
        nb = math.sqrt(sum(x * x for x in b)) or 1.0
        return round(num / (na * nb), q)

    selected, remaining, want = [], sorted(rel), []
    while remaining and len(selected) < k:
        best = max(
            remaining,
            key=lambda i: (
                lam * rel[i]
                - (1 - lam)
                * (max(cos_q(vecs[i], vecs[s]) for s in selected)
                   if selected else 0.0),
                -i,
            ),
        )
        pen = (max(cos_q(vecs[best], vecs[s]) for s in selected)
               if selected else 0.0)
        want.append((best, lam * rel[best] - (1 - lam) * pen))
        selected.append(best)
        remaining.remove(best)

    assert [r["neighbor_id"] for r in got] == [i for i, _ in want]
    for r, (_, score) in zip(got, want):
        assert r["mmr_score"] == score  # bit-exact, not approx
    # same picks as the unquantized path on this well-separated pool
    unq = sorted(
        mmr_rerank(cdf, vdf, k=k, lambda_=lam).collect(),
        key=lambda r: r["mmr_rank"],
    )
    assert [r["neighbor_id"] for r in got] == [r["neighbor_id"] for r in unq]


def test_entropy_and_interleave_registry_steps(spark, docs):
    """token_entropy / interleave_order register as transformation types
    and match their direct-call twins; interleave_order fails fast on
    reserved-column clashes and a missing group_col."""
    import pytest

    from ominimo_dynamic_data_pipeline_spark.llm.sampling import (
        interleave_order,
    )
    from ominimo_dynamic_data_pipeline_spark.llm.text import token_entropy
    from ominimo_dynamic_data_pipeline_spark.operators.registry import (
        CompileContext,
        apply_transformations,
    )

    tagged = docs.selectExpr("*", "concat('s', doc_id % 2) AS src")
    out = apply_transformations(
        CompileContext(spark, frames={"docs": tagged}),
        {"transformations": [
            {"name": "ent", "type": "token_entropy", "params": {"input": "docs"}},
            {"name": "ord", "type": "interleave_order",
             "params": {"input": "docs", "group_col": "src", "seed": 3}},
        ]},
    )
    assert sorted(map(tuple, out["ent"].collect())) == sorted(
        map(tuple, token_entropy(tagged).collect())
    )
    assert sorted(map(tuple, out["ord"].collect())) == sorted(
        map(tuple, interleave_order(tagged, group_col="src", seed=3).collect())
    )
    with pytest.raises(ValueError, match="group_col"):
        apply_transformations(
            CompileContext(spark, frames={"docs": tagged}),
            {"transformations": [
                {"name": "x", "type": "interleave_order",
                 "params": {"input": "docs"}},
            ]},
        )
    with pytest.raises(ValueError, match="reserves columns"):
        apply_transformations(
            CompileContext(
                spark,
                frames={"docs": tagged.withColumn(
                    "interleave_pos", F.lit(1))},
            ),
            {"transformations": [
                {"name": "x", "type": "interleave_order",
                 "params": {"input": "docs", "group_col": "src"}},
            ]},
        )


def test_interleave_order_keeps_null_groups(spark):
    """A NULL group value is a real group: its rows stay in the
    curriculum (null-safe group attach), ranked like any other group."""
    from ominimo_dynamic_data_pipeline_spark.llm.sampling import (
        interleave_order,
    )

    df = spark.createDataFrame(
        [(0, "a"), (1, None), (2, "a"), (3, None)],
        schema="doc_id bigint, grp string",
    )
    out = interleave_order(df, group_col="grp", seed=1).collect()
    assert len(out) == 4
    null_rows = [r for r in out if r["grp"] is None]
    assert len(null_rows) == 2
    assert {r["rank_in_group"] for r in null_rows} == {1, 2}
    assert len({r["interleave_pos"] for r in out}) == 4


def test_rrf_fuse_dedupes_within_a_run(spark):
    """Duplicate (query, id) rows inside ONE ranking frame collapse to
    the best (lowest) rank: n_runs stays 1 and the score is a single
    contribution — an un-deduped retrieval output cannot double-count."""
    from ominimo_dynamic_data_pipeline_spark.llm.similarity import rrf_fuse

    run = spark.createDataFrame(
        [(0, 7, 3), (0, 7, 9), (0, 8, 1)],
        schema="query_id bigint, neighbor_id bigint, rank bigint",
    )
    out = {r["neighbor_id"]: r for r in rrf_fuse([run], k0=60).collect()}
    assert out[7]["n_runs"] == 1
    assert out[7]["rrf_score"] == round(1e9 / 63) / 1e9  # rank 3, not 3+9
    assert out[8]["fused_rank"] == 1


def test_mmr_rerank_guards(spark):
    """Missing vectors raise a named kernel error (no silent candidate
    drop); non-integral ids and missing vector columns fail eagerly."""
    import pytest

    from ominimo_dynamic_data_pipeline_spark.llm.similarity import mmr_rerank

    vecs = spark.createDataFrame(
        [(10, [1.0, 0.0])], schema="vec_id bigint, embedding array<double>"
    )
    cand = spark.createDataFrame(
        [(0, 10, 0.9), (0, 11, 0.8)],  # 11 has no vector
        schema="query_id bigint, neighbor_id bigint, rel double",
    )
    with pytest.raises(Exception, match="have no\\s+vector"):
        mmr_rerank(cand, vecs, k=2).collect()
    with pytest.raises(ValueError, match="integral"):
        mmr_rerank(
            cand.withColumn("query_id", F.col("query_id").cast("string")),
            vecs,
        )
    with pytest.raises(ValueError, match="vectors lack"):
        mmr_rerank(cand, vecs.drop("embedding"))


def test_q163_retrieval_eval_metric_floors(spark):
    """The retrieval-eval query reports sane, floor-respecting metrics
    at sf0.01: every recall/ndcg in [0,1], MRR positive for every query
    (the 8-table LSH always finds at least one true neighbor), and mean
    recall@10 >= 0.6 — the same corpus the q30 recall@5 >= 0.8 pin uses
    (this near-random 64-dim corpus is LSH's hardest case)."""
    from ominimo_dynamic_data_pipeline_spark.queries import QUERIES

    rows = QUERIES["q163_retrieval_eval"](
        spark, "/root/testdata/sf0.01"
    ).collect()
    assert len(rows) == 5
    for r in rows:
        assert 0.0 <= r["recall"] <= 1.0 and 0.0 <= r["ndcg"] <= 1.0
        assert r["mrr"] > 0.0
        assert r["n_hits"] <= r["n_truth"] == 10
    assert sum(r["recall"] for r in rows) / len(rows) >= 0.6


def test_q167_calibration_reports_full_recall_on_this_corpus(spark):
    """The band-recall calibration slice reports this corpus's truth:
    its true near-dups are near-verbatim (all land in the 0.9-1.0
    bucket) and the q26 band scheme catches every one — recall exactly
    1.0 with n_caught == n_true; any future band/bucket regression
    surfaces here as recall < 1."""
    from ominimo_dynamic_data_pipeline_spark.queries import QUERIES

    rows = QUERIES["q167_minhash_recall_calibration"](
        spark, "/root/testdata/sf0.01"
    ).collect()
    assert rows
    for r in rows:
        assert 0.0 <= r["recall"] <= 1.0
        assert r["n_caught"] <= r["n_true"]
    assert {r["bucket"] for r in rows} == {"0.9-1.0"}
    assert all(r["recall"] == 1.0 for r in rows)


def test_rrf_fuse_rejects_invalid_ranks(spark):
    """NULL or non-positive ranks fail loudly at execution instead of
    yielding NULL contributions and garbage fused scores."""
    import pytest

    from ominimo_dynamic_data_pipeline_spark.llm.similarity import rrf_fuse

    schema = "query_id bigint, neighbor_id bigint, rank bigint"
    bad = spark.createDataFrame([(0, 7, 0)], schema=schema)
    with pytest.raises(Exception, match="non-positive rank"):
        rrf_fuse([bad]).collect()
    nul = spark.createDataFrame([(0, 7, None)], schema=schema)
    with pytest.raises(Exception, match="non-positive rank"):
        rrf_fuse([nul]).collect()


def test_mmr_rerank_dedupes_candidates_and_rejects_dup_vectors(spark):
    """Duplicate candidate rows collapse to max relevance (the greedy
    loop can never pick one neighbor twice); duplicate vector ids raise
    a named error instead of silently fanning out the join."""
    import pytest

    from ominimo_dynamic_data_pipeline_spark.llm.similarity import mmr_rerank

    vecs = spark.createDataFrame(
        [(10, [1.0, 0.0]), (12, [0.0, 1.0])],
        schema="vec_id bigint, embedding array<double>",
    )
    cand = spark.createDataFrame(
        [(0, 10, 0.9), (0, 10, 0.5), (0, 12, 0.4)],
        schema="query_id bigint, neighbor_id bigint, rel double",
    )
    out = mmr_rerank(cand, vecs, k=3).collect()
    ids = [r["neighbor_id"] for r in out]
    assert sorted(ids) == [10, 12]  # 10 appears ONCE, at max rel
    assert max(r["mmr_score"] for r in out if r["neighbor_id"] == 10) == 0.7 * 0.9
    dup_vecs = vecs.union(
        spark.createDataFrame(
            [(10, [0.5, 0.5])], schema="vec_id bigint, embedding array<double>"
        )
    )
    with pytest.raises(Exception, match="duplicate ids"):
        mmr_rerank(cand, dup_vecs, k=2).collect()


def test_interleave_order_null_group_sorts_last(spark):
    """The NULL group's index matches the SQL twin's NULLS-LAST order:
    it gets the highest group index, not 0."""
    from ominimo_dynamic_data_pipeline_spark.llm.sampling import (
        interleave_order,
    )

    df = spark.createDataFrame(
        [(0, "a"), (1, None), (2, "b")],
        schema="doc_id bigint, grp string",
    )
    out = {r["doc_id"]: r for r in
           interleave_order(df, group_col="grp", seed=1).collect()}
    # rank 1 for everyone; positions = gidx: a=0, b=1, NULL=2
    assert out[0]["interleave_pos"] == 0
    assert out[2]["interleave_pos"] == 1
    assert out[1]["interleave_pos"] == 2


def test_multimodal_injected_codec_hooks(docs):
    """The codec boundary is a pluggable extension point (round-7 verdict
    item #5): a user-supplied decode/resize/frame callable replaces the
    built-in stub end to end, and the distributed result equals the same
    codec applied locally — golden parity for the injection path."""
    import hashlib as _hl

    def my_decode(data: bytes):
        d = _hl.sha256(data).digest()
        return 1 + d[0], 1 + d[1], [round(b / 255.0, 6) for b in d[2:10]]

    def my_resize(data: bytes, w: int, h: int) -> bytes:
        return (_hl.sha256(data).digest() * (w * h // 32 + 1))[: w * h]

    def my_frames(data: bytes, n: int):
        return [_hl.sha256(data + bytes([i])).digest() for i in range(n)]

    with_payload = M.attach_payload(docs)
    local = {
        r["doc_id"]: bytes(r["payload"]) for r in with_payload.collect()
    }

    feats = {
        r["doc_id"]: r
        for r in M.extract_features(with_payload, decode_fn=my_decode).collect()
    }
    assert set(feats) == set(local)
    for doc_id, data in local.items():
        w, h, fv = my_decode(data)
        row = feats[doc_id]
        assert (row["width"], row["height"]) == (w, h)
        assert [round(float(x), 6) for x in row["features"]] == fv

    resized = {
        r["doc_id"]: bytes(r["payload"])
        for r in M.resize_payloads(
            with_payload, 6, 4, resize_fn=my_resize
        ).collect()
    }
    for doc_id, data in local.items():
        assert resized[doc_id] == my_resize(data, 6, 4)
        assert len(resized[doc_id]) == 24

    frames = M.sample_frames(
        with_payload, n_frames=2, frame_fn=my_frames
    ).collect()
    got = {(r["doc_id"], r["frame_idx"]): bytes(r["frame_payload"]) for r in frames}
    assert len(got) == 2 * len(local)
    for doc_id, data in local.items():
        want = my_frames(data, 2)
        assert got[(doc_id, 0)] == want[0]
        assert got[(doc_id, 1)] == want[1]


def test_multimodal_stub_error_points_at_hook():
    import pytest as _pt

    if M._pil_image() is not None:
        _pt.skip("Pillow present: the real decode path takes over")
    with _pt.raises(NotImplementedError, match="decode_fn"):
        M.decode_image(b"xx", fake=False)
    with _pt.raises(NotImplementedError, match="resize_fn"):
        M.resize_image_bytes(b"xx", 3, 2, fake=False)


# --------------------------------------------------------------------------
# Oracle-independence second pins (round-10 verdict item #8): these three
# operators back restatement-class oracles (the DuckDB SQL mirrors the
# same tokenization/fingerprint convention the Spark side uses, so a bug
# in the shared convention would cancel out in the parity gate).  Each
# pin asserts hand-computed expected values on a tiny corpus, giving the
# convention a reference independent of BOTH engines.  See
# docs/ORACLES.md for the full taxonomy.
# --------------------------------------------------------------------------


def test_term_frequencies_hand_computed(spark):
    # q23's operator: normalize -> split -> count.  Expected counts
    # computed by hand: "the" x3, "cat" x2, "sat" x1, "mat" x1.
    df = spark.createDataFrame(
        [("The cat  sat",), ("the CAT\tthe mat",)], schema="text string"
    )
    got = {
        r["token"]: r["tf"]
        for r in T.term_frequencies(df).collect()
    }
    assert got == {"the": 3, "cat": 2, "sat": 1, "mat": 1}
    # min_count filter drops the singletons
    got2 = {
        r["token"]: r["tf"]
        for r in T.term_frequencies(df, min_count=2).collect()
    }
    assert got2 == {"the": 3, "cat": 2}


def test_gram_frame_hand_computed(spark):
    # q63's operator: distinct token 3-grams per doc.  "a b c d" -> two
    # grams; the duplicated doc 2 gram list is DISTINCT so "x y z x y z"
    # with n=3 keeps repeated grams once; short docs vanish.
    df = spark.createDataFrame(
        [(1, "a b  C d"), (2, "x y z x y z"), (3, "too short")],
        schema="doc_id bigint, text string",
    )
    got = {
        (r["doc_id"], r["gram"]) for r in D.gram_frame(df, n=3).collect()
    }
    assert got == {
        (1, "a b c"),
        (1, "b c d"),
        (2, "x y z"),
        (2, "y z x"),
        (2, "z x y"),
    }


def test_streaming_incremental_dedup_hand_computed(spark):
    # q130's operator on a static frame (q130 runs the same operator
    # over a stream): docs 11/12 share a normalized fingerprint (min id
    # 11 survives, 2 copies), doc 13 matches the reference corpus and is
    # anti-joined away, doc 14 is unique.
    incoming = spark.createDataFrame(
        [
            (11, "Hello  World"),
            (12, "hello world"),
            (13, "already   curated"),
            (14, "brand new doc"),
        ],
        schema="doc_id bigint, text string",
    )
    reference = spark.createDataFrame(
        [("already curated",)], schema="text string"
    ).select(F.md5(T.normalize_text(F.col("text"))).alias("fp"))
    got = {
        r["doc_id"]: r["n_batch_copies"]
        for r in D.incremental_exact_dedup(incoming, reference).collect()
    }
    assert got == {11: 2, 14: 1}
