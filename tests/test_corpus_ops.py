"""Golden tests for the corpus / training-data operators: dedup,
similarity search, text analysis, multimodal plumbing.

These assert *semantics* on hand-built fixtures (near-dups found,
languages detected, ANN recall vs brute force) — the oracle parity
checks live in the driver gate / tools/check_oracle.py.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from opentelemetry_collector_contrib_spark.operators import text as TX
from opentelemetry_collector_contrib_spark.operators.multimodal import (
    attach_binary,
    extract_media_meta,
    frame_sample,
)
from opentelemetry_collector_contrib_spark.operators.similarity import (
    brute_force_topk,
    lsh_bucket_topk,
)

DOCS = [
    # two near-identical docs (one word differs), one exact dup pair,
    # two unrelated docs
    (1, "the quick brown fox jumps over the lazy dog in the morning sun"),
    (2, "the quick brown fox jumps over the lazy cat in the morning sun"),
    (3, "completely different content about spark query optimization plans"),
    (4, "completely different content about spark query optimization plans"),
    (5, "unrelated words snow mountain river forest valley stone cloud sky"),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(DOCS, "doc_id long, text string")


def test_exact_dedup_collapses_identical(docs):
    out = TX.exact_dedup(docs, "doc_id", "text")
    rows = {r["doc_id"]: r["dup_count"] for r in out.collect()}
    assert rows[3] == 2          # 3 and 4 collapse, keep min id
    assert 4 not in rows
    assert rows[1] == 1 and rows[2] == 1


def test_ngram_jaccard_finds_near_dup(docs):
    pairs = TX.ngram_jaccard_pairs(docs, "doc_id", "text", n=3, threshold=0.3)
    got = {(r["id_a"], r["id_b"]) for r in pairs.collect()}
    assert (1, 2) in got        # one-word difference → high trigram overlap
    assert (3, 4) in got        # identical → jaccard 1.0
    assert (1, 5) not in got and (1, 3) not in got


def test_minhash_lsh_candidates_and_verify(docs):
    out = TX.minhash_lsh_dedup(
        docs, "doc_id", "text", num_hashes=16, bands=8, verify_threshold=0.3
    )
    got = {(r["id_a"], r["id_b"]): r["jaccard"] for r in out.collect()}
    assert got[(3, 4)] == 1.0   # exact dup always survives LSH
    assert (1, 2) in got        # near-dup caught with 8 bands x 2 rows
    assert all(j >= 0.3 for j in got.values())


def test_simhash_near_dup_has_small_hamming(spark, docs):
    sh = TX.simhash32(docs, "doc_id", "text")
    a = sh.alias("a").join(sh.alias("b"), F.col("a.doc_id") < F.col("b.doc_id"))
    d = a.select(
        F.col("a.doc_id").alias("ia"),
        F.col("b.doc_id").alias("ib"),
        TX.hamming_distance_bits(F.col("a.simhash"), F.col("b.simhash")).alias("ham"),
    )
    ham = {(r["ia"], r["ib"]): r["ham"] for r in d.collect()}
    assert ham[(3, 4)] == 0                      # identical docs
    assert ham[(1, 2)] < ham[(1, 5)]             # near-dup closer than unrelated


def test_lang_id_detects_real_languages(spark):
    samples = [
        (1, "the cat is on the roof and the dog is in the garden"),
        (2, "der Hund ist nicht da und die Katze ist im Garten"),
        (3, "le chat est sur le toit et la porte est ouverte"),
        (4, "el perro es grande y los gatos son pequeños para una casa"),
        (5, "xyzzy plugh qwerty"),  # no markers
    ]
    df = spark.createDataFrame(samples, "id long, text string")
    out = {r["id"]: r["lang"] for r in df.select("id", TX.lang_id(F.col("text")).alias("lang")).collect()}
    assert out == {1: "en", 2: "de", 3: "fr", 4: "es", 5: "und"}


def test_quality_features_values(spark):
    df = spark.createDataFrame([(1, "the the the the")], "id long, text string")
    f = TX.quality_features(F.col("text"))
    row = df.select(
        f["n_tokens"].alias("nt"),
        f["stopword_ratio"].alias("sr"),
        f["distinct_token_ratio"].alias("dr"),
    ).collect()[0]
    assert row["nt"] == 4
    assert row["sr"] == 1.0
    assert row["dr"] == 0.25


def test_token_count_bpe_style(spark):
    df = spark.createDataFrame([(1, "hello, world! x2")], "id long, text string")
    n = df.select(TX.token_count(F.col("text")).alias("n")).collect()[0]["n"]
    # hello , world ! x 2  -> 6
    assert n == 6


def test_fingerprint_matches_python_golden(spark):
    import hashlib

    a = "alpha beta gamma delta epsilon zeta eta theta"
    toks = a.split()
    shingles = {" ".join(toks[i : i + 4]) for i in range(len(toks) - 3)}
    expected = min(hashlib.md5(s.encode()).hexdigest() for s in shingles)[:16]
    df = spark.createDataFrame([(1, a)], "id long, text string")
    fp = df.select(TX.doc_fingerprint(F.col("text"), shingle_n=4).alias("fp")).collect()[0]["fp"]
    assert fp == expected
    # duplicated content (same shingle set) -> same fingerprint
    df2 = spark.createDataFrame([(1, a + " " + a)], "id long, text string")
    fp2 = df2.select(TX.doc_fingerprint(F.col("text"), shingle_n=4).alias("fp")).collect()[0]["fp"]
    # doubling adds bridging shingles; fingerprint can only get smaller or stay
    assert fp2 <= fp


# ---------------------------------------------------------------------------
# similarity search
# ---------------------------------------------------------------------------

VECS = [
    (1, [1.0, 0.0, 0.0, 0.0]),
    (2, [0.99, 0.1, 0.0, 0.0]),   # close to 1
    (3, [0.0, 1.0, 0.0, 0.0]),
    (4, [0.0, 0.98, 0.2, 0.0]),   # close to 3
    (5, [0.0, 0.0, 0.0, 1.0]),    # alone
]


@pytest.fixture(scope="module")
def vecs(spark):
    return spark.createDataFrame(VECS, "vec_id long, embedding array<float>")


def test_brute_force_top1_exact(vecs):
    out = {r["query_id"]: r["neighbor_id"] for r in brute_force_topk(vecs, vecs, k=1).collect()}
    assert out[1] == 2 and out[2] == 1
    assert out[3] == 4 and out[4] == 3


def test_lsh_ann_recall_vs_brute_force(vecs):
    exact = {r["query_id"]: r["neighbor_id"] for r in brute_force_topk(vecs, vecs, k=1).collect()}
    approx = {
        r["query_id"]: r["neighbor_id"]
        for r in lsh_bucket_topk(vecs, dim=4, num_planes=2, k=1).collect()
    }
    # every answered query must agree with exact; recall >= 1/2 here
    agree = [q for q in approx if approx[q] == exact[q]]
    assert len(agree) >= len(approx) * 0.5
    assert len(approx) >= 2


# ---------------------------------------------------------------------------
# multimodal plumbing
# ---------------------------------------------------------------------------

def test_media_meta_deterministic_fake(spark):
    df = spark.createDataFrame([(1, "abcd"), (2, "x" * 600)], "doc_id long, text string")
    media = attach_binary(df, "doc_id", "text")
    out = {r["doc_id"]: r for r in extract_media_meta(media).collect()}
    assert out[1]["n_bytes"] == 4
    assert out[1]["fake_width"] == 4 and out[1]["fake_height"] == 28
    assert out[1]["fake_format"] == "png"
    assert out[2]["fake_width"] == 600 % 512
    assert len(out[1]["content_hash"]) == 32


def test_frame_sample_fanout(spark):
    df = spark.createDataFrame([(1, "z" * 200)], "doc_id long, text string")
    media = attach_binary(df, "doc_id", "text")
    frames = frame_sample(media, every_n_bytes=64, max_frames=8).collect()
    # 200 // 64 = 3 frames: 64, 64, 64 bytes (slices), remaining 8 not sampled
    assert len(frames) == 3
    assert [len(f["frame_bytes"]) for f in frames] == [64, 64, 64]
