"""Text-analysis and NLP-light column functions."""

from pyspark.sql import functions as F

from intelligencepipeline_spark.functions import (
    content_digest,
    detect_language,
    fingerprint,
    named_entities,
    quality_score,
    token_count,
    tokens,
)
from intelligencepipeline_spark.functions.nlp import (
    sentence_chunks,
    window_chunks,
)


def one(spark, text, col):
    df = spark.createDataFrame([(text,)], "text string")
    return df.select(col(F.col("text")).alias("out")).first()["out"]


def test_tokens_and_count(spark):
    assert one(spark, "a  b   c", tokens) == ["a", "b", "c"]
    assert one(spark, "  ", token_count) == 0
    assert one(spark, "x y", token_count) == 2


def test_detect_language(spark):
    assert one(spark, "the cat and the dog is here", detect_language) == "en"
    assert one(spark, "der hund und die katze ist da", detect_language) == "de"
    assert one(spark, "zzz qqq", detect_language) == "und"


def test_fingerprint_normalizes(spark):
    a = one(spark, "Hello,  World!", fingerprint)
    b = one(spark, "hello world", fingerprint)
    assert a == b


def test_quality_score(spark):
    q = one(spark, "aa bb cc", quality_score)
    assert q["n_chars"] == 8
    assert q["n_tokens"] == 3
    assert q["distinct_ratio"] == 1.0


def test_sha1_digest(spark):
    # sha1("abc") is a well-known vector
    assert (
        one(spark, "abc", content_digest)
        == "a9993e364706816aba3e25717850c26c9cd0d89d"
    )


def test_sentence_chunks(spark):
    out = one(spark, "One two. Three four! Five?", sentence_chunks)
    assert out == ["One two.", "Three four!", "Five?"]


def test_window_chunks(spark):
    out = one(spark, "a b c d e", lambda c: window_chunks(c, 2))
    assert out == ["a b", "c d", "e"]


def test_named_entities(spark):
    out = one(
        spark,
        "Alice Smith visited on 2024-01-02 at 10:30 paying 5 usd",
        named_entities,
    )
    types = {e["type"] for e in out}
    assert {"PERSON", "DATE", "TIME", "SUM"} <= types


def test_gopher_rules(spark):
    from intelligencepipeline_spark.functions.text import gopher_rules

    # 60 words, all stopword 'the' -> passes count/alpha/stopword
    # rules but fails mean-word-len (3.0 boundary is inclusive: 'the'
    # has len 3, so it PASSES ok_mean_len).
    g = one(spark, " ".join(["the"] * 60), gopher_rules)
    assert g["n_words"] == 60
    assert g["mean_word_len"] == 3.0
    assert g["ok_words"] and g["ok_mean_len"] and g["ok_alpha"]
    assert g["ok_stopwords"] and g["keep"]

    # short doc fails the word-count floor
    g2 = one(spark, "the quick brown fox", gopher_rules)
    assert g2["n_words"] == 4
    assert not g2["ok_words"] and not g2["keep"]

    # symbol-heavy doc fails symbol ratio: 60 words, 12 hashes
    g3 = one(
        spark, " ".join(["the"] * 48 + ["#tag"] * 12), gopher_rules
    )
    assert g3["symbol_ratio"] == 0.2
    assert not g3["ok_symbol"] and not g3["keep"]

    # numeric-only words fail the alphabetic fraction
    g4 = one(spark, " ".join(["123"] * 60), gopher_rules)
    assert g4["alpha_frac"] == 0.0
    assert not g4["ok_alpha"]


def test_cdc_chunks_offset_invariance(spark):
    from intelligencepipeline_spark.functions.text import cdc_chunks

    shared = "the fast key order sort table scan merge part window small hash"
    df = spark.createDataFrame(
        [(0, "x0 y1 z2 " + shared), (1, "q7 " + shared), (2, ""), (3, "one two")],
        "doc_id long, text string",
    )
    rows = {
        r.doc_id: r.c
        for r in df.select(
            "doc_id", cdc_chunks(F.col("text")).alias("c")
        ).collect()
    }
    # reassembly is lossless
    assert " ".join(rows[0]) == "x0 y1 z2 " + shared
    # after the first content-defined boundary, shifted copies chunk
    # identically (the CDC property fixed-stride chunking lacks)
    assert rows[0][1:] == rows[1][1:] and len(rows[0]) > 1
    assert rows[2] == [] and rows[3] == ["one two"]


def test_cdc_chunk_rows_matches_expression(spark):
    """The vectorized DataFrame form is value-identical to
    explode(cdc_chunks(text)) — including null/empty/multi-space/
    unicode edges and the real corpus."""
    from intelligencepipeline_spark.functions.text import (
        cdc_chunk_rows,
        cdc_chunks,
    )

    edge = spark.createDataFrame(
        [
            (0, None),
            (1, ""),
            (2, "   "),
            (3, "a  b   c"),
            (4, "héllo wörld ünïcode tok a b c d e f g h i j k l"),
            (5, " ".join(f"w{i}" for i in range(200))),
        ],
        "doc_id long, text string",
    )
    docs = spark.read.parquet(
        "/root/testdata/sf0.001/documents.parquet"
    ).select("doc_id", "text")
    # the key keeps its own type (not forced to long)
    named = edge.selectExpr("concat('doc-', doc_id) AS name", "text")
    for df, key in ((edge, "doc_id"), (docs, "doc_id"), (named, "name")):
        expr = df.select(
            key, F.explode(cdc_chunks(F.col("text"))).alias("chunk")
        )
        vec = cdc_chunk_rows(df, key=key)
        assert vec.schema == expr.schema
        assert expr.exceptAll(vec).count() == 0
        assert vec.exceptAll(expr).count() == 0
