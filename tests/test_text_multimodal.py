"""Behavioral tests for text analysis and multimodal plumbing."""

from __future__ import annotations

import hashlib

import pytest

from pyspark.sql import functions as F

from spark_flink_streaming_example_with_test_spark.operators.multimodal import (
    ASSET_SCHEMA,
    documents_as_assets,
    extract_image_features,
    resize_images,
    sample_video_frames,
)
from spark_flink_streaming_example_with_test_spark.operators.text import (
    predict_language,
    stopword_hits,
    with_token_stats,
)


def test_token_stats(spark):
    df = spark.createDataFrame([(1, "a bb ccc a")], ["doc_id", "text"])
    row = with_token_stats(df).collect()[0]
    assert row.n_tokens == 4
    assert row.n_chars == 10
    assert row.avg_token_len == 2.5
    assert row.ttr == 0.75  # 3 distinct of 4


def test_language_heuristic(spark):
    df = spark.createDataFrame(
        [
            (1, "the house of the king and the queen is in the north"),
            (2, "zxcv qwer asdf poiu lkjh mnbv"),
        ],
        ["doc_id", "text"],
    )
    n_tokens = F.size(F.split("text", " "))
    out = {
        r.doc_id: r.lang
        for r in df.select(
            "doc_id",
            predict_language(stopword_hits("text") / n_tokens).alias("lang"),
        ).collect()
    }
    assert out[1] == "en"
    assert out[2] == "other"


@pytest.fixture(scope="module")
def assets(spark):
    docs = spark.createDataFrame(
        [(1, "hello world", "en", "src0", 11), (2, "spark engine", "en", "src1", 12)],
        ["doc_id", "text", "lang", "source", "n_chars"],
    )
    return documents_as_assets(docs)


def test_assets_schema(assets):
    assert [f.name for f in assets.schema.fields] == [
        "asset_id", "media_type", "payload", "source",
    ]
    row = assets.filter(F.col("asset_id") == 1).collect()[0]
    assert bytes(row.payload) == b"hello world"


def test_extract_image_features_fake_decode(assets):
    rows = {r.asset_id: r for r in extract_image_features(assets).collect()}
    r = rows[1]
    assert r.n_bytes == 11
    assert r.sha256 == hashlib.sha256(b"hello world").hexdigest()
    digest = hashlib.sha256(b"hello world").digest()
    assert r.width == 64 + digest[0] % 192
    assert 1 <= r.channels <= 4


def test_resize_images_preserves_schema(assets):
    out = resize_images(assets, 224, 224)
    assert out.schema == ASSET_SCHEMA
    rows = out.collect()
    assert all(len(bytes(r.payload)) == 32 for r in rows)  # sha256 digest


def test_sample_video_frames_shape(spark):
    docs = spark.createDataFrame(
        [(1, "x" * 2000, "en", "s", 2000)],
        ["doc_id", "text", "lang", "source", "n_chars"],
    )
    frames = sample_video_frames(documents_as_assets(docs), every_n=10)
    rows = frames.collect()
    assert len(rows) == 2000 // (10 * 32)
    assert [r.frame_index for r in rows] == list(range(len(rows)))
    assert all(len(bytes(r.frame)) == 32 for r in rows)


def test_text_ops_tolerate_null_text(spark):
    """Real corpora contain null text; every text operator must drop
    or null those rows — never raise."""
    from spark_flink_streaming_example_with_test_spark.operators.dedup import minhash_near_duplicates
    from spark_flink_streaming_example_with_test_spark.operators.text import chunk_documents, with_token_stats

    rows = [(0, "a real document with several tokens inside it"),
            (1, None),
            (2, "another real document with several tokens inside it")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    # dedup: null-text doc silently excluded (fails the min-token filter)
    pairs = minhash_near_duplicates(df, shingle_len=3, threshold=0.3)
    assert all(r.id_a != 1 and r.id_b != 1 for r in pairs.collect())
    # chunking: null text yields no chunks, others unaffected
    chunks = chunk_documents(df, chunk_tokens=4, overlap=1)
    assert sorted(set(r.doc_id for r in chunks.collect())) == [0, 2]
    # stats: null text propagates nulls, row preserved
    stats = {r.doc_id: r.n_tokens for r in with_token_stats(df).collect()}
    assert stats[1] is None and stats[0] == 8


def test_pack_token_budget_boundaries(spark):
    from spark_flink_streaming_example_with_test_spark.operators.text import pack_token_budget

    # Shard "s": docs of 6, 3, and 4 tokens with budget 8:
    # offsets 0, 6, 9 -> packs 0, 0, 1 (a doc belongs to the pack its
    # FIRST token falls in; doc 2 straddles 8 but starts at offset 6).
    docs = spark.createDataFrame(
        [
            (1, "s", "a a a a a a"),
            (2, "s", "b b b"),
            (3, "s", "c c c c"),
            (4, "t", "d d"),  # separate shard packs independently
        ],
        "doc_id long, source string, text string",
    )
    out = {
        (r.source, r.pack_id): (r.n_docs, r.pack_tokens)
        for r in pack_token_budget(docs, budget=8).collect()
    }
    assert out == {("s", 0): (2, 9), ("s", 1): (1, 4), ("t", 0): (1, 2)}


def test_payload_sizes_arrow_matches_expression(spark, sf_dir):
    """mapInArrow byte stats must equal the pure-expression length —
    pinning the Arrow-kernel escape hatch against the Catalyst
    ground truth."""
    from spark_flink_streaming_example_with_test_spark.operators.multimodal import (
        documents_as_assets,
        payload_sizes_arrow,
    )
    from spark_flink_streaming_example_with_test_spark.sources.tables import load_table

    assets = documents_as_assets(load_table(spark, sf_dir, "documents"))
    got = {r.asset_id: r.n_bytes for r in payload_sizes_arrow(assets).collect()}
    exp = {
        r.asset_id: r.n
        for r in assets.select(
            "asset_id", F.length("payload").alias("n")
        ).collect()
    }
    assert got == exp


def test_pii_patterns_edge_cases(spark):
    """The three scrub regexes against crafted adversarial strings:
    multiple hits per doc, an IP-shaped email domain (alpha-TLD rule
    keeps it an IP, not an email), digits embedded in words (the \\b
    anchors must reject them), and redaction ordering (emails redact
    first so the phone pattern can't eat their digit runs)."""
    from spark_flink_streaming_example_with_test_spark.plans.llm import (
        _PII_EMAIL,
        _PII_IP,
        _PII_PHONE,
    )

    rows = [
        ("two emails a@b.com and c.d@e.org plus 555-123-4567", 2, 1, 0),
        ("ip-domain user@1.2.3.4 stays an ip", 0, 0, 1),
        ("embedded x555-123-4567y digits do not match", 0, 0, 0),
        ("plain 10.0.0.1 and 555-000-1111", 0, 1, 1),
        ("no pii here at all", 0, 0, 0),
    ]
    df = spark.createDataFrame(
        [(t,) for t, *_ in rows], "text string"
    ).select(
        "text",
        F.size(F.regexp_extract_all("text", F.lit(_PII_EMAIL), F.lit(0))).alias("em"),
        F.size(F.regexp_extract_all("text", F.lit(_PII_PHONE), F.lit(0))).alias("ph"),
        F.size(F.regexp_extract_all("text", F.lit(_PII_IP), F.lit(0))).alias("ip"),
    )
    got = {r.text: (r.em, r.ph, r.ip) for r in df.collect()}
    for text, em, ph, ip in rows:
        assert got[text] == (em, ph, ip), (text, got[text])

    # ordering: after the email pass, the phone pass sees no digits
    # left from the address; the full triple redaction is idempotent.
    redacted = spark.createDataFrame(
        [("reach a9@b.io or 555-123-4567 at 10.0.0.1",)], "text string"
    ).select(
        F.regexp_replace(
            F.regexp_replace(
                F.regexp_replace("text", _PII_EMAIL, "<EMAIL>"),
                _PII_PHONE, "<PHONE>"),
            _PII_IP, "<IP>").alias("red")
    ).first().red
    assert redacted == "reach <EMAIL> or <PHONE> at <IP>"


def test_audio_frame_energy_framing_and_values(spark):
    """Stand-in audio decode: bytes are unsigned 8-bit samples centered
    at 128; frames of 4 with tail dropped; RMS computed per frame."""
    from spark_flink_streaming_example_with_test_spark.operators.multimodal import audio_frame_energy

    assets = spark.createDataFrame(
        [
            (1, bytearray([128, 128, 128, 128, 130, 126, 130, 126, 0])),
            (2, bytearray([128, 128])),  # shorter than one frame
        ],
        "asset_id long, payload binary",
    )
    rows = audio_frame_energy(assets, frame_len=4).collect()
    got = {(r.asset_id, r.frame_id): r.rms for r in rows}
    assert got == {(1, 0): 0.0, (1, 1): 2.0}  # tail byte + short asset drop


def test_documents_fixture_is_ascii(spark, sf_dir):
    """MULTIMODAL_AUDIO_ORACLE indexes CHARACTERS (SUBSTR/ASCII)
    while the Spark path frames raw UTF-8 BYTES — parity holds only
    for ASCII payloads. Pin the fixture assumption explicitly
    (round-7 ADVICE, low): every documents.text must be pure ASCII
    at the tested scale."""
    from spark_flink_streaming_example_with_test_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    n_non_ascii = docs.filter(
        F.octet_length("text") != F.length("text")
    ).count()
    assert n_non_ascii == 0


def test_audio_oracle_matches_spark_beyond_100_frames(spark, tmp_path):
    """A payload longer than 6400 bytes (>100 frames) must still
    match: the oracle's frame range derives from OCTET_LENGTH, not
    the former RANGE(0, 100) literal (round-7 ADVICE, low)."""
    import duckdb
    import pandas as pd

    from spark_flink_streaming_example_with_test_spark.plans.llm import (
        MULTIMODAL_AUDIO_ORACLE,
        multimodal_audio_energy,
    )

    text = ("abcdefgh" * 820)[:6550]  # 102 full frames + remainder
    pd.DataFrame(
        {
            "doc_id": [0],
            "text": [text],
            "lang": ["en"],
            "source": ["s"],
            "n_chars": [len(text)],
        }
    ).to_parquet(tmp_path / "documents.parquet")
    srows = {
        r.asset_id: r
        for r in multimodal_audio_energy(spark, str(tmp_path)).collect()
    }
    assert srows[0].n_frames == 102
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{tmp_path}/documents.parquet')"
    )
    orow = con.execute(MULTIMODAL_AUDIO_ORACLE).fetchdf().iloc[0]
    assert int(orow.n_frames) == 102
    assert round(float(orow.avg_rms), 6) == round(srows[0].avg_rms, 6)
    assert round(float(orow.max_rms), 6) == round(srows[0].max_rms, 6)
