"""Byte-vs-character discipline for the multimodal oracles (round-6
ADVICE fix): the Spark paths iterate UTF-8 BYTES, so the oracles must
agree on documents where bytes != characters — non-ASCII text ('é' is one
char but two bytes, codepoint 233 vs bytes 0xC3 0xA9) and empty text
(string_split(text,'') yields one '' element; the byte range yields none).

The round-5 oracles passed only because the shipped fixtures are pure
ASCII there; these tests run every multimodal inventory entry against an
adversarial documents table containing non-ASCII, empty, and multibyte
(CJK, emoji) payloads so the agreement is enforced, not assumed.
"""

from __future__ import annotations

import os

import pandas as pd
import pytest

from datafusion_ballista_spark.compare import oracle_connection
from datafusion_ballista_spark.inventory import multimodal_cov
from tests.conftest import assert_query_matches

_DOCS = [
    # (doc_id, text) — all < 50 so every query's doc_id filter keeps them
    (0, "plain ascii payload, thirty-two bytes and then some more"),
    (1, ""),  # empty: byte range is empty; string_split would yield ['']
    (2, "café résumé naïve"),  # Latin-1 accents: 2-byte UTF-8 sequences
    (3, "日本語テキスト"),  # CJK: 3-byte sequences
    (4, "emoji 🚀 payload"),  # 4-byte sequence
    (5, "é"),  # single char, two bytes — header fields read byte 0xC3
    (6, "x" * 100),  # multi-frame ASCII payload
]


@pytest.fixture(scope="module")
def adversarial_sf(tmp_path_factory):
    d = tmp_path_factory.mktemp("mm_bytes")
    pdf = pd.DataFrame(
        [
            (i, t, "xx", "synthetic", len(t))
            for i, t in _DOCS
        ],
        columns=["doc_id", "text", "lang", "source", "n_chars"],
    )
    pdf.to_parquet(os.path.join(d, "documents.parquet"), index=False)
    return str(d)


@pytest.fixture(scope="module")
def adversarial_oracle(adversarial_sf):
    with oracle_connection(adversarial_sf) as con:
        yield con


@pytest.mark.parametrize("name", sorted(multimodal_cov.QUERIES))
def test_multimodal_oracle_agrees_on_non_ascii(
    name, spark, adversarial_sf, adversarial_oracle
):
    spec = multimodal_cov.QUERIES[name]
    df = spec.spark(spark, adversarial_sf)
    assert_query_matches(df, adversarial_oracle, spec.oracle, name)


def test_frame_sample_filter_is_symmetric(spark, adversarial_sf, adversarial_oracle):
    """frame_sample's enforced ASCII filter must drop the SAME docs on
    both engines: non-ASCII docs 2-5 excluded, ASCII 0/6 kept (1 is empty
    -> zero frames on both sides)."""
    df = multimodal_cov.QUERIES["multimodal_frame_sample"].spark(
        spark, adversarial_sf
    )
    kept = sorted({r["doc_id"] for r in df.collect()})
    assert kept == [0, 6]
