"""Multimodal metadata: magic-byte sniffing of binary payload columns."""

from __future__ import annotations

import pytest

from name_match_latest_spark.operators.multimodal import attach_media_metadata


@pytest.fixture()
def media(spark):
    rows = [
        (1, b"\x89PNG\r\n\x1a\nxxxx"),
        (2, b"\xff\xd8\xff\xe0JFIF"),
        (3, b"RIFF....WAVE"),
        (4, b"arbitrary bytes"),
        (5, None),
    ]
    from pyspark.sql.types import BinaryType, LongType, StructField, StructType

    schema = StructType(
        [StructField("media_id", LongType(), False), StructField("payload", BinaryType(), True)]
    )
    return spark.createDataFrame(rows, schema)


def test_metadata_sniffing(spark, media):
    got = {r.media_id: (r.media_kind, r.media_bytes) for r in attach_media_metadata(media).collect()}
    assert got[1][0] == "image/png"
    assert got[2][0] == "image/jpeg"
    assert got[3][0] == "audio/wav"
    assert got[4][0] == "application/octet-stream"
    assert got[1][1] == 12


