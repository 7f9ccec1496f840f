"""Multimodal binary-column plumbing: every codec is a row function run
by operators.map_rows as one Arrow-batched mapInPandas stage, and the
WAV / PPM parsers reject malformed payloads with ValueError."""

from __future__ import annotations

import collections
import pathlib
import struct

import numpy as np
import pytest
from pyspark.sql import Row

from skyhookdb_ceph_spark.operators.multimodal import (
    PPM_META_SCHEMA,
    decode_ppm,
    decode_wav,
    frame_sample,
    parse_ppm,
    parse_wav,
    ppm_bytes,
    ppm_raster,
    sliding_windows,
    wav_bytes,
)

PKG = pathlib.Path(__file__).resolve().parents[1] / "skyhookdb_ceph_spark"


def _wav(
    fmt=(1, 1, 8000, 16000, 2, 16), fmt_size=16, data=bytes(8), data_size=None
):
    """A RIFF/WAVE payload with an explicit fmt tuple and chunk sizes."""
    fmt_body = struct.pack("<HHIIHH", *fmt)[:fmt_size]
    size = len(data) if data_size is None else data_size
    body = (
        b"WAVE"
        + b"fmt "
        + struct.pack("<I", fmt_size)
        + fmt_body
        + b"data"
        + struct.pack("<I", size)
        + data
    )
    return b"RIFF" + struct.pack("<I", len(body)) + body


@pytest.fixture()
def media(spark):
    rows = [
        Row(media_id=1, payload=b"x" * 1000),
        Row(media_id=2, payload=b"some-fake-image-bytes"),
        Row(media_id=3, payload=b""),
    ]
    return spark.createDataFrame(rows)


def test_frame_sample_keeps_every_nth(spark, media):
    out = frame_sample(media, every_n=2).collect()
    frames_1 = sorted(r.frame_no for r in out if r.media_id == 1)
    assert frames_1 == [0, 2]  # 1000 bytes -> frames 0..3, keep 0 and 2
    assert all(len(r.frame) <= 256 for r in out)


@pytest.mark.parametrize("every_n", [0, -2])
def test_frame_sample_rejects_non_positive_every_n(media, every_n):
    with pytest.raises(ValueError, match="every_n"):
        frame_sample(media, every_n=every_n)


def test_row_fn_emitting_nothing_adds_no_rows(spark, media):
    out = frame_sample(media, every_n=2).collect()
    got = sorted((r.media_id, r.frame_no) for r in out)
    assert got == [(1, 0), (1, 2), (2, 0)]  # media 3 (b"") emits none


def _spread(spark, rows):
    """Two payload rows over four partitions: two of them are empty."""
    df = spark.createDataFrame(rows, "media_id BIGINT, payload BINARY")
    df = df.repartition(4)
    assert sorted(len(p) for p in df.rdd.glom().collect()) == [0, 0, 1, 1]
    return df


def test_map_rows_one_to_one_over_empty_partitions(spark):
    payloads = {
        5: ppm_bytes(np.arange(3 * 2 * 3) * 11 % 256, 3, 2),
        9: ppm_bytes(np.full(4 * 4 * 3, 200), 4, 4),
    }
    out = decode_ppm(_spread(spark, list(payloads.items())))
    assert out.schema == PPM_META_SCHEMA
    expected = sorted(
        tuple({"media_id": mid, **parse_ppm(p)}[f] for f in out.columns)
        for mid, p in payloads.items()
    )
    assert sorted(tuple(r) for r in out.collect()) == expected


def test_map_rows_one_to_many_over_empty_partitions(spark):
    a, b = bytes(range(256)) * 2 + bytes(88), bytes(300)
    out = sliding_windows(_spread(spark, [(1, a), (2, b)]))
    assert out.schema.fieldNames() == [
        "media_id", "win_no", "byte_offset", "win_len", "window"
    ]
    got = sorted(tuple(r) for r in out.collect())
    # window 256, hop 128; a trailing window shorter than 128 bytes is dropped
    assert got == [
        (1, 0, 0, 256, a[0:256]),
        (1, 1, 128, 256, a[128:384]),
        (1, 2, 256, 256, a[256:512]),
        (1, 3, 384, 216, a[384:600]),
        (2, 0, 0, 256, b[0:256]),
        (2, 1, 128, 172, b[128:300]),
    ]


def test_malformed_payload_fails_the_job(spark):
    bad = _wav(data=bytes(160), data_size=200)
    df = spark.createDataFrame([(1, bad)], "media_id BIGINT, payload BINARY")
    with pytest.raises(Exception, match=r"ValueError: WAV chunk b'data' declares"):
        decode_wav(df).collect()


def test_row_maps_are_the_only_map_in_pandas_sites():
    """Every per-row Python stage goes through operators.map_rows; the
    two remaining direct calls fold a whole partition into one row."""
    sites = collections.Counter()
    for path in PKG.rglob("*.py"):
        n = path.read_text().count("mapInPandas(")
        if n:
            sites[str(path.relative_to(PKG))] += n
    assert sites == {
        "operators/__init__.py": 1,
        "queries/pipeline7.py": 1,
        "queries/pipeline8.py": 1,
    }


_TEN_FRAMES = wav_bytes(np.arange(10), 8000, 1)


def test_wav_helper_builds_a_valid_payload():
    assert parse_wav(_TEN_FRAMES)["n_frames"] == 10
    meta = parse_wav(_wav(fmt=(1, 2, 8000, 32000, 4, 16), data=bytes(400)))
    assert (meta["n_channels"], meta["n_frames"]) == (2, 100)


@pytest.mark.parametrize(
    "payload",
    [
        pytest.param(_wav(data=bytes(160), data_size=200), id="truncated_data"),
        pytest.param(_wav(fmt=(1, 0, 8000, 0, 0, 16)), id="zero_channels"),
        pytest.param(_wav(fmt=(1, 1, 0, 0, 2, 16)), id="zero_sample_rate"),
        pytest.param(_wav(fmt_size=4), id="short_fmt_chunk"),
        pytest.param(
            _wav(fmt=(1, 2, 8000, 32000, 4, 16), data=bytes(202)),
            id="stereo_odd_sample_count",
        ),
        pytest.param(
            _TEN_FRAMES[:4] + struct.pack("<I", 9999) + _TEN_FRAMES[8:],
            id="riff_size_past_payload",
        ),
        pytest.param(_TEN_FRAMES + bytes(7), id="trailing_junk"),
    ],
)
def test_parse_wav_rejects_malformed(payload):
    with pytest.raises(ValueError):
        parse_wav(payload)


@pytest.mark.parametrize(
    "payload",
    [
        pytest.param(b"P6\n-1 -1\n255\n\x01\x02\x03", id="negative_dims"),
        pytest.param(b"P6\n+1 +1\n255\n\x01\x02\x03", id="plus_signed_dims"),
        pytest.param(b"P6\n0 0\n255\n", id="zero_dims"),
    ],
)
def test_ppm_raster_rejects_signed_or_empty_dims(payload):
    with pytest.raises(ValueError):
        ppm_raster(payload)
