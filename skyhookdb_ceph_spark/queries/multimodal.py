"""Multimodal queries (SURVEY.md §2.12): binary and JSON media
columns, frame sampling, audio windowing, and the WAV and PPM codecs
(decode, resize), with their DuckDB oracles.

Operators driven: `operators/multimodal.py` — `frame_sample`,
`sliding_windows`, `decode_wav`, `decode_ppm`, `resize_ppm` and the
payload writers — each an Arrow-batched row map
(`operators.map_rows`) over `MEDIA_SCHEMA`'s (media_id, payload).

Each query synthesizes its payloads from `doc_id` arithmetic that the
DuckDB oracle reproduces directly, so a header mis-parse, a sample
mis-decode or an offset error in a codec shows as a value mismatch.
"""

from __future__ import annotations

from pyspark.sql import functions as F
from pyspark.sql import types as T

from skyhookdb_ceph_spark.operators import ensure_parallelism, map_rows
from skyhookdb_ceph_spark.operators.multimodal import frame_sample
from skyhookdb_ceph_spark.queries._util import Catalog
from skyhookdb_ceph_spark.registry import query


@query(
    "q_multimodal_json",
    oracle=(
        "SELECT event_id, event_type, "
        "CAST(json_extract_string(props, '$.k') AS INT) AS k "
        "FROM events"
    ),
    tags=("llm", "multimodal"),
)
def q_multimodal_json(spark, sf_dir):
    """Typed extraction from the semi-structured props column via
    from_json with an explicit schema (not per-path string getters) —
    the schema-on-read door for metadata travelling beside media
    columns."""
    e = Catalog(spark, sf_dir).events
    schema = T.StructType([T.StructField("k", T.IntegerType())])
    return e.select(
        "event_id",
        "event_type",
        F.from_json("props", schema).getField("k").alias("k"),
    )


@query(
    "q_multimodal_binary",
    oracle=(
        "SELECT doc_id, octet_length(CAST(text AS BLOB)) AS n_bytes, "
        "md5(text) AS payload_md5 FROM documents"
    ),
    tags=("llm", "multimodal"),
)
def q_multimodal_binary(spark, sf_dir):
    """Opaque-binary column handling: payload cast to binary, byte
    length + content digest as typed metadata — the query-side surface
    of the multimodal model (decode/resize/hash stages live in
    operators/multimodal.py as Arrow-batched row maps)."""
    d = Catalog(spark, sf_dir).documents
    payload = F.col("text").cast(T.BinaryType())
    return d.select(
        "doc_id",
        F.length(payload).alias("n_bytes"),
        F.md5(payload).alias("payload_md5"),
    )


# Frames are 256 BYTES and the oracle slices CHARACTERS — exact parity
# holds because the documents fixture is pure ASCII (verified: 0 rows
# with octet_length <> length at sf0.001/sf0.01).  Real media payloads
# are opaque bytes with no char/byte ambiguity at all.
_FRAMES_ORACLE = """
SELECT doc_id, CAST((gs - 1) // 256 AS INT) AS frame_no,
  CAST(length(substr(text, CAST(gs AS INT), 256)) AS INT) AS frame_bytes,
  md5(substr(text, CAST(gs AS INT), 256)) AS frame_md5
FROM documents, unnest(generate_series(1, length(text), 512)) t(gs)
"""


@query(
    "q_multimodal_frames",
    oracle=_FRAMES_ORACLE,
    tags=("pipeline", "multimodal"),
)
def q_multimodal_frames(spark, sf_dir):
    """Video-style frame sampling over an opaque binary column: split
    each payload into fixed 256-byte pseudo-frames and keep every 2nd
    (operators/multimodal.py frame_sample — a row function run by
    operators.map_rows, the Arrow-batched shape every multimodal codec
    shares; frames are fixed byte slices, no video codec is involved).
    Pure map stage: frames never shuffle, output
    rows stay on the partition that scanned the payload, so at 100 TB
    cost is one pass over the media bytes.  The query fingerprints each
    kept frame (md5 + length) so the oracle can verify the exact frame
    boundaries and sampling phase cross-engine."""
    d = Catalog(spark, sf_dir).documents
    media = d.select(
        F.col("doc_id").alias("media_id"),
        F.col("text").cast("binary").alias("payload"),
    )
    frames = frame_sample(media, every_n=2)
    return frames.select(
        F.col("media_id").alias("doc_id"),
        "frame_no",
        F.length("frame").alias("frame_bytes"),
        F.md5("frame").alias("frame_md5"),
    )


_AUDIO_WIN_ORACLE = """
WITH w AS (
  SELECT doc_id, text,
    unnest(generate_series(0, greatest(length(text) - 1, 0), 128)) AS off
  FROM documents
  WHERE length(text) > 0
    AND octet_length(encode(text)) = length(text)),
wins AS (
  SELECT doc_id AS media_id, CAST(off / 128 AS INT) AS win_no,
    CAST(off AS INT) AS byte_offset,
    CAST(length(substr(text, off + 1, 256)) AS INT) AS win_len,
    md5(substr(text, off + 1, 256)) AS win_md5
  FROM w WHERE length(substr(text, off + 1, 256)) * 2 >= 256)
SELECT media_id, win_no, byte_offset, win_len, win_md5
FROM wins ORDER BY media_id, win_no
"""


@query(
    "q_multimodal_audio_windows",
    oracle=_AUDIO_WIN_ORACLE,
    tags=("pipeline", "multimodal"),
)
def q_multimodal_audio_windows(spark, sf_dir):
    """Audio-style OVERLAPPING windowing: 256-byte windows at a
    128-byte hop over an opaque binary payload (operators/multimodal
    sliding_windows — the Arrow-batched mapInPandas shape an STFT /
    feature-frame stage drops into; trailing windows shorter than half
    the length are dropped, the common framing default).  Each kept
    window is fingerprinted so the oracle verifies exact boundaries,
    hop phase, and content cross-engine.  Pure map stage: windows
    never shuffle.  Complements q_multimodal_frames (non-overlapping
    video sampling).

    The operator windows BYTES; DuckDB's substr/length are
    character-based and it has no BLOB substring, so both engines
    restrict to payloads whose UTF-8 byte length equals the char
    length (byte==char semantics identical) — non-ASCII docs are
    excluded identically on both sides instead of silently diverging.
    """
    from skyhookdb_ceph_spark.operators.multimodal import sliding_windows

    d = ensure_parallelism(Catalog(spark, sf_dir).documents)
    d = d.filter(F.octet_length("text") == F.length("text"))
    media = d.select(
        F.col("doc_id").alias("media_id"),
        F.col("text").cast("binary").alias("payload"),
    )
    wins = sliding_windows(media, window_bytes=256, hop_bytes=128)
    return wins.select(
        "media_id",
        "win_no",
        "byte_offset",
        "win_len",
        F.md5("window").alias("win_md5"),
    ).orderBy("media_id", "win_no")


# Both engines derive the SAME audio parameters from doc_id; Spark then
# round-trips them through REAL WAV bytes (synth -> header walk -> int16
# sample decode) while DuckDB computes them directly — so any header
# mis-parse, sample mis-decode, or off-by-one in the codec shows up as a
# value mismatch.  Sample k (interleaved frame-major) is
# ((doc_id*31 + k*7) % 2001) - 1000, an exact-integer sequence.
_WAV_DECODE_ORACLE = """
WITH p AS (
  SELECT doc_id AS media_id,
    CAST(8000 + (doc_id % 5) * 2000 AS INT) AS sample_rate,
    CAST(1 + (doc_id % 2) AS INT) AS n_channels,
    CAST(50 + (doc_id % 100) AS BIGINT) AS n_frames
  FROM documents WHERE doc_id % 10 = 0),
s AS (
  SELECT media_id, sample_rate, n_channels, CAST(16 AS INT) AS bits,
    n_frames, (n_frames * 1000000) // sample_rate AS duration_us,
    list_transform(
      generate_series(0, CAST(n_frames * n_channels AS INT) - 1),
      k -> ((media_id * 31 + k * 7) % 2001) - 1000) AS ss
  FROM p)
SELECT media_id, sample_rate, n_channels, bits, n_frames, duration_us,
  CAST(list_aggregate(ss, 'min') AS INT) AS min_s,
  CAST(list_aggregate(ss, 'max') AS INT) AS max_s,
  CAST(list_aggregate(ss, 'sum') AS BIGINT) AS sum_s
FROM s ORDER BY media_id
"""


@query(
    "q_multimodal_decode",
    oracle=_WAV_DECODE_ORACLE,
    tags=("pipeline", "multimodal"),
)
def q_multimodal_decode(spark, sf_dir):
    """De-stubbed multimodal decode: synthesize a REAL WAV file per
    selected document (RIFF header + fmt chunk + interleaved int16 PCM
    frames, operators/multimodal.wav_bytes), then decode it with the
    pure-Python RIFF parser (parse_wav: chunk walk, fmt unpack,
    numpy int16 sample decode) and emit metadata + sample statistics.
    Both stages are Arrow-batched row maps (operators.map_rows) —
    decode parallelism = partition count, zero shuffle; at 100 TB the
    payloads stream through executors batch-by-batch and only the
    tiny per-file metadata rows ever move."""
    import numpy as np

    from skyhookdb_ceph_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        decode_wav,
        wav_bytes,
    )

    params = (
        ensure_parallelism(Catalog(spark, sf_dir).documents)
        .filter("doc_id % 10 = 0")
        .selectExpr(
            "doc_id AS media_id",
            "CAST(8000 + (doc_id % 5) * 2000 AS INT) AS sample_rate",
            "CAST(1 + (doc_id % 2) AS INT) AS n_channels",
            "CAST(50 + (doc_id % 100) AS BIGINT) AS n_frames",
        )
    )

    def synth(mid, sr, nch, nfr):
        k = np.arange(int(nfr) * int(nch), dtype=np.int64)
        samples = ((int(mid) * 31 + k * 7) % 2001) - 1000
        payload = wav_bytes(samples, int(sr), int(nch))
        return [{"media_id": int(mid), "payload": payload}]

    cols = ["media_id", "sample_rate", "n_channels", "n_frames"]
    media = map_rows(params, cols, synth, MEDIA_SCHEMA)
    return decode_wav(media).orderBy("media_id")


# Both engines derive the SAME image parameters from doc_id; Spark then
# round-trips them through REAL P6 bytes (ASCII header with a comment
# line + raw RGB raster) while DuckDB computes the channel sums
# directly — so any header tokenizer bug, raster offset error, or
# channel-interleave mistake surfaces as a value mismatch.  Flat byte
# j of the raster is (media_id*7 + j*13) % 256.
_PPM_DECODE_ORACLE = """
WITH p AS (
  SELECT doc_id AS media_id,
    CAST(8 + (doc_id % 9) AS INT) AS width,
    CAST(8 + (doc_id % 7) AS INT) AS height
  FROM documents WHERE doc_id % 10 = 3)
SELECT media_id, width, height, CAST(255 AS INT) AS maxval,
  CAST(width * height AS BIGINT) AS n_pixels,
  CAST(list_aggregate(list_transform(
    generate_series(0, width * height - 1),
    j -> (media_id * 7 + (j * 3 + 0) * 13) % 256), 'sum') AS BIGINT)
    AS sum_r,
  CAST(list_aggregate(list_transform(
    generate_series(0, width * height - 1),
    j -> (media_id * 7 + (j * 3 + 1) * 13) % 256), 'sum') AS BIGINT)
    AS sum_g,
  CAST(list_aggregate(list_transform(
    generate_series(0, width * height - 1),
    j -> (media_id * 7 + (j * 3 + 2) * 13) % 256), 'sum') AS BIGINT)
    AS sum_b
FROM p ORDER BY media_id
"""


def _ppm_synth(mid, w, h):
    """Row function: one synthetic P6 payload for a (media_id, width,
    height) row, raster byte j = (media_id*7 + j*13) % 256 — the pattern
    the q_multimodal_image and q_multimodal_resize oracles recompute."""
    import numpy as np

    from skyhookdb_ceph_spark.operators.multimodal import ppm_bytes

    j = np.arange(int(w) * int(h) * 3, dtype=np.int64)
    raster = (int(mid) * 7 + j * 13) % 256
    return [{"media_id": int(mid), "payload": ppm_bytes(raster, int(w), int(h))}]


@query(
    "q_multimodal_image",
    oracle=_PPM_DECODE_ORACLE,
    tags=("pipeline", "multimodal"),
)
def q_multimodal_image(spark, sf_dir):
    """Second REAL codec (image, beside q_multimodal_decode's audio):
    synthesize a binary PPM (P6) file per selected document — ASCII
    header including a comment line a compliant parser must skip, plus
    the raw RGB raster — then decode it with the pure-Python parser
    (operators/multimodal.parse_ppm: whitespace/comment-tolerant
    header tokenizer, numpy uint8 raster decode with exact length
    check) and emit dimensions + exact per-channel integer sums.
    Both stages are Arrow-batched row maps (operators.map_rows) — decode
    parallelism = partition count, zero shuffle; only tiny metadata
    rows ever move."""
    from skyhookdb_ceph_spark.operators import ensure_parallelism, map_rows
    from skyhookdb_ceph_spark.operators.multimodal import MEDIA_SCHEMA, decode_ppm

    params = (
        ensure_parallelism(Catalog(spark, sf_dir).documents)
        .filter("doc_id % 10 = 3")
        .selectExpr(
            "doc_id AS media_id",
            "CAST(8 + (doc_id % 9) AS INT) AS width",
            "CAST(8 + (doc_id % 7) AS INT) AS height",
        )
    )
    cols = ["media_id", "width", "height"]
    media = map_rows(params, cols, _ppm_synth, MEDIA_SCHEMA)
    return decode_ppm(media).orderBy("media_id")


# Source raster byte j is (media_id*7 + j*13) % 256 (same family as
# q_multimodal_image, disjoint doc subset).  Nearest-neighbor /2:
# output pixel (yy, xx) = source pixel (2yy, 2xx); numpy's [::2] keeps
# ceil(n/2) samples, so out_w = (w+1)//2.  The oracle walks the SAME
# output pixel positions arithmetically — any offset, stride, or
# channel-interleave bug in the resize surfaces as a value mismatch.
_RESIZE_ORACLE = """
WITH p AS (
  SELECT doc_id AS media_id,
    CAST(8 + (doc_id % 9) AS INT) AS w,
    CAST(8 + (doc_id % 7) AS INT) AS h
  FROM documents WHERE doc_id % 10 = 7),
d AS (
  SELECT media_id, w, h,
    CAST((w + 1) // 2 AS INT) AS ow, CAST((h + 1) // 2 AS INT) AS oh
  FROM p)
SELECT media_id, ow AS width, oh AS height, CAST(255 AS INT) AS maxval,
  CAST(ow * oh AS BIGINT) AS n_pixels,
  CAST(list_aggregate(list_transform(
    generate_series(0, ow * oh - 1),
    k -> (media_id * 7
          + (((k // ow) * 2 * w + (k % ow) * 2) * 3 + 0) * 13) % 256),
    'sum') AS BIGINT) AS sum_r,
  CAST(list_aggregate(list_transform(
    generate_series(0, ow * oh - 1),
    k -> (media_id * 7
          + (((k // ow) * 2 * w + (k % ow) * 2) * 3 + 1) * 13) % 256),
    'sum') AS BIGINT) AS sum_g,
  CAST(list_aggregate(list_transform(
    generate_series(0, ow * oh - 1),
    k -> (media_id * 7
          + (((k // ow) * 2 * w + (k % ow) * 2) * 3 + 2) * 13) % 256),
    'sum') AS BIGINT) AS sum_b
FROM d ORDER BY media_id
"""


@query(
    "q_multimodal_resize",
    oracle=_RESIZE_ORACLE,
    tags=("pipeline", "multimodal"),
)
def q_multimodal_resize(spark, sf_dir):
    """Image RESIZE with real pixel math, one of the multimodal row
    maps (decode / hash / RESIZE / frame-sample, SURVEY §2.12):
    synthesize P6 payloads with q_multimodal_image's row function
    (disjoint doc subset), nearest-neighbor downsample by 2
    (operators/multimodal.resize_ppm — output pixel (y, x) = source
    (2y, 2x), re-encoded as a real P6 payload), then decode the
    RESIZED payloads and emit dimensions + exact per-channel sums.
    Three chained Arrow-batched row maps (operators.map_rows), zero
    shuffle; the oracle computes the same sums by walking the output
    pixel positions arithmetically, so any stride/offset/interleave
    bug in the resize is a value mismatch, not a silent quality loss.  At
    100 TB the payload column shrinks ~4x at the resize stage —
    before any exchange — which is why real pipelines resize
    earliest."""
    from skyhookdb_ceph_spark.operators import ensure_parallelism, map_rows
    from skyhookdb_ceph_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        decode_ppm,
        resize_ppm,
    )

    params = (
        ensure_parallelism(Catalog(spark, sf_dir).documents)
        .filter("doc_id % 10 = 7")
        .selectExpr(
            "doc_id AS media_id",
            "CAST(8 + (doc_id % 9) AS INT) AS width",
            "CAST(8 + (doc_id % 7) AS INT) AS height",
        )
    )
    cols = ["media_id", "width", "height"]
    media = map_rows(params, cols, _ppm_synth, MEDIA_SCHEMA)
    return decode_ppm(resize_ppm(media, factor=2)).orderBy("media_id")
