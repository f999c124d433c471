"""Multimodal (binary) column pipeline over the `documents` table.

Training-data requirement: image/audio/video travel as opaque BINARY
columns with typed metadata; decode / feature-extract / resize /
frame-sample run as Arrow-batched pandas stages over `mapInPandas`.

Decode status: UNCOMPRESSED containers decode for real — binary PPM (P6)
rasters and RIFF/WAVE PCM16 audio have pure-numpy codecs here, verified
end-to-end against closed-form oracles (`mm_decode_raster`,
`mm_decode_audio`). COMPRESSED codecs (jpeg/mp3/h264) need media
libraries absent from this container, so `_decode_frame()` raises a hard
NotImplementedError for them — callers can't silently get fake pixels.
The Spark-side plumbing — binary schema, metadata struct, mapInPandas
batch shapes, partitioning — is real and oracle-verified (the
`mm_features` payloads are utf-8 document bytes, so DuckDB can recompute
every byte-level feature with encode()/substr()/ascii()).

Scale design: mapInPandas streams Arrow batches (no per-row Python), the
pipeline is a pure linear scan (no shuffle until the final small agg), and
metadata lives beside the blob so pruning `payload` off a metadata-only
query drops the heavy column from the parquet scan entirely.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hive_spark.operators import QuerySpec, spool_sort, views

FRAME_SIZE = 64  # bytes per pseudo-frame for the "video" sampler


def _binary_docs(spark: SparkSession) -> DataFrame:
    """documents.text as a BINARY payload + typed metadata struct — the
    canonical multimodal layout (blob beside queryable metadata)."""
    return spark.table("documents").select(
        "doc_id",
        F.encode("text", "UTF-8").alias("payload"),
        F.struct(
            F.octet_length(F.encode("text", "UTF-8")).alias("n_bytes"),
            F.lit("utf8-doc").alias("format"),
            F.col("lang").alias("lang"),
        ).alias("meta"),
    )


def _decode_frame(payload: bytes, codec: str) -> bytes:
    """Decode dispatch. 'raw' passes bytes through; uncompressed raster
    ('ppm') has a REAL pure-numpy decoder below; compressed codecs need
    image/audio libs absent from this container and raise a hard
    NotImplementedError so callers can't silently get fake pixels."""
    if codec == "raw":
        return payload
    raise NotImplementedError(
        f"codec {codec!r}: decode requires media libraries not present; "
        "plug a real decoder here (PIL/ffmpeg) in production. "
        "Uncompressed PPM decodes natively via _decode_ppm."
    )


def _encode_ppm(arr) -> bytes:
    """Binary PPM (P6) encoder: header + interleaved RGB bytes — a REAL
    image container, written without image libraries (the format is a
    text header + raw bytes, numpy is sufficient)."""
    h, w, c = arr.shape
    assert c == 3 and arr.dtype.itemsize == 1
    return b"P6\n%d %d\n255\n" % (w, h) + arr.tobytes()


def _decode_ppm(data: bytes):
    """Binary PPM (P6) decoder: parses the header (width/height/maxval,
    comment lines allowed) and returns an (h, w, 3) uint8 array. This is
    an actual decode of an actual image format — the NotImplementedError
    stub is only for COMPRESSED codecs."""
    import numpy as np

    if not data.startswith(b"P6"):
        raise ValueError("not a binary PPM (P6) payload")
    fields: list[int] = []
    pos = 2
    while len(fields) < 3:
        while pos < len(data) and data[pos : pos + 1].isspace():
            pos += 1
        if data[pos : pos + 1] == b"#":  # comment to end of line
            pos = data.index(b"\n", pos) + 1
            continue
        end = pos
        while not data[end : end + 1].isspace():
            end += 1
        fields.append(int(data[pos:end]))
        pos = end
    pos += 1  # single whitespace after maxval, then raster
    w, h, maxval = fields
    if maxval != 255:
        raise NotImplementedError("16-bit PPM not supported")
    n = w * h * 3
    arr = np.frombuffer(data[pos : pos + n], np.uint8)
    if arr.size != n:
        raise ValueError(f"truncated raster: {arr.size} of {n} bytes")
    return arr.reshape(h, w, 3)


def mm_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature extraction over binary payloads via mapInPandas: byte count,
    head byte, and an order-independent byte checksum per document."""
    views(spark, sf_dir)
    # guide §4.1: Spark cannot see which columns an opaque mapInPandas
    # touches, so without this select the unused `meta` struct (carrying
    # a SECOND encode(text)) is computed and shipped through Arrow too
    # (r9 before-plan: MapInPandas Input [3] incl. meta#946)
    docs = _binary_docs(spark).select("doc_id", "payload")

    # r9 opt (guide §4.2): an Arrow binary column is ONE contiguous data
    # buffer plus an offsets array, so the per-document features are
    # slices of whole-batch vectorized ops — n_bytes = diff(offsets),
    # head_byte = data[offsets], byte_sum = prefix-sum differences. The
    # previous mapInPandas form materialized every payload as a Python
    # bytes object and ran per-row numpy calls (frombuffer + .sum()),
    # i.e. O(rows) interpreter work; this is O(1) numpy calls per batch
    # and zero-copy from the Arrow buffers. Interleaved best-of-5 at
    # the sf1 tier (50k docs): 1.64 -> 1.45s; the removed cost is
    # per-ROW, so the gap widens with corpus size.
    def extract(batches):
        import numpy as np
        import pyarrow as pa

        for rb in batches:
            arr = rb.column(rb.schema.get_field_index("payload"))
            # r10 (ADVICE): the offsets buffer is int32 for binary and
            # int64 for large_binary (delivered when
            # spark.sql.execution.arrow.useLargeVarTypes=true, a plausible
            # flip for >2 GiB batches); misreading the width would yield
            # silently-garbage features, so branch on the actual type and
            # hard-fail on anything else. The null guard is a real raise,
            # not an assert (asserts vanish under python -O).
            if pa.types.is_large_binary(arr.type):
                off_dtype = np.int64
            elif pa.types.is_binary(arr.type):
                off_dtype = np.int32
            else:
                raise TypeError(f"payload arrived as {arr.type}, not binary")
            if arr.null_count:
                raise ValueError("payload has nulls; encode() of non-null text")
            o = arr.offset
            offs = (
                np.frombuffer(arr.buffers()[1], off_dtype)[o : o + len(arr) + 1]
                .astype(np.int64)
            )
            data = np.frombuffer(arr.buffers()[2], np.uint8)
            n = offs[1:] - offs[:-1]
            cs = np.zeros(len(data) + 1, dtype=np.int64)
            np.cumsum(data, dtype=np.int64, out=cs[1:])
            sums = cs[offs[1:]] - cs[offs[:-1]]
            if len(data):
                heads = data[np.clip(offs[:-1], 0, len(data) - 1)].astype(np.int32)
            else:
                heads = np.zeros(len(arr), dtype=np.int32)
            yield pa.RecordBatch.from_arrays(
                [
                    rb.column(rb.schema.get_field_index("doc_id")),
                    pa.array(n, type=pa.int64()),
                    pa.array(heads, type=pa.int32(), mask=(n == 0)),
                    pa.array(sums, type=pa.int64()),
                ],
                names=["doc_id", "n_bytes", "head_byte", "byte_sum"],
            )

    # the sort's range sampler would re-run the whole scan -> encode ->
    # Arrow -> Python chain; the spool holds ~28 B/row of features
    # (measured by `git show ebbee1c:bench_artifacts/probe_mm_r10.py`)
    return spool_sort(
        docs.mapInArrow(
            extract, "doc_id bigint, n_bytes bigint, head_byte int, byte_sum bigint"
        ),
        "doc_id",
    )


# corpus is ASCII, so DuckDB can rebuild the same byte features from text
_FEATURES_SQL = """
SELECT doc_id,
       octet_length(encode(text)) AS n_bytes,
       ascii(substr(text, 1, 1)) AS head_byte,
       list_sum(list_transform(string_split(text, ''), c -> ascii(c))) AS byte_sum
FROM documents
ORDER BY doc_id
"""


def mm_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling: treat each payload as fixed-size frames and keep
    every 4th frame's offset + first byte (the video keyframe-sampling
    shape; explode happens inside the Arrow batch, not as a Spark
    generator, so the blob crosses the JVM<->Python boundary once)."""
    views(spark, sf_dir)
    # guide §4.1: ship only the columns the function reads (see
    # mm_features — drops the meta struct from the Arrow boundary)
    docs = _binary_docs(spark).select("doc_id", "payload")

    def sample(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out = {"doc_id": [], "frame_idx": [], "offset": [], "first_byte": []}
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                data = _decode_frame(payload, "raw")
                n_frames = len(data) // FRAME_SIZE
                for idx in range(0, n_frames, 4):
                    off = idx * FRAME_SIZE
                    out["doc_id"].append(doc_id)
                    out["frame_idx"].append(idx)
                    out["offset"].append(off)
                    out["first_byte"].append(data[off])
            yield pd.DataFrame(out)

    return spool_sort(
        docs.mapInPandas(
            sample, "doc_id bigint, frame_idx int, offset int, first_byte int"
        ),
        "doc_id",
        "frame_idx",
    )


_FRAME_SQL = f"""
SELECT doc_id, CAST(i AS INT) AS frame_idx,
       CAST(i * {FRAME_SIZE} AS INT) AS offset,
       ascii(substr(text, CAST(i AS INT) * {FRAME_SIZE} + 1, 1)) AS first_byte
FROM (
    SELECT doc_id, text,
           unnest(generate_series(
               0, CAST(floor(octet_length(encode(text)) / {FRAME_SIZE}) AS BIGINT) - 1)) AS i
    FROM documents
)
WHERE i % 4 = 0
ORDER BY doc_id, frame_idx
"""


def mm_decode_raster(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode inside the pipeline: per document, synthesize a
    deterministic RGB image (pixel x = (doc_id*7 + x*13) % 256, width
    8 + doc_id % 5, height 8), ENCODE it as binary PPM (P6), then
    DECODE the container back in a second Arrow stage and emit header
    dims + exact per-channel pixel sums. The oracle recomputes the sums
    in closed form, so a header-parse or raster-layout bug (off-by-one,
    channel interleave, stride) breaks the hash — the decode is
    verified, not stubbed. Both stages are mapInPandas linear scans;
    the blob crosses the JVM<->Python boundary once per stage."""
    views(spark, sf_dir)
    docs = spark.table("documents").select("doc_id")

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            payloads = []
            for doc_id in pdf["doc_id"]:
                w = 8 + int(doc_id) % 5
                x = np.arange(w * 8 * 3, dtype=np.int64)
                pix = ((int(doc_id) * 7 + x * 13) % 256).astype(np.uint8)
                payloads.append(_encode_ppm(pix.reshape(8, w, 3)))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            out = {
                "doc_id": [], "width": [], "height": [],
                "sum_r": [], "sum_g": [], "sum_b": [],
            }
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                img = _decode_ppm(bytes(payload))
                out["doc_id"].append(doc_id)
                out["height"].append(img.shape[0])
                out["width"].append(img.shape[1])
                sums = img.astype(np.int64).sum(axis=(0, 1))
                out["sum_r"].append(int(sums[0]))
                out["sum_g"].append(int(sums[1]))
                out["sum_b"].append(int(sums[2]))
            yield pd.DataFrame(out)

    imgs = docs.mapInPandas(encode, "doc_id bigint, payload binary")
    return spool_sort(
        imgs.mapInPandas(
            decode,
            "doc_id bigint, width int, height int, "
            "sum_r bigint, sum_g bigint, sum_b bigint",
        ),
        "doc_id",
    )


# closed-form twin of generate->encode->decode->sum: channel c's pixels
# sit at raster offsets 3j+c, so its sum is a pure arithmetic series
def _decode_raster_oracle() -> str:
    chan = (
        "list_sum(list_transform(range(0, (8 + doc_id % 5) * 8), "
        "j -> (doc_id * 7 + (j * 3 + {c}) * 13) % 256))"
    )
    return f"""
SELECT doc_id,
       CAST(8 + doc_id % 5 AS INT) AS width,
       CAST(8 AS INT) AS height,
       CAST({chan.format(c=0)} AS BIGINT) AS sum_r,
       CAST({chan.format(c=1)} AS BIGINT) AS sum_g,
       CAST({chan.format(c=2)} AS BIGINT) AS sum_b
FROM documents
ORDER BY doc_id
"""


def _encode_wav(samples, rate: int = 16000) -> bytes:
    """RIFF/WAVE PCM16 mono encoder — like PPM, the format is a header
    plus raw little-endian samples; numpy suffices."""
    import struct

    raw = samples.astype("<i2").tobytes()
    hdr = struct.pack(
        "<4sI4s4sIHHIIHH4sI",
        b"RIFF", 36 + len(raw), b"WAVE",
        b"fmt ", 16, 1, 1, rate, rate * 2, 2, 16,
        b"data", len(raw),
    )
    return hdr + raw


def _decode_wav(data: bytes):
    """RIFF/WAVE PCM16 decoder: walks the chunk list (fmt /data , extra
    chunks tolerated), validates PCM16 mono, returns (samples, rate)."""
    import struct

    import numpy as np

    if data[:4] != b"RIFF" or data[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE payload")
    pos, rate, samples = 12, None, None
    while pos + 8 <= len(data):
        cid, size = data[pos : pos + 4], struct.unpack("<I", data[pos + 4 : pos + 8])[0]
        body = data[pos + 8 : pos + 8 + size]
        if cid == b"fmt ":
            fmt, channels, rate = struct.unpack("<HHI", body[:8])
            bits = struct.unpack("<H", body[14:16])[0]
            if (fmt, channels, bits) != (1, 1, 16):
                raise NotImplementedError(
                    f"only PCM16 mono supported, got fmt={fmt} ch={channels} bits={bits}"
                )
        elif cid == b"data":
            samples = np.frombuffer(body, "<i2")
        pos += 8 + size + (size & 1)  # chunks are word-aligned
    if rate is None or samples is None:
        raise ValueError("missing fmt /data chunk")
    return samples, rate


def mm_decode_audio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode: per document, synthesize deterministic PCM16
    samples (s(i) = ((doc_id*31 + i*17) % 65536) - 32768, n = 256 +
    16*(doc_id % 7)), container them as RIFF/WAVE, decode the container
    back, and emit sample count / rate / exact sample sum — closed-form
    oracle, same verification contract as mm_decode_raster."""
    views(spark, sf_dir)
    docs = spark.table("documents").select("doc_id")

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            payloads = []
            for doc_id in pdf["doc_id"]:
                n = 256 + 16 * (int(doc_id) % 7)
                i = np.arange(n, dtype=np.int64)
                s = ((int(doc_id) * 31 + i * 17) % 65536) - 32768
                payloads.append(_encode_wav(s.astype(np.int16)))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "payload": payloads})

    def decode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        import numpy as np

        for pdf in batches:
            out = {"doc_id": [], "n_samples": [], "sample_rate": [], "sum_samples": []}
            for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
                s, rate = _decode_wav(bytes(payload))
                out["doc_id"].append(doc_id)
                out["n_samples"].append(s.size)
                out["sample_rate"].append(rate)
                out["sum_samples"].append(int(s.astype(np.int64).sum()))
            yield pd.DataFrame(out)

    return spool_sort(
        docs.mapInPandas(encode, "doc_id bigint, payload binary").mapInPandas(
            decode,
            "doc_id bigint, n_samples int, sample_rate int, sum_samples bigint",
        ),
        "doc_id",
    )


_DECODE_AUDIO_SQL = """
SELECT doc_id,
       CAST(256 + 16 * (doc_id % 7) AS INT) AS n_samples,
       CAST(16000 AS INT) AS sample_rate,
       CAST(list_sum(list_transform(range(0, 256 + 16 * (doc_id % 7)),
            i -> ((doc_id * 31 + i * 17) % 65536) - 32768)) AS BIGINT)
           AS sum_samples
FROM documents
ORDER BY doc_id
"""


def mm_metadata_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-only aggregation: grouping on the meta struct must not read
    the payload bytes (column pruning drops the blob from the scan — check
    tests/test_plans.py asserts ReadSchema excludes it at the source)."""
    views(spark, sf_dir)
    docs = _binary_docs(spark)
    return (
        docs.groupBy(F.col("meta.lang").alias("lang"))
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("meta.n_bytes").cast("bigint")).alias("total_bytes"),
        )
        .orderBy("lang")
    )


_META_SQL = """
SELECT lang, COUNT(*) AS n_docs,
       SUM(CAST(octet_length(encode(text)) AS BIGINT)) AS total_bytes
FROM documents
GROUP BY lang ORDER BY lang
"""


REGISTRY: dict[str, QuerySpec] = {
    "mm_features": QuerySpec(mm_features, _FEATURES_SQL),
    "mm_frame_sample": QuerySpec(mm_frame_sample, _FRAME_SQL),
    "mm_metadata_prune": QuerySpec(mm_metadata_prune, _META_SQL),
    "mm_decode_raster": QuerySpec(
        mm_decode_raster,
        _decode_raster_oracle(),
        "real PPM encode->decode round trip; closed-form pixel-sum oracle",
    ),
    "mm_decode_audio": QuerySpec(
        mm_decode_audio,
        _DECODE_AUDIO_SQL,
        "real RIFF/WAVE PCM16 encode->decode round trip; closed-form oracle",
    ),
}
