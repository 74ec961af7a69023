"""Driver-checkable multimodal queries: the opaque-binary column pipeline
exercised end to end on real fixture data.

The container has no image/audio codecs, so the fixture media table is
synthesized from ``documents`` — payload = UTF-8 bytes of the text, typed
metadata derived from it — which makes the *plumbing* (binary parquet
columns, metadata-only pruning, Arrow-batched mapInPandas decode, frame
explosion) fully real and, for the digest/metadata/fake-feature paths,
exactly recomputable by the DuckDB oracle (md5/sha256 agree byte-for-byte
on the same payload bytes).

Scale note: the metadata query never touches payload bytes beyond the
digest column — with payloads in their own parquet column, filters on
``meta.*``/size prune entire blob pages (column pruning is the whole game
for multi-MB media rows).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from data_ingestion_pipeline_spark.multimodal.binary_ops import (
    attach_media_metadata,
    chunk_audio,
    decode_image_features,
    sample_video_frames,
)
from data_ingestion_pipeline_spark.functions.partitioning import fan_out
from data_ingestion_pipeline_spark.sources.catalog import load_table


def media_from_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → media rows: payload = encode(text, UTF-8), typed meta
    struct. Every 3rd doc plays a "video" (duration from n_chars) so the
    frame-sampling explosion path sees real work."""
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    is_video = F.col("doc_id") % 3 == 0
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.encode(F.col("text"), "UTF-8").alias("payload"),
        F.struct(
            F.when(is_video, F.lit("video/mp4")).otherwise(F.lit("image/png")).alias("mime"),
            F.lit(64).alias("width"),
            F.lit(64).alias("height"),
            F.when(is_video, (F.col("n_chars") % 5 + 1) * 1000)
            .otherwise(F.lit(None).cast("long"))
            .alias("duration_ms"),
        ).alias("meta"),
    )


def multimodal_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decode-free metadata pass: size + sha256 digest + mime, pure
    expressions over the binary column."""
    media = media_from_documents(spark, sf_dir)
    return attach_media_metadata(media).select(
        "media_id", F.col("meta.mime").alias("mime"), "payload_bytes", "payload_sha256"
    )


MULTIMODAL_METADATA_ORACLE = """
SELECT doc_id AS media_id,
       CASE WHEN doc_id % 3 = 0 THEN 'video/mp4' ELSE 'image/png' END AS mime,
       CAST(octet_length(encode(text)) AS BIGINT) AS payload_bytes,
       sha256(text) AS payload_sha256
FROM documents
"""


def multimodal_image_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched mapInPandas "decode": deterministic md5-derived fake
    features (the stubbed codec kernel), real distributed plumbing. The
    8-dim feature vector is indexed into scalar f1..f8 columns at the
    contract boundary (array-typed outputs crash the driver's pandas
    canonicalizer; the array form stays available via decode_image_features)."""
    media = media_from_documents(spark, sf_dir)
    feats = decode_image_features(media)
    return feats.select(
        "media_id",
        *[F.round(F.col("feature")[i], 6).alias(f"f{i + 1}") for i in range(8)],
    )


# byte i of md5(payload), via hex-pair parsing, scaled to [0, 1] — matches
# _fake_image_features (md5 of the same UTF-8 bytes) exactly.
_FEATURE_BYTE_SQL = """ROUND(
    (CAST(strpos('0123456789abcdef', substr(md5(text), {hi}, 1)) - 1 AS DOUBLE) * 16
     + CAST(strpos('0123456789abcdef', substr(md5(text), {lo}, 1)) - 1 AS DOUBLE))
    / 255.0, 6) AS f{i}"""

MULTIMODAL_IMAGE_FEATURES_ORACLE = (
    "SELECT doc_id AS media_id,\n"
    + ",\n".join(
        _FEATURE_BYTE_SQL.format(i=i, hi=2 * i - 1, lo=2 * i) for i in range(1, 9)
    )
    + "\nFROM documents"
)


def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling over the "video" subset: one row per sampled timestamp
    (row-explosion inside mapInPandas). Frame count per video is
    duration-derived and oracle-checkable; the digest is rows-only territory
    (binary ts concatenation), so the query exposes counts."""
    media = media_from_documents(spark, sf_dir).filter(F.col("meta.mime") == "video/mp4")
    frames = sample_video_frames(media, every_ms=1000)
    return frames.groupBy("media_id").agg(
        F.count("*").alias("n_frames"),
        F.countDistinct("frame_digest").alias("n_distinct_frames"),
    )


MULTIMODAL_FRAME_SAMPLE_ORACLE = """
SELECT doc_id AS media_id,
       CAST(n_chars % 5 + 1 AS BIGINT) AS n_frames,
       CAST(n_chars % 5 + 1 AS BIGINT) AS n_distinct_frames
FROM documents WHERE doc_id % 3 = 0
"""


def audio_from_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → audio-clip rows (the modality ``media_from_documents``
    doesn't cover): every doc with doc_id % 3 == 1 plays an "audio" clip,
    payload = UTF-8 bytes, duration derived from n_chars (5–21 s so the
    10 s chunker produces 1–3 windows per clip)."""
    docs = fan_out(load_table(spark, sf_dir, "documents"))
    return docs.filter(F.col("doc_id") % 3 == 1).select(
        F.col("doc_id").alias("media_id"),
        F.encode(F.col("text"), "UTF-8").alias("payload"),
        F.struct(
            F.lit("audio/wav").alias("mime"),
            F.lit(None).cast("int").alias("width"),
            F.lit(None).cast("int").alias("height"),
            ((F.col("n_chars") % 7 + 2) * 2500).cast("long").alias("duration_ms"),
        ).alias("meta"),
    )


def multimodal_audio_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio chunk-and-featurize over the clip subset: fixed 10 s windows
    via the Arrow-batched ``chunk_audio`` explosion, then a per-clip
    rollup — chunk count, covered duration, and the mean of the per-chunk
    (stub) RMS features. The md5-derived RMS is exactly recomputable by
    the oracle (md5(text || ':' || start_ms), first byte / 255), so the
    whole mapInPandas path gets a value-level check, not just row counts;
    the mean folds the bitwise-identical doubles in decimal (house rule)."""
    from data_ingestion_pipeline_spark.functions.numeric import dec_sum

    clips = audio_from_documents(spark, sf_dir)
    chunks = chunk_audio(clips, chunk_ms=10_000)
    return chunks.groupBy("media_id").agg(
        F.count("*").cast("bigint").alias("n_chunks"),
        F.max("end_ms").cast("bigint").alias("covered_ms"),
        F.round(
            dec_sum(F.col("rms"), 27, 12).cast("double")
            / F.count("*").cast("double"),
            6,
        )
        .cast("double")
        .alias("mean_rms"),
    )


# byte 0 of md5(text || ':' || start_ms), hex-pair parsed, scaled to [0,1] —
# matches chunk_audio's stub kernel exactly (payload is UTF-8 of text).
MULTIMODAL_AUDIO_CHUNKS_ORACLE = """
WITH audio AS (
    SELECT doc_id AS media_id, text,
           CAST((n_chars % 7 + 2) * 2500 AS BIGINT) AS duration_ms
    FROM documents WHERE doc_id % 3 = 1
), chunks AS (
    SELECT media_id, duration_ms,
           CAST(unnest(range(0, duration_ms, 10000)) AS BIGINT) AS start_ms,
           text
    FROM audio
), scored AS (
    SELECT media_id,
           LEAST(start_ms + 10000, duration_ms) AS end_ms,
           (CAST(strpos('0123456789abcdef',
                        substr(md5(text || ':' || start_ms), 1, 1)) - 1
                 AS DOUBLE) * 16
            + CAST(strpos('0123456789abcdef',
                          substr(md5(text || ':' || start_ms), 2, 1)) - 1
                   AS DOUBLE)) / 255.0 AS rms
    FROM chunks
)
SELECT media_id, CAST(COUNT(*) AS BIGINT) AS n_chunks,
       CAST(MAX(end_ms) AS BIGINT) AS covered_ms,
       CAST(ROUND(CAST(SUM(CAST(rms AS DECIMAL(27,12))) AS DOUBLE)
                  / CAST(COUNT(*) AS DOUBLE), 6) AS DOUBLE) AS mean_rms
FROM scored GROUP BY media_id
"""


def bmp_media_from_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One REAL 24-bit BMP per document, synthesized inside an Arrow batch
    by the dependency-free encoder (``multimodal/codecs.py::encode_bmp``).
    Pixels come from the closed-form formula
    ``v(r, c, ch) = (doc_id*7 + r*131 + c*17 + ch*29) % 256`` over a 13×8
    image — the ODD width forces the format's 4-byte row-padding path, and
    the formula is what lets the DuckDB oracle verify the decoder's output
    without ever parsing bytes."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    from data_ingestion_pipeline_spark.multimodal.codecs import encode_bmp

    docs = fan_out(load_table(spark, sf_dir, "documents")).select("doc_id")
    width, height = 13, 8

    def run(batches):
        r = np.arange(height)[:, None, None]
        c = np.arange(width)[None, :, None]
        ch = np.arange(3)[None, None, :]
        base = r * 131 + c * 17 + ch * 29
        for pdf in batches:
            payloads = [
                encode_bmp(((int(doc_id) * 7 + base) % 256).astype(np.uint8))
                for doc_id in pdf["doc_id"]
            ]
            yield pd.DataFrame(
                {"media_id": pdf["doc_id"].astype("int64"), "payload": payloads}
            )

    schema = T.StructType(
        [
            T.StructField("media_id", T.LongType(), False),
            T.StructField("payload", T.BinaryType(), True),
        ]
    )
    return docs.mapInPandas(run, schema)


def multimodal_bmp_pixel_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode, end to end: the spec-conformant BMPs from
    ``bmp_media_from_documents`` round-trip through the parquet-shaped
    binary column into ``decode_bmp`` (actual header parse: pixel offset,
    bpp check, stride, bottom-up BGR undo), and the decoded pixels reduce
    to exact integer channel sums. The oracle recomputes the sums from the
    generating formula alone — a decoder that misreads the stride, pad
    bytes, channel order, or row direction CANNOT hash-match. This is the
    honest counterpart to the env-gated compressed-codec stubs in
    ``binary_ops``: BMP/WAV are self-describing and uncompressed, so their
    kernels can be (and now are) real in this container."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    from data_ingestion_pipeline_spark.multimodal.codecs import decode_bmp

    media = bmp_media_from_documents(spark, sf_dir)

    def run(batches):
        for pdf in batches:
            rows = {
                "media_id": [],
                "width": [],
                "height": [],
                "sum_r": [],
                "sum_g": [],
                "sum_b": [],
            }
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                rgb = decode_bmp(bytes(payload))
                h, w, _ = rgb.shape
                sums = rgb.reshape(-1, 3).astype(np.int64).sum(axis=0)
                rows["media_id"].append(int(mid))
                rows["width"].append(w)
                rows["height"].append(h)
                rows["sum_r"].append(int(sums[0]))
                rows["sum_g"].append(int(sums[1]))
                rows["sum_b"].append(int(sums[2]))
            yield pd.DataFrame(rows)

    schema = T.StructType(
        [
            T.StructField("media_id", T.LongType(), False),
            T.StructField("width", T.IntegerType(), False),
            T.StructField("height", T.IntegerType(), False),
            T.StructField("sum_r", T.LongType(), False),
            T.StructField("sum_g", T.LongType(), False),
            T.StructField("sum_b", T.LongType(), False),
        ]
    )
    return media.mapInPandas(run, schema)


MULTIMODAL_BMP_PIXEL_STATS_ORACLE = """
WITH px AS (
    SELECT d.doc_id, r.r, c.c
    FROM documents d,
         generate_series(0, 7) AS r(r),
         generate_series(0, 12) AS c(c)
)
SELECT doc_id AS media_id,
       CAST(13 AS INT) AS width,
       CAST(8 AS INT) AS height,
       CAST(SUM((doc_id * 7 + r * 131 + c * 17) % 256) AS BIGINT) AS sum_r,
       CAST(SUM((doc_id * 7 + r * 131 + c * 17 + 29) % 256) AS BIGINT)
           AS sum_g,
       CAST(SUM((doc_id * 7 + r * 131 + c * 17 + 58) % 256) AS BIGINT)
           AS sum_b
FROM px
GROUP BY doc_id
"""


def wav_media_from_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One REAL mono PCM16 WAV per document
    (``multimodal/codecs.py::encode_wav_pcm16``, 16 kHz): samples from the
    closed form ``s(i) = ((doc_id*31 + i*7) % 65536) - 32768`` with
    ``n = 800 + (doc_id % 3) * 400`` samples, so clips span 2–4 of the
    25 ms chunks downstream."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    from data_ingestion_pipeline_spark.multimodal.codecs import (
        encode_wav_pcm16,
    )

    docs = fan_out(load_table(spark, sf_dir, "documents")).select("doc_id")

    def run(batches):
        for pdf in batches:
            payloads = []
            for doc_id in pdf["doc_id"]:
                doc_id = int(doc_id)
                n = 800 + (doc_id % 3) * 400
                i = np.arange(n, dtype=np.int64)
                samples = ((doc_id * 31 + i * 7) % 65536) - 32768
                payloads.append(
                    encode_wav_pcm16(samples.astype(np.int16), rate=16_000)
                )
            yield pd.DataFrame(
                {"media_id": pdf["doc_id"].astype("int64"), "payload": payloads}
            )

    schema = T.StructType(
        [
            T.StructField("media_id", T.LongType(), False),
            T.StructField("payload", T.BinaryType(), True),
        ]
    )
    return docs.mapInPandas(run, schema)


def multimodal_wav_pcm_energy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode, end to end: ``decode_wav_pcm16`` walks the RIFF
    chunk list of the real WAV bytes (fmt before data is parsed, not
    assumed), the samples-per-chunk window derives from the DECODED sample
    rate (25 ms → 400 samples at the parsed 16 kHz — using the header, not
    a constant), and each chunk reduces to an exact int64 energy
    (sum of squares). The oracle regenerates the sample formula per
    (doc, index) and must hash-match — a decoder off by one sample, one
    chunk boundary, or one endianness flip cannot pass."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import types as T

    from data_ingestion_pipeline_spark.multimodal.codecs import (
        decode_wav_pcm16,
    )

    media = wav_media_from_documents(spark, sf_dir)
    chunk_ms = 25

    def run(batches):
        for pdf in batches:
            rows = {
                "media_id": [],
                "chunk_idx": [],
                "n_samples": [],
                "sum_sq": [],
            }
            for mid, payload in zip(pdf["media_id"], pdf["payload"]):
                samples, rate = decode_wav_pcm16(bytes(payload))
                per = rate * chunk_ms // 1000
                s64 = samples.astype(np.int64)
                for k in range(0, len(s64), per):
                    seg = s64[k : k + per]
                    rows["media_id"].append(int(mid))
                    rows["chunk_idx"].append(k // per)
                    rows["n_samples"].append(len(seg))
                    rows["sum_sq"].append(int((seg * seg).sum()))
            yield pd.DataFrame(rows)

    schema = T.StructType(
        [
            T.StructField("media_id", T.LongType(), False),
            T.StructField("chunk_idx", T.IntegerType(), False),
            T.StructField("n_samples", T.LongType(), False),
            T.StructField("sum_sq", T.LongType(), False),
        ]
    )
    return media.mapInPandas(run, schema)


MULTIMODAL_WAV_PCM_ENERGY_ORACLE = """
WITH s AS (
    SELECT d.doc_id,
           i.i,
           ((d.doc_id * 31 + i.i * 7) % 65536) - 32768 AS v
    FROM documents d,
         generate_series(0, 1599) AS i(i)
    WHERE i.i < 800 + (d.doc_id % 3) * 400
)
SELECT doc_id AS media_id,
       CAST(i // 400 AS INT) AS chunk_idx,
       CAST(COUNT(*) AS BIGINT) AS n_samples,
       CAST(SUM(CAST(v AS BIGINT) * v) AS BIGINT) AS sum_sq
FROM s
GROUP BY 1, 2
"""
